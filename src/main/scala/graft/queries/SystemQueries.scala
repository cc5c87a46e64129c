package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.expressions.Window

import graft.functions.{GeometryFunctions, TimeFunctions}
import graft.operators.{IntervalJoin, Multimodal, Sessionize}
import graft.pipelines.{CameraQC, Ephys, PositionSlice}
import graft.sources.{AviMjpeg, BronzeIngest, MetadataSource, Tables, ZarrSource}
import graft.streaming.StreamOps

/** System pack: the streaming transforms run in batch mode (they are
  * batch/stream agnostic — SURVEY.md §2.9) and the multimodal plumbing
  * (driver brief). Streaming ops get full DuckDB oracles; the multimodal
  * features are engine-specific (stub decode) so they get the rows-only
  * check with invariants pinned in MultimodalSpec.
  */
object SystemQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The three-block unit-matching fixture SHARED by q253/q262/q263 —
    * their oracles all declare the same closed-form assignment, so the
    * construction must be one definition, not three copies that could
    * drift (q254 block-stamps its own file-wave variant). Block 0 seeds
    * 12 trains on a 10 ms grid; block 1 permutes labels v = (5u+2) mod
    * 12 with ±40 µs jitter, drops every 5th event, and adds two new
    * units; block 2 re-permutes the true trains w = (7v+4) mod 12 with
    * its own jitter/drop pattern.
    */
  private def unitMatchBlocks(s: SparkSession)
      : (DataFrame, DataFrame, DataFrame) = {
    def base(units: Seq[Long], kLo: Int, kHi: Int) =
      s.createDataFrame(units.map(Tuple1(_))).toDF("u")
        .select(col("u"), explode(sequence(lit(kLo), lit(kHi))).as("k"))
        .select(col("u").as("unit"), col("k"),
          (lit(1000000L) + col("k") * 10000L + col("u") * 97L +
            ((col("u") * (col("k") + 3)) % 7) * 3L).as("us"))
    val blockA = base(0L to 11L, 0, 399).select("unit", "us")
    val blockB = base(0L to 11L, 200, 599)
      .filter((col("k") + col("unit")) % 5 =!= 0)
      .select(((col("unit") * 5 + 2) % 12).as("unit"),
        (col("us") + ((col("k") % 3) - 1) * 40L).as("us"))
      .unionByName(s.createDataFrame(Seq(Tuple1(12L), Tuple1(13L)))
        .toDF("u")
        .select(col("u"), explode(sequence(lit(200), lit(599))).as("k"))
        .select(col("u").as("unit"),
          (lit(1000000L) + col("k") * 10000L + lit(5000L) +
            (col("u") - 12L) * 97L +
            ((col("u") * (col("k") + 5)) % 7) * 3L).as("us")))
    // block 2 re-permutes the TRUE trains (sources u 0..11) with its
    // own drop/jitter; labels w = (7·v+4) mod 12 over block-1 labels v
    val blockC = base(0L to 11L, 400, 799)
      .filter((col("k") + col("unit")) % 7 =!= 0)
      .select(((((col("unit") * 5 + 2) % 12) * 7 + 4) % 12).as("unit"),
        (col("us") + ((col("k") % 3) - 1) * 20L).as("us"))
    (blockA, blockB, blockC)
  }

  /** q253/q262/q263's propagation over [[unitMatchBlocks]]. Thresholds:
    * blocks compare on FULL extents (half the events sit outside the
    * shared window), so true-pair agreement lands ~260-285 permille
    * while accidental adjacent-unit agreement stays < 70 — 200 splits
    * them with ~4x margin on either side.
    */
  private def unitMatchAssignments(s: SparkSession): DataFrame = {
    val (blockA, blockB, blockC) = unitMatchBlocks(s)
    graft.operators.EventMatch.propagateGlobalIds(
      Seq(blockA, blockB, blockC), "unit", "us", deltaUs = 60L,
      minPermille = 200L)
  }

  val queries: Map[String, Q] = Map(
    // Tumbling-window chunk catalog via the streaming transform (batch mode).
    "q80_stream_chunks" -> ((s, d) => {
      StreamOps.chunkCounts(Tables.events(s, d), "ts", Seq("user_id"))
        .orderBy("user_id", "chunk_start")
    }),

    // Session windows via session_window (batch mode): merge-on-overlap
    // semantics equal gaps-and-islands for point events.
    "q81_session_window" -> ((s, d) => {
      StreamOps.sessionAgg(Tables.events(s, d), "ts", Seq("user_id"),
        gap = "30 minutes")
        .select("user_id", "n_events", "session_start", "session_end")
        .orderBy("user_id", "session_start")
    }),

    // Windowed per-key stats via the streaming transform (batch mode).
    // valueScale=2: events.value sits on a centi-grid, so the mean comes
    // from an exact int64 sum — order-free, no last-ulp rounding flips.
    "q82_windowed_stats" -> ((s, d) => {
      StreamOps.windowedStats(Tables.events(s, d), "ts", "value",
        Seq("event_type"), width = "1 day", valueScale = 2)
        .orderBy("event_type", "window_start")
    }),

    // Multimodal: synthesized blobs → per-blob features through the real
    // mapPartitions decode boundary. ORACLED on the deterministic column:
    // n_bytes = blob length = 64 × utf8 byte length of the text (the stub
    // decoder echoes input size exactly like a real one would). The
    // engine-specific stub outputs (width/height hash, feature histogram)
    // stay out of the driver query and are pinned in MultimodalSpec.
    "q83_multimodal_features" -> ((s, d) => {
      val blobs = Multimodal.synthesizeBlobs(
        Tables.documents(s, d).select("doc_id", "text"), "text")
      Multimodal.extractFeatures(blobs, "blob", dim = 8)
        .select("doc_id", "n_bytes")
        .orderBy("doc_id")
    }),

    // CameraQC over the events stream (qc.py:70-116 semantics): events play
    // the role of frames — hw_counter = event_id, so per-user id gaps are
    // "dropped frames"; full deltas + cumulative offset + per-user summary.
    "q85_camera_qc" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val meta = Tables.events(s, d).select(
        col("user_id"), col("ts").as("time"),
        col("event_id").as("hw_counter"),
        (unix_micros(col("ts")) * 1000L).as("hw_timestamp"),
        row_number().over(w).cast("long").as("frame"))
      CameraQC.summary(CameraQC.frameDeltas(meta, Seq("user_id")), Seq("user_id"))
        .orderBy("user_id")
    }),

    // Position slice read path (§3.3): per-(user, day) silver rows hold
    // sorted array columns; the slice explodes arrays_zip and masks exactly.
    "q86_position_slice" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val silver = ev
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("chunk_start"))
        .agg(sort_array(collect_list(struct(col("ts"), col("value")))).as("__pairs"))
        .select(col("user_id"), col("chunk_start"),
          (col("chunk_start") + expr("INTERVAL 1 DAY")).as("chunk_end"),
          transform(col("__pairs"), p => p.getField("ts")).as("timestamps"),
          transform(col("__pairs"), p => p.getField("value")).as("x"),
          transform(col("__pairs"), p => p.getField("value") * 2).as("y"),
          transform(col("__pairs"), p => lit(1.0)).as("likelihood"))
      PositionSlice.explodeSlice(silver,
        "2024-01-05 00:00:00", "2024-01-25 00:00:00",
        scaleFactor = 1.0, keyCols = Seq("user_id"))
    }),

    // Behavior-rig COMPOSITE (the q100/q172 discipline for the acquisition
    // chain): epoch closure (q24) → temporal-validity gate (J3,
    // IntervalJoin.pointInInterval) → hourly chunk catalog (q41) → camera
    // QC deltas (q85, hw_counter = event_id) → KEYED widening chunk
    // restriction (§7.5.5, restrictChunksPerKey — the window [06:30,
    // 06:30+1d) starts mid-gap for most subjects, so the nearest-before
    // fallback fires per key) → silver array fetch of ONLY the restricted
    // chunks → exact-masked explodeSlice (q86) → region membership (q45's
    // diamond) → gap sessionization (q25) → per-visit stats joined with the
    // chunk-level QC of the RESTRICTED set (the reference's two uses of the
    // widened restriction: chunk-level fetch keeps the widened chunks,
    // sample-level output is exact-masked — acquisition.py:642-661 vs
    // tracking.py:394-396). ORACLED end-to-end; every inter-stage contract
    // (epoch↔event, chunk↔QC, restriction↔fetch, slice↔session) breaks the
    // hash if violated. Sums are exact (value has 2 decimals → centi-units).
    "q180_behavior_composite" -> ((s, d) => {
      val winS = "2024-01-15 06:30:00"; val winE = "2024-01-16 06:30:00"
      val ev = Tables.events(s, d)
      val epochs = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("ep_user"), col("ts").as("epoch_start"),
          least(
            lead(col("ts"), 1).over(
              Window.partitionBy(col("user_id")).orderBy(col("ts"))),
            col("ts") + expr("INTERVAL 7 DAYS")).as("epoch_end"))
      // ONE user_id repartition + cut (VERDICT r10 #4): `valid` feeds three
      // consumers (catalog, QC meta, silver) and `restricted` two — uncut,
      // each re-derives the epoch-closure + interval-join subtree, and the
      // differing downstream grouping keys plan fresh exchanges (15 total).
      // Cut and pre-partitioned on user_id, every downstream window
      // (user_id) and aggregate/join on (user_id, chunk_start) — a
      // SUPERSET key — reuses the one exchange.
      val valid = IntervalJoin.pointInInterval(
          ev.select("user_id", "event_id", "ts", "value"), epochs,
          point = col("ts"), start = col("epoch_start"),
          end = col("epoch_end"),
          extraCond = col("user_id") === col("ep_user"))
        .select("user_id", "event_id", "ts", "value")
        .repartition(col("user_id"))
        .localCheckpoint(true)
      val catalog = valid
        .groupBy(col("user_id"),
          TimeFunctions.chunkStart(col("ts")).as("chunk_start"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("chunk_end", col("chunk_start") + expr("INTERVAL 1 HOUR"))
      val meta = valid.select(col("user_id"), col("ts").as("time"),
        col("event_id").as("hw_counter"),
        (unix_micros(col("ts")) * 1000L).as("hw_timestamp"),
        row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts")))
          .cast("long").as("frame"))
      val qcByChunk = CameraQC.frameDeltas(meta, Seq("user_id"))
        .groupBy(col("user_id"),
          TimeFunctions.chunkStart(col("time")).as("chunk_start"))
        .agg(sum(col("drops")).as("drop_count"))
      val restricted = PositionSlice.restrictChunksPerKey(
          catalog, winS, winE, keys = Seq("user_id"))
        .localCheckpoint(true) // consumed by qcUser AND silver
      val qcUser = restricted.select("user_id", "chunk_start")
        .join(qcByChunk, Seq("user_id", "chunk_start"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("qc_chunks"), sum(col("drop_count")).as("qc_drops"))
      val silver = valid
        .withColumn("chunk_start", TimeFunctions.chunkStart(col("ts")))
        .join(restricted.select("user_id", "chunk_start", "chunk_end"),
          Seq("user_id", "chunk_start"))
        .groupBy(col("user_id"), col("chunk_start"), col("chunk_end"))
        .agg(sort_array(collect_list(struct(col("ts"), col("value"),
          (col("event_id") % 23).cast("double").as("yv")))).as("__p"))
        .select(col("user_id"), col("chunk_start"), col("chunk_end"),
          transform(col("__p"), p => p.getField("ts")).as("timestamps"),
          transform(col("__p"), p => p.getField("value")).as("x"),
          transform(col("__p"), p => p.getField("yv")).as("y"))
      val sliced = PositionSlice.explodeSlice(silver, winS, winE,
        scaleFactor = 1.0, arrayCols = Seq("timestamps", "x", "y"),
        keyCols = Seq("user_id"))
      val verts = array(
        struct(lit(100.0).as("x"), lit(2.0).as("y")),
        struct(lit(150.0).as("x"), lit(7.0).as("y")),
        struct(lit(100.0).as("x"), lit(12.0).as("y")),
        struct(lit(50.0).as("x"), lit(7.0).as("y")))
      val flagged = sliced.withColumn("in_nest",
        GeometryFunctions.pointInPolygon(col("x"), col("y"), verts))
      Sessionize.byGap(flagged, "time", Seq("user_id"), gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_samples"),
          min(col("time")).as("session_start"),
          max(col("time")).as("session_end"),
          sum(when(col("in_nest"), 1L).otherwise(0L)).as("n_in_nest"),
          sum(expr("CAST(round(x * 100) AS BIGINT)")).as("sum_x_centi"))
        .join(qcUser, Seq("user_id"))
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("session_end"), col("n_samples"), col("n_in_nest"),
          col("sum_x_centi"), col("qc_chunks"), col("qc_drops"))
        .orderBy("user_id", "session_id")
    }),

    // IMAGE NEAR-DUP by perceptual dHash (round 11): deterministic 36×32
    // grayscale fixtures — groups of 5 docs share a base image, members
    // perturb only the top-left 4×4 block, so in-group pairs sit at
    // Hamming ≤ 1 while cross-group hashes are far — hashed by the
    // codegen'd DHash64 (block-sum gradients, division-free), bucketed by
    // the generalized 4×16-bit banded Hamming join. ORACLED end to end:
    // the pixel formula, block sums, gradient bits, HUGEINT hash wrap to
    // signed 64, banding, and bit_count all replay in SQL. The decode
    // stage of a real image pipeline is the sanctioned deterministic fake
    // (no codec in the JDK for real formats); everything Spark-side —
    // binary column, expression, banded join — is the real plumbing.
    "q233_image_dhash_neardup" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id"))
        .as[Long]
      val imgs = ids.map { id =>
        val w = 36; val h = 32
        val px = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = id / 5 // group base: structurally distinct gradients
            val v = g * 37 + x * (7 + g % 5) + y * (13 + g % 7) +
              (x * y) % (11 + g % 13) +
              (if (x < 4 && y < 4) (id % 5) * 11 else 0)
            px(y * w + x) = (v % 256).toByte
            x += 1
          }
          y += 1
        }
        (id, px)
      }.toDF("doc_id", "px")
      val hashed = imgs.select(col("doc_id"),
        Multimodal.dhash64(col("px"), 36, 32).as("dhash"))
      graft.operators.Dedup.hammingNearDup(hashed, "doc_id", "dhash",
          bits = 64, maxHamming = 4, nBands = 4)
        .orderBy("id_a", "id_b")
    }),

    // VIDEO NEAR-DUP by aligned per-frame dHash (round 11 — completing
    // the q233/q234 multimodal-dedup triple): 6 deterministic 36×32
    // frames per doc, groups of 5 share the frame structure and members
    // perturb only frame 0's top-left block; per-frame DHash64 →
    // aligned-frame band candidates → summed-Hamming verify over the
    // per-video hash arrays (zip_with, never a per-pair frame explosion).
    // ORACLED end to end like q233, with the frame dimension threaded
    // through every stage.
    "q235_video_dhash_neardup" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val frames = ids.flatMap { id =>
        val g = id / 5
        (0 until 6).map { fr =>
          val w = 36; val h = 32
          val px = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = g * 37 + x * (7 + (g + fr) % 5) +
                y * (13 + (g + fr) % 7) +
                (x * y) % (11 + (g * 2 + fr) % 13) +
                (if (x < 4 && y < 4 && fr == 0) (id % 5) * 11 else 0)
              px(y * w + x) = (v % 256).toByte
              x += 1
            }
            y += 1
          }
          (id, fr.toLong, px)
        }
      }.toDF("doc_id", "fr", "px")
      val hashed = frames.select(col("doc_id"), col("fr"),
        Multimodal.dhash64(col("px"), 36, 32).as("fhash"))
      Multimodal.videoNearDup(hashed, "doc_id", "fr", "fhash",
          maxTotalHamming = 6, nBands = 4)
        .orderBy("id_a", "id_b")
    }),

    // Streaming/incremental twin of q233's image near-dup (the drain
    // discipline applied to the fingerprint family): the corpus's dHashes
    // land in two waves; each drains against the persisted band index
    // (never re-banding the corpus) and verifies by exact bit_count
    // against the persisted hash table. Oracle = q233's pair replay
    // verbatim — the cross-wave pairs (one side per wave) are the rows
    // that break if the index fold is wrong.
    "q242_image_neardup_from_drain" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val hashed = ids.map { id =>
        val w = 36; val h = 32
        val px = new Array[Byte](w * h)
        val g = id / 5
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = g * 37 + x * (7 + g % 5) + y * (13 + g % 7) +
              (x * y) % (11 + g % 13) +
              (if (x < 4 && y < 4) (id % 5) * 11 else 0)
            px(y * w + x) = (v % 256).toByte
            x += 1
          }
          y += 1
        }
        (id, graft.expressions.ImageHash.dhash64(px, w, h))
      }.toDF("doc_id", "dhash")
      val root = java.nio.file.Files
        .createTempDirectory("graft-hamdrain-q242").toString
      val (src, idx, hs, pairs, ckpt) = (root + "/src", root + "/idx",
        root + "/hashes", root + "/pairs", root + "/ckpt")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dhash",
          org.apache.spark.sql.types.LongType)))
      def wave(): Unit =
        graft.streaming.StreamingHamming.drain(s, src, idx, hs, pairs,
          ckpt, "doc_id", "dhash", schema, bits = 64, maxHamming = 4,
          nBands = 4)
      hashed.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      wave()
      hashed.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
      wave()
      graft.streaming.StreamingHamming.loadPairs(s, pairs)
        .orderBy("id_a", "id_b")
    }),

    // CROSS-MODALITY entity resolution (the q208 recipe on the
    // multimodal fingerprints): image near-dup pairs (groups of 5 — the
    // q233 fixture) UNION audio near-dup pairs under an INDEPENDENT
    // grouping (groups of 7), resolved by connected components — the
    // differing group widths chain through shared docs, so the resolver
    // does real transitive work (35-doc components at the lcm) and every
    // inter-family contract (hash → banding → pairs → CC → keeper)
    // participates in the hash.
    "q241_multimodal_er" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val imgs = ids.map { id =>
        val w = 36; val h = 32
        val px = new Array[Byte](w * h)
        val g = id / 5
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = g * 37 + x * (7 + g % 5) + y * (13 + g % 7) +
              (x * y) % (11 + g % 13) +
              (if (x < 4 && y < 4) (id % 5) * 11 else 0)
            px(y * w + x) = (v % 256).toByte
            x += 1
          }
          y += 1
        }
        (id, px)
      }.toDF("doc_id", "px")
      val imgPairs = graft.operators.Dedup.hammingNearDup(
        imgs.select(col("doc_id"),
          Multimodal.dhash64(col("px"), 36, 32).as("h")),
        "doc_id", "h", bits = 64, maxHamming = 4, nBands = 4)
      val wavs = ids.map { id =>
        val n = 65 * 20
        val bytes = new Array[Byte](2 * n)
        val g = id / 7
        var i = 0
        while (i < n) {
          val f = i / 20
          val v = ((((i % 20) + 1) * (37 + (f * (3 + g % 13) + g) % 23) +
            (if (f == 0) (id % 7) * 7 else 0)) % 2003 - 1001).toShort
          bytes(2 * i) = (v & 0xFF).toByte
          bytes(2 * i + 1) = ((v >> 8) & 0xFF).toByte
          i += 1
        }
        (id, bytes)
      }.toDF("doc_id", "pcm")
      val audPairs = graft.operators.Dedup.hammingNearDup(
        wavs.select(col("doc_id"),
          Multimodal.audioEnergyHash64(col("pcm")).as("h")),
        "doc_id", "h", bits = 64, maxHamming = 4, nBands = 4)
      val pairs = imgPairs.select("id_a", "id_b")
        .unionByName(audPairs.select("id_a", "id_b")).distinct()
      val comps = graft.operators.Dedup.connectedComponents(
          pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      ids.toDF("doc_id").join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("entity"),
          (coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
            .as("is_canonical"))
        .orderBy("doc_id")
    }),

    // AUDIO NEAR-DUP by energy-envelope fingerprint (round 11 — the audio
    // twin of q233): deterministic PCM16 fixtures, 65 frames × 20 samples,
    // groups of 5 docs share an envelope and members perturb only frame 0;
    // hashed by the codegen'd AudioEnergyHash64 (sign of consecutive
    // frame-energy differences — exact longs, no FFT/window float),
    // bucketed by the same generalized banded Hamming join. ORACLED end
    // to end: sample formula, frame energies, bits, HUGEINT wrap,
    // banding, bit_count.
    "q234_audio_energy_neardup" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val wavs = ids.map { id =>
        val n = 65 * 20
        val bytes = new Array[Byte](2 * n)
        val g = id / 5
        var i = 0
        while (i < n) {
          val f = i / 20
          val v = ((((i % 20) + 1) * (37 + (f * (3 + g % 13) + g) % 23) +
            (if (f == 0) (id % 5) * 7 else 0)) % 2003 - 1001).toShort
          bytes(2 * i) = (v & 0xFF).toByte
          bytes(2 * i + 1) = ((v >> 8) & 0xFF).toByte
          i += 1
        }
        (id, bytes)
      }.toDF("doc_id", "pcm")
      val hashed = wavs.select(col("doc_id"),
        Multimodal.audioEnergyHash64(col("pcm")).as("ahash"))
      graft.operators.Dedup.hammingNearDup(hashed, "doc_id", "ahash",
          bits = 64, maxHamming = 4, nBands = 4)
        .orderBy("id_a", "id_b")
    }),

    // SQL-surface parity for the round-11 fingerprint expressions
    // (VERDICT r11 #7): graft_dhash64 and graft_audio_energy_hash64
    // invoked FROM SQL over the q233/q234 deterministic fixtures
    // registered as temp views — the binary-column plumbing, the
    // injected-function registry, and both codegen'd hashes participate;
    // the oracle replays each hash arithmetic bit-for-bit like q233/q234.
    "q250_sql_fingerprints" -> ((s, d) => {
      import s.implicits._
      graft.GraftFunctions.register(s)
      val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
      ids.map { id =>
        val w = 36; val h = 32
        val px = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = id / 5
            val v = g * 37 + x * (7 + g % 5) + y * (13 + g % 7) +
              (x * y) % (11 + g % 13) +
              (if (x < 4 && y < 4) (id % 5) * 11 else 0)
            px(y * w + x) = (v % 256).toByte
            x += 1
          }
          y += 1
        }
        (id, px)
      }.toDF("doc_id", "px").createOrReplaceTempView("graft_sql_imgs")
      ids.map { id =>
        val n = 65 * 20
        val bytes = new Array[Byte](2 * n)
        val g = id / 5
        var i = 0
        while (i < n) {
          val f = i / 20
          val v = ((((i % 20) + 1) * (37 + (f * (3 + g % 13) + g) % 23) +
            (if (f == 0) (id % 5) * 7 else 0)) % 2003 - 1001).toShort
          bytes(2 * i) = (v & 0xFF).toByte
          bytes(2 * i + 1) = ((v >> 8) & 0xFF).toByte
          i += 1
        }
        (id, bytes)
      }.toDF("doc_id", "pcm").createOrReplaceTempView("graft_sql_pcm")
      s.sql("""SELECT i.doc_id, graft_dhash64(i.px, 36, 32) AS dhash,
            graft_audio_energy_hash64(p.pcm) AS ahash
          FROM graft_sql_imgs i JOIN graft_sql_pcm p ON i.doc_id = p.doc_id
          ORDER BY i.doc_id""")
    }),

    // EVENT-TRAIN UNIT MATCHING (the reference's cross-block spike
    // matching, spike_sorting.py:1226-1460, as a declarative operator):
    // block A carries 12 unit trains on a 10 ms grid with per-unit µs
    // offsets; block B re-labels them through the permutation
    // v = (5u+2) mod 12, jitters every event ±40 µs (inside the 60 µs
    // coincidence window), drops every 5th event, and adds two genuinely
    // new units far off the grid. The agreement matrix (bucketed ±δ
    // coincidence join, distinct-event counts, floor-div permille) plus
    // the mutual-best assignment must recover exactly the permutation —
    // ORACLED by replaying the fixture arithmetic, the coincidence join,
    // and both argmax windows in SQL.
    "q252_unit_matching" -> ((s, d) => {
      def trainA(units: Seq[Long], kLo: Int, kHi: Int) =
        s.createDataFrame(units.map(Tuple1(_))).toDF("u")
          .select(col("u"), explode(sequence(lit(kLo), lit(kHi))).as("k"))
          .select(col("u").as("unit"),
            (lit(1000000L) + col("k") * 10000L + col("u") * 97L +
              ((col("u") * (col("k") + 3)) % 7) * 3L).as("us"))
      val a = trainA(0L to 11L, 200, 399)
      val bTrue = trainA(0L to 11L, 200, 399)
        .withColumn("k", expr("(us - 1000000) div 10000"))
        .filter((col("k") + col("unit")) % 5 =!= 0)
        .select(((col("unit") * 5 + 2) % 12).as("unit"),
          (col("us") + ((col("k") % 3) - 1) * 40L).as("us"))
      val bNew = s.createDataFrame(Seq(Tuple1(12L), Tuple1(13L))).toDF("u")
        .select(col("u"), explode(sequence(lit(200), lit(399))).as("k"))
        .select(col("u").as("unit"),
          (lit(1000000L) + col("k") * 10000L + lit(5000L) +
            (col("u") - 12L) * 97L +
            ((col("u") * (col("k") + 5)) % 7) * 3L).as("us"))
      val b = bTrue.unionByName(bNew)
      val matrix = graft.operators.EventMatch.agreementMatrix(
        b, a, "unit", "us", deltaUs = 60L)
      val matches = graft.operators.EventMatch.mutualBestMatch(matrix, 300L)
        .select(col("unit_a"), col("unit_b"),
          col("agreement_permille").as("match_permille"))
      matrix
        .join(matches, Seq("unit_a", "unit_b"), "left")
        .select(col("unit_a"), col("unit_b"), col("n_a"), col("n_b"),
          col("coinc_a"), col("coinc_b"), col("agreement_permille"),
          col("match_permille").isNotNull.as("is_match"))
        .orderBy("unit_a", "unit_b")
    }),

    // GLOBAL-UNIT PROPAGATION over three overlapping blocks (the
    // reference's seed-first GlobalUnit chain): block 0 seeds identity,
    // block 1 is the q252 permutation + two new units (which mint fresh
    // dense ids 12/13), block 2 permutes block 1's true units again
    // (w = (7v+4) mod 12) with its own jitter/drop pattern. Matched units
    // must inherit ids through TWO hops — global(w) = 5·(7·(w−4)−2) mod
    // 12 by the closed-form inverses — and the oracle declares exactly
    // that end state, so any matching failure anywhere in the chain
    // breaks the hash.
    "q253_global_units" -> ((s, d) => {
      unitMatchAssignments(s).orderBy("block", "unit")
    }),

    // q253's DRAIN TWIN: the same three blocks land as block-stamped
    // file waves (blocks 0+1, then block 2 — the reference's frontier
    // order, spike_sorting.py:1269-1299) and drain through
    // StreamingUnitMatch: each new block matches the PERSISTED trains of
    // its predecessor, inherits/mints ids incrementally, and the drained
    // assignment table must equal the one-shot propagation — the oracle
    // is q253's closed form verbatim.
    "q254_global_units_from_drain" -> ((s, d) => {
      def base(units: Seq[Long], kLo: Int, kHi: Int) =
        s.createDataFrame(units.map(Tuple1(_))).toDF("u")
          .select(col("u"), explode(sequence(lit(kLo), lit(kHi))).as("k"))
          .select(col("u").as("unit"), col("k"),
            (lit(1000000L) + col("k") * 10000L + col("u") * 97L +
              ((col("u") * (col("k") + 3)) % 7) * 3L).as("us"))
      val blockA = base(0L to 11L, 0, 399)
        .select(lit(0L).as("block"), col("unit"), col("us"))
      val blockB = base(0L to 11L, 200, 599)
        .filter((col("k") + col("unit")) % 5 =!= 0)
        .select(lit(1L).as("block"),
          ((col("unit") * 5 + 2) % 12).as("unit"),
          (col("us") + ((col("k") % 3) - 1) * 40L).as("us"))
        .unionByName(s.createDataFrame(Seq(Tuple1(12L), Tuple1(13L)))
          .toDF("u")
          .select(col("u"), explode(sequence(lit(200), lit(599))).as("k"))
          .select(lit(1L).as("block"), col("u").as("unit"),
            (lit(1000000L) + col("k") * 10000L + lit(5000L) +
              (col("u") - 12L) * 97L +
              ((col("u") * (col("k") + 5)) % 7) * 3L).as("us")))
      val blockC = base(0L to 11L, 400, 799)
        .filter((col("k") + col("unit")) % 7 =!= 0)
        .select(lit(2L).as("block"),
          ((((col("unit") * 5 + 2) % 12) * 7 + 4) % 12).as("unit"),
          (col("us") + ((col("k") % 3) - 1) * 20L).as("us"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-unitdrain-q254").toString
      val (src, trains, asg, ckpt) = (root + "/src", root + "/trains",
        root + "/assignments", root + "/ckpt")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("block",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("unit",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("us",
          org.apache.spark.sql.types.LongType)))
      def wave(): Unit = graft.streaming.StreamingUnitMatch.drain(s, src,
        trains, asg, ckpt, "block", "unit", "us", schema, deltaUs = 60L,
        minPermille = 200L)
      blockA.unionByName(blockB).write.mode("append").parquet(src)
      wave()
      blockC.write.mode("append").parquet(src)
      wave()
      graft.streaming.StreamingUnitMatch.loadAssignments(s, asg)
        .orderBy("block", "unit")
    }),

    // Multimodal: deterministic frame sampling (posexplode plumbing).
    // ORACLED: pure integer frame-index arithmetic — blob bytes = 16×utf8
    // length, n = clamp(bytes/1024, 1, everyNth×maxFrames), sampled indices
    // 0, 7, 14, … < n.
    "q84_frame_sample" -> ((s, d) => {
      val blobs = Multimodal.synthesizeBlobs(
        Tables.documents(s, d).select("doc_id", "text"), "text", repeat = 16)
      Multimodal.sampleFrames(blobs, "blob", Seq("doc_id"),
        everyNth = 7, maxFrames = 4)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          max(col("frame_index")).as("max_frame"))
        .orderBy("doc_id")
    }),

    // REAL video round trip: per doc, build an MJPEG AVI (dimensions and
    // frame count derived from doc_id) in executor tasks, then sample it
    // through the RIFF walker. ORACLED end-to-end: width/height replay the
    // avih container header, n_sampled/max_frame the every-2nd stride — any
    // corruption in the AVI writer, the streaming parser, or the sampling
    // arithmetic breaks the hash.
    "q95_video_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id")
      val blobSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType, nullable = false)))
      val enc = RowEncoder.encoderFor(blobSchema)
      val blobs = docs.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val w = 16 + (id % 4).toInt * 8; val h = 16
          val n = 1 + (id % 5).toInt
          val frames = (0 until n).map { i =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            try {
              g.setColor(new java.awt.Color(i * 40 % 256, 128, 200))
              g.fillRect(0, 0, w, h)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          Row(id, AviMjpeg.build(frames, w, h, fps = 50.0))
        }
      }(enc)
      Multimodal.sampleAviFrames(blobs, "blob", Seq("doc_id"),
        everyNth = 2, maxFrames = 8)
        .groupBy(col("doc_id"))
        .agg(first(col("width")).as("width"),
          first(col("height")).as("height"),
          count(lit(1)).as("n_sampled"),
          max(col("frame_index")).as("max_frame"))
        .orderBy("doc_id")
    }),

    // REAL audio round trip: per doc, hand-write a canonical PCM16 WAV
    // (byte-deterministic — no encoder in the loop) in executor tasks and
    // decode it through javax.sound.sampled. ORACLED on the full header
    // surface: rate/channels/bits/frame-count/duration replay the WAV spec
    // arithmetic; the RMS feature path is pinned in MultimodalSpec.
    "q97_audio_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id")
      val blobSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType, nullable = false)))
      val enc = RowEncoder.encoderFor(blobSchema)
      val blobs = docs.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = 64 + (id % 32).toInt
          val samples = Array.tabulate(n)(i =>
            ((id * 7 + i * 13) % 2003 - 1001).toShort)
          Row(id, Multimodal.buildWavPcm16(samples, sampleRate = 8000))
        }
      }(enc)
      Multimodal.audioFeatures(blobs, "blob", dim = 4)
        .select("doc_id", "sample_rate", "channels", "bits", "n_frames",
          "duration_sec")
        .orderBy("doc_id")
    }),

    // END-TO-END EPHYS COMPOSITE — the science-side q93: pins the
    // COMPOSITION of S10 (zarr V2 read) + J4 (sync-window interval join) +
    // J9 (ONIX→HARP predict) + A3 (windowed column stats) as ONE oracled
    // query, the reference's acquisition→sync→QC chain
    // (`spike_sorting.py:1124-1166`, `ephys_utils.py:645-683`,
    // `stats.py:14-23`). The fixture is STAGGERED on purpose: 64-row zarr
    // chunks against sync windows cut at 170/430, so every window straddles
    // chunk-file boundaries (the §7.5.4 chunk↔window discipline) and no
    // operator can cheat by assuming alignment.
    "q100_ephys_composite" -> ((s, _) => {
      import s.implicits._
      // the store is produced by the DISTRIBUTED writer (the production
      // path: executors each deflate+publish their own chunk files), so the
      // oracle verifies writeDistributed → V2 read end-to-end
      val store = java.nio.file.Files.createTempDirectory("graft-zarr-q100")
        .toString + "/amp.zarr"
      val src = s.range(0, 600).select(col("id").as("row_index"),
        array(
          (pmod(col("id") * 37, lit(1000))).cast("double"),
          (pmod(col("id") * 37 + 11, lit(1000))).cast("double")).as("channels"))
      ZarrSource.writeDistributed(src, store, chunkRows = 64, dtype = "<u2",
        compressor = Some("zlib"))
      // S10: the DECLARATIVE read path (graft-zarr V2), µV scaling in-scan
      val samples = s.read.format("graft-zarr")
        .option("gain", "0.195").option("offset", "-1000.0").load(store)
        .select(col("row_index").as("onix_clock"),
          col("channels")(0).as("ch0"))
      // staggered sync models: closed onix intervals, one regression each
      val harp2024 = 3786912000.0 // 2024-01-01 on the HARP clock (s since 1904)
      val models = Seq(
        (0L, 0L, 169L, 0.001, harp2024),
        (1L, 170L, 429L, 0.002, harp2024 + 3600.0),
        (2L, 430L, 599L, 0.003, harp2024 + 7200.0))
        .toDF("wid", "onix_start", "onix_end", "slope", "intercept")
      // J4 + J9: locate the covering window (models broadcast), apply its
      // regression as a pure column expression
      val synced = Ephys.syncSpikeTimes(samples, models)
      // A3: per-window column stats + time extent
      synced.groupBy(col("wid"))
        .agg(count(lit(1)).as("n_samples"),
          min(col("ch0")).as("ch0_min"),
          max(col("ch0")).as("ch0_max"),
          round(avg(col("ch0")), 4).as("ch0_mean"),
          min(col("harp_time")).as("t_first"),
          max(col("harp_time")).as("t_last"))
        .orderBy("wid")
    }),

    // REAL zarr round trip: write a deterministic u16 store (zlib chunks,
    // edge chunk included: 200 rows / 64-row chunks), read it back
    // distributed with µV gain/offset. ORACLED against pure SQL arithmetic —
    // chunk-grid layout, zlib inflate, edge-chunk truncation, and scaling
    // all participate in the hash. No table input: the fixture IS the
    // construction, exactly like the reference's compression round-trip.
    "q96_zarr_roundtrip" -> ((s, _) => {
      val data = Array.tabulate(200, 4)((r, c) => ((r * 31 + c * 13) % 4096).toDouble)
      val store = java.nio.file.Files.createTempDirectory("graft-zarr-q96")
        .toString + "/amp.zarr"
      ZarrSource.write(s, store, data, dtype = "<u2", chunkRows = 64,
        compressor = Some("zlib"))
      ZarrSource.read(s, store, gain = 0.195, offset = -1000.0)
        .select(col("row_index"),
          col("channels")(0).as("ch0"), col("channels")(1).as("ch1"),
          col("channels")(2).as("ch2"), col("channels")(3).as("ch3"))
        .orderBy("row_index")
    }),

    // REAL blosc zarr round trip (VERDICT r9 "missing #1" closed): write the
    // same deterministic store through BOTH supported blosc inner-codec
    // families — lz4+byte-shuffle (zarr-python's default, the SPLIT-stream
    // frame layout) as u16 and zstd (single-stream frames) as f4 — read both
    // back distributed with µV gain/offset, and union. ORACLED against pure
    // SQL arithmetic, so the blosc container parse, shuffle-filter inverse,
    // split reassembly, per-codec inflate, edge-chunk truncation (300 rows /
    // 64-row chunks), dtype decode, and scaling all participate in the hash.
    // gain 0.25 is a power of two: u16/f4 payloads and the scaling are both
    // exact in doubles, so Spark and DuckDB cannot disagree on an ulp.
    // Three more slices pin the OTHER real-world store variants: blosc
    // lz4 + BIT-shuffle (numcodecs shuffle=2, the bit-plane transpose —
    // round 11), numcodecs' raw lz4 codec (size-prefix + block, not a
    // blosc frame), and
    // a SPARSE raw-zstd store whose chunk file 2 is deleted after writing —
    // its rows 128..191 must come back as fill_value (0) scaled to −1000,
    // putting the absent-chunk fill contract itself into the oracle hash.
    // Round 12 adds a sixth slice: blosc + BLOSCLZ inner codec (c-blosc's
    // own FastLZ-derived LZ77, sources/BloscLz.scala — the last
    // loud-rejected sub-format), byte-shuffled u16, split-stream frames.
    "q199_zarr_blosc" -> ((s, _) => {
      val data = Array.tabulate(300, 4)((r, c) => ((r * 37 + c * 17) % 4096).toDouble)
      val base = java.nio.file.Files.createTempDirectory("graft-zarr-q180")
      def store(name: String, dtype: String, chunkRows: Int, comp: String) = {
        val path = base.toString + s"/$name.zarr"
        ZarrSource.write(s, path, data, dtype = dtype, chunkRows = chunkRows,
          compressor = Some(comp))
        path
      }
      val lz4Store = store("lz4", "<u2", 64, "blosc")
      val zstdStore = store("zstd", "<f4", 128, "blosc:zstd")
      val bitStore = store("bitlz4", "<u2", 64, "blosc:lz4:bit")
      val ncLz4Store = store("nclz4", "<u2", 64, "lz4")
      val blzStore = store("blosclz", "<u2", 64, "blosc:blosclz")
      val ncZstdStore = store("nczstd", "<u2", 64, "zstd")
      for (f <- Seq("2.0", ".2.0.crc")) // sparse: drop chunk 2 (+ sidecar)
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(ncZstdStore, f))
      def slice(store: String, codec: String) =
        ZarrSource.read(s, store, gain = 0.25, offset = -1000.0)
          .select(lit(codec).as("codec"), col("row_index"),
            col("channels")(0).as("ch0"), col("channels")(1).as("ch1"),
            col("channels")(2).as("ch2"), col("channels")(3).as("ch3"))
      slice(lz4Store, "lz4").unionAll(slice(zstdStore, "zstd"))
        .unionAll(slice(bitStore, "bitlz4"))
        .unionAll(slice(ncLz4Store, "nclz4"))
        .unionAll(slice(ncZstdStore, "nczstd"))
        .unionAll(slice(blzStore, "blosclz"))
        .orderBy("codec", "row_index")
    }),

    // REAL flat-binary round trip (S4 as a full driver query, not just a
    // spec): write the acquisition's u16-amplifier + companion u64-Clock pair
    // (`aeon/schema/ephys.py:74-76`, `spike_sorting.py:266-290`) for six
    // chunk files, read back through the `graft-clock` V2 source with µV
    // gain/offset, and slice a clock interval — the range predicate prunes
    // whole files on their 16 stat bytes before any decode. ORACLED on the
    // surviving rows' per-chunk aggregates: file layout, LE decode, channel
    // deinterleave, scaling, and the pushdown's residual re-application all
    // participate in the hash. round(sum,3) not avg: the true sum has
    // exactly 3 decimals (0.195·S − 1000·n), so the fp-accumulation ulp can
    // never straddle a rounding boundary, where an avg's 5th decimal could.
    "q108_clock_roundtrip" -> ((s, _) => {
      import java.nio.{ByteBuffer, ByteOrder}
      val base = java.nio.file.Files.createTempDirectory("graft-clock-q108")
      val ampDir = base.resolve("amp"); val clkDir = base.resolve("clock")
      java.nio.file.Files.createDirectories(ampDir)
      java.nio.file.Files.createDirectories(clkDir)
      for (k <- 0 until 6) {
        val n = 100
        val cb = ByteBuffer.allocate(8 * n).order(ByteOrder.LITTLE_ENDIAN)
        val pb = ByteBuffer.allocate(2 * 2 * n).order(ByteOrder.LITTLE_ENDIAN)
        for (r <- 0 until n) {
          cb.putLong(k * 100000L + r * 1000L)
          pb.putShort(((k * 31 + r * 7) % 4096).toShort)
          pb.putShort(((k * 31 + r * 7 + 13) % 4096).toShort)
        }
        java.nio.file.Files.write(clkDir.resolve(s"chunk_$k.bin"), cb.array)
        java.nio.file.Files.write(ampDir.resolve(s"chunk_$k.bin"), pb.array)
      }
      s.read.format("graft-clock")
        .option("format", "u16").option("channels", "2")
        .option("gain", "0.195").option("offset", "-1000.0")
        .option("clock", clkDir.toString)
        .load(ampDir.toString)
        .filter(col("clock") >= 150000L && col("clock") < 450000L)
        .groupBy((col("clock") / 100000L).cast("long").as("chunk"))
        .agg(count(lit(1)).as("n"),
          min(col("samples")(0)).as("ch0_min"),
          max(col("samples")(1)).as("ch1_max"),
          round(sum(col("samples")(0)), 3).as("ch0_sum"))
        .orderBy("chunk")
    }),

    // REAL IMU stream-group round trip (S6 as a driver query): write the
    // Bno055 five-file family per chunk — u64 Clock + four f32 sensor
    // binaries (`aeon/dj_pipeline/utils/onix_imu.py:60-130`) — with
    // DIFFERENT row counts per chunk, then positionally merge into the 13
    // IMU columns through the real binary readers. ORACLED end-to-end: the
    // (chunk_index, row_index) equi-join, filename chunk parse, f32 LE
    // decode, and prefix renames all participate. All payload values are
    // exact quarters (x·0.25), so f32 → double → DuckDB DECIMAL arithmetic
    // is lossless on every path.
    "q109_imu_merge" -> ((s, _) => {
      import java.nio.{ByteBuffer, ByteOrder}
      val dir = java.nio.file.Files.createTempDirectory("graft-imu-q109")
      val streams = Seq("Euler" -> 3, "GravityVector" -> 3,
        "LinearAcceleration" -> 3, "Quaternion" -> 4)
      for (k <- 0 until 3) {
        val n = 50 + 10 * k
        val cb = ByteBuffer.allocate(8 * n).order(ByteOrder.LITTLE_ENDIAN)
        (0 until n).foreach(r => cb.putLong(k * 1000000L + 5000L + r * 250L))
        java.nio.file.Files.write(dir.resolve(s"Bno_Clock_$k.bin"), cb.array)
        streams.zipWithIndex.foreach { case ((name, nAxes), si) =>
          val pb = ByteBuffer.allocate(4 * nAxes * n).order(ByteOrder.LITTLE_ENDIAN)
          for (r <- 0 until n; a <- 0 until nAxes)
            pb.putFloat((k * 1000 + r * 4 + (si + 1)).toFloat + a * 0.25f)
          java.nio.file.Files.write(dir.resolve(s"Bno_${name}_$k.bin"), pb.array)
        }
      }
      val merged = BronzeIngest.imuMerge(
        BronzeIngest.flatBinaryU64(s, dir.resolve("*Clock*.bin").toString),
        BronzeIngest.flatBinaryF32(s, dir.resolve("*Euler*.bin").toString,
          Seq("x", "y", "z")),
        BronzeIngest.flatBinaryF32(s, dir.resolve("*GravityVector*.bin").toString,
          Seq("x", "y", "z")),
        BronzeIngest.flatBinaryF32(s, dir.resolve("*LinearAcceleration*.bin").toString,
          Seq("x", "y", "z")),
        BronzeIngest.flatBinaryF32(s, dir.resolve("*Quaternion*.bin").toString,
          Seq("w", "x", "y", "z")))
      val imuCols = Seq("euler_x", "euler_y", "euler_z",
        "gravity_x", "gravity_y", "gravity_z",
        "linear_acceleration_x", "linear_acceleration_y", "linear_acceleration_z",
        "quaternion_w", "quaternion_x", "quaternion_y", "quaternion_z")
      merged.select(col("chunk_index") +: col("clock") +:
          imuCols.map(c => col(c).cast("double").as(c)): _*)
        .orderBy("chunk_index", "clock")
    }),

    // REAL JSON metadata round trip (S8 as a driver query): write per-rig
    // nested config files (`Metadata.json` shape, `acquisition.py:373-399`),
    // read them multiline, flatten to dotted-path rows, and extract the
    // camera blob-tracking region polygons (`load_metadata.py:606-665`).
    // ORACLED end-to-end: JSON inference, the to_json→Jackson flatten, the
    // `cameras.<cam>.cameraTracking.blobTracking.<region>[i].<axis>` regex,
    // and the vertex indexing all participate. Values are exact quarters so
    // the string→double cast is lossless.
    "q110_metadata_regions" -> ((s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-meta-q110")
      val cams = Seq("side" -> 0, "top" -> 1)
      val regions = Seq(("Gate", 0, 3), ("Nest", 1, 4))
      for (k <- 0 until 3) {
        def vtx(ci: Int, ri: Int, vi: Int): String = {
          val b = k * 1000 + ci * 100 + ri * 10 + vi
          s"""{"x": $b.25, "y": $b.75}"""
        }
        val camsJson = cams.map { case (cam, ci) =>
          val regsJson = regions.map { case (reg, ri, nv) =>
            s""""$reg": [${(0 until nv).map(vtx(ci, ri, _)).mkString(", ")}]"""
          }.mkString(", ")
          s""""$cam": {"cameraTracking": {"blobTracking": {$regsJson}}}"""
        }.mkString(", ")
        java.nio.file.Files.write(dir.resolve(s"rig_$k.json"),
          s"""{"cameras": {$camsJson}}""".getBytes("UTF-8"))
      }
      val flat = MetadataSource.flatten(
        MetadataSource.readJson(s, dir.resolve("*.json").toString))
      MetadataSource.cameraRegions(flat)
        .select(
          regexp_extract(col("file"), "rig_(\\d+)\\.json", 1).cast("long").as("rig"),
          col("camera"), col("region"), col("vertex_index"), col("axis"),
          col("value").cast("double").as("value"))
        .orderBy("rig", "camera", "region", "vertex_index", "axis")
    }),

    // REAL chunk-file discovery round trip (S2 as a driver query): write the
    // acquisition's raw layout — `<root>/exp<e>/<epoch-dir>/<Device>/
    // <Device>_<Stream>_<chunk-ts>.csv` (`acquisition.py:603-622`
    // `_get_all_chunks`, FIXTURES.md §1) — and run the listing-only
    // discovery scan. ORACLED end-to-end: the path-component splits, the
    // device/stream filename regexes, and both epoch-dir timestamp parses
    // participate; no file content is ever read (the scan is metadata-only).
    "q111_chunk_discovery" -> ((s, _) => {
      val root = java.nio.file.Files.createTempDirectory("graft-disc-q111")
      val devices = Seq(("CameraTop", "Video"), ("Patch1", "State"))
      for (e <- 0 until 2; j <- 0 until 2) {
        val day = e + 1
        val epoch = f"2026-04-$day%02dT${j * 6}%02d-00-00"
        for ((dev, stream) <- devices; h <- 0 until 2) {
          val chunk = f"2026-04-$day%02dT${j * 6 + h}%02d-00-00"
          val dir = root.resolve(s"exp$e/$epoch/$dev")
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.write(dir.resolve(s"${dev}_${stream}_$chunk.csv"),
            "time,value\n".getBytes("UTF-8"))
        }
      }
      BronzeIngest.discoverChunkFiles(s, root.resolve("*/*/*/*.csv").toString)
        .select(col("device"), col("stream"), col("chunk_start"),
          col("epoch_start"))
        .orderBy("device", "stream", "epoch_start", "chunk_start")
    }),

    // REAL HarpSync CSV round trip (S3 as a driver query): write the
    // HarpSync chunk CSVs (`aeon/schema/ephys.py:26-33`, FIXTURES.md §1.1)
    // and read them through the schema'd CSV path with the HARP-seconds →
    // µs-timestamp promotion. ORACLED end-to-end: header handling, typed
    // parse, and the 1904-epoch conversion arithmetic participate. All
    // aeon_time values are exact halves so the double path is lossless.
    "q112_harp_csv" -> ((s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-harp-q112")
      for (k <- 0 until 2) {
        val rows = (0 until 20).map { r =>
          val aeon = 3786912000.0 + k * 100 + r * 0.5
          val clock = k * 100000L + r * 1000L
          s"$aeon,$clock,${clock + 7},${aeon + 0.25}"
        }
        java.nio.file.Files.write(dir.resolve(s"sync_$k.csv"),
          ("aeon_time,clock,hub_clock,harp_time\n" + rows.mkString("\n") + "\n")
            .getBytes("UTF-8"))
      }
      BronzeIngest.harpSyncCsv(s, dir.resolve("*.csv").toString)
        .select(
          regexp_extract(col("file"), "sync_(\\d+)\\.csv", 1).cast("long").as("fid"),
          col("time"), col("aeon_time"), col("clock"), col("hub_clock"),
          col("harp_time"))
        .orderBy("fid", "clock")
    }),

    // REAL idempotent-insert round trip (S11 as a driver query): three
    // appends into one keyed table — two overlapping batches plus an exact
    // replay of the second — through the anti-join re-check
    // (`populate`-style make-then-insert, `datajoint` autopopulate
    // semantics, `acquisition.py:210-316`). ORACLED on the final table
    // contents: overlap rows land exactly once, the replay lands nothing,
    // and the union of distinct keys survives — any double-insert or
    // dropped-batch bug breaks the hash.
    "q113_idempotent_append" -> ((s, _) => {
      val table = java.nio.file.Files.createTempDirectory("graft-pop-q113")
        .toString + "/table"
      def batch(lo: Int, hi: Int) =
        s.range(lo, hi).select(col("id").as("k"),
          (col("id") * 3 + 1).as("v"))
      graft.operators.Populate.appendIdempotent(batch(0, 300), table, Seq("k"))
      graft.operators.Populate.appendIdempotent(batch(200, 500), table, Seq("k"))
      graft.operators.Populate.appendIdempotent(batch(200, 500), table, Seq("k"))
      s.read.parquet(table).orderBy("k")
    }),

    // RE-CURATION round trip (Populate.invalidate — the reference's
    // restore-then-repopulate cascade, spike_sorting_curation.py:523-555):
    // a two-table derived chain (per-user stats → per-user score, child
    // carrying the parent's PK, DataJoint-FK style) is populated under
    // curation rule v1, then users ≡ 0 (mod 7) are INVALIDATED across the
    // chain (downstream-first crash-safe deletes) and re-populated under
    // rule v2 (non-view events only). The final table must mix v1 and v2
    // rows exactly — a cascade that misses the child, deletes the wrong
    // keys, or re-derives everybody breaks the hash; appendIdempotent
    // re-deriving an un-invalidated key would too.
    "q249_recuration" -> ((s, d) => {
      import graft.operators.Populate
      val root = java.nio.file.Files.createTempDirectory("graft-pop-q249")
        .toString
      val tblA = root + "/user_stats"
      val tblB = root + "/user_score"
      val ev = Tables.events(s, d).select("user_id", "event_type")
      val allUsers = ev.select("user_id").distinct()
      def populateA(version: Int): Unit = {
        val counted = if (version == 2)
          sum(when(col("event_type") =!= "view", 1L).otherwise(0L))
        else count(lit(1))
        val rows = Populate.derive(allUsers,
            Populate.readIfExists(s, tblA), Seq("user_id")) { nk =>
          ev.join(nk, Seq("user_id"), "left_semi")
            .groupBy("user_id")
            .agg(counted.cast("long").as("n_events"))
            .withColumn("version", lit(version.toLong))
        }
        Populate.appendIdempotent(rows, tblA, Seq("user_id"))
      }
      def populateB(): Unit = {
        val a = Populate.readIfExists(s, tblA).get
        val rows = Populate.derive(a.select("user_id"),
            Populate.readIfExists(s, tblB), Seq("user_id")) { nk =>
          a.join(nk, Seq("user_id"), "left_semi")
            .select(col("user_id"),
              (col("n_events") * 10L + col("version")).as("score"))
        }
        Populate.appendIdempotent(rows, tblB, Seq("user_id"))
      }
      populateA(1); populateB()
      Populate.invalidate(s,
        Seq(tblA -> Seq("user_id"), tblB -> Seq("user_id")),
        allUsers.filter(col("user_id") % 7 === 0))
      populateA(2); populateB()
      Populate.readIfExists(s, tblB).get
        .join(Populate.readIfExists(s, tblA).get, Seq("user_id"))
        .select("user_id", "n_events", "version", "score")
        .orderBy("user_id")
    }),

    // q249's DRAIN TWIN (StreamingRecuration — the lifecycle the
    // reference's curation actually runs): curation REQUESTS land as
    // keyed file waves carrying their rule version (wave 1: users ≡ 0
    // mod 7 under rule v2; wave 2: users ≡ 0 mod 5 under rule v3 —
    // overlapping users re-curate again, latest wins), each wave
    // cascade-invalidates its keys across the chain and re-derives
    // exactly those keys under the carried rule. Final state mixes
    // v1/v2/v3 rows per the wave order — the oracle replays it in
    // closed form; any missed cascade, wrong-order application, or
    // corpus-wide re-derive breaks the hash.
    "q255_recuration_from_drain" -> ((s, d) => {
      import graft.operators.Populate
      val root = java.nio.file.Files.createTempDirectory("graft-pop-q255")
        .toString
      val (tblA, tblB, reqs, ckpt) = (root + "/user_stats",
        root + "/user_score", root + "/requests", root + "/ckpt")
      val ev = Tables.events(s, d).select("user_id", "event_type")
      val allUsers = ev.select("user_id").distinct()
      def countedFor(version: org.apache.spark.sql.Column) =
        sum(when(version >= 3L,
            when(!col("event_type").isin("view", "click"), 1L).otherwise(0L))
          .when(version === 2L,
            when(col("event_type") =!= "view", 1L).otherwise(0L))
          .otherwise(1L))
      def populateA(keySrc: org.apache.spark.sql.DataFrame): Unit = {
        // keySrc: (user_id, version) — derive missing users under the
        // version their request carries
        val rows = Populate.derive(keySrc,
            Populate.readIfExists(s, tblA).map(_.select("user_id")),
            Seq("user_id")) { nk =>
          ev.join(nk, Seq("user_id"))
            .groupBy("user_id", "version")
            .agg(countedFor(col("version")).cast("long").as("n_events"))
            .select("user_id", "n_events", "version")
        }
        Populate.appendIdempotent(rows, tblA, Seq("user_id"))
      }
      def populateB(): Unit = {
        val a = Populate.readIfExists(s, tblA).get
        val rows = Populate.derive(a.select("user_id"),
            Populate.readIfExists(s, tblB), Seq("user_id")) { nk =>
          a.join(nk, Seq("user_id"), "left_semi")
            .select(col("user_id"),
              (col("n_events") * 10L + col("version")).as("score"))
        }
        Populate.appendIdempotent(rows, tblB, Seq("user_id"))
      }
      // bootstrap: everyone at rule v1
      populateA(allUsers.withColumn("version", lit(1L)))
      populateB()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType)))
      def wave(): Unit = graft.streaming.StreamingRecuration.drain(s,
          reqs, ckpt, schema, Seq("user_id"),
          Seq(tblA -> Seq("user_id"), tblB -> Seq("user_id"))) { w =>
        // a replayed/merged backlog can carry several versions for one
        // user; versions are monotone, so max(version) IS latest-wins
        populateA(w.groupBy("user_id")
          .agg(max(col("version")).as("version")))
        populateB()
      }
      allUsers.filter(col("user_id") % 7 === 0)
        .withColumn("version", lit(2L))
        .write.mode("append").parquet(reqs)
      wave()
      allUsers.filter(col("user_id") % 5 === 0)
        .withColumn("version", lit(3L))
        .write.mode("append").parquet(reqs)
      wave()
      Populate.readIfExists(s, tblB).get
        .join(Populate.readIfExists(s, tblA).get, Seq("user_id"))
        .select("user_id", "n_events", "version", "score")
        .orderBy("user_id")
    }),

    // Type-2 SCD dimension maintenance (the WRITE side of q43's temporal-
    // validity join): TWO merges — snapshot 1 changes segment for
    // custkey%7, deletes %97, inserts shifted %101 ids; snapshot 2 is the
    // original table again, so changed rows revert (close + reopen),
    // deletions re-insert, and the %101 inserts close. Exercises every
    // branch including history pass-through; pure column equality +
    // literal timestamps — exact on any engine.
    "q159_scd2_merge" -> ((s, d) =>
      scd2MergedDim(s, d).orderBy("id", "valid_from")),

    // Point-in-time READ of the q159 dimension (Scd2.asOf): the snapshot
    // BETWEEN the two merges must reproduce snap1's content exactly —
    // moved segments visible, %97 deletions absent, %101 inserts present
    // — pinning that merge history actually supports time travel. A
    // plain validity filter, so pruning on the validity columns applies.
    "q193_scd2_asof" -> ((s, d) => {
      graft.operators.Scd2.asOf(scd2MergedDim(s, d),
          "valid_from", "valid_to",
          lit("2020-12-01 00:00:00").cast("timestamp"))
        .select("id", "c_nationkey", "c_mktsegment")
        .orderBy("id")
    }),

    // DENSE ID ASSIGNMENT without a global window (Layout.assignDenseIds):
    // range-partition on the order key, rank within partitions, add
    // driver-rolled offsets (numRanges longs) — the scalable row_number
    // for vocabulary/token-id/export-ordinal assignment. No
    // single-partition WindowExec anywhere (spec-asserted); the oracle is
    // the global row_number the operator refuses to plan.
    "q194_dense_ids" -> ((s, d) => {
      graft.sources.Layout.assignDenseIds(
          Tables.documents(s, d).select("doc_id", "n_chars"),
          Seq("n_chars", "doc_id"), numRanges = 16)
        .orderBy("row_id")
    }),

    // Snapshot DIFF report (the drift summary behind q159's merge): one
    // full-outer join + one aggregate; per-metric rows exploded from the
    // aggregated counts, never from the rows. Null-safe comparisons.
    "q168_snapshot_diff" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val before = cust.select(col("c_custkey").as("id"),
        col("c_nationkey"), col("c_mktsegment"))
      val after = cust.filter(col("c_custkey") % 97 =!= 0)
        .select(col("c_custkey").as("id"), col("c_nationkey"),
          when(col("c_custkey") % 7 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
        .unionByName(cust.filter(col("c_custkey") % 101 === 0)
          .select((col("c_custkey") + 1000000L).as("id"),
            lit(0).cast("int").as("c_nationkey"),
            lit("NEW").as("c_mktsegment")))
      graft.operators.Scd2.diffSnapshots(before, after, "id",
          Seq("c_nationkey", "c_mktsegment"))
        .orderBy("metric")
    }),

    // Z-ORDER layout cells: the Morton interleave that drives
    // `Layout.zorderBy` (multi-dimensional file skipping — Delta/Iceberg
    // ZORDER BY as a plain column), oracled as exact integer arithmetic:
    // time is linearly bucketed over the 30-day window with the
    // integral-division mortonBucket (a double round-trip would lose
    // exactness at µs×2⁸ scale), users fold by pmod (the id range grows
    // with SF), and the 16-bit z-code's high byte indexes the cell. The
    // on-disk skip-rate property itself is pinned in LayoutZorderSpec —
    // file envelopes are layout, not values, so the oracle checks the
    // curve arithmetic and the per-cell aggregates.
    "q119_zorder_cells" -> ((s, d) => {
      val bits = 8
      val lo = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
      val span = 30L * 86400 * 1000000L
      Tables.events(s, d)
        .select(pmod(col("user_id"), lit(256L)).as("bu"),
          graft.sources.Layout.mortonBucket(
            unix_micros(col("ts")), lo, lo + span - 1, bits).as("bt"))
        .select(graft.sources.Layout.morton2(col("bu"), col("bt"), bits).as("z"))
        .groupBy(shiftright(col("z"), bits).as("cell"))
        .agg(count(lit(1)).as("n_events"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
        .orderBy("cell")
    }),

    // REAL small-file compaction round trip: 20 tiny files per hive leaf,
    // `Layout.compact` rewrites each leaf in place (staged write + atomic
    // swap), and the ORACLE pins that the rewrite changed the LAYOUT and
    // nothing else — per-leaf aggregates replay the construction
    // arithmetic, and `files_after` (re-listed from disk, not from the
    // stat report) pins the one-file-per-leaf outcome.
    "q123_compact_roundtrip" -> ((s, _) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-compact-q123")
        .toString + "/t"
      s.range(0, 600)
        .select(col("id").as("k"), (col("id") * 7 % 31).as("v"),
          concat(lit("p"), pmod(col("id"), lit(3))).as("p"))
        .repartition(20)
        .write.partitionBy("p").parquet(root)
      graft.sources.Layout.compact(s, root, targetBytes = 1L << 30)
      val filesAfter = new java.io.File(root).listFiles().toSeq
        .filter(_.isDirectory).map { d =>
          val n = d.listFiles().count(f => f.isFile &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          (d.getName.stripPrefix("p="), n.toLong)
        }
      s.read.parquet(root)
        .groupBy("p")
        .agg(count(lit(1)).as("n_rows"), sum("k").as("sum_k"),
          sum("v").as("sum_v"))
        .join(filesAfter.toDF("p", "files_after"), "p")
        .orderBy("p")
    }),

    // UNIT-YIELD QC report over the q253 propagation (the reference's
    // per-block new/retained/dropped rollup, ephys_v2_qc_plots.py:
    // 186-231): block 1 retains all 12 seeds (permuted) and mints 2 new
    // units; block 2 retains the 12 true units and DROPS units 12/13.
    // The oracle derives the same report from q253's closed-form
    // assignment in SQL, so any propagation or attribution error breaks
    // the hash.
    "q262_unit_yield" -> ((s, d) => {
      graft.operators.EventMatch.unitYieldReport(unitMatchAssignments(s))
        .orderBy("block")
    }),

    // UNIT LONGEVITY + event-count consistency over the same chain
    // (ephys_v2_qc_plots.py:76-116, 242-330): per global unit its block
    // span, matched-block count, and exact min/max/total distinct-event
    // counts (the max/min consistency ratio is the presentation edge's
    // float). Oracle: closed-form assignment × generate_series-replayed
    // drop rules.
    "q263_unit_longevity" -> ((s, d) => {
      val (blockA, blockB, blockC) = unitMatchBlocks(s)
      val events = blockA.select(lit(0L).as("block"), col("unit"),
          col("us"))
        .unionByName(blockB.select(lit(1L).as("block"), col("unit"),
          col("us")))
        .unionByName(blockC.select(lit(2L).as("block"), col("unit"),
          col("us")))
      graft.operators.EventMatch.unitLongevity(unitMatchAssignments(s),
          events)
        .orderBy("global_unit")
    }),

    // MP4 SAMPLE INDEX end-to-end (ISO/IEC 14496-12 box grammar — the
    // container half of the MP4 story; codec decode stays the documented
    // stub): deterministic two-track fixture → builder → moov parse →
    // distributed payload reads → positional byte checksum. The oracle
    // replays the size/delta/payload closed forms with generate_series,
    // so any builder, parser, chunk-resolution, or positioned-read error
    // breaks the hash.
    "q267_mp4_sample_index" -> ((s, d) => {
      import graft.sources.Mp4
      val path = java.nio.file.Files.createTempDirectory("graft-mp4-q267")
        .toString + "/fixture.mp4"
      val tracks = Seq(
        Mp4.TrackSpec(1, 90000L, 3750L,
          Array.tabulate(24)(i => 20 + ((7 * i + 3) % 13)), 5,
          syncEvery = 6), // stss present: keyframe every 6th sample
        Mp4.TrackSpec(2, 90000L, 5625L,
          Array.tabulate(16)(i => 20 + ((7 * i + 6) % 13)), 6))
        // track 2: syncEvery 1 -> stss OMITTED -> all samples sync
      Mp4.build(path, tracks,
        (t, i, k) => ((i * 31 + k * 7 + t * 11) % 256).toByte)
      import s.implicits._
      val payloads = Seq((1, 0, 23), (2, 0, 15)).map { case (t, lo, hi) =>
        Mp4.readSamples(s, path, t, lo, hi)
      }.reduce(_ unionByName _)
        .as[(Int, Int, Long, Array[Byte])]
        .map { case (t, i, dts, b) =>
          var w = 0L
          var k = 0
          while (k < b.length) { w += (k + 1L) * (b(k) & 0xFF); k += 1 }
          (t, i, dts, b.length, w)
        }
        .toDF("track_id", "sample_index", "dts_ticks", "n_bytes",
          "payload_weight")
      Mp4.sampleTable(s, path)
        .select(col("track_id"), col("sample_index"),
          col("size").as("meta_bytes"), col("is_sync"))
        .join(payloads, Seq("track_id", "sample_index"))
        .filter(col("meta_bytes") === col("n_bytes")) // table ≡ payload
        .select(col("track_id").cast("long").as("track_id"),
          col("sample_index").cast("long").as("sample_index"),
          col("dts_ticks"), col("n_bytes").cast("long").as("n_bytes"),
          col("is_sync"), col("payload_weight"))
        .orderBy("track_id", "sample_index")
    })
  )

  private val EV =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
       event_type, value, props FROM events)"""

  val oracles: Map[String, String] = Map(
    "q80_stream_chunks" -> s"""$EV
       SELECT user_id,
         date_trunc('hour', ts) AS chunk_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS chunk_end,
         count(*) AS sample_count,
         min(ts) AS first_ts, max(ts) AS last_ts
       FROM ev GROUP BY user_id, date_trunc('hour', ts)
       ORDER BY user_id, chunk_start""",
    "q81_session_window" -> s"""$EV,
       flagged AS (
         SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                THEN 1 ELSE 0 END AS new_session
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       ), sessions AS (
         SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM flagged)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         min(ts) AS session_start, max(ts) AS session_end
       FROM sessions GROUP BY user_id, sid
       ORDER BY user_id, session_start""",
    "q82_windowed_stats" -> s"""$EV
       SELECT event_type, date_trunc('day', ts) AS window_start,
         count(value) AS count,
         min(value) AS min, max(value) AS max,
         CAST(((abs(sum(CAST(round(value * 100.0) AS BIGINT)) * 100) * 2
                 + count(value)) // (2 * count(value)))
               * (CASE WHEN sum(CAST(round(value * 100.0) AS BIGINT)) < 0
                  THEN -1 ELSE 1 END) AS DOUBLE) / 10000.0 AS mean
       FROM ev GROUP BY event_type, date_trunc('day', ts)
       ORDER BY event_type, window_start""",
    "q85_camera_qc" -> s"""$EV,
       deltas AS (
         SELECT user_id, ts AS time,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS time_delta,
           (epoch_us(ts) * 1000 - lag(epoch_us(ts) * 1000) OVER w) / 1000000000.0
             AS hw_timestamp_delta,
           CASE WHEN lag(event_id) OVER w IS NULL THEN 0
                ELSE greatest(event_id - lag(event_id) OVER w - 1, 0) END AS drops
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts))
       SELECT user_id,
         count(*) AS sample_count,
         min(time) AS first_time,
         max(time) AS last_time,
         max(time_delta) AS max_harp_delta,
         max(hw_timestamp_delta) AS max_camera_delta,
         CAST(sum(drops) AS BIGINT) AS drop_count,
         round(count(*) / ((epoch_us(max(time)) - epoch_us(min(time))) / 1000000.0), 4)
           AS observed_fps,
         50.0 AS nominal_fps,
         abs(round(count(*) / ((epoch_us(max(time)) - epoch_us(min(time))) / 1000000.0), 4)
             - 50.0) / 50.0 < 0.05 AS frame_rate_ok
       FROM deltas GROUP BY user_id ORDER BY user_id""",
    "q86_position_slice" -> s"""$EV
       SELECT user_id, ts AS time, value AS x, value * 2 AS y, 1.0 AS likelihood
       FROM ev
       WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
         AND ts <  TIMESTAMP '2024-01-25 00:00:00'
       ORDER BY user_id, time""",
    // Every stage replayed: epoch closure, half-open validity gate, hourly
    // catalog, counter-delta QC, the keyed widening restriction (three-arm
    // union mirroring restrictChunksPerKey), restricted fetch + exact mask,
    // the q45 diamond closed form, and 1800 s gaps-and-islands.
    "q180_behavior_composite" -> s"""$EV,
       ep AS (
         SELECT user_id, ts AS es,
           least(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
             ts + INTERVAL 7 DAY) AS ee
         FROM ev WHERE event_type = 'signup'),
       v AS MATERIALIZED (
         SELECT e.user_id, e.event_id, e.ts, e.value
         FROM ev e JOIN ep
           ON e.user_id = ep.user_id AND e.ts >= ep.es AND e.ts < ep.ee),
       cat AS MATERIALIZED (
         SELECT user_id, date_trunc('hour', ts) AS cs,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS ce
         FROM v GROUP BY 1, 2),
       qc AS (
         SELECT user_id, date_trunc('hour', ts) AS cs,
           sum(CASE WHEN d IS NULL THEN 0 ELSE greatest(d - 1, 0) END)
             AS drop_count
         FROM (
           SELECT user_id, ts,
             event_id - lag(event_id)
               OVER (PARTITION BY user_id ORDER BY ts) AS d
           FROM v)
         GROUP BY 1, 2),
       r AS MATERIALIZED (
         SELECT DISTINCT user_id, cs, ce FROM (
           SELECT user_id, cs, ce FROM cat
           WHERE ce > TIMESTAMP '2024-01-15 06:30:00'
             AND cs < TIMESTAMP '2024-01-16 06:30:00'
           UNION ALL
           SELECT user_id, cs, ce FROM (
             SELECT user_id, cs, ce, row_number()
               OVER (PARTITION BY user_id ORDER BY cs DESC) AS rn
             FROM cat WHERE cs <= TIMESTAMP '2024-01-15 06:30:00')
           WHERE rn = 1
           UNION ALL
           SELECT user_id, cs, ce FROM (
             SELECT user_id, cs, ce, row_number()
               OVER (PARTITION BY user_id ORDER BY ce ASC) AS rn
             FROM cat WHERE ce >= TIMESTAMP '2024-01-16 06:30:00')
           WHERE rn = 1)),
       qcu AS (
         SELECT r.user_id, CAST(count(*) AS BIGINT) AS qc_chunks,
           CAST(sum(qc.drop_count) AS BIGINT) AS qc_drops
         FROM r JOIN qc ON qc.user_id = r.user_id AND qc.cs = r.cs
         GROUP BY 1),
       samp AS (
         SELECT v.user_id, v.ts, v.value,
           CAST(v.event_id % 23 AS DOUBLE) AS y
         FROM v JOIN r
           ON v.user_id = r.user_id AND date_trunc('hour', v.ts) = r.cs
         WHERE v.ts >= TIMESTAMP '2024-01-15 06:30:00'
           AND v.ts < TIMESTAMP '2024-01-16 06:30:00'),
       sess AS (
         SELECT user_id, ts, value, y,
           sum(newf) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
             AS session_id
         FROM (
           SELECT *, CASE WHEN prev IS NULL
               OR epoch_us(ts) - epoch_us(prev) > 1800000000
             THEN 1 ELSE 0 END AS newf
           FROM (
             SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev
             FROM samp)))
       SELECT s.user_id, CAST(s.session_id AS BIGINT) AS session_id,
         min(s.ts) AS session_start, max(s.ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_samples,
         CAST(sum(CASE WHEN (abs(s.value - 100.0) / 50.0
             + abs(s.y - 7.0) / 5.0) < 1.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_nest,
         CAST(sum(CAST(round(s.value * 100) AS BIGINT)) AS BIGINT)
           AS sum_x_centi,
         any_value(q.qc_chunks) AS qc_chunks,
         any_value(q.qc_drops) AS qc_drops
       FROM sess s JOIN qcu q ON q.user_id = s.user_id
       GROUP BY s.user_id, s.session_id
       ORDER BY s.user_id, s.session_id""",
    "q83_multimodal_features" ->
      """SELECT doc_id,
         CAST(64 * octet_length(encode(text)) AS BIGINT) AS n_bytes
       FROM documents ORDER BY doc_id""",
    "q84_frame_sample" ->
      """WITH n AS (
         SELECT doc_id,
           least(greatest(CAST(floor(16 * octet_length(encode(text)) / 1024.0)
             AS BIGINT), 1), 28) AS nf
         FROM documents)
       SELECT doc_id,
         CAST((nf - 1) // 7 + 1 AS BIGINT) AS n_frames,
         CAST(7 * ((nf - 1) // 7) AS INTEGER) AS max_frame
       FROM n ORDER BY doc_id""",
    "q95_video_roundtrip" ->
      """SELECT doc_id,
         CAST(16 + (doc_id % 4) * 8 AS INTEGER) AS width,
         CAST(16 AS INTEGER) AS height,
         CAST((doc_id % 5) // 2 + 1 AS BIGINT) AS n_sampled,
         CAST(2 * ((doc_id % 5) // 2) AS BIGINT) AS max_frame
       FROM documents ORDER BY doc_id""",
    "q97_audio_roundtrip" ->
      """SELECT doc_id,
         CAST(8000 AS INTEGER) AS sample_rate,
         CAST(1 AS INTEGER) AS channels,
         CAST(16 AS INTEGER) AS bits,
         CAST(64 + doc_id % 32 AS BIGINT) AS n_frames,
         (64 + doc_id % 32) / (8000.0::DOUBLE) AS duration_sec
       FROM documents ORDER BY doc_id""",
    "q100_ephys_composite" ->
      """WITH src AS (
         SELECT r AS onix_clock,
           ((r * 37) % 1000) * (0.195::DOUBLE) - 1000.0 AS ch0
         FROM generate_series(0, 599) AS t(r)
       ), w AS (
         SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), 0, 169, (0.001::DOUBLE), (3786912000.0::DOUBLE)),
           (CAST(1 AS BIGINT), 170, 429, (0.002::DOUBLE), (3786915600.0::DOUBLE)),
           (CAST(2 AS BIGINT), 430, 599, (0.003::DOUBLE), (3786919200.0::DOUBLE)))
           AS v(wid, onix_start, onix_end, slope, intercept)
       ), joined AS (
         SELECT w.wid, s.ch0,
           make_timestamp(CAST(round(((w.slope * s.onix_clock + w.intercept)
             + (-2082844800.0)) * 1000000.0) AS BIGINT)) AS harp_time
         FROM src s JOIN w
           ON s.onix_clock BETWEEN w.onix_start AND w.onix_end
       )
       SELECT wid, CAST(count(*) AS BIGINT) AS n_samples,
         min(ch0) AS ch0_min, max(ch0) AS ch0_max,
         round(avg(ch0), 4) AS ch0_mean,
         min(harp_time) AS t_first, max(harp_time) AS t_last
       FROM joined GROUP BY wid ORDER BY wid""",
    "q96_zarr_roundtrip" ->
      """SELECT CAST(r AS BIGINT) AS row_index,
         ((r * 31 +  0) % 4096) * (0.195::DOUBLE) - 1000.0 AS ch0,
         ((r * 31 + 13) % 4096) * (0.195::DOUBLE) - 1000.0 AS ch1,
         ((r * 31 + 26) % 4096) * (0.195::DOUBLE) - 1000.0 AS ch2,
         ((r * 31 + 39) % 4096) * (0.195::DOUBLE) - 1000.0 AS ch3
       FROM generate_series(0, 199) AS t(r) ORDER BY row_index""",
    // Both fingerprint replays (q233's image chain, q234's audio chain
    // under the independent //7 grouping) -> pair union -> recursive
    // reachability -> component minima (the q99 closure).
    "q241_multimodal_er" ->
      """WITH RECURSIVE ipx AS (
         SELECT d.doc_id, x.x, y.y,
           ((d.doc_id // 5) * 37 + x.x * (7 + (d.doc_id // 5) % 5)
            + y.y * (13 + (d.doc_id // 5) % 7)
            + (x.x * y.y) % (11 + (d.doc_id // 5) % 13) +
            CASE WHEN x.x < 4 AND y.y < 4 THEN (d.doc_id % 5) * 11
                 ELSE 0 END) % 256 AS v
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 35) x(x), generate_series(0, 31) y(y)),
       isum AS (
         SELECT doc_id, y // 4 AS r, x // 4 AS c, CAST(sum(v) AS BIGINT) AS s
         FROM ipx GROUP BY 1, 2, 3),
       ih AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.s > b.s
             THEN (CAST(1 AS HUGEINT) << (a.r * 8 + a.c))
             ELSE 0 END) AS HUGEINT) AS hu
         FROM isum a JOIN isum b ON b.doc_id = a.doc_id AND b.r = a.r
           AND b.c = a.c + 1
         WHERE a.c < 8 GROUP BY a.doc_id),
       isg AS (
         SELECT doc_id, hu,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS dh
         FROM ih),
       ibands AS (
         SELECT doc_id, dh, i.i AS band,
           CAST((hu >> (16 * i.i)) % 65536 AS BIGINT) AS block
         FROM isg, generate_series(0, 3) i(i)),
       ipairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM ibands a JOIN ibands b
           ON a.band = b.band AND a.block = b.block
             AND a.doc_id < b.doc_id
           JOIN isg sa ON sa.doc_id = a.doc_id
           JOIN isg sb ON sb.doc_id = b.doc_id
         WHERE bit_count(xor(sa.dh, sb.dh)) <= 4),
       asm AS (
         SELECT d.doc_id, i.i // 20 AS f,
           (((i.i % 20) + 1)
              * (37 + ((i.i // 20) * (3 + (d.doc_id // 7) % 13)
                       + (d.doc_id // 7)) % 23) +
            CASE WHEN i.i // 20 = 0 THEN (d.doc_id % 7) * 7 ELSE 0 END)
             % 2003 - 1001 AS s
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 1299) i(i)),
       ae AS (SELECT doc_id, f, CAST(sum(s * s) AS BIGINT) AS e
             FROM asm GROUP BY 1, 2),
       ahh AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.e > b.e
             THEN (CAST(1 AS HUGEINT) << a.f) ELSE 0 END) AS HUGEINT) AS hu
         FROM ae a JOIN ae b ON b.doc_id = a.doc_id AND b.f = a.f + 1
         WHERE a.f < 64 GROUP BY a.doc_id),
       asg AS (
         SELECT doc_id, hu,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS dh
         FROM ahh),
       abands AS (
         SELECT doc_id, dh, i.i AS band,
           CAST((hu >> (16 * i.i)) % 65536 AS BIGINT) AS block
         FROM asg, generate_series(0, 3) i(i)),
       apairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM abands a JOIN abands b
           ON a.band = b.band AND a.block = b.block
             AND a.doc_id < b.doc_id
           JOIN asg sa ON sa.doc_id = a.doc_id
           JOIN asg sb ON sb.doc_id = b.doc_id
         WHERE bit_count(xor(sa.dh, sb.dh)) <= 4),
       pairs AS (SELECT id_a, id_b FROM ipairs
                 UNION SELECT id_a, id_b FROM apairs),
       edges AS (
         SELECT id_a AS a, id_b AS b FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(n, m) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       comp AS (
         SELECT n AS did, least(min(m), n) AS entity FROM reach GROUP BY n)
       SELECT d.doc_id,
         coalesce(c.entity, d.doc_id) AS entity,
         coalesce(c.entity, d.doc_id) = d.doc_id AS is_canonical
       FROM documents d LEFT JOIN comp c ON d.doc_id = c.did
       ORDER BY d.doc_id""",
    // q233's replay with the frame dimension threaded through: per-frame
    // hashes, aligned-frame banding, summed bit_count verify.
    "q235_video_dhash_neardup" ->
      """WITH px AS (
         SELECT d.doc_id, fr.fr, x.x, y.y,
           ((d.doc_id // 5) * 37
            + x.x * (7 + ((d.doc_id // 5) + fr.fr) % 5)
            + y.y * (13 + ((d.doc_id // 5) + fr.fr) % 7)
            + (x.x * y.y) % (11 + ((d.doc_id // 5) * 2 + fr.fr) % 13) +
            CASE WHEN x.x < 4 AND y.y < 4 AND fr.fr = 0
                 THEN (d.doc_id % 5) * 11 ELSE 0 END) % 256 AS v
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 5) fr(fr),
           generate_series(0, 35) x(x), generate_series(0, 31) y(y)),
       s AS (
         SELECT doc_id, fr, y // 4 AS r, x // 4 AS c,
           CAST(sum(v) AS BIGINT) AS s
         FROM px GROUP BY 1, 2, 3, 4),
       h AS (
         SELECT a.doc_id, a.fr,
           CAST(sum(CASE WHEN a.s > b.s
             THEN (CAST(1 AS HUGEINT) << (a.r * 8 + a.c))
             ELSE 0 END) AS HUGEINT) AS hu
         FROM s a JOIN s b ON b.doc_id = a.doc_id AND b.fr = a.fr
           AND b.r = a.r AND b.c = a.c + 1
         WHERE a.c < 8 GROUP BY a.doc_id, a.fr),
       sg AS (
         SELECT doc_id, fr, hu,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS dh
         FROM h),
       bands AS (
         SELECT doc_id, fr, i.i AS band,
           CAST((hu >> (16 * i.i)) % 65536 AS BIGINT) AS block
         FROM sg, generate_series(0, 3) i(i)),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.fr = b.fr AND a.band = b.band AND a.block = b.block
             AND a.doc_id < b.doc_id),
       tot AS (
         SELECT c.id_a, c.id_b,
           CAST(sum(bit_count(xor(ha.dh, hb.dh))) AS INTEGER)
             AS total_hamming,
           CAST(count(*) AS INTEGER) AS n_frames
         FROM cand c
           JOIN sg ha ON ha.doc_id = c.id_a
           JOIN sg hb ON hb.doc_id = c.id_b AND hb.fr = ha.fr
         GROUP BY 1, 2)
       SELECT id_a, id_b, total_hamming, n_frames
       FROM tot WHERE total_hamming <= 6 ORDER BY id_a, id_b""",
    // Full envelope-hash replay: sample formula -> frame energies ->
    // sign bits -> HUGEINT wrap -> 16-bit bands -> bit_count.
    "q234_audio_energy_neardup" ->
      """WITH sm AS (
         SELECT d.doc_id, i.i // 20 AS f,
           (((i.i % 20) + 1)
              * (37 + ((i.i // 20) * (3 + (d.doc_id // 5) % 13)
                       + (d.doc_id // 5)) % 23) +
            CASE WHEN i.i // 20 = 0 THEN (d.doc_id % 5) * 7 ELSE 0 END)
             % 2003 - 1001 AS s
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 1299) i(i)),
       e AS (SELECT doc_id, f, CAST(sum(s * s) AS BIGINT) AS e
             FROM sm GROUP BY 1, 2),
       h AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.e > b.e
             THEN (CAST(1 AS HUGEINT) << a.f) ELSE 0 END) AS HUGEINT) AS hu
         FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
         WHERE a.f < 64 GROUP BY a.doc_id),
       sg AS (
         SELECT doc_id, hu,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS dh
         FROM h),
       bands AS (
         SELECT doc_id, dh, i.i AS band,
           CAST((hu >> (16 * i.i)) % 65536 AS BIGINT) AS block
         FROM sg, generate_series(0, 3) i(i)),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.block = b.block
             AND a.doc_id < b.doc_id)
       SELECT c.id_a, c.id_b, bit_count(xor(sa.dh, sb.dh)) AS hamming
       FROM cand c JOIN sg sa ON sa.doc_id = c.id_a
         JOIN sg sb ON sb.doc_id = c.id_b
       WHERE bit_count(xor(sa.dh, sb.dh)) <= 4
       ORDER BY id_a, id_b""",
    // Full replay: fixture arithmetic -> |dt|<=delta join (equivalent to
    // the engine's bucket+-1 join by construction) -> distinct-event
    // counts -> floor-div permille -> both mutual-best argmax windows.
    "q252_unit_matching" ->
      """WITH a AS (
         SELECT u.u AS unit,
           1000000 + k.k*10000 + u.u*97 + ((u.u*(k.k+3)) % 7)*3 AS us
         FROM generate_series(0,11) u(u), generate_series(200,399) k(k)),
       bt AS (
         SELECT (u.u*5+2) % 12 AS unit,
           1000000 + k.k*10000 + u.u*97 + ((u.u*(k.k+3)) % 7)*3
             + ((k.k % 3) - 1)*40 AS us
         FROM generate_series(0,11) u(u), generate_series(200,399) k(k)
         WHERE (k.k + u.u) % 5 <> 0),
       bn AS (
         SELECT u.u AS unit,
           1000000 + k.k*10000 + 5000 + (u.u-12)*97
             + ((u.u*(k.k+5)) % 7)*3 AS us
         FROM generate_series(12,13) u(u), generate_series(200,399) k(k)),
       b AS (SELECT * FROM bt UNION ALL SELECT * FROM bn),
       na AS (SELECT unit, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
       nb AS (SELECT unit, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1),
       cand AS (
         SELECT b.unit AS unit_a, a.unit AS unit_b, b.us AS ua, a.us AS ub
         FROM b JOIN a ON abs(b.us - a.us) <= 60),
       m AS (
         SELECT unit_a, unit_b,
           CAST(count(DISTINCT ua) AS BIGINT) AS coinc_a,
           CAST(count(DISTINCT ub) AS BIGINT) AS coinc_b
         FROM cand GROUP BY 1, 2),
       mx AS (
         SELECT m.unit_a, m.unit_b, na.n AS n_a, nb.n AS n_b,
           m.coinc_a, m.coinc_b,
           CAST(1000 * least(m.coinc_a, m.coinc_b)
             // (na.n + nb.n - least(m.coinc_a, m.coinc_b)) AS BIGINT)
             AS agreement_permille
         FROM m JOIN na ON na.unit = m.unit_a
           JOIN nb ON nb.unit = m.unit_b),
       mm AS (
         SELECT unit_a, unit_b FROM (
           SELECT unit_a, unit_b,
             row_number() OVER (PARTITION BY unit_a
               ORDER BY agreement_permille DESC, unit_b) AS ra,
             row_number() OVER (PARTITION BY unit_b
               ORDER BY agreement_permille DESC, unit_a) AS rb
           FROM mx WHERE agreement_permille >= 300)
         WHERE ra = 1 AND rb = 1)
       SELECT CAST(mx.unit_a AS BIGINT) AS unit_a,
         CAST(mx.unit_b AS BIGINT) AS unit_b, mx.n_a, mx.n_b,
         mx.coinc_a, mx.coinc_b, mx.agreement_permille,
         (mm.unit_a IS NOT NULL) AS is_match
       FROM mx LEFT JOIN mm ON mm.unit_a = mx.unit_a
         AND mm.unit_b = mx.unit_b
       ORDER BY mx.unit_a, mx.unit_b""",
    // Closed-form end state via the permutation inverses (5*5 = 7*7 = 1
    // mod 12): block 1 inherits u = 5(v-2) mod 12 and mints 12/13; block
    // 2 inherits through two hops. Any matching failure breaks the hash.
    "q253_global_units" ->
      """WITH b0 AS (
         SELECT CAST(0 AS BIGINT) AS block, u.u AS unit, u.u AS gid
         FROM generate_series(0,11) u(u)),
       b1 AS (
         SELECT CAST(1 AS BIGINT), v.v,
           CASE WHEN v.v >= 12 THEN v.v
             ELSE ((5*(v.v-2)) % 12 + 12) % 12 END
         FROM generate_series(0,13) v(v)),
       b2 AS (
         SELECT CAST(2 AS BIGINT), w.w,
           ((5*((((7*(w.w-4)) % 12 + 12) % 12) - 2)) % 12 + 12) % 12
         FROM generate_series(0,11) w(w))
       SELECT block, CAST(unit AS BIGINT) AS unit,
         CAST(gid AS BIGINT) AS global_unit
       FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1
             UNION ALL SELECT * FROM b2)
       ORDER BY block, unit""",
    // the size/delta/payload closed forms replayed with generate_series:
    // size(t,i) = 20 + (7i+3t)%13, dts = i·delta, weight = Σ (k+1)·byte.
    "q267_mp4_sample_index" ->
      """WITH tr AS (
         SELECT 1 AS t, 24 AS n, 3750 AS delta
         UNION ALL SELECT 2, 16, 5625),
       samp AS (
         SELECT tr.t, i.i AS idx, tr.delta,
           20 + (7 * i.i + 3 * tr.t) % 13 AS sz
         FROM tr, generate_series(0, 23) i(i) WHERE i.i < tr.n),
       w AS (
         SELECT s.t, s.idx, s.delta, s.sz,
           CAST(sum((k.k + 1) *
             ((s.idx * 31 + k.k * 7 + s.t * 11) % 256)) AS BIGINT) AS pw
         FROM samp s, generate_series(0, 39) k(k) WHERE k.k < s.sz
         GROUP BY s.t, s.idx, s.delta, s.sz)
       SELECT CAST(t AS BIGINT) AS track_id,
         CAST(idx AS BIGINT) AS sample_index,
         CAST(idx * delta AS BIGINT) AS dts_ticks,
         CAST(sz AS BIGINT) AS n_bytes,
         CASE WHEN t = 1 THEN idx % 6 = 0 ELSE TRUE END AS is_sync,
         pw AS payload_weight
       FROM w ORDER BY track_id, sample_index""",

    // yield rollup derived in SQL from q253's closed-form assignment —
    // same window/attribution logic as the operator.
    "q262_unit_yield" ->
      """WITH b0 AS (
         SELECT CAST(0 AS BIGINT) AS block, u.u AS unit, u.u AS gid
         FROM generate_series(0,11) u(u)),
       b1 AS (
         SELECT CAST(1 AS BIGINT), v.v,
           CASE WHEN v.v >= 12 THEN v.v
             ELSE ((5*(v.v-2)) % 12 + 12) % 12 END
         FROM generate_series(0,13) v(v)),
       b2 AS (
         SELECT CAST(2 AS BIGINT), w.w,
           ((5*((((7*(w.w-4)) % 12 + 12) % 12) - 2)) % 12 + 12) % 12
         FROM generate_series(0,11) w(w)),
       asn AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1
               UNION ALL SELECT * FROM b2),
       pres AS (SELECT DISTINCT block, gid FROM asn),
       f AS (SELECT block, gid,
           min(block) OVER (PARTITION BY gid) AS first_b,
           lag(block) OVER (PARTITION BY gid ORDER BY block) AS prev_b,
           lead(block) OVER (PARTITION BY gid ORDER BY block) AS next_b
         FROM pres),
       per AS (SELECT block, CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(CASE WHEN block = first_b THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN prev_b = block - 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_retained
         FROM f GROUP BY block),
       drp AS (SELECT block + 1 AS block,
           CAST(count(*) AS BIGINT) AS n_dropped
         FROM f WHERE block < 2 AND (next_b IS NULL OR next_b > block + 1)
         GROUP BY block + 1)
       SELECT per.block, n_units, n_new, n_retained,
         coalesce(n_dropped, 0) AS n_dropped
       FROM per LEFT JOIN drp USING (block) ORDER BY per.block""",
    // closed-form assignment x generate_series-replayed drop rules: the
    // per-(block, label) distinct-event counts are 400 (seeds / new
    // units), 320 (block-1 drop-every-5th), and 400 minus the k-range's
    // (k+u)%7 hits (block 2) — replayed literally, not hand-reduced.
    "q263_unit_longevity" ->
      """WITH b0 AS (
         SELECT CAST(0 AS BIGINT) AS block, u.u AS unit, u.u AS gid
         FROM generate_series(0,11) u(u)),
       b1 AS (
         SELECT CAST(1 AS BIGINT), v.v,
           CASE WHEN v.v >= 12 THEN v.v
             ELSE ((5*(v.v-2)) % 12 + 12) % 12 END
         FROM generate_series(0,13) v(v)),
       b2 AS (
         SELECT CAST(2 AS BIGINT), w.w,
           ((5*((((7*(w.w-4)) % 12 + 12) % 12) - 2)) % 12 + 12) % 12
         FROM generate_series(0,11) w(w)),
       asn AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1
               UNION ALL SELECT * FROM b2),
       c0 AS (SELECT CAST(0 AS BIGINT) AS block, u.u AS unit,
           CAST(count(*) AS BIGINT) AS n
         FROM generate_series(0,11) u(u), generate_series(0,399) k(k)
         GROUP BY u.u),
       c1 AS (SELECT CAST(1 AS BIGINT), (5*u.u+2) % 12,
           CAST(count(*) AS BIGINT)
         FROM generate_series(0,11) u(u), generate_series(200,599) k(k)
         WHERE (k.k + u.u) % 5 <> 0 GROUP BY u.u
         UNION ALL
         SELECT CAST(1 AS BIGINT), u.u, CAST(400 AS BIGINT)
         FROM generate_series(12,13) u(u)),
       c2 AS (SELECT CAST(2 AS BIGINT), (((5*u.u+2) % 12)*7 + 4) % 12,
           CAST(count(*) AS BIGINT)
         FROM generate_series(0,11) u(u), generate_series(400,799) k(k)
         WHERE (k.k + u.u) % 7 <> 0 GROUP BY u.u),
       cnt AS (SELECT * FROM c0 UNION ALL SELECT * FROM c1
               UNION ALL SELECT * FROM c2),
       j AS (SELECT a.gid, a.block, cnt.n
         FROM asn a JOIN cnt ON cnt.block = a.block AND cnt.unit = a.unit)
       SELECT CAST(gid AS BIGINT) AS global_unit,
         CAST(min(block) AS BIGINT) AS first_block,
         CAST(max(block) AS BIGINT) AS last_block,
         CAST(count(*) AS BIGINT) AS longevity,
         CAST(min(n) AS BIGINT) AS n_events_min,
         CAST(max(n) AS BIGINT) AS n_events_max,
         CAST(sum(n) AS BIGINT) AS n_events_total
       FROM j GROUP BY gid ORDER BY global_unit""",
    // drained == one-shot is the contract: q253's oracle verbatim.
    "q254_global_units_from_drain" ->
      """WITH b0 AS (
         SELECT CAST(0 AS BIGINT) AS block, u.u AS unit, u.u AS gid
         FROM generate_series(0,11) u(u)),
       b1 AS (
         SELECT CAST(1 AS BIGINT), v.v,
           CASE WHEN v.v >= 12 THEN v.v
             ELSE ((5*(v.v-2)) % 12 + 12) % 12 END
         FROM generate_series(0,13) v(v)),
       b2 AS (
         SELECT CAST(2 AS BIGINT), w.w,
           ((5*((((7*(w.w-4)) % 12 + 12) % 12) - 2)) % 12 + 12) % 12
         FROM generate_series(0,11) w(w))
       SELECT block, CAST(unit AS BIGINT) AS unit,
         CAST(gid AS BIGINT) AS global_unit
       FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1
             UNION ALL SELECT * FROM b2)
       ORDER BY block, unit""",
    // Both hash replays (q233's dHash, q234's energy hash) joined per doc.
    "q250_sql_fingerprints" ->
      """WITH px AS (
         SELECT d.doc_id, x.x, y.y,
           ((d.doc_id // 5) * 37 + x.x * (7 + (d.doc_id // 5) % 5)
            + y.y * (13 + (d.doc_id // 5) % 7)
            + (x.x * y.y) % (11 + (d.doc_id // 5) % 13) +
            CASE WHEN x.x < 4 AND y.y < 4 THEN (d.doc_id % 5) * 11
                 ELSE 0 END) % 256 AS v
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 35) x(x), generate_series(0, 31) y(y)),
       s AS (
         SELECT doc_id, y // 4 AS r, x // 4 AS c, CAST(sum(v) AS BIGINT) AS s
         FROM px GROUP BY 1, 2, 3),
       ih AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.s > b.s
             THEN (CAST(1 AS HUGEINT) << (a.r * 8 + a.c))
             ELSE 0 END) AS HUGEINT) AS hu
         FROM s a JOIN s b ON b.doc_id = a.doc_id AND b.r = a.r
           AND b.c = a.c + 1
         WHERE a.c < 8 GROUP BY a.doc_id),
       isg AS (
         SELECT doc_id,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS dhash
         FROM ih),
       sm AS (
         SELECT d.doc_id, i.i // 20 AS f,
           (((i.i % 20) + 1)
              * (37 + ((i.i // 20) * (3 + (d.doc_id // 5) % 13)
                       + (d.doc_id // 5)) % 23) +
            CASE WHEN i.i // 20 = 0 THEN (d.doc_id % 5) * 7 ELSE 0 END)
             % 2003 - 1001 AS s
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 1299) i(i)),
       e AS (SELECT doc_id, f, CAST(sum(s * s) AS BIGINT) AS e
             FROM sm GROUP BY 1, 2),
       ah AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.e > b.e
             THEN (CAST(1 AS HUGEINT) << a.f) ELSE 0 END) AS HUGEINT) AS hu
         FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
         WHERE a.f < 64 GROUP BY a.doc_id),
       asg AS (
         SELECT doc_id,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS ahash
         FROM ah)
       SELECT i.doc_id, i.dhash, a.ahash
       FROM isg i JOIN asg a ON a.doc_id = i.doc_id
       ORDER BY i.doc_id""",
    // drained ≡ one-shot is the contract: q233's oracle verbatim.
    "q242_image_neardup_from_drain" ->
      """WITH px AS (
         SELECT d.doc_id, x.x, y.y,
           ((d.doc_id // 5) * 37 + x.x * (7 + (d.doc_id // 5) % 5)
            + y.y * (13 + (d.doc_id // 5) % 7)
            + (x.x * y.y) % (11 + (d.doc_id // 5) % 13) +
            CASE WHEN x.x < 4 AND y.y < 4 THEN (d.doc_id % 5) * 11
                 ELSE 0 END) % 256 AS v
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 35) x(x), generate_series(0, 31) y(y)),
       s AS (
         SELECT doc_id, y // 4 AS r, x // 4 AS c, CAST(sum(v) AS BIGINT) AS s
         FROM px GROUP BY 1, 2, 3),
       h AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.s > b.s
             THEN (CAST(1 AS HUGEINT) << (a.r * 8 + a.c))
             ELSE 0 END) AS HUGEINT) AS hu
         FROM s a JOIN s b ON b.doc_id = a.doc_id AND b.r = a.r
           AND b.c = a.c + 1
         WHERE a.c < 8 GROUP BY a.doc_id),
       sg AS (
         SELECT doc_id, hu,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS dh
         FROM h),
       bands AS (
         SELECT doc_id, dh, i.i AS band,
           CAST((hu >> (16 * i.i)) % 65536 AS BIGINT) AS block
         FROM sg, generate_series(0, 3) i(i)),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.block = b.block
             AND a.doc_id < b.doc_id)
       SELECT c.id_a, c.id_b, bit_count(xor(sa.dh, sb.dh)) AS hamming
       FROM cand c JOIN sg sa ON sa.doc_id = c.id_a
         JOIN sg sb ON sb.doc_id = c.id_b
       WHERE bit_count(xor(sa.dh, sb.dh)) <= 4
       ORDER BY id_a, id_b""",
    // Full dHash replay: pixel formula -> block sums -> gradient bits ->
    // HUGEINT hash wrapped to signed 64 -> 16-bit bands -> bit_count.
    "q233_image_dhash_neardup" ->
      """WITH px AS (
         SELECT d.doc_id, x.x, y.y,
           ((d.doc_id // 5) * 37 + x.x * (7 + (d.doc_id // 5) % 5)
            + y.y * (13 + (d.doc_id // 5) % 7)
            + (x.x * y.y) % (11 + (d.doc_id // 5) % 13) +
            CASE WHEN x.x < 4 AND y.y < 4 THEN (d.doc_id % 5) * 11
                 ELSE 0 END) % 256 AS v
         FROM (SELECT doc_id FROM documents) d,
           generate_series(0, 35) x(x), generate_series(0, 31) y(y)),
       s AS (
         SELECT doc_id, y // 4 AS r, x // 4 AS c, CAST(sum(v) AS BIGINT) AS s
         FROM px GROUP BY 1, 2, 3),
       h AS (
         SELECT a.doc_id,
           CAST(sum(CASE WHEN a.s > b.s
             THEN (CAST(1 AS HUGEINT) << (a.r * 8 + a.c))
             ELSE 0 END) AS HUGEINT) AS hu
         FROM s a JOIN s b ON b.doc_id = a.doc_id AND b.r = a.r
           AND b.c = a.c + 1
         WHERE a.c < 8 GROUP BY a.doc_id),
       sg AS (
         SELECT doc_id, hu,
           CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
             THEN hu - CAST('18446744073709551616' AS HUGEINT)
             ELSE hu END AS BIGINT) AS dh
         FROM h),
       bands AS (
         SELECT doc_id, dh, i.i AS band,
           CAST((hu >> (16 * i.i)) % 65536 AS BIGINT) AS block
         FROM sg, generate_series(0, 3) i(i)),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.block = b.block
             AND a.doc_id < b.doc_id)
       SELECT c.id_a, c.id_b, bit_count(xor(sa.dh, sb.dh)) AS hamming
       FROM cand c JOIN sg sa ON sa.doc_id = c.id_a
         JOIN sg sb ON sb.doc_id = c.id_b
       WHERE bit_count(xor(sa.dh, sb.dh)) <= 4
       ORDER BY id_a, id_b""",
    "q199_zarr_blosc" ->
      """SELECT codec, CAST(r AS BIGINT) AS row_index,
         CASE WHEN codec = 'nczstd' AND r BETWEEN 128 AND 191 THEN -1000.0
           ELSE ((r * 37 +  0) % 4096) * (0.25::DOUBLE) - 1000.0 END AS ch0,
         CASE WHEN codec = 'nczstd' AND r BETWEEN 128 AND 191 THEN -1000.0
           ELSE ((r * 37 + 17) % 4096) * (0.25::DOUBLE) - 1000.0 END AS ch1,
         CASE WHEN codec = 'nczstd' AND r BETWEEN 128 AND 191 THEN -1000.0
           ELSE ((r * 37 + 34) % 4096) * (0.25::DOUBLE) - 1000.0 END AS ch2,
         CASE WHEN codec = 'nczstd' AND r BETWEEN 128 AND 191 THEN -1000.0
           ELSE ((r * 37 + 51) % 4096) * (0.25::DOUBLE) - 1000.0 END AS ch3
       FROM generate_series(0, 299) AS t(r),
         (VALUES ('lz4'), ('zstd'), ('bitlz4'), ('nclz4'), ('nczstd'),
                 ('blosclz'))
           AS c(codec)
       ORDER BY codec, row_index""",
    "q108_clock_roundtrip" ->
      """WITH src AS (
         SELECT k, r, CAST(k * 100000 + r * 1000 AS BIGINT) AS clock,
           ((k*31 + r*7) % 4096) * (0.195::DOUBLE) - 1000.0 AS ch0,
           ((k*31 + r*7 + 13) % 4096) * (0.195::DOUBLE) - 1000.0 AS ch1
         FROM generate_series(0, 5) t1(k), generate_series(0, 99) t2(r))
       SELECT CAST(clock // 100000 AS BIGINT) AS chunk,
         CAST(count(*) AS BIGINT) AS n,
         min(ch0) AS ch0_min, max(ch1) AS ch1_max,
         round(sum(ch0), 3) AS ch0_sum
       FROM src WHERE clock >= 150000 AND clock < 450000
       GROUP BY 1 ORDER BY 1""",
    "q109_imu_merge" ->
      """WITH rows_ AS (
         SELECT k, r FROM generate_series(0, 2) t1(k),
           generate_series(0, 69) t2(r)
         WHERE r < 50 + 10 * k)
       SELECT CAST(k AS BIGINT) AS chunk_index,
         CAST(k * 1000000 + 5000 + r * 250 AS BIGINT) AS clock,
         (k*1000 + r*4 + 1 + 0.00)::DOUBLE AS euler_x,
         (k*1000 + r*4 + 1 + 0.25)::DOUBLE AS euler_y,
         (k*1000 + r*4 + 1 + 0.50)::DOUBLE AS euler_z,
         (k*1000 + r*4 + 2 + 0.00)::DOUBLE AS gravity_x,
         (k*1000 + r*4 + 2 + 0.25)::DOUBLE AS gravity_y,
         (k*1000 + r*4 + 2 + 0.50)::DOUBLE AS gravity_z,
         (k*1000 + r*4 + 3 + 0.00)::DOUBLE AS linear_acceleration_x,
         (k*1000 + r*4 + 3 + 0.25)::DOUBLE AS linear_acceleration_y,
         (k*1000 + r*4 + 3 + 0.50)::DOUBLE AS linear_acceleration_z,
         (k*1000 + r*4 + 4 + 0.00)::DOUBLE AS quaternion_w,
         (k*1000 + r*4 + 4 + 0.25)::DOUBLE AS quaternion_x,
         (k*1000 + r*4 + 4 + 0.50)::DOUBLE AS quaternion_y,
         (k*1000 + r*4 + 4 + 0.75)::DOUBLE AS quaternion_z
       FROM rows_ ORDER BY chunk_index, clock""",
    "q110_metadata_regions" ->
      """SELECT CAST(k AS BIGINT) AS rig, cam AS camera, reg AS region,
         CAST(vi AS INTEGER) AS vertex_index, ax AS axis,
         (k*1000 + ci*100 + ri*10 + vi
           + CASE ax WHEN 'x' THEN 0.25 ELSE 0.75 END)::DOUBLE AS value
       FROM generate_series(0, 2) t(k)
       CROSS JOIN (VALUES ('side', 0), ('top', 1)) AS c(cam, ci)
       CROSS JOIN (VALUES ('Gate', 0, 3), ('Nest', 1, 4)) AS rg(reg, ri, nv)
       CROSS JOIN generate_series(0, 3) tv(vi)
       CROSS JOIN (VALUES ('x'), ('y')) a(ax)
       WHERE vi < nv
       ORDER BY rig, camera, region, vertex_index, axis""",
    "q111_chunk_discovery" ->
      """SELECT dev AS device, st AS stream,
         make_timestamp(2026, 4, e + 1, j * 6 + h, 0, 0) AS chunk_start,
         make_timestamp(2026, 4, e + 1, j * 6, 0, 0) AS epoch_start
       FROM generate_series(0, 1) t1(e)
       CROSS JOIN generate_series(0, 1) t2(j)
       CROSS JOIN (VALUES ('CameraTop', 'Video'), ('Patch1', 'State')) d(dev, st)
       CROSS JOIN generate_series(0, 1) t3(h)
       ORDER BY device, stream, epoch_start, chunk_start""",
    "q112_harp_csv" ->
      """WITH src AS (
         SELECT k, r,
           (3786912000.0::DOUBLE) + k * 100 + r * (0.5::DOUBLE) AS aeon_time,
           CAST(k * 100000 + r * 1000 AS BIGINT) AS clock
         FROM generate_series(0, 1) t1(k), generate_series(0, 19) t2(r))
       SELECT CAST(k AS BIGINT) AS fid,
         make_timestamp(CAST(round((aeon_time + (-2082844800.0))
           * 1000000.0) AS BIGINT)) AS time,
         aeon_time, clock, clock + 7 AS hub_clock,
         aeon_time + (0.25::DOUBLE) AS harp_time
       FROM src ORDER BY fid, clock""",
    "q113_idempotent_append" ->
      """SELECT CAST(k AS BIGINT) AS k, CAST(k * 3 + 1 AS BIGINT) AS v
       FROM generate_series(0, 499) t(k) ORDER BY k""",
    // The invalidate→repopulate end state replayed declaratively: users
    // ≡ 0 (mod 7) carry the v2 rule (non-view counts), everyone else v1.
    "q249_recuration" ->
      """WITH u AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_all,
           CAST(sum(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nonview
         FROM events GROUP BY user_id),
       f AS (
         SELECT user_id,
           CASE WHEN user_id % 7 = 0 THEN n_nonview ELSE n_all END
             AS n_events,
           CAST(CASE WHEN user_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS version
         FROM u)
       SELECT user_id, n_events, version,
         CAST(n_events * 10 + version AS BIGINT) AS score
       FROM f ORDER BY user_id""",
    // Wave order in closed form: %5 users re-curated last (v3, non-view
    // non-click counts), then %7 (v2), else the v1 bootstrap.
    "q255_recuration_from_drain" ->
      """WITH u AS (
         SELECT user_id,
           CAST(count(*) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
           CAST(sum(CASE WHEN event_type NOT IN ('view', 'click')
             THEN 1 ELSE 0 END) AS BIGINT) AS n3
         FROM events GROUP BY user_id),
       f AS (
         SELECT user_id,
           CASE WHEN user_id % 5 = 0 THEN n3
                WHEN user_id % 7 = 0 THEN n2 ELSE n1 END AS n_events,
           CAST(CASE WHEN user_id % 5 = 0 THEN 3
                     WHEN user_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS version
         FROM u)
       SELECT user_id, n_events, version,
         CAST(n_events * 10 + version AS BIGINT) AS score
       FROM f ORDER BY user_id""",
    "q168_snapshot_diff" ->
      """WITH a AS (
         SELECT c_custkey AS id, c_nationkey, c_mktsegment FROM customer),
       b AS (
         SELECT c_custkey AS id, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
             ELSE c_mktsegment END AS c_mktsegment
         FROM customer WHERE c_custkey % 97 <> 0
         UNION ALL
         SELECT c_custkey + 1000000, CAST(0 AS INTEGER), 'NEW'
         FROM customer WHERE c_custkey % 101 = 0),
       j AS (
         SELECT a.id AS aid, b.id AS bid,
           a.c_nationkey AS a1, a.c_mktsegment AS a2,
           b.c_nationkey AS n1, b.c_mktsegment AS n2
         FROM a FULL OUTER JOIN b ON a.id = b.id)
       SELECT metric, n FROM (
         SELECT 'added' AS metric, CAST(sum(CASE WHEN aid IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n FROM j
         UNION ALL
         SELECT 'removed', CAST(sum(CASE WHEN bid IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) FROM j
         UNION ALL
         SELECT 'changed', CAST(sum(CASE WHEN aid IS NOT NULL
           AND bid IS NOT NULL AND (a1 IS DISTINCT FROM n1
             OR a2 IS DISTINCT FROM n2) THEN 1 ELSE 0 END) AS BIGINT)
           FROM j
         UNION ALL
         SELECT 'changed:c_nationkey', CAST(sum(CASE WHEN aid IS NOT NULL
           AND bid IS NOT NULL AND a1 IS DISTINCT FROM n1
           THEN 1 ELSE 0 END) AS BIGINT) FROM j
         UNION ALL
         SELECT 'changed:c_mktsegment', CAST(sum(CASE WHEN aid IS NOT NULL
           AND bid IS NOT NULL AND a2 IS DISTINCT FROM n2
           THEN 1 ELSE 0 END) AS BIGINT) FROM j)
       ORDER BY metric""",
    // Both merges unrolled: j_k is the full-outer of step k's open rows
    // against snapshot k; the three branches + history pass-through
    // mirror Scd2.merge verbatim (IS NOT DISTINCT FROM = Spark's <=>).
    "q159_scd2_merge" ->
      s"""WITH $scd2CtesSql
       SELECT id, c_nationkey, c_mktsegment, valid_from, valid_to FROM m2
       ORDER BY id, valid_from""",

    // Validity-interval filter over the same merged dimension at a point
    // BETWEEN the two merges.
    "q193_scd2_asof" ->
      s"""WITH $scd2CtesSql
       SELECT id, c_nationkey, c_mktsegment FROM m2
       WHERE valid_from <= TIMESTAMP '2020-12-01 00:00:00'
         AND (valid_to IS NULL OR valid_to > TIMESTAMP '2020-12-01 00:00:00')
       ORDER BY id""",

    "q194_dense_ids" ->
      """SELECT doc_id, n_chars,
         CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)
           AS row_id
       FROM documents ORDER BY row_id""",

    "q123_compact_roundtrip" ->
      """SELECT 'p' || CAST(k % 3 AS VARCHAR) AS p,
         count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_k,
         CAST(sum(k * 7 % 31) AS BIGINT) AS sum_v,
         CAST(1 AS BIGINT) AS files_after
       FROM generate_series(0, 599) t(k)
       GROUP BY 1 ORDER BY p""",
    "q119_zorder_cells" -> {
      // the interleave replayed term-by-term: bit i of each dim lands at
      // position 2i / 2i+1 — identical shift/mask arithmetic in any engine
      val interleave = (0 until 8).flatMap(i => Seq(
        s"(((bu >> $i) & 1) << ${2 * i})",
        s"(((bt >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH b AS (
         SELECT ((user_id % 256) + 256) % 256 AS bu, -- pmod, not %: sign-safe
           ((epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
             * 256) // 2592000000000 AS bt
         FROM events),
       zc AS (SELECT $interleave AS z FROM b)
       SELECT z >> 8 AS cell, count(*) AS n_events,
         min(z) AS z_min, max(z) AS z_max
       FROM zc GROUP BY 1 ORDER BY 1"""
    }
  )

  /** DuckDB CTE chain replaying [[scd2MergedDim]] — exposes the merged
    * dimension as `m2(id, c_nationkey, c_mktsegment, valid_from,
    * valid_to)`; shared by the q159 and q193 oracles.
    */
  private lazy val scd2CtesSql: String =
    """dim0 AS (
         SELECT c_custkey AS id, c_nationkey, c_mktsegment,
           TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to
         FROM customer),
       snap1 AS (
         SELECT c_custkey AS id, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
             ELSE c_mktsegment END AS c_mktsegment
         FROM customer WHERE c_custkey % 97 <> 0
         UNION ALL
         SELECT c_custkey + 1000000, CAST(0 AS INTEGER), 'NEW'
         FROM customer WHERE c_custkey % 101 = 0),
       j1 AS (
         SELECT coalesce(c.id, s.id) AS id,
           c.id IS NOT NULL AS incur, s.id IS NOT NULL AS insnap,
           c.c_nationkey AS a1, c.c_mktsegment AS a2,
           s.c_nationkey AS n1, s.c_mktsegment AS n2, c.valid_from,
           (c.c_nationkey IS NOT DISTINCT FROM s.c_nationkey)
             AND (c.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment) AS same
         FROM (SELECT * FROM dim0 WHERE valid_to IS NULL) c
           FULL OUTER JOIN snap1 s ON c.id = s.id),
       m1 AS (
         SELECT id, c_nationkey, c_mktsegment, valid_from, valid_to
         FROM dim0 WHERE valid_to IS NOT NULL
         UNION ALL
         SELECT id, a1, a2, valid_from, CAST(NULL AS TIMESTAMP)
         FROM j1 WHERE incur AND insnap AND same
         UNION ALL
         SELECT id, a1, a2, valid_from, TIMESTAMP '2020-06-01 00:00:00'
         FROM j1 WHERE incur AND (NOT insnap OR NOT same)
         UNION ALL
         SELECT id, n1, n2, TIMESTAMP '2020-06-01 00:00:00',
           CAST(NULL AS TIMESTAMP)
         FROM j1 WHERE insnap AND (NOT incur OR NOT same)),
       snap2 AS (
         SELECT c_custkey AS id, c_nationkey, c_mktsegment FROM customer),
       j2 AS (
         SELECT coalesce(c.id, s.id) AS id,
           c.id IS NOT NULL AS incur, s.id IS NOT NULL AS insnap,
           c.c_nationkey AS a1, c.c_mktsegment AS a2,
           s.c_nationkey AS n1, s.c_mktsegment AS n2, c.valid_from,
           (c.c_nationkey IS NOT DISTINCT FROM s.c_nationkey)
             AND (c.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment) AS same
         FROM (SELECT * FROM m1 WHERE valid_to IS NULL) c
           FULL OUTER JOIN snap2 s ON c.id = s.id),
       m2 AS (
         SELECT id, c_nationkey, c_mktsegment, valid_from, valid_to
         FROM m1 WHERE valid_to IS NOT NULL
         UNION ALL
         SELECT id, a1, a2, valid_from, CAST(NULL AS TIMESTAMP)
         FROM j2 WHERE incur AND insnap AND same
         UNION ALL
         SELECT id, a1, a2, valid_from, TIMESTAMP '2021-06-01 00:00:00'
         FROM j2 WHERE incur AND (NOT insnap OR NOT same)
         UNION ALL
         SELECT id, n1, n2, TIMESTAMP '2021-06-01 00:00:00',
           CAST(NULL AS TIMESTAMP)
         FROM j2 WHERE insnap AND (NOT incur OR NOT same))"""

  /** The q159 two-merge SCD2 chain (shared by q159 and q193's as-of
    * read): dim0 = all customers open since 1995; merge 1 moves segment
    * for %7, deletes %97, inserts shifted %101; merge 2 restores the
    * original snapshot (revert + re-insert + close).
    */
  private def scd2MergedDim(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val attrs = Seq("c_nationkey", "c_mktsegment")
    val dim0 = cust.select(col("c_custkey").as("id"), col("c_nationkey"),
      col("c_mktsegment"),
      lit("1995-01-01 00:00:00").cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"))
    val snap1 = cust.filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey").as("id"), col("c_nationkey"),
        when(col("c_custkey") % 7 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(cust.filter(col("c_custkey") % 101 === 0)
        .select((col("c_custkey") + 1000000L).as("id"),
          lit(0).cast("int").as("c_nationkey"),
          lit("NEW").as("c_mktsegment")))
    val snap2 = cust.select(col("c_custkey").as("id"), col("c_nationkey"),
      col("c_mktsegment"))
    val d1 = graft.operators.Scd2.merge(dim0, snap1, "id", attrs,
      "valid_from", "valid_to",
      lit("2020-06-01 00:00:00").cast("timestamp"))
    graft.operators.Scd2.merge(d1, snap2, "id", attrs,
      "valid_from", "valid_to",
      lit("2021-06-01 00:00:00").cast("timestamp"))
  }
}
