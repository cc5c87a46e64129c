package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Populate

/** Physical layout utilities — the bronze-layer partitioning discipline
  * (SURVEY.md §7.1: parquet partitioned by `(experiment, device, stream,
  * chunk_start)` so every read is a pruned scan; the reference's codec
  * "decode" becomes partition pruning).
  *
  * At 100 TB the partition layout IS the index: a time-range query over a
  * month of one device touches that device's ~720 hourly partitions and
  * nothing else. `writeChunked`/`readChunk` make the contract concrete and
  * testable (LayoutSpec asserts the scan's file set actually shrinks).
  */
object Layout {

  /** Write a stream DataFrame partitioned by derived chunk columns
    * (`chunk_date`, `chunk_hour` from the event time) plus any logical keys.
    * Hive-style directories → partition pruning on equality/range filters
    * over the partition columns.
    */
  def writeChunked(df: DataFrame, path: String, tsCol: String,
                   keys: Seq[String] = Seq.empty): Unit =
    df.withColumn("chunk_date", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("chunk_hour", hour(col(tsCol)))
      .write
      .partitionBy(keys :+ "chunk_date" :+ "chunk_hour": _*)
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Linear map of an integral column over `[lo, hi]` onto the Morton grid
    * `[0, 2^bits)` — exact INTEGER arithmetic throughout (`(c-lo)·2^bits`
    * then integral division by the span; a double round-trip would lose
    * exactness once the product exceeds 2⁵³, e.g. microsecond timestamps
    * at bits=16), so the bucket — and everything z-ordered on it — replays
    * bit-for-bit in any engine with `//` (q119's DuckDB oracle).
    */
  def mortonBucket(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi]")
    require(bits >= 1 && bits <= 31, s"need 1 <= bits <= 31, got $bits")
    // (c-lo)·2^bits is computed in Long: reject spans where it could wrap
    // (a silent non-ANSI overflow would alias buckets with no error)
    require(hi - lo + 1 <= (Long.MaxValue >> bits),
      s"span ${hi - lo + 1} * 2^$bits overflows Long — use fewer bits or a " +
        "narrower range")
    import org.apache.spark.sql.GraftColumnBridge._
    column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      eagerExpression((c.cast("long") - lit(lo)) * lit(1L << bits)),
      eagerExpression(lit(hi - lo + 1))))
  }

  /** 2-D Morton (Z-order) code: interleave the low `bits` bits of two
    * bucketed dimensions (`a` even positions, `b` odd) into one long whose
    * ordering is the Z space-filling curve. Pure codegen'd bit arithmetic
    * (2·bits shift/mask terms), no UDF.
    *
    * Why it matters at 100 TB: sorting by `(t, u)` clusters files tightly
    * on `t` but leaves every file spanning ALL of `u`, so a predicate on
    * `u` skips nothing. Sorting by the z-value bounds EVERY file in BOTH
    * dimensions (a contiguous z-range is a union of small rectangles), so
    * parquet min/max stats skip files for rectangle queries on either or
    * both dimensions — the layout trick behind Delta/Iceberg `ZORDER BY`,
    * here as a plain column so it composes with any writer. LayoutSpec
    * measures the skip-rate difference on disk.
    */
  def morton2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"need 1 <= bits <= 31, got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }
  }

  /** Z-order a frame for writing: range-partition into `numFiles` output
    * tasks by the interleaved code and sort within each — every output file
    * then covers a contiguous z-range, i.e. a small rectangle stack in
    * (`a`, `b`) space, giving parquet file/row-group stats selectivity on
    * both dimensions. Layout-only: row VALUES are untouched, so this never
    * appears inside an oracled result, only in front of a writer. (Range
    * boundaries come from Spark's reservoir sampling — fine for layout,
    * where boundaries only need to exist, not reproduce; see shardByTokens'
    * scaladoc for why content-bearing assignments must not rely on it.)
    */
  def zorderBy(df: DataFrame, a: Column, b: Column, numFiles: Int,
               bits: Int = 16): DataFrame = {
    // morton2 reads only the low `bits` bits, so an unbucketed dimension
    // (ids in the millions at bits=16) would alias distant rows onto the
    // same z-code and the layout would QUIETLY stop skipping — the failure
    // is invisible until someone measures file envelopes. This is the
    // write-path entry point (a branch per row is noise next to the write),
    // so enforce the [0, 2^bits) contract loudly; bucket with
    // [[mortonBucket]] / pmod first.
    def checked(c: Column, name: String): Column =
      when(c.cast("long").between(0L, (1L << bits) - 1), c.cast("long"))
        .otherwise(raise_error(concat(
          lit(s"zorderBy: $name value "), c.cast("string"),
          lit(s" outside [0, 2^$bits) — bucket dimensions first " +
            "(mortonBucket/pmod)"))))
    df.withColumn("__z", morton2(checked(a, "a"), checked(b, "b"), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** One leaf directory's compaction outcome. */
  final case class CompactStat(dir: String, filesBefore: Int,
                               filesAfter: Int, bytes: Long)

  /** Compact a parquet table's small files in place: every leaf directory
    * (hive partition, or the root when unpartitioned) whose file count
    * exceeds `ceil(bytes / targetBytes)` is rewritten into that many
    * target-sized files. The steady-state killer this addresses at 100 TB:
    * hourly/streaming appends leave millions of KB-scale files, and scan
    * planning + task scheduling start costing more than the reads
    * (the V2 sources bin-pack at READ time; parquet tables also need the
    * layout itself fixed, or every downstream consumer pays the listing
    * tax forever).
    *
    * Shape: the driver walks the file listing (catalog-scale metadata —
    * names and sizes, never data), picks leaves needing work, and rewrites
    * each as its own Spark job — `coalesce(n)`, so the rewrite is a
    * shuffle-free read-merge-write; up to `maxConcurrent` leaves run as
    * concurrent jobs (independent leaves, one scheduler). Row values,
    * schema, and hive partition values (encoded in dir names, untouched)
    * are preserved exactly — q123 oracles a round trip through the rewrite.
    *
    * Each leaf is published through [[graft.operators.Populate.replaceAtomic]],
    * whose dot-prefixed staged sibling is invisible to readers listing the
    * table. A crash mid-swap leaves either the old leaf (staged superseded,
    * retired on the next run) or a completeness-marked staged dir with the
    * leaf missing, which the next [[compact]] call publishes through the
    * reader's recovery step before planning (spec-pinned). Re-running after
    * success is a no-op: compacted leaves no longer exceed their target
    * file count.
    */
  def compact(spark: SparkSession, tablePath: String,
              targetBytes: Long = 128L << 20,
              maxConcurrent: Int = 8): Seq[CompactStat] = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0 && maxConcurrent > 0,
      "targetBytes and maxConcurrent must be positive")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    def isVisible(name: String) = !name.startsWith(".") && !name.startsWith("_")
    // a staged sibling left by a crashed rewrite: `compact` is the writer,
    // so beside a live leaf it is a superseded attempt and retired; with
    // the leaf gone, the reader's recovery step publishes it if complete.
    // True when the leaf was recovered.
    def settle(leaf: Path, staged: Path): Boolean =
      if (fs.exists(leaf)) { fs.delete(staged, true); false }
      else {
        require(Populate.recoverStaged(fs, leaf), s"compact: $staged has no " +
          s"completeness marker and $leaf is gone — inconsistent state, not " +
          "auto-fixable")
        true
      }

    // the root's staged sibling lives NEXT TO the root, so the in-tree
    // walk below never sees it — settle it first
    val rootStaged = Populate.stagedFor(root)
    if (fs.exists(rootStaged)) settle(root, rootStaged)

    // pass 1 — settle staged leftovers, then list leaf contents
    val leaves = scala.collection.mutable.Map.empty[Path, Vector[(String, Long)]]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      Populate.stagedTarget(st.getPath).filter(_ => st.isDirectory) match {
        case Some(leaf) => if (settle(leaf, st.getPath)) walk(leaf)
        case None if st.isDirectory && isVisible(name) => walk(st.getPath)
        case None if st.isFile && isVisible(name) =>
          leaves.updateWith(st.getPath.getParent)(prev =>
            Some(prev.getOrElse(Vector.empty) :+ (name, st.getLen)))
        case None => ()
      }
    }
    walk(root)

    val work = leaves.toSeq.sortBy(_._1.toString).flatMap { case (leaf, files) =>
      val bytes = files.map(_._2).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.size > n) Some((leaf, files.size, n, bytes)) else None
    }

    // pass 2 — rewrite each selected leaf as its own (concurrent) job
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, math.max(1, work.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val stats = work.map { case (leaf, before, n, bytes) => Future {
        Populate.replaceAtomic(
          spark.read.parquet(leaf.toString).coalesce(n), leaf.toString)
        val after = fs.listStatus(leaf)
          .count(st => st.isFile && isVisible(st.getPath.getName))
        CompactStat(leaf.toString, before, after, bytes)
      }}
      stats.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  /** Pruned read of one time range [start, end): lexicographic
    * (chunk_date, chunk_hour) bounds as partition filters — only the hourly
    * partitions intersecting the range are listed/read — plus the exact row
    * predicate for sub-hour boundaries. LayoutSpec asserts the executed
    * scan's numFiles equals the intersecting hour count.
    */
  def readRange(spark: SparkSession, path: String, tsCol: String,
                start: String, end: String): DataFrame = {
    val s = to_timestamp(lit(start))
    val e = to_timestamp(lit(end))
    val eIncl = e - expr("INTERVAL 1 MICROSECOND") // end is exclusive
    val sd = date_format(s, "yyyy-MM-dd"); val sh = hour(s)
    val ed = date_format(eIncl, "yyyy-MM-dd"); val eh = hour(eIncl)
    spark.read.parquet(path)
      .filter(col("chunk_date") > sd ||
        (col("chunk_date") === sd && col("chunk_hour") >= sh))
      .filter(col("chunk_date") < ed ||
        (col("chunk_date") === ed && col("chunk_hour") <= eh))
      .filter(col(tsCol) >= s && col(tsCol) < e)
  }

  /** DENSE 0-based ids in `orderCols` order WITHOUT a global window — the
    * scalable `row_number` (vocabulary/token-id assignment, stable export
    * ordinals): range-partition on the order key, rank WITHIN each
    * partition, then add each partition's start offset (row counts roll
    * up driver-side — `numRanges` longs, O(1) state). Range partitions
    * are order-contiguous, so offset + local rank IS the global rank; no
    * single-partition `WindowExec` ever runs (spec-asserted).
    *
    * `orderCols` must be a UNIQUE key for a deterministic assignment
    * (ties still get distinct dense ids, but their relative order follows
    * partition placement); the oracle contract is
    * `row_number() OVER (ORDER BY orderCols) - 1`.
    */
  def assignDenseIds(df: DataFrame, orderCols: Seq[String],
                     idName: String = "row_id",
                     numRanges: Int = 64): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(numRanges >= 1, "numRanges must be >= 1")
    val keys = orderCols.map(col)
    // CUT after the range shuffle: repartitionByRange SAMPLES its bounds
    // with a per-evaluation seed, and the frame is consumed twice (offset
    // counts + the ranked output) — uncut, the two evaluations can land
    // different boundaries and the offsets lie. localCheckpoint(eager)
    // pins ONE materialization (the Dedup.Checkpointer discipline).
    val parted = df.repartitionByRange(numRanges, keys: _*)
      .withColumn("__pid", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint(true)
    val counts = parted.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).zip(counts.map(_._1))
      .map { case (off, pid) => (pid, off) }
    val offDf = org.apache.spark.sql.functions.broadcast(
      df.sparkSession.createDataFrame(offsets.toSeq)
        .toDF("__pid", "__off"))
    val w = Window.partitionBy(col("__pid"))
      .orderBy(keys: _*)
    parted.join(offDf, Seq("__pid"))
      .withColumn(idName,
        (col("__off") + row_number().over(w) - 1L).cast("long"))
      .drop("__pid", "__off")
  }
}
