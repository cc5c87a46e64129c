package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup, IntervalJoin, Populate, Sessionize}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOfJoin.backward pads latest right value at-or-before, per key") {
    val left = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1),
      ("a", ts("2024-01-01 11:00:00"), 2),
      ("a", ts("2024-01-01 09:00:00"), 0),
      ("b", ts("2024-01-01 10:30:00"), 3)
    ).toDF("k", "t", "row")
    val right = Seq(
      ("a", ts("2024-01-01 09:30:00"), "x1"),
      ("a", ts("2024-01-01 11:00:00"), "x2"), // exact tie with left row 2
      ("b", ts("2024-01-01 11:00:00"), "x3")  // after b's probe: no match
    ).toDF("k", "rt", "v")

    val out = AsOfJoin.backward(left, right, "t", "rt", keys = Seq("k"))
      .select("k", "row", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet

    assert(out == Set(
      ("a", 0, None),          // before first right row
      ("a", 1, Some("x1")),    // strictly-before match
      ("a", 2, Some("x2")),    // backward-INCLUSIVE exact tie
      ("b", 3, None)))         // right row is in the future
  }

  test("AsOfJoin preserves every left row (left-join semantics)") {
    val left = Seq(("a", ts("2024-01-01 00:00:00"), 1)).toDF("k", "t", "row")
    val right = Seq(("zzz", ts("2024-01-01 00:00:00"), "v")).toDF("k", "rt", "v")
    assert(AsOfJoin.backward(left, right, "t", "rt", Seq("k")).count() == 1)
  }

  test("IntervalJoin.pointInInterval: half-open with null-open end") {
    val pts = Seq(("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 12:00:00")),
      ("b", ts("2024-01-01 10:00:00"))).toDF("k", "p")
    val iv = Seq(("a", ts("2024-01-01 09:00:00"), Some(ts("2024-01-01 12:00:00"))),
      ("b", ts("2024-01-01 09:00:00"), None))
      .toDF("ik", "s", "e")
    val out = IntervalJoin.pointInInterval(pts, iv,
      point = col("p"), start = col("s"), end = col("e"),
      extraCond = col("k") === col("ik"))
      .select("k", "p").collect().map(r => (r.getString(0), r.getTimestamp(1))).toSet
    // 12:00 excluded (end-exclusive); b's open interval matches.
    assert(out == Set(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:00:00"))))
  }

  test("IntervalJoin.overlapBucketed equals naive overlap join incl. straddlers") {
    // Intervals deliberately straddle bucket boundaries (SURVEY.md §7.5.4:
    // 1:1-aligned fixtures masked a real bug in the reference's history).
    val left = Seq((1L, 0L, 250L), (2L, 300L, 1000L), (3L, 990L, 995L))
      .toDF("lid", "ls", "le")
    val right = Seq((10L, 200L, 400L), (11L, 999L, 2000L), (12L, 3000L, 4000L))
      .toDF("rid", "rs", "re")
    val got = IntervalJoin.overlapBucketed(left, right, "ls", "le", "rs", "re",
      bucketWidth = 100L, leftKeys = Seq("lid"), rightKeys = Seq("rid"))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L, 10L), (2L, 10L), (2L, 11L)) // closed-interval overlap
    assert(got == want)
  }

  test("IntervalJoin.pointInInterval: inclusiveEnd keeps the boundary point") {
    val pts = Seq(("a", 100L), ("a", 50L)).toDF("k", "p")
    val iv = Seq(("a", 0L, 100L)).toDF("ik", "s", "e")
    def hits(incl: Boolean) = IntervalJoin.pointInInterval(pts, iv,
      point = col("p"), start = col("s"), end = col("e"),
      extraCond = col("k") === col("ik"), inclusiveEnd = incl)
      .select("p").as[Long].collect().toSet
    // A spike exactly at the window's last sync sample must match under the
    // closed (reference ephys.py:625 BETWEEN) semantics, not under half-open.
    assert(hits(incl = true) == Set(50L, 100L))
    assert(hits(incl = false) == Set(50L))
  }

  test("IntervalJoin.overlapBucketed: null end capped at horizon, error without") {
    val left = Seq((1L, 0L, Some(250L)), (2L, 500L, None)).toDF("lid", "ls", "le")
    val right = Seq((10L, 200L, 400L), (11L, 900L, 1000L)).toDF("rid", "rs", "re")
    val got = IntervalJoin.overlapBucketed(left, right, "ls", "le", "rs", "re",
      bucketWidth = 100L, leftKeys = Seq("lid"), rightKeys = Seq("rid"),
      openEndHorizon = Some(1000L))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Open interval [500, null) reaches the horizon → overlaps right 11;
    // its original le column survives as NULL in the output.
    assert(got == Set((1L, 10L), (2L, 11L)))
    val err = intercept[Exception] {
      IntervalJoin.overlapBucketed(left, right, "ls", "le", "rs", "re",
        bucketWidth = 100L, leftKeys = Seq("lid"), rightKeys = Seq("rid")).count()
    }
    assert(err.getMessage.contains("openEndHorizon") ||
      Option(err.getCause).exists(_.getMessage.contains("openEndHorizon")))
  }

  // the count of WindowExec nodes running with an EMPTY partition spec —
  // the silent single-partition scale killer the keyed entry points must
  // never plan (AQE hides finalized stages behind wrapper nodes)
  private def emptyPartWindows(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    df.collect() // finalize the adaptive plan
    def walk(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case w: WindowExec => w +: w.children.flatMap(walk)
      case o => o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).count(_.partitionSpec.isEmpty)
  }

  test("window operators reject empty keys; keyed plans have no global window") {
    val left = Seq(("a", ts("2024-01-01 10:00:00"), 1)).toDF("k", "t", "row")
    val right = Seq(("a", ts("2024-01-01 09:30:00"), "x")).toDF("k", "rt", "v")
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(left, right, "t", "rt", keys = Seq.empty)
    }
    val sess = Seq(("a", ts("2024-01-01 10:00:00"))).toDF("k", "t")
    intercept[IllegalArgumentException] {
      Sessionize.byGap(sess, "t", Seq.empty, gapSeconds = 60)
    }
    intercept[IllegalArgumentException] {
      Sessionize.byBoundary(sess, "t", Seq.empty, lit(true))
    }
    intercept[IllegalArgumentException] {
      graft.pipelines.CameraQC.frameDeltas(
        Seq((ts("2024-01-01 10:00:00"), 1L, 1L, 1L))
          .toDF("time", "hw_counter", "hw_timestamp", "frame"), Seq.empty)
    }
    // the keyed paths never plan a global (empty-partition) WindowExec
    assert(emptyPartWindows(
      AsOfJoin.backward(left, right, "t", "rt", keys = Seq("k"))) == 0)
    assert(emptyPartWindows(
      Sessionize.byGap(sess, "t", Seq("k"), gapSeconds = 60)) == 0)
  }

  test("explicit *Global variants keep the unkeyed semantics") {
    val left = Seq((ts("2024-01-01 10:00:00"), 1), (ts("2024-01-01 11:00:00"), 2))
      .toDF("t", "row")
    val right = Seq((ts("2024-01-01 10:30:00"), "x")).toDF("rt", "v")
    val out = AsOfJoin.backwardGlobal(left, right, "t", "rt")
      .select("row", "v").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSet
    assert(out == Set((1, None), (2, Some("x"))))

    val sess = Seq(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:30"),
      ts("2024-01-01 11:00:00")).map(Tuple1(_)).toDF("t")
    val ids = Sessionize.byGapGlobal(sess, "t", gapSeconds = 60)
      .orderBy("t").select("session_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 0L, 1L))
    val bids = Sessionize.byBoundaryGlobal(sess, "t", col("t") === ts("2024-01-01 11:00:00"))
      .orderBy("t").select("session_id").collect().map(_.getLong(0)).toSeq
    assert(bids == Seq(0L, 0L, 1L))
  }

  test("Sessionize.byGap: new session when gap exceeds threshold") {
    val df = Seq(
      ("u", ts("2024-01-01 10:00:00")),
      ("u", ts("2024-01-01 10:10:00")),
      ("u", ts("2024-01-01 11:00:00")), // 50 min gap > 30 min
      ("v", ts("2024-01-01 10:00:00"))
    ).toDF("k", "t")
    val out = Sessionize.byGap(df, "t", Seq("k"), gapSeconds = 1800)
      .select("k", "t", "session_id").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(out == Set(
      ("u", ts("2024-01-01 10:00:00"), 0L),
      ("u", ts("2024-01-01 10:10:00"), 0L),
      ("u", ts("2024-01-01 11:00:00"), 1L),
      ("v", ts("2024-01-01 10:00:00"), 0L)))
  }

  test("Dedup.keepFirst keeps the lowest order key per group") {
    val df = Seq(("x", 3), ("x", 1), ("y", 2)).toDF("k", "id")
    val out = Dedup.keepFirst(df, Seq("k"), "id")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("x", 1), ("y", 2)))
  }

  test("Dedup.exactByText dedups on normalized text") {
    val df = Seq(
      (1L, "Hello,   World!"),
      (2L, "hello world"),      // same after normalization
      (3L, "different doc")
    ).toDF("doc_id", "text")
    val kept = Dedup.exactByText(df, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("Dedup MinHash+LSH finds the planted near-dup pair and skips distinct docs") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"word$i").mkString(" ")
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 32, shingleN = 3)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("ngramJaccard: identical docs = 1.0, disjoint docs = 0.0") {
    val df = Seq(("a b c d e", "a b c d e", "x y z w v")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.ngramJaccard("t1", "t2", 3).as("same"),
      Dedup.ngramJaccard("t1", "t3", 3).as("diff")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("lshCandidates honors the maxBucket cap (boilerplate buckets dropped)") {
    // five identical docs share every (band, bucket): C(5,2)=10 pairs when
    // the cap allows the bucket, zero when the bucket exceeds it
    val text = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = (1L to 5L).map(i => (i, text)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 32, shingleN = 3)
    assert(Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 4).count() == 10)
    assert(Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 4,
      maxBucket = 4).count() == 0)
  }

  test("pair expansion caps group size BEFORE collect_list (spill-safe window count)") {
    // The flooded-bucket cap must drop oversized groups without ever
    // materializing them in an aggregation buffer: the plan must count group
    // sizes in a (spill-safe) Window and filter before the collect_list
    // aggregate — and the window's partitioning must be reused, so the
    // pair-expansion segment still has exactly one shuffle.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val text = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = (1L to 5L).map(i => (i, text)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignaturesFused(docs, "doc_id", "text", numHashes = 32)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 4)
    cands.collect() // materialize so AQE's final plan is available
    val plan = cands.queryExecution.executedPlan
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      p +: kids.flatMap(walk)
    }
    val nodes = walk(plan)
    val collectAgg = nodes.find {
      case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(_.toString.contains("collect_list"))
      case a: SortAggregateExec => a.aggregateExpressions.exists(_.toString.contains("collect_list"))
      case a: HashAggregateExec => a.aggregateExpressions.exists(_.toString.contains("collect_list"))
      case _ => false
    }
    assert(collectAgg.isDefined, "expected a collect_list aggregate in the plan")
    // Below the collect_list aggregate: a Window (group-size count) and
    // exactly one shuffle — the window filter rides the same exchange.
    val below = walk(collectAgg.get)
    assert(below.exists(_.isInstanceOf[WindowExec]),
      "group-size cap must be a Window count below the collect_list aggregate")
    assert(below.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      "pair expansion must keep a single shuffle (window partitioning reused)")
  }

  test("simhashNearDup: identical docs pair at hamming 0; disjoint docs don't pair") {
    val base = (1 to 100).map(i => s"word$i").mkString(" ")
    val other = (500 to 600).map(i => s"tok$i").mkString(" ")
    val sigs = Dedup.simhashSignatures(
      Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text"),
      "doc_id", "text")
    val pairs = Dedup.simhashNearDup(sigs, "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("overlapPairs: maxDf drops boilerplate fingerprints, minShared gates pairs") {
    // fp=100 appears in 25 docs (> maxDf=20) — boilerplate, must not pair.
    // docs 1,2 share three rare fps -> pair; docs 3,4 share only two -> no pair.
    val fps = (
      (1L, Seq(100L, 1L, 2L, 3L)) +: (2L, Seq(100L, 1L, 2L, 3L)) +:
      (3L, Seq(100L, 11L, 12L)) +: (4L, Seq(100L, 11L, 12L)) +:
      (5L to 25L).map(i => (i, Seq(100L)))).toDF("doc_id", "fingerprints")
    val out = Dedup.overlapPairs(fps, "doc_id", minShared = 3, maxDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 3L)))
  }

  test("minhashJaccard unrolled overload equals the lambda form") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f x y"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 16, shingleN = 2)
    val a = sigs.select(col("doc_id").as("id_a"), col("minhash").as("ma"))
    val b = sigs.select(col("doc_id").as("id_b"), col("minhash").as("mb"))
    val both = a.join(b, col("id_a") < col("id_b"))
      .select(Dedup.minhashJaccard("ma", "mb").as("lambda"),
        Dedup.minhashJaccard("ma", "mb", 16).as("unrolled"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(both.length == 3)
  }

  test("withHashedShingles jaccard equals string-shingle jaccard") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u")
    ).toDF("doc_id", "text")
    def pairsOf(sh: org.apache.spark.sql.DataFrame, c: String) = {
      val a = sh.select(col("doc_id").as("id_a"), col(c).as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col(c).as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6).as("j"))
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val viaStrings = pairsOf(Dedup.withShingles(docs, "doc_id", "text", 3), "shingles")
    val viaHashes = pairsOf(Dedup.withHashedShingles(docs, "doc_id", "text", 3), "shingle_hashes")
    assert(viaStrings == viaHashes && viaStrings.head._3 > 0.0)
  }

  test("ngramRepetition: alternating text has duplicate-bigram fraction 0.5") {
    val docs = Seq((1L, "a b a b a"), (2L, "v w x y z")).toDF("doc_id", "text")
    val out = Dedup.ngramRepetition(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
    // "a b a b a": bigrams [a b, b a, a b, b a] -> 4 total, 2 distinct
    assert(out(0).getLong(1) == 4 && out(0).getLong(2) == 2)
    assert(out(0).getDouble(3) == 0.5)
    assert(out(1).getLong(1) == 4 && out(1).getDouble(3) == 0.0)
  }

  test("repeatedSpans: shared run merges to one maximal span; intra-doc repeats don't count") {
    // docs 1/2 share a 6-token run embedded in different contexts (n=4 →
    // windows at offsets covering the run must merge into ONE span); doc 3
    // repeats a phrase only within itself (distinct-doc df stays 1); doc 4
    // is unrelated
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two $shared nine ten"),
      (2L, s"u v w $shared x y z"),
      (3L, "p q r s p q r s p q r s"),
      (4L, "completely different words here entirely now")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: run starts at token 2, 6 tokens → [2, 8); doc 2: starts at 3 → [3, 9)
    assert(spans.toSeq == Seq((1L, 2L, 8L), (2L, 3L, 9L)))
  }

  test("repeatedSpans: minDf above the actual df yields no spans") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(docs, "doc_id", "text", n = 4, minDf = 3).count() == 0)
    assert(Dedup.repeatedSpans(docs, "doc_id", "text", n = 4, minDf = 2).count() == 2)
  }

  test("decontaminateSpans excises exactly the bench-overlapping spans") {
    val leaked = "what is the capital of france answer paris obviously"
    val docs = Seq(
      (1L, s"intro words here $leaked closing remarks follow now"),
      (2L, "completely unrelated content with no benchmark overlap at all"),
      (3L, leaked)).toDF("doc_id", "text")
    val bench = Seq((100L, leaked)).toDF("bench_id", "btext")
    val out = Dedup.decontaminateSpans(docs, "doc_id", "text",
        bench, "bench_id", "btext", n = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    // doc 1: the 9 leaked tokens go, context stays; doc 2 untouched;
    // doc 3 (pure leak) cleans to empty but KEEPS its row
    assert(out(0) == (1L, 16L, 9L,
      "intro words here closing remarks follow now"))
    assert(out(1)._3 == 0L)
    assert(out(1)._4 == "completely unrelated content with no benchmark overlap at all")
    assert(out(2) == (3L, 9L, 9L, ""))
    // a bench snippet shorter than the window flags nothing
    val none = Dedup.decontaminateSpans(docs, "doc_id", "text",
      Seq((101L, "too short")).toDF("bench_id", "btext"),
      "bench_id", "btext", n = 4)
    assert(none.agg(sum(col("n_removed"))).head.getLong(0) == 0L)
  }

  test("removeRepeatedSpans cuts exactly the span tokens; full copies clean to empty") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two $shared nine ten"),
      (2L, s"u v w $shared x y z"),
      (3L, "untouched unique sentence stays whole here"),
      (10L, "exact copy of this entire document text body"),
      (11L, "exact copy of this entire document text body")).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_tokens", "n_removed").collect()
    assert(out(0).getString(1) == "one two nine ten")
    assert(out(0).getLong(2) == 10 && out(0).getLong(3) == 6)
    assert(out(1).getString(1) == "u v w x y z")
    // no-span doc keeps its full normalized text, zero removed
    assert(out(2).getString(1) == "untouched unique sentence stays whole here")
    assert(out(2).getLong(3) == 0)
    // exact copies: every window shared → whole doc is one span → empty
    assert(out(3).getString(1) == "" && out(3).getLong(3) == 8)
    assert(out(4).getString(1) == "" && out(4).getLong(3) == 8)
  }

  test("decontaminate flags docs sharing an n-gram with the benchmark set") {
    val corpus = Seq(
      // full copy of bench text → contaminated by bench doc 100
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      // embeds bench 101's 8-gram inside unrelated text
      (2L, "intro words then alpha beta gamma delta epsilon zeta eta theta and more"),
      // clean doc, same vocabulary but no shared 8-gram
      (3L, "fox dog quick brown lazy the over jumps dog the fox"),
      // too short for any 8-gram: row must survive with zeros
      (4L, "short doc")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")

    val out = graft.operators.Dedup
      .decontaminate(corpus, "doc_id", "text", bench, "doc_id", "text", n = 8)
      .orderBy("doc_id").collect()

    assert(out.length == 4, "every corpus row survives")
    val byId = out.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_contaminated_ngrams"), r.getAs[Long]("n_benchmark_docs"),
        r.getAs[Boolean]("contaminated"))).toMap
    assert(byId(1L)._3 && byId(1L)._1 == 3 && byId(1L)._2 == 1,
      "10-word copy shares all three 8-grams with bench 100")
    assert(byId(2L)._3 && byId(2L)._1 == 1 && byId(2L)._2 == 1)
    assert(!byId(3L)._3 && byId(3L)._1 == 0 && byId(3L)._2 == 0)
    assert(!byId(4L)._3 && byId(4L)._1 == 0)

    // the benchmark side must broadcast: corpus text never shuffles for this
    val plan = graft.operators.Dedup
      .decontaminate(corpus, "doc_id", "text", bench, "doc_id", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("decontaminateBloom: flags are one-sided — never misses an exact hit") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "intro words then alpha beta gamma delta epsilon zeta eta theta and more"),
      (3L, "fox dog quick brown lazy the over jumps dog the fox"),
      (4L, "short doc")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")

    // adequately sized filter (2^20 bits for ~10 bench shingles): zero
    // collisions, so the screen reproduces the exact counts bit-for-bit
    val wide = Dedup.decontaminateBloom(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 8, mBits = 1 << 20, k = 3)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_flagged_ngrams"), r.getAs[Boolean]("contaminated"))).toMap
    assert(wide(1L) == (3L, true), "full copy: all three 8-grams flagged")
    assert(wide(2L) == (1L, true))
    assert(wide(3L) == (0L, false))
    assert(wide(4L) == (0L, false), "sub-8-word doc survives with zeros")

    // degenerate 64-bit filter: positions collide massively — the failure
    // mode must be OVER-flagging (false positives), never a miss
    val tiny = Dedup.decontaminateBloom(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 8, mBits = 64, k = 1)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_flagged_ngrams"), r.getAs[Boolean]("contaminated"))).toMap
    assert(tiny(1L)._2 && tiny(2L)._2, "exact hits still flagged at any m")
    assert(tiny(1L)._1 >= 3L && tiny(2L)._1 >= 1L,
      "per-doc flagged counts can only grow as m shrinks")
    assert(tiny(4L) == (0L, false), "no shingles -> nothing to falsely flag")
  }

  test("benchBloomBits matches an independent driver-side build; probes are bit-exact") {
    val mBits = 4096
    val k = 3
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val bits = Dedup.benchBloomBits(bench, "doc_id", "text", n = 4,
      mBits = mBits, k = k)
    assert(bits.length == mBits / 64)

    // independent reference: shingle + hash + probe recomputed from scratch
    // on the driver (md5 hex slices + the piecewise Kirsch–Mitzenmacher
    // arithmetic), no Spark code in the loop
    def h(s: String, lo: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(lo, lo + 15), 16)
    }
    val expected = new Array[Long](mBits / 64)
    for {
      text <- Seq("alpha beta gamma delta epsilon", "one two three four")
      gram <- text.split(" ").sliding(4).map(_.mkString(" "))
      seed <- 0 until k
    } {
      val (h1, h2) = (h(gram, 0), h(gram, 16))
      val p = ((h1 + ((seed * (h2 >> 30)) % (1L << 30)) * (1L << 30)
        + seed * (h2 & ((1L << 30) - 1))) & ((1L << 60) - 1)) % mBits
      expected((p >>> 6).toInt) |= 1L << (p & 63L)
    }
    assert(bits.sameElements(expected), "treeAggregate bitset == driver bitset")

    // BitsetContains: every position 0..m-1 probed through the codegen
    // expression agrees with the driver-side bit test
    val bc = spark.sparkContext.broadcast(bits)
    val probed = spark.range(mBits).select(col("id"),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.BitsetContains(
            org.apache.spark.sql.GraftColumnBridge.expression(col("id")), bc))
          .as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0 until mBits).foreach { p =>
      val want = ((bits(p >>> 6) >>> (p & 63)) & 1L) == 1L
      assert(probed(p.toLong) == want, s"position $p")
    }
  }

  test("connectedComponents resolves transitive near-dup clusters to min ids") {
    // chain 10-20, 20-30 (one cluster via transitivity), disjoint pair 40-50,
    // plus a reversed/duplicate edge that must not matter
    val pairs = Seq((20L, 10L), (20L, 30L), (30L, 20L), (40L, 50L))
      .toDF("id_a", "id_b")
    val comps = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("id").collect()
    assert(comps.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 10L), (20L, 10L), (30L, 10L), (40L, 40L), (50L, 40L)))

    // a long chain needs diameter-many rounds: maxIter=1 must fail fast
    // rather than return wrong clusters (driverMaxEdges = 0 forces the
    // distributed loop — the default fast path has no iteration concept)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Dedup.connectedComponents(chain, "id_a", "id_b",
        maxIter = 1, driverMaxEdges = 0L)
    }
    assert(ex.getMessage.contains("converge"))
    // and with enough rounds the same chain collapses to one cluster
    val ok = graft.operators.Dedup.connectedComponents(chain, "id_a", "id_b",
        driverMaxEdges = 0L)
      .select("cluster").distinct().collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(1L))
    // the driver fast path closes the same chain with no maxIter at all
    // (union-find has no diameter limit) and matches the distributed labels
    val viaDriver = graft.operators.Dedup
      .connectedComponents(chain, "id_a", "id_b", maxIter = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaDriver == (1L to 5L).map(i => (i, 1L)))
  }

  test("star rounds close a path graph far beyond min-label's round budget") {
    // a 200-link chain: diameter 200 >> the propagation's default 25
    // rounds, the exact shape the O(log n) star contraction exists for
    val chain = (1 to 200).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.connectedComponents(chain, "id_a", "id_b",
        driverMaxEdges = 0L) // default maxIter = 25 < diameter -> fail fast
    }
    val stars = graft.operators.Dedup.connectedComponentsStars(chain,
        "id_a", "id_b", driverMaxEdges = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stars == (1L to 201L).map(i => (i, 1L)))

    // labels == union-find on a messy graph (rings, bridges, dup edges)
    val edges = (0 until 60).map { i =>
      val a = (i * 17 + 3) % 47
      val b = (a + (i % 5) + 1) % 47
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    val pairs = edges.toDF("id_a", "id_b")
    val viaStars = graft.operators.Dedup.connectedComponentsStars(pairs,
        "id_a", "id_b", driverMaxEdges = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaDriver = graft.operators.Dedup.connectedComponents(pairs,
        "id_a", "id_b") // driver union-find fast path
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaStars == viaDriver)
    // the sub-threshold fast path serves the stars entry point too
    val starsFast = graft.operators.Dedup.connectedComponentsStars(pairs,
        "id_a", "id_b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(starsFast == viaDriver)
  }

  test("driver union-find fast path matches the distributed propagation") {
    // a messy random-ish graph: rings, chains, bridged components, isolates
    // absent — 60 edges over ~50 nodes, seeds fixed by construction
    val edges = (0 until 60).map { i =>
      val a = (i * 17 + 3) % 47
      val b = (a + (i % 5) + 1) % 47
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    val pairs = edges.toDF("id_a", "id_b")
    val fast = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dist = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b",
        driverMaxEdges = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fast == dist)
  }

  test("splitByCluster keeps whole clusters on one side, deterministically") {
    // 200 docs in 100 two-doc clusters: cluster label = id - (id % 2)
    val docs = spark.range(200).select(col("id").as("doc_id"),
      (col("id") - col("id") % 2).as("cluster"))
    val out = graft.operators.Dedup.splitByCluster(docs, "cluster",
      valFrac = 0.25).cache()
    // cohesion: every cluster is entirely train or entirely val
    val mixed = out.groupBy("cluster")
      .agg(countDistinct(col("split")).as("sides"))
      .filter(col("sides") > 1).count()
    assert(mixed == 0, "a near-dup cluster straddles the split")
    // both sides populated at this fraction and scale; deterministic rerun
    val valN = out.filter(col("split") === "val").count()
    assert(valN > 0 && valN < 200)
    val again = graft.operators.Dedup.splitByCluster(docs, "cluster", 0.25)
      .filter(col("split") === "val").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == out.filter(col("split") === "val").select("doc_id")
      .collect().map(_.getLong(0)).toSet)
  }

  test("connectedComponents rejects non-integral id columns loudly") {
    // a silent cast("long") would null string ids, drop every edge, and
    // return empty clusters — keepCanonical would then "dedup" nothing
    val uuidPairs = Seq(("a-1", "b-2"), ("b-2", "c-3")).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Dedup.connectedComponents(uuidPairs, "id_a", "id_b")
    }
    assert(ex.getMessage.contains("integral"))
    assert(ex.getMessage.contains("xxhash64"), "points at the remedy")
  }

  test("connectedComponents with a reliable checkpoint dir matches the local default") {
    // driverMaxEdges = 0: the per-round cuts only exist on the distributed
    // path, which is what this test pins
    val pairs = Seq((20L, 10L), (20L, 30L), (40L, 50L)).toDF("id_a", "id_b")
    val local = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b",
        driverMaxEdges = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val reliable = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b",
        checkpointer = graft.operators.Dedup.Checkpointer.Reliable(dir),
        driverMaxEdges = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(reliable == local)
    // the cut really went through the reliable dir, not executor memory
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable checkpointer materialized RDDs in the dir")
    // each cut gets its own UUID subdir and superseded rounds are RELEASED
    // (deleted) as soon as their successor materializes — the run makes
    // >= 4 cuts (edges, initial labels, >= 2 rounds) but only the final
    // labels' subdir may remain, or an iterative/streaming caller would
    // accumulate a full labels copy per round forever
    val uuidDirs = new java.io.File(dir).listFiles().count(_.isDirectory)
    assert(uuidDirs == 1,
      s"expected only the final round's checkpoint dir to survive, got $uuidDirs")
  }

  test("mergeComponents: incremental batches converge to the one-shot clustering") {
    val batch1 = Seq((10L, 20L), (40L, 50L)).toDF("id_a", "id_b")
    val batch2 = Seq((20L, 30L), (30L, 40L)).toDF("id_a", "id_b") // bridges both
    val oneShot = graft.operators.Dedup
      .connectedComponents(batch1.union(batch2), "id_a", "id_b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val after1 = graft.operators.Dedup.connectedComponents(batch1, "id_a", "id_b")
    // singleton assignment that batch2 never touches must survive the merge
    val withSingleton = after1.union(Seq((99L, 99L)).toDF("id", "cluster"))
    val merged = graft.operators.Dedup
      .mergeComponents(withSingleton, batch2, "id_a", "id_b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(merged.filter(_._1 != 99L) == oneShot,
      "incremental merge equals one-shot components over all pairs")
    assert(merged.contains((99L, 99L)), "untouched singleton carried through")
    // the bridge collapsed both prior clusters to the global min
    assert(merged.filter(_._1 != 99L).forall(_._2 == 10L))
  }

  test("keepCanonical keeps the best-scored doc per cluster, singletons survive") {
    val docs = Seq(
      (10L, 0.3), (20L, 0.9), (30L, 0.5), // one cluster via 10-20, 20-30
      (40L, 0.1), (50L, 0.1),             // pair cluster, tie → min id wins
      (60L, 0.0)                          // singleton
    ).toDF("doc_id", "quality")
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("id_a", "id_b")
    val kept = graft.operators.Dedup
      .keepCanonical(docs, "doc_id", pairs, "id_a", "id_b", "quality")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(20L, 40L, 60L))
  }

  test("SimHash: near-dups within small Hamming distance, unrelated far") {
    val base = (1 to 100).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 100).map(i => if (i % 50 == 0) "CHANGED" else s"word$i").mkString(" ")
    val other = (500 to 600).map(i => s"tok$i").mkString(" ")
    val df = Dedup.simhashSignatures(
      Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text"),
      "doc_id", "text")
    val sh = df.orderBy("doc_id").select("simhash").as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0), sh(1)) <= 12)
    assert(ham(sh(0), sh(2)) > 12)
  }

  test("Populate.newKeys is the left-anti frontier; derive applies make") {
    val keySource = Seq(1, 2, 3, 4).toDF("k")
    val existing = Seq(2, 4).toDF("k")
    val fresh = Populate.newKeys(keySource, Some(existing), Seq("k"))
      .as[Int].collect().toSet
    assert(fresh == Set(1, 3))
    val derived = Populate.derive(keySource, Some(existing), Seq("k"))(
      _.withColumn("v", col("k") * 10))
      .select("v").as[Int].collect().toSet
    assert(derived == Set(10, 30))
  }

  test("Populate.appendIdempotent writes each key once across repeated runs") {
    val dir = java.nio.file.Files.createTempDirectory("populate_test").toString + "/t"
    val batch1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Populate.appendIdempotent(batch1, dir, Seq("k")) == 2)
    assert(Populate.appendIdempotent(batch1, dir, Seq("k")) == 0) // rerun: no dupes
    val batch2 = Seq((2, "b"), (3, "c")).toDF("k", "v")
    assert(Populate.appendIdempotent(batch2, dir, Seq("k")) == 1)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("Populate.appendIdempotent keeps the input's column order in every part file") {
    // pk last: a USING anti join would move it first in the second append
    val dir = java.nio.file.Files.createTempDirectory("populate_order").toString + "/t"
    assert(Populate.appendIdempotent(Seq(("a", 1L)).toDF("v", "k"), dir, Seq("k")) == 1)
    assert(Populate.appendIdempotent(Seq(("b", 2L)).toDF("v", "k"), dir, Seq("k")) == 1)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length >= 2)
    // each footer alone, as Spark's schema inference reads one of them
    parts.foreach { f =>
      assert(spark.read.parquet(f.getPath).columns.toSeq == Seq("v", "k"), f.getName)
    }
  }

  test("Populate.appendIdempotent rethrows when the existing table is unreadable") {
    // A corrupt footer must NOT be treated as "table absent" — that would
    // skip the dedup check and double-insert on the next healthy read.
    val dir = java.nio.file.Files.createTempDirectory("populate_corrupt")
    val bad = dir.resolve("part-00000.parquet")
    java.nio.file.Files.write(bad, "not a parquet file".getBytes)
    val batch = Seq((1, "a")).toDF("k", "v")
    intercept[Exception] {
      Populate.appendIdempotent(batch, dir.toString, Seq("k"))
    }
    // and nothing was appended alongside the corrupt file
    assert(java.nio.file.Files.list(dir).count() == 1)
  }
}
