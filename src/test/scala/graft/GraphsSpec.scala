package graft

import graft.operators.Graphs

/** Integer PageRank against a brute in-memory replay of the exact same
  * BIGINT arithmetic — dangling mass, zero-in-degree nodes, duplicate
  * edges, and the zero-iteration base case.
  */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  // 1→2, 1→3, 2→3, 3→1, 4→1 (4 has no in-edges), 5→5 omitted;
  // plus a duplicate of 1→2 that must NOT double-count
  private val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L),
    (1L, 2L))

  private def brute(iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val teleport = 15L * Graphs.Scale / (100L * n)
    var r = nodes.map(_ -> Graphs.Scale / n).toMap
    (1 to iters).foreach { _ =>
      val in = e.groupBy(_._2).view.mapValues(
        _.map(t => r(t._1) / deg(t._1)).sum).toMap
      r = nodes.map(v => v -> (teleport + 85L * in.getOrElse(v, 0L) / 100L))
        .toMap
    }
    r
  }

  private def run(iters: Int): Map[Long, Long] =
    Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank replays the integer arithmetic exactly") {
    (0 to 3).foreach(i => assert(run(i) == brute(i), s"iteration $i"))
  }

  test("pageRank with a reliable checkpoint dir releases all but the final cut") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt").toString
    val got = Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = 3,
        checkpointer = graft.operators.Dedup.Checkpointer.Reliable(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute(3))
    // the run cuts edges + initial ranks + 3 rounds; every superseded cut
    // AND the edge list must be released — only the final ranks' subdir
    // may survive, or each pageRank call leaks an edges copy on the store
    val uuidDirs = new java.io.File(dir).listFiles().count(_.isDirectory)
    assert(uuidDirs == 1,
      s"expected only the final ranks' checkpoint dir to survive, got $uuidDirs")
  }

  // ---- personalized PageRank ----

  private def brutePpr(es: Seq[(Long, Long)], seeds: Seq[Long], iters: Int)
      : Map[Long, Long] = {
    val e = es.distinct
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ns = seeds.size.toLong
    val seedSet = seeds.toSet
    val teleport = 15L * Graphs.Scale / (100L * ns)
    var r = nodes.map(v =>
      v -> (if (seedSet(v)) Graphs.Scale / ns else 0L)).toMap
    (1 to iters).foreach { _ =>
      val in = e.groupBy(_._2).view.mapValues(
        _.map(t => r(t._1) / deg(t._1)).sum).toMap
      r = nodes.map(v => v ->
        ((if (seedSet(v)) teleport else 0L) +
          85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("personalizedPageRank replays the integer arithmetic on random graphs") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3; iters <- Seq(0, 1, 3)) {
      val es = Seq.fill(70)((rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
        .filter(e => e._1 != e._2)
      val seeds = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted.take(2)
      val got = Graphs.personalizedPageRank(es.toDF("src", "dst"),
          "src", "dst", seeds, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brutePpr(es, seeds, iters), s"trial=$trial iters=$iters")
    }
  }

  test("personalizedPageRank: mass stays near the seed, far nodes get none") {
    // two 3-cycles joined by one directed bridge: 1→2→3→1 →(3→4) 4→5→6→4
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L))
    val r = Graphs.personalizedPageRank(es.toDF("src", "dst"), "src", "dst",
        seeds = Seq(1L), iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) > r(4L) && r(2L) > r(5L), s"mass didn't stay near seed: $r")
    // global pageRank would give node 4's cycle plenty of teleport mass;
    // PPR gives the far cycle ONLY what flows over the bridge
    assert(r(1L) + r(2L) + r(3L) > r(4L) + r(5L) + r(6L))
  }

  test("personalizedPageRank rejects a seed that is not a graph node") {
    val es = Seq((1L, 2L), (2L, 1L))
    val ex = intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(es.toDF("src", "dst"), "src", "dst",
        seeds = Seq(1L, 99L), iterations = 1)
    }
    assert(ex.getMessage.contains("seed"))
  }

  test("triangleCounts equals brute triple enumeration on random graphs") {
    def brute(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val und = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .filter(e => e._1 != e._2).distinct.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val tris = for {
        i <- nodes; j <- nodes if j > i; k <- nodes if k > j
        if und((i, j)) && und((j, k)) && und((i, k))
      } yield (i, j, k)
      tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val rnd = new scala.util.Random(5)
    for (trial <- 1 to 3) {
      val es = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2)
      val got = Graphs.triangleCounts(es.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brute(es), s"trial $trial")
    }
    // a known 4-clique: every node sits in C(3,2)=3 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got4 = Graphs.triangleCounts(k4.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  // ---- label propagation ----

  /** Driver replay of the pinned LPA semantics: sync rounds, neighbor-mode
    * labels, ties to the smallest label. */
  private def bruteLpa(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var lab = nbrs.keys.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      lab = nbrs.map { case (v, ns) =>
        val counts = ns.map(lab).groupBy(identity).view.mapValues(_.size)
        v -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    lab
  }

  private def runLpa(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Graphs.labelPropagation(es.toDF("src", "dst"), "src", "dst", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelPropagation equals the driver replay on random graphs, any round count") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val es = Seq.fill(80)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter(e => e._1 != e._2)
      (0 to 4).foreach { r =>
        assert(runLpa(es, r) == bruteLpa(es, r), s"trial $trial rounds $r")
      }
    }
  }

  test("labelPropagation finds two cliques joined by one bridge edge") {
    val c1 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val c2 = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val es = c1 ++ c2 :+ (3L, 10L)
    val got = runLpa(es, 4)
    // each clique converges to its own min label; the bridge does not merge
    assert(got.filterKeys(_ <= 3L).values.toSet == Set(0L))
    assert(got.filterKeys(_ >= 10L).values.toSet == Set(10L))
  }

  test("labelPropagation rejects non-integral id columns loudly") {
    val df = Seq(("a", "b")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graphs.labelPropagation(df, "src", "dst", 1)
    }
    assert(e.getMessage.contains("integral"))
  }

  // ---- modularity ----

  // ---- k-core ----

  /** Driver replay of the pinned k-core semantics: sync peel rounds over
    * the undirected simple graph, final degrees in the induced subgraph. */
  private def bruteKCore(es: Seq[(Long, Long)], k: Int, rounds: Int)
      : Map[Long, Long] = {
    val und = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
    var edges = und
    (1 to rounds).foreach { _ =>
      val deg = (edges ++ edges.map(_.swap)).groupBy(_._1).view
        .mapValues(_.size).toMap
      val alive = deg.filter(_._2 >= k).keySet
      edges = edges.filter(e => alive(e._1) && alive(e._2))
    }
    (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
  }

  private def runKCore(es: Seq[(Long, Long)], k: Int, rounds: Int)
      : Map[Long, Long] =
    Graphs.kCore(es.toDF("src", "dst"), "src", "dst", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore equals the driver replay on random graphs, any round count") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3; k <- Seq(2, 3); rounds <- Seq(0, 1, 3)) {
      val es = Seq.fill(70)((rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
        .filter(e => e._1 != e._2)
      assert(runKCore(es, k, rounds) == bruteKCore(es, k, rounds),
        s"trial=$trial k=$k rounds=$rounds")
    }
  }

  test("kCore: a clique survives with full degree; tendrils peel round by round") {
    // K4 with a 3-node tail hanging off node 4: 4-5, 5-6, 6-7
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val es = k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))
    // k=2: each round peels only the current 1-degree tail END — degree-1
    // nodes at round start: r1 drops 7, r2 drops 6, r3 drops 5
    assert(runKCore(es, 2, 1).keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(runKCore(es, 2, 2).keySet == Set(1L, 2L, 3L, 4L, 5L))
    val fix = runKCore(es, 2, 3)
    assert(fix == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Graphs.kCoreConverged(es.toDF("src", "dst"), "src", "dst", 2, 3))
    assert(!Graphs.kCoreConverged(es.toDF("src", "dst"), "src", "dst", 2, 1))
    // k=4: even the clique dies (max degree 3 < 4 once the tail is gone)
    assert(runKCore(es, 4, 3) == Map.empty)
  }

  test("kTruss equals the driver replay on random graphs, any round count") {
    val rnd = new scala.util.Random(41)
    def brute(es: Seq[(Long, Long)], k: Int,
              rounds: Int): Map[(Long, Long), Long] = {
      var und = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .filter(e => e._1 != e._2).distinct.toSet
      var sup = Map.empty[(Long, Long), Long]
      (1 to rounds).foreach { _ =>
        val adj = und.toSeq.flatMap(e => Seq(e, e.swap))
          .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
        sup = und.toSeq.map { case (a, b) =>
          (a, b) -> (adj(a) & adj(b)).size.toLong
        }.filter(_._2 >= k - 2).toMap
        und = sup.keySet
      }
      sup
    }
    for (trial <- 1 to 3; k <- Seq(3, 4); rounds <- Seq(1, 2, 3)) {
      val es = Seq.fill(90)((rnd.nextInt(13).toLong, rnd.nextInt(13).toLong))
        .filter(e => e._1 != e._2)
      val got = Graphs.kTruss(es.toDF("src", "dst"), "src", "dst", k, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got === brute(es, k, rounds), s"trial=$trial k=$k rounds=$rounds")
    }
  }

  test("kTruss: a clique's edges survive; a bridge edge peels immediately") {
    // K4 + a bridge 4-5 + a pendant triangle 5-6, 6-7, 5-7
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (5L, 7L))
    // k=3: every K4 edge sits in 2 triangles, the pendant triangle's in 1,
    // the bridge in 0 -> bridge peels round 1, everything else stable
    val got = Graphs.kTruss(es.toDF("src", "dst"), "src", "dst", 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!got.contains((4L, 5L)), "bridge edge peeled")
    assert(got((1L, 2L)) === 2L && got((5L, 6L)) === 1L)
    assert(got.size === 9)
    // k=4: only the K4 survives (support >= 2)
    val k4 = Graphs.kTruss(es.toDF("src", "dst"), "src", "dst", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k4 === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
  }

  test("modularityByCommunity replays the integer formula exactly") {
    // two triangles joined by one edge; perfect 2-community partition
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L), (2L, 1L) /* dup must not double-count */)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "community")
    val got = Graphs.modularityByCommunity(es.toDF("src", "dst"), "src",
        "dst", labels, "node", "community")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // m = 7 undirected edges; each community: e_c = 3, d_c = 7
    // q_micro = (1e6*3) div 7 - (1e6*49) div (4*49) = 428571 - 250000
    val expected = (3L, (1000000L * 3 / 7) - (1000000L * 49 / (4 * 49)))
    assert(got == Map(
      1L -> (3L, 3L, 7L, expected._2),
      4L -> (3L, 3L, 7L, expected._2)))
    // sanity: the partition's total Q is positive (better than random)
    assert(got.values.map(_._4).sum > 0)
  }

  test("modularity rejects a label table missing a graph node") {
    // node 6 unlabeled: inner joins would silently drop edges (4,6)/(5,6)
    // from e_c/degree_sum while m still counted them — must fail loudly
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("node", "community")
    val e = intercept[IllegalArgumentException] {
      Graphs.modularityByCommunity(es, "src", "dst", labels, "node",
        "community").collect()
    }
    assert(e.getMessage.contains("absent from the label table"), e.getMessage)
    // extra labeled nodes not in the graph stay fine
    val extra = labels.union(Seq((6L, 4L), (99L, 9L)).toDF("node", "community"))
    val ok = Graphs.modularityByCommunity(es, "src", "dst", extra, "node",
      "community").collect()
    assert(ok.map(_.getLong(0)).toSet == Set(1L, 4L))
  }

  test("modularity of the all-in-one partition is ~0 by construction") {
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val labels = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("node", "community")
    val got = Graphs.modularityByCommunity(es.toDF("src", "dst"), "src",
        "dst", labels, "node", "community").collect()
    assert(got.length == 1)
    // e_c = m, d_c = 2m → q = 1e6 - 1e6 = 0 exactly
    assert(got.head.getLong(4) == 0L)
  }

  // ---- refinement ----

  private def qSum(es: Seq[(Long, Long)],
                   labels: Seq[(Long, Long)]): Long =
    Graphs.modularityByCommunity(es.toDF("src", "dst"), "src", "dst",
        labels.toDF("node", "community"), "node", "community")
      .agg(org.apache.spark.sql.functions.sum("q_micro")).head().getLong(0)

  test("refinePartition moves a mislabeled clique node home and lifts Q") {
    // two triangles + bridge; node 3 planted in the WRONG community
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val bad = Seq((1L, 1L), (2L, 1L), (3L, 4L), (4L, 4L), (5L, 4L),
      (6L, 4L))
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L))
    val refined = Graphs.refinePartition(es.toDF("src", "dst"), "src", "dst",
        bad.toDF("node", "community"), "node", "community")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(refined == good.sorted, refined)
    assert(qSum(es, refined) > qSum(es, bad))
  }

  test("refinePartition is a no-op on an already-optimal two-clique partition") {
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L))
    val refined = Graphs.refinePartition(es.toDF("src", "dst"), "src", "dst",
        good.toDF("node", "community"), "node", "community")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(refined == good.sorted)
  }

  test("refinePartition never decreases Σq_micro on random graphs/partitions") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed * 101)
      val n = 8 + rnd.nextInt(8)
      val es = (for (a <- 0L until n; b <- (a + 1) until n
                     if rnd.nextInt(100) < 25) yield (a, b)).toSeq
      if (es.nonEmpty) {
        val nComm = 2 + rnd.nextInt(3)
        val labels = (0L until n).map(v => (v, rnd.nextInt(nComm).toLong))
        val refined = Graphs.refinePartition(es.toDF("src", "dst"), "src",
            "dst", labels.toDF("node", "community"), "node", "community")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        // valid partition: every input node labeled exactly once
        assert(refined.map(_._1).sorted == labels.map(_._1).sorted)
        assert(qSum(es, refined) >= qSum(es, labels),
          s"seed=$seed: refinement decreased Q")
      }
    }
  }

  test("hub structure ranks: node 3 (two in-edges incl. the hub) beats node 4 (none)") {
    val r = run(3)
    assert(r(3L) > r(4L) && r(1L) > r(4L))
    // node 4 (the only zero-in-degree node of the 4-node graph) holds
    // exactly the teleport mass after any round
    assert(r(4L) == 15L * Graphs.Scale / (100L * 4L))
  }

  /** Jobs `body` starts, counted once the asynchronous listener bus has
    * settled. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      var prev = -1
      var cur = jobs.get()
      while (prev != cur) { Thread.sleep(200); prev = cur; cur = jobs.get() }
      (out, cur)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("linkPrediction budgets its driver path on wedges, not rows") {
    // a 20-leaf star: 40 adjacency rows, but C(20, 2) = 190 wedges at the
    // hub — within a 100-row budget by rows, over it by wedges
    val star = (1L to 20L).map(n => (0L, n)).toDF("src", "dst")
    def lp(budget: Int) = jobsOf(Graphs.linkPrediction(star, "src", "dst",
      driverMaxEdges = budget))
    val (distributed, distJobs) = lp(0)
    val (driver, driverJobs) = lp(1000)
    val (boundary, boundaryJobs) = lp(100)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long, Boolean, Long)].collect().toSet
    val want = rows(distributed)
    assert(want.size == 190)
    assert(rows(driver) == want)
    assert(rows(boundary) == want)
    // the driver path plans from its collect alone; the distributed path
    // also cuts the adjacency, so it starts more jobs than the collect
    assert(distJobs > 0)
    assert(boundaryJobs > driverJobs,
      s"over-budget star took the driver path ($boundaryJobs jobs, " +
        s"driver path $driverJobs, distributed-only $distJobs)")
  }
}
