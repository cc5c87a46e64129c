package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import DriverPath.pairs

/** Iterative graph analytics over edge lists — the rank-propagation
  * companion to [[Dedup]]'s connected components (label propagation). First
  * use: PageRank over a document kNN graph, the diversity/centrality signal
  * a training-data pipeline derives from its own similarity structure
  * (rank-weighted sampling, coreset picks).
  */
object Graphs {

  /** The fixed-point scale of [[pageRank]] ranks: ranks are integers on a
    * 10⁻¹² grid of the unit mass. */
  val Scale: Long = 1000000000000L

  /** The canonical undirected projection of an edge list: `(a, b)` with
    * `a < b`, one row per unordered pair, self-loops dropped. */
  private def undirected(edges: DataFrame, src: Column, dst: Column)
      : DataFrame =
    edges.select(least(src, dst).as("a"), greatest(src, dst).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Both directions of an undirected `(a, b)` edge list as
    * `(node, nbr)` rows. */
  private def symmetric(und: DataFrame): DataFrame =
    und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))

  /** Neighbour sets of a collected undirected edge list. */
  private def adjacency(es: Array[(Long, Long)])
      : scala.collection.Map[Long, Set[Long]] = {
    val adj = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    es.foreach { case (a, b) =>
      adj(a) = adj.getOrElse(a, Set.empty) + b
      adj(b) = adj.getOrElse(b, Set.empty) + a
    }
    adj
  }

  /** The driver twin of [[triangleCounts]] over a collected `a < b` edge
    * list and its [[adjacency]]: exact per-node counts need no tie-breaking
    * argument — any enumeration that finds each triangle once matches. It
    * walks each edge (a, b) and counts common neighbours w > b (the
    * canonical a < b < w triple), crediting all three corners. */
  private def trianglesLocal(es: Array[(Long, Long)],
                             adj: scala.collection.Map[Long, Set[Long]])
      : scala.collection.Map[Long, Long] = {
    val cnt = scala.collection.mutable.HashMap.empty[Long, Long]
    def bump(n: Long): Unit = cnt(n) = cnt.getOrElse(n, 0L) + 1L
    es.foreach { case (a, b) =>
      val (small, large) =
        if (adj(a).size <= adj(b).size) (adj(a), adj(b)) else (adj(b), adj(a))
      small.foreach { w =>
        if (w > b && large.contains(w)) { bump(a); bump(b); bump(w) }
      }
    }
    cnt
  }

  /** (count desc, label asc) argmax over neighbor labels — the driver twin
    * of `max(struct(count, -label))`: the struct max takes the highest
    * count, then the highest negated label = the SMALLEST label. */
  private def bestLabel(counts: scala.collection.Map[Long, Long]): Long =
    counts.minBy { case (lbl, cnt) => (-cnt, lbl) }._1

  /** Integer-arithmetic PageRank (Page et al. 1999) over a directed edge
    * list — EVERY operation is a BIGINT `div`/`+`/`*`, no floats anywhere,
    * so the trajectory is bit-exact on any engine (the stronger cousin of
    * the micro-grid discipline: no grid-boundary hazard at all).
    *
    * Semantics (the oracle replays them verbatim):
    *  - nodes = distinct(src ∪ dst); `N` = their count;
    *  - `r₀ = Scale div N`;
    *  - each round: `S(i) = Σ_{j→i} (r(j) div d(j))` over DISTINCT edges
    *    (`d` = out-degree), then
    *    `r'(i) = (dampingComplementPct·Scale) div (100·N) + (dampingPct·S(i)) div 100`;
    *  - dangling mass vanishes (standard teleport-less-redistribution
    *    variant) — total mass is NOT conserved under `div` floors anyway;
    *    ranks are a deterministic ordering signal, not probabilities.
    *
    * Scale shape: each round is two hash shuffles — contributions join
    * ranks⋈edges on src, then aggregate on dst — both carrying |E| compact
    * rows; out-degrees are computed once. Rounds materialize through the
    * [[Dedup.Checkpointer]] (superseded rounds released) exactly like the
    * connected-components and BPE loops; O(iterations) rounds, each a
    * fixed two-shuffle cost.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPct: Int = 85,
               checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local,
               driverMaxEdges: Int = DriverPath.MaxRows)
      : DataFrame =
    rankWalk(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .distinct(), None, iterations, dampingPct, checkpointer, driverMaxEdges)

  /** PERSONALIZED PageRank (Haveliwala 2002 / Jeh & Widom 2003): the
    * [[pageRank]] iteration with the teleport mass restricted to a SEED
    * set — "relevance to these nodes" instead of global centrality, the
    * graph-expansion signal (retrieval expansion from known-good seeds,
    * topic-conditioned selection, influence from a trusted whitelist).
    * Same all-BIGINT discipline, so the trajectory is engine-exact:
    *  - `r₀ = Scale div |seeds|` on seeds, 0 elsewhere;
    *  - each round:
    *    `r'(i) = [i ∈ seeds]·(dcPct·Scale) div (100·|seeds|) + (dPct·S(i)) div 100`
    *    with `S` the same out-degree-normalized contribution sum.
    *
    * Seeds are catalog-scale by definition (a query/whitelist, not a
    * corpus) and ship as a literal predicate; every seed must be a graph
    * node — a silently absent seed would skew the teleport mass, so it
    * fails loudly (the modularity label-coverage discipline). Scale shape
    * identical to [[pageRank]]: two |E|-row hash shuffles per round,
    * rounds cut and released through the checkpointer.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: Seq[Long], iterations: Int,
                           dampingPct: Int = 85,
                           checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local,
                           driverMaxEdges: Int = DriverPath.MaxRows)
      : DataFrame =
    rankWalk(edges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d")).distinct(),
      Some(seeds), iterations, dampingPct, checkpointer, driverMaxEdges)

  /** The rank iteration of [[pageRank]] (`seeds` = None: every node is a
    * seed, so the teleport mass spreads over all `N` nodes) and of
    * [[personalizedPageRank]] over a deduped `(__s, __d)` edge list.
    */
  private def rankWalk(dedup: DataFrame, seeds: Option[Seq[Long]],
                       iterations: Int, dampingPct: Int,
                       checkpointer: Dedup.Checkpointer,
                       driverMaxEdges: Int): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPct >= 0 && dampingPct <= 100,
      "dampingPct must be in [0, 100]")
    seeds.foreach { s =>
      require(s.nonEmpty, "personalizedPageRank needs at least one seed")
      require(s.distinct.size == s.size, "seeds must be distinct")
    }
    // FAST PATH (optimization r13, guide §1.2/§5 — the q253 discipline):
    // the deduped edge list is catalog-scale here; one guarded collect
    // replaces O(iterations) rounds of 2 shuffles + an eager lineage cut
    // each. The driver replays the IDENTICAL all-BIGINT arithmetic
    // (r div deg, damping·S div 100 — positive longs, so SQL div ≡ Java /)
    // and the expensive edge upstream runs exactly once, inside the
    // collect. Seed coverage is checked as loudly as on the distributed
    // path, which stays the fallback.
    DriverPath.collect[(Long, Long)](dedup, driverMaxEdges, checkpointer) match {
      case Right(es) =>
        val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
        val isSeed = seeds.fold[Long => Boolean](_ => true)(_.toSet)
        val ns = teleportBase(seeds, nodes.length, nodes.count(isSeed))
        val teleport = (100L - dampingPct) * Scale / (100L * ns)
        val deg = es.groupBy(_._1).map { case (s, g) => s -> g.length.toLong }
        var rank = nodes.map(nd =>
          nd -> (if (isSeed(nd)) Scale / ns else 0L)).toMap
        var it = 0
        while (it < iterations) {
          val in = scala.collection.mutable.HashMap.empty[Long, Long]
          es.foreach { case (s, d) =>
            in(d) = in.getOrElse(d, 0L) + rank(s) / deg(s)
          }
          rank = nodes.map(nd =>
            nd -> ((if (isSeed(nd)) teleport else 0L) +
              dampingPct * in.getOrElse(nd, 0L) / 100)).toMap
          it += 1
        }
        dedup.sparkSession
          .createDataFrame(nodes.toSeq.map(nd => (nd, rank(nd))))
          .toDF("node", "rank_fx")
      case Left(_) =>
        rankWalkDistributed(dedup, seeds, iterations, dampingPct, checkpointer)
    }
  }

  /** The teleport denominator, checked as loudly on both paths: the node
    * count when every node is a seed, else |seeds| once every seed is
    * found among the graph's nodes. On the distributed path this is its
    * one job: a node count unseeded, a seed count seeded. */
  private def teleportBase(seeds: Option[Seq[Long]], nodeCount: => Long,
                           seedNodes: => Long): Long = seeds match {
    case None =>
      val n = nodeCount
      require(n > 0, "pageRank needs at least one edge")
      n
    case Some(s) =>
      val found = seedNodes
      require(found == s.size,
        s"personalizedPageRank: ${s.size - found} seed(s) are not " +
          "graph nodes — teleport mass would silently skew")
      s.size.toLong
  }

  private def rankWalkDistributed(dedup: DataFrame, seeds: Option[Seq[Long]],
                                  iterations: Int, dampingPct: Int,
                                  checkpointer: Dedup.Checkpointer)
      : DataFrame = {
    // cut: the edge list feeds the degree table and EVERY iteration's
    // contribution join — uncut, an expensive upstream (a kNN scoring
    // pass, say) re-executes once per round
    val e = checkpointer.cut(dedup)
    val nodes = e.select(col("__s").as("node"))
      .union(e.select(col("__d").as("node"))).distinct()
    val deg = e.groupBy("__s").agg(count(lit(1)).as("__deg"))
    // unseeded, `when(true, …)` folds away in the optimizer
    val isSeed = seeds.fold(lit(true))(s => col("node").isin(s: _*))
    val ns = teleportBase(seeds, nodes.count(), nodes.filter(isSeed).count())
    val teleport = (100L - dampingPct) * Scale / (100L * ns)
    var ranks = checkpointer.cut(
      nodes.withColumn("rank_fx",
        when(isSeed, lit(Scale / ns)).otherwise(lit(0L))))
    try {
      var it = 0
      while (it < iterations) {
        val contribs = e
          .join(ranks.select(col("node").as("__s"), col("rank_fx")), Seq("__s"))
          .join(deg, Seq("__s"))
          .select(col("__d").as("node"),
            expr("rank_fx div __deg").as("__c"))
          .groupBy("node").agg(sum("__c").as("__in"))
        val next = checkpointer.cut(
          nodes.join(contribs, Seq("node"), "left")
            .select(col("node"),
              (when(isSeed, lit(teleport)).otherwise(lit(0L)) +
                expr(s"$dampingPct * coalesce(__in, 0L) div 100"))
                .as("rank_fx")))
        checkpointer.release(ranks)
        ranks = next
        it += 1
      }
      // the result depends only on the final (eager) ranks cut — release
      // the edge cut here so Reliable stores don't accrete one edges
      // subdir per call (connectedComponents' discipline)
      checkpointer.release(e)
      // the final cut is intentionally NOT released — the caller consumes
      // it (same contract as mergeComponents' last round)
      ranks
    } catch {
      case t: Throwable =>
        // failure path (lost executor, cancel): drop both live cuts, same
        // as connectedComponents — don't leave them on the store
        checkpointer.release(ranks)
        checkpointer.release(e)
        throw t
    }
  }

  /** Deterministic synchronous label propagation (Raghavan et al. 2007,
    * arXiv:0709.2938) over the UNDIRECTED version of an edge list —
    * community detection for the similarity graph, the diversity-aware
    * sampler's grouping signal next to [[pageRank]]'s centrality.
    *
    * Classic LPA breaks ties randomly and updates asynchronously; both are
    * non-replayable, so this variant pins BOTH choices (and the round count)
    * into the operator's semantics, which an oracle replays verbatim:
    *  - edges are undirected + deduped, self-loops dropped;
    *  - `l₀(v) = v` (the node id — ids must be orderable);
    *  - each SYNCHRONOUS round, every node adopts the most frequent label
    *    among its neighbors' previous-round labels, ties broken by the
    *    SMALLEST label; nodes keep their label only if isolated (impossible
    *    here — nodes are defined by edges);
    *  - exactly `rounds` rounds (fixed — sync LPA has no guaranteed
    *    fixpoint; bipartite structures can 2-cycle, and a bounded round
    *    count is what makes the semantics deterministic AND finite).
    *
    * Returns `(node, community)`.
    *
    * Scale shape: each round is one hash join (neighbor list ⋈ labels, both
    * |2E| compact rows) + a two-level aggregation — partial map-side combine
    * into `(node, label)` counts, then the per-node argmax as a
    * `max(struct(count, -label))` single-pass aggregate, NO window. Rounds
    * materialize through the [[Dedup.Checkpointer]] exactly like
    * [[pageRank]]; O(rounds) rounds, each a fixed two-shuffle cost,
    * independent of graph diameter.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int,
                       checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local,
                       driverMaxEdges: Int = DriverPath.MaxRows)
      : DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    // labels are node ids negated for the tie-break aggregate; a silent
    // cast("long") of string/UUID ids would null every edge — reject loudly
    Dedup.requireIntegralIds(edges, Seq(srcCol, dstCol), "labelPropagation")
    val und = undirected(edges, col(srcCol).cast("long"),
      col(dstCol).cast("long"))
    // FAST PATH (optimization r13): the synchronous rounds are pure
    // integer counting with a pinned tie-break — the driver twin adopts,
    // per node, the most frequent neighbor label with ties to the
    // SMALLEST label ((count desc, label asc) ≡ max(struct(count,
    // -label)), see [[bestLabel]]); rounds replay exactly.
    DriverPath.collect[(Long, Long)](und, driverMaxEdges, checkpointer) match {
      case Right(es) =>
        val nbrs = adjacency(es)
        val nodes = nbrs.keys.toArray
        var labels = nodes.map(nd => nd -> nd).toMap
        var it = 0
        while (it < rounds) {
          labels = nodes.map { nd =>
            val counts = scala.collection.mutable.HashMap.empty[Long, Long]
            nbrs(nd).foreach { nb =>
              val l = labels(nb); counts(l) = counts.getOrElse(l, 0L) + 1L
            }
            nd -> bestLabel(counts)
          }.toMap
          it += 1
        }
        return edges.sparkSession
          .createDataFrame(nodes.toSeq.map(nd => (nd, labels(nd))))
          .toDF("node", "community")
      case Left(_) => ()
    }
    // symmetric neighbor list: every undirected edge twice — the join side
    // each round; cut once so an expensive upstream runs once, not per round
    val nbrs = checkpointer.cut(symmetric(und))
    var labels = checkpointer.cut(
      nbrs.select(col("node")).distinct()
        .withColumn("community", col("node")))
    try {
      var it = 0
      while (it < rounds) {
        val counts = nbrs
          .join(labels.select(col("node").as("nbr"), col("community")),
            Seq("nbr"))
          .groupBy(col("node"), col("community"))
          .agg(count(lit(1)).as("__c"))
        // argmax by (count desc, label asc): max(struct(c, -label)) — a
        // plain aggregate, no per-node window sort
        val next = checkpointer.cut(
          counts
            .groupBy("node")
            .agg(max(struct(col("__c"),
              (-col("community")).as("__nl"))).as("__m"))
            .select(col("node"), (-col("__m.__nl")).as("community")))
        checkpointer.release(labels)
        labels = next
        it += 1
      }
      checkpointer.release(nbrs)
      // final cut intentionally not released — the caller consumes it
      labels
    } catch {
      case t: Throwable =>
        checkpointer.release(labels)
        checkpointer.release(nbrs)
        throw t
    }
  }

  /** Newman modularity of a partition, per community, on the 10⁻⁶ micro
    * grid with floor division — exact integer arithmetic end to end, so the
    * score is bit-identical on any engine (the [[pageRank]] discipline).
    *
    * For undirected-deduped edge count `m`, community internal-edge count
    * `e_c`, and community degree sum `d_c`:
    * `q_micro(c) = (10⁶·e_c) div m − (10⁶·d_c²) div (4m²)`
    * (the per-community term of Q = Σ_c [e_c/m − (d_c/2m)²], floored on the
    * micro grid per community; `Σ q_micro` is the partition's score).
    *
    * `labels` must be `(node, community)` covering every edge endpoint
    * (extra rows are ignored). Returns
    * `(community, n_nodes, internal_edges, degree_sum, q_micro)`.
    *
    * Scale shape: two broadcast-free hash joins of the edge list against the
    * label table (|E| rows each) + per-community aggregates; the square term
    * runs in DECIMAL(38,0) so `d_c² ≤ (2m)²` cannot overflow BIGINT even at
    * 10¹²-edge graphs, then floors back onto the micro grid (quotient
    * ≤ 10⁶ by construction).
    */
  def modularityByCommunity(edges: DataFrame, srcCol: String, dstCol: String,
                            labels: DataFrame, nodeCol: String,
                            communityCol: String,
                            driverMaxEdges: Int = DriverPath.MaxRows): DataFrame = {
    val und = undirected(edges, col(srcCol), col(dstCol))
    val lab = labels.select(col(nodeCol).as("__n"),
      col(communityCol).as("__comm"))
    // FAST PATH (optimization r13): per-community counting + the exact
    // micro-grid formula, replayed on the driver. The q_micro square term
    // runs in BigInt (the DECIMAL(38,0) twin — both floor nonnegative
    // quotients). A label table with DUPLICATE node rows falls back: the
    // distributed joins would multiply edges where a map cannot.
    (DriverPath.collect[(Long, Long)](und, driverMaxEdges),
      DriverPath.collect[(Long, Long)](lab, driverMaxEdges)) match {
      case (Right(es), Right(labRows))
          if labRows.map(_._1).distinct.length == labRows.length =>
        val comm = labRows.toMap
        val m = es.length.toLong
        requireLabeled(m, es.count { case (a, b) =>
          !comm.contains(a) || !comm.contains(b) }.toLong)
        val internal = scala.collection.mutable.HashMap.empty[Long, Long]
        val degSum = scala.collection.mutable.HashMap.empty[Long, Long]
        es.foreach { case (a, b) =>
          val ca = comm(a); val cb = comm(b)
          if (ca == cb) internal(ca) = internal.getOrElse(ca, 0L) + 1L
          degSum(ca) = degSum.getOrElse(ca, 0L) + 1L
          degSum(cb) = degSum.getOrElse(cb, 0L) + 1L
        }
        val sizes = (es.map(_._1) ++ es.map(_._2)).distinct
          .groupBy(comm).map { case (c, g) => c -> g.length.toLong }
        val out = sizes.toSeq.map { case (c, nNodes) =>
          val eC = internal.getOrElse(c, 0L)
          val dC = degSum.getOrElse(c, 0L)
          val q = (1000000L * eC) / m -
            ((BigInt(1000000) * dC * dC) / (BigInt(4) * m * m)).toLong
          (c, nNodes, eC, dC, q)
        }
        return edges.sparkSession.createDataFrame(out)
          .toDF("community", "n_nodes", "internal_edges", "degree_sum",
            "q_micro")
      case _ => ()
    }
    // LEFT joins + a fused (m, unlabeled) aggregate: an edge endpoint missing
    // from the label table must fail loudly — inner joins would drop the edge
    // from e_c/degree_sum while m still counted it, silently skewing every
    // q_micro. One action, same as the previous bare und.count().
    val tagged = und
      .join(lab.select(col("__n").as("a"), col("__comm").as("__ca")), Seq("a"),
        "left")
      .join(lab.select(col("__n").as("b"), col("__comm").as("__cb")), Seq("b"),
        "left")
    val head = tagged.agg(count(lit(1)).as("m"),
      sum(when(col("__ca").isNull || col("__cb").isNull, 1L).otherwise(0L))
        .as("unlabeled")).head()
    val m = head.getLong(0)
    requireLabeled(m, if (head.isNullAt(1)) 0L else head.getLong(1))
    val internal = tagged.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val degrees = tagged
      .select(explode(array(col("__ca"), col("__cb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("degree_sum"))
    val sizes = lab
      .join(und.select(explode(array(col("a"), col("b"))).as("__n")).distinct(),
        Seq("__n"))
      .groupBy(col("__comm").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    sizes
      .join(degrees, Seq("community"), "left")
      .join(internal, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
      .withColumn("q_micro",
        expr(s"(1000000L * internal_edges) div ${m}L") -
          expr(s"(CAST(1000000 AS DECIMAL(38,0)) * degree_sum * degree_sum)" +
            s" div (CAST(4 AS DECIMAL(38,0)) * ${m}L * ${m}L)").cast("long"))
  }

  /** [[modularityByCommunity]]'s input contract, checked alike on both
    * paths: `m` deduped edges, `unlabeled` of them missing a label. */
  private def requireLabeled(m: Long, unlabeled: Long): Unit = {
    require(m > 0, "modularity needs at least one edge")
    require(unlabeled == 0L,
      s"modularityByCommunity: $unlabeled of $m edges have an endpoint " +
        s"absent from the label table — label every graph node (labels may " +
        s"carry extra nodes, never miss one)")
  }

  /** Per-node triangle participation counts over the UNDIRECTED version of
    * an edge list: `(node, n_triangles)` for nodes in ≥ 1 triangle —
    * clustering structure of the similarity graph (a node's triangles =
    * how much its neighborhood agrees with itself).
    *
    * Degree-ordered orientation (the standard distributed algorithm —
    * Suri & Vassilvitskii 2011): each undirected edge points from the
    * lower (degree, id) endpoint to the higher, which caps every
    * out-degree at O(√E), so the wedge join (out ⋈ out on the apex) is
    * Σ outdeg² — bounded — instead of Σ deg² (hub-quadratic). Triangles =
    * wedges (v, w) closed by an oriented v→w edge: ONE self-join + one
    * closing equi-join, all on compact keys; every triangle is found
    * exactly once (its orientation-minimal apex).
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     driverMaxEdges: Int = DriverPath.MaxRows)
      : DataFrame = {
    val und = undirected(edges, col(srcCol), col(dstCol))
    // FAST PATH (optimization r13): see [[trianglesLocal]]
    DriverPath.collect[(Long, Long)](und, driverMaxEdges) match {
      case Right(es) =>
        return edges.sparkSession
          .createDataFrame(trianglesLocal(es, adjacency(es)).toSeq)
          .toDF("node", "n_triangles")
      case Left(_) => ()
    }
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient from lower (degree, id) to higher
    val oriented = und
      .join(deg.select(col("n").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("__db")), Seq("b"))
      .select(
        when(struct(col("__da"), col("a")) < struct(col("__db"), col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            col("__db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            col("__da").as("dv"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"),
        col("__e.dv").as("dv"))
    val wedges = oriented.select(col("u"), col("v"), col("dv"))
      .join(oriented.select(col("u"), col("v").as("w"), col("dv").as("dw")),
        Seq("u"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    val tris = wedges.join(closing, Seq("v", "w")).select("u", "v", "w")
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Leiden-quality refinement pass (Traag 2019, arXiv:1810.08473 §3's
    * modularity-improving node moves, run as ONE simultaneous distributed
    * round): every node scores moving to each NEIGHBOR community by the
    * exact integer gain
    * `2m²·ΔQ = 2m·(k_iB − k_iA) − d_i·(Σ_B − Σ_A + d_i)` (DECIMAL(38,0) —
    * the d_i·Σ product overflows BIGINT at 10¹²-edge graphs), takes the
    * best strictly-positive move (ties on the smallest target community),
    * and the moved partition is ACCEPTED only if
    * [[modularityByCommunity]]'s summed integer score does not decrease —
    * simultaneous moves can oscillate on symmetric graphs, and the
    * acceptance test (the verdict's "reuse the integer scoring") makes
    * `Σq_micro` non-decreasing BY CONSTRUCTION (spec-pinned on random
    * graphs). Returns the refined (or, on rejection/no-moves, the input)
    * partition as `(node, community)` for every labeled node.
    *
    * Scale shape: three |E|-row hash joins (degree tag, neighbor-community
    * counts, gain terms) + community-scale aggregates; the acceptance is
    * two modularity scorings (each two |E|-row joins) and two 1-row driver
    * sums. Labels must cover every edge endpoint — same loud contract as
    * [[modularityByCommunity]], which the scoring enforces.
    */
  def refinePartition(edges: DataFrame, srcCol: String, dstCol: String,
                      labels: DataFrame, nodeCol: String,
                      communityCol: String): DataFrame = {
    val lab = labels.select(col(nodeCol).as("node"),
      col(communityCol).as("community"))
    val und = undirected(edges, col(srcCol), col(dstCol))
    val m = und.count()
    if (m == 0) return lab
    val sym = symmetric(und)
    val deg = sym.groupBy("node").agg(count(lit(1)).as("d"))
    // score the INPUT partition first: doubles as the label-coverage guard
    val qOld = modularityByCommunity(edges, srcCol, dstCol, lab, "node",
      "community").agg(sum("q_micro")).head().getLong(0)
    val sigma = lab.join(deg, Seq("node"))
      .groupBy(col("community")).agg(sum("d").as("sigma"))
    // k_iC: node i's edge count into each neighbor community C
    val kTo = sym
      .join(lab.select(col("node").as("nbr"), col("community").as("__c")),
        Seq("nbr"))
      .groupBy(col("node"), col("__c")).agg(count(lit(1)).as("k"))
    // node's own-community view: degree, Σ_A, and k_iA (0 when the node
    // has no edge into its own community)
    val ownClean = lab.join(deg, Seq("node"))
      .join(sigma.select(col("community"), col("sigma").as("__sa")),
        Seq("community"))
      .join(kTo.select(col("node").as("__n2"), col("__c"),
          col("k").as("__ka")),
        col("node") === col("__n2") && col("community") === col("__c"),
        "left")
      .select(col("node"), col("community").as("__ca"), col("d"),
        col("__sa"), coalesce(col("__ka"), lit(0L)).as("__ka"))
    val moves = ownClean
      .join(kTo, Seq("node"))
      .filter(col("__c") =!= col("__ca"))
      .join(sigma.select(col("community").as("__c"),
        col("sigma").as("__sb")), Seq("__c"))
      .withColumn("__gain",
        lit(2L) * lit(m) *
          (col("k") - col("__ka")).cast("decimal(38,0)") -
        col("d").cast("decimal(38,0)") *
          (col("__sb") - col("__sa") + col("d")).cast("decimal(38,0)"))
      .filter(col("__gain") > 0)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
          .orderBy(col("__gain").desc, col("__c").asc)))
      .filter(col("__rn") === 1)
      .select(col("node"), col("__c").as("__new"))
    if (moves.isEmpty) return lab
    val refined = lab.join(moves, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__new"), col("community")).as("community"))
    val qNew = modularityByCommunity(edges, srcCol, dstCol, refined, "node",
      "community").agg(sum("q_micro")).head().getLong(0)
    if (qNew >= qOld) refined else lab
  }

  /** k-core peeling, `rounds` SYNCHRONOUS removal rounds (Seidman 1983;
    * the distributed formulation of Montresor et al. 2013): round r drops
    * every node whose degree in the current induced subgraph is < k, then
    * restricts the edges to survivors. Output: `(node, deg)` for nodes
    * alive after the final round, with their degree in the final induced
    * subgraph — the dense-substructure filter of the similarity-graph
    * family (bot rings, boilerplate clusters, citation cores survive;
    * tendrils peel away).
    *
    * Round count is part of the SEMANTICS (the q173 LPA discipline): a
    * run-to-fixpoint contract cannot be replayed by a bounded oracle, and
    * peel rounds needed for convergence are data-dependent (a path graph
    * peels two nodes per round). Callers wanting the true k-core pass
    * generous rounds and check `kCoreConverged` (one extra round costs one
    * aggregate). Cost per round: one degree aggregate + two semi joins on
    * the shrinking edge set, lineage cut per round — O(rounds · |E|), the
    * LPA cost class.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int,
            checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local,
            driverMaxEdges: Int = DriverPath.MaxRows)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    val und = undirected(edges, col(srcCol), col(dstCol))
    // FAST PATH (optimization r13): synchronous peels are pure degree
    // counting — no ties to break. Each round drops nodes with current
    // degree < k, then keeps edges with both endpoints alive; the final
    // induced degrees are the output, exactly the distributed rounds.
    DriverPath.collect[(Long, Long)](und, driverMaxEdges, checkpointer) match {
      case Right(es0) =>
        def degrees(es: Array[(Long, Long)]) = {
          val deg = scala.collection.mutable.HashMap.empty[Long, Long]
          es.foreach { case (a, b) =>
            deg(a) = deg.getOrElse(a, 0L) + 1L
            deg(b) = deg.getOrElse(b, 0L) + 1L
          }
          deg
        }
        var es = es0
        var it = 0
        while (it < rounds) {
          val deg = degrees(es)
          es = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
          it += 1
        }
        return edges.sparkSession.createDataFrame(degrees(es).toSeq)
          .toDF("node", "deg")
      case Left(_) => ()
    }
    var sym = checkpointer.cut(symmetric(und))
    try {
      var it = 0
      while (it < rounds) {
        val alive = sym.groupBy("node").agg(count(lit(1)).as("__d"))
          .filter(col("__d") >= k).select("node")
        val next = checkpointer.cut(
          sym.join(alive, Seq("node"), "left_semi")
            .join(alive.select(col("node").as("nbr")), Seq("nbr"), "left_semi"))
        checkpointer.release(sym)
        sym = next
        it += 1
      }
      val out = sym.groupBy("node").agg(count(lit(1)).cast("long").as("deg"))
      // the caller consumes `out`, which reads the final cut — not released
      out
    } catch {
      case t: Throwable =>
        checkpointer.release(sym)
        throw t
    }
  }

  /** True iff one more peel round would remove nothing — i.e. [[kCore]]'s
    * output at these `rounds` IS the k-core fixpoint. One aggregate over
    * the final subgraph.
    */
  def kCoreConverged(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, rounds: Int): Boolean =
    kCore(edges, srcCol, dstCol, k, rounds)
      .filter(col("deg") < k).isEmpty

  /** Per-node local clustering coefficient as the exact integer micro
    * `cc_micro = (2·T(n)·10⁶) div (d(n)·(d(n)−1))` — triangle closure
    * rate around each node, the standard local-density signal next to
    * [[triangleCounts]]'s raw counts. Nodes of degree < 2 report 0.
    *
    * Scale shape: [[triangleCounts]]'s oriented wedge join (no node ever
    * enumerates a hub's full neighborhood²) + the degree aggregate + one
    * left join; all arithmetic BIGINT, division only at the final micro
    * snap (nonnegative, so floor ≡ truncate on every engine).
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String,
                            driverMaxEdges: Int = DriverPath.MaxRows): DataFrame = {
    val dedup = undirected(edges, col(srcCol), col(dstCol))
    // FAST PATH (optimization r13): degrees + the triangleCounts driver
    // twin + the nonnegative micro snap (SQL div ≡ Java / on nonnegative
    // longs). One collect instead of the localCheckpoint + three passes.
    DriverPath.collect[(Long, Long)](dedup, driverMaxEdges) match {
      case Right(es) =>
        val adj = adjacency(es)
        val tri = trianglesLocal(es, adj)
        val out = adj.toSeq.map { case (n, ns) =>
          val d = ns.size.toLong
          val t = tri.getOrElse(n, 0L)
          val cc = if (d >= 2) (2000000L * t) / (d * (d - 1L)) else 0L
          (n, d, t, cc)
        }
        return edges.sparkSession.createDataFrame(out)
          .toDF("node", "deg", "n_triangles", "cc_micro")
      case Left(_) => ()
    }
    // cut the upstream edge construction ONCE: und feeds the degree
    // aggregate and all three triangle passes — without the cut an
    // expensive edge subtree (e.g. a brute kNN) re-plans per consumer
    // (the q176/pageRank edge-cache lesson; 26 shuffles → 4 on q210)
    val und = dedup.localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // driverMaxEdges = 0: the guard above already tripped, don't pay the
    // probe collect a second time inside triangleCounts
    deg.join(triangleCounts(und, "a", "b", driverMaxEdges = 0), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          expr("(2000000 * coalesce(n_triangles, 0)) div (deg * (deg - 1))"))
          .otherwise(0L).as("cc_micro"))
  }

  /** k-TRUSS peeling (Cohen 2008, "Trusses: cohesive subgraphs for social
    * network analysis") — the EDGE-cohesion companion to [[kCore]]: each
    * synchronous round computes every surviving edge's triangle SUPPORT
    * (common-neighbor count within the surviving edge set) and drops
    * edges with support < k − 2. Fixed `rounds` is part of the semantics
    * (the kCore/LPA discipline — oracles unroll the same rounds); run to
    * convergence by raising it, monitoring the edge count.
    *
    * Output: surviving undirected edges `(a, b, support)` with `a < b`,
    * support as of the LAST peel's check.
    *
    * Scale shape: per round, ONE aligned wedge join (adjacency joined to
    * itself on the shared neighbor, bounded by Σ deg² of the SHRINKING
    * edge set) + one pair-keyed count + a semi join; lineage cut per
    * round through the checkpointer, cuts released as rounds retire.
    * Hub-heavy graphs should degree-cap or orient first (the
    * [[triangleCounts]] trick) — supports here must be per-EDGE, so the
    * plain aligned form is the exact baseline.
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             rounds: Int,
             checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local,
             driverMaxEdges: Int = DriverPath.MaxRows)
      : DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (k = 2 keeps every edge)")
    require(rounds >= 1, "need at least one peel round")
    val dedup = undirected(edges, col(srcCol), col(dstCol))
    // FAST PATH (optimization r13): per-round edge support = common
    // neighbors within the surviving edge set — pure counting; edges with
    // zero common neighbors never reach the support bar (k ≥ 3 ⇒
    // k − 2 ≥ 1), exactly like the distributed inner join.
    DriverPath.collect[(Long, Long)](dedup, driverMaxEdges, checkpointer) match {
      case Right(es0) =>
        var es: Array[(Long, Long)] = es0
        var kept: Array[(Long, Long, Long)] = Array.empty
        var r = 0
        while (r < rounds) {
          val adj = adjacency(es)
          kept = es.flatMap { case (a, b) =>
            val (small, large) =
              if (adj(a).size <= adj(b).size) (adj(a), adj(b))
              else (adj(b), adj(a))
            val sup = small.count(w => w != a && w != b && large.contains(w))
              .toLong
            if (sup >= k - 2) Some((a, b, sup)) else None
          }
          es = kept.map(t => (t._1, t._2))
          r += 1
        }
        return edges.sparkSession.createDataFrame(kept.toSeq)
          .toDF("a", "b", "support")
      case Left(_) => ()
    }
    // `release` takes the exact frame `cut` returned, so the cut and its
    // (a, b) projection are tracked separately across rounds
    var cutFrame = checkpointer.cut(dedup)
    var und = cutFrame
    var result: DataFrame = null
    var r = 0
    while (r < rounds) {
      val adj = und.select(col("a").as("x"), col("b").as("n"))
        .unionAll(und.select(col("b").as("x"), col("a").as("n")))
      val sup = und
        .join(adj.select(col("x").as("a"), col("n").as("w")), Seq("a"))
        .join(adj.select(col("x").as("b"), col("n").as("w")), Seq("b", "w"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
        .filter(col("support") >= k - 2)
      val kept = checkpointer.cut(
        und.join(sup.select(col("a"), col("b"), col("support")),
          Seq("a", "b")).select("a", "b", "support"))
      checkpointer.release(cutFrame)
      cutFrame = kept
      und = kept.select("a", "b")
      result = kept
      r += 1
    }
    result
  }

  /** LINK PREDICTION scores — common-neighbors and neighborhood Jaccard
    * (Liben-Nowell & Kleinberg 2003, the two exact-integer members of the
    * classic score family): one row per unordered node pair sharing ≥ 1
    * neighbor, with `cn` (common-neighbor count), both degrees, `is_edge`
    * (the pair is already connected — train/label split for an LP model),
    * and `jaccard_micro = ⌊10⁶·cn / (deg_u + deg_v − cn)⌋`.
    *
    * `maxDegree` is the hub guard (the q65 maxBucket discipline): a center
    * of degree m contributes m²/2 candidate pairs, so centers above the
    * cap contribute NO wedges — standard LP practice (a shared hub carries
    * almost no signal) and mirrored in the oracle, so it is part of the
    * semantics. Degrees in the output stay the TRUE degrees.
    *
    * `driverMaxEdges` budgets the driver fast path twice: on adjacency
    * rows, and on wedges, Σ C(d, 2) over the centers with
    * 2 ≤ d ≤ `maxDegree`. Over either, the distributed path runs.
    *
    * Scale shape: adjacency both directions (one distinct shuffle, cut
    * once for its three consumers), per-center neighbor pairs via the
    * in-place sorted-array expansion — ONE shuffle, never a self-join
    * that re-derives the upstream — then a pair-keyed count and two
    * degree joins that broadcast at dimension scale.
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxDegree: Int = 10000,
                     driverMaxEdges: Int = DriverPath.MaxRows): DataFrame = {
    require(maxDegree >= 2, "maxDegree must be >= 2")
    val adjFrame = edges
      .select(col(srcCol).as("x"), col(dstCol).as("n"))
      .unionAll(edges.select(col(dstCol).as("x"), col(srcCol).as("n")))
      .filter(col("x") =!= col("n"))
      .distinct()
    // FAST PATH (optimization r13): wedge counting over sorted neighbor
    // lists with the same hub cap — centers above maxDegree contribute no
    // wedges, degrees in the output stay the TRUE degrees; sorted
    // ascending neighbors make every pair (u, v) with u < v exactly once,
    // like the posexplode/slice expansion.
    DriverPath.collect[(Long, Long)](adjFrame, driverMaxEdges) match {
      case Right(rows) =>
        val adj = adjacency(rows) // rows hold both directions already
        // the row guard bounds the adjacency, not its expansion: a center
        // of degree d makes C(d, 2) wedges, so a star within the row
        // budget can still blow up the driver — budget the wedges too
        val wedges = adj.valuesIterator.map(_.size.toLong)
          .filter(d => d >= 2 && d <= maxDegree)
          .map(d => d * (d - 1) / 2).sum
        if (wedges <= driverMaxEdges) {
          val cn = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
          adj.foreach { case (_, ns) =>
            if (ns.size >= 2 && ns.size <= maxDegree) {
              val sorted = ns.toArray.sorted
              var i = 0
              while (i < sorted.length) {
                var j = i + 1
                while (j < sorted.length) {
                  val key = (sorted(i), sorted(j))
                  cn(key) = cn.getOrElse(key, 0L) + 1L
                  j += 1
                }
                i += 1
              }
            }
          }
          val out = cn.toSeq.map { case ((u, v), c) =>
            val du = adj(u).size.toLong
            val dv = adj(v).size.toLong
            val isEdge = adj(u).contains(v)
            (u, v, c, du, dv, isEdge, (1000000L * c) / (du + dv - c))
          }
          return edges.sparkSession.createDataFrame(out)
            .toDF("u", "v", "cn", "deg_u", "deg_v", "is_edge", "jaccard_micro")
        }
      case Left(_) => ()
    }
    val adj = adjFrame.localCheckpoint(true)
    val deg = adj.groupBy(col("x").as("node")).agg(count(lit(1)).as("deg"))
    // per-center pairs, capped BEFORE collect so a hub never materializes
    val wCnt = Window.partitionBy("x")
    val cn = adj
      .withColumn("__m", count(lit(1)).over(wCnt))
      .filter(col("__m").between(2, maxDegree))
      .groupBy("x").agg(sort_array(collect_list(col("n"))).as("__ns"))
      .select(posexplode(col("__ns")).as(Seq("__i", "u")), col("__ns"))
      .select(col("u"),
        explode(slice(col("__ns"), col("__i") + lit(2), size(col("__ns"))))
          .as("v"))
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cn"))
    val isEdge = adj.filter(col("x") < col("n"))
      .select(col("x").as("u"), col("n").as("v"), lit(true).as("is_edge"))
    cn
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))
      .join(isEdge, Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"),
        expr("(1000000 * cn) div (deg_u + deg_v - cn)").as("jaccard_micro"))
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in networks")
    * as an EXACT integer rational: Pearson correlation of the endpoint
    * degrees over the symmetrized undirected edge list, reported as
    * `(n_endpoints, sum_x, sum_xy, sum_xx, r_num, r_den)` with
    * `r = r_num / r_den` — on the symmetrized list the x- and y-marginals
    * coincide, so the usual sqrt of a product of variances collapses to
    * ONE integer denominator and no float ever appears (positive r_num =
    * assortative/hub-to-hub wiring, negative = disassortative — the
    * hub-to-leaf shape kNN similarity graphs usually show).
    *
    * Scale shape: symmetrize + distinct (one shuffle), a degree aggregate,
    * two hash joins tagging each endpoint's degree, one global aggregate
    * row. Self-loops are dropped; multi-edges collapse in the distinct.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String,
                          driverMaxEdges: Int = DriverPath.MaxRows): DataFrame = {
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
    // FAST PATH (optimization r13): the statistic is one pass of exact
    // integer sums — BigInt on the driver IS the DECIMAL(38,0) arithmetic
    // (both exact), wrapped back into the identical decimal schema so the
    // callers' BIGINT snap sees the same types.
    DriverPath.collect[(Long, Long)](und, driverMaxEdges) match {
      case Right(sym) =>
        val deg = sym.groupBy(_._1).map { case (n, g) => n -> g.length.toLong }
        var nEndp = 0L
        var sumX = BigInt(0); var sumXy = BigInt(0); var sumXx = BigInt(0)
        sym.foreach { case (a, b) =>
          val x = BigInt(deg(a)); val y = BigInt(deg(b))
          nEndp += 1L; sumX += x; sumXy += x * y; sumXx += x * x
        }
        val rNum = BigInt(nEndp) * sumXy - sumX * sumX
        val rDen = BigInt(nEndp) * sumXx - sumX * sumX
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("n_endpoints", LongType, nullable = false),
          StructField("sum_x", DecimalType(38, 0)),
          StructField("sum_xy", DecimalType(38, 0)),
          StructField("sum_xx", DecimalType(38, 0)),
          StructField("r_num", DecimalType(38, 0)),
          StructField("r_den", DecimalType(38, 0))))
        def dec(v: BigInt) = new java.math.BigDecimal(v.bigInteger)
        val row = org.apache.spark.sql.Row(nEndp, dec(sumX), dec(sumXy),
          dec(sumXx), dec(rNum), dec(rDen))
        return edges.sparkSession.createDataFrame(
          java.util.Collections.singletonList(row), schema)
      case Left(_) => ()
    }
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    // DECIMAL(38,0) end to end (the q221 chi-square / modularity
    // discipline): on hub-heavy graphs (deg ~10⁶ over ~10¹² endpoint rows)
    // Σxy ≈ 10²⁴ — the sums THEMSELVES exceed BIGINT, not just the final
    // n·Σ products, so the whole statistic is decimal (pinned in
    // CorrelateOverflowSpec). Exact in parquet; sqrt/division stay at the
    // presentation edge as before.
    val d38 = "decimal(38,0)"
    und
      .join(deg.select(col("node").as("a"), col("deg").as("x")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("y")), Seq("b"))
      .select(col("x").cast(d38).as("x"), col("y").cast(d38).as("y"))
      .agg(count(lit(1)).as("n_endpoints"),
        sum(col("x")).cast(d38).as("sum_x"),
        sum((col("x") * col("y")).cast(d38)).cast(d38).as("sum_xy"),
        sum((col("x") * col("x")).cast(d38)).cast(d38).as("sum_xx"))
      .select(col("n_endpoints"), col("sum_x"), col("sum_xy"), col("sum_xx"),
        (col("n_endpoints").cast(d38) * col("sum_xy")
          - col("sum_x") * col("sum_x")).cast(d38).as("r_num"),
        (col("n_endpoints").cast(d38) * col("sum_xx")
          - col("sum_x") * col("sum_x")).cast(d38).as("r_den"))
  }
}
