package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-block ENTITY MATCHING BY EVENT-TRAIN COINCIDENCE — the
  * reference's unit-matching stage re-expressed as declarative Spark
  * (`aeon/dj_pipeline/spike_sorting.py:1226-1460`: `UnitMatching.make`
  * compares spike trains of a new ephys block against overlapping
  * already-matched blocks with a ±0.4 ms coincidence window, matched
  * units inherit persistent `GlobalUnit` ids, unmatched units mint new
  * ones). The reference delegates the comparison to spikeinterface's
  * sorter-agreement machinery; unlike the sorter itself (a genuine
  * external black box) the agreement computation is pure data-parallel
  * arithmetic, so here it is a first-class operator with EXACT integer
  * semantics any engine replays:
  *
  *  - `coincident(a, b, δ)` = number of DISTINCT a-events having at least
  *    one b-event within ±δ µs (each event counts once — burst trains
  *    cannot inflate the score), computed symmetrically for both sides;
  *  - `agreement_permille = ⌊1000·c / (n_a + n_b − c)⌋` with
  *    `c = min(coinc_a, coinc_b)` — the Jaccard-style agreement score on
  *    the µs grid, floor-div so no float appears;
  *  - matches = MUTUAL best: a pair survives iff it is unit_a's highest
  *    agreement AND unit_b's highest (ties broken by the smaller partner
  *    id, so the assignment is deterministic), at or above a threshold.
  *
  * Scale shape: events bucket on `us div δ`; the left side explodes to
  * its bucket ±1 (|a-b| ≤ δ ⇒ bucket distance ≤ 1), so candidates are
  * bounded by per-δ-window event products — set by the event rate and δ
  * (0.4 ms windows at spike rates ⇒ a handful per bucket), never
  * |A|×|B|. One shuffle builds the candidate pairs, one aggregate the
  * matrix, two keyed argmax windows the assignment. The global-id
  * propagation walks blocks in seed order (the reference's seed-first
  * frontier rule) with one bounded driver value per block — block count
  * is catalog-scale, never event-scale.
  */
object EventMatch {

  /** Pairwise agreement matrix between two keyed event-train sets.
    * `a`/`b`: `(unitCol, usCol)` rows (already restricted to the shared
    * window by the caller — the reference's overlap restriction). Output:
    * `(unit_a, unit_b, n_a, n_b, coinc_a, coinc_b, agreement_permille)`
    * for pairs with at least one coincidence.
    */
  def agreementMatrix(a: DataFrame, b: DataFrame, unitCol: String,
                      usCol: String, deltaUs: Long): DataFrame = {
    require(deltaUs > 0, "coincidence window must be positive")
    val av = a.select(col(unitCol).cast("long").as("unit_a"),
      col(usCol).cast("long").as("ua"))
    val bv = b.select(col(unitCol).cast("long").as("unit_b"),
      col(usCol).cast("long").as("ub"))
    val na = av.groupBy("unit_a").agg(count(lit(1)).as("n_a"))
    val nb = bv.groupBy("unit_b").agg(count(lit(1)).as("n_b"))
    // bucket-join candidates: a explodes to bucket±1, b keeps its bucket
    val cand = av
      .withColumn("bk", explode(array(
        expr(s"ua div $deltaUs") - 1L,
        expr(s"ua div $deltaUs"),
        expr(s"ua div $deltaUs") + 1L)))
      .join(bv.withColumn("bk", expr(s"ub div $deltaUs")), Seq("bk"))
      .filter(abs(col("ua") - col("ub")) <= deltaUs)
    cand.groupBy("unit_a", "unit_b")
      .agg(count_distinct(col("ua")).as("coinc_a"),
        count_distinct(col("ub")).as("coinc_b"))
      .join(na, Seq("unit_a"))
      .join(nb, Seq("unit_b"))
      .withColumn("agreement_permille", expr(
        """(1000 * least(coinc_a, coinc_b))
          | div (n_a + n_b - least(coinc_a, coinc_b))""".stripMargin))
      .select("unit_a", "unit_b", "n_a", "n_b", "coinc_a", "coinc_b",
        "agreement_permille")
  }

  /** [[mutualBestMatch]]'s rule on collected matrix rows
    * `(unit_a, unit_b, agreement_permille)` — the driver twin behind
    * [[assignLocal]]: `minBy (score desc, partner asc)` per side is exactly
    * `row_number() == 1` under the same order.
    */
  private def mutualBestLocal(rows: Seq[(Long, Long, Long)],
                              minPermille: Long): Seq[(Long, Long)] = {
    val f = rows.filter(_._3 >= minPermille)
    val bestA = f.groupBy(_._1).map { case (a, g) =>
      a -> g.minBy(t => (-t._3, t._2))._2 }
    val bestB = f.groupBy(_._2).map { case (b, g) =>
      b -> g.minBy(t => (-t._3, t._1))._1 }
    f.collect { case (a, b, _) if bestA(a) == b && bestB(b) == a => (a, b) }
  }

  /** One block's `unit → global_unit` assignment on the driver — the
    * driver twin of one [[propagateGlobalIds]] round, shared with
    * [[graft.streaming.StreamingUnitMatch]]. The block's unit catalog and,
    * past the seed, its [[agreementMatrix]] against `prev` (the previous
    * block's trains and assignment) go through [[DriverPath.collect]];
    * `Left(reason)` when either must take the distributed path. The seed
    * (`prev` None) keeps identity ids; otherwise mutual-best matches
    * inherit the previous block's global id and the rest mint dense ids
    * above `maxId`, ordered by unit id (assignDenseIds' order), exactly
    * the distributed rules.
    */
  private[graft] def assignLocal(cur: DataFrame,
                                 prev: Option[(DataFrame, Map[Long, Long])],
                                 unitCol: String, usCol: String,
                                 deltaUs: Long, minPermille: Long,
                                 maxId: Long, budget: Long)
      : Either[String, Map[Long, Long]] = {
    import DriverPath.{longs, triples}
    DriverPath.collect[Long](
        cur.select(col(unitCol).cast("long").as("u")).distinct(), budget)
      .flatMap { units =>
        prev match {
          case None => Right(units.map(u => u -> u).toMap)
          case Some((prevBlock, prevAssign)) =>
            DriverPath.collect[(Long, Long, Long)](
                agreementMatrix(cur, prevBlock, unitCol, usCol, deltaUs)
                  .select("unit_a", "unit_b", "agreement_permille"), budget)
              .map { matrix =>
                val inherited = mutualBestLocal(matrix.toSeq, minPermille)
                  .flatMap { case (u, pu) => prevAssign.get(pu).map(u -> _) }
                  .toMap
                val fresh = units.filterNot(inherited.contains).sorted
                inherited ++ fresh.zipWithIndex
                  .map { case (u, r) => u -> (maxId + 1L + r) }
              }
        }
      }
  }

  /** Mutual-best assignment over an [[agreementMatrix]]: a pair survives
    * iff it is unit_a's best AND unit_b's best (score desc, smaller
    * partner id on ties) and scores ≥ `minPermille`. Output:
    * `(unit_a, unit_b, agreement_permille)` — at most one row per unit on
    * either side.
    */
  def mutualBestMatch(matrix: DataFrame, minPermille: Long): DataFrame = {
    val wa = Window.partitionBy("unit_a")
      .orderBy(col("agreement_permille").desc, col("unit_b"))
    val wb = Window.partitionBy("unit_b")
      .orderBy(col("agreement_permille").desc, col("unit_a"))
    matrix.filter(col("agreement_permille") >= minPermille)
      .withColumn("__ra", row_number().over(wa))
      .withColumn("__rb", row_number().over(wb))
      .filter(col("__ra") === 1 && col("__rb") === 1)
      .select("unit_a", "unit_b", "agreement_permille")
  }

  /** Seed-first global-id propagation (`GlobalUnit` semantics): walk
    * `blocks` in order — the first is the seed — matching each block's
    * trains against the PREVIOUS block over their shared rows; matched
    * units inherit the previous block's global id, unmatched units mint
    * fresh ids above the running maximum (ordered by unit id, so the
    * assignment is deterministic). Each block's trains must already be
    * restricted to that block's window; consecutive blocks are compared
    * on their full given extents (the caller makes them overlap, as the
    * reference's frontier guard enforces).
    *
    * Output: `(block, unit, global_unit)` for every unit of every block.
    * Driver state per block: one max-id long + the per-block assignment
    * join — bounded by unit counts (catalog scale), never event counts.
    */
  def propagateGlobalIds(blocks: Seq[DataFrame], unitCol: String,
                         usCol: String, deltaUs: Long,
                         minPermille: Long,
                         driverMaxRows: Int = DriverPath.MaxRows): DataFrame = {
    require(blocks.nonEmpty, "need at least one block")
    // FAST PATH (optimization r12, guide §1.2): everything AFTER the
    // distributed agreement aggregate is unit-catalog scale — the matrix is
    // ≤ |units|² rows and each block's assignment is |units| rows — yet the
    // distributed formulation paid ~10 shuffle stages (2 argmax windows,
    // 3 joins, a range-partitioned id mint, 2 lineage cuts) PER BLOCK on
    // catalog-sized tables (q253 measured 92 jobs / 14 s-class walls).
    // Collect the matrix and unit set per block (guarded by
    // DriverPath.collect), assign on the driver with the IDENTICAL
    // mutual-best + dense-mint rules ([[assignLocal]]), and return one
    // local relation: one distributed aggregate per block, events never
    // leave the cluster path. Falls back to the distributed loop when any
    // block must take the distributed path.
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var prevAssign = Map.empty[Long, Long]
    var maxId = Long.MinValue
    var i = 0
    while (i < blocks.length) {
      val prev = if (i == 0) None else Some(blocks(i - 1) -> prevAssign)
      val assign = assignLocal(blocks(i), prev, unitCol, usCol, deltaUs,
        minPermille, maxId, driverMaxRows) match {
        case Right(a) => a
        case Left(_) =>
          return propagateDistributed(blocks, unitCol, usCol, deltaUs,
            minPermille)
      }
      assign.foreach { case (u, g) => out += ((i.toLong, u, g)) }
      if (assign.nonEmpty)
        maxId = math.max(maxId, assign.valuesIterator.max)
      prevAssign = assign
      i += 1
    }
    blocks.head.sparkSession.createDataFrame(out.toSeq)
      .toDF("block", "unit", "global_unit")
  }

  private def propagateDistributed(blocks: Seq[DataFrame], unitCol: String,
                                   usCol: String, deltaUs: Long,
                                   minPermille: Long): DataFrame = {
    val spark = blocks.head.sparkSession
    import spark.implicits._
    // seed: unit ids become global ids (the reference seeds identity too)
    var assigned = blocks.head.select(col(unitCol).cast("long").as("unit"))
      .distinct()
      .select(lit(0L).as("block"), col("unit"), col("unit").as("global_unit"))
    var out = assigned
    var i = 1
    while (i < blocks.length) {
      val prev = blocks(i - 1)
      val cur = blocks(i)
      val matches = mutualBestMatch(
        agreementMatrix(cur, prev, unitCol, usCol, deltaUs), minPermille)
        .select(col("unit_a").as("unit"), col("unit_b").as("prev_unit"))
      val inherited = matches
        .join(assigned.select(col("unit").as("prev_unit"),
          col("global_unit")), Seq("prev_unit"))
        .select(col("unit"), col("global_unit"))
      val curUnits = cur.select(col(unitCol).cast("long").as("unit"))
        .distinct()
      // fresh ids: dense above the running max, ordered by unit id —
      // assignDenseIds (range-partition + offsets), so no global window;
      // one driver long (the max) per block — bounded.
      val maxId = out.agg(max(col("global_unit"))).as[Long].head()
      val fresh = graft.sources.Layout.assignDenseIds(
          curUnits.join(inherited.select("unit"), Seq("unit"), "left_anti"),
          Seq("unit"), numRanges = 4)
        .select(col("unit"), (col("row_id") + maxId + 1L).as("global_unit"))
      assigned = inherited.unionByName(fresh)
        .select(lit(i.toLong).as("block"), col("unit"), col("global_unit"))
      out = out.unionByName(assigned)
      // cut lineage per block: the loop otherwise stacks one join tree
      // per block (the CC/LPA discipline)
      assigned = assigned.localCheckpoint(true)
      out = out.localCheckpoint(true)
      i += 1
    }
    out
  }

  /** Per-block UNIT-YIELD report over a global-unit assignment table —
    * the reference's unit-matching QC rollup
    * (`scripts/ephys_v2_qc_plots.py:186-231`, `plot_unit_yield`): for
    * each block, how many global units are present, how many appear for
    * the FIRST time, how many are retained from the immediately
    * preceding block, and how many of the preceding block's units were
    * dropped. "Preceding" means adjacent in the DISTINCT block-id order
    * (the reference indexes blocks positionally), so gapped block ids
    * behave like the reference's arrays.
    *
    * Scale shape: the distinct block list is catalog-scale and collected
    * once (the IVF-k-picks class of bounded driver state); presence rows
    * then take two windows keyed on the global unit and one per-block
    * aggregate. Nothing scales with event volume — the input is the
    * assignment table.
    */
  def unitYieldReport(assignments: DataFrame, blockCol: String = "block",
                      globalCol: String = "global_unit"): DataFrame = {
    val spark = assignments.sparkSession
    import spark.implicits._
    val blocks = assignments
      .select(col(blockCol).cast("long").as("b")).distinct()
      .orderBy("b").as[Long].collect()
    require(blocks.nonEmpty, "unitYieldReport needs at least one block")
    val pos = broadcast(blocks.zipWithIndex
      .map { case (b, i) => (b, i.toLong) }.toSeq.toDF("__b", "__p"))
    val presence = assignments
      .select(col(blockCol).cast("long").as("__b"),
        col(globalCol).cast("long").as("__g"))
      .distinct()
      .join(pos, Seq("__b"))
    val wg = Window.partitionBy(col("__g")).orderBy(col("__p"))
    val flagged = presence
      .withColumn("__first", min(col("__p")).over(
        Window.partitionBy(col("__g"))))
      .withColumn("__prev", lag(col("__p"), 1).over(wg))
      .withColumn("__next", lead(col("__p"), 1).over(wg))
    val perBlock = flagged.groupBy(col("__p"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("__p") === col("__first"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("__prev") === col("__p") - 1L, 1L).otherwise(0L))
          .as("n_retained"))
    // a unit present at p with no presence at p+1 is DROPPED at p+1
    // (attributed there, like the reference's per-block loop); the final
    // block drops nothing forward of itself
    val dropped = flagged
      .filter(col("__p") < lit(blocks.length - 1L) &&
        (col("__next").isNull || col("__next") > col("__p") + 1L))
      .groupBy((col("__p") + 1L).as("__p"))
      .agg(count(lit(1)).as("n_dropped"))
    perBlock.join(dropped, Seq("__p"), "left")
      .join(pos, Seq("__p"))
      .select(col("__b").as(blockCol), col("n_units"), col("n_new"),
        col("n_retained"), coalesce(col("n_dropped"), lit(0L))
          .as("n_dropped"))
  }

  /** Per-global-unit LONGEVITY + event-count consistency — the
    * reference's unit Gantt / longevity-histogram / spike-count-
    * consistency inputs (`ephys_v2_qc_plots.py:76-116,242-330`): for
    * each global unit, its first and last block, the number of blocks it
    * was matched in, and the min/max/total of its per-block DISTINCT
    * event counts (the max/min ratio is the consistency screen — left to
    * the presentation edge, the counts here are exact). One events-side
    * aggregate (map-side partials) + one join on (block, unit) + one
    * per-unit aggregate.
    */
  def unitLongevity(assignments: DataFrame, events: DataFrame,
                    blockCol: String = "block", unitCol: String = "unit",
                    usCol: String = "us",
                    globalCol: String = "global_unit"): DataFrame = {
    val counts = events
      .groupBy(col(blockCol).cast("long").as(blockCol),
        col(unitCol).cast("long").as(unitCol))
      .agg(count_distinct(col(usCol)).as("__n"))
    assignments
      .select(col(blockCol).cast("long").as(blockCol),
        col(unitCol).cast("long").as(unitCol), col(globalCol))
      .join(counts, Seq(blockCol, unitCol))
      .groupBy(col(globalCol))
      .agg(min(col(blockCol)).as("first_block"),
        max(col(blockCol)).as("last_block"),
        count(lit(1)).as("longevity"),
        min(col("__n")).as("n_events_min"),
        max(col("__n")).as("n_events_max"),
        sum(col("__n")).as("n_events_total"))
  }
}
