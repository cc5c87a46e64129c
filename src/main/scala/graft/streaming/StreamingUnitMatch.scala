package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DriverPath, EventMatch, Populate}

/** Streaming/incremental twin of
  * [[graft.operators.EventMatch.propagateGlobalIds]] — the reference's
  * unit-matching populate IS incremental (`spike_sorting.py:1269-1299`:
  * `key_source` yields the seed block first, then the processing
  * frontier), so the drain mirrors it: block-stamped event files land in
  * waves; each drain walks the NEW blocks in ascending order, matches
  * every one against the PERSISTED trains of its predecessor block
  * (the corpus is never re-matched), and appends the block's
  * `(block, unit, global_unit)` assignment idempotently. Matched units
  * inherit the predecessor's global id; new units mint dense ids above
  * the persisted running maximum.
  *
  * Contract: blocks must land in order (a block's predecessor must
  * already be assigned when the block drains — the reference's
  * seed-first guard raises on gaps, and so does this drain). The drained
  * assignment table after any wave sequence equals the one-shot
  * [[EventMatch.propagateGlobalIds]] over the same blocks
  * (StreamingUnitMatchSpec + the q254 oracle, which is q253's closed
  * form verbatim).
  *
  * State per wave: the predecessor block's trains (one block, read back
  * with a block-pruned scan from the persisted train store), the
  * done-block catalog with the running max global id (one job per wave),
  * and the predecessor's assignment rows (one block: carried on the
  * driver from the block assigned just before, else one filtered
  * collect) — never the cumulative assignment table. Late/replayed blocks are
  * keyed no-ops: assignments append idempotently on `(block, unit)` and
  * train rows on `(block, unit, us)`.
  */
object StreamingUnitMatch {

  def drain(spark: SparkSession, sourceDir: String, trainsDir: String,
            assignmentsDir: String, checkpointDir: String,
            blockCol: String, unitCol: String, usCol: String,
            schema: org.apache.spark.sql.types.StructType,
            deltaUs: Long, minPermille: Long): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      import spark.implicits._
      val rows = batch.select(col(blockCol).cast("long").as("block"),
        col(unitCol).cast("long").as("unit"),
        col(usCol).cast("long").as("us")).localCheckpoint(true)
      // persist the wave's trains first, PARTITIONED by block (one
      // `block=N` subdir per block, written per wave block — the wave's
      // block set is catalog-sized): the predecessor read below opens
      // exactly one partition directory, so matching block k against
      // k−1 never lists or scans the other blocks' files — the pruning
      // a 100 TB train store needs, by path instead of row-group stats
      def blockDir(b: Long) = s"$trainsDir/block=$b"
      val waveBlocks = rows.select("block").distinct().as[Long]
        .collect().toSeq.sorted
      waveBlocks.foreach { b =>
        Populate.appendIdempotent(
          rows.filter(col("block") === b).select("unit", "us"),
          blockDir(b), Seq("unit", "us"))
      }
      val assigned0 = Populate.readIfExists(spark, assignmentsDir)
      // one job: the done-block catalog with each block's top global id —
      // bounded driver state
      val doneBlocks: Map[Long, Long] = assigned0 match {
        case None => Map.empty
        case Some(a) => a.groupBy(col("block").cast("long"))
          .agg(max(col("global_unit").cast("long")))
          .as[(Long, Long)].collect().toMap
      }
      val newBlocks = waveBlocks.toSet.diff(doneBlocks.keySet).toSeq.sorted
      // carried across the wave's blocks on the driver: the running max
      // global id (None until the seed block is assigned) and the block
      // assigned last with its unit → global_unit map
      var maxId = doneBlocks.values.maxOption
      var lastAssigned = Option.empty[(Long, Map[Long, Long])]
      // per-block assignment runs ON THE DRIVER through the one-shot's own
      // EventMatch.assignLocal (the propagateGlobalIds fast path): unit
      // catalogs and the agreement matrix are catalog scale by this
      // drain's contract, so only the agreement AGGREGATE is a cluster job
      newBlocks.foreach { blk =>
        val cur = spark.read.parquet(blockDir(blk)).select("unit", "us")
        // the first assignment is the seed block (identity ids, like
        // propagateGlobalIds); newBlocks is sorted, so this is the
        // smallest block the stream has delivered — the landing contract
        // makes that the true seed
        val prev = maxId.map { _ =>
          val prevBlk = blk - 1
          // the predecessor's map: the block just assigned in this wave,
          // else one collect of that block's rows alone
          val prevAssign = lastAssigned.collect {
            case (b, m) if b == prevBlk => m
          }.getOrElse(assigned0.fold(Map.empty[Long, Long])(
            _.filter(col("block") === prevBlk)
              .select(col("unit").cast("long"),
                col("global_unit").cast("long"))
              .as[(Long, Long)].collect().toMap))
          require(prevAssign.nonEmpty,
            s"block $blk drained before its predecessor $prevBlk was " +
              "assigned — blocks must land in order (the reference's " +
              "seed-first frontier guard)")
          spark.read.parquet(blockDir(prevBlk)).select("unit", "us") ->
            prevAssign
        }
        val assign = EventMatch.assignLocal(cur, prev, "unit", "us",
            deltaUs, minPermille, maxId.getOrElse(Long.MinValue),
            DriverPath.MaxRows) match {
          case Right(a) => a
          case Left(reason) => throw new IllegalStateException(
            s"block $blk cannot be assigned on the driver ($reason); " +
              "use EventMatch.propagateGlobalIds")
        }
        Populate.appendIdempotent(
          spark.createDataFrame(assign.toSeq.map { case (u, g) => (blk, u, g) })
            .toDF("block", "unit", "global_unit"),
          assignmentsDir, Seq("block", "unit"))
        maxId = (maxId.toSeq ++ assign.values).maxOption
        lastAssigned = Some(blk -> assign)
      }
    }
  }

  /** The drained assignment table, `(block, unit, global_unit)`. */
  def loadAssignments(spark: SparkSession, assignmentsDir: String): DataFrame =
    spark.read.parquet(assignmentsDir)
}
