package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, struct}

/** The incremental derivation ("populate") engine — SURVEY.md §3.1 as a small
  * library.
  *
  * Reference: DataJoint's `Table.populate()` loops over
  * `key_source - already-done-keys` and calls `make(key)` per key
  * (`aeon/dj_pipeline/utils/streams_maker.py:202-264`,
  * `acquisition.py:243-245, 516-518`). Here the per-key loop disappears: the
  * same transformation runs set-at-a-time as one Spark job —
  * `newKeys = keySource ⟕̸ existing` (left_anti), `make(newKeys)`, idempotent
  * append.
  *
  * Scale: the anti-join shuffles only the PK columns (project before join);
  * when the done-keys side is small it broadcasts. The anti-join re-check at
  * write time is the Spark-native analogue of `skip_duplicates=True`
  * (`acquisition.py:547-549`) and makes RETRIES of a single writer
  * idempotent; see [[appendIdempotent]] for the (non-)guarantee under
  * concurrent writers.
  *
  * Every table write goes through one staged-publish protocol, so a crash
  * costs a retry and never a row: the write lands in the table's
  * dot-prefixed staged sibling, then is published by rename — part files
  * into the table for an append ([[appendIdempotent]], and
  * [[appendIdempotentExclusive]] under its lock), the whole directory over
  * the table for a swap ([[replaceAtomic]], which [[compactLatest]],
  * [[invalidate]] and `Layout.compact` publish through). The one reader,
  * [[readIfExists]], finishes a swap that crashed between its delete and
  * its rename before it reads.
  */
object Populate {

  /** Keys still to do: declared upstream keys minus already-materialized keys
    * (J7 anti join — THE core primitive, SURVEY.md §2.3), in `keySource`'s
    * column order. A USING join puts the pk columns first; projecting back
    * keeps every append's part files in one column order, whether or not
    * the table existed (Spark infers a table's schema from one footer).
    */
  def newKeys(keySource: DataFrame, existing: Option[DataFrame], pk: Seq[String]): DataFrame =
    existing match {
      case Some(done) =>
        keySource.join(done.select(pk.map(col): _*), pk, "left_anti")
          .select(keySource.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
      case None => keySource
    }

  /** One populate step: compute rows for not-yet-done keys.
    * `make` is a pure DataFrame→DataFrame derivation (the `make()` body).
    */
  def derive(keySource: DataFrame, existing: Option[DataFrame], pk: Seq[String])
            (make: DataFrame => DataFrame): DataFrame =
    make(newKeys(keySource, existing, pk))

  /** Read a parquet table that may not exist yet — the one table reader
    * of the staged-publish protocol. Reads `None` when the table is
    * genuinely absent, or is a directory with no visible data file yet
    * (the exclusive append creates one to hold its lock, and a first
    * append that crashed mid-publish leaves one). If the table is missing
    * but a complete staged snapshot exists — [[replaceAtomic]] crashed
    * between its delete and its rename — the snapshot is published first:
    * reading "no table" there would let the next append publish a fresh
    * table and orphan the snapshot's rows. Any other read failure
    * (transient FS error, permissions, corrupt footer) rethrows — treating
    * those as "empty table" would silently break skip_duplicates for every
    * caller.
    *
    * Existence is probed through the Hadoop FS FIRST (not try/catch on the
    * read): `spark.read.parquet` on a missing path logs a
    * FileNotFoundException WARN stack through FileStreamSink's metadata
    * probe before throwing, which buries real warnings in every
    * first-drain streaming log (q155). The directory is listed only when
    * schema inference fails, so existing tables pay no extra listing. The
    * catch of a missing path stays only for the probe-then-deleted race.
    */
  def readIfExists(spark: SparkSession, tablePath: String): Option[DataFrame] = {
    val (fs, table) = resolve(spark, tablePath)
    def hasData = fs.listStatus(table).exists { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def failed(e: AnalysisException, condition: String) =
      e.getCondition != null && e.getCondition.startsWith(condition)
    if (!recoverStaged(fs, table)) None
    else try Some(spark.read.parquet(tablePath)) catch {
      case _: java.io.FileNotFoundException => None
      case e: AnalysisException if failed(e, "PATH_NOT_FOUND") => None
      case e: AnalysisException
          if failed(e, "UNABLE_TO_INFER_SCHEMA") && !hasData => None
    }
  }

  /** Idempotent append to a parquet table path: anti-join against current
    * contents (skip_duplicates), then append. Returns rows written.
    *
    * The rows not yet in the table are written to the table's staged
    * sibling in one pass — the row count rides the write itself
    * (Observation, no cache + count round-trip) — and their part files are
    * renamed into the table only when n > 0. So an all-duplicate or
    * replayed wave leaves no zero-row part file behind, and an absent table
    * never materializes empty. A crash before publish leaves only the inert
    * staged dir; a crash mid-publish leaves a prefix of complete part files
    * (atomic per file on POSIX/HDFS, names carry the write's UUID) whose
    * rows the pk re-check skips on retry — so a retry converges without
    * duplicates.
    *
    * Guarantee: idempotent under RETRIES of a single writer (re-running the
    * same populate never duplicates rows). NOT safe under concurrent writers
    * to the same table — plain parquet append has no atomic
    * read-check-append, and concurrent writers share the one staged
    * sibling. For multi-worker populates use
    * [[appendIdempotentExclusive]], which restores the reference's
    * MySQL-transaction safety (`acquisition.py:547-549`) by running this
    * same append under an exclusive lock.
    */
  def appendIdempotent(result: DataFrame, tablePath: String, pk: Seq[String]): Long = {
    val spark = result.sparkSession
    val fresh = newKeys(result, readIfExists(spark, tablePath), pk)
    val (fs, table) = resolve(spark, tablePath)
    val staged = stagedFor(table)
    val obs = org.apache.spark.sql.Observation()
    try {
      fresh.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(staged.toString)
      val n = obs.get("n").asInstanceOf[Long]
      if (n > 0) {
        fs.mkdirs(table)
        fs.listStatus(staged)
          .filter(_.getPath.getName.startsWith("part-"))
          .foreach(f => publish(fs, f.getPath, new Path(table, f.getPath.getName)))
      }
      n
    } finally { fs.delete(staged, true); () }
  }

  /** Crash-safe FULL REPLACEMENT of a parquet table (the compact-snapshot
    * twin of [[appendIdempotent]] — for tables whose correct idempotent
    * semantics are "latest derivation wins", e.g. cluster assignments).
    *
    * `mode("overwrite")` deletes the directory BEFORE writing, so a crash
    * mid-write destroys the previous snapshot — and when the new snapshot's
    * plan also READS the old table, recompute after executor loss is
    * impossible. This instead:
    *  1. writes the new snapshot to the table's staged sibling
    *     `.<table>.__staged` (the old table stays intact and readable
    *     throughout — plans deriving the new snapshot FROM the old one need
    *     no lineage cut), then marks it complete;
    *  2. deletes the old table and renames the staged copy into place.
    * A crash in step 1 leaves the old table untouched (the incomplete
    * staged dir lacks the completeness marker and the next write replaces
    * it); a crash between delete and rename leaves a COMPLETE staged copy
    * that [[readIfExists]] — and this method, before it stages — publishes
    * first. No interleaving loses both snapshots.
    */
  def replaceAtomic(result: DataFrame, tablePath: String): Unit = {
    val (fs, table) = resolve(result.sparkSession, tablePath)
    val staged = stagedFor(table)
    recoverStaged(fs, table) // never overwrite the only complete snapshot
    result.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    // own completeness marker: `_SUCCESS` only exists when
    // mapreduce.fileoutputcommitter.marksuccessfuljobs is true (commonly
    // disabled on object stores) — recovery must not key durability on a
    // committer config the deployment controls
    fs.create(new Path(staged, StagedCompleteMarker), true).close()
    // a delete that reports false and leaves the table would turn the
    // rename below into a move INTO the old table
    if (!fs.delete(table, true) && fs.exists(table))
      throw new java.io.IOException(s"failed to retire $table")
    publish(fs, staged, table)
  }

  /** Written into a staged snapshot after its parquet job completes;
    * underscore-prefixed so readers of the published table ignore it.
    */
  private val StagedCompleteMarker = "_GRAFT_STAGED_COMPLETE"
  private val StagedSuffix = ".__staged"

  /** The one staged-name rule: `.<table>.__staged`, a sibling of the
    * table. Dot-prefixed, so a reader listing a partitioned table's parent
    * never sees it. */
  private[graft] def stagedFor(table: Path): Path =
    new Path(table.getParent, s".${table.getName}$StagedSuffix")

  /** The table `dir` stages, if `dir` is a staged sibling. */
  private[graft] def stagedTarget(dir: Path): Option[Path] =
    Some(dir.getName).filter(n => n.startsWith(".") && n.endsWith(StagedSuffix))
      .map(n => new Path(dir.getParent, n.drop(1).dropRight(StagedSuffix.length)))

  /** The reader's recovery step: true when `table` exists, publishing its
    * complete staged snapshot first if the table is missing. */
  private[graft] def recoverStaged(fs: FileSystem, table: Path): Boolean =
    fs.exists(table) || {
      val staged = stagedFor(table)
      fs.exists(new Path(staged, StagedCompleteMarker)) &&
        { publish(fs, staged, table); true }
    }

  /** `fs.rename` that fails loudly — the protocol's one rename. Hadoop
    * reports most rename failures (missing source, existing destination, a
    * store that refused) by returning false, not by throwing; a publish
    * that ignored it would report rows committed that no reader ever sees.
    * A false rename is fine only if the destination exists anyway: a
    * concurrent reader published the same staged snapshot first.
    */
  private def publish(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to) && !fs.exists(to))
      throw new java.io.IOException(s"failed to publish $from to $to")

  private def resolve(spark: SparkSession, tablePath: String): (FileSystem, Path) = {
    val table = new Path(tablePath)
    (table.getFileSystem(spark.sessionState.newHadoopConf()), table)
  }

  /** The newest row per `keys`: the argmax of `struct(orderCols…)`, so
    * `orderCols.head` (a `last_us`-style frontier) decides, the rest break
    * ties, and replayed or superseded rows are harmless. Output
    * `(keys…, orderCols…)`. The one newest-row rule: state reads
    * ([[graft.streaming.StreamOps.readLatest]]) and [[compactLatest]]
    * both use it.
    */
  def latestPerKey(rows: DataFrame, keys: Seq[String],
                   orderCols: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(max(struct(orderCols.map(col): _*)).as("__s"))
      .select(keys.map(col) ++ orderCols.map(c => col(s"__s.$c").as(c)): _*)

  /** Compact an append-only keyed STATE table — the drain-state shape
    * ([[graft.streaming.StreamingResample]] and friends: one row appended
    * per `(keys…, orderCol)` per wave, always READ as the newest row per
    * key) — down to exactly that newest row ([[latestPerKey]], ordered by
    * `orderCol` then the remaining columns), published through
    * [[replaceAtomic]]'s crash-safe staged swap. The read-side argmax is
    * unchanged before and after, so compaction is a pure size bound:
    * state tables stop growing by |keys| rows per wave. Single-writer
    * discipline: run BETWEEN drains, like the drains themselves.
    * Returns the number of superseded rows removed (0 = nothing to do,
    * including a missing table).
    */
  def compactLatest(spark: SparkSession, tablePath: String, keys: Seq[String],
                    orderCol: String): Long = {
    require(keys.nonEmpty, "compactLatest needs key columns")
    rewriteIfShrunk(spark, tablePath) { t =>
      val rest = t.columns.filterNot(c => c == orderCol || keys.contains(c))
      latestPerKey(t, keys, orderCol +: rest.toSeq).select(t.columns.map(col): _*)
    }
  }

  /** The shrink step [[compactLatest]] and [[invalidate]] share: publish
    * `survivors(table)` through [[replaceAtomic]] when it holds fewer rows
    * than the table. The table is cached across the two counts and the
    * staged write. Returns the rows removed (0 for a missing table).
    */
  private def rewriteIfShrunk(spark: SparkSession, tablePath: String)
                             (survivors: DataFrame => DataFrame): Long =
    readIfExists(spark, tablePath) match {
      case None => 0L
      case Some(t) =>
        val cached = t.cache()
        try {
          val total = cached.count()
          val keep = survivors(cached)
          val kept = keep.count()
          if (kept < total) replaceAtomic(keep, tablePath)
          total - kept
        } finally cached.unpersist()
    }

  /** CASCADE INVALIDATION — the re-derivation half of the populate engine.
    *
    * Reference: the curation workflow deletes a derived row and everything
    * downstream of it, then repopulates
    * (`aeon/dj_pipeline/spike_sorting_curation.py:523-555` —
    * `restore_raw_sorting` deletes the OfficialCuration entry "which
    * cascades to ApplyOfficialCuration", then the downstream SortedSpikes
    * chain; the apply `make` at `:62-140` deletes old SortedSpikes +
    * downstream before rewriting). DataJoint's cascade is FOREIGN-KEY
    * column matching — every downstream table carries its ancestors' PK
    * columns — so here the caller declares the derived-table chain
    * UPSTREAM-FIRST as `(path, sharedKeyCols)` pairs and a restriction on
    * those columns IS the cascade: rows of each table matching any row of
    * `keys` (on that table's declared columns) are removed, and the next
    * [[derive]] + append re-populates exactly those keys.
    *
    * Deletion runs DOWNSTREAM-FIRST, each table published through
    * [[replaceAtomic]]'s crash-safe staged swap. A crash mid-chain
    * therefore leaves derived tables missing rows their upstream still
    * has — precisely the state `populate` already repairs — and never the
    * reverse (an upstream purged while stale downstream rows linger,
    * which would read as "done" to [[newKeys]] and pin the stale
    * derivation forever). Re-running a crashed invalidate converges: the
    * anti-join on an already-purged table removes nothing.
    *
    * Scale shape: `keys` is curation-sized (distinct'd and broadcast);
    * each chain table pays one broadcast anti-join plus a rewrite of its
    * surviving rows — no shuffle of the table side. Returns
    * `(path, removedRows)` in deletion order (downstream first).
    */
  def invalidate(spark: SparkSession,
                 chain: Seq[(String, Seq[String])],
                 keys: DataFrame): Seq[(String, Long)] = {
    require(chain.nonEmpty, "invalidate needs at least one table")
    chain.reverse.map { case (path, keyCols) =>
      require(keyCols.nonEmpty,
        s"invalidate: table $path declares no shared key columns")
      val k = keys.select(keyCols.map(col): _*).distinct()
      // a never-materialized table has nothing to cascade
      path -> rewriteIfShrunk(spark, path)(
        _.join(broadcast(k), keyCols, "left_anti"))
    }
  }

  /** Create-exclusive lock-file acquisition. Local paths go through
    * java.nio (O_EXCL — genuinely atomic); anything else uses the Hadoop
    * `create(overwrite = false)` contract, which HDFS implements atomically
    * at the namenode. Object stores do NOT provide an exclusive create —
    * on S3-class storage use a real table format (Delta/Iceberg), whose
    * optimistic commit protocol replaces this lock; the operator semantics
    * here are unchanged by that substitution.
    */
  private def tryLock(fs: FileSystem, lock: Path): Boolean =
    if (fs.getScheme == "file")
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(lock.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    else
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }

  /** [[appendIdempotent]] made safe under CONCURRENT writers — the staged-
    * commit analogue of the reference's MySQL-transaction inserts
    * (`acquisition.py:547-549`), which this library previously declared out
    * of scope for plain parquet.
    *
    * Protocol, per append: acquire `tablePath/_graft_commit.lock` by atomic
    * create-exclusive (spin with backoff up to `lockTimeoutMs`, then fail
    * loudly naming the path — a crashed holder's stale lock is an
    * operator-visible condition, exactly like an abandoned row lock in the
    * reference), run the [[appendIdempotent]] body under it, release. The
    * lock is all this adds: under it, the body's snapshot + pk anti-join is
    * the manifest re-check (rows another writer committed between this
    * writer's derivation and its lock grant are seen and dropped), and its
    * staged write + per-file rename means readers only ever see complete
    * part files.
    *
    * Guarantees: no duplicate PKs under any interleaving of concurrent
    * writers (mutual exclusion makes check-then-append atomic); retry after
    * a crash converges without duplicates, as for the plain append. A
    * stale lock is inert garbage, surfaced by the timeout message rather
    * than silently stolen.
    */
  def appendIdempotentExclusive(result: DataFrame, tablePath: String,
                                pk: Seq[String],
                                lockTimeoutMs: Long = 60000L): Long = {
    val (fs, table) = resolve(result.sparkSession, tablePath)
    // publish a crashed swap's snapshot before the lock's home would hide it
    if (!recoverStaged(fs, table)) fs.mkdirs(table)
    val lock = new Path(table, "_graft_commit.lock")

    val deadline = System.nanoTime() + lockTimeoutMs * 1000000L
    var sleep = 50L
    while (!tryLock(fs, lock)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"could not acquire $lock within ${lockTimeoutMs}ms — another " +
            "writer holds it, or a crashed writer left it stale (remove the " +
            "file to recover)")
      Thread.sleep(sleep)
      sleep = math.min(sleep * 2, 1000L)
    }
    try appendIdempotent(result, tablePath, pk)
    finally fs.delete(lock, false)
  }
}
