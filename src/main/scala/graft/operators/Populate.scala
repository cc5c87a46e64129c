package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, row_number}

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
  */
object Populate {

  /** Keys still to do: declared upstream keys minus already-materialized keys
    * (J7 anti join — THE core primitive, SURVEY.md §2.3).
    */
  def newKeys(keySource: DataFrame, existing: Option[DataFrame], pk: Seq[String]): DataFrame =
    existing match {
      case Some(done) =>
        keySource.join(done.select(pk.map(col): _*), pk, "left_anti")
      case None => keySource
    }

  /** One populate step: compute rows for not-yet-done keys.
    * `make` is a pure DataFrame→DataFrame derivation (the `make()` body).
    */
  def derive(keySource: DataFrame, existing: Option[DataFrame], pk: Seq[String])
            (make: DataFrame => DataFrame): DataFrame =
    make(newKeys(keySource, existing, pk))

  /** Read a parquet table that may not exist yet. ONLY a genuinely-absent
    * path maps to None; any other read failure (transient FS error,
    * permissions, corrupt footer) rethrows — treating those as "empty
    * table" would silently break skip_duplicates for every caller.
    *
    * Existence is probed through the Hadoop FS FIRST (not try/catch on the
    * read): `spark.read.parquet` on a missing path logs a
    * FileNotFoundException WARN stack through FileStreamSink's metadata
    * probe before throwing, which buries real warnings in every
    * first-drain streaming log (q155). The catch stays only for the
    * probe-then-deleted race.
    */
  def readIfExists(spark: org.apache.spark.sql.SparkSession,
                   tablePath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else try Some(spark.read.parquet(tablePath)) catch {
      case _: java.io.FileNotFoundException => None
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
            e.getCondition.startsWith("PATH_NOT_FOUND") => None
    }
  }

  /** Idempotent append to a parquet table path: anti-join against current
    * contents (skip_duplicates), then append. Returns rows written.
    *
    * Only a genuinely-absent table skips the dedup check; any other read
    * failure (transient FS error, permissions, corrupt footer) rethrows —
    * treating those as "empty table" would silently break skip_duplicates.
    *
    * Guarantee: idempotent under RETRIES of a single writer (re-running the
    * same populate never duplicates rows). NOT safe under concurrent writers
    * to the same table — plain parquet append has no atomic
    * read-check-append. For multi-worker populates use
    * [[appendIdempotentExclusive]], which restores the reference's
    * MySQL-transaction safety (`acquisition.py:547-549`) via a staged
    * commit under an exclusive lock.
    */
  def appendIdempotent(result: DataFrame, tablePath: String, pk: Seq[String]): Long = {
    val spark = result.sparkSession
    val existing = readIfExists(spark, tablePath)
    val fresh = existing match {
      case Some(e) => result.join(e.select(pk.map(col): _*), pk, "left_anti")
      case None    => result
    }
    // Single pass, staged: the row count rides the write itself
    // (Observation — the r12 one-action shape, no cache+count round-trip),
    // but the write lands in a dot-prefixed SIBLING dir and its part files
    // are renamed into the table only when n > 0. Consequences (ADVICE
    // r12): an all-duplicate/replayed wave leaves NO zero-row part file
    // behind (hot drain tables stop accreting empty files), and an absent
    // table can never materialize empty — the previous shape wrote
    // directly and deleted the table on n == 0, which an interleaved first
    // writer could lose to (the delete racing its fresh write). The dot
    // prefix keeps the staging dir invisible to any reader listing the
    // parent (partitioned train stores); a crash before publish leaves
    // only that inert dir, a crash mid-publish leaves a prefix of complete
    // part files whose rows the pk re-check skips on retry (the
    // appendIdempotentExclusive convergence argument).
    import org.apache.hadoop.fs.Path
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new Path(table.getParent,
      s".${table.getName}.__append-${java.util.UUID.randomUUID()}")
    val obs = org.apache.spark.sql.Observation()
    try {
      fresh.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
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
    *  1. writes the new snapshot to a `<table>.__staged` sibling (the old
    *     table stays intact and readable throughout — plans deriving the
    *     new snapshot FROM the old one need no lineage cut);
    *  2. deletes the old table and renames the staged copy into place.
    * A crash in step 1 leaves the old table untouched (the incomplete
    * staging dir lacks the completeness marker and is deleted on the next
    * attempt); a
    * crash between delete and rename leaves a COMPLETE staged copy that
    * [[readReplaced]] publishes on the next read. No interleaving loses
    * both snapshots.
    */
  def replaceAtomic(result: DataFrame, tablePath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = result.sparkSession
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new Path(table.getParent, table.getName + ".__staged")
    fs.delete(staged, true) // leftovers of a crashed attempt are superseded
    result.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    // own completeness marker: `_SUCCESS` only exists when
    // mapreduce.fileoutputcommitter.marksuccessfuljobs is true (commonly
    // disabled on object stores) — recovery must not key durability on a
    // committer config the deployment controls
    fs.create(new Path(staged, StagedCompleteMarker), true).close()
    fs.delete(table, true)
    publish(fs, staged, table)
  }

  /** `fs.rename` that fails loudly. Hadoop reports most rename failures
    * (missing source, existing destination, a store that refused) by
    * returning false, not by throwing; a publish that ignored it would
    * report rows committed that no reader ever sees.
    */
  private def publish(fs: org.apache.hadoop.fs.FileSystem,
                      from: org.apache.hadoop.fs.Path,
                      to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"failed to publish $from to $to")

  /** Compact an append-only keyed STATE table — the drain-state shape
    * ([[graft.streaming.StreamingResample]] and friends: one row appended
    * per `(keys…, orderCol)` per wave, always READ as the newest row per
    * key) — down to exactly that newest row, published through
    * [[replaceAtomic]]'s crash-safe staged swap. The read-side argmax is
    * unchanged before and after, so compaction is a pure size bound:
    * state tables stop growing by |keys| rows per wave. Single-writer
    * discipline: run BETWEEN drains, like the drains themselves.
    * Returns the number of superseded rows removed (0 = nothing to do,
    * including a missing table).
    */
  def compactLatest(spark: org.apache.spark.sql.SparkSession,
                    tablePath: String, keys: Seq[String],
                    orderCol: String): Long = {
    require(keys.nonEmpty, "compactLatest needs key columns")
    readIfExists(spark, tablePath) match {
      case None => 0L
      case Some(t) =>
        import org.apache.spark.sql.expressions.Window
        val cached = t.cache()
        try {
          val total = cached.count()
          val latest = cached.withColumn("__rn", row_number().over(
              Window.partitionBy(keys.map(col): _*)
                .orderBy(col(orderCol).desc)))
            .filter(col("__rn") === 1).drop("__rn")
          val keep = latest.cache()
          try {
            val kept = keep.count()
            if (kept < total) replaceAtomic(keep, tablePath)
            total - kept
          } finally keep.unpersist()
        } finally cached.unpersist()
    }
  }

  /** Written into a staged snapshot after its parquet job completes;
    * underscore-prefixed so readers of the published table ignore it.
    */
  private val StagedCompleteMarker = "_GRAFT_STAGED_COMPLETE"

  /** [[readIfExists]] for tables maintained by [[replaceAtomic]]: if the
    * table is missing but a COMPLETE staged copy exists (crash between
    * delete and rename), publish it first, then read.
    */
  def readReplaced(spark: org.apache.spark.sql.SparkSession,
                   tablePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new Path(table.getParent, table.getName + ".__staged")
    // a false rename is fine only if a concurrent reader published it first
    if (!fs.exists(table) && fs.exists(new Path(staged, StagedCompleteMarker)) &&
        !fs.rename(staged, table) && !fs.exists(table))
      throw new java.io.IOException(s"failed to publish $staged to $table")
    readIfExists(spark, tablePath)
  }

  /** [[readIfExists]] that additionally maps a present-but-EMPTY table
    * directory (created by the exclusive-lock protocol before any data
    * lands) to None. The emptiness is verified by listing — a directory
    * that HAS data files but fails schema inference still rethrows.
    */
  private def readIfNonEmpty(spark: org.apache.spark.sql.SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             table: org.apache.hadoop.fs.Path): Option[DataFrame] =
    try readIfExists(spark, table.toString).filter { df =>
      fs.listStatus(table).exists { f =>
        val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
            e.getCondition.startsWith("UNABLE_TO_INFER_SCHEMA") &&
            !fs.listStatus(table).exists { f =>
              val n = f.getPath.getName
              !n.startsWith("_") && !n.startsWith(".")
            } => None
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
  def invalidate(spark: org.apache.spark.sql.SparkSession,
                 chain: Seq[(String, Seq[String])],
                 keys: DataFrame): Seq[(String, Long)] = {
    require(chain.nonEmpty, "invalidate needs at least one table")
    chain.reverse.map { case (path, keyCols) =>
      require(keyCols.nonEmpty,
        s"invalidate: table $path declares no shared key columns")
      val k = keys.select(keyCols.map(col): _*).distinct()
      val removed = readReplaced(spark, path) match {
        case None => 0L // never-materialized table: nothing to cascade
        case Some(t) =>
          val cached = t.cache()
          try {
            val total = cached.count()
            val keep = cached.join(
              org.apache.spark.sql.functions.broadcast(k), keyCols,
              "left_anti")
            val kept = keep.count()
            if (kept < total) replaceAtomic(keep, path)
            total - kept
          } finally cached.unpersist()
      }
      path -> removed
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
  private def tryLock(fs: org.apache.hadoop.fs.FileSystem,
                      lock: org.apache.hadoop.fs.Path): Boolean =
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
    * Protocol, per append:
    *  1. acquire `tablePath/_graft_commit.lock` by atomic create-exclusive
    *     (spin with backoff up to `lockTimeoutMs`, then fail loudly naming
    *     the path — a crashed holder's stale lock is an operator-visible
    *     condition, exactly like an abandoned row lock in the reference);
    *  2. under the lock, SNAPSHOT the committed table and anti-join the
    *     candidate rows on `pk` (the manifest re-check: rows another writer
    *     committed between this writer's derivation and its lock grant are
    *     seen here and dropped);
    *  3. write survivors to `tablePath/.staging-<uuid>` — dot-prefixed, so
    *     Spark's file index never lists it: readers CANNOT observe a
    *     half-written append;
    *  4. publish by renaming each fully-written part file into the table
    *     root (atomic per file on POSIX/HDFS; part names carry write UUIDs
    *     so they never collide), then delete the staging dir and release.
    *
    * Guarantees: no duplicate PKs under any interleaving of concurrent
    * writers (mutual exclusion makes check-then-append atomic); readers
    * only ever see complete part files (write-then-rename); a crash before
    * publish leaves only an invisible staging dir; a crash MID-publish
    * leaves a prefix of complete files whose rows the PK re-check skips on
    * retry — so retry-after-crash converges without duplicates. Stale
    * `.staging-*` dirs and the stale lock are inert garbage, surfaced by
    * the timeout message rather than silently stolen.
    */
  def appendIdempotentExclusive(result: DataFrame, tablePath: String,
                                pk: Seq[String],
                                lockTimeoutMs: Long = 60000L): Long = {
    import org.apache.hadoop.fs.Path
    val spark = result.sparkSession
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(table) // so the lock has a home before the first append
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
    try {
      val fresh = readIfNonEmpty(spark, fs, table) match {
        case Some(e) => result.join(e.select(pk.map(col): _*), pk, "left_anti")
        case None    => result
      }
      val staging = new Path(table, s".staging-${java.util.UUID.randomUUID()}")
      val cached = fresh.cache()
      try {
        val n = cached.count()
        if (n > 0) {
          cached.write.parquet(staging.toString)
          fs.listStatus(staging)
            .filter(_.getPath.getName.startsWith("part-"))
            .foreach(f => publish(fs, f.getPath, new Path(table, f.getPath.getName)))
        }
        fs.delete(staging, true)
        n
      } finally cached.unpersist()
    } finally fs.delete(lock, false)
  }
}
