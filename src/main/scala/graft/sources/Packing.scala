package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader

/** The file-source planning rules shared by the `graft-clock` / `graft-avi`
  * / `graft-zarr` V2 sources: which files a load names ([[loadPaths]],
  * [[listFiles]]) and how they group into tasks ([[pack]]).
  *
  * Each of these sources naturally reads one FILE (or zarr chunk) per task —
  * the right granularity for hour-sized chunk files, but a scheduler
  * bottleneck when a directory holds millions of small files (every file
  * becomes a task launch, and the plan carries one partition object each).
  * Packing files into byte-budgeted partitions is parquet's
  * `maxPartitionBytes` defense, applied to these formats via a
  * `maxPartitionBytes` read option.
  *
  * Per-file pruning is UNCHANGED by packing: the packed reader drives the
  * per-file readers strictly one at a time, and each still applies its own
  * skip logic (the clock-range 16-byte check, the headers-only AVI walk;
  * zarr chunk-range pruning happens before packing even sees the list).
  * Memory per task is one open reader, exactly as unpacked.
  */
private[graft] object Packing {

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The paths a file source was loaded with: `load(p)` arrives as the
    * `path` option, `load(p1, p2, ...)` as a JSON `paths` array. At least
    * one is required; `source` names the format in the error.
    */
  def loadPaths(properties: JMap[String, String], source: String): Seq[String] = {
    def opt(k: String): Option[String] = Option(properties.get(k)).filter(_.nonEmpty)
    val paths = opt("paths")
      .map(js => jsonMapper.readValue(js, classOf[Array[String]]).toSeq)
      .getOrElse(opt("path").toSeq)
    require(paths.nonEmpty, s"$source requires at least one path: " +
      s"spark.read.format(\"$source\").load(<glob>, ...)")
    paths
  }

  /** Every file under `paths`, in listing order: each path is a glob
    * ([[Globs.statuses]]: one that matches nothing throws), and a matched
    * directory expands RECURSIVELY to its files — planning zero partitions
    * for a nested layout would return empty data with no signal. Entries
    * named `.*` or `_*` inside a directory are skipped, the rule Spark's
    * own file index applies (checksum sidecars, `_SUCCESS` markers).
    * Metadata only; no file is opened.
    */
  def listFiles(paths: Seq[String], conf: Configuration): Seq[FileStatus] = {
    val fs = new Path(paths.head).getFileSystem(conf)
    def hidden(st: FileStatus): Boolean = {
      val name = st.getPath.getName
      name.startsWith(".") || name.startsWith("_")
    }
    def expand(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filterNot(hidden).flatMap(expand)
      else Seq(st)
    paths.flatMap(p => Globs.statuses(fs, p)).flatMap(expand).filter(_.isFile)
  }

  /** Parquet's default `spark.sql.files.maxPartitionBytes`. */
  val DefaultMaxPartitionBytes: Long = 128L * 1024 * 1024

  def maxPartitionBytes(opt: Option[String]): Long = {
    val cap = opt.map(_.toLong).getOrElse(DefaultMaxPartitionBytes)
    require(cap > 0, s"maxPartitionBytes must be positive (got $cap)")
    cap
  }

  /** Greedy in-order pack of (item, weight) into bins of capacity `cap`; an
    * item alone may exceed `cap` (it gets its own bin, never splits).
    * Listing order is preserved, so consecutive files — typically
    * time-adjacent chunks of one stream — stay in one task, the locality a
    * sorted listing gives parquet's packing too.
    */
  def pack[T](items: Seq[(T, Long)], cap: Long): Seq[Seq[T]] = {
    val bins = Seq.newBuilder[Seq[T]]
    var cur = List.empty[T]
    var size = 0L
    items.foreach { case (item, w) =>
      if (cur.nonEmpty && size + w > cap) {
        bins += cur.reverse; cur = Nil; size = 0L
      }
      cur = item :: cur
      size += w
    }
    if (cur.nonEmpty) bins += cur.reverse
    bins.result()
  }
}

/** Drives per-file readers sequentially — one open at a time — presenting
  * them as a single [[PartitionReader]] over the packed partition.
  */
private[sources] class PackedPartitionReader[P](
    parts: Iterator[P], mkReader: P => PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {

  private var cur: PartitionReader[InternalRow] = _

  override def next(): Boolean = {
    var decided = false
    var has = false
    while (!decided) {
      if (cur == null) {
        if (parts.hasNext) cur = mkReader(parts.next())
        else { decided = true; has = false }
      } else if (cur.next()) { decided = true; has = true }
      else { cur.close(); cur = null }
    }
    has
  }

  override def get(): InternalRow = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
