package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side glob expansion for the V1 file readers, and the
  * "matched no files" rule the V2 sources' listing ([[Packing.listFiles]])
  * shares.
  *
  * Spark's V1 `DataSource.resolveRelation` probes the LITERAL path string for
  * a streaming-sink metadata directory before globbing, so every glob-path
  * read logs a `FileStreamSink: Assume no metadata directory` WARN with a
  * FileNotFoundException stack — pure noise that buries real warnings in
  * PlanAudit/bench output. Expanding the glob here (the same driver-side
  * `fs.globStatus` Spark itself runs next in `checkAndGlobPathIfNecessary`)
  * hands the reader concrete paths, which probe cleanly. No extra listing
  * cost at any scale; an empty expansion fails loudly, same contract as
  * Spark's own "Path does not exist".
  */
object Globs {
  private val globChars = "{}[]*?\\"

  def isGlob(pattern: String): Boolean = pattern.exists(globChars.contains(_))

  /** Concrete paths matching `pattern`; the pattern itself if it has no glob
    * characters (plain files/dirs keep Spark's native handling).
    */
  def expand(spark: SparkSession, pattern: String): Seq[String] =
    if (!isGlob(pattern)) Seq(pattern)
    else statuses(new Path(pattern).getFileSystem(
      spark.sparkContext.hadoopConfiguration), pattern).map(_.getPath.toString)

  /** The statuses `pattern` matches (a plain path matches itself when it
    * exists); a pattern that matches nothing throws.
    */
  def statuses(fs: FileSystem, pattern: String): Seq[FileStatus] = {
    val matched = Option(fs.globStatus(new Path(pattern))).map(_.toSeq).getOrElse(Nil)
    require(matched.nonEmpty, s"Path glob matched no files: $pattern")
    matched
  }
}
