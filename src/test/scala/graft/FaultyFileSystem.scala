package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop filesystem: the local filesystem under the `faulty`
  * scheme, with one fault that a spec arms. Every `rename`, `delete` and
  * `create` on a commit-protocol path is counted — the table, its staged
  * siblings, the completeness marker, the published part files — and the
  * armed one fails, by throwing or (rename and delete) by returning false
  * without acting. The output committer's `_temporary` tree and the
  * exclusive append's lock file are not counted: the committer is Spark's,
  * and a lost lock is an operator-visible stale lock by design.
  *
  * [[register]] installs it as `fs.faulty.impl` with the FileSystem cache
  * disabled, so every lookup builds a fresh instance over the counters in
  * the companion.
  */
class FaultyFileSystem extends FilterFileSystem(new FaultyFileSystem.Local) {
  import FaultyFileSystem._

  override def getScheme: String = Scheme

  override def rename(src: Path, dst: Path): Boolean =
    hit("rename", Seq(src, dst)) match {
      case Some(Throw) => throw injected("rename", dst)
      case Some(ReturnFalse) => false
      case None => super.rename(src, dst)
    }

  override def delete(f: Path, recursive: Boolean): Boolean =
    hit("delete", Seq(f)) match {
      case Some(Throw) => throw injected("delete", f)
      case Some(ReturnFalse) => false
      case None => super.delete(f, recursive)
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    hit("create", Seq(f)) match {
      case Some(_) => throw injected("create", f)
      case None => super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress)
    }
}

object FaultyFileSystem {
  val Scheme = "faulty"

  /** The local filesystem answering to [[Scheme]], so paths keep it. */
  final class Local extends RawLocalFileSystem {
    override def getScheme: String = Scheme
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  sealed trait Mode
  case object Throw extends Mode
  case object ReturnFalse extends Mode

  /** One counted operation: its kind and the paths it named. */
  final case class Op(kind: String, paths: Seq[String])

  private val log = scala.collection.mutable.ArrayBuffer.empty[Op]
  /** (1-based index, operation) → the fault to inject, if any. */
  private var fails: (Int, Op) => Option[Mode] = (_, _) => None

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultyFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `faulty:` URI of a local directory. */
  def uri(localDir: String): String = s"$Scheme://$localDir"

  /** Clear the log and fail the `n`-th counted operation (1-based) from
    * now on in `mode`; `n = 0` arms nothing. */
  def arm(n: Int, mode: Mode): Unit =
    armWith((i, _) => if (i == n) Some(mode) else None)

  /** Clear the log and fail every counted operation matching `p`. */
  def armWhen(mode: Mode)(p: Op => Boolean): Unit =
    armWith((_, op) => if (p(op)) Some(mode) else None)

  def disarm(): Unit = arm(0, Throw)

  private def armWith(f: (Int, Op) => Option[Mode]): Unit = synchronized {
    log.clear()
    fails = f
  }

  /** The operations counted since the last [[arm]]. */
  def ops: Seq[Op] = synchronized(log.toList)

  private def protocolPath(p: Path): Boolean = {
    val parts = p.toUri.getPath.split('/')
    !parts.contains("_temporary") && !parts.lastOption.contains("_graft_commit.lock")
  }

  private def hit(kind: String, paths: Seq[Path]): Option[Mode] =
    if (!paths.forall(protocolPath)) None
    else synchronized {
      val op = Op(kind, paths.map(_.toUri.getPath))
      log += op
      fails(log.size, op)
    }

  private def injected(kind: String, p: Path) =
    new java.io.IOException(s"injected $kind fault on $p")
}
