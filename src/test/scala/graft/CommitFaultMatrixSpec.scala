package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Populate

/** The staged-publish protocol under injected filesystem faults: every
  * table write `Populate` offers is run once per counted `rename`,
  * `delete` and `create` (see [[FaultyFileSystem]]), with that operation
  * failing — by throwing, and for rename and delete also by returning
  * false. After the fault the same call is retried until it returns, and
  * the tables must then equal a fault-free run's as a multiset of rows:
  * a fault may cost a retry, never a row, a duplicate or a stale row.
  */
class CommitFaultMatrixSpec extends SparkSpec {
  import spark.implicits._
  import FaultyFileSystem._

  FaultyFileSystem.register(spark.sparkContext.hadoopConfiguration)

  /** One write under test: `setup` builds the prior tables fault-free,
    * `run` is the call the faults hit, `tables` are the tables it writes. */
  private case class Scenario(name: String, tables: Seq[String],
                              setup: String => Unit, run: String => Unit)

  private def rows(ks: Range, tag: String): DataFrame =
    ks.map(k => (k.toLong, s"$tag$k")).toDF("k", "v").coalesce(1)

  /** A prior table, written plainly: setups are not under test. */
  private def land(df: DataFrame, table: String): Unit =
    df.write.mode("append").parquet(table)

  private val scenarios = Seq(
    Scenario("appendIdempotent into an absent table", Seq("t"),
      _ => (),
      root => Populate.appendIdempotent(rows(1 to 4, "new"), s"$root/t", Seq("k"))),
    Scenario("appendIdempotent into an existing table", Seq("t"),
      root => land(rows(1 to 3, "old"), s"$root/t"),
      root => Populate.appendIdempotent(rows(2 to 5, "new"), s"$root/t", Seq("k"))),
    Scenario("appendIdempotentExclusive into an existing table", Seq("t"),
      root => land(rows(1 to 3, "old"), s"$root/t"),
      root => Populate.appendIdempotentExclusive(rows(2 to 5, "new"),
        s"$root/t", Seq("k"), lockTimeoutMs = 5000L)),
    Scenario("replaceAtomic over an existing table", Seq("t"),
      root => land(rows(1 to 3, "old"), s"$root/t"),
      root => Populate.replaceAtomic(rows(2 to 5, "new"), s"$root/t")),
    Scenario("compactLatest", Seq("t"),
      root => Seq(1L, 2L).foreach(wave =>
        land(rows(1 to 3, s"w$wave").withColumn("t", lit(wave)), s"$root/t")),
      root => Populate.compactLatest(spark, s"$root/t", Seq("k"), "t")),
    Scenario("invalidate", Seq("parent", "child"),
      root => {
        land(rows(1 to 4, "p"), s"$root/parent")
        land(rows(1 to 4, "c"), s"$root/child")
      },
      root => Populate.invalidate(spark,
        Seq(s"$root/parent" -> Seq("k"), s"$root/child" -> Seq("k")),
        Seq(2L, 4L).toDF("k"))))

  private def freshRoot(): String =
    uri(Files.createTempDirectory("graft-fault").toString)

  /** Each table's rows, sorted, with columns in name order: appends may
    * land part files whose column order differs (a using-join puts its
    * keys first), and the table is the same either way. */
  private def snapshot(root: String, tables: Seq[String]): Seq[Seq[String]] =
    tables.map { t =>
      val df = spark.read.parquet(s"$root/$t")
      df.select(df.columns.sorted.map(col): _*).collect()
        .map(_.toString).toSeq.sorted
    }

  scenarios.foreach { sc =>
    test(s"every injected fault in ${sc.name} converges on retry") {
      val clean = freshRoot()
      disarm()
      sc.setup(clean)
      disarm()
      sc.run(clean)
      val plan = ops
      val expected = snapshot(clean, sc.tables)
      assert(plan.nonEmpty, "no protocol operation was counted")

      val failures = for {
        (op, n) <- plan.zipWithIndex.map { case (o, i) => (o, i + 1) }
        mode <- if (op.kind == "create") Seq(Throw) else Seq(Throw, ReturnFalse)
        problem <- {
          val root = freshRoot()
          disarm()
          sc.setup(root)
          arm(n, mode)
          val first = scala.util.Try(sc.run(root))
          disarm()
          // a faulted call either reports the fault or completes; once it
          // has failed, retrying the same call must get through
          val done = first.isSuccess ||
            Iterator.fill(2)(scala.util.Try(sc.run(root))).exists(_.isSuccess)
          if (!done) Some("retries never succeeded")
          else scala.util.Try(snapshot(root, sc.tables)).fold(
            e => Some(s"tables unreadable: ${e.getMessage.take(160)}"),
            got => if (got == expected) None
              else Some(s"rows differ: got $got, expected $expected"))
        }
      } yield s"#$n ${op.kind} ${op.paths.map(_.split('/').takeRight(2)
        .mkString("/")).mkString(" -> ")} [$mode]: $problem"
      assert(failures.isEmpty,
        s"${failures.size} of the faults broke the protocol:\n" +
          failures.mkString("\n"))
    }
  }
}
