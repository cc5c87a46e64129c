package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Populate

/** Cascade invalidation (`Populate.invalidate`) — the reference's
  * restore-then-repopulate workflow (`spike_sorting_curation.py:523-555`)
  * as set-at-a-time deletes: declared chain, FK-column cascade,
  * downstream-first crash ordering, convergent re-runs.
  */
class PopulateInvalidateSpec extends SparkSpec {
  import spark.implicits._

  private def freshChain(): (String, String) = {
    val root = Files.createTempDirectory("graft-invalidate").toString
    (root + "/parent", root + "/child")
  }

  /** parent(k, v): v = k*10 + version; child(k, w): w = parent.v + 1. */
  private def populateBoth(parent: String, child: String,
                           version: Int): Unit = {
    val keySrc = spark.range(0, 40).select(col("id").as("k"))
    val p = Populate.derive(keySrc, Populate.readIfExists(spark, parent),
      Seq("k"))(nk => nk.select(col("k"),
        (col("k") * 10L + version).as("v")))
    Populate.appendIdempotent(p, parent, Seq("k"))
    val pNow = Populate.readIfExists(spark, parent).get
    val c = Populate.derive(pNow.select("k"),
      Populate.readIfExists(spark, child), Seq("k"))(nk =>
      pNow.join(nk, Seq("k"), "left_semi")
        .select(col("k"), (col("v") + 1L).as("w")))
    Populate.appendIdempotent(c, child, Seq("k"))
  }

  private def readBoth(parent: String, child: String): Map[Long, (Long, Long)] =
    Populate.readIfExists(spark, parent).get
      .join(Populate.readIfExists(spark, child).get, Seq("k"))
      .select("k", "v", "w").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

  private val recurated: DataFrame =
    spark.range(0, 40).select(col("id").as("k")).filter(col("k") % 5 === 0)

  test("invalidate cascades across the chain and repopulate re-derives exactly those keys") {
    val (parent, child) = freshChain()
    populateBoth(parent, child, version = 1)
    val removed = Populate.invalidate(spark,
      Seq(parent -> Seq("k"), child -> Seq("k")), recurated)
    // downstream-first order, 8 keys each
    assert(removed === Seq(child -> 8L, parent -> 8L))
    // the invalidated keys are gone from BOTH tables, others intact
    val afterP = Populate.readIfExists(spark, parent).get
      .select("k").as[Long].collect().toSet
    assert(afterP === (0L until 40L).filterNot(_ % 5 == 0).toSet)
    populateBoth(parent, child, version = 2)
    val got = readBoth(parent, child)
    assert(got.size === 40)
    (0L until 40L).foreach { k =>
      val ver = if (k % 5 == 0) 2 else 1
      assert(got(k) === ((k * 10 + ver, k * 10 + ver + 1)), s"k=$k")
    }
  }

  test("re-running invalidate is a no-op (idempotent convergence)") {
    val (parent, child) = freshChain()
    populateBoth(parent, child, version = 1)
    Populate.invalidate(spark,
      Seq(parent -> Seq("k"), child -> Seq("k")), recurated)
    val again = Populate.invalidate(spark,
      Seq(parent -> Seq("k"), child -> Seq("k")), recurated)
    assert(again === Seq(child -> 0L, parent -> 0L))
  }

  test("crash window: child purged but parent not — re-run + repopulate converges") {
    // Simulate the only intermediate state the downstream-first order can
    // leave: the child's delete published, crash before the parent's.
    val (parent, child) = freshChain()
    populateBoth(parent, child, version = 1)
    Populate.invalidate(spark, Seq(child -> Seq("k")), recurated) // "crash"
    // recovery = re-run the FULL invalidate (child pass now removes 0),
    // then repopulate
    val removed = Populate.invalidate(spark,
      Seq(parent -> Seq("k"), child -> Seq("k")), recurated)
    assert(removed === Seq(child -> 0L, parent -> 8L))
    populateBoth(parent, child, version = 2)
    val got = readBoth(parent, child)
    (0L until 40L).foreach { k =>
      val ver = if (k % 5 == 0) 2 else 1
      assert(got(k) === ((k * 10 + ver, k * 10 + ver + 1)), s"k=$k")
    }
  }

  test("the REVERSE crash window is the one the ordering forbids") {
    // If the parent were purged first and the run crashed, the child's
    // stale rows would read as "done" and pin the old derivation: newKeys
    // on the child yields nothing for the re-curated keys even though the
    // parent re-derived them. Pin the hazard the downstream-first order
    // exists to prevent.
    val (parent, child) = freshChain()
    populateBoth(parent, child, version = 1)
    Populate.invalidate(spark, Seq(parent -> Seq("k")), recurated) // wrong order
    populateBoth(parent, child, version = 2)
    val got = readBoth(parent, child)
    val k = 5L
    assert(got(k)._1 === k * 10 + 2) // parent re-derived at v2…
    assert(got(k)._2 === k * 10 + 1 + 1) // …but the child kept stale v1
  }

  test("a never-materialized table in the chain removes 0 rows, no error") {
    val (parent, child) = freshChain()
    populateBoth(parent, child, version = 1)
    val removed = Populate.invalidate(spark,
      Seq(parent -> Seq("k"), child + "-missing" -> Seq("k")), recurated)
    assert(removed === Seq(child + "-missing" -> 0L, parent -> 8L))
  }

  test("invalidate with composite shared keys matches on ALL declared columns") {
    val root = Files.createTempDirectory("graft-invalidate-ck").toString
    val t = root + "/t"
    val rows = Seq((1L, "a", 10L), (1L, "b", 11L), (2L, "a", 12L))
      .toDF("k1", "k2", "v")
    Populate.appendIdempotent(rows, t, Seq("k1", "k2"))
    val removed = Populate.invalidate(spark, Seq(t -> Seq("k1", "k2")),
      Seq((1L, "a")).toDF("k1", "k2"))
    assert(removed === Seq(t -> 1L))
    assert(Populate.readIfExists(spark, t).get.select("v").as[Long]
      .collect().toSet === Set(11L, 12L))
  }
}
