package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.operators.{Dedup, EventMatch, Graphs}

/** Both paths of every size-guarded operator: at the default budget the
  * operator runs its driver twin, at budget 0 its distributed formulation,
  * and the two must return the same rows with the same column names and
  * data types. Nullability may differ — the twins build local relations.
  */
class DriverTwinParitySpec extends SparkSpec {
  import spark.implicits._

  /** GraphsSpec's random multigraphs: duplicate edges, both orientations,
    * no self-loops. */
  private def graph(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(70)((rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
  }

  private def nodes(e: DataFrame): Seq[Long] =
    e.as[(Long, Long)].collect().flatMap(t => Seq(t._1, t._2)).distinct.sorted
      .toSeq

  private def assertSameResult(what: String, driver: DataFrame,
                               distributed: DataFrame): Unit = {
    def types(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType))
      .toSeq
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString(","))
    assert(types(driver) == types(distributed), s"$what: column types")
    val want = rows(distributed)
    assert(want.nonEmpty, s"$what: empty result proves nothing")
    assert(rows(driver) == want, s"$what: rows")
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** (name, edges => (default budget, budget 0)) for each guarded graph
    * operator; each twin returns a local relation. */
  private val graphOps: Seq[(String, DataFrame => (DataFrame, DataFrame))] =
    Seq(
      "pageRank" -> (e => (
        Graphs.pageRank(e, "src", "dst", iterations = 3),
        Graphs.pageRank(e, "src", "dst", iterations = 3, driverMaxEdges = 0))),
      "personalizedPageRank" -> { e =>
        val seeds = nodes(e).take(2)
        (Graphs.personalizedPageRank(e, "src", "dst", seeds, iterations = 3),
          Graphs.personalizedPageRank(e, "src", "dst", seeds, iterations = 3,
            driverMaxEdges = 0))
      },
      "labelPropagation" -> (e => (
        Graphs.labelPropagation(e, "src", "dst", rounds = 3),
        Graphs.labelPropagation(e, "src", "dst", rounds = 3,
          driverMaxEdges = 0))),
      "modularityByCommunity" -> { e =>
        val labels = nodes(e).map(n => (n, n % 3)).toDF("node", "community")
        (Graphs.modularityByCommunity(e, "src", "dst", labels, "node",
            "community"),
          Graphs.modularityByCommunity(e, "src", "dst", labels, "node",
            "community", driverMaxEdges = 0))
      },
      "triangleCounts" -> (e => (
        Graphs.triangleCounts(e, "src", "dst"),
        Graphs.triangleCounts(e, "src", "dst", driverMaxEdges = 0))),
      "kCore" -> (e => (
        Graphs.kCore(e, "src", "dst", k = 3, rounds = 2),
        Graphs.kCore(e, "src", "dst", k = 3, rounds = 2, driverMaxEdges = 0))),
      "clusteringCoefficient" -> (e => (
        Graphs.clusteringCoefficient(e, "src", "dst"),
        Graphs.clusteringCoefficient(e, "src", "dst", driverMaxEdges = 0))),
      "kTruss" -> (e => (
        Graphs.kTruss(e, "src", "dst", k = 3, rounds = 2),
        Graphs.kTruss(e, "src", "dst", k = 3, rounds = 2, driverMaxEdges = 0))),
      "linkPrediction" -> (e => (
        Graphs.linkPrediction(e, "src", "dst"),
        Graphs.linkPrediction(e, "src", "dst", driverMaxEdges = 0))),
      "degreeAssortativity" -> (e => (
        Graphs.degreeAssortativity(e, "src", "dst"),
        Graphs.degreeAssortativity(e, "src", "dst", driverMaxEdges = 0))))

  for ((name, op) <- graphOps)
    test(s"$name: the driver twin equals the distributed path") {
      Seq(31, 5).foreach { seed =>
        val (driver, distributed) = op(graph(seed))
        assert(isLocal(driver), s"$name seed $seed: default budget not on the driver")
        assert(!isLocal(distributed), s"$name seed $seed: budget 0 on the driver")
        assertSameResult(s"$name seed $seed", driver, distributed)
      }
    }

  test("connectedComponents and connectedComponentsStars: both paths agree") {
    Seq(31, 5).foreach { seed =>
      val e = graph(seed)
      assertSameResult(s"connectedComponents seed $seed",
        Dedup.connectedComponents(e, "src", "dst"),
        Dedup.connectedComponents(e, "src", "dst", driverMaxEdges = 0L))
      assertSameResult(s"connectedComponentsStars seed $seed",
        Dedup.connectedComponentsStars(e, "src", "dst"),
        Dedup.connectedComponentsStars(e, "src", "dst", driverMaxEdges = 0L))
    }
  }

  test("propagateGlobalIds: the driver assignment equals the distributed one") {
    // StreamingUnitMatchSpec's blocks: 4 units on a sparse grid relabelled
    // by (u + b) % 4 per block, block 2 adds the new unit 9
    def block(b: Long, withNew: Boolean) = {
      val base = (0L to 3L).flatMap { u =>
        (0 until 40).map(k => ((u + b) % 4, k * 100000L + u * 10L))
      }
      val extra = if (withNew) (0 until 40).map(k => (9L, k * 100000L + 500L))
        else Nil
      (base ++ extra).toDF("unit", "us")
    }
    val blocks = Seq(block(0L, withNew = false), block(1L, withNew = false),
      block(2L, withNew = true))
    val driver = EventMatch.propagateGlobalIds(blocks, "unit", "us",
      deltaUs = 4L, minPermille = 500L)
    val distributed = EventMatch.propagateGlobalIds(blocks, "unit", "us",
      deltaUs = 4L, minPermille = 500L, driverMaxRows = 0)
    assert(isLocal(driver) && !isLocal(distributed))
    assertSameResult("propagateGlobalIds", driver, distributed)
  }
}
