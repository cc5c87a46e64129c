package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Dedup, Graphs, Similarity}
import graft.sources.Tables

/** One closed-loop request of a workload. `prepare` is untimed set-up
  * (landing input files); `run` is the timed body; `check` is the untimed
  * output check (None when correct); `traced` runs the same body inside
  * spans, beside layer probes that isolate each layer's share of the work.
  */
trait Op {
  def name: String
  def prepare(spark: SparkSession): Unit = ()
  def run(spark: SparkSession): Any
  def check(spark: SparkSession, out: Any): Option[String]
  def traced(spark: SparkSession, t: Tracer): Any
}

/** A workload is a sequence of passes over its ops. `pass(p)` returns the
  * ops of pass p in the order the seed sets; `endPass` runs the untimed
  * whole-pass checks and returns one entry per failed op. */
trait Workload {
  def name: String
  /** Seconds one warm pass takes on a 4-core host: sizes the warm passes
    * to `--seconds`. */
  def nominalPassSeconds: Double
  def warmup(spark: SparkSession): Unit
  def pass(p: Int): Seq[Op]
  def beginPass(spark: SparkSession, p: Int): Unit = ()
  def endPass(spark: SparkSession, p: Int, ops: Seq[Op]): Seq[(String, String)] = Nil
}

object Digest {
  /** Row count and md5 over the rows in emitted order, every value in a
    * canonical text form (doubles through `Double.toString`, timestamps as
    * UTC instants), so the digest is host- and locale-independent. */
  def apply(rows: Array[Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(line(r).getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map(b => "%02x".formatLocal(java.util.Locale.ROOT, b)).mkString)
  }

  /** The rows as canonical strings, sorted: an order-free comparison key. */
  def sortedRows(rows: Array[Row]): Seq[String] =
    rows.map(line).toSeq.sorted

  private def line(r: Row): String = (0 until r.length).map(i => value(r.get(i))).mkString("\u0001")

  private def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case other => other.toString
  }
}

/** An op that runs one declared query of the engine and collects its
  * result. The expected digest was recorded from the engine and checked
  * against the DuckDB oracle (`perfbench/README.md`). */
final class QueryOp(val name: String, dataDir: String, expected: Option[(Long, String)],
                    probes: (SparkSession, String, Tracer) => Unit) extends Op {
  private def df(spark: SparkSession): DataFrame = SparkEntry.queries(name)(spark, dataDir)

  def run(spark: SparkSession): Any = df(spark).collect()

  def check(spark: SparkSession, out: Any): Option[String] = {
    val got = Digest(out.asInstanceOf[Array[Row]])
    expected match {
      case None => Some(s"no expected digest for $name")
      case Some(e) if e != got => Some(s"$name: got rows=${got._1} md5=${got._2}, expected rows=${e._1} md5=${e._2}")
      case _ => None
    }
  }

  /** The unchanged query first (its span carries the op's structural
    * counts), then a scan probe per table it read, then the kernel probes. */
  def traced(spark: SparkSession, t: Tracer): Any = {
    val query = t.open("query", "query")
    val out = try df(spark).collect() finally t.close(query)
    t.sync()
    t.inputTables(query).foreach { table =>
      t.scan(table)(QueryWorkloads.noop(Tables.load(spark, dataDir, table)))
    }
    probes(spark, dataDir, t)
    out
  }
}

object QueryWorkloads {
  val PairwiseQueries = Seq("q157_pagerank_knn", "q163_triangles", "q175_minhash_eval")

  def noop(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()

  /** The kNN edge list q157/q163 build, checkpointed by the topk probe so
    * the graph probe times the graph operator alone (the blocks are
    * released before the next op). */
  private def knnProbe(spark: SparkSession, d: String, t: Tracer): DataFrame =
    t.span("expressions.topk", "expressions") {
      val emb = Tables.embeddings(spark, d)
      Similarity.bruteForceTopK(emb,
          emb.select(col("vec_id").as("query_id"), col("embedding")),
          "vec_id", "query_id", "embedding", k = 3, scoreDigits = Some(6))
        .select(col("query_id").as("src"), col("vec_id").as("dst"))
        .localCheckpoint(true)
    }

  private val kernelProbes: Map[String, (SparkSession, String, Tracer) => Unit] = Map(
    "q157_pagerank_knn" -> { (s, d, t) =>
      val edges = knnProbe(s, d, t)
      t.span("operators.graph:pageRank", "operators") {
        Graphs.pageRank(edges, "src", "dst", iterations = 3).collect()
      }
      ()
    },
    "q163_triangles" -> { (s, d, t) =>
      val edges = knnProbe(s, d, t)
      t.span("operators.graph:triangleCounts", "operators") {
        Graphs.triangleCounts(edges, "src", "dst").collect()
      }
      ()
    },
    "q175_minhash_eval" -> { (s, d, t) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      t.span("expressions.minhash", "expressions") {
        noop(Dedup.minhashSignaturesFused(docs, "doc_id", "text", numHashes = 32, shingleN = 3))
      }
      t.span("expressions.ppjoin", "expressions") {
        noop(Dedup.prefixFilterJaccard(docs, "doc_id", "text", thresholdPct = 30, n = 3,
          maxPosting = Int.MaxValue))
      }
    })

  def apply(workload: String, queries: Seq[String], warmupQuery: String, passSeconds: Double,
            dataDir: String, expected: Map[String, (Long, String)], seed: Long): Workload = {
    val ops = queries.map(q => new QueryOp(q, dataDir, expected.get(q),
      kernelProbes.getOrElse(q, (_: SparkSession, _: String, _: Tracer) => ())))
    new Workload {
      def name: String = workload
      def nominalPassSeconds: Double = passSeconds
      def warmup(spark: SparkSession): Unit =
        SparkEntry.queries(warmupQuery)(spark, dataDir).collect()
      def pass(p: Int): Seq[Op] = new scala.util.Random(seed * 7919L + p).shuffle(ops)
    }
  }
}
