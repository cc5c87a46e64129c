package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds this, generates the
  * inputs and launches it; this writes one run record (JSON) to `--out`.
  *
  * Modes:
  *  - plain (`--trace 0`): end-to-end metrics with no listener registered;
  *  - traced (`--trace 1`): untraced warm passes, then traced passes whose
  *    spans and listener counts give the per-layer metrics; the spans and
  *    per-op structural counts go to the `--side` file;
  *  - `--record`: one pass writing each query op's digest, for
  *    `expected.json`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, side: String,
                        cpus: Int, expected: String, waves: Seq[Seq[Int]], record: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("data"), m("work"), m("out"), m.getOrElse("side", ""), m("cpus").toInt,
      m.getOrElse("expected", ""),
      m.get("waves").toSeq.flatMap(_.split(";")).map(_.split(",").toSeq.map(_.toInt)),
      m.get("record").contains("1"))
  }

  def workload(a: Args): Workload = {
    val expected = Expected.load(a.expected)
    a.workload match {
      // q157 warms up: the shortest op, so three set-ups stay cheap
      case "pairwise_kernels" => QueryWorkloads("pairwise_kernels",
        QueryWorkloads.PairwiseQueries, "q157_pagerank_knn", 5.5, a.data, expected, a.seed)
      case "populate_waves" => new PopulateWaves(s"${a.work}/waves", s"${a.work}/chunks", a.waves)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def session(a: Args): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${a.cpus}]", a.cpus)
      .appName("perfbench")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drops cached and checkpointed blocks an op left behind (the
    * graft.Bench discipline) and collects garbage, between timed windows,
    * so no op pays for the previous op's heap. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    Env.noteRetainedHeap()
  }

  final case class OpResult(pass: Int, op: String, seconds: Double, error: Option[String])

  /** Runs one pass: each op's untimed `prepare`, its timed body, its
    * untimed check; then the workload's whole-pass check. */
  def runPass(spark: SparkSession, wl: Workload, p: Int, tracer: Option[Tracer]): Seq[OpResult] = {
    wl.beginPass(spark, p)
    val ops = wl.pass(p)
    val results = ops.zipWithIndex.map { case (op, i) =>
      release(spark)
      op.prepare(spark)
      val t0 = System.nanoTime()
      val out = try Right(tracer match {
        case None => op.run(spark)
        case Some(t) =>
          t.op = i; t.pass = p
          t.span(s"op:${op.name}", "op")(op.traced(spark, t))
      }) catch { case e: Throwable => Left(s"${op.name} threw ${e.getClass.getName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      val err = out.fold(Some(_), o =>
        try op.check(spark, o) catch { case e: Throwable => Some(s"${op.name} check threw $e") })
      OpResult(p, op.name, dt, err)
    }
    val passFailures = try wl.endPass(spark, p, ops) catch {
      case e: Throwable => Seq(ops.last.name -> s"pass check threw ${e.getClass.getName}: ${e.getMessage}")
    }
    results.map(r => passFailures.find(_._1 == r.op) match {
      case Some((_, msg)) if r.error.isEmpty => r.copy(error = Some(msg))
      case _ => r
    })
  }

  /** Session start to the end of one untimed warm-up op. */
  def setUp(a: Args, wl: Workload): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = session(a)
    wl.warmup(s)
    (s, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a)
    val record =
      if (a.record) recordDigests(a, wl)
      else if (a.trace) TracedRun(a, wl)
      else plainRun(a, wl)
    Records.write(a.out, record)
  }

  /** The number of warm passes a run measures: `--seconds` worth at the
    * workload's nominal pass time on a 4-core host. The count is fixed by
    * `--seconds`, not by the clock: ops keep getting faster over their
    * first ten or so runs in a JVM (the JIT is still compiling the
    * planner and the streaming machinery), so a clock-bound loop would
    * take its median from earlier, slower passes whenever the host is
    * slow, and turn host speed into a larger swing of the metric. */
  def warmPassCount(a: Args, wl: Workload): Int =
    math.max(1, math.round(a.seconds / wl.nominalPassSeconds).toInt)

  def plainRun(a: Args, wl: Workload): Map[String, Any] = {
    val setups = ArrayBuffer.empty[Double]
    var (spark, s1) = setUp(a, wl)
    setups += s1
    val cold = runPass(spark, wl, 0, None)
    // two more set-ups, each in a fresh session, so setup_s is a median
    (1 to 2).foreach { _ =>
      spark.stop()
      val (s, t) = setUp(a, wl)
      spark = s; setups += t
    }
    val warm = warmPasses(spark, wl, 1, warmPassCount(a, wl), None)
    release(spark)
    val probe = Env.calibrate(spark, a.cpus)
    spark.stop()
    val all = cold ++ warm
    val warmOps = warm.map(_.seconds)
    val metrics = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "warm_pass_s" -> Stats.median(passTotals(warm)),
      "op_s_p50" -> Stats.median(opMedians(warm).values.toSeq),
      "peak_rss_mb" -> Env.peakRssMb(),
      "retained_heap_mb" -> Env.retainedHeapMb)
    Map(
      "workload" -> wl.name, "seed" -> a.seed, "mode" -> "plain",
      "metrics" -> metrics,
      "cold_pass_s" -> cold.map(_.seconds).sum,
      "op_samples" -> warmOps.size,
      "op_s_median_by_op" -> opMedians(warm),
      // the highest percentile with at least ten samples beyond it
      "op_s_p90" -> (if (warmOps.size >= 100) Some(Stats.quantile(warmOps, 0.9)) else None),
      "attempted" -> all.size,
      "failed" -> all.count(_.error.nonEmpty),
      "failures" -> all.flatMap(_.error),
      "setups_s" -> setups.toSeq,
      "passes" -> passRecords(all),
      "env" -> Env.record(a.cpus, probe))
  }

  /** `count` passes, numbered from `first`. */
  def warmPasses(spark: SparkSession, wl: Workload, first: Int, count: Int,
                 tracer: Option[Tracer]): Seq[OpResult] =
    (first until first + count).flatMap(p => runPass(spark, wl, p, tracer))

  def passTotals(rs: Seq[OpResult]): Seq[Double] =
    rs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.seconds).sum)

  /** Each op's median latency over the passes. op_s_p50 is the median of
    * these, not of the pooled samples: the ops of a workload differ in
    * cost (wave 1 takes twice wave 0), and the pooled median of two such
    * clusters lands on whichever sample sits at their edge. */
  def opMedians(rs: Seq[OpResult]): Map[String, Double] =
    rs.groupBy(_.op).map { case (op, xs) => op -> Stats.median(xs.map(_.seconds)) }

  def passRecords(rs: Seq[OpResult]): Seq[Map[String, Any]] =
    rs.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, ops) =>
      Map("pass" -> p, "seconds" -> ops.map(_.seconds).sum,
        "ops" -> ops.map(o => Map("op" -> o.op, "seconds" -> o.seconds, "ok" -> o.error.isEmpty)))
    }

  def recordDigests(a: Args, wl: Workload): Map[String, Any] = {
    val spark = session(a)
    val digests = wl.pass(0).collect { case q: QueryOp =>
      val (n, md5) = Digest(q.run(spark).asInstanceOf[Array[org.apache.spark.sql.Row]])
      q.name -> Map("rows" -> n, "md5" -> md5)
    }
    spark.stop()
    Map("digests" -> digests.toMap)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** JSON in and out through Jackson, whose number output ignores the host
  * locale. */
object Records {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    mapper.writeValue(f, v)
  }
}

object Expected {
  /** `expected.json`: {"digests": {query: {"rows": n, "md5": hex}}}. */
  def load(path: String): Map[String, (Long, String)] = if (path.isEmpty) Map.empty else {
    val root = Records.mapper.readTree(new java.io.File(path))
    val d = root.get("digests")
    d.fieldNames().asScala.map { k =>
      k -> (d.get(k).get("rows").asLong(), d.get(k).get("md5").asText())
    }.toMap
  }
}

object Env {
  @volatile private var retainedHeap = 0L

  /** Notes the heap in use right after a full collection between ops: what
    * the program keeps live from one op to the next. The heap is a fixed
    * 2 GiB (run.py), so the resident set shows little of this. */
  def noteRetainedHeap(): Unit =
    retainedHeap = math.max(retainedHeap, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)

  /** The most heap `noteRetainedHeap` saw, in MiB. */
  def retainedHeapMb: Double = retainedHeap / 1048576.0

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** The pinned calibration probe: 1M generated rows hashed into 2^20 keys
    * through one shuffle and a hash aggregate. Its time moves only with the
    * host, so host drift shows beside the metrics. */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 20, 1L, cpus)
      .select(((col("id") * lit(2654435761L)) % lit(1048576L)).as("k"))
      .groupBy("k").agg(sum("k").as("s"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def record(cpus: Int, probeS: Double): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "local_cores" -> cpus,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "calibration_probe_s" -> probeS)
}
