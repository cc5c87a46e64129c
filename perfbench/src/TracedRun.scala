package perfbench

/** The traced run: a cold pass and warm passes with tracing off, then
  * warm passes with every op inside spans and both listeners registered;
  * the two kinds of warm pass split the plain run's count. The per-layer
  * metrics are per-pass totals, the median over the traced passes. The
  * tracing overhead is the median traced pass's op bodies (the spans of
  * layer `query`, `streaming` and `populate`, which run exactly what an
  * untraced op runs) minus the median untraced warm pass; the record gives
  * the number of passes on each side, and with one pass a side it is a
  * single-sample estimate.
  */
object TracedRun {
  import Main._

  /** The spans that run an op's own body; probes are the other layers. */
  val CoreLayers = Set("query", "streaming", "populate")

  val Names: Seq[String] = Seq(
    "sources.scan_s", "sources.scan_tasks", "sources.input_bytes",
    "expressions.topk_s", "expressions.topk_tasks", "expressions.busiest_task_share",
    "expressions.minhash_s", "expressions.ppjoin_s",
    "operators.graph_s", "operators.graph_jobs",
    "exchange.stages", "exchange.shuffle_bytes", "exchange.peak_exec_mb",
    "driver.jobs", "driver.gap_s",
    "streaming.drain_s", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.query_planning_ms", "streaming.state_rows_read",
    "populate.append_s", "populate.files_per_wave",
    "populate.bytes_written")

  def layerMetrics(t: Tracer, pass: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.pass == pass).toSeq
    def layer(l: String) = spans.filter(_.layer == l)
    def named(n: String) = spans.filter(_.name == n)
    def self(ss: Seq[Span]) = ss.map(t.selfSeconds).sum
    def stages(ss: Seq[Span]) = ss.flatMap(t.stagesUnder).distinct
    val core = spans.filter(s => CoreLayers(s.layer))
    val sources = layer("sources")
    // the kNN kernel's heaviest stage: the one its tasks ran longest in
    val topkStage = stages(named("expressions.topk")).sortBy(-_.taskRunMs.sum).headOption
    val streaming = layer("streaming")
    val appends = layer("populate")
    val progress = streaming.flatMap(t.progressUnder)
    def progressMs(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    def count(ss: Seq[Span], k: String) = ss.map(_.counts.getOrElse(k, 0.0)).sum
    val waves = if (appends.isEmpty) 0 else layer("op").size
    Map(
      "sources.scan_s" -> self(sources),
      "sources.scan_tasks" -> stages(sources).map(_.taskRunMs.size).sum.toDouble,
      "sources.input_bytes" -> count(sources, "file_bytes"),
      "expressions.topk_s" -> self(named("expressions.topk")),
      "expressions.topk_tasks" -> topkStage.map(_.taskRunMs.size.toDouble).getOrElse(0.0),
      "expressions.busiest_task_share" -> topkStage.map(t.busiestShare).getOrElse(0.0),
      "expressions.minhash_s" -> self(named("expressions.minhash")),
      "expressions.ppjoin_s" -> self(named("expressions.ppjoin")),
      "operators.graph_s" -> self(layer("operators")),
      "operators.graph_jobs" -> layer("operators").flatMap(t.jobsUnder).size.toDouble,
      "exchange.stages" -> stages(core).size.toDouble,
      "exchange.shuffle_bytes" -> stages(core).map(_.shuffleWrite).sum.toDouble,
      "exchange.peak_exec_mb" ->
        (0L +: stages(core).map(_.peakExecBytes)).max / 1048576.0,
      "driver.jobs" -> core.flatMap(t.jobsUnder).size.toDouble,
      "driver.gap_s" -> core.map(t.driverGapSeconds).sum,
      "streaming.drain_s" -> self(streaming),
      "streaming.add_batch_ms" -> progressMs("addBatch"),
      "streaming.wal_commit_ms" -> progressMs("walCommit"),
      "streaming.query_planning_ms" -> progressMs("queryPlanning"),
      "streaming.state_rows_read" -> count(streaming, "state_rows"),
      "populate.append_s" -> self(appends),
      "populate.files_per_wave" ->
        (if (waves > 0) count(streaming ++ appends, "files_written") / waves else 0.0),
      "populate.bytes_written" -> stages(streaming ++ appends).map(_.outputBytes).sum.toDouble)
  }

  /** Self seconds per layer, and each as a share of the op bodies (the
    * core spans): how much of the op's own time that layer alone takes. */
  def layerShares(t: Tracer, pass: Int): Map[String, Any] = {
    val spans = t.spans.filter(_.pass == pass).toSeq
    val body = spans.filter(s => CoreLayers(s.layer)).map(_.seconds).sum
    val byLayer = spans.groupBy(s => if (s.layer == "expressions" || s.layer == "operators") s.name
                                     else s.layer)
      .map { case (k, ss) => k -> ss.map(t.selfSeconds).sum }
    Map("op_body_s" -> body, "self_s" -> byLayer,
      "share_of_op_body" -> byLayer.map { case (k, v) => k -> (if (body > 0) v / body else 0.0) })
  }

  def apply(a: Args, wl: Workload): Map[String, Any] = {
    val (spark, setupS) = setUp(a, wl)
    val cold = runPass(spark, wl, 0, None)
    val n = warmPassCount(a, wl)
    val untraced = warmPasses(spark, wl, 1, math.max(1, n / 2), None)
    val tracer = new Tracer(spark)
    val traced = warmPasses(spark, wl, untraced.map(_.pass).max + 1, math.max(1, n - n / 2),
      Some(tracer))
    tracer.sync()
    tracer.close()
    val probe = Env.calibrate(spark, a.cpus)
    spark.stop()

    val passes = traced.map(_.pass).distinct.sorted
    val perPass = passes.map(p => layerMetrics(tracer, p))
    val metrics = Names.map(n => n -> Stats.median(perPass.map(_(n)))).toMap
    val opSpans = tracer.spans.filter(_.layer == "op").toSeq
    def coreOf(op: Span) = tracer.subtree(op).filter(s => CoreLayers(s.layer))
    val tracedCore = passes.map(p => opSpans.filter(_.pass == p).flatMap(coreOf).map(_.seconds).sum)
    val untracedWarm = Stats.median(passTotals(untraced))
    val overhead = Map(
      "seconds" -> (Stats.median(tracedCore) - untracedWarm),
      "untraced_passes" -> passTotals(untraced).size,
      "traced_passes" -> tracedCore.size)
    val all = cold ++ untraced ++ traced
    val ops = opSpans.map { op =>
      Map("pass" -> op.pass, "op" -> op.name.stripPrefix("op:"), "seconds" -> op.seconds,
        "body" -> coreOf(op).map(s => Map("span" -> s.name) ++ tracer.structure(s) ++
          s.counts.map { case (k, v) => k -> v }))
    }
    val waves = opSpans.map { op =>
      val sub = tracer.subtree(op)
      Map("pass" -> op.pass, "op" -> op.name.stripPrefix("op:"),
        "state_rows_read" -> sub.filter(_.layer == "streaming").map(_.counts.getOrElse("state_rows", 0.0)).sum,
        "drain_s" -> sub.filter(_.layer == "streaming").map(s => s.name -> s.seconds).toMap,
        "append_s" -> sub.filter(_.layer == "populate").map(_.seconds).sum)
    }
    Records.write(a.side, Map(
      "workload" -> wl.name, "seed" -> a.seed, "env" -> Env.record(a.cpus, probe),
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.map(_.seconds).sum,
      "untraced_warm_pass_s" -> untracedWarm,
      "traced_warm_pass_s" -> Stats.median(tracedCore),
      "tracing_overhead" -> overhead,
      "layer_metrics" -> metrics,
      "layer_metrics_per_pass" -> passes.zip(perPass).map { case (p, m) => Map("pass" -> p) ++ m },
      "layer_self_time" -> passes.map(p => Map("pass" -> p) ++ layerShares(tracer, p)),
      "ops" -> ops,
      "waves" -> (if (wl.isInstanceOf[PopulateWaves]) waves else Nil),
      "spans" -> tracer.spans.map(tracer.spanRecord),
      "failures" -> all.flatMap(_.error)))
    Map(
      "workload" -> wl.name, "seed" -> a.seed, "mode" -> "traced",
      "metrics" -> metrics,
      "tracing_overhead" -> overhead,
      "attempted" -> all.size,
      "failed" -> all.count(_.error.nonEmpty),
      "failures" -> all.flatMap(_.error),
      "passes" -> passRecords(all),
      "env" -> Env.record(a.cpus, probe))
  }
}
