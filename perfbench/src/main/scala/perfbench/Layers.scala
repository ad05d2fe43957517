package perfbench

/** The per-layer figures of a traced run, each with its unit. Counts and
  * times are means per timed operation unless the name says otherwise;
  * a layer a workload never reaches reads 0. */
object Layers {

  val SetupPhases: Seq[String] = Seq("jvm", "session", "warmup", "derby_load",
    "duckdb_load", "catalog", "first_pass")

  val RuleNames: Seq[String] = Seq("FederationRule", "BindJoinRule",
    "RuntimeFilterRule", "PartialAggRule", "TopKPushdownRule",
    "GroupTopKPushdownRule", "JoinUnionDistributeRule", "InjectRuntimeFilter",
    "graft_other", "spark_other")

  val PerOpCounts: Seq[(String, String)] = Seq(
    "remote_fetch_ms" -> "ms", "remote_rows" -> "count",
    "remote_bytes" -> "bytes", "bind_rows_inlined" -> "count",
    "runtime_filters_pushed" -> "count", "fragment_reuses" -> "count",
    "staged_binds" -> "count", "coerced_rows" -> "count",
    "fragment_sql_chars" -> "count", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "input_rows" -> "count",
    "microbatches" -> "count")

  val WriteKinds: Seq[String] = Seq("insert", "ctas", "delete", "update")
  val Microbatch: Seq[String] = Seq("latestOffset", "queryPlanning",
    "addBatch", "walCommit")

  /** Every per-layer metric name with its unit, in report order. */
  val Names: Seq[(String, String)] =
    SetupPhases.map(p => s"setup.${p}_s" -> "s") ++
    Seq("build_ms" -> "ms", "analysis_ms" -> "ms", "optimize_ms" -> "ms") ++
    RuleNames.map(r => s"rule.${r}_ms" -> "ms") ++
    Seq("unparse_ms" -> "ms", "plan_ms" -> "ms", "plan_cold_ms" -> "ms",
      "fragments_per_query" -> "count", "splits_per_fragment" -> "count") ++
    PerOpCounts ++
    Seq("engine.derby_ms" -> "ms", "engine.duckdb_ms" -> "ms",
      "engine.mock_ms" -> "ms", "wire_ms" -> "ms",
      "coerced_share" -> "ratio", "local_exec_ms" -> "ms", "gc_ms" -> "ms") ++
    WriteKinds.map(k => s"write.${k}_ms" -> "ms") ++
    Seq("write.stream_sink_ms" -> "ms", "rows_written" -> "count") ++
    Microbatch.map(m => s"microbatch.${m}_ms" -> "ms") ++
    Seq("query_self_ms" -> "ms", "trace_overhead_ms" -> "ms",
      "trace_overhead_pct" -> "%", "tail_percentile" -> "pct",
      "tail_samples" -> "count", "shipped_rows_per_query" -> "count",
      "remote_rows_per_s" -> "1/s", "rows_written_per_s" -> "1/s",
      "error_rate" -> "ratio", "verify_s" -> "s", "calib.drift" -> "ratio",
      "calib.pin_ratio" -> "ratio", "calib.sample_median_ratio" -> "ratio")

  private def mean(xs: Seq[Double]): Double = Stats.mean(xs)
  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  def compute(traced: Seq[Sample], tracedWall: Double,
      setupPhases: Map[String, Double], coldPlanMs: Seq[Double],
      engine: Map[String, Map[String, Double]], unparse: Map[String, Double],
      shipped: Map[String, Long], landed: Map[String, Long], gcMs: Double,
      plain: Seq[Sample], extra: Map[String, Double])
      : Map[String, Map[String, Any]] = {
    val ok = traced.filter(s => s.ok && s.span.isDefined)
    val spans = ok.map(_.span.get)
    def count(k: String): Seq[Double] = spans.map(_.counts.getOrElse(k, 0.0))
    def child(s: Span, n: String): Double =
      s.children.filter(_.name == n).map(_.durationNs / 1e6).sum
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    SetupPhases.foreach(p => v(s"setup.${p}_s") = setupPhases.getOrElse(p, 0.0))
    v("build_ms") = mean(spans.map(child(_, "build")))
    v("analysis_ms") = mean(count("analysis_ms"))
    v("optimize_ms") = mean(count("optimize_ms"))
    RuleNames.foreach(r => v(s"rule.${r}_ms") = mean(count(s"rule.${r}_ms")))
    v("unparse_ms") = mean(ok.map(s => unparse.getOrElse(s.op.key, 0.0)))
    v("plan_ms") = mean(count("plan_ms"))
    v("plan_cold_ms") = mean(coldPlanMs)
    v("fragments_per_query") = mean(count("fragments"))
    v("splits_per_fragment") =
      if (count("fragments").sum == 0) 0.0
      else count("splits").sum / count("fragments").sum
    PerOpCounts.foreach { case (k, _) => v(k) = mean(count(k)) }
    val engineOf = ok.map(s => engine.getOrElse(s.op.key, Map.empty))
    Seq("derby", "duckdb", "mock").foreach { e =>
      v(s"engine.${e}_ms") = mean(engineOf.map(_.getOrElse(e, 0.0)))
    }
    v("wire_ms") = mean(ok.zip(engineOf).map { case (s, m) =>
      math.max(0.0, s.span.get.counts.getOrElse("remote_fetch_ms", 0.0) -
        m.values.sum)
    })
    v("coerced_share") =
      if (count("remote_rows").sum == 0) 0.0
      else count("coerced_rows").sum / count("remote_rows").sum
    v("local_exec_ms") = mean(spans.map { s =>
      math.max(0.0, child(s, "execute") - s.counts.getOrElse("optimize_ms", 0.0) -
        s.counts.getOrElse("plan_ms", 0.0) -
        s.counts.getOrElse("remote_fetch_ms", 0.0))
    })
    v("gc_ms") = if (traced.isEmpty) 0.0 else gcMs / traced.size
    WriteKinds.foreach { k =>
      v(s"write.${k}_ms") = mean(ok.collect {
        case s if s.op.isInstanceOf[WriteOp] &&
          s.op.asInstanceOf[WriteOp].kind == k => s.ms })
    }
    v("write.stream_sink_ms") = mean(ok.filter(s =>
      FedWrite.SinkGates.contains(s.op.template)).map(_.ms))
    val written = ok.map(s =>
      if (s.affected >= 0) s.affected.toDouble
      else if (s.op.isInstanceOf[WriteOp] ||
        FedWrite.SinkGates.contains(s.op.template))
        landed.getOrElse(s.op.key, 0L).toDouble
      else 0.0)
    v("rows_written") = mean(written)
    val mbs = count("microbatches").sum
    Microbatch.foreach { m =>
      v(s"microbatch.${m}_ms") =
        if (mbs == 0) 0.0 else count(s"microbatch.${m}_ms").sum / mbs
    }
    v("query_self_ms") = mean(spans.map(_.selfNs / 1e6))
    val plainOk = plain.filter(_.ok).map(_.ms)
    val tracedP50 = med(ok.map(_.ms))
    val plainP50 = med(plainOk)
    v("trace_overhead_ms") = tracedP50 - plainP50
    v("trace_overhead_pct") =
      if (plainP50 == 0) 0.0 else 100.0 * (tracedP50 / plainP50 - 1.0)
    v("tail_percentile") = Runner.TailPercentile
    v("tail_samples") = plainOk.size
    v("shipped_rows_per_query") =
      mean(ok.map(s => shipped.getOrElse(s.op.key, 0L).toDouble))
    v("remote_rows_per_s") =
      if (tracedWall <= 0) 0.0
      else ok.map(s => shipped.getOrElse(s.op.key, 0L)).sum / tracedWall
    v("rows_written_per_s") =
      if (tracedWall <= 0) 0.0 else written.sum / tracedWall
    extra.foreach { case (k, x) => v(k) = x }

    val units = Names.toMap
    require(v.keySet == units.keySet,
      s"layer names drifted: ${(v.keySet diff units.keySet) ++ (units.keySet diff v.keySet)}")
    Names.map { case (k, u) => k -> Map[String, Any]("value" -> v(k), "unit" -> u) }
      .toMap
  }
}
