package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.federation.plans.FederatedPlan
import graft.federation.sql.{SqlExecutor, SqlFederationProvider, SqlUnparser}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, cpus: Int,
    pin: Option[Double])

/** One timed operation's outcome. `affected` is the row count a DML
  * statement reported (-1 when the statement does not report one). */
final case class Sample(op: Op, pass: Int, ms: Double, ok: Boolean,
    affected: Long, span: Option[Span])

/** One executed operation: the nanos of its timed unit, the rows a DML
  * statement reported (-1 otherwise), the frames it built, and (traced)
  * an id below every QueryExecution it created. */
final case class Executed(ns: Long, affected: Long, frames: Seq[DataFrame],
    fromId: Long)

/** Runs one workload in a fresh JVM: the cold set-up, the closed-loop
  * timed phase, the untimed verification pass and (traced) the per-layer
  * post-passes. Returns the run record as nested maps. */
final class Runner(o: Opts) {
  private val wl = Workloads.byName(o.workload)
  private var spark: SparkSession = _
  private var ctx: Ctx = _

  // ---- results -------------------------------------------------------
  private var setupTotal = 0.0
  private val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  private val executed = mutable.LinkedHashMap.empty[String, Op]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val coldPlanMs = mutable.ArrayBuffer.empty[Double]

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The set-up, timed from JVM start: JVM and class loading up to the
    * benchmark's entry, session, warm-up, engine loads, catalog and the
    * untimed first pass. A traced run reads the first pass's (cold)
    * planning times through the listener; the probe's own waits are not
    * part of the set-up figure. */
  private def setup(): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val phase = setupPhases
    Layers.SetupPhases.foreach(phase(_) = 0.0)
    def timed(name: String, body: => Unit): Unit = {
      val t = System.nanoTime()
      body
      phase(name) += secs(t)
    }
    phase("jvm") = (System.currentTimeMillis() - rt.getStartTime) / 1000.0
    val t0 = System.nanoTime()
    timed("session", { spark = newSession() })
    ctx = new Ctx(spark, o.data)
    timed("warmup", {
      spark.range(1000000).selectExpr("sum(id % 7)", "count(distinct id % 11)")
        .collect()
      graft.sources.Tables.all.foreach(t =>
        graft.sources.Tables.table(spark, o.data, t).schema)
    })
    wl.setup(ctx, timed)
    val probe = if (o.trace) Some(new Probe(spark)) else None
    probe.foreach(_.install())
    var waitNs = 0L
    timed("first_pass", wl.firstPass(ctx, o.seed).foreach { op =>
      val ex = execute(op, None, probe)
      val w0 = System.nanoTime()
      for (p <- probe) {
        coldPlanMs += p.reportedBetween(ex.fromId, p.flush())
          .map(qe => phaseMs(qe.tracker, "planning")).sum
        p.drain()
      }
      waitNs += System.nanoTime() - w0
    })
    phase("first_pass") -= waitNs / 1e9
    probe.foreach(_.uninstall())
    setupTotal = phase("jvm") + secs(t0) - waitNs / 1e9
  }

  // ---- one operation ---------------------------------------------------

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Time spent in write-target resets (outside every timer). */
  private var resetNs = 0L

  /** Executes `op`; the returned nanos cover exactly the timed unit (from
    * the gate or `spark.sql` call through the last row into the noop
    * sink, or the write statement). Resets, and the id a traced run takes
    * to tell the operation's QueryExecutions apart, come before the clock
    * starts (and count as reset time, outside the loop time). */
  private def execute(op: Op, tracer: Option[Tracer], probe: Option[Probe])
      : Executed = {
    def step[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(_ => body))
    val r0 = System.nanoTime()
    op match {
      case w: WriteOp => step("reset")(w.reset())
      case _ => ()
    }
    val fromId = probe.map(_.nextId()).getOrElse(0L)
    resetNs += System.nanoTime() - r0
    op match {
      case w: WriteOp =>
        val t0 = System.nanoTime()
        val r = step("execute")(w.run())
        Executed(System.nanoTime() - t0, r.affected, r.frames, fromId)
      case _ =>
        val t0 = System.nanoTime()
        val df = step("build")(build(op))
        step("execute")(noop(df))
        Executed(System.nanoTime() - t0, -1L, Seq(df), fromId)
    }
  }

  private def build(op: Op): DataFrame = op match {
    case SqlOp(_, sql) => spark.sql(sql)
    case GateOp(name) => graft.SparkEntry.queries(name)(spark, o.data)
    case w: WriteOp => w.readBack()
  }

  // ---- calibration (box-load self-identification) -----------------------

  private def calibOnce(): Double = {
    val t0 = System.nanoTime()
    spark.range(2000000).selectExpr("sum(id % 7)", "count(distinct id % 11)")
      .collect()
    secs(t0)
  }

  // ---- the timed loop --------------------------------------------------

  /** Runs whole passes until `seconds` of loop time have elapsed and at
    * least `minSamples` operations succeeded (the pass in flight
    * completes, so every template weighs the same in a run; a run whose
    * operations keep failing stops after four times as many attempts).
    * Calibration, verification, listener waits and write resets are
    * excluded from the loop time. */
  private def loop(stream: Iterator[Seq[Op]], seconds: Double,
      probe: Option[Probe], tracer: Option[Tracer], calib: Double => Unit,
      passBase: Int, minSamples: Int): (Seq[Sample], Double) = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    var untimedNs = 0L
    val reset0 = resetNs
    var lastCalib = System.nanoTime()
    val t0 = System.nanoTime()
    def loopSecs = secs(t0) - (untimedNs + resetNs - reset0) / 1e9
    var pass = passBase
    def okCount = samples.count(_.ok)
    while (loopSecs < seconds ||
        (okCount < minSamples && samples.size < 4 * minSamples)) {
      stream.next().foreach { op =>
        executed.getOrElseUpdate(op.key, op)
        val span = tracer.map(_.start("query"))
        span.foreach { s => s.attrs("template") = op.template; s.attrs("key") = op.key }
        val res = try Right(execute(op, tracer, probe)) catch {
          case NonFatal(e) => Left(e)
        }
        for (t <- tracer; s <- span) t.end(s)
        val u0 = System.nanoTime()
        val sample = res match {
          case Right(ex) =>
            for (p <- probe; s <- span) attach(p, s, op, ex)
            Sample(op, pass, ex.ns / 1e6, ok = true, ex.affected, span)
          case Left(e) =>
            errors += s"${op.template}: ${e.getClass.getSimpleName}: ${e.getMessage}"
            probe.foreach { p => p.reportedBetween(0L, 0L); p.drain() }
            Sample(op, pass, 0.0, ok = false, 0L, span)
        }
        samples += sample
        res.foreach { ex =>
          if (tracer.isEmpty) verifyOnce(op, ex.frames.headOption, rerun = false)
          else if (!checked.contains(op.key)) deferred.getOrElseUpdate(op.key, op)
        }
        if (System.nanoTime() - lastCalib > 3e9) {
          calib(calibOnce())
          lastCalib = System.nanoTime()
        }
        untimedNs += System.nanoTime() - u0
      }
      pass += 1
    }
    (samples.toSeq, loopSecs)
  }

  // ---- per-layer extraction (traced) -------------------------------------

  /** Per distinct op, the QueryExecutions it optimized (for the unparse
    * post-pass) and those that ran (for the engine post-pass). */
  private val captured =
    mutable.LinkedHashMap.empty[String, (Seq[QueryExecution], Seq[QueryExecution])]
  private val deferred = mutable.LinkedHashMap.empty[String, Op]

  private def phaseMs(t: QueryPlanningTracker, phase: String): Double =
    t.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  private val FedRules = Seq("FederationRule", "BindJoinRule",
    "RuntimeFilterRule", "PartialAggRule", "TopKPushdownRule",
    "GroupTopKPushdownRule", "JoinUnionDistributeRule", "InjectRuntimeFilter")
  private val GraftOtherRules = Seq("CatalogRemoteTableRule",
    "FedStreamScanRule")

  /** Attaches what the operation ran to its span: every QueryExecution
    * the listener reported between the operation's start and its end
    * (the noop write of a read; the jobs inside a write statement or
    * gate, AQE stages included) with their tracker phases, rule times and
    * `RemoteScanExec` metrics, plus the tracker of each frame the
    * operation built that no job ran (a read's own frame, the source of
    * a CTAS pushed whole to the engine). */
  private def attach(p: Probe, s: Span, op: Op, ex: Executed): Unit = {
    val ran = p.reportedBetween(ex.fromId, p.flush())
    val ranIds = ran.map(_.id).toSet
    val unran = ex.frames.map(_.queryExecution).filterNot(qe => ranIds(qe.id))
    val all = ran ++ unran
    captured.getOrElseUpdate(op.key, (all.filter(qe =>
      qe.tracker.phases.contains("optimization")), ran))
    all.foreach { qe =>
      s.add("analysis_ms", phaseMs(qe.tracker, "analysis"))
      s.add("optimize_ms", phaseMs(qe.tracker, "optimization"))
      s.add("plan_ms", phaseMs(qe.tracker, "planning"))
      qe.tracker.rules.foreach { case (rule, sum) =>
        val short = rule.split('.').last.stripSuffix("$")
        val key =
          if (FedRules.contains(short)) s"rule.${short}_ms"
          else if (GraftOtherRules.contains(short)) "rule.graft_other_ms"
          else "rule.spark_other_ms"
        s.add(key, sum.totalTimeNs / 1e6)
      }
    }
    val scans = ran.flatMap(qe => Probe.remoteScans(qe.executedPlan))
    s.add("fragments", scans.size)
    scans.foreach { r =>
      s.add("splits", r.sqls.size)
      s.add("remote_fetch_ms", Probe.metric(r, "remoteFetchTime") / 1e6)
      s.add("remote_rows", Probe.metric(r, "numOutputRows"))
      s.add("remote_bytes", Probe.metric(r, "remoteBytes"))
      s.add("bind_rows_inlined", Probe.metric(r, "numBindRows"))
      s.add("runtime_filters_pushed", Probe.metric(r, "numRuntimeFilters"))
      s.add("fragment_reuses", Probe.metric(r, "numFragmentReuses"))
      s.add("staged_binds", Probe.metric(r, "numStagedBinds"))
      s.add("coerced_rows", Probe.metric(r, "numCoercedRows"))
      s.add("fragment_sql_chars", r.sqls.map(_.length).sum)
    }
    val d = p.drain()
    s.add("shuffle_write_bytes", d.shuffleWriteBytes)
    s.add("spill_bytes", d.spillBytes)
    s.add("input_rows", d.inputRows)
    s.add("microbatches", d.microbatches)
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit").foreach { k =>
      s.add(s"microbatch.${k}_ms", d.microbatchMs.getOrElse(k, 0L).toDouble)
    }
  }

  /** Engine-only time of each captured fragment: the fragment SQL wrapped
    * in `SELECT COUNT(*)` runs the whole remote query but ships one row,
    * so fetch time minus this is the wire (transfer + decode) share. */
  private def engineTimes(): Map[String, Map[String, Double]] =
    captured.map { case (key, (_, ran)) =>
      val perEngine = mutable.Map.empty[String, Double]
      ran.flatMap(qe => Probe.remoteScans(qe.executedPlan)).foreach { r =>
        val ex: SqlExecutor = r.executor
        r.sqls.foreach { sql =>
          val wrapped = s"SELECT COUNT(*) AS n FROM ($sql) bench_t"
          try {
            val t0 = System.nanoTime()
            ex.execute(wrapped, StructType(Seq(StructField("n", LongType))))
              .count()
            val kind = Probe.engineKind(ex)
            perEngine(kind) = perEngine.getOrElse(kind, 0.0) +
              (System.nanoTime() - t0) / 1e6
          } catch {
            case NonFatal(e) => errors += s"engine probe ($key): ${e.getMessage}"
          }
        }
      }
      key -> perEngine.toMap
    }.toMap

  /** Unparse time of each captured query's federated fragments. */
  private def unparseTimes(): Map[String, Double] =
    captured.map { case (key, (optimized, _)) =>
      val frags = optimized.flatMap(qe => Probe.fragments(qe.optimizedPlan))
      val reps = 5
      val t0 = System.nanoTime()
      (1 to reps).foreach { _ =>
        frags.foreach { f: FederatedPlan =>
          f.provider match {
            case p: SqlFederationProvider =>
              SqlUnparser.tryUnparse(f.inner, p.executor.dialect)
            case _ => ()
          }
        }
      }
      key -> (System.nanoTime() - t0) / 1e6 / reps
    }.toMap

  // ---- verification ------------------------------------------------------

  /** One oracle check per distinct op, made outside the timer at the
    * op's first run (or after the loop for ops first seen while tracing,
    * so checking never mixes into a traced op's listener figures). Each
    * check's rows go straight to `checks.jsonl`, so they are not on the
    * heap when the run measures it; the DuckDB oracle runs in `run.py`
    * over the same parquet. */
  private val checksFile = new java.io.File(o.work, "checks.jsonl")
  private lazy val checksOut = new java.io.PrintWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(checksFile),
      java.nio.charset.StandardCharsets.UTF_8))
  private val checked = mutable.Set.empty[String]
  private val checkErrors = mutable.Set.empty[String]
  private val shipped = mutable.Map.empty[String, Long]
  private val landed = mutable.Map.empty[String, Long]
  private var verifyNs = 0L

  private def verifyOnce(op: Op, ran: Option[DataFrame], rerun: Boolean): Unit = {
    if (checked.contains(op.key)) return
    val t0 = System.nanoTime()
    val check: Map[String, Any] = try op match {
      case SqlOp(t, sql) =>
        val df = spark.sql(sql)
        val rows = df.collect()
        shipped(op.key) = Probe.shippedRows(df.queryExecution)
        Map("template" -> t, "oracle_sql" -> wl.oracleSql(sql),
          "rows" -> rows.map(Rows.json).toSeq)
      case GateOp(name) =>
        val out = s"${o.work}/verify/$name"
        val df = if (rerun) build(op) else ran.get
        df.write.mode("overwrite").parquet(out)
        landed(op.key) = spark.read.parquet(out).count()
        Map("template" -> name, "dir" -> out,
          "oracle_sql" -> graft.SparkEntry.oracleSql(name))
      case w: WriteOp =>
        if (rerun) { w.reset(); w.run() }
        val rows = w.readBack().collect()
        landed(op.key) = rows.length
        Map("template" -> w.template, "oracle_sql" -> w.oracleSql,
          "rows" -> rows.map(Rows.json).toSeq)
    } catch {
      case NonFatal(e) =>
        Map("template" -> op.template,
          "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    checked += op.key
    if (check.contains("error")) checkErrors += op.key
    checksOut.println(Main.json.writeValueAsString(check + ("key" -> op.key)))
    verifyNs += System.nanoTime() - t0
  }

  // ---- the run -----------------------------------------------------------

  /** Seconds since JVM start at each stage of the run. */
  private val timeline = mutable.LinkedHashMap.empty[String, Double]
  private def mark(stage: String): Unit = timeline(stage) =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def run(): Map[String, Any] = {
    mark("main")
    setup()
    mark("setup")

    // calibration baseline: warm through until two runs agree within 20%
    var warmPrev = calibOnce()
    var tries = 1
    var stable = false
    while (!stable && tries < 4) {
      val c = calibOnce()
      stable = math.abs(c - warmPrev) <= 0.2 * math.min(c, warmPrev)
      warmPrev = c; tries += 1
    }
    val calibBase = Stats.median(Seq(calibOnce(), calibOnce(), calibOnce()))
    val calibSamples = mutable.ArrayBuffer.empty[Double]

    mark("calibration")
    val stream = wl.stream(ctx, o.seed)
    val gcBefore = gcMs()
    val (plain, plainWall) = loop(stream,
      if (o.trace) o.seconds / 2 else o.seconds, None, None,
      calibSamples += _, 0, Runner.MinSamples)
    val gcPlain = gcMs() - gcBefore
    val tracer = new Tracer
    val probe = new Probe(spark)
    val (traced, tracedWall) =
      if (!o.trace) (Seq.empty[Sample], 0.0)
      else {
        probe.install()
        probe.drain()
        loop(stream, o.seconds / 2, Some(probe), Some(tracer),
          calibSamples += _, plain.map(_.pass).maxOption.getOrElse(-1) + 1,
          Runner.MinSamples / 2)
      }
    val gcTraced = gcMs() - gcBefore - gcPlain
    val samples = plain ++ traced
    val wall = plainWall + tracedWall

    val (engine, unparse) =
      if (o.trace) (engineTimes(), unparseTimes())
      else (Map.empty[String, Map[String, Double]], Map.empty[String, Double])
    if (o.trace) probe.uninstall()

    mark("loop")
    deferred.values.foreach(verifyOnce(_, None, rerun = true))
    deferred.clear()
    checksOut.close()
    val verifySecs = verifyNs / 1e9
    val bad = checkErrors.toSet

    mark("post_passes")
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    // ---- end-to-end metrics (over the untraced samples) -----------------
    val base = if (o.trace) plain else samples
    val okMs = base.filter(_.ok).map(_.ms)
    val tailP = Runner.TailPercentile
    val tailV = if (okMs.isEmpty) 0.0 else Stats.percentile(okMs, tailP)
    val tailBeyond = Stats.beyond(okMs.size, tailP)
    val passWalls = base.groupBy(_.pass).values
      .filter(ps => ps.forall(_.ok) && ps.size == wl.templateNames.size)
      .map(_.map(_.ms).sum / 1000.0).toSeq
    val baseWall = if (o.trace) plainWall else wall
    val failedOps = samples.count(s => !s.ok || bad.contains(s.op.key))
    val shippedTotal = base.filter(_.ok).map(s => shipped.getOrElse(s.op.key, 0L)).sum
    val writtenTotal = base.filter(_.ok).map { s =>
      if (s.affected >= 0) s.affected else landed.getOrElse(s.op.key, 0L)
    }.sum

    // a run whose every operation failed still reports (and fails)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupTotal, "s"),
      "query_p50_ms" -> (med(okMs), "ms"),
      "query_tail_ms" -> (tailV, "ms"),
      "queries_per_s" -> (okMs.size / baseWall, "1/s"),
      "pipeline_wall_s" -> (med(passWalls), "s"),
      "retained_heap_mb" -> (heapMb, "MB"))

    val calibDrift =
      if (calibSamples.isEmpty) 1.0 else calibSamples.max / calibBase
    val pinRatio = o.pin.map(calibBase / _)
    val sampleMedianRatio = o.pin.filter(_ => calibSamples.nonEmpty)
      .map(Stats.median(calibSamples.toSeq) / _)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cpus" -> o.cpus, "seconds" -> o.seconds,
      "attempted" -> samples.size, "failed" -> failedOps,
      "distinct_ops" -> executed.size,
      "passes" -> passWalls.size,
      "tail" -> Map("percentile" -> tailP, "samples" -> okMs.size,
        "beyond" -> tailBeyond),
      "workload_metrics" -> Map(
        "shipped_rows_per_query" -> Stats.mean(base.filter(_.ok)
          .map(s => shipped.getOrElse(s.op.key, 0L).toDouble)),
        "remote_rows_per_s" -> shippedTotal / baseWall,
        "rows_written_per_s" -> writtenTotal / baseWall,
        "error_rate" -> failedOps.toDouble / math.max(1, samples.size)),
      "template_ms" -> base.filter(_.ok).groupBy(_.op.template)
        .map { case (t, ss) => t -> med(ss.map(_.ms)) },
      "timeline_s" -> timeline.toMap,
      "setup_s" -> setupTotal,
      "setup_phases_s" -> setupPhases.toMap,
      "verify_s" -> verifySecs,
      "calibration" -> (Map[String, Any]("baseline" -> calibBase,
        "warm_tries" -> tries, "samples" -> calibSamples.toSeq,
        "drift" -> calibDrift) ++
        pinRatio.map("pin_ratio" -> _) ++
        sampleMedianRatio.map("sample_median_ratio" -> _)),
      "oracle_views" -> wl.duckViews(o.data),
      "checks_file" -> checksFile.getPath,
      "check_runs" -> samples.filter(_.ok).groupBy(_.op.key)
        .map { case (k, ss) => k -> ss.size },
      "errors" -> errors.take(20).toSeq,
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })

    if (o.trace) {
      record("spans") = tracer.roots.map(Trace.json).toSeq
      record("layers") = Layers.compute(traced, tracedWall,
        setupPhases.toMap, coldPlanMs.toSeq,
        engine, unparse, shipped.toMap, landed.toMap, gcTraced, plain,
        Map("calib.drift" -> calibDrift,
          "calib.pin_ratio" -> pinRatio.getOrElse(0.0),
          "calib.sample_median_ratio" -> sampleMedianRatio.getOrElse(0.0),
          "error_rate" -> failedOps.toDouble / math.max(1, samples.size),
          "verify_s" -> verifySecs))
    }
    spark.stop()
    record.toMap
  }

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }
}

object Runner {
  /** Fewest successful timed operations per run (per untraced part). */
  val MinSamples = 40

  /** The percentile `query_tail_ms` reports: the tail rule applied once,
    * to the guaranteed sample count, so every run of every commit reports
    * the same percentile however many operations fit in its time. */
  val TailPercentile: Double = Stats.tailPercentile(MinSamples)
}
