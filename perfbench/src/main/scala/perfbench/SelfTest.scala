package perfbench

import scala.collection.mutable

/** Self-tests of the benchmark itself. The pure checks (seeded query
  * lists, tail rule, span arithmetic) need no engine; the fragment pins
  * start a session with every engine loaded and plan each federated
  * template once. */
object SelfTest {

  /** Remote fragments each federated template must ship. A change here
    * means the plan changed shape; a drop to 0 means the query silently
    * fell back to local execution. */
  val PinnedFragments: Map[String, Int] = Map(
    "i_filter_mock" -> 1, "i_topk_duck" -> 1, "i_agg_derby" -> 1,
    "i_join_mock" -> 1, "i_exists_duck" -> 1, "i_not_in_derby" -> 1,
    "i_group_topk_duck" -> 1, "i_bind_mock_duck" -> 1,
    "i_rf_mock_derby" -> 1, "i_union_agg_duck_derby" -> 2,
    "i_lookup_mock" -> 1,
    "b_split_derby" -> 1, "b_split_duck_join" -> 1, "b_window_duck" -> 1,
    "b_xengine_partial_agg" -> 2, "b_runtime_filter_derby" -> 1,
    "b_struct_duck" -> 1, "b_split_mock_join" -> 1)

  def pure(): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    def check(cond: Boolean, what: String): Unit = if (!cond) f += what

    // seeded query lists
    for (t <- Seq(FedInteractive.templates, FedBulk.templates)) {
      def list(seed: Long) = {
        val (first, passes) = Workloads.templateStream(t, seed)
        first ++ passes.take(5).flatten.toSeq
      }
      check(list(7) == list(7), "same seed gives a different query list")
      check(list(7) != list(8), "different seeds give the same query list")
      val lit7 = list(7).map(_.key).toSet
      val lit8 = list(8).map(_.key).toSet
      check((lit8 diff lit7).nonEmpty, "different seeds share every literal")
      val ops = list(7).drop(t.size)
      check(ops.map(_.template).toSet == t.map(_.name).toSet,
        "a pass misses a template")
      val repeats = 1.0 - ops.map(_.key).distinct.size.toDouble / ops.size
      check(repeats > 0.2 && repeats < 0.9,
        f"repeat share $repeats%.2f is not about half")
    }
    check(PipelineLocal.stream(null, 3).take(2).toSeq ==
      PipelineLocal.stream(null, 3).take(2).toSeq, "gate order not seeded")

    // tail rule: at least ten samples beyond the reported percentile
    val xs = (1 to 100).map(_.toDouble)
    check(Stats.tail(xs) == ((90.0, Stats.percentile(xs, 90.0), 10)),
      s"tail(100 samples) = ${Stats.tail(xs)}")
    check(Stats.tail((1 to 1000).map(_.toDouble))._1 == 99.0,
      "tail(1000 samples) is not p99")
    check(Stats.tail((1 to 150).map(_.toDouble))._1 == 90.0,
      "tail(150 samples) is not p90")
    check(Stats.tail((1 to 15).map(_.toDouble))._1 == 50.0,
      "tail(15 samples) is not the median")
    check(Stats.tail((1 to 40).map(_.toDouble))._1 == 75.0,
      "tail(40 samples) is not p75")
    check(Stats.tail((1 to 37).map(_.toDouble))._1 == 50.0,
      "tail(37 samples) is not the median")
    check(Runner.TailPercentile == 75.0,
      s"fixed tail percentile is p${Runner.TailPercentile}, not p75")
    check(Stats.beyond(Runner.MinSamples, Runner.TailPercentile) >= 10,
      "fewer than ten guaranteed samples beyond the fixed tail percentile")
    check(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50.0) == 2.5,
      "median of 1..4 is not 2.5")

    // span self time: overlapping children merge, coverage is clipped
    check(Trace.selfNs(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60,
      "self time with overlapping / clipped children")
    check(Trace.selfNs(0, 100, Nil) == 100, "self time without children")
    val tr = new Tracer
    val root = tr.start("query")
    tr.span("build")(_ => Thread.sleep(5))
    tr.span("execute")(_ => Thread.sleep(5))
    tr.end(root)
    check(root.selfNs == root.durationNs - root.children.map(_.durationNs).sum,
      "self time of sequential children")
    f.toSeq
  }

  def fragments(data: String, work: String, cpus: Int): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    for ((wl, templates) <- Seq(FedInteractive -> FedInteractive.templates,
        FedBulk -> FedBulk.templates)) {
      val spark = new Runner(Opts(wl.name, 1L, 0, trace = false, data, work,
        cpus, None)).newSession()
      wl.setup(new Ctx(spark, data), (_, body) => body)
      val probe = new Probe(spark)
      probe.install()
      for (t <- templates) {
        val before = probe.noopCount
        spark.sql(t.gen(new scala.util.Random(1)))
          .write.format("noop").mode("overwrite").save()
        val n = probe.awaitNoop(before + 1).map(qe =>
          Probe.remoteScans(qe.executedPlan).size).getOrElse(-1)
        probe.drain()
        val want = PinnedFragments.getOrElse(t.name, -1)
        if (n != want) f += s"${t.name}: $n remote fragments, pinned $want"
      }
      probe.uninstall()
      spark.stop()
    }
    f.toSeq
  }

  def run(data: String, work: String, cpus: Int): Seq[String] =
    pure() ++ fragments(data, work, cpus)
}
