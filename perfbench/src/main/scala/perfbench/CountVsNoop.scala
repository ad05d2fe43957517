package perfbench

import org.apache.spark.sql.DataFrame

/** One-off comparison behind the benchmark's choice of sink: each
  * template and gate the workloads use, timed through `count()` and
  * through the `noop` sink (median of three after one warm run each).
  * Catalyst prunes a `count()` plan down to what the row count needs, so
  * the difference is work the old timing never saw. Prints a markdown
  * table. */
object CountVsNoop {

  private def median3(body: => Unit): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  def run(data: String, work: String, cpus: Int): Unit = {
    println("| template or gate | count() ms | noop ms | noop / count |")
    println("|---|---:|---:|---:|")
    val gates = Seq("fed_duckdb_window", "fed_xengine_partial_agg") ++
      FedWrite.SinkGates ++ PipelineLocal.gates
    for ((wl, templates, names) <- Seq(
        (FedInteractive, FedInteractive.templates, Nil),
        (FedBulk, FedBulk.templates, gates))) {
      val spark = new Runner(Opts(wl.name, 1L, 0, trace = false, data, work,
        cpus, None)).newSession()
      wl.setup(new Ctx(spark, data), (_, body) => body)
      val frames: Seq[(String, () => DataFrame)] =
        templates.map(t => t.name -> (() =>
          spark.sql(t.gen(new scala.util.Random(1))))) ++
        names.map(g => g -> (() => graft.SparkEntry.queries(g)(spark, data)))
      frames.foreach { case (name, frame) =>
        def noop(): Unit =
          frame().write.format("noop").mode("overwrite").save()
        frame().count(); noop()
        val c = median3(frame().count())
        val n = median3(noop())
        println(f"| $name | $c%.0f | $n%.0f | ${n / c}%.1f |")
      }
      spark.stop()
    }
  }
}
