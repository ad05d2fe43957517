package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Benchmark entry point (launched by `run.py`, which builds the
  * classpath and checks the DuckDB oracles):
  *
  * {{{
  * perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--cpus N] [--pin X]
  * perfbench.Main --self-test --data DIR --work DIR [--cpus N]
  * perfbench.Main --count-vs-noop --data DIR --work DIR [--cpus N]
  * }}}
  *
  * Writes the run record (JSON) to `--out`. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val cpus = kv.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    if (args.contains("--count-vs-noop")) {
      CountVsNoop.run(arg("data"), arg("work"), cpus)
      sys.exit(0)
    }
    if (args.contains("--self-test")) {
      val failures = SelfTest.run(arg("data"), arg("work"), cpus)
      failures.foreach(f => System.err.println(s"[self-test] FAIL $f"))
      println(s"self-test: ${if (failures.isEmpty) "ok" else s"${failures.size} failed"}")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val opts = Opts(
      workload = arg("workload"), seed = arg("seed").toLong,
      seconds = arg("seconds").toDouble, trace = arg("trace") == "1",
      data = arg("data"), work = arg("work"), cpus = cpus,
      pin = kv.get("pin").map(_.toDouble))
    val record = new Runner(opts).run()
    java.nio.file.Files.write(java.nio.file.Paths.get(arg("out")),
      json.writeValueAsBytes(record))
    sys.exit(0)
  }
}
