package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One workload run in this JVM:
  * {{{
  *   perfbench.Main --workload lookup|dedup --seed N
  *     --seconds S --trace 0|1 --work DIR --cores C
  * }}}
  * Prints, as its last stdout line, `{"correct", "attempted", "failed",
  * "metrics"}`: the end-to-end metrics untraced, or with `--trace 1` the
  * per-layer metrics, after a `LAYERS {...}` line with per-layer self
  * time and Spark work per operation. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "lookup" -> Lookup.run, "dedup" -> DedupWorkload.run)

  val E2eUnits = Seq("setup_s" -> "s", "op_cpu_ms" -> "ms", "heap_live_mb" -> "MiB")

  def unitOf(name: String): String =
    if (name.endsWith("_ms") || name.contains("_ms_per_")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MiB"
    else if (name.endsWith("bytes_per_posting")) "B"
    else if (name.endsWith("_per_input_byte")) "B/B"
    else if (name.endsWith("_frac")) "ratio"
    else "count"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val trace = opt("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[${opt("cores")}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", opt("cores"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      if (trace) Trace.enable(spark.sparkContext)
      val out = run(new Ctx(spark, opt("seed").toLong, opt("seconds").toInt, trace,
        s"$work/data", sessionReadyS))
      val metrics =
        if (trace) Layers.Names.map(n => (n, out.layers(n), unitOf(n)))
        else E2eUnits.map { case (n, u) => (n, out.e2e(n), u) }
      val metricsJson = metrics.map { case (n, v, u) =>
        s""""$n":{"value":${Json.num(v)},"unit":"$u"}"""
      }.mkString("{", ",", "}")
      if (trace) {
        Trace.writeJsonl(s"$work/spans.jsonl", Trace.finish())
        println(s"LAYERS ${out.layerLine}")
      }
      println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
        s""""failed":${out.failed},"metrics":$metricsJson}""")
    } finally {
      spark.stop()
    }
  }
}
