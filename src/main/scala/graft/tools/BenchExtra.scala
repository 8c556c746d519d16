package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Gate

/** Extra measurement harness for the optimization round (guide §1) —
  * Bench.scala is frozen, so per-query isolation work lives here.
  *
  * Times a SUBSET of the gate queries with the same methodology as the
  * frozen Bench (same session shape, `.count()` action, min-of-reps),
  * counts the Spark jobs of each query's last rep (noise cannot move
  * them), and optionally dumps `.explain("formatted")` for each query to
  * a plans directory, so plan claims in OPTIMIZATION_r06.md are
  * reproducible.
  *
  * Usage:
  *   sbt "runMain graft.tools.BenchExtra [reps] [q1,q2,... | all]"
  * Env:
  *   SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS    cores (default: the host's available processors)
  *   GRAFT_PLANS_DIR     if set, write <query><GRAFT_PLANS_SUFFIX>.txt
  *   GRAFT_PLANS_SUFFIX  suffix for plan files (default "_plan")
  */
object BenchExtra {

  private val scratch: String = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-bench"
      else sys.props("java.io.tmpdir") + "/graft-bench"
    new java.io.File(base).mkdirs()
    base
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val reps = if (args.length > 0) args(0).toInt else 3
    val names: Seq[String] =
      if (args.length < 2 || args(1) == "all") Gate.queries.keys.toSeq.sorted
      else args(1).split(',').toSeq
    val plansDir = sys.env.get("GRAFT_PLANS_DIR")
    val plansSuffix = sys.env.getOrElse("GRAFT_PLANS_SUFFIX", "_plan")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobCount = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      })
    try {
      // pre-seed the shared gate index (idempotent build) + JIT warm-up
      Gate.indexDir(spark, sfDir)
      val runs = scala.collection.mutable.LinkedHashMap
        .empty[String, (Seq[Double], Int)] // (rep times, last rep's jobs)
      names.foreach { name =>
        val fn = Gate.queries(name)
        spark.sparkContext.setJobDescription(s"bench-extra: $name")
        plansDir.foreach { d =>
          new java.io.File(d).mkdirs()
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"$name$plansSuffix.txt"),
            plan.getBytes("UTF-8"))
        }
        val ts = (1 to reps).map { _ =>
          org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
          jobCount.set(0)
          val t = time { fn(spark, sfDir).count() }._2
          org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
          t
        }
        runs(name) = (ts, jobCount.get)
        println(f"EXTRA $name min=${ts.min}%.3f jobs=${jobCount.get} runs=${
          ts.map(t => f"$t%.2f").mkString("[", ",", "]")}")
      }
      val total = runs.values.map(_._1.min).sum
      def obj(f: ((Seq[Double], Int)) => String): String =
        runs.map { case (n, r) => s""""$n":${f(r)}""" }.mkString("{", ",", "}")
      println(s"""EXTRA_JSON {"total_min":${f"$total%.3f"},"queries":${
        obj(r => f"${r._1.min}%.3f")},"jobs":${obj(_._2.toString)}}""")
    } finally {
      spark.stop()
    }
  }
}
