package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload run reports: operations attempted and failed, the
  * end-to-end metrics (untraced operations only) and the per-layer
  * metrics (traced operations only; every name in `Layers.Names`). */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double], layers: Map[String, Double],
                         layerLine: String)

/** One workload run's environment. In a traced run every second
  * measured operation is traced (`traced(i)`): the untraced ones give the
  * baseline for the tracing overhead, interleaved so both halves see the
  * same warm-up and index state. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String, val sessionReadyS: Double) {
  def traced(i: Int): Boolean = trace && i % 2 == 1

  def dir(name: String): String = s"$work/$name"

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"perfbench: ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s $msg")

  /** Runs the set-up once into a fresh directory and returns its state
    * with `setup_s`: JVM start to session ready, plus the set-up. */
  def setup[T](body: String => T): (T, Double) = {
    val t0 = System.nanoTime()
    val state = body(dir("setup"))
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: session $sessionReadyS%.2f s, set-up $secs%.2f s")
    (state, sessionReadyS + secs)
  }
}

object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Median over consecutive windows of `w` values of each window's
    * mean; an incomplete last window is left out unless it is the only
    * one. A burst of load on the host moves only the windows it hits. */
  def windowMedian(xs: Seq[Double], w: Int): Double = {
    val full = xs.grouped(w).filter(_.size == w).toSeq
    median((if (full.isEmpty) Seq(xs) else full).map(mean))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of every live Java thread of this JVM, nanoseconds: the
    * driver, Spark's executor task threads and Spark's own threads. The
    * JIT compiler and GC threads are not Java threads and are left out.
    * The kernel leaves out time the host took its virtual CPUs away. */
  def cpuNanos(): Long =
    threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum

  /** Total collection time of every garbage collector so far, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Old-generation bytes in use right after an explicit full collection,
    * MiB. Unlike `totalMemory - freeMemory`, this leaves out garbage that
    * has not been collected yet. Spark's cleaner frees shuffle and
    * broadcast state only after a collection has found its owners
    * unreachable, and then on its own thread, so this collects until the
    * old generation stops shrinking. */
  def heapLiveMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p =>
        p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
        .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
    }
    var (last, cur) = (Double.MaxValue, collect())
    var rounds = 1
    while (rounds < 10 && last - cur > 0.1) {
      Thread.sleep(200)
      last = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  def dirBytes(spark: SparkSession, dir: String): Long =
    graft.util.Fs.dirBytes(spark, dir)
}
