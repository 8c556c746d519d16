package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.Builder
import graft.ops.{Dedup, Pipeline}
import graft.query.{IndexHandle, Oracle, Searcher}
import graft.query.Searcher.Query
import graft.streaming.{Compactor, IncrementalIndexer}

/** Latencies of one kind of measured operation, split by whether the
  * operation ran traced, and how many failed (threw or failed a check). */
final class OpLog {
  val untraced = mutable.ArrayBuffer.empty[Double]
  val traced = mutable.ArrayBuffer.empty[Double]
  /** CPU milliseconds of the JVM's Java threads (`Stat.cpuNanos`) in
    * each untraced operation. */
  val untracedCpu = mutable.ArrayBuffer.empty[Double]
  var failed = 0L
  def attempted: Long = (untraced.size + traced.size).toLong
  def all: Seq[Double] = (untraced ++ traced).toSeq

  /** Times `body` as one operation (a `bench.op` span when `on`). */
  def run(on: Boolean, queryId: Long = -1L)(body: => Boolean): Unit = {
    val c0 = Stat.cpuNanos()
    val t0 = System.nanoTime()
    val ok =
      try Trace.span("bench.op", queryId, on)(body)
      catch {
        case NonFatal(e) =>
          System.err.println(s"operation failed: $e")
          e.printStackTrace()
          false
      }
    (if (on) traced else untraced) += (System.nanoTime() - t0) / 1e6
    if (!on) untracedCpu += (Stat.cpuNanos() - c0) / 1e6
    if (!ok) failed += 1
  }
}

/** Helpers shared by the workloads. */
object Common {
  val K = 10
  /** Queries per run whose engine ranking is checked against `Oracle.topK`. */
  val Checked = 8

  def deadline(seconds: Int): Long = System.nanoTime() + seconds * 1000000000L

  /** (query_id, rank, doc_id, score) rows -> doc ids and scores by rank. */
  def ranked(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
    }

  /** Queries of `qs` whose engine ranking `got` differs from
    * `Oracle.topK` over the index's own corpus snapshot. A query the
    * engine answered with no rows has an empty ranking in `got`. */
  def oracleMismatches(spark: SparkSession, dir: String, qs: Seq[Query],
                       got: Map[Long, Seq[(Long, Double)]]): Seq[Long] = {
    val want = ranked(
      Oracle.topK(spark, spark.read.parquet(s"$dir/corpus_ids"), qs, K).collect())
    qs.map(_.query_id).filterNot { q =>
      val (have, exp) = (got.getOrElse(q, Nil), want.getOrElse(q, Nil))
      have.size == exp.size && have.zip(exp).forall { case ((da, sa), (db, sb)) =>
        da == db && math.abs(sa - sb) <= 1e-6
      }
    }
  }

  def contentBytes(df: DataFrame): Long =
    df.agg(coalesce(sum(octet_length(col("content"))), lit(0L))).head().getLong(0)

  def e2e(setupS: Double, cpuMsPerOp: Double, heapMb: Double): Map[String, Double] =
    Map("setup_s" -> setupS, "op_cpu_ms" -> cpuMsPerOp, "heap_live_mb" -> heapMb)

  def outcome(workload: String, c: Ctx, logs: Seq[OpLog], e2e: Map[String, Double],
              measured: Map[String, Double], overheadLog: OpLog): Outcome = {
    for (l <- logs) {
      c.log("operation ms: " + l.all.map(ms => f"$ms%.0f").mkString(" "))
      c.log("untraced operation CPU ms: " + l.untracedCpu.map(ms => f"$ms%.0f").mkString(" "))
    }
    c.log(f"median operation ${Stat.median(logs.flatMap(_.all))}%.1f ms, " +
      f"${e2e("op_cpu_ms")}%.1f CPU ms per operation")
    val (layers, line) =
      if (c.trace) Layers.report(workload, Trace.finish(), measured,
        overheadLog.untraced.toSeq, overheadLog.traced.toSeq)
      else (Map.empty[String, Double], "")
    Outcome(logs.map(_.attempted).sum, logs.map(_.failed).sum, e2e, layers, line)
  }
}

import Common._

/** One closed-loop client sends single top-k queries to an index made
  * during set-up: the driver-side serving path of `graft.query`. The
  * set-up builds a base index, then streams two batches into it through
  * `graft.streaming` with the default compaction policy: the first
  * compacts, the second stays an uncompacted stream segment the queries
  * read too. */
object Lookup {
  val Docs = 3000
  /** Streamed batch sizes: 400 docs pass the policy's 10% threshold and
    * compact, 100 more docs do not. */
  val Batches = Seq(400, 100)
  /** Query latency falls by about a third over the first ~300 queries of
    * a JVM, and slowly after that. The Java threads' CPU time per query
    * falls less, about a tenth from query 100 to query 500, because the
    * JIT compiler's own work is not in it. */
  val WarmQueries = 100
  /** Queries per window of `op_cpu_ms`, about a second of them: one turn
    * of the absent-term rotation, so every window holds one such query. */
  val CpuWindow = 20

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val conf = Builder.Config()
    val bounds = Batches.scanLeft(Docs)(_ + _)
    val repos = bounds.last / Gen.DocsPerRepo
    var compactions = 0
    var compactedBytes = 0L
    val ((input, idx), setupS) = c.setup { d =>
      Trace.span("bench.setup") {
        val input = s"$d/input"
        for (b <- 0 to Batches.size)
          Gen.codeCorpus(spark, c.seed, if (b == 0) 0 else bounds(b - 1), bounds(b))
            .write.parquet(s"$input/part=$b")
        c.log("input")
        val idx = s"$d/index"
        Trace.span("index.build") {
          Builder.build(spark, spark.read.parquet(s"$input/part=0"), idx,
            stageLog = Trace.stageLog)
        }
        c.log("build")
        compactions = 0
        compactedBytes = 0L
        for (b <- Batches.indices) {
          Trace.span("streaming.ingest") {
            IncrementalIndexer.ingestBatch(spark, spark.read.parquet(s"$input/part=${b + 1}"),
              idx, conf, b.toLong, autoCompact = false)
          }
          Trace.span("streaming.compact") {
            val did = Compactor.maybeCompact(spark, idx, conf)
            Trace.attr("compacted", if (did) 1.0 else 0.0)
            if (did) {
              compactions += 1
              compactedBytes += Stat.dirBytes(spark, s"$idx/postings") +
                Stat.dirBytes(spark, s"$idx/dictionary")
            }
          }
        }
        c.log("ingest")
        Trace.span("query.open")(IndexHandle.open(spark, idx))
        Gen.queries(c.seed ^ 0x3779L, 0, repos, firstId = 1L << 40).take(WarmQueries)
          .foreach(q => Searcher.searchTopK(spark, idx, Seq(q), K).collect())
        c.log("warm")
        (input, idx)
      }
    }

    val qs = Gen.queries(c.seed, 0, repos)
    val got = mutable.HashMap.empty[Long, Seq[(Long, Double)]]
    var (blocksTotal, blocksDecoded, docsScored) = (0L, 0L, 0L)
    val log = new OpLog
    val gc0 = Stat.gcSeconds()
    val end = deadline(c.seconds)
    var i = 0
    while (System.nanoTime() < end) {
      val q = qs.next()
      log.run(c.traced(i), q.query_id) {
        val rows = Trace.span("query.search", q.query_id) {
          Searcher.searchTopK(spark, idx, Seq(q), K).collect()
        }
        got ++= ranked(rows)
        if (i < Layers.ExactOps) Option(Searcher.lastStats.get(q.query_id)).foreach { s =>
          blocksTotal += s.blocksTotal
          blocksDecoded += s.blocksDecoded
          docsScored += s.docsScored
        }
        true
      }
      i += 1
    }
    val gcS = Stat.gcSeconds() - gc0
    c.log("measured")
    val heapMb = Stat.heapLiveMb()

    // rankings of a seeded sample, and the document count after streaming
    val rnd = new scala.util.Random(c.seed ^ 0x5eedL)
    val sample = rnd.shuffle(Gen.queries(c.seed, 0, repos).take(i).toSeq).take(Checked)
    log.failed += oracleMismatches(spark, idx, sample, got.toMap).size
    if (Builder.loadStats(spark, idx).n_docs != bounds.last) log.failed = log.attempted
    c.log("checked")

    val inputBytes = contentBytes(spark.read.parquet(input))
    val streamedBytes = contentBytes(spark.read.parquet(input).filter(col("part") > 0))
    val postings = spark.read.parquet(s"$idx/dictionary").agg(sum("df")).head().getLong(0)
    val segments = graft.util.Fs.list(spark, s"$idx/postings")
      .count(_.getName.startsWith("segment=s"))
    outcome("lookup", c, Seq(log),
      e2e(setupS, Stat.windowMedian(log.untracedCpu.toSeq, CpuWindow), heapMb),
      Map("query.blocks_decoded_frac" -> blocksDecoded.toDouble / math.max(1L, blocksTotal),
        "query.docs_scored_per_query" -> docsScored.toDouble / Layers.ExactOps,
        "index.bytes_per_posting" ->
          Stat.dirBytes(spark, s"$idx/postings").toDouble / postings,
        "index.bytes_per_input_byte" -> Stat.dirBytes(spark, idx).toDouble / inputBytes,
        "streaming.compactions" -> compactions.toDouble,
        "streaming.compact.bytes_written_per_input_byte" ->
          compactedBytes.toDouble / streamedBytes,
        "streaming.stream_segments_end" -> segments.toDouble,
        "jvm.gc_s" -> gcS), log)
  }
}

/** `Pipeline.cleanCorpus` over a table with injected exact and near
  * duplicates, one full action per operation: `graft.ops` only. */
object DedupWorkload {
  val Docs = 800
  /** cleanCorpus gets about a quarter faster over its first ~15 calls,
    * and slowly after that. The Java threads' CPU time per call falls
    * less, about a tenth from call 7 to call 11, and is about flat after
    * that: the JIT compiler's own work is not in it. */
  val WarmActions = 6

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val docs = Gen.dedupDocs(c.seed, Docs)
    def verdicts(df: DataFrame): Map[Long, String] =
      Pipeline.cleanCorpus(df).select("doc_id", "drop_reason").as[(Long, String)]
        .collect().toMap

    val ((path, truth), setupS) = c.setup { d =>
      Trace.span("bench.setup") {
        val truth = Gen.dedupTruth(docs)
        val path = s"$d/docs"
        docs.toDF("doc_id", "text").write.parquet(path)
        for (_ <- 0 until WarmActions) verdicts(spark.read.parquet(path))
        (path, truth)
      }
    }
    require(Seq("quality", "lang", "exact_dup", "near_dup", "keep")
      .forall(truth.reasons.values.toSet), "a drop reason is missing from the input")

    val df = spark.read.parquet(path)
    val log = new OpLog
    val gc0 = Stat.gcSeconds()
    val end = deadline(c.seconds)
    var i = 0
    while (System.nanoTime() < end) {
      log.run(c.traced(i)) {
        Trace.span("ops.clean")(verdicts(df)) == truth.reasons
      }
      i += 1
    }
    val gcS = Stat.gcSeconds() - gc0
    val heapMb = Stat.heapLiveMb()

    val pairsDf = Trace.span("ops.jaccard_pairs") {
      Dedup.jaccardPairs(df, Gen.ShingleK, Gen.MinJaccard)
    }
    val pairs = pairsDf.as[(Long, Long, Double)].collect()
    val pairsOk = pairs.length == truth.pairs.size && pairs.forall { case (a, b, j) =>
      truth.pairs.get((a, b)).exists(w => math.abs(w - j) <= 1e-9)
    }
    if (!pairsOk) log.failed = log.attempted
    val components =
      if (!c.trace) 0L
      else Trace.span("ops.cc") {
        Dedup.connectedComponents(df.select("doc_id"), pairsDf)
          .select("cluster_rep").distinct().count()
      }
    outcome("dedup", c, Seq(log),
      e2e(setupS, Stat.median(log.untracedCpu.toSeq), heapMb),
      Map("ops.pairs" -> pairs.length.toDouble, "ops.components" -> components.toDouble,
        "jvm.gc_s" -> gcS), log)
  }
}
