package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.{Bm25, PostingBlock, Tokenizer}

/** Query engine — the Spark-native analog of `gin query find` (the
  * reference's gin_gin.c:672-723), which answers every query with one
  * search routine over one index. Here every top-k answer comes from one
  * exact kernel, the block-max WAND loop `Wand.topK`.
  *
  * Per call:
  *  1. one plan: tokenize the queries with the SAME tokenizer as the
  *     build side (the bootstrap, gin_gin.c:682-721), probe the
  *     dictionary once for every term's df, and drop dead queries — a
  *     missing term kills a conjunctive query, the DEAD-fork analog
  *     (gin_gin.c:696-708);
  *  2. the remaining queries run `Wand.topK` over their still-compressed
  *     posting blocks: on the driver for small batches, over the
  *     handle's driver-resident block map (`IndexHandle.termBlocks`), so
  *     a query on a resident index starts no Spark job and its answer is
  *     one local relation; on executors for large batches or posting
  *     volumes — one group per (query, doc-range stripe), per-stripe
  *     top-ks merged by the bounded best-k aggregator (BoundedK) so only
  *     O(k) rows per stripe cross a shuffle.
  *
  * Scores are rounded to 6 decimals *before* ranking so that ranking is
  * reproducible across engines (oracle parity); tie-break doc_id ASC.
  *
  * Unranked AND matching (`searchCandidates`/`countMatches`) prunes
  * posting blocks by interval intersection on block metadata (the
  * IMT-style pre-merge, gin_interval_merge_tree.c:178-209) and decodes
  * only the surviving blocks, distributedly.
  */
object Searcher {

  case class Query(query_id: Long, text: String)

  /** Max merged intervals the driver sees PER TERM from the distributed
    * interval aggregation (coarsened beyond this — still sound, see
    * IntervalAgg). Bounds driver memory regardless of index size. */
  val MaxIvPerTerm = 512

  type Mode = Wand.Mode
  val And = Wand.And // posting-list intersection (north rule)
  val Or = Wand.Or // disjunctive BM25

  /** Σ df above which searchTopK stops using the DRIVER-local WAND loop
    * (whose block set must fit the driver heap) and evaluates
    * on executors instead — a driver-memory bound only: the executor path
    * stripes big posting volumes into bounded groups. */
  val WandDfCap = 5000000L

  /** Target postings per executor-WAND stripe group (~4 B/posting
    * compressed ≈ 8 MB buffered per group): a query whose Σ df exceeds
    * this is split into doc-range stripes, each evaluated exactly by the
    * same BMW loop over its own range, merged by the typed top-k
    * aggregator. Group memory is O(this), never O(Σ df). */
  val ExecStripePostings = 2000000L

  /** Stripe-count ceiling per query (keeps the block fan-out bounded:
    * a rare term's wide-span block is replicated into every stripe it
    * overlaps, so fan-out <= terms × stripes × blockSize postings). */
  val MaxStripesPerQuery = 1024

  /** Batch size at/above which searchTopK evaluates WAND on executors
    * (searchTopKWandExecutors) instead of the driver thread pool: big
    * batches are throughput work that should scale with the cluster
    * (and measure faster even on one host — BENCH wand_exec leg), while
    * small batches stay on the driver for latency (no job scheduling on a
    * handle with driver-resident blocks). */
  val ExecBatchThreshold = 256

  /** Per-query work counters — the reference's per-query stats
    * (gin.c:1118-1151), keyed by query_id, written by the driver loop.
    * The searchTopK dispatcher CLEARS the map at every call, so it holds
    * counters for the LAST dispatched batch only: populated after a
    * driver-loop batch, empty after an executor-path batch (its counters
    * would live in executor JVMs). The clear also keeps a long-lived
    * serve session (thousands of dispatched micro-batches, disjoint query
    * ids) from growing the map without bound. Direct searchTopKWand calls
    * do NOT clear — instrumentation that accumulates across sub-batches
    * (Bench's grouped legs) relies on that. */
  val lastStats = new java.util.concurrent.ConcurrentHashMap[Long, Wand.QueryStats]()

  /** Shared pool for the driver-side WAND serving loop. */
  private lazy val wandPool =
    new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(
        math.min(16, Runtime.getRuntime.availableProcessors())))

  /** One call's front end, built once and handed to the path that runs
    * it: the dictionary probe of every query term and the live queries
    * with their present (distinct, dictionary-known) terms. Phrase plans
    * through it too, in And mode. */
  private[query] final case class Plan(handle: IndexHandle,
      dict: Map[String, Long], live: Map[Long, Seq[String]])

  private[query] def plan(spark: SparkSession, indexDir: String, queries: Seq[Query],
      mode: Mode, nBuckets: Int): Plan = {
    val handle = IndexHandle.open(spark, indexDir, nBuckets)
    val tokens =
      queries.map(q => q.query_id -> Tokenizer.tokens(q.text).distinct.toSeq)
    val dict = handle.dfOf(tokens.flatMap(_._2).distinct)
    Plan(handle, dict, tokens.toMap.flatMap { case (qid, ts) =>
      val present = ts.filter(dict.contains)
      if (present.isEmpty || (mode == And && present.size < ts.size)) None
      else Some(qid -> present)
    })
  }

  /** One query's best-first hits as (query_id, rank 1.., doc_id, score). */
  private[graft] def ranked(qid: Long, hits: Seq[Scored]): Seq[(Long, Int, Long, Double)] =
    hits.zipWithIndex.map { case (s, i) => (qid, i + 1, s.doc_id, s.score) }

  private val OutCols = Seq("query_id", "rank", "doc_id", "score")

  private val OutSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Driver-side ranked rows as one LocalRelation with the final schema:
    * no encoder derivation and no rename projection per call, and
    * collecting it starts no job. */
  private def localResult(spark: SparkSession,
      rows: Seq[(Long, Int, Long, Double)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (q, r, d, s) => Row(q, r, d, s) }.asJava, OutSchema)
  }

  /** Top-k search over a built index — dispatcher.
    * Small batch + small posting volume (Σ df <= WandDfCap, which bounds
    * the blocks one driver call reads): the driver-local exact BMW loop —
    * the latency path (no job on a handle with driver-resident blocks).
    * Anything bigger — large batches OR big posting volumes — runs the
    * SAME exact BMW loop on executors, striped so per-group memory stays
    * bounded regardless of Σ df. Both produce identical rankings
    * ((score6 DESC, doc_id ASC)).
    * Returns (query_id, rank, doc_id, score) with rank 1..k. */
  def searchTopK(spark: SparkSession, indexDir: String, queries: Seq[Query],
                 k: Int, mode: Mode = And, nBuckets: Int = 32): DataFrame = {
    val p = plan(spark, indexDir, queries, mode, nBuckets)
    lastStats.clear() // per-dispatched-batch counters only (see doc)
    if (queries.size >= ExecBatchThreshold || p.dict.values.sum > WandDfCap)
      executorTopK(spark, p, k, mode, ExecStripePostings)
    else driverTopK(spark, p, k, mode)
  }

  /** Driver-local exact BMW path (see Wand) for every query, whatever the
    * batch size. Blocks come still compressed (varint payloads) from
    * `IndexHandle.termBlocks`: a map probe when the handle holds them on
    * the driver, else one pruned collect per call; whole blocks are
    * skipped by block-max metadata without decoding. */
  def searchTopKWand(spark: SparkSession, indexDir: String, queries: Seq[Query],
                     k: Int, mode: Mode = And, nBuckets: Int = 32): DataFrame =
    driverTopK(spark, plan(spark, indexDir, queries, mode, nBuckets), k, mode)

  /** The driver loop: `Wand.topK` per live query over `termBlocks`,
    * answered as one local relation. On a handle with driver-resident
    * blocks this starts no Spark job. */
  private def driverTopK(spark: SparkSession, p: Plan, k: Int,
      mode: Mode): DataFrame = {
    val stats = p.handle.stats
    val byTerm = p.handle.termBlocks(p.live.values.flatten.toSeq.distinct)
    // queries are independent: evaluate the batch on a driver-side pool
    // (the reference's -j thread parallelism for the serving loop,
    // /root/reference/benchmark/scripts/benchmark_parallelism_fast_hard.sh)
    import scala.collection.parallel.CollectionConverters._
    val par = p.live.toSeq.par
    par.tasksupport = wandPool
    val rows = par.map { case (qid, ts) =>
      val tbs = ts.map { t =>
        Wand.TermBlocks(t, Bm25.idf(stats.n_docs, p.dict(t)),
          byTerm.getOrElse(t, Array.empty))
      }
      val (hits, qstats) = Wand.topK(tbs, k, stats.avgdl, mode)
      lastStats.put(qid, qstats)
      qid -> hits
    }.seq.flatMap { case (qid, hits) => ranked(qid, hits) }
    localResult(spark, rows)
  }

  /** One block of one (query, stripe) group on the executor path. */
  case class StripeBlock(query_id: Long, stripe: Long, n_stripes: Long,
      stripe_w: Long, n_terms: Int, idf: Double, block: PostingBlock)

  /** Executor-side exact BMW serving — the batch form of the driver WAND
    * loop (the reference's thread-parallel query batches at cluster
    * scale): still-compressed blocks join the broadcast query-term table
    * on `term` (one shuffle, block payloads fan out only to the queries
    * that need them — bounded by batch size), then ONE flatMapGroups per
    * (query, doc-range stripe) runs the IDENTICAL `Wand.topK` loop on an
    * executor (stripeTopK); per-stripe exact top-ks merge through
    * BoundedK into the global exact top-k. Rankings are
    * bit-identical to `searchTopKWand`.
    *
    * Memory: a query whose Σ df exceeds `stripePostings` is split into
    * up to MaxStripesPerQuery uniform doc-range stripes, so per-group
    * buffered postings stay ~O(stripePostings) — the driver never holds
    * a block, and no single executor group holds a whole common term.
    * Uniform doc striping tracks posting volume because the over-cap
    * terms are by construction the high-df ones, whose postings spread
    * across the doc space; a rare term's wide block is replicated into
    * each stripe it overlaps (bounded by the stripe ceiling). */
  def searchTopKWandExecutors(spark: SparkSession, indexDir: String,
      queries: Seq[Query], k: Int, mode: Mode = And,
      nBuckets: Int = 32,
      stripePostings: Long = ExecStripePostings): DataFrame =
    executorTopK(spark, plan(spark, indexDir, queries, mode, nBuckets), k,
      mode, stripePostings)

  /** Set-oriented entry point kept for existing callers: top-k has one
    * kernel, so this is the executor BMW path. */
  def searchTopKRelational(spark: SparkSession, indexDir: String, queries: Seq[Query],
                 k: Int, mode: Mode = And, nBuckets: Int = 32): DataFrame =
    searchTopKWandExecutors(spark, indexDir, queries, k, mode, nBuckets)

  private def executorTopK(spark: SparkSession, p: Plan, k: Int, mode: Mode,
      stripePostings: Long): DataFrame = {
    import spark.implicits._
    if (p.live.isEmpty) return localResult(spark, Nil)
    val stats = p.handle.stats
    // per-query stripe plan from the probed dictionary dfs: driver-side
    // arithmetic only, no extra jobs
    val qt = p.live.toSeq.flatMap { case (qid, ts) =>
      val nS = math.max(1L, math.min(MaxStripesPerQuery.toLong,
        (ts.map(p.dict).sum + stripePostings - 1) / math.max(1L, stripePostings)))
      val w = math.max(1L, (stats.n_docs + nS - 1) / nS)
      ts.map(t => (qid, t, Bm25.idf(stats.n_docs, p.dict(t)), nS, w, ts.size))
    }
    val blocks = p.handle.blocksFor(p.live.values.flatten.toSeq.distinct)
      .join(broadcast(qt.toDF("query_id", "term", "idf", "n_stripes",
        "stripe_w", "n_terms")), "term")
    val avgdl = stats.avgdl
    def groups(stripe: Column) = blocks.withColumn("stripe", stripe)
      .select(col("query_id"), col("stripe"), col("n_stripes"),
        col("stripe_w"), col("n_terms"), col("idf"),
        struct(col("term"), col("block_id"), col("doc_id_base"),
          col("doc_id_max"), col("num_docs"), col("max_tf"), col("min_dl"),
          col("doc_deltas"), col("tfs"), col("dls")).as("block"))
      .as[StripeBlock]
      .groupByKey(r => (r.query_id, r.stripe))
    // common case: nothing stripes (every Σ df fits one group) — one
    // group per query emits final ranks directly, no merge shuffle
    // (bench leg wand_exec measures this path)
    if (qt.forall(_._4 == 1L))
      return groups(lit(0L))
        .flatMapGroups { (key: (Long, Long), it: Iterator[StripeBlock]) =>
          ranked(key._1, stripeTopK(it, k, avgdl, mode))
        }
        .toDF(OutCols: _*)
    // a block [base, max] feeds every stripe it overlaps; ids past the
    // last stripe boundary (e.g. post-ingest docs beyond stats.n_docs)
    // clamp into the last stripe, so every doc lands in exactly one
    val perStripe = groups(explode(sequence(
        expr("least(doc_id_base div stripe_w, n_stripes - 1)"),
        expr("least(doc_id_max div stripe_w, n_stripes - 1)"))))
      .flatMapGroups { (key: (Long, Long), it: Iterator[StripeBlock]) =>
        stripeTopK(it, k, avgdl, mode).map(s => (key._1, s))
      }
    // merge per-stripe exact top-ks (<= k rows per stripe cross this
    // shuffle) into the global exact top-k per query
    BoundedK.perKey(perStripe, k, Scored.BestFirst)
      .flatMap { case (qid, hits) => ranked(qid, hits) }
      .toDF(OutCols: _*)
  }

  /** The group body both executor shapes share: one (query, stripe)'s
    * blocks regrouped per term, then `Wand.topK` over the stripe's doc
    * range. Every doc is scored in exactly one stripe with every term's
    * covering block present, so per-stripe exact top-ks merge into the
    * exact global top-k (Wand.topK's [minDoc, maxDoc] contract). */
  private def stripeTopK(rows: Iterator[StripeBlock], k: Int, avgdl: Double,
      mode: Mode): Seq[Scored] = {
    val byTerm = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, scala.collection.mutable.ArrayBuffer[PostingBlock])]
    var last: StripeBlock = null
    rows.foreach { r =>
      last = r
      byTerm.getOrElseUpdate(r.block.term,
        (r.idf, scala.collection.mutable.ArrayBuffer.empty[PostingBlock]))
        ._2 += r.block
    }
    // a conjunctive stripe missing ANY query term has no match in its
    // doc range (the absent term has no posting there) — running the
    // AND loop over the present subset would fabricate matches
    if (mode == And && byTerm.size < last.n_terms) Nil
    else {
      val tbs = byTerm.iterator.map { case (t, (idf, bs)) =>
        Wand.TermBlocks(t, idf, bs.sortBy(_.doc_id_base).toArray)
      }.toSeq
      val minDoc = last.stripe * last.stripe_w
      val maxDoc = if (last.stripe >= last.n_stripes - 1) Long.MaxValue
        else minDoc + last.stripe_w - 1
      Wand.topK(tbs, k, avgdl, mode, minDoc, maxDoc)._1
    }
  }

  /** Count of conjunctive matches per query — the `(c:…)` match-count
    * analog (/root/reference/gin.c:1018-1023). */
  def countMatches(spark: SparkSession, indexDir: String, queries: Seq[Query],
                   nBuckets: Int = 32): DataFrame = {
    import spark.implicits._
    // reuse the scoring pipeline with a huge k is wasteful; count directly
    val all = searchCandidates(spark, indexDir, queries, nBuckets)
    val out = all.groupBy("query_id").agg(count(lit(1)).as("n_matches"))
    // queries with zero matches still emit a row (explicit DEAD-fork rows)
    val ids = queries.map(_.query_id).toDF("query_id")
    ids.join(out, Seq("query_id"), "left")
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
  }

  /** All conjunctive (AND) matching (query_id, doc_id) pairs. Only
    * blocks overlapping every query term's covered doc ranges are
    * decoded (pruneBlocks) — the IMT-style pre-merge. */
  def searchCandidates(spark: SparkSession, indexDir: String,
                       queries: Seq[Query], nBuckets: Int = 32): DataFrame =
    candidates(spark, plan(spark, indexDir, queries, And, nBuckets))

  /** searchCandidates over an existing And plan, so a caller that already
    * planned (Phrase) probes the dictionary once. */
  private[query] def candidates(spark: SparkSession, p: Plan): DataFrame = {
    import spark.implicits._
    if (p.live.isEmpty) return Seq.empty[(Long, Long)].toDF("query_id", "doc_id")
    val blocks = pruneBlocks(spark, p.handle,
      p.handle.blocksFor(p.live.values.flatten.toSeq.distinct), p.live)
    val postings = blocks.select(col("term"),
        graft.functions.DecodePostings.rows(col("num_docs"),
          col("doc_deltas"), col("tfs"), col("dls"))
          .as(Seq("doc_id", "tf", "dl")))
    val qt = p.live.toSeq.flatMap { case (qid, ts) =>
      ts.map(t => (qid, t, ts.size))
    }.toDF("query_id", "term", "n_terms")
    postings.join(broadcast(qt), "term")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nmatch"), first("n_terms").as("n_terms"))
      .filter(col("nmatch") === col("n_terms"))
      .select("query_id", "doc_id")
  }

  /** Resolve top-k doc ids to (repo, path, commit) — the SA-range ->
    * (vid, offset) decode analog (/root/reference/src/gin_gin.c:817-863),
    * a broadcast join at small k. */
  def resolve(spark: SparkSession, indexDir: String, topk: DataFrame): DataFrame = {
    val meta = IndexHandle.open(spark, indexDir).docmeta
    topk.join(meta, Seq("doc_id"), "left")
      .select("query_id", "rank", "doc_id", "score", "repo", "path", "commit")
  }

  /** Interval-intersection pruning on block metadata (AND only), with NO
    * driver-size cliff: per-term block [base,max] intervals are merged
    * DISTRIBUTEDLY by IntervalAgg (each term reports <= MaxIvPerTerm
    * coarsened intervals — metadata rows never collect to the driver) and
    * CACHED on the IndexHandle (index-static until ingest invalidates),
    * the tiny per-query interval intersection runs on the driver, and the
    * surviving intervals semi-join the block table via a broadcast range
    * join. The shape scales with |query terms| · MaxIvPerTerm, not with
    * index size — and repeat queries pay no interval jobs at all. */
  private[graft] def pruneBlocks(spark: SparkSession, handle: IndexHandle,
      blocks: DataFrame, live: Map[Long, Seq[String]]): DataFrame = {
    import spark.implicits._
    val perTerm: Map[String, Array[(Long, Long)]] =
      handle.intervalsFor(live.values.flatten.toSeq.distinct)
    val survByTerm =
      scala.collection.mutable.HashMap.empty[String,
        scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    live.foreach { case (_, ts) =>
      val present = ts.filter(perTerm.contains)
      if (present.nonEmpty && present.size == ts.size) {
        var acc = perTerm(present.head)
        present.tail.foreach { t => acc = Intervals.intersect(acc, perTerm(t)) }
        if (acc.nonEmpty) present.foreach { t =>
          survByTerm.getOrElseUpdate(t,
            scala.collection.mutable.ArrayBuffer.empty) ++= acc
        }
      }
    }
    if (survByTerm.isEmpty) return blocks.filter(lit(false))
    val ivRows = survByTerm.toSeq.flatMap { case (t, iv) =>
      Intervals.merge(iv.toArray).map { case (lo, hi) => (t, lo, hi) }
    }
    val ivDf = broadcast(ivRows.toDF("t", "lo", "hi"))
    blocks.join(ivDf,
      blocks("term") === ivDf("t") && blocks("doc_id_max") >= ivDf("lo") &&
        blocks("doc_id_base") <= ivDf("hi"), "left_semi")
  }
}
