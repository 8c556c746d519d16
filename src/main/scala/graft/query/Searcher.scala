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
  * Unranked AND matching (`searchCandidates` and Phrase's candidates) is
  * the same plan and the same dispatch with a different kernel call:
  * `Wand.matches`, the AND loop of `Wand.topK` that keeps every match in
  * doc-id order (`countMatches` counts them from the executor groups). A
  * term's blocks that hold none of the other terms' docs are skipped by
  * the cursor's block metadata, so no separate block prune runs first.
  */
object Searcher {

  case class Query(query_id: Long, text: String)

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
    * The dispatcher (searchTopK, searchCandidates, Phrase) CLEARS the map
    * at every call, so it holds counters for the LAST dispatched batch
    * only: populated after a driver-loop batch, empty after an
    * executor-path batch (its counters would live in executor JVMs). The
    * clear also keeps a long-lived serve session (thousands of dispatched
    * micro-batches, disjoint query ids) from growing the map without
    * bound. Direct searchTopKWand calls do NOT clear — instrumentation
    * that accumulates across sub-batches (Bench's grouped legs) relies on
    * that. */
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

  /** One query's kernel call: `run` maps (term blocks, avgdl, minDoc,
    * maxDoc) to hits and stats; a striped answer keeps the `limit` first
    * of its stripes' hits by `order`. */
  private final case class Kernel(mode: Mode, limit: Long,
      order: Ordering[Scored],
      run: (Seq[Wand.TermBlocks], Double, Long, Long) => (Seq[Scored], Wand.QueryStats))

  private def topKKernel(k: Int, mode: Mode): Kernel =
    Kernel(mode, k, Scored.BestFirst,
      (tbs, avgdl, lo, hi) => Wand.topK(tbs, k, avgdl, mode, lo, hi))

  private def matchKernel(limit: Long): Kernel =
    Kernel(And, limit, Scored.ByDoc,
      (tbs, avgdl, lo, hi) => Wand.matches(tbs, limit, avgdl, lo, hi))

  /** One query's hits in kernel order as (query_id, rank 1.., doc_id,
    * score). */
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
                 k: Int, mode: Mode = And, nBuckets: Int = 32): DataFrame =
    dispatch(spark, plan(spark, indexDir, queries, mode, nBuckets),
      queries.size, topKKernel(k, mode))

  private def dispatch(spark: SparkSession, p: Plan, nQueries: Int,
      kern: Kernel): DataFrame = {
    lastStats.clear() // per-dispatched-batch counters only (see doc)
    if (nQueries >= ExecBatchThreshold || p.dict.values.sum > WandDfCap)
      executorTopK(spark, p, kern, ExecStripePostings)
    else driverTopK(spark, p, kern)
  }

  /** Driver-local exact BMW path (see Wand) for every query, whatever the
    * batch size. Blocks come still compressed (varint payloads) from
    * `IndexHandle.termBlocks`: a map probe when the handle holds them on
    * the driver, else one pruned collect per call; whole blocks are
    * skipped by block-max metadata without decoding. */
  def searchTopKWand(spark: SparkSession, indexDir: String, queries: Seq[Query],
                     k: Int, mode: Mode = And, nBuckets: Int = 32): DataFrame =
    driverTopK(spark, plan(spark, indexDir, queries, mode, nBuckets),
      topKKernel(k, mode))

  /** The driver loop: the kernel per live query over `termBlocks`,
    * answered as one local relation. On a handle with driver-resident
    * blocks this starts no Spark job. */
  private def driverTopK(spark: SparkSession, p: Plan,
      kern: Kernel): DataFrame = {
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
      val (hits, qstats) = kern.run(tbs, stats.avgdl, 0L, Long.MaxValue)
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
    * executor (stripeHits); per-stripe exact top-ks merge through
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
    executorTopK(spark, plan(spark, indexDir, queries, mode, nBuckets),
      topKKernel(k, mode), stripePostings)

  /** Set-oriented entry point kept for existing callers: top-k has one
    * kernel, so this is the executor BMW path. */
  def searchTopKRelational(spark: SparkSession, indexDir: String, queries: Seq[Query],
                 k: Int, mode: Mode = And, nBuckets: Int = 32): DataFrame =
    searchTopKWandExecutors(spark, indexDir, queries, k, mode, nBuckets)

  private def executorTopK(spark: SparkSession, p: Plan, kern: Kernel,
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
          ranked(key._1, stripeHits(it, kern, avgdl))
        }
        .toDF(OutCols: _*)
    // a block [base, max] feeds every stripe it overlaps; ids past the
    // last stripe boundary (e.g. post-ingest docs beyond stats.n_docs)
    // clamp into the last stripe, so every doc lands in exactly one
    val perStripe = groups(explode(sequence(
        expr("least(doc_id_base div stripe_w, n_stripes - 1)"),
        expr("least(doc_id_max div stripe_w, n_stripes - 1)"))))
      .flatMapGroups { (key: (Long, Long), it: Iterator[StripeBlock]) =>
        stripeHits(it, kern, avgdl).map(s => (key._1, s))
      }
    // merge per-stripe hits (<= limit rows per stripe cross this
    // shuffle) into the global answer per query
    BoundedK.perKey(perStripe, kern.limit, kern.order)
      .flatMap { case (qid, hits) => ranked(qid, hits) }
      .toDF(OutCols: _*)
  }

  /** The group body both executor shapes share: one (query, stripe)'s
    * blocks regrouped per term, then the kernel over the stripe's doc
    * range. Every doc is scored in exactly one stripe with every term's
    * covering block present, so per-stripe answers merge into the global
    * one (the kernel's [minDoc, maxDoc] contract). */
  private def stripeHits(rows: Iterator[StripeBlock], kern: Kernel,
      avgdl: Double): Seq[Scored] = {
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
    if (kern.mode == And && byTerm.size < last.n_terms) Nil
    else {
      val tbs = byTerm.iterator.map { case (t, (idf, bs)) =>
        Wand.TermBlocks(t, idf, bs.sortBy(_.doc_id_base).toArray)
      }.toSeq
      val minDoc = last.stripe * last.stripe_w
      val maxDoc = if (last.stripe >= last.n_stripes - 1) Long.MaxValue
        else minDoc + last.stripe_w - 1
      kern.run(tbs, avgdl, minDoc, maxDoc)._1
    }
  }

  /** Count of conjunctive matches per query — the `(c:…)` match-count
    * analog (the reference's gin.c:1018-1023). The matches come from the
    * executor groups. One aggregate over the query ids (with a null
    * doc_id, so a zero-match query still emits its row: explicit
    * DEAD-fork rows) and the matches, so even a `count()` of the result
    * runs the matching. */
  def countMatches(spark: SparkSession, indexDir: String, queries: Seq[Query],
                   nBuckets: Int = 32): DataFrame = {
    import spark.implicits._
    val all = searchCandidatesExecutors(spark, indexDir, queries, nBuckets,
      ExecStripePostings)
    queries.map(_.query_id).toDF("query_id")
      .withColumn("doc_id", lit(null).cast("long"))
      .unionByName(all)
      .groupBy("query_id").agg(count(col("doc_id")).as("n_matches"))
  }

  /** All conjunctive (AND) matching (query_id, doc_id) pairs:
    * `Wand.matches` through the searchTopK dispatch rule, so a small
    * batch on a resident index starts no job and fills `lastStats`. */
  def searchCandidates(spark: SparkSession, indexDir: String,
                       queries: Seq[Query], nBuckets: Int = 32): DataFrame =
    matches(spark, plan(spark, indexDir, queries, And, nBuckets),
      queries.size, Long.MaxValue).select("query_id", "doc_id")

  /** searchCandidates on the executor path with a given stripe budget:
    * countMatches' path, and the striped shape's entry, as
    * searchTopKWandExecutors is for top-k. */
  private[graft] def searchCandidatesExecutors(spark: SparkSession,
      indexDir: String, queries: Seq[Query], nBuckets: Int,
      stripePostings: Long): DataFrame =
    executorTopK(spark, plan(spark, indexDir, queries, And, nBuckets),
      matchKernel(Long.MaxValue), stripePostings).select("query_id", "doc_id")

  /** The AND matches of a planned call as (query_id, rank, doc_id,
    * score), rank in doc-id order: per query the `limit` smallest
    * matching doc ids, each with its BM25 score. Phrase takes its
    * candidates from here, so its planner probes the dictionary once. */
  private[query] def matches(spark: SparkSession, p: Plan, nQueries: Int,
      limit: Long): DataFrame =
    dispatch(spark, p, nQueries, matchKernel(limit))

  /** Resolve top-k doc ids to (repo, path, commit) — the SA-range ->
    * (vid, offset) decode analog (/root/reference/src/gin_gin.c:817-863),
    * a broadcast join at small k. */
  def resolve(spark: SparkSession, indexDir: String, topk: DataFrame): DataFrame = {
    val meta = IndexHandle.open(spark, indexDir).docmeta
    topk.join(meta, Seq("doc_id"), "left")
      .select("query_id", "rank", "doc_id", "score", "repo", "path", "commit")
  }
}
