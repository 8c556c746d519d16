package graft.query

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.Builder
import graft.util.Fs

/** Head result cache — the depth-k cache analog
  * (/root/reference/src/gin_gin.c:887-1304 precomputes the SA forks of
  * every string up to depth k so queries bootstrap past their suffix).
  *
  * One table holds the exact top-K of every key, a key being the sorted
  * tuple of a query's distinct terms:
  *  - depth 1: every HEAD term (df >= minDf). Head terms are exactly the
  *    expensive ones (longest posting lists), so the worst-case
  *    single-term latency becomes a map lookup;
  *  - depth 2: every pair of the `pairTerms` most frequent terms;
  *  - depth 3: every triple of the `tripleTerms` most frequent terms —
  *    the practical depth limit for a term vocabulary (entry count is
  *    C(n, depth)). The reference caches every string up to depth ~12
  *    over its small alphabet (README.md:250-251) for the same reason:
  *    frequent multi-term prefixes are the expensive real-world queries.
  * Depth-2/3 entries hold conjunctive (AND) rankings; a depth-1 entry
  * answers both modes.
  *
  * Entries are computed by the serving kernel itself — executor BMW
  * (Searcher.searchTopKUncached) in `BuildBatch`-query batches, never
  * answered from the cache being rebuilt — so a cached answer is the
  * live answer by construction, and the driver never collects postings.
  *
  * Layout: `indexDir/topk_cache/` (terms, rank, doc_id, score) with a
  * `_COMMIT_topk_cache` marker carrying (minDf, pairTerms, tripleTerms,
  * k, rows) — `rows` is counted at build time so load's size guard never
  * runs a count job. Per-depth `head_cache*` tables written by older
  * builds have another layout and are never opened.
  */
object HeadCache {

  /** Sanity bound on cache entries a driver will pin: the build knobs
    * (minDf, pairTerms, tripleTerms) already bound the table, but nothing
    * stopped a corrupted/mis-built cache from collecting an unbounded
    * table into driver memory at load time. Oversized caches are SKIPPED
    * (queries fall back to live search — correct, just not cached). */
  val MaxCacheRows = 5000000L

  /** Keys per kernel call while building: bounds each job's block
    * fan-out and broadcast query table, so pairTerms/tripleTerms can
    * rise without a single unbounded stage. */
  val BuildBatch = 1024

  /** Loaded cache: sorted term tuple -> ranked hits, and the K built. */
  type Table = (Map[Seq[String], Seq[Scored]], Int)

  private def tableDir(indexDir: String) = s"$indexDir/topk_cache"
  private def marker(indexDir: String) = s"$indexDir/_COMMIT_topk_cache"

  /** Load-time size pre-filter: skip the read entirely when the count
    * the build stamped into the commit marker is already over budget.
    * This is an OPTIMIZATION only — the hard guard is boundedCollect,
    * which caps what actually reaches the driver even when the parquet
    * contents diverge from the stamp (partial restore, external copy,
    * marker without a stamp). */
  private def sizeOk(meta: String): Boolean =
    """"rows":(\d+)""".r.findFirstMatchIn(meta).map(_.group(1).toLong)
      .forall(_ <= MaxCacheRows)

  /** Collect at most MaxCacheRows + 1 rows (limit pushdown — the scan
    * stops there, no count job); None when the cap is exceeded, i.e. the
    * on-disk cache does not fit the driver budget and must be skipped.
    * This bound holds regardless of what any marker claims. */
  private def boundedCollect[T](ds: org.apache.spark.sql.Dataset[T]): Option[Array[T]] = {
    val rows = ds.limit(MaxCacheRows.toInt + 1).collect()
    if (rows.length > MaxCacheRows) None else Some(rows)
  }

  /** (Re)build the cache: depth-1 keys for terms with df >= minDf,
    * depth-2/3 keys for the pairs/triples of the `pairTerms`/`tripleTerms`
    * highest-df terms (0 = none), each with its exact top-k. */
  def build(spark: SparkSession, indexDir: String, minDf: Long, k: Int,
            pairTerms: Int = 0, tripleTerms: Int = 0,
            nBuckets: Int = 32): Unit = {
    import spark.implicits._
    // marker FIRST: a crash mid-rebuild must leave NO valid-looking
    // marker over a missing or partial table (readers would silently
    // serve truncated top-k)
    invalidate(spark, indexDir)
    val dict = Builder.dictionary(spark, indexDir)
    val heads = dict.filter(col("df") >= minDf)
      .select("term").as[String].collect().sorted.toSeq
    val top = dict.orderBy(col("df").desc, col("term"))
      .select("term").as[String].take(math.max(pairTerms, tripleTerms)).toSeq
    val keys: Seq[Seq[String]] = heads.map(Seq(_)) ++
      top.take(pairTerms).sorted.combinations(2) ++
      top.take(tripleTerms).sorted.combinations(3)
    val out = tableDir(indexDir)
    keys.grouped(BuildBatch).foreach { batch =>
      val ids = batch.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      Searcher.searchTopKUncached(spark, indexDir,
          ids.map { case (i, ts) => Searcher.Query(i, ts.mkString(" ")) },
          k, nBuckets)
        .join(broadcast(ids.toDF("query_id", "terms")), "query_id")
        .select("terms", "rank", "doc_id", "score")
        .coalesce(4)
        .write.mode(SaveMode.Append).parquet(out)
    }
    if (keys.isEmpty)
      Seq.empty[(Seq[String], Int, Long, Double)]
        .toDF("terms", "rank", "doc_id", "score").write.parquet(out)
    Fs.write(spark, marker(indexDir),
      s"""{"minDf":$minDf,"pairTerms":$pairTerms,"tripleTerms":$tripleTerms,""" +
        s""""k":$k,"rows":${spark.read.parquet(out).count()}}""")
    IndexHandle.invalidate(spark, indexDir)
  }

  /** Cache entries loaded by an IndexHandle; empty with K 0 when absent,
    * half-written or over MaxCacheRows. */
  def load(spark: SparkSession, indexDir: String): Table = {
    import spark.implicits._
    if (!Fs.exists(spark, marker(indexDir)) ||
        !Fs.exists(spark, tableDir(indexDir))) return (Map.empty, 0)
    val meta = Fs.read(spark, marker(indexDir))
    if (!sizeOk(meta)) return (Map.empty, 0)
    val k = """"k":(\d+)""".r.findFirstMatchIn(meta).map(_.group(1).toInt).getOrElse(0)
    boundedCollect(spark.read.parquet(tableDir(indexDir))
      .select("terms", "rank", "doc_id", "score")
      .as[(Seq[String], Int, Long, Double)]) match {
      case None => (Map.empty, 0)
      case Some(rows) =>
        (rows.groupBy(_._1).map { case (ts, rs) =>
          ts -> rs.sortBy(_._2).map(r => Scored(r._3, r._4)).toSeq
        }, k)
    }
  }

  /** The cached ranking for a live query's present terms — one map
    * lookup. Multi-term entries are conjunctive, so an OR query is served
    * only when a single term is present (OR and AND agree there). */
  def lookup(cache: Table, terms: Seq[String], k: Int,
             mode: Searcher.Mode): Option[Seq[Scored]] =
    if (k > cache._2 || (mode == Searcher.Or && terms.size > 1)) None
    else cache._1.get(terms.sorted)

  /** Drop the cache (incremental ingest invalidation: stale cached
    * results must not shadow newly ingested documents). */
  def invalidate(spark: SparkSession, indexDir: String): Unit = {
    Fs.delete(spark, marker(indexDir))
    Fs.delete(spark, tableDir(indexDir))
  }
}
