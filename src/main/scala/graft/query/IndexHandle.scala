package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.index.{Builder, PostingBlock, Stats}

/** An opened index — the analog of `gin query`'s load-index-into-memory
  * step (/root/reference/gin.c:844-927 reads the whole .gini/.ginc into
  * RAM before the query batch). Holds:
  *
  *  - collection stats (tiny),
  *  - the dictionary as a driver-side map (term -> df) when the
  *    vocabulary is small enough, else per-query pruned parquet probes —
  *    the depth-k cache analog (/root/reference/src/gin_gin.c:1021-1304):
  *    head entries resident, tail served from the index;
  *  - the posting-block table persisted in executor memory
  *    (MEMORY_AND_DISK — blocks stay columnar + compressed, ~4 B/posting)
  *    for the executor paths (batch top-k, candidates, phrase);
  *  - the same blocks on the driver, still compressed, as a map term ->
  *    blocks sorted by doc_id_base (`termBlocks`), loaded by one collect
  *    on the first driver top-k and only when the persisted postings fit
  *    1/8 of the driver's max heap (DriverBlocksHeapFraction, checked
  *    at open). Otherwise the driver path collects its terms' blocks
  *    per call.
  *
  * Handles are cached per (session, dir) so repeated Searcher calls hit
  * warm state; ingest and compaction drop the handle (and with it the
  * driver block map); `close()` unpersists.
  */
class IndexHandle private (
    val spark: SparkSession,
    val dir: String,
    fallbackBuckets: Int) {

  /** nBuckets from the index's own _META.json (self-describing). */
  val nBuckets: Int = Builder.metaBuckets(spark, dir, fallbackBuckets)

  // heal an interrupted Compactor postings swap / dictionary fold — but
  // only when the on-disk state actually shows one (a missing table or a
  // leftover swap directory). A purely read-only open of a healthy index
  // must issue NO repair renames: a reader racing an in-progress
  // Compactor swap should never interleave its own renames with the
  // writer's (local-FS interleavings happen to converge, but S3A-style
  // rename semantics may not).
  {
    import graft.util.Fs
    if (!Fs.exists(spark, s"$dir/postings") ||
        Fs.exists(spark, s"$dir/postings_compact") ||
        Fs.exists(spark, s"$dir/postings_old"))
      Builder.recoverPostings(spark, dir)
    if (!Fs.exists(spark, s"$dir/dictionary") ||
        Fs.exists(spark, s"$dir/dictionary_predelta"))
      Builder.recoverDictionary(spark, dir)
  }

  val stats: Stats = Builder.loadStats(spark, dir)

  /** Vocabulary cap for driver-resident dictionary (~tens of MB at 1e6). */
  private val DictCap = 2000000

  /** Streamed delta segments present? Fixed per handle life: ingest
    * invalidates the handle, so a fresh open re-checks. */
  private val hasDictDeltas: Boolean =
    graft.util.Fs.exists(spark, s"$dir/dict_deltas")

  /** Full dictionary map (merged base + deltas) if it fits, else None ->
    * pruned probes. One bounded read: at most DictCap + 1 rows reach the
    * driver, and one past the cap means the vocabulary does not fit. */
  val dictInMemory: Option[Map[String, Long]] = {
    import spark.implicits._
    val rows = Builder.dictionary(spark, dir).select("term", "df")
      .limit(DictCap + 1).as[(String, Long)].collect()
    if (rows.length <= DictCap) Some(rows.toMap) else None
  }

  /** Cap on postings bytes pinned in executor memory (configurable via
    * `graft.postings.persistCap`). Above it the handle serves blocks
    * from parquet with bucket + term pushdown — at petabyte scale only
    * the dictionary/stats are resident, exactly like the reference keeps
    * the cache resident but the FMI on disk when too large. */
  private val PersistCap: Long =
    spark.conf.getOption("graft.postings.persistCap")
      .map(_.toLong).getOrElse(8L << 30)

  val postingsBytes: Long = graft.util.Fs.dirBytes(spark, s"$dir/postings")
  val postingsResident: Boolean = postingsBytes <= PersistCap

  /** Posting blocks: persisted when they fit the cap, else a lazy
    * parquet scan (term/bucket filters push down to row groups). */
  val blocks: DataFrame = {
    val b = spark.read.parquet(s"$dir/postings")
      .select("term", "block_id", "doc_id_base", "doc_id_max", "num_docs",
        "max_tf", "min_dl", "doc_deltas", "tfs", "dls", "bucket")
    if (postingsResident) {
      val p = b.persist(StorageLevel.MEMORY_AND_DISK)
      p.count() // materialize
      p
    } else b
  }

  /** Share of the driver's max heap the driver block map may take. */
  private val DriverBlocksHeapFraction = 0.125

  /** JVM heap bytes of the driver block map per on-disk postings byte.
    * Measured with Spark's SizeEstimator on the map of a 3.5k-doc
    * code-like index (3,000 built docs plus two streamed batches, one of
    * them compacted; default Builder.Config): 2.59, i.e. 4.08 MB of map
    * for 1.58 MB of postings in 11,666 blocks of 9,000 terms. Per-block
    * object headers, term strings and three payload arrays make up the
    * excess, so the factor is rounded up. */
  private val DriverBytesPerPostingsByte = 3.0

  /** Whether the driver top-k path reads `driverBlocks`: the postings
    * are persisted and their estimated driver-map size is within the
    * bound. */
  val driverBlocksResident: Boolean = postingsResident &&
    postingsBytes.toDouble * DriverBytesPerPostingsByte <=
      DriverBlocksHeapFraction * Runtime.getRuntime.maxMemory

  /** Every block, still compressed, grouped by term and sorted by
    * doc_id_base: one collect on first use, so executor-only users
    * (large batches, QueryStream) never pay for it. */
  private lazy val driverBlocks: Map[String, Array[PostingBlock]] =
    collectByTerm(blocks)

  private def collectByTerm(df: DataFrame): Map[String, Array[PostingBlock]] = {
    import spark.implicits._
    df.select("term", "block_id", "doc_id_base", "doc_id_max", "num_docs",
        "max_tf", "min_dl", "doc_deltas", "tfs", "dls")
      .as[PostingBlock].collect()
      .groupBy(_.term).map { case (t, bs) => t -> bs.sortBy(_.doc_id_base) }
  }

  /** Compressed blocks of `terms`, sorted by doc_id_base per term (absent
    * term = absent key). Two tiers behind one call, like `dfOf`: a probe
    * of the driver block map when it is resident, else a collect of the
    * pruned `blocksFor(terms)` scan. */
  def termBlocks(terms: Seq[String]): Map[String, Array[PostingBlock]] =
    if (terms.isEmpty) Map.empty
    else if (driverBlocksResident)
      terms.flatMap(t => driverBlocks.get(t).map(t -> _)).toMap
    else collectByTerm(blocksFor(terms))

  /** docmeta projected to the resolve columns, persisted. */
  private var docmetaLoaded = false
  lazy val docmeta: DataFrame = {
    val m = spark.read.parquet(s"$dir/docmeta")
      .select("doc_id", "repo", "path", "commit")
      .persist(StorageLevel.MEMORY_AND_DISK)
    m.count()
    docmetaLoaded = true
    m
  }

  private[query] def release(): Unit = {
    if (postingsResident) blocks.unpersist()
    if (docmetaLoaded) docmeta.unpersist()
  }

  /** Per-term merged block [doc_id_base, doc_id_max] intervals (coarsened
    * to <= Searcher.MaxIvPerTerm by IntervalAgg), cached on the handle:
    * block metadata is index-static until ingest invalidates the handle,
    * so the AND block prune of searchCandidates/countMatches
    * (Searcher.pruneBlocks) pays its distributed interval aggregation
    * ONCE per term instead of once per query batch. Terms with no blocks
    * cache an empty array so they are never recomputed either. */
  private val intervalCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Long)]]()

  /** Cache entries are <= MaxIvPerTerm * 16 B each; at the cap the cache
    * is simply cleared (recompute is cheap and correct) so an adversarial
    * stream of distinct terms cannot grow driver memory unboundedly. */
  private val MaxCachedTerms = 65536

  /** Merged intervals for `terms`; absent/empty terms are omitted. */
  def intervalsFor(terms: Seq[String]): Map[String, Array[(Long, Long)]] = {
    import spark.implicits._
    if (intervalCache.size > MaxCachedTerms) intervalCache.clear()
    val missing = terms.distinct.filterNot(intervalCache.containsKey)
    if (missing.nonEmpty) {
      val ivAgg = new IntervalAgg(Searcher.MaxIvPerTerm)
      blocksFor(missing)
        .select(col("term"), col("doc_id_base"), col("doc_id_max"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(ivAgg.toColumn.name("iv"))
        .collect()
        .foreach { case (t, iv) => intervalCache.put(t, iv.toArray) }
      missing.filterNot(intervalCache.containsKey)
        .foreach(t => intervalCache.put(t, Array.empty))
    }
    terms.flatMap { t =>
      val iv = intervalCache.get(t)
      if (iv == null || iv.isEmpty) None else Some(t -> iv)
    }.toMap
  }

  /** Probe results for the non-resident dictionary path, cached like the
    * interval cache (absent terms store -1 so they never re-probe; the
    * handle is dropped on ingest, so staleness cannot outlive the index
    * state it was read from). */
  private val dfCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** df per term for the given terms (absent term = absent key). The
    * non-resident path probes the base dictionary AND any delta segments
    * with full bucket + term pushdown on each scan, then sums per term —
    * merge-on-read without losing the pruned parquet probe. */
  def dfOf(terms: Seq[String]): Map[String, Long] = dictInMemory match {
    case Some(m) => terms.flatMap(t => m.get(t).map(t -> _)).toMap
    case None =>
      import spark.implicits._
      if (terms.isEmpty) return Map.empty
      if (dfCache.size > MaxCachedTerms) dfCache.clear()
      val missing = terms.distinct.filterNot(dfCache.containsKey)
      if (missing.nonEmpty) {
        def probe(path: String): Seq[(String, Long)] =
          spark.read.parquet(path)
            .filter(Builder.bucketProbe("term", missing, nBuckets))
            .select("term", "df").as[(String, Long)].collect().toSeq
        val rows = probe(s"$dir/dictionary") ++
          (if (hasDictDeltas) probe(s"$dir/dict_deltas") else Nil)
        rows.groupBy(_._1).foreach { case (t, rs) =>
          dfCache.put(t, rs.map(_._2).sum)
        }
        missing.filterNot(dfCache.containsKey)
          .foreach(t => dfCache.put(t, -1L))
      }
      terms.flatMap { t =>
        val v = dfCache.get(t)
        if (v == null || v < 0) None else Some(t -> v.longValue)
      }.toMap
  }

  /** Blocks restricted to the given terms. Resident: a filter over the
    * in-memory table. Non-resident: bucket directory pruning + term
    * predicate pushdown reach the parquet scan, so only the row groups
    * that can contain these terms are read. */
  def blocksFor(terms: Seq[String]): DataFrame =
    if (terms.isEmpty) blocks.filter(lit(false))
    else if (postingsResident) blocks.filter(col("term").isin(terms: _*))
    else blocks.filter(Builder.bucketProbe("term", terms, nBuckets))

  def close(): Unit = {
    release()
    IndexHandle.evict(spark, dir)
  }
}

object IndexHandle {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), IndexHandle]()

  def open(spark: SparkSession, dir: String, nBuckets: Int = 32): IndexHandle =
    cache.computeIfAbsent((spark.sparkContext.applicationId, dir),
      _ => new IndexHandle(spark, dir, nBuckets))

  private[query] def evict(spark: SparkSession, dir: String): Unit =
    cache.remove((spark.sparkContext.applicationId, dir))

  /** Drop the cached handle for `dir` (e.g. after incremental ingest
    * appended segments); the next open() sees the new index state. */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val h = cache.remove((spark.sparkContext.applicationId, dir))
    if (h != null) h.release()
  }
}
