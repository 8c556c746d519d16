package graft.streaming

import org.apache.spark.sql.SparkSession
import graft.index.Builder
import graft.query.IndexHandle
import graft.util.Fs

/** Segment compaction — folds the per-micro-batch stream segments
  * (`postings/segment=s<batchId>`) back into the canonical `nSegments`
  * bucket-group segments the batch builder writes, so read-side merge
  * cost stays O(nSegments) instead of growing with ingest age. The
  * reference analog is the IMT pre-merge of per-node interval lists
  * (/root/reference/src/gin_interval_merge_tree.c:261-302): pay once at
  * (re)build, serve merged forever after.
  *
  * Rebuilds each segment from postings_raw (which idempotent ingest keeps
  * complete), writes to `postings_compact`, then atomically swaps the
  * directories. A compacted index is logically equal (Builder.indexEqual)
  * to a from-scratch batch build over the same documents.
  */
object Compactor {

  /** Fold streamed dict_deltas/ segments into the base dictionary, so
    * merge-on-read cost resets to a single-table scan. Crash-safe: the
    * folded table is fully written to `dictionary_compact` BEFORE any
    * rename, then base -> dictionary_predelta (backup) -> promote ->
    * drop deltas + backup; Builder.recoverDictionary heals every
    * intermediate state (predelta present alongside dictionary = swap
    * done, deltas must be dropped, never re-applied). */
  def foldDictionary(spark: SparkSession, indexDir: String,
                     nBuckets: Int, nPart: Int): Unit = {
    Builder.recoverDictionary(spark, indexDir)
    // an unfinished ingest batch (_BASE_b* present without its commit
    // marker) may already have promoted this batch's dict_deltas; folding
    // them into the base NOW would double-count df/cf when the stream
    // retries the batch and re-promotes the same delta. Refuse until the
    // batch either commits (marker written, _BASE deleted) or is retried.
    if (Fs.list(spark, indexDir).exists(_.getName.startsWith("_BASE_b")))
      return
    if (!Fs.exists(spark, s"$indexDir/dict_deltas")) return
    Builder.writeDictionary(Builder.dictionary(spark, indexDir), nBuckets,
      nPart, s"$indexDir/dictionary_compact")
    // CHECKED renames: a silently failed promote followed by the delete
    // below would drop the streamed delta counts without the base ever
    // absorbing them (permanent df/cf corruption). Failing loudly leaves
    // dict_deltas intact for the next fold attempt.
    Fs.renameChecked(spark, s"$indexDir/dictionary",
      s"$indexDir/dictionary_predelta")
    // the promote tolerates a concurrent recoverDictionary having
    // completed it first (reader heal racing this writer between the two
    // renames) — same treatment as the postings swap below
    Fs.renameOrHealed(spark, s"$indexDir/dictionary_compact",
      s"$indexDir/dictionary")
    Fs.delete(spark, s"$indexDir/dict_deltas")
    Fs.delete(spark, s"$indexDir/dictionary_predelta")
  }

  /** Size-tiered auto-compaction policy — the trigger the reference never
    * needs (it pays merge cost once at build,
    * /root/reference/src/gin_interval_merge_tree.c:261-302) but a
    * long-lived ingest does: without one, `postings/segment=s<batchId>`
    * dirs grow one per micro-batch until a human remembers to call
    * `compact`. Fires when EITHER
    *  - stream segment COUNT reaches `maxStreamSegments` (caps read-side
    *    merge fan-in and small-file pressure regardless of sizes), or
    *  - stream segment BYTES reach `minStreamFraction` of the base
    *    segments' bytes (the size-tiered condition: a full rewrite costs
    *    O(base + stream), so it only runs once the streamed tier is worth
    *    that rewrite — amortized O(log) rewrites per ingested byte, the
    *    standard LSM top-tier policy; at a 100 TB base, thousands of
    *    small batches accumulate before one compaction pays off).
    * Returns true if it compacted. Invoked per committed ingest batch
    * (IncrementalIndexer.ingestBatch autoCompact). */
  def maybeCompact(spark: SparkSession, indexDir: String,
                   callerConf: Builder.Config = Builder.Config(),
                   maxStreamSegments: Int = 64,
                   minStreamFraction: Double = 0.10): Boolean = {
    val segs = Fs.list(spark, s"$indexDir/postings")
      .filter(_.getName.startsWith("segment=s"))
    if (segs.isEmpty) return false
    val streamBytes = segs.map(p => Fs.dirBytes(spark, p.toString)).sum
    val baseBytes =
      math.max(1L, Fs.dirBytes(spark, s"$indexDir/postings") - streamBytes)
    val due = segs.size >= maxStreamSegments ||
      streamBytes >= minStreamFraction * baseBytes
    if (due) compact(spark, indexDir, callerConf)
    due
  }

  def compact(spark: SparkSession, indexDir: String,
              callerConf: Builder.Config = Builder.Config()): Unit = {
    Builder.recoverPostings(spark, indexDir) // heal a prior interrupted swap
    // layout params come from the index itself (_META.json), NOT the
    // caller: rewriting segments with a mismatched nBuckets would recompute
    // bucket values readers no longer find (silently missing results)
    val conf = Builder.indexLayout(spark, indexDir, callerConf)
    val stats = Builder.loadStats(spark, indexDir)
    val nPart = Builder.partitionCount(spark, conf.shufflePartitions)
    // fold dictionary deltas FIRST: encodeSegment's head-term (salting)
    // probe below reads the base dictionary and must see full df values
    foldDictionary(spark, indexDir, conf.nBuckets, nPart)
    val tmpDir = s"$indexDir/postings_compact"
    Fs.delete(spark, tmpDir)

    for (g <- 0 until conf.nSegments)
      Builder.encodeSegment(spark, s"$indexDir/dictionary",
        s"$indexDir/postings_raw", s"$tmpDir/segment=$g", g, conf,
        stats.n_docs, stats.avgdl, nPart)

    // crash-safe swap: postings_compact is complete here, so every
    // intermediate state is recoverable by Builder.recoverPostings
    // (postings missing + compact present -> promote; + old present ->
    // roll back). The reference's analog is the atomic single-blob index
    // rewrite (/root/reference/gin.c:375-398).
    Fs.delete(spark, s"$indexDir/postings_old")
    Fs.renameChecked(spark, s"$indexDir/postings", s"$indexDir/postings_old")
    // the promote tolerates a concurrent recoverPostings having completed
    // it first (reader heal racing this writer between the two renames)
    Fs.renameOrHealed(spark, tmpDir, s"$indexDir/postings")
    Fs.delete(spark, s"$indexDir/postings_old")
    Fs.write(spark, s"$indexDir/_COMMIT_compact", s"""{"nSegments":${conf.nSegments}}""")
    IndexHandle.invalidate(spark, indexDir)
  }
}
