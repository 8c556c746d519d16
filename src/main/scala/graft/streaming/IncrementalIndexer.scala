package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.Builder
import graft.query.IndexHandle
import graft.util.Fs

/** Incremental index ingest via Structured Streaming.
  *
  * The reference is strictly batch (SURVEY §2.5: no streaming surface);
  * this is the continuous-ingest extension its segment architecture
  * makes natural: each micro-batch of new documents becomes ONE new
  * committed index segment (Lucene-style soft commit), appended to
  * docmeta / corpus_ids / postings_raw, with dictionary and stats
  * refreshed. Doc ids continue from the current count, so new segments'
  * doc ranges sit strictly above all existing blocks and the per-term
  * disjoint-sorted block invariant (WAND skips) is preserved by
  * construction. Block-max metadata is (max_tf, min_dl), which
  * upper-bounds scores for ANY avgdl, so stats drift across batches
  * cannot break pruning exactness.
  *
  * Idempotency: EVERY append (corpus_ids, docmeta, postings_raw,
  * positions, trigrams, dict_deltas) is staged then promoted with
  * batch-prefixed filenames (Fs.promoteStaged deletes this batch's files
  * before moving), and every step is re-runnable — a foreachBatch retry
  * after ANY partial failure converges to the same state. Per-batch cost
  * is O(batch): the dictionary is an append-only delta segment merged on
  * read (Builder.dictionary) and folded by the Compactor, never a
  * per-batch O(vocabulary) rewrite.
  *
  * Every row a batch writes comes from the build's own stage functions
  * (Builder.snapshotRows, postingsOf, dictionaryOf, writeBlocks, ...), so
  * stream segments are encoded exactly like built ones. Only what is
  * ingest's own lives here: the doc-id base marker, staging and promote,
  * the commit marker and auto-compaction. Every ingest drops the cached
  * query handle, so no reader keeps serving the pre-batch blocks.
  */
object IncrementalIndexer {

  /** Start a streaming ingest into `indexDir`. `corpusStream` must be a
    * streaming DataFrame with (repo, path, commit, lang, content). */
  def start(corpusStream: DataFrame, indexDir: String, conf: Builder.Config,
            checkpoint: String, autoCompact: Boolean = true): StreamingQuery =
    corpusStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch.sparkSession, batch, indexDir, conf, batchId,
          autoCompact)
      }
      .start()

  /** Ingest one micro-batch (also usable directly for batch deltas).
    * `autoCompact` (default ON, matching the reference's budgets-on
    * defaults) runs the size-tiered Compactor policy after the batch
    * commits — see Compactor.maybeCompact for the trigger conditions. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                  conf: Builder.Config, batchId: Long,
                  autoCompact: Boolean = true): Unit = {
    val marker = s"$indexDir/_COMMIT_stream_batch_$batchId"
    if (Fs.exists(spark, marker)) {
      // the batch committed but a crash between the marker write and the
      // base-marker cleanup left _BASE_b<id> behind: clear it here, or
      // Compactor.foldDictionary (which refuses to run while an
      // unfinished-batch marker exists) would be blocked forever
      Fs.delete(spark, s"$indexDir/_BASE_b$batchId")
      return
    }
    Builder.recoverDictionary(spark, indexDir) // heal an interrupted fold
    if (batch.isEmpty) {
      Fs.write(spark, marker, "{}")
      return
    }

    // bootstrap: first data ever -> plain batch build
    if (!Fs.exists(spark, s"$indexDir/_COMMIT_index")) {
      Builder.build(spark, batch, indexDir, conf)
      Fs.write(spark, marker, """{"bootstrap":true}""")
      IndexHandle.invalidate(spark, indexDir)
      return
    }

    // appends follow the INDEX's layout (_META.json), not the caller's
    val c = Builder.indexLayout(spark, indexDir, conf)
    val nPart = Builder.partitionCount(spark, c.shufflePartitions)
    // the doc-id base is pinned in a per-batch marker BEFORE any append:
    // a retry after a partial failure must reuse the original base (stats
    // may already reflect this batch's docmeta append), or ids would
    // shift between attempts and the promoted files would disagree
    val baseMarker = s"$indexDir/_BASE_b$batchId"
    val base =
      if (Fs.exists(spark, baseMarker)) Fs.read(spark, baseMarker).trim.toLong
      else {
        val b = Builder.loadStats(spark, indexDir).n_docs
        Fs.write(spark, baseMarker, b.toString)
        b
      }
    val staging = s"$indexDir/_staging_b$batchId"
    // staged append -> promote under batch-prefixed filenames (idempotent)
    def promote(table: String): Unit =
      Fs.promoteStaged(spark, s"$staging/$table", s"$indexDir/$table",
        s"b${batchId}_")

    // ids continue above every existing doc id; the build's snapshot rows
    val withIds = Builder.snapshotRows(Builder.withDocIds(batch, nPart)
        .withColumn("doc_id", col("doc_id") + base))
      .toDF()
      .cache()

    withIds.write.mode(SaveMode.Overwrite).parquet(s"$staging/corpus_ids")
    promote("corpus_ids")
    Builder.docmetaOf(withIds)
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/docmeta")
    promote("docmeta")

    val nDocsBatch = withIds.count()

    // stats refresh (reads docmeta, writes stats: derived, idempotent)
    Builder.statsOf(spark.read.parquet(s"$indexDir/docmeta"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$indexDir/stats")

    // delta postings -> staged raw append + one new block segment
    val raw = Builder.postingsOf(withIds, c.nBuckets).cache()
    Builder.clusterForBucketWrite(raw, c.nBuckets, nPart)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"$staging/postings_raw")
    promote("postings_raw")

    // unsalted: the batch's ids sit above every existing block
    Builder.writeBlocks(raw.withColumn("salt", lit(0)), c.blockSize,
      c.nBuckets, nPart, s"$indexDir/postings/segment=s$batchId")

    // positions/trigrams appends: an index bootstrapped WITH these tables
    // must keep serving exact phrase/substring results over streamed docs
    // — the commit markers promise readers a complete view, so every
    // ingest appends to them too (same staged batch-prefixed promote)
    for ((table, rowsOf) <- Seq("positions" -> Builder.positionsOf _,
                                "trigrams" -> Builder.trigramsOf _)
         if Fs.exists(spark, s"$indexDir/_COMMIT_$table")) {
      rowsOf(withIds, c.nBuckets, nPart)
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(s"$staging/$table")
      promote(table)
    }

    // dictionary delta SEGMENT: an append-only (term, df, cf) parquet
    // under dict_deltas/, merged on read (Builder.dictionary) and folded
    // into the base by the Compactor. Per-batch cost is O(batch) — the
    // r2 full-dictionary rewrite was O(vocabulary) per micro-batch, a
    // guaranteed ingest bottleneck at a 1e8-term vocabulary. The staged
    // batch-prefixed promote makes retries idempotent with no undo log.
    Builder.writeDictionary(Builder.dictionaryOf(raw, c.nBuckets),
      c.nBuckets, nPart, s"$staging/dict_deltas")
    promote("dict_deltas")

    raw.unpersist()
    withIds.unpersist()
    Fs.write(spark, marker, s"""{"docs":$nDocsBatch,"base":$base}""")
    Fs.delete(spark, baseMarker)
    IndexHandle.invalidate(spark, indexDir)
    // size-tiered auto-compaction AFTER the commit marker: the batch is
    // durable either way, and compact() itself is crash-safe (swap +
    // recoverPostings). Runs at most here, never mid-batch, so the fold
    // refusal on _BASE_b markers cannot fire against our own batch.
    if (autoCompact) Compactor.maybeCompact(spark, indexDir, conf)
  }

}
