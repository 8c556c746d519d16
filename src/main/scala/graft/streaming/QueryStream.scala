package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.corpus.Queries
import graft.query.Searcher
import graft.util.Fs

/** Streaming query serving — the Spark-native form of the reference's
  * interactive query loop (`gin query find` reads one query per line
  * until the `exit();` sentinel, /root/reference/README.md:198-210,
  * gin.c query REPL): queries arrive as text files in a watched
  * directory, each micro-batch is answered with the SAME dispatcher as
  * the batch path (driver WAND for small batches, executor WAND for
  * large batches or posting volumes), and results land as one parquet
  * directory per batch.
  *
  * Idempotency: foreachBatch replays a batch with the same batchId after
  * a crash; the per-batch result directory is written with
  * mode=Overwrite, so a retry replaces its own partial output instead of
  * appending duplicates (same discipline as IncrementalIndexer's staged
  * batch-prefixed promotes).
  *
  * Query ids must be stable under replay and independent of file-listing
  * order, so they are assigned by sorting the batch's query texts:
  * id = batchId * IdStride + 1-based position. Results therefore join
  * back to their text via the emitted `text` column, not arrival order.
  *
  * The sentinel line ends the stream: the batch that contains it answers
  * every query in that batch (sentinel lines themselves are dropped) and
  * writes an `_EXIT` marker; `awaitSentinel` then stops the stream. This
  * keeps the reference's file/REPL contract while staying a normal
  * Structured Streaming job — on a real cluster the same code serves a
  * continuously-fed query directory.
  */
object QueryStream {

  /** Id namespace per micro-batch (bounds queries per batch). */
  val IdStride = 1000000L

  /** Hard cap on query LINES collected per micro-batch:
    * maxFilesPerTrigger bounds files, not lines, so one huge file must
    * fail loudly (limit pushdown keeps the driver from materializing it)
    * instead of OOMing the driver. */
  val MaxBatchLines = 100000

  /** Start serving: watch `queryDir` for text files (one query per
    * line), write per-batch results under `outDir/results/batch_id=N`
    * as (query_id, text, rank, doc_id, score). */
  def serve(spark: SparkSession, indexDir: String, queryDir: String,
            outDir: String, k: Int = 10,
            mode: Searcher.Mode = Searcher.And,
            nBuckets: Int = 32,
            maxFilesPerTrigger: Int = 16): StreamingQuery = {
    import spark.implicits._
    // a stale _EXIT from a previous COMPLETED session would make
    // awaitSentinel stop this one before any new file is processed — and
    // the retained checkpoint would skip every already-consumed query
    // file (including the sentinel), leaving the new session hung until
    // its timeout. A present _EXIT marks a finished session, so reusing
    // its out-dir means "re-execute the session over the directories as
    // they now stand": drop the checkpoint AND the old results tree with
    // the marker (the new session's batching need not reproduce the old
    // one, so per-batch Overwrite alone cannot be trusted to replace
    // every stale batch_id directory). Note the sentinel protocol's
    // consequence: a sentinel file still in queryDir is replayed, so the
    // restarted session answers the files present when it reaches that
    // sentinel and then ends — exactly the reference's "everything up to
    // exit();" file-REPL contract. A MISSING _EXIT with a live
    // checkpoint is a crashed session — keep both so the stream resumes
    // exactly where it died with its earlier batches' results intact.
    // deletion ORDER matters: _EXIT goes LAST. A crash mid-cleanup after
    // removing _EXIT but before the checkpoint would leave a live
    // checkpoint with no marker — the next serve() would misread that as
    // a crashed session, resume the fully-consumed checkpoint, never see
    // the sentinel again, and hang until timeout. Deleting the
    // checkpoint/results first keeps every partial state re-enterable:
    // _EXIT still present -> this branch runs again and finishes the job.
    if (Fs.exists(spark, s"$outDir/_EXIT")) {
      Fs.delete(spark, s"$outDir/_checkpoint")
      Fs.delete(spark, s"$outDir/results")
      Fs.delete(spark, s"$outDir/_EXIT")
    }
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(queryDir)
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        serveBatch(batch.sparkSession, batch, indexDir, outDir, batchId,
          k, mode, nBuckets)
      }
      .start()
  }

  /** Answer one micro-batch of query lines (also usable directly). */
  def serveBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                 outDir: String, batchId: Long, k: Int,
                 mode: Searcher.Mode, nBuckets: Int): Unit = {
    import spark.implicits._
    // a query batch is small by convention (human/generated query
    // lines); the MaxBatchLines-limited collect makes that a checked
    // invariant instead of a driver-OOM hazard — the search itself runs
    // distributed
    val collected = batch.select(col("value")).as[String]
      .limit(MaxBatchLines + 1).collect()
    require(collected.length <= MaxBatchLines,
      s"micro-batch exceeds $MaxBatchLines query lines; split the input " +
        "files or lower maxFilesPerTrigger")
    val lines = collected.map(_.trim).filter(_.nonEmpty)
    val sawSentinel = lines.contains(Queries.Sentinel)
    // duplicates are KEPT (each line is answered, like the reference
    // REPL); the sort alone makes ids replay-stable, duplicate texts
    // just occupy adjacent ids
    val qs = lines.filter(_ != Queries.Sentinel).sorted.zipWithIndex
      .map { case (text, i) =>
        Searcher.Query(batchId * IdStride + i + 1L, text)
      }.toSeq
    if (qs.nonEmpty) {
      val texts = qs.map(q => q.query_id -> q.text).toDF("query_id", "text")
      Searcher.searchTopK(spark, indexDir, qs, k, mode, nBuckets)
        .join(broadcast(texts), "query_id")
        .select("query_id", "text", "rank", "doc_id", "score")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/results/batch_id=$batchId")
    }
    if (sawSentinel) Fs.write(spark, s"$outDir/_EXIT", batchId.toString)
  }

  /** Block until the sentinel batch has been processed (or `timeoutMs`
    * elapses), then stop the stream. Returns true if the sentinel was
    * seen; a FAILED stream rethrows its exception instead of masquerading
    * as a timeout. */
  def awaitSentinel(spark: SparkSession, q: StreamingQuery, outDir: String,
                    timeoutMs: Long = 120000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var seen = Fs.exists(spark, s"$outDir/_EXIT")
    while (!seen && System.nanoTime() < deadline && q.isActive) {
      q.processAllAvailable()
      seen = Fs.exists(spark, s"$outDir/_EXIT")
      if (!seen) Thread.sleep(50)
    }
    val failure = q.exception
    q.stop()
    failure.foreach(throw _) // a crashed serve must not exit as success
    seen
  }

  /** Result schema (batch_id is the partition column). Declared
    * explicitly so an empty or missing results directory — a session
    * whose only input was the sentinel — reads as an empty frame of the
    * same shape instead of failing schema inference. */
  private val ResultsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "query_id BIGINT, text STRING, rank INT, doc_id BIGINT, " +
      "score DOUBLE, batch_id BIGINT")

  /** All results so far as one DataFrame (partition-discovered
    * batch_id). */
  def results(spark: SparkSession, outDir: String): DataFrame =
    if (!Fs.exists(spark, s"$outDir/results"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ResultsSchema)
    else
      spark.read.option("basePath", s"$outDir/results")
        .schema(ResultsSchema)
        .parquet(s"$outDir/results")
}
