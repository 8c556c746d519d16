package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact substring (cross-token) search — the closest Spark analog of the
  * reference's FM-index backward search (`gin query find` matches
  * arbitrary 16-4096 char strings, /root/reference/src/gin_gin.c:672-723).
  *
  * Two phases, the classic trigram-index design (also how PostgreSQL
  * pg_trgm and Google Code Search work):
  *   1. candidates: docs containing ALL distinct character trigrams of
  *      the pattern — an AND over the `trigrams/` table (bucket + gram
  *      pushdown, counting semi-join; same shape as term intersection);
  *   2. verify: a per-candidate content scan evaluated over ONLY the
  *      candidate docs' content (a semi-joined scan, never the corpus).
  *
  * The result is EXACT for any pattern >= 3 chars (trigram pruning has no
  * false negatives). Match semantics mirror the reference's suffix-array
  * decode (/root/reference/src/gin_gin.c:817-885): occurrences are
  * counted OVERLAPPING (pattern `aa` occurs twice in `aaa` — sa_hi-sa_lo
  * counts every suffix match) and offsets are 0-based. `find` returns the
  * per-doc count + first offset (the `(c:…)`/first-`(v:…,o:…)` summary,
  * gin.c:1018-1072); `findOffsets` decodes EVERY (doc, offset) pair (the
  * full match decode, README.md:267-416).
  *
  * Guardrails for the 100 TB deployment:
  *  - `maxMatches` caps the rows returned per query (lowest (doc_id[,
  *    offset]) kept — deterministic), the reference's --max-matches
  *    (/root/reference/gin.c:723-730);
  *  - patterns shorter than 3 chars cannot use the trigram index; they
  *    are REJECTED unless `allowShortScan = true`, because the fallback
  *    is a full corpus content scan — at petabyte scale that cost must
  *    be an explicit caller decision, never a default.
  */
object Substring {

  /** Max distinct trigrams probed per pattern (see candidateDocs). */
  val MaxGramsPerQuery = 16

  /** Candidate (query_id, doc_id, content, pat) rows: trigram-index AND
    * for patterns >= 3 chars, explicit-opt-in corpus scan for shorter
    * ones. Shared by `find` and `findOffsets`. */
  private def candidateDocs(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, String)], nBuckets: Int,
      allowShortScan: Boolean): DataFrame = {
    import spark.implicits._
    require(graft.util.Fs.exists(spark, s"$indexDir/_COMMIT_trigrams"),
      s"index at $indexDir was built without storeTrigrams=true")
    // bucket layout comes from the index itself, not the caller: a
    // mismatched nBuckets computes wrong bucket ids -> silent false
    // negatives
    val buckets = graft.index.Builder.metaBuckets(spark, indexDir, nBuckets)
    require(queries.forall(_._2.nonEmpty), "empty substring pattern")
    val (indexed, short) = queries.partition(_._2.length >= 3)
    require(short.isEmpty || allowShortScan,
      s"patterns shorter than 3 chars (${short.map(_._2).mkString(", ")}) " +
        "require a full corpus scan; pass allowShortScan=true to accept " +
        "that cost explicitly")

    val corpus = spark.read.parquet(s"$indexDir/corpus_ids")
      .select("doc_id", "content")

    val viaIndex: Option[DataFrame] = if (indexed.isEmpty) None else {
      val qg = indexed.flatMap { case (qid, pat) =>
        val all = pat.sliding(3).toSeq.distinct
        // long patterns: probing EVERY gram scans index rows proportional
        // to pattern length for no extra pruning — any SUBSET of the
        // AND-conditions is still exact (superset of candidates, the
        // content verify stays the filter of record), so cap the probe
        // at MaxGramsPerQuery evenly spaced grams (the Google Code
        // Search / pg_trgm query-planning trick)
        val grams =
          if (all.size <= MaxGramsPerQuery) all
          else {
            val step = all.size.toDouble / MaxGramsPerQuery
            (0 until MaxGramsPerQuery).map(i => all((i * step).toInt)).distinct
          }
        grams.map(g => (qid, g, grams.size))
      }
      val grams = qg.map(_._2).distinct
      val tri = spark.read.parquet(s"$indexDir/trigrams")
        .filter(graft.index.Builder.bucketProbe("gram", grams, buckets))
        .select("gram", "doc_id")
      val cand = tri.join(broadcast(qg.toDF("query_id", "gram", "n_grams")), "gram")
        .groupBy("query_id", "doc_id")
        .agg(count(lit(1)).as("hit"), first("n_grams").as("n_grams"))
        .filter(col("hit") === col("n_grams"))
        .select("query_id", "doc_id")
      Some(cand
        .join(corpus, "doc_id")
        .join(broadcast(indexed.toDF("query_id", "pat")), "query_id"))
    }
    val viaScan: Option[DataFrame] = if (short.isEmpty) None else {
      // sub-trigram patterns: verify scan (explicitly opted into); a
      // null-content doc holds no substring (and has no trigrams either)
      Some(corpus.filter(col("content").isNotNull)
        .crossJoin(broadcast(short.toDF("query_id", "pat"))))
    }
    (viaIndex, viaScan) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        Seq.empty[(Long, Long, String, String)]
          .toDF("query_id", "doc_id", "content", "pat")
    }
  }

  /** All 0-based CODE-POINT offsets of `pat` in `content`, stepping by 1
    * so overlapping occurrences all count — exactly the suffix-array
    * occurrence set the reference decodes (sa_hi - sa_lo entries). */
  private[graft] def occurrenceOffsets(content: String, pat: String): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = content.indexOf(pat)
    while (i >= 0) { out += i; i = content.indexOf(pat, i + 1) }
    toCodePointOffsets(content, out.toArray)
  }

  /** Convert ASCENDING UTF-16 code-unit indices into code-point offsets
    * in one walk over `content`. Spark SQL substring/length and the
    * DuckDB oracle count CODE POINTS, while java.lang.String.indexOf
    * returns code-unit indices — on content with supplementary-plane
    * characters (emoji, rare CJK) the two disagree, so every offset this
    * module emits is converted here. BMP-only content degenerates to the
    * identity at one branch per scanned char. */
  private[graft] def toCodePointOffsets(content: String,
      cuIdx: Array[Int]): Array[Long] = {
    val out = new Array[Long](cuIdx.length)
    var cu = 0
    var cp = 0L
    var j = 0
    while (j < cuIdx.length) {
      while (cu < cuIdx(j)) {
        cp += 1
        cu += Character.charCount(content.codePointAt(cu))
      }
      out(j) = cp
      j += 1
    }
    out
  }

  /** Returns (query_id, doc_id, n_matches, first_offset): overlapping
    * occurrence count + 0-based first offset per matching doc. */
  def find(spark: SparkSession, indexDir: String,
           queries: Seq[(Long, String)], nBuckets: Int = 32,
           maxMatches: Long = Long.MaxValue,
           allowShortScan: Boolean = false): DataFrame = {
    import spark.implicits._
    val candidates =
      candidateDocs(spark, indexDir, queries, nBuckets, allowShortScan)
    // verify + decode in one typed pass: a single overlapping indexOf
    // scan per candidate doc yields both the count and the first offset
    // (imperative string scanning per partition — the mapPartitions rung
    // is the right one here, there is no codegen'd overlapping-count
    // builtin and a sequence()+filter() expression materializes an
    // O(|content|) array per row); rows are (query_id, (doc_id,
    // n_matches, first_offset))
    val matched = candidates
      .select("query_id", "doc_id", "content", "pat")
      .as[(Long, Long, String, String)]
      .mapPartitions(_.flatMap { case (qid, did, content, pat) =>
        val first = content.indexOf(pat)
        if (first < 0) None
        else {
          var n = 0L
          var i = first
          while (i >= 0) { n += 1; i = content.indexOf(pat, i + 1) }
          Some((qid, (did, n, toCodePointOffsets(content, Array(first))(0))))
        }
      })
    // the cap keeps the smallest doc_ids per query through the bounded
    // best-k aggregator (partial + final, O(maxMatches) rows per query
    // cross the shuffle) — a window would funnel EVERY match of a common
    // pattern through one task
    BoundedK.perKey(matched, maxMatches,
        Ordering.by[(Long, Long, Long), Long](_._1))
      .flatMap { case (qid, hits) =>
        hits.map { case (did, n, first) => (qid, did, n, first) }
      }
      .toDF("query_id", "doc_id", "n_matches", "first_offset")
  }

  /** Full match decode — every (doc, offset) occurrence per query, the
    * reference's per-match output rows (`(v:…,o:…)`,
    * /root/reference/src/gin_gin.c:817-885, format README.md:267-416).
    * `maxMatches` caps rows per query at the smallest (doc_id, offset)
    * pairs (deterministic), the --max-matches analog; the cap rides a
    * bounded typed aggregator so only O(maxMatches) rows per query ever
    * cross a shuffle. Returns (query_id, doc_id, offset). */
  def findOffsets(spark: SparkSession, indexDir: String,
                  queries: Seq[(Long, String)], nBuckets: Int = 32,
                  maxMatches: Long = Long.MaxValue,
                  allowShortScan: Boolean = false): DataFrame = {
    import spark.implicits._
    val candidates =
      candidateDocs(spark, indexDir, queries, nBuckets, allowShortScan)
    val occ = candidates
      .select("query_id", "doc_id", "content", "pat")
      .as[(Long, Long, String, String)]
      .mapPartitions(_.flatMap { case (qid, did, content, pat) =>
        occurrenceOffsets(content, pat).iterator.map(o => (qid, (did, o)))
      })
    BoundedK.perKey(occ, maxMatches, Ordering[(Long, Long)])
      .flatMap { case (qid, hits) => hits.map { case (did, off) => (qid, did, off) } }
      .toDF("query_id", "doc_id", "offset")
  }

  /** Snippet extraction: every decoded match with `ctx` characters of
    * surrounding context — the span-labeling / training-example view of
    * the reference's full match decode (offset decode + the caller's own
    * string slicing, /root/reference/README.md:267-416).
    *
    * Scale shape: offsets are decoded and CAPPED first (`maxMatches`
    * lowest (doc, offset) per query), so the capped match table is tiny;
    * it is broadcast against ONE column-pruned corpus scan and the
    * window arithmetic + substring run as codegen'd expressions.
    *
    * Returns (query_id, doc_id, offset, snippet); snippet spans
    * [max(0, offset-ctx), min(len, offset+|pat|+ctx)). */
  def snippets(spark: SparkSession, indexDir: String,
               queries: Seq[(Long, String)], ctx: Int = 20,
               nBuckets: Int = 32, maxMatches: Long = 200L,
               allowShortScan: Boolean = false): DataFrame = {
    import spark.implicits._
    require(maxMatches < Int.MaxValue,
      "snippets requires a finite maxMatches cap (the match table is " +
        "broadcast against the corpus scan)")
    val offs = findOffsets(spark, indexDir, queries, nBuckets, maxMatches,
        allowShortScan)
      .join(broadcast(queries.toDF("query_id", "pat")), "query_id")
    val corpus = spark.read.parquet(s"$indexDir/corpus_ids")
      .select("doc_id", "content")
    val start = greatest(col("offset") - ctx, lit(0L))
    val end = least(col("offset") + length(col("pat")) + ctx,
      length(col("content")).cast("long"))
    corpus.join(broadcast(offs), "doc_id")
      .select(col("query_id"), col("doc_id"), col("offset"),
        col("content").substr(start + 1, end - start).as("snippet"))
  }
}
