package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{Builder, Codec, Tokenizer}

/** Phrase (exact adjacency) search over the optional positions table —
  * the walk-decoding analog (/root/reference/src/gin_encoded_graph.c:
  * 375-449 re-spells a matched string's path through the graph; here a
  * phrase match re-checks token adjacency inside the document).
  *
  * Evaluation: conjunctive candidates from the one search kernel
  * (`Wand.matches` through the Searcher dispatcher: doc-id order, each
  * with its BM25 score over the phrase's distinct terms), then a
  * positions join restricted to those candidates, then a per-doc
  * adjacency check (∃p: term_i at p+i for all i). Verified docs keep the
  * score they carry — so ranking is consistent with the rest of the
  * engine and reproducible in SQL (phrase containment = k-gram
  * membership for the oracle).
  */
object Phrase {

  /** Default per-query candidate budget — FINITE, like the reference,
    * which ships with its fork/match budgets ON by default
    * (/root/reference/gin.c:33-37: max_forks/max_matches are set, not
    * opt-in): a serving layer calling with defaults must not re-create
    * the two-common-term blowup the budget exists for. Callers that
    * need the exact unbudgeted evaluation pass Long.MaxValue
    * explicitly. Deterministic: the budget keeps the SMALLEST candidate
    * doc_ids. */
  val DefaultMaxCandidates = 100000L

  /** One phrase call's front end, shared by `searchTopK` and
    * `findOccurrences`: from the top-k planner's And plan (a phrase is
    * live when every one of its distinct terms is in the dictionary), each
    * live phrase's ordered token sequence (repeats kept: adjacency needs
    * them), its scored conjunctive candidates (query_id, doc_id, score)
    * under the budget, and the positions of the live terms. */
  private final case class Prepared(seqs: Map[Long, Seq[String]],
      candidates: DataFrame, positions: DataFrame)

  /** None when no phrase is live. */
  private def prepare(spark: SparkSession, indexDir: String,
      phrases: Seq[Searcher.Query], maxCandidates: Long): Option[Prepared] = {
    require(graft.util.Fs.exists(spark, s"$indexDir/_COMMIT_positions"),
      s"index at $indexDir was built without storePositions=true")
    val p = Searcher.plan(spark, indexDir, phrases, Searcher.And, 32)
    if (p.live.isEmpty) return None
    val seqs = phrases.filter(q => p.live.contains(q.query_id))
      .map(q => q.query_id -> Tokenizer.tokens(q.text).toSeq).toMap
    val terms = p.live.values.flatten.toSeq.distinct
    val positions = spark.read.parquet(s"$indexDir/positions")
      .filter(Builder.bucketProbe("term", terms, p.handle.nBuckets))
      .select("term", "doc_id", "n_pos", "pos_deltas")
    // matches come in doc-id order, so the budget (the maxCandidates
    // smallest doc ids) is the kernel's early stop
    Some(Prepared(seqs, Searcher.matches(spark, p, phrases.size, maxCandidates)
      .select("query_id", "doc_id", "score"), positions))
  }

  /** Top-k docs containing each phrase exactly.
    * Requires the index to be built with storePositions=true.
    * Returns (query_id, rank, doc_id, score).
    *
    * `maxCandidates` is the --max-matches analog
    * (/root/reference/gin.c:723-730) for the phrase path: the
    * conjunctive candidate set is capped per query BEFORE the positions
    * join and adjacency verification (k smallest doc_ids kept —
    * deterministic), so a two-common-term phrase cannot drag an
    * unbounded verification join behind it. */
  def searchTopK(spark: SparkSession, indexDir: String,
                 phrases: Seq[Searcher.Query], k: Int,
                 maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    import spark.implicits._
    val prepared = prepare(spark, indexDir, phrases, maxCandidates)
    if (prepared.isEmpty) return Seq.empty[(Long, Int, Long, Double)]
      .toDF("query_id", "rank", "doc_id", "score")
    val Prepared(seqs, candidates, positions) = prepared.get
    // verification only needs EXISTENCE per (query, doc): firstOnly stops
    // at the first matching start instead of enumerating (and shuffling)
    // every occurrence of a hot phrase through a distinct()
    val verified = occurrenceRows(spark, seqs, candidates, positions,
        firstOnly = true)
      .select(col("query_id"), struct(col("doc_id"), col("score")))
    BoundedK.perKey(verified.as[(Long, Scored)], k, Scored.BestFirst)
      .flatMap { case (qid, hits) => Searcher.ranked(qid, hits) }
      .toDF("query_id", "rank", "doc_id", "score")
  }

  /** Every phrase occurrence as (query_id, doc_id, pos) — pos is the
    * 0-based TOKEN index where the phrase starts, the token-domain form
    * of the reference's per-match `(v:…,o:…)` decode
    * (/root/reference/src/gin_gin.c:817-885). `maxMatches` keeps the
    * smallest (doc_id, pos) pairs per query (deterministic --max-matches
    * analog) through the bounded best-k aggregator; `maxCandidates` caps
    * the CANDIDATE docs before the positions join (finite by default,
    * like searchTopK, so a hot phrase drags no unbounded join). */
  def findOccurrences(spark: SparkSession, indexDir: String,
                      phrases: Seq[Searcher.Query],
                      maxMatches: Long = Long.MaxValue,
                      maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    import spark.implicits._
    val prepared = prepare(spark, indexDir, phrases, maxCandidates)
    if (prepared.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("query_id", "doc_id", "pos")
    val Prepared(seqs, candidates, positions) = prepared.get
    val occ = occurrenceRows(spark, seqs, candidates, positions)
      .select("query_id", "doc_id", "pos").as[(Long, Long, Long)]
      .map { case (qid, did, pos) => (qid, (did, pos)) }
    BoundedK.perKey(occ, maxMatches, Ordering[(Long, Long)])
      .flatMap { case (qid, hits) => hits.map { case (did, pos) => (qid, did, pos) } }
      .toDF("query_id", "doc_id", "pos")
  }

  /** Adjacency evaluation shared by verification (searchTopK, which only
    * needs the distinct matched docs) and the full occurrence decode:
    * per (query, candidate doc), the positions of each phrase term are
    * decoded and every start p with term_i at p+i for all i is emitted
    * as (query_id, doc_id, p, score), the candidate's score carried
    * along. One mapGroups over the positions join — the per-doc work is
    * |positions of the rarest term| binary searches. */
  private def occurrenceRows(spark: SparkSession,
      live: Map[Long, Seq[String]], candidates: DataFrame,
      positions: DataFrame, firstOnly: Boolean = false): DataFrame = {
    import spark.implicits._
    val seqB = spark.sparkContext.broadcast(live)
    candidates
      .join(positions.hint("shuffle_hash"), "doc_id")
      .select($"query_id", $"doc_id", $"score", $"term", $"n_pos",
        $"pos_deltas")
      .as[(Long, Long, Double, String, Int, Array[Byte])]
      .groupByKey(r => (r._1, r._2, r._3)) // a doc's score is per (query, doc)
      .flatMapGroups { (key: (Long, Long, Double),
          it: Iterator[(Long, Long, Double, String, Int, Array[Byte])]) =>
        val (qid, docId, score) = key
        val posByTerm = it.map { case (_, _, _, t, n, bytes) =>
          t -> Codec.decodeDeltas(bytes, n)
        }.toMap
        val terms = seqB.value(qid)
        if (!terms.forall(posByTerm.contains)) Iterator.empty
        else {
          val starts = posByTerm(terms.head).iterator.filter { p =>
            var i = 1
            var good = true
            while (good && i < terms.length) {
              good = java.util.Arrays.binarySearch(posByTerm(terms(i)), p + i) >= 0
              i += 1
            }
            good
          }
          // firstOnly: the verification caller needs existence, not the
          // occurrence list — stop at the first matching start
          (if (firstOnly) starts.take(1) else starts)
            .map(p => (qid, docId, p, score))
        }
      }
      .toDF("query_id", "doc_id", "pos", "score")
  }
}
