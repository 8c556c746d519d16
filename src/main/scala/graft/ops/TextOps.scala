package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.index.Builder

/** Text-analysis operators for a large-scale training-data pipeline —
  * all pure column expressions (whole-stage codegen, no UDFs), so they
  * push down and scale linearly with the corpus.
  *
  * Input contract: a DataFrame with (doc_id LONG, text STRING).
  */
object TextOps {

  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Whitespace token count + regex ("BPE-ish" word/number piece) count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
        .cast("long").as("n_ws_tokens"),
      size(filter(split(lower(col("text")), "[^a-z0-9_]+"), t => length(t) > 0))
        .cast("long").as("n_re_tokens"))

  /** Quality scoring: length, mean token length, stopword ratio, and a
    * boolean gate — the usual pre-training heuristics. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = Builder.tokensCol(col("text"))
    val nTok = size(toks)
    val stopHits = size(filter(toks, t => t.isin(Stopwords.map(lit): _*)))
    docs.select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      round(length(regexp_replace(col("text"), "\\s+", ""))
        .cast("double") / greatest(nTok, lit(1)), 6).as("avg_token_len"),
      round(stopHits.cast("double") / greatest(nTok, lit(1)), 6)
        .as("stopword_ratio"),
      (nTok >= 10 && nTok <= 100000).as("quality_ok"))
  }

  /** Marker-token vote lists for the language-ID heuristic — the single
    * source of truth, mirrored verbatim into the oracle SQL (Gate). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "fr" -> Seq("le", "la", "et", "les"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "los", "que", "y"))

  /** lang_pred as a pure column expression over a tokens column (shared
    * by langId and Pipeline.cleanCorpus, which folds it into its one
    * combined corpus scan). Tie-break: earlier LangMarkers entry wins. */
  def langPredCol(toks: Column): Column = {
    def votes(markers: Seq[String]): Column =
      size(filter(toks, t => t.isin(markers.map(lit): _*)))
    val v = LangMarkers.map { case (lang, ms) => lang -> votes(ms) }
    // lang i wins when it has votes and no LATER entry outvotes it —
    // generated from LangMarkers (as is the oracle CASE in Gate), so
    // adding a language cannot desync the two engines
    val cases = v.zipWithIndex.map { case ((lang, vi), i) =>
      v.drop(i + 1).map(_._2).foldLeft(vi > lit(0))(_ && vi >= _) -> lang
    }
    cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
      case (acc, (cond, lang)) => acc.when(cond, lang)
    }.otherwise("unknown")
  }

  /** Language-ID heuristic: stopword/marker-token votes with a
    * deterministic tie-break. (A real model is out of scope; the operator
    * shape — cheap per-doc scoring over markers — is what scales.) */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      langPredCol(Builder.tokensCol(col("text"))).as("lang_pred"))

  /** Rolling polynomial fingerprint over tokens (doc-level dedup key that
    * ignores whitespace/punctuation differences): base-31 polynomial of
    * h60 token hashes mod 1e9+7. Modular form keeps every intermediate
    * well inside Long range (Spark 4 ANSI mode turns overflow into a job
    * failure, so wrapping arithmetic is not an option), and h60 makes the
    * value bit-identical in the DuckDB oracle. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val M = 1000000007L
    // typed fold: the aggregate() column form interpreted its lambda per
    // token (higher-order expressions are CodegenFallback) and computed
    // h60 through an md5-hex -> conv string round trip; the JVM h60
    // agrees bit-for-bit (CoreSpec parity) and every intermediate stays
    // exact: acc < M and h < M so acc*31 + h < 2^35 — no overflow, and
    // all values are non-negative so % == pmod. Null text (a null token
    // list) gives a NULL fingerprint, as the column fold did.
    docs.select(col("doc_id").cast("long"), Builder.tokensCol(col("text")))
      .as[(Long, Seq[String])]
      .mapPartitions(_.map { case (id, toks) =>
        if (toks == null) (id, None)
        else {
          var acc = 0L
          var i = 0
          while (i < toks.length) {
            acc = (acc * 31L + graft.util.CrossHash.h60(toks(i)) % M) % M
            i += 1
          }
          (id, Some(acc))
        }
      })
      .toDF("doc_id", "fingerprint")
  }
}
