package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.{Builder, Tokenizer}

/** Text-analysis operators for a large-scale training-data pipeline. Each
  * is one narrow pass over the corpus (no shuffle), so they scale
  * linearly with it.
  *
  * Two forms coexist. `tokenCounts` and `quality` are column
  * expressions over regex splits; their `filter` lambdas are
  * higher-order functions, which Spark interprets (CodegenFallback).
  * `langId` (a Scala UDF) and `fingerprint` (a typed pass) tokenize
  * each text once with `Tokenizer.tokens`, because a column form re-runs
  * the regex split for every reference to the tokens column: Spark does
  * not share a higher-order result through subexpression elimination.
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

  /** marker token -> indices into LangMarkers of the lists holding it */
  private val MarkerLangs: Map[String, Seq[Int]] =
    LangMarkers.zipWithIndex
      .flatMap { case ((_, ms), i) => ms.distinct.map(_ -> i) }
      .groupMap(_._1)(_._2)

  /** lang_pred of one token list: each LangMarkers entry gets one vote
    * per token in its list, and entry i wins when it has votes and no
    * LATER entry outvotes it (so earlier entries win ties); no votes
    * gives "unknown". The oracle CASE (Gate.LangCaseSql) is generated
    * from the same LangMarkers order, so adding a language cannot desync
    * the two engines. */
  def langPred(tokens: Array[String]): String = {
    val votes = new Array[Int](LangMarkers.length)
    tokens.foreach(t => MarkerLangs.get(t).foreach(_.foreach(votes(_) += 1)))
    votes.indices
      .find(i => votes(i) > 0 && (i + 1 until votes.length).forall(votes(i) >= votes(_)))
      .fold("unknown")(LangMarkers(_)._1)
  }

  /** (n_tokens, lang_pred) of one text, tokenized once: the per-doc
    * signals of langId and Pipeline.cleanCorpus. A Scala UDF, so the
    * caller's other columns pass through with their types, and an action
    * that reads neither field (a count) prunes it. */
  private[ops] val tokenSignals = udf { (text: String) =>
    val toks = Tokenizer.tokens(text)
    (toks.length.toLong, langPred(toks))
  }.asNonNullable()

  /** Language-ID heuristic: stopword/marker-token votes with a
    * deterministic tie-break (langPred). A real model is out of scope;
    * the operator shape — cheap per-doc scoring over markers — is what
    * scales. */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenSignals(col("text"))("_2").as("lang_pred"))

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
    // all values are non-negative so % == pmod. Null text gives a NULL
    // fingerprint, as the column fold over a null token list did.
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        if (text == null) (id, None)
        else {
          val toks = Tokenizer.tokens(text)
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
