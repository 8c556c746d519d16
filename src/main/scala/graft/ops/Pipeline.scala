package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.Builder

/** Composite corpus-cleaning pipeline — the end-to-end operator an LLM
  * training-data pipeline actually consumes: one verdict row per document
  * combining the quality gate, language filter, exact dedup, and near-dup
  * clustering (the reference's per-op analogs are the spectrum /
  * validation utilities, /root/reference/src/gin_graph.c:164-388; the
  * composition itself is the training-pipeline layer on top).
  *
  * Semantics (deliberately compositional): every signal is computed over
  * the FULL corpus independently, then combined with a fixed precedence —
  *   quality > lang > exact_dup > near_dup > keep
  * so a document's verdict never depends on which other documents were
  * dropped by an earlier stage. That makes the operator deterministic,
  * embarrassingly re-runnable on corpus deltas, and exactly expressible
  * as one SQL statement for the oracle.
  *
  * Scale shape: quality + language are a single codegen'd scan;
  * exact-dedup is one hash shuffle on sha256(text); near-dup reuses the
  * df-capped one-group-per-shingle Jaccard pairs + connected components
  * (driver union-find, or star contraction past its bound; never
  * all-pairs). The final assembly is three co-keyed joins on doc_id that
  * AQE plans as broadcast when the signal tables are small.
  */
object Pipeline {

  /** Per-document keep/drop verdict.
    *
    * Input contract: (doc_id LONG, text STRING).
    * Returns (doc_id, n_tokens, lang_pred, keep, drop_reason) where
    * drop_reason ∈ {quality, lang, exact_dup, near_dup, keep}.
    */
  def cleanCorpus(docs: DataFrame,
                  keepLangs: Seq[String] = Seq("en"),
                  minTokens: Long = 20L,
                  maxTokens: Long = 100000L,
                  shingleK: Int = 3,
                  minJaccard: Double = 0.5,
                  maxShingleDf: Long = 10000L): DataFrame = {
    // null text is empty text: no tokens (a quality drop), no shingles,
    // and a content hash, so the exact-dup join keeps the row
    val corpus = docs.withColumn("text", coalesce(col("text"), lit("")))
    // quality + language in ONE corpus scan (pure column expressions;
    // lang_pred is the SAME expression TextOps.langId selects)
    val toks = Builder.tokensCol(col("text"))
    val sig = corpus.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      TextOps.langPredCol(toks).as("lang_pred"))

    // exact-duplicate representative: min doc_id per content hash
    val sha = corpus.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val exactRep = sha
      .join(sha.groupBy("h").agg(min("doc_id").as("exact_rep")), "h")
      .select(col("doc_id"), col("exact_rep"))

    // near-dup cluster representative (min doc_id in the component)
    val pairs = Dedup.jaccardPairs(corpus, k = shingleK, minJ = minJaccard,
      maxShingleDf = maxShingleDf)
    val cc = Dedup.connectedComponents(corpus.select(col("doc_id")), pairs)

    val reason =
      when(col("n_tokens") < minTokens || col("n_tokens") > maxTokens,
        "quality")
      .when(!col("lang_pred").isin(keepLangs.map(lit): _*), "lang")
      .when(col("doc_id") =!= col("exact_rep"), "exact_dup")
      .when(col("doc_id") =!= col("cluster_rep"), "near_dup")
      .otherwise("keep")

    sig.join(exactRep, "doc_id")
      .join(cc, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("lang_pred"),
        (reason === "keep").as("keep"), reason.as("drop_reason"))
  }
}
