package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * Scale shape: ONE ROW PER DOC carries every signal, and no two per-doc
  * tables join on doc_id. The signal projection tokenizes each doc once
  * (TextOps.tokenSignals: quality + language) and hashes its text
  * (sha256). The exact-dup rep (min doc_id per hash) comes from a
  * partially aggregated groupBy(hash) and joins back on the hash, a
  * 64-char key, never the content, and with no per-group task (no Window
  * over the hash, which would funnel a mega-duplicate group through one
  * task). Near-dup reuses the df-capped one-group-per-shingle Jaccard
  * pairs; connectedComponents labels those same signal rows (driver
  * union-find broadcast onto them, or star contraction past its bound;
  * never all-pairs).
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
    // and a content hash. A row with a null doc_id gets no verdict: it
    // can be no doc's rep and is in no cluster.
    val corpus = docs.filter(col("doc_id").isNotNull)
      .withColumn("text", coalesce(col("text"), lit("")))
    // quality + language + content hash in ONE pass: each text is
    // tokenized once, and lang_pred is the rule TextOps.langId applies
    // (the optimizer keeps a UDF read twice in its own projection, so it
    // runs once per row)
    val sig = corpus
      .select(col("doc_id"), TextOps.tokenSignals(col("text")).as("s"),
        sha2(col("text"), 256).as("h"))
      .select(col("doc_id"), col("s._1").as("n_tokens"),
        col("s._2").as("lang_pred"), col("h"))

    // exact-duplicate representative: min doc_id per content hash
    val withExactRep =
      sig.join(sig.groupBy("h").agg(min("doc_id").as("exact_rep")), "h")

    // near-dup cluster representative (min doc_id in the component),
    // labeled onto the signal rows
    val pairs = Dedup.jaccardPairs(corpus, k = shingleK, minJ = minJaccard,
      maxShingleDf = maxShingleDf)
    val rows = Dedup.connectedComponents(withExactRep, pairs)

    val reason =
      when(col("n_tokens") < minTokens || col("n_tokens") > maxTokens,
        "quality")
      .when(!col("lang_pred").isin(keepLangs.map(lit): _*), "lang")
      .when(col("doc_id") =!= col("exact_rep"), "exact_dup")
      .when(col("doc_id") =!= col("cluster_rep"), "near_dup")
      .otherwise("keep")

    rows.select(col("doc_id"), col("n_tokens"), col("lang_pred"),
      (reason === "keep").as("keep"), reason.as("drop_reason"))
  }
}
