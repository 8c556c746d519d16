package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.index.{Builder, Bm25}

/** Brute-force BM25 oracle — the `gin utils find` analog
  * (/root/reference/src/gin_graph.c:282-388): no index, no pruning;
  * explode every document's tokens, score every matching doc exactly,
  * global sort. The engine's top-k must be rank-identical to this
  * (SURVEY.md §5.1). Used by ScalaTest; the DuckDB oracle SQL in
  * SparkEntry is the same computation in SQL. */
object Oracle {

  /** corpus must have (repo,path,commit,content) + a doc_id column
    * consistent with the builder's (use Builder.withDocIds). */
  def topK(spark: SparkSession, corpusWithIds: DataFrame,
           queries: Seq[Searcher.Query], k: Int,
           conjunctive: Boolean = true): DataFrame = {
    import spark.implicits._
    // null content is an empty document, as in the index: dl 0, and it
    // counts toward n_docs and avgdl like any doc without tokens
    val lens = corpusWithIds
      .withColumn("toks", Builder.tokensCol(coalesce(col("content"), lit(""))))
      .withColumn("dl", size(col("toks")))
    val docs = lens
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("int").as("tf"), first("dl").as("dl"))
    val (nDocs, avgdl) = lens
      .agg(count(lit(1)), avg(col("dl").cast("double")))
      .as[(Long, Double)].head()
    val dfByTerm = docs.groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap

    val qt = queries.flatMap { q =>
      val ts = graft.index.Tokenizer.tokens(q.text).distinct.toSeq
      val present = ts.filter(dfByTerm.contains)
      if (conjunctive && present.size != ts.size) Seq.empty
      else present.map(t =>
        (q.query_id, t, Bm25.idf(nDocs, dfByTerm(t)), ts.size))
    }.toDF("query_id", "term", "idf", "n_terms")

    val scored = docs.join(qt, "term")
      .withColumn("contrib",
        col("idf") * lit(Bm25.K1 + 1.0) * col("tf") /
          (col("tf") + lit(Bm25.K1) *
            (lit(1 - Bm25.B) + lit(Bm25.B) * col("dl") / lit(avgdl))))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("raw"), count(lit(1)).as("nmatch"),
        first("n_terms").as("n_terms"))
      .filter(if (conjunctive) col("nmatch") === col("n_terms") else lit(true))
      .withColumn("score", round(col("raw"), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }
}
