package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.CrossHash

/** Ordering PRODUCER — the Spark analog of the reference's offline
  * permutation optimizer (`gin permutation`: constraint-set extraction,
  * /root/reference/src/gin_constraint_set.c:62-212, feeding simulated
  * annealing, /root/reference/src/gin_annealing.c:24-507). The reference
  * anneals a vertex order that co-locates vertices sharing labels so the
  * index compresses and probes locally; for a document inverted index the
  * same objective is "give docs with similar term sets nearby doc ids"
  * (delta-encoded posting gaps shrink, block-max pruning tightens).
  *
  * Annealing is a sequential hill-climb — wrong shape for a cluster.
  * The scalable surrogate is the published MinHash-clustering sort
  * (shingle ordering, Chierichetti et al., "On Compressing Social
  * Networks"; also the standard cheap baseline against recursive graph
  * bisection, Dhulipala et al.): sort documents lexicographically by
  * their MinHash signature. Docs sharing terms agree on each signature
  * component with probability = Jaccard similarity, so similar docs
  * collide on long signature prefixes and become neighbors in the sort —
  * a global clustering order from ONE aggregation + ONE range sort, no
  * iteration, no driver state.
  *
  * Output plugs into the existing consumer hooks: a (repo, path, commit,
  * ord) rank table for `Builder.withPermutation` +
  * `Config(orderCols = Seq("ord", ...))`, i.e. exactly what the CLI's
  * `--permutation` flag reads. The effect is measured per round by
  * Bench's bytes_per_posting_by_ordering experiment.
  */
object DocOrder {

  /** Default df-cap fraction for signature terms (see minhashPermutation)
    * — shared with the q_docorder oracle SQL so the engines cannot
    * drift. */
  val DefaultMaxDfFraction = 0.02

  /** Absolute floor on the df cap: never exclude terms under this df,
    * regardless of corpus size — shared with the oracle SQL. */
  val MinDfCap = 64L

  /** Per-doc MinHash signature columns s0..s{n-1} over the doc's DISTINCT
    * token set (1-gram shingles: posting locality is about shared TERMS).
    * Pure codegen'd column arithmetic — base hash h60 mod P31, affine
    * permutations (a_i·x + b_i) mod P31, min per doc — the same scheme
    * (and coefficients) as Dedup.minhashSignatures, kept in exact BIGINT
    * range throughout (ANSI-safe: a, x < 2^31 so a·x < 2^62). */
  private def signatureAggs(nHashes: Int): Seq[Column] =
    (0 until nHashes).map { i =>
      val (a, b) = CrossHash.minhashCoeff(i)
      min(pmod(col("x31") * lit(a) + lit(b), lit(CrossHash.P31))).as(s"s$i")
    }

  /** Compute a locality permutation for `corpus` (repo, path, commit,
    * content, ...): returns (repo, path, commit, ord) where `ord` ranks
    * docs by MinHash-signature order. Shape at scale: one explode +
    * partial-aggregated groupBy (map-side min, one shuffle keyed by doc
    * identity — no skew possible), one range sort of n signature rows,
    * ids by the same per-partition count + prefix-sum Builder.withDocIds
    * uses (no single-partition stage). Deterministic: signatures are pure
    * functions of content, ties break on (repo, path, commit).
    *
    * `maxDfFraction`: terms appearing in more than max(MinDfCap,
    * ceil(f·n)) docs are EXCLUDED from the signature. Zipf-head terms
    * are shared by every doc, so minima over the full token set collide
    * corpus-wide and carry no locality signal — the signal lives in the
    * rare (repo-local) vocabulary; measured on the localized corpus the
    * cap recovers ~2× more of the scrambled→clustered bytes/posting gap
    * than the unfiltered sort (4.051 vs 4.139, scrambled 4.219, layout
    * 3.926 — BASELINE.md, ordering-producer experiments). The hot set is
    * provably broadcast-small:
    * |{t : df(t) > f·n}| ≤ Σ_doc |distinct(doc)| / (f·n) =
    * avgDistinctTokens / f (a few thousand rows at any corpus size).
    * Pass 1.0 to disable. The MinDfCap floor keeps small corpora from
    * over-excluding (at n=500, a 2% cap alone would drop every term in
    * >10 docs — most of the useful vocabulary).
    *
    * Docs with no tokens (or none surviving the df cap) get no signature
    * row and are simply absent from the returned table — withPermutation
    * already sorts absent docs last in identity order. */
  def minhashPermutation(corpus: DataFrame, nHashes: Int = 16,
                         partitions: Int = 0,
                         maxDfFraction: Double = DefaultMaxDfFraction): DataFrame = {
    val sigs = signatures(corpus, nHashes, maxDfFraction)
    val orderCols =
      (0 until nHashes).map(i => col(s"s$i")) ++
        Seq(col("repo"), col("path"), col("commit"))
    rankBy(corpus.sparkSession, sigs, orderCols, partitions)
  }

  /** Per-doc df-capped MinHash signature frame
    * (repo, path, commit, s0..s{n-1}). */
  private def signatures(corpus: DataFrame, nHashes: Int,
                         maxDfFraction: Double): DataFrame = {
    require(nHashes >= 1 && nHashes <= 64, s"nHashes=$nHashes")
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction=$maxDfFraction")
    val toks0 = corpus
      .select(col("repo"), col("path"), col("commit"),
        explode(array_distinct(Builder.tokensCol(col("content"))))
          .as("term"))
    val toks = if (maxDfFraction >= 1.0) toks0 else {
      val maxDf = math.max(MinDfCap,
        math.ceil(maxDfFraction * corpus.count()).toLong)
      val hot = toks0.groupBy("term")
        .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
        .select("term")
      toks0.join(broadcast(hot), Seq("term"), "left_anti")
    }
    toks
      .withColumn("x31", pmod(CrossHash.h60(col("term")), lit(CrossHash.P31)))
      .groupBy("repo", "path", "commit")
      .agg(signatureAggs(nHashes).head, signatureAggs(nHashes).tail: _*)
  }

  /** Rank `sigs` rows by `orderCols` into a dense 0-based `ord` with a
    * range sort + zipWithIndex — no single-partition stage. */
  private def rankBy(spark: org.apache.spark.sql.SparkSession,
                     sigs: DataFrame, orderCols: Seq[Column],
                     partitions: Int): DataFrame = {
    val nPart = Builder.partitionCount(spark, partitions)
    // NOTE on caching (r6): zipWithIndex runs an EAGER offset job at
    // call time and the caller consumes the frame again, so the sort
    // pipeline executes ~twice per call. Caching the sorted rows was
    // tried two ways this round and BOTH measured slower than the
    // recompute at bench scale (eager localCheckpoint: extra
    // materialization job; RDD persist: block-unroll cost exceeds the
    // 2nd pipeline pass) — and a DataFrame-level persist is ruled out
    // outright: the SQL CacheManager is keyed by canonicalized plan, so
    // it would silently serve LATER invocations on the same input
    // (cross-invocation result reuse). At corpus scale the double scan
    // is the documented cost; a caller that needs it cached can persist
    // the RETURNED rank table (n small rows) under its own lifecycle.
    val sorted = sigs
      .repartitionByRange(nPart, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .select("repo", "path", "commit")
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(sorted.schema.fields :+
      StructField("ord", LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }
}
