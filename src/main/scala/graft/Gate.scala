package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.Builder
import graft.ops.{Ann, Dedup, Multimodal, TextOps}
import graft.query.Searcher

/** Driver-gate queries: every entry has a Spark implementation reading
  * `$sfDir/documents.parquet` / `embeddings.parquet` and (where
  * SQL-expressible) a DuckDB oracle computing the same result. Column
  * names/types are aligned pairwise; scores/ratios rounded to 6 decimals
  * so cross-engine float noise cannot flip hashes; integral outputs cast
  * to BIGINT on both sides.
  */
object Gate {

  // ---- index cache: build once per sfDir (Builder is idempotent via
  //      commit markers, so concurrent/repeated calls are cheap) --------
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def gateConfig: Builder.Config =
    Builder.Config(blockSize = 128, nBuckets = 16, nSegments = 4,
      saltTarget = 200, storePositions = true, storeTrigrams = true)

  /** Fixed substring (cross-token) query set — exact `contains` matching
    * through the trigram index (q_substring). */
  val GateSubstrings: Seq[(Long, String)] = Seq(
    1L -> "merge join",      // cross-token phrase as raw substring
    2L -> "window stream",   // another cross-token fragment
    3L -> "zzqx_nothing",    // no match -> empty group
    4L -> "ag")              // sub-trigram pattern -> verify-scan fallback

  // ---- cross-engine op parameters: used by the Spark implementations
  //      AND spliced verbatim into the oracle SQL, so both engines
  //      compute the identical function -------------------------------
  val MaxShingleDf = 10000L   // near-dup: drop non-discriminative shingles
  val MinhashN = 32           // minhash permutations
  val MinhashBands = 8        // LSH bands (rows = MinhashN / MinhashBands)
  val MinhashMaxBucket = 1000L // skip degenerate mega-buckets
  val LshPlanes = 4           // ANN top-k: few planes, many tables (the
  val LshTables = 24          //   gate corpus' top-5 cos is ~0.33 — recall
                              //   at low cos needs band-OR width)
  val NdPlanes = 6            // near-dup pairs: more planes (smaller
  val NdTables = 12           //   buckets) — candidate volume stays
                              //   ~n·tables/2^planes, not quadratic
  val LshDims = 64            // embedding dimensionality
  val AnnMaxBucket = 1000L    // drop degenerate (table, bucket) keys with
  val NdMaxBucket = 1000L     //   more members than this (|bucket|² guard)
  val NdMinCos = 0.4          // cosine near-dup pair threshold
  val OffsetsMaxMatches = 200L // --max-matches cap for the full offset
                               //   decode gate (smallest (doc, offset))
  // IVF coarse cells: 0 = autoCentroids (≈ √n, clamped [16, 65536]) —
  // the gate exercises the AUTO path; the oracle mirrors the formula
  val IvfCentroids = 0
  val IvfProbe = 4            // cells probed per query
  val SnippetCtx = 20         // chars of context on each side of a match
  val CleanMinTokens = 20L    // clean-corpus quality gate (tighter than
  val CleanMaxTokens = 100000L//   TextOps.quality so the reason fires on
                              //   the gate corpus)
  val CleanKeepLangs = Seq("en")

  private def H60(e: String): String = graft.util.CrossHash.h60Sql(e)

  /** Shared tokenized-documents CTE (DuckDB) — same tokenizer as Spark. */
  private val TlCte =
    """tl AS (SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
      |           x -> x <> '') AS t
      |       FROM documents)""".stripMargin

  /** Shared near-dup cluster CTE chain (DuckDB, must follow a
    * WITH RECURSIVE): k=3 shingles with the df cap, jaccard >= 0.5
    * pairs, and the `reach` closure whose min is the cluster rep. Used
    * by q_dedup_clusters and q_clean_corpus (identical constants). */
  private lazy val ClusterCtes = s"""$TlCte,
      sh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(len(t) - 2),
                 p -> t[p + 1] || ' ' || t[p + 2] || ' ' || t[p + 3])) AS shingle
        FROM tl WHERE len(t) >= 3),
      okset AS (SELECT shingle FROM sh0 GROUP BY shingle
                HAVING count(*) <= $MaxShingleDf),
      sh AS (SELECT sh0.* FROM sh0 JOIN okset USING (shingle)),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      com AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pr AS (
        SELECT c.doc_a, c.doc_b,
               round(CAST(c.n_common AS DOUBLE) /
                     (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
        FROM com c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
              >= 0.5),
      edges AS (SELECT doc_a AS s, doc_b AS d FROM pr
                UNION ALL SELECT doc_b, doc_a FROM pr),
      reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.s, reach.r FROM edges e JOIN reach ON reach.doc_id = e.d)"""

  /** Language-ID vote columns + CASE (DuckDB), generated from
    * TextOps.LangMarkers — the same single source of truth the Spark
    * column expression uses, so the marker lists cannot desync. */
  private lazy val LangVotesSql: String =
    graft.ops.TextOps.LangMarkers.map { case (lang, ms) =>
      s"len(list_filter(t, x -> x IN (${ms.map(m => s"'$m'").mkString(",")}))) AS $lang"
    }.mkString(",\n          ")

  /** Precedence CASE generated from the SAME LangMarkers order as
    * TextOps.langPred: lang i wins when it has votes and no later
    * entry outvotes it. Adding a language updates both engines. */
  private lazy val LangCaseSql: String = {
    val langs = graft.ops.TextOps.LangMarkers.map(_._1)
    langs.zipWithIndex.map { case (lang, i) =>
      val conds = s"$lang > 0" +: langs.drop(i + 1).map(l => s"$lang >= $l")
      s"WHEN ${conds.mkString(" AND ")} THEN '$lang'"
    }.mkString("CASE ", "\n               ", "\n               ELSE 'unknown' END")
  }

  /** Shared cosine near-dup pair CTEs (DuckDB; must follow
    * lshCtes(NdPlanes, NdTables)): bucket-capped LSH candidates ->
    * exact-cosine re-rank. Used by q_cosine_neardup and
    * q_embed_clusters (identical constants). */
  private lazy val CosinePairCtes = s"""
      okb AS (SELECT t, bucket FROM buck GROUP BY t, bucket
              HAVING count(*) <= $NdMaxBucket),
      buckc AS (SELECT buck.* FROM buck JOIN okb USING (t, bucket)),
      cand AS (
        SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM buckc a JOIN buckc b
          ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      dots AS (
        SELECT cd.doc_a, cd.doc_b, sum(a.v * b.v) AS dot
        FROM cand cd
        JOIN ex a ON a.vec_id = cd.doc_a
        JOIN ex b ON b.vec_id = cd.doc_b AND b.pos = a.pos
        GROUP BY 1, 2),
      cosv AS (
        SELECT d.doc_a, d.doc_b, round(d.dot / (na.nrm * nb.nrm), 6) AS cos
        FROM dots d
        JOIN norms na ON na.vec_id = d.doc_a
        JOIN norms nb ON nb.vec_id = d.doc_b)"""

  /** Minhash affine coefficients as SQL VALUES — generated from the SAME
    * CrossHash.minhashCoeff the Spark Aggregator uses. */
  private val MinhashCoeffSql: String = (0 until MinhashN).map { i =>
    val (a, b) = graft.util.CrossHash.minhashCoeff(i)
    s"($i, $a, $b)"
  }.mkString(", ")

  /** Shared LSH CTEs (DuckDB), parametrized by (planes, tables): integer
    * plane weights from h60 of the same tag strings Ann.planeWeight uses;
    * embeddings quantized floor(v·1e6); projections/buckets in exact
    * BIGINT arithmetic — bit-identical to the Spark side. Also exposes
    * ex/norms for exact-cosine re-ranking. */
  private def lshCtes(planes: Int, tables: Int): String = s"""
    |planes AS (
    |  SELECT tt.t, pp.p, dd.d,
    |         ${H60("'plane_' || CAST(tt.t AS VARCHAR) || '_' || " +
                    "CAST(pp.p AS VARCHAR) || '_' || CAST(dd.d AS VARCHAR)")}
    |           % 2000001 - 1000000 AS w
    |  FROM (SELECT unnest(range($tables)) AS t) tt,
    |       (SELECT unnest(range($planes)) AS p) pp,
    |       (SELECT unnest(range($LshDims)) AS d) dd),
    |eq AS (SELECT vec_id, unnest(range(len(embedding))) AS d,
    |              CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
    |                   AS BIGINT) AS e
    |       FROM embeddings),
    |proj AS (SELECT eq.vec_id, pl.t, pl.p, sum(eq.e * pl.w) AS s
    |         FROM eq JOIN planes pl ON pl.d = eq.d GROUP BY 1, 2, 3),
    |buck AS (SELECT vec_id, t,
    |                sum(CASE WHEN s >= 0
    |                         THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER))
    |                         ELSE 0 END) AS bucket
    |         FROM proj GROUP BY 1, 2),
    |ex AS (SELECT vec_id, unnest(range(len(embedding))) AS pos,
    |              CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
    |norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1)
    |""".stripMargin

  /** Fixed phrase query set (exact adjacency; q_phrase). */
  val GatePhrases: Seq[Searcher.Query] = Seq(
    Searcher.Query(1, "merge join"),
    Searcher.Query(2, "table scan"),
    Searcher.Query(3, "batch batch"), // repeated adjacent term
    Searcher.Query(4, "slow window group"),
    Searcher.Query(5, "merge nosuchterm_zz"))

  def indexDir(spark: SparkSession, sfDir: String): String =
    built.computeIfAbsent(sfDir, { _ =>
      val key = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
      val dir = s"target/gate-index/$key"
      Builder.build(spark, Corpus.fromDocuments(spark, sfDir), dir, gateConfig)
      dir
    })

  // ---- fixed reference query set (terms sampled from the corpus
  //      vocabulary; the .ginq analog) ---------------------------------
  val GateQueries: Seq[Searcher.Query] = Seq(
    Searcher.Query(1, "spark merge join"),
    Searcher.Query(2, "window"),
    Searcher.Query(3, "table scan"),
    Searcher.Query(4, "stream batch window group"),
    Searcher.Query(5, "zzz_nonexistent_term"),
    Searcher.Query(6, "the data"),
    Searcher.Query(7, "filter filter"), // duplicate term -> 1 distinct
    Searcher.Query(8, "customer line value"))

  /** Distinct (query_id, term, n_terms) rows — mirrored in SQL VALUES. */
  private def qtRows: Seq[(Long, String, Int)] = GateQueries.flatMap { q =>
    val ts = graft.index.Tokenizer.tokens(q.text).distinct
    ts.map(t => (q.query_id, t, ts.length))
  }

  private val QtValuesSql: String = qtRows
    .map { case (q, t, n) => s"($q, '$t', $n)" }.mkString(", ")

  private val PhValuesSql: String = GatePhrases
    .map(q => s"(${q.query_id}, '${q.text}')").mkString(", ")

  private val SpValuesSql: String = GateSubstrings
    .map { case (id, p) => s"($id, '${p.replace("'", "''")}')" }
    .mkString(", ")

  /** Minhash signature width for the q_docorder gate (small: the gate
    * verifies the sort's EXACT reproducibility, not clustering quality). */
  val DocOrderNHashes = 8

  /** Generated from the SAME CrossHash.minhashCoeff the Scala side uses,
    * so the SQL literals can never drift from the engine. */
  private val DocOrderSigSql: String = (0 until DocOrderNHashes).map { i =>
    val (a, b) = graft.util.CrossHash.minhashCoeff(i)
    s"min(($a * x31 + $b) % 2147483647) AS s$i"
  }.mkString(",\n               ")

  private val DocOrderRankSql: String =
    (0 until DocOrderNHashes).map(i => s"s$i").mkString(", ")

  /** df-cap threshold mirroring DocOrder.signatures exactly:
    * max(MinDfCap, ceil(DefaultMaxDfFraction · n_docs)), with n_docs the
    * FULL corpus row count — generated from the same shared constants. */
  private val DocOrderDfCapSql: String =
    s"GREATEST(${graft.index.DocOrder.MinDfCap}, CAST(ceil(" +
      s"${graft.index.DocOrder.DefaultMaxDfFraction} * " +
      "(SELECT count(*) FROM ids)) AS BIGINT))"

  // ---- shared SQL prelude (DuckDB): identical corpus mapping,
  //      docID assignment, tokenizer, postings, dict, stats -------------
  private val Prelude = s"""
    |WITH corpus AS (
    |  SELECT source AS repo,
    |         'doc_' || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.txt' AS path,
    |         substr(md5(text), 1, 8) AS commit_id,
    |         lang, text AS content
    |  FROM documents),
    |ids AS (
    |  SELECT repo, path, commit_id, lang, content,
    |         row_number() OVER (ORDER BY repo, path, commit_id) - 1 AS doc_id,
    |         len(list_filter(string_split_regex(lower(content), '[^a-z0-9_]+'),
    |             x -> x <> '')) AS dl
    |  FROM corpus),
    |toks AS (
    |  SELECT doc_id,
    |         unnest(list_filter(string_split_regex(lower(content), '[^a-z0-9_]+'),
    |                x -> x <> '')) AS term
    |  FROM ids),
    |postings AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
    |dict AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
    |         FROM postings GROUP BY 1),
    |stats AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM ids),
    |qt(query_id, term, n_terms) AS (VALUES $QtValuesSql)
    |""".stripMargin

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  // =====================================================================
  // Query implementations (Spark side)
  // =====================================================================

  def qCorpus(s: SparkSession, dir: String): DataFrame =
    Corpus.fromDocuments(s, dir)
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        md5(col("content")).as("content_md5"))

  def qDocmeta(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${indexDir(s, dir)}/docmeta")
      .select(col("doc_id").cast("long"), col("repo"), col("path"),
        col("commit"), col("dl").cast("long").as("dl"), col("content_sha256"))

  def qDictionary(s: SparkSession, dir: String): DataFrame =
    Builder.dictionary(s, indexDir(s, dir))
      .select(col("term"), col("df").cast("long"), col("cf").cast("long"))

  def qStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(Builder.loadStats(s, indexDir(s, dir))).toDF()
      .select(col("n_docs").cast("long"), round(col("avgdl"), 6).as("avgdl"))
  }

  def qPostings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"${indexDir(s, dir)}/postings")
      .select(col("term"),
        graft.functions.DecodePostings.rows(col("num_docs"),
          col("doc_deltas"), col("tfs"), col("dls"))
          .as(Seq("doc_id", "tf", "dl")))
      .select(col("term"), col("doc_id").cast("long"),
        col("tf").cast("long").as("tf"))
  }

  def qTopkBm25(s: SparkSession, dir: String): DataFrame =
    Searcher.searchTopK(s, indexDir(s, dir), GateQueries, 10,
        Searcher.And, nBuckets = gateConfig.nBuckets)
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("doc_id").cast("long"), col("score"))

  def qTopkResolved(s: SparkSession, dir: String): DataFrame =
    Searcher.resolve(s, indexDir(s, dir),
        Searcher.searchTopK(s, indexDir(s, dir), GateQueries, 5,
          Searcher.And, nBuckets = gateConfig.nBuckets))
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("doc_id").cast("long"), col("score"), col("repo"), col("path"),
        col("commit"))

  def qTopkOr(s: SparkSession, dir: String): DataFrame =
    Searcher.searchTopK(s, indexDir(s, dir), GateQueries, 10,
        Searcher.Or, nBuckets = gateConfig.nBuckets)
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("doc_id").cast("long"), col("score"))

  /** Ordering producer (the `gin permutation` analog): the minhash-
    * clustering doc order, hash-checked against a DuckDB re-derivation
    * of the same signature sort (CrossHash keeps the minhash arithmetic
    * exactly reproducible in SQL). maxDfFraction = 1.0 keeps the gate
    * covering the FULL 500-doc permutation — the sf corpus's vocabulary
    * is tiny (~31 terms), so the df-capped DEFAULT drops most docs here;
    * the filtered path gets its own gate (q_docorder_dfcap) below. */
  def qDocOrder(s: SparkSession, dir: String): DataFrame =
    graft.index.DocOrder.minhashPermutation(Corpus.fromDocuments(s, dir),
        nHashes = DocOrderNHashes, maxDfFraction = 1.0)
      .select(col("repo"), col("path"), col("commit"),
        col("ord").cast("long"))

  /** The df-capped DEFAULT path of the ordering producer: docs whose
    * every term exceeds the cap drop out of the permutation (sorted
    * last in identity order by withPermutation) — the oracle mirrors
    * the cap, the survivor set, and the sort. */
  def qDocOrderDfcap(s: SparkSession, dir: String): DataFrame =
    graft.index.DocOrder.minhashPermutation(Corpus.fromDocuments(s, dir),
        nHashes = DocOrderNHashes)
      .select(col("repo"), col("path"), col("commit"),
        col("ord").cast("long"))

  def qPhrase(s: SparkSession, dir: String): DataFrame =
    graft.query.Phrase.searchTopK(s, indexDir(s, dir), GatePhrases, 10)
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("doc_id").cast("long"), col("score"))

  def qMatchCount(s: SparkSession, dir: String): DataFrame =
    Searcher.countMatches(s, indexDir(s, dir), GateQueries,
        nBuckets = gateConfig.nBuckets)
      .select(col("query_id").cast("long"), col("n_matches").cast("long"))

  def qBooleanAnd(s: SparkSession, dir: String): DataFrame =
    Searcher.searchCandidates(s, indexDir(s, dir), GateQueries,
        nBuckets = gateConfig.nBuckets)
      .select(col("query_id").cast("long"), col("doc_id").cast("long"))

  /** Bigram spectrum — the k-mer spectrum analog (gin utils spectrum,
    * /root/reference/src/gin_graph.c:164-280). */
  def qSpectrumBigram(s: SparkSession, dir: String): DataFrame =
    // k=2 spectrum through the shared typed k-gram walk (the inline
    // zip_with form was interpreted — CodegenFallback); same strings,
    // same counts, output column renamed to the gate schema
    Dedup.kgramSpectrum(docs(s, dir), 2)
      .select(col("gram").as("bigram"), col("n"))

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(s, dir))
      .select(col("content_sha256"), col("n_docs").cast("long"),
        col("min_doc_id").cast("long"))

  def qNearDupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docs(s, dir), k = 3, minJ = 0.5,
        maxShingleDf = MaxShingleDf)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("jaccard"))

  /** Near-dup clusters: connected components over the jaccard pair graph
    * (same constants as q_neardup_jaccard) — every doc mapped to the
    * smallest reachable doc_id. */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.jaccardPairs(d, k = 3, minJ = 0.5,
      maxShingleDf = MaxShingleDf)
    Dedup.connectedComponents(d.select(col("doc_id")), pairs)
      .select(col("doc_id").cast("long"), col("cluster_rep").cast("long"))
  }

  /** Composite clean-corpus verdict (quality > lang > exact_dup >
    * near_dup > keep), same dedup constants as q_dedup_clusters. */
  def qCleanCorpus(s: SparkSession, dir: String): DataFrame =
    ops.Pipeline.cleanCorpus(docs(s, dir), keepLangs = CleanKeepLangs,
        minTokens = CleanMinTokens, maxTokens = CleanMaxTokens,
        shingleK = 3, minJaccard = 0.5, maxShingleDf = MaxShingleDf)
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"),
        col("lang_pred"), col("keep"), col("drop_reason"))

  def qMinhashCandidates(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(docs(s, dir), k = 3, nHashes = MinhashN,
        bands = MinhashBands, maxBucket = MinhashMaxBucket)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))

  def qSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir))

  def qLangId(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(docs(s, dir))
      .select(col("doc_id").cast("long"), col("lang_pred"))

  def qQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.quality(docs(s, dir))
      .select(col("doc_id").cast("long"), col("n_tokens"),
        col("avg_token_len"), col("stopword_ratio"), col("quality_ok"))

  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(docs(s, dir))
      .select(col("doc_id").cast("long"), col("n_ws_tokens"),
        col("n_re_tokens"))

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(docs(s, dir))
      .select(col("doc_id").cast("long"), col("fingerprint"))

  def qAnnCosine(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Ann.bruteForceTopK(e.filter(col("vec_id") < 20), e, k = 5)
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("neighbor_id").cast("long"), col("cos"))
  }

  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Ann.lshTopK(e.filter(col("vec_id") < 20), e, k = 5,
        nPlanes = LshPlanes, nTables = LshTables, dims = LshDims,
        maxBucket = AnnMaxBucket)
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("neighbor_id").cast("long"), col("cos"))
  }

  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Ann.ivfTopK(e.filter(col("vec_id") < 20), e, k = 5,
        nCentroids = IvfCentroids, nProbe = IvfProbe, dims = LshDims)
      .select(col("query_id").cast("long"), col("rank").cast("long"),
        col("neighbor_id").cast("long"), col("cos"))
  }

  def qCosineNearDup(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDupPairs(embs(s, dir), minCos = NdMinCos,
        nPlanes = NdPlanes, nTables = NdTables, dims = LshDims,
        maxBucket = NdMaxBucket)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("cos"))

  /** Embedding near-dup clusters: cosine pair graph (same constants as
    * q_cosine_neardup) closed into connected components. */
  def qEmbedClusters(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val pairs = Ann.cosineNearDupPairs(e, minCos = NdMinCos,
      nPlanes = NdPlanes, nTables = NdTables, dims = LshDims,
      maxBucket = NdMaxBucket)
    graft.ops.Dedup.connectedComponents(
        e.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").cast("long").as("vec_id"),
        col("cluster_rep").cast("long"))
  }

  def qSpectrumK3(s: SparkSession, dir: String): DataFrame =
    Dedup.kgramSpectrum(docs(s, dir), 3)
      .select(col("gram"), col("n"))

  /** Phrase occurrence decode: every (doc, 0-based token position) where
    * a gate phrase starts — the token-domain full match decode. */
  def qPhraseOffsets(s: SparkSession, dir: String): DataFrame =
    graft.query.Phrase.findOccurrences(s, indexDir(s, dir), GatePhrases,
        maxMatches = OffsetsMaxMatches)
      .select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("pos").cast("long"))

  /** k-gram spectrum with origins (gin utils spectrum emits k-mers with
    * their origin vertices). */
  def qSpectrumOrigins(s: SparkSession, dir: String): DataFrame =
    Dedup.kgramOrigins(docs(s, dir), 3)
      .select(col("gram"), col("doc_id").cast("long"), col("n"))

  def qSubstring(s: SparkSession, dir: String): DataFrame =
    graft.query.Substring.find(s, indexDir(s, dir), GateSubstrings,
        nBuckets = gateConfig.nBuckets, allowShortScan = true)
      .select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("n_matches").cast("long"), col("first_offset").cast("long"))

  /** Full match decode — every (doc, 0-based offset) occurrence of each
    * gate pattern, capped at OffsetsMaxMatches smallest (doc, offset)
    * pairs per query (the reference's per-match `(v:…,o:…)` output under
    * --max-matches, /root/reference/src/gin_gin.c:817-885). */
  def qOffsets(s: SparkSession, dir: String): DataFrame =
    graft.query.Substring.findOffsets(s, indexDir(s, dir), GateSubstrings,
        nBuckets = gateConfig.nBuckets, maxMatches = OffsetsMaxMatches,
        allowShortScan = true)
      .select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("offset").cast("long"))

  /** Snippets: the capped offset decode joined back to content with a
    * SnippetCtx-char window on each side. */
  def qSnippets(s: SparkSession, dir: String): DataFrame =
    graft.query.Substring.snippets(s, indexDir(s, dir), GateSubstrings,
        ctx = SnippetCtx, nBuckets = gateConfig.nBuckets,
        maxMatches = OffsetsMaxMatches, allowShortScan = true)
      .select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("offset").cast("long"), col("snippet"))

  def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    ops.Events.windowedTypeCounts(events(s, dir), "6 hours")
      .select(col("window_start").cast("long"), col("event_type"),
        col("n_events").cast("long"), col("sum_value"))

  def qSessionize(s: SparkSession, dir: String): DataFrame =
    ops.Events.sessionize(events(s, dir), gapMinutes = 30)
      .select(col("user_id").cast("long"), col("session_start").cast("long"),
        col("n_events").cast("long"), col("sum_value"))

  /** The skew-proof two-phase form must produce the IDENTICAL session
    * table (same oracle SQL as q_sessionize): range-partitioned
    * timeline + boundary-session chain merge vs the per-user window. */
  def qSessionizePart(s: SparkSession, dir: String): DataFrame =
    ops.Events.sessionizePartitioned(events(s, dir), gapMinutes = 30)
      .select(col("user_id").cast("long"), col("session_start").cast("long"),
        col("n_events").cast("long"), col("sum_value"))

  def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.extractFeatures(Multimodal.asMediaTable(docs(s, dir)))
      .select(col("doc_id").cast("long"), col("media_type"),
        col("n_bytes").cast("long"),
        round(element_at(col("feature"), 1), 6).as("mean_byte"))
  }

  // =====================================================================
  // Oracle SQL (DuckDB dialect, same parquet tables)
  // =====================================================================

  val oracle: Map[String, String] = Map(
    "q_corpus" -> s"""$Prelude
      SELECT repo, path, commit_id AS "commit", lang, md5(content) AS content_md5
      FROM corpus""",

    "q_docmeta" -> s"""$Prelude
      SELECT doc_id, repo, path, commit_id AS "commit",
             CAST(dl AS BIGINT) AS dl, sha256(content) AS content_sha256
      FROM ids""",

    "q_dictionary" -> s"""$Prelude SELECT term, df, cf FROM dict""",

    "q_stats" -> s"""$Prelude
      SELECT n_docs, round(avgdl, 6) AS avgdl FROM stats""",

    "q_postings" -> s"""$Prelude
      SELECT term, doc_id, CAST(tf AS BIGINT) AS tf FROM postings""",

    "q_topk_bm25" -> topkSql(10,
      "SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10"),

    "q_topk_or" -> topkSql(10,
      "SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10",
      conj = false),

    "q_topk_resolved" -> topkSql(5,
      """SELECT r.query_id, r.rank, r.doc_id, r.score,
               i.repo, i.path, i.commit_id AS "commit"
         FROM ranked r JOIN ids i USING (doc_id) WHERE r.rank <= 5"""),

    "q_docorder" -> s"""$Prelude,
      dtoks AS (
        SELECT DISTINCT i.repo, i.path, i.commit_id, t.term
        FROM toks t JOIN ids i USING (doc_id)),
      xs AS (
        SELECT repo, path, commit_id,
               ${graft.util.CrossHash.h60Sql("term")} % 2147483647 AS x31
        FROM dtoks),
      sig AS (
        SELECT repo, path, commit_id, $DocOrderSigSql
        FROM xs GROUP BY 1, 2, 3)
      SELECT repo, path, commit_id AS "commit",
             row_number() OVER (ORDER BY $DocOrderRankSql,
               repo, path, commit_id) - 1 AS ord
      FROM sig""",

    "q_docorder_dfcap" -> s"""$Prelude,
      dtoks AS (
        SELECT DISTINCT i.repo, i.path, i.commit_id, t.term
        FROM toks t JOIN ids i USING (doc_id)),
      -- df cap: Zipf-head terms carry no locality signal (mirrors
      -- DocOrder.signatures: df counted over distinct (doc, term))
      hot AS (
        SELECT term FROM dtoks GROUP BY term
        HAVING count(*) > $DocOrderDfCapSql),
      kept AS (
        SELECT d.* FROM dtoks d ANTI JOIN hot h USING (term)),
      xs AS (
        SELECT repo, path, commit_id,
               ${graft.util.CrossHash.h60Sql("term")} % 2147483647 AS x31
        FROM kept),
      sig AS (
        SELECT repo, path, commit_id, $DocOrderSigSql
        FROM xs GROUP BY 1, 2, 3)
      SELECT repo, path, commit_id AS "commit",
             row_number() OVER (ORDER BY $DocOrderRankSql,
               repo, path, commit_id) - 1 AS ord
      FROM sig""",

    "q_phrase" -> s"""$Prelude,
      ph(query_id, phrase) AS (VALUES $PhValuesSql),
      phn AS (SELECT query_id, phrase, string_split(phrase, ' ') AS pts FROM ph),
      pt AS (SELECT DISTINCT query_id, unnest(pts) AS term FROM phn),
      tl AS (SELECT doc_id, list_filter(string_split_regex(lower(content),
               '[^a-z0-9_]+'), x -> x <> '') AS t
             FROM ids),
      matched AS (
        SELECT p.query_id, d.doc_id
        FROM phn p, tl d
        WHERE len(d.t) >= len(p.pts)
          AND list_contains(
            list_transform(range(len(d.t) - len(p.pts) + 1),
              i -> array_to_string(d.t[i+1 : i+len(p.pts)], ' ')),
            p.phrase)),
      scoredp AS (
        SELECT q.query_id, p.doc_id,
          sum(ln(1 + (s.n_docs - dd.df + 0.5) / (dd.df + 0.5)) * 2.2 * p.tf /
              (p.tf + 1.2 * (0.25 + 0.75 * i.dl / s.avgdl))) AS raw
        FROM pt q
        JOIN dict dd USING (term)
        JOIN postings p USING (term)
        JOIN ids i USING (doc_id)
        JOIN matched m ON m.query_id = q.query_id AND m.doc_id = p.doc_id
        CROSS JOIN stats s
        GROUP BY 1, 2),
      rankedp AS (
        SELECT query_id, doc_id, round(raw, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(raw, 6) DESC, doc_id) AS rank
        FROM scoredp)
      SELECT query_id, rank, doc_id, score FROM rankedp WHERE rank <= 10""",

    "q_match_count" -> s"""$Prelude,
      counts AS (
        SELECT q.query_id, p.doc_id, count(*) AS nmatch, max(q.n_terms) AS n_terms
        FROM qt q JOIN postings p USING (term)
        GROUP BY 1, 2),
      matched AS (
        SELECT query_id, count(*) AS n_matches FROM counts
        WHERE nmatch = n_terms GROUP BY 1)
      SELECT q.query_id, CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches
      FROM (SELECT DISTINCT query_id FROM qt) q
      LEFT JOIN matched m USING (query_id)""",

    "q_boolean_and" -> s"""$Prelude,
      counts AS (
        SELECT q.query_id, p.doc_id, count(*) AS nmatch, max(q.n_terms) AS n_terms
        FROM qt q JOIN postings p USING (term)
        GROUP BY 1, 2)
      SELECT query_id, doc_id FROM counts WHERE nmatch = n_terms""",

    "q_spectrum_bigram" -> """
      WITH tl AS (SELECT
               list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                 x -> x <> '') AS t
             FROM documents),
      bg AS (
        SELECT unnest(list_transform(range(len(t) - 1),
                 p -> t[p + 1] || ' ' || t[p + 2])) AS bigram
        FROM tl WHERE len(t) >= 2)
      SELECT bigram, count(*) AS n FROM bg GROUP BY 1""",

    "q_dedup_exact" -> """
      SELECT sha256(text) AS content_sha256, count(*) AS n_docs,
             min(doc_id) AS min_doc_id
      FROM documents GROUP BY 1""",

    "q_neardup_jaccard" -> s"""
      WITH RECURSIVE $ClusterCtes
      SELECT doc_a, doc_b, jaccard FROM pr""",

    // connected components via a recursive CTE: reach(d, r) holds every
    // (doc, reachable-id) pair over the symmetric near-dup edge set;
    // min(r) per doc = the cluster representative (UNION dedups rows, so
    // the recursion terminates at the transitive closure)
    "q_dedup_clusters" -> s"""
      WITH RECURSIVE $ClusterCtes
      SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1""",

    // composite clean-corpus verdict: every signal computed over the FULL
    // corpus (same constants as the standalone gates), fixed precedence
    "q_clean_corpus" -> s"""
      WITH RECURSIVE $ClusterCtes,
      cc AS (SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
      v AS (
        SELECT doc_id, len(t) AS n_tokens,
          $LangVotesSql
        FROM tl),
      lang AS (
        SELECT doc_id, n_tokens,
          $LangCaseSql AS lang_pred
        FROM v),
      exg AS (SELECT sha256(text) AS h, min(doc_id) AS exact_rep
              FROM documents GROUP BY 1),
      exf AS (SELECT d.doc_id, e.exact_rep
              FROM documents d JOIN exg e ON sha256(d.text) = e.h),
      verdict AS (
        SELECT l.doc_id, l.n_tokens, l.lang_pred,
          CASE WHEN l.n_tokens < $CleanMinTokens
                 OR l.n_tokens > $CleanMaxTokens THEN 'quality'
               WHEN l.lang_pred NOT IN (${CleanKeepLangs
                 .map(l => s"'$l'").mkString(", ")}) THEN 'lang'
               WHEN l.doc_id <> x.exact_rep THEN 'exact_dup'
               WHEN l.doc_id <> c.cluster_rep THEN 'near_dup'
               ELSE 'keep' END AS drop_reason
        FROM lang l JOIN exf x USING (doc_id) JOIN cc c USING (doc_id))
      SELECT doc_id, n_tokens, lang_pred,
             drop_reason = 'keep' AS keep, drop_reason
      FROM verdict""",

    "q_langid" -> s"""
      WITH $TlCte,
      v AS (
        SELECT doc_id,
          $LangVotesSql
        FROM tl)
      SELECT doc_id,
        $LangCaseSql AS lang_pred
      FROM v""",

    "q_quality" -> """
      WITH tl AS (SELECT doc_id, text AS content,
               list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                 x -> x <> '') AS t
             FROM documents)
      SELECT doc_id,
        CAST(len(t) AS BIGINT) AS n_tokens,
        round(CAST(length(regexp_replace(content, '\s+', '', 'g')) AS DOUBLE)
              / greatest(len(t), 1), 6) AS avg_token_len,
        round(CAST(len(list_filter(t,
                x -> x IN ('the','a','of','and','to','in','is','it')))
              AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio,
        len(t) BETWEEN 10 AND 100000 AS quality_ok
      FROM tl""",

    "q_token_count" -> """
      SELECT doc_id,
        CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
          AS BIGINT) AS n_ws_tokens,
        CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
          x -> x <> '')) AS BIGINT) AS n_re_tokens
      FROM documents""",

    // Probabilistic/hash ops are built on CrossHash.h60 (md5-derived) and
    // exact integer arithmetic, so every one of them has a full DuckDB
    // oracle — the reference's everything-is-diffable discipline
    // (/root/reference/src/gin_graph.c:282-388).
    "q_fingerprint" -> s"""
      WITH $TlCte
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(t, x -> ${H60("x")} % 1000000007)),
          (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
      FROM tl""",

    "q_simhash" -> s"""
      WITH $TlCte,
      tok AS (SELECT doc_id, unnest(t) AS x FROM tl),
      th AS (SELECT doc_id, ${H60("x")} AS h FROM tok),
      bits AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1
                        THEN 1 ELSE -1 END) AS c
        FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bb
        GROUP BY 1, 2),
      sig AS (
        SELECT doc_id,
               sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                        ELSE 0 END) AS simhash
        FROM bits GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash
      FROM documents d LEFT JOIN sig s USING (doc_id)""",

    "q_minhash_candidates" -> s"""
      WITH $TlCte,
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(len(t) - 2),
                 p -> t[p + 1] || ' ' || t[p + 2] || ' ' || t[p + 3])) AS shingle
        FROM tl WHERE len(t) >= 3),
      x AS (SELECT doc_id, ${H60("shingle")} % 2147483647 AS x31 FROM sh),
      co(i, a, b) AS (VALUES $MinhashCoeffSql),
      hv AS (SELECT doc_id, i, min((a * x31 + b) % 2147483647) AS h
             FROM x CROSS JOIN co GROUP BY 1, 2),
      banded AS (
        SELECT doc_id, (i // ${MinhashN / MinhashBands}) AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bkey
        FROM hv GROUP BY 1, 2),
      ok AS (SELECT band, bkey FROM banded GROUP BY band, bkey
             HAVING count(*) <= $MinhashMaxBucket),
      kept AS (SELECT banded.* FROM banded JOIN ok USING (band, bkey))
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""",

    "q_ann_lsh" -> s"""
      WITH ${lshCtes(LshPlanes, LshTables)},
      okb AS (SELECT t, bucket FROM buck GROUP BY t, bucket
              HAVING count(*) <= $AnnMaxBucket),
      buckc AS (SELECT buck.* FROM buck JOIN okb USING (t, bucket)),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buck q JOIN buckc c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
      dots AS (
        SELECT cd.query_id, cd.neighbor_id, sum(a.v * b.v) AS dot
        FROM cand cd
        JOIN ex a ON a.vec_id = cd.query_id
        JOIN ex b ON b.vec_id = cd.neighbor_id AND b.pos = a.pos
        GROUP BY 1, 2),
      cosv AS (
        SELECT d.query_id, d.neighbor_id,
               round(d.dot / (na.nrm * nb.nrm), 6) AS cos
        FROM dots d
        JOIN norms na ON na.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM cosv)
      SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5""",

    // IVF: cell assignment by exact BIGINT dot over quantized components
    // (ties -> lowest centroid id) — bit-identical partition to the
    // engine; exact cosine re-rank over probed cells only
    "q_ann_ivf" -> s"""
      WITH eq AS (SELECT vec_id, unnest(range(len(embedding))) AS d,
                    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                         AS BIGINT) AS e
                  FROM embeddings),
      -- autoCentroids mirror: clamp(ceil(sqrt(n)), 16, 65536)
      ncent AS (SELECT LEAST(65536, GREATEST(16,
                  CAST(ceil(sqrt(count(*))) AS BIGINT))) AS nc
                FROM embeddings),
      cids AS (SELECT vec_id
               FROM (SELECT DISTINCT vec_id FROM embeddings), ncent
               QUALIFY row_number() OVER (ORDER BY vec_id) <= nc),
      cent AS (SELECT eq.vec_id AS cid, d, e
               FROM eq JOIN cids USING (vec_id)),
      adots AS (SELECT eq.vec_id, c.cid, sum(eq.e * c.e) AS s
                FROM eq JOIN cent c ON c.d = eq.d GROUP BY 1, 2),
      cell AS (SELECT vec_id AS neighbor_id, cid FROM adots
               QUALIFY row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, cid) = 1),
      probes AS (SELECT vec_id AS query_id, cid FROM adots
                 WHERE vec_id < 20
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cid) <= $IvfProbe),
      cand AS (SELECT DISTINCT p.query_id, a.neighbor_id
               FROM probes p JOIN cell a ON a.cid = p.cid
               WHERE a.neighbor_id <> p.query_id),
      ex AS (SELECT vec_id, unnest(range(len(embedding))) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
      dots AS (
        SELECT cd.query_id, cd.neighbor_id, sum(a.v * b.v) AS dot
        FROM cand cd
        JOIN ex a ON a.vec_id = cd.query_id
        JOIN ex b ON b.vec_id = cd.neighbor_id AND b.pos = a.pos
        GROUP BY 1, 2),
      cosv AS (
        SELECT d.query_id, d.neighbor_id,
               round(d.dot / (na.nrm * nb.nrm), 6) AS cos
        FROM dots d
        JOIN norms na ON na.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM cosv)
      SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5""",

    "q_cosine_neardup" -> s"""
      WITH ${lshCtes(NdPlanes, NdTables)},$CosinePairCtes
      SELECT doc_a, doc_b, cos FROM cosv WHERE cos >= $NdMinCos""",

    // embedding near-dup clusters: the same pair graph closed into
    // connected components (min reachable vec_id = cluster rep)
    "q_embed_clusters" -> s"""
      WITH RECURSIVE ${lshCtes(NdPlanes, NdTables)},$CosinePairCtes,
      epr AS (SELECT doc_a, doc_b FROM cosv WHERE cos >= $NdMinCos),
      eedges AS (SELECT doc_a AS s, doc_b AS d FROM epr
                 UNION ALL SELECT doc_b, doc_a FROM epr),
      ereach(vec_id, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT g.s, ereach.r
        FROM eedges g JOIN ereach ON ereach.vec_id = g.d)
      SELECT vec_id, min(r) AS cluster_rep FROM ereach GROUP BY 1""",

    "q_multimodal" -> """
      SELECT doc_id, 'text/plain' AS media_type,
             CAST(length(text) AS BIGINT) AS n_bytes,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE round(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(range(length(text)),
                           i -> CAST(ascii(substr(text, CAST(i AS INTEGER) + 1, 1))
                                AS BIGINT))),
                         (a, b) -> a + b) / CAST(length(text) AS DOUBLE), 6)
             END AS mean_byte
      FROM documents""",

    "q_spectrum_k3" -> s"""
      WITH $TlCte,
      g AS (SELECT unnest(list_transform(range(len(t) - 2),
              p -> t[p + 1] || ' ' || t[p + 2] || ' ' || t[p + 3])) AS gram
            FROM tl WHERE len(t) >= 3)
      SELECT gram, count(*) AS n FROM g GROUP BY 1""",

    "q_spectrum_origins" -> s"""
      WITH $TlCte,
      g AS (SELECT doc_id,
              unnest(list_transform(range(len(t) - 2),
                p -> t[p + 1] || ' ' || t[p + 2] || ' ' || t[p + 3])) AS gram
            FROM tl WHERE len(t) >= 3)
      SELECT gram, doc_id, count(*) AS n FROM g GROUP BY 1, 2""",

    "q_phrase_offsets" -> s"""$Prelude,
      ph(query_id, phrase) AS (VALUES $PhValuesSql),
      phn AS (SELECT query_id, phrase, string_split(phrase, ' ') AS pts FROM ph),
      tl AS (SELECT doc_id, list_filter(string_split_regex(lower(content),
               '[^a-z0-9_]+'), x -> x <> '') AS t
             FROM ids),
      occ AS (
        SELECT p.query_id, d.doc_id,
               CAST(unnest(list_filter(range(len(d.t) - len(p.pts) + 1),
                 i -> d.t[CAST(i AS INTEGER) + 1 :
                          CAST(i AS INTEGER) + len(p.pts)] = p.pts))
                 AS BIGINT) AS pos
        FROM phn p JOIN tl d ON len(d.t) >= len(p.pts)),
      rankedpo AS (
        SELECT query_id, doc_id, pos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY doc_id, pos) AS rn
        FROM occ)
      SELECT query_id, doc_id, pos FROM rankedpo
      WHERE rn <= $OffsetsMaxMatches""",

    // OVERLAPPING occurrence count + 0-based first offset: the
    // reference's suffix-array decode counts every suffix match
    // (sa_hi - sa_lo), so 'aa' occurs twice in 'aaa'
    "q_substring" -> s"""$Prelude,
      sp(query_id, pat) AS (VALUES $SpValuesSql)
      SELECT sp.query_id, i.doc_id,
             CAST(len(list_filter(
                    range(length(i.content) - length(sp.pat) + 1),
                    p -> substr(i.content, CAST(p AS INTEGER) + 1,
                                length(sp.pat)) = sp.pat)) AS BIGINT)
               AS n_matches,
             CAST(position(sp.pat IN i.content) - 1 AS BIGINT) AS first_offset
      FROM sp JOIN ids i ON position(sp.pat IN i.content) > 0""",

    "q_offsets" -> s"""$Prelude,
      sp(query_id, pat) AS (VALUES $SpValuesSql),
      occ AS (
        SELECT sp.query_id, i.doc_id,
               CAST(unnest(list_filter(
                      range(length(i.content) - length(sp.pat) + 1),
                      p -> substr(i.content, CAST(p AS INTEGER) + 1,
                                  length(sp.pat)) = sp.pat)) AS BIGINT)
                 AS "offset"
        FROM sp JOIN ids i ON contains(i.content, sp.pat)),
      rankedo AS (
        SELECT query_id, doc_id, "offset",
               row_number() OVER (PARTITION BY query_id
                 ORDER BY doc_id, "offset") AS rn
        FROM occ)
      SELECT query_id, doc_id, "offset" FROM rankedo
      WHERE rn <= $OffsetsMaxMatches""",

    // capped offset decode + context window, exact substring arithmetic
    "q_snippets" -> s"""$Prelude,
      sp(query_id, pat) AS (VALUES $SpValuesSql),
      occ AS (
        SELECT sp.query_id, i.doc_id,
               CAST(unnest(list_filter(
                      range(length(i.content) - length(sp.pat) + 1),
                      p -> substr(i.content, CAST(p AS INTEGER) + 1,
                                  length(sp.pat)) = sp.pat)) AS BIGINT)
                 AS "offset"
        FROM sp JOIN ids i ON contains(i.content, sp.pat)),
      rankedo AS (
        SELECT query_id, doc_id, "offset",
               row_number() OVER (PARTITION BY query_id
                 ORDER BY doc_id, "offset") AS rn
        FROM occ),
      capped AS (SELECT query_id, doc_id, "offset" FROM rankedo
                 WHERE rn <= $OffsetsMaxMatches)
      SELECT c.query_id, c.doc_id, c."offset",
             substr(i.content,
                    greatest(c."offset" - $SnippetCtx, 0) + 1,
                    least(c."offset" + length(sp.pat) + $SnippetCtx,
                          length(i.content))
                      - greatest(c."offset" - $SnippetCtx, 0)) AS snippet
      FROM capped c
      JOIN ids i USING (doc_id)
      JOIN sp USING (query_id)""",

    "q_events_window" -> """
      SELECT CAST(epoch_us(time_bucket(INTERVAL '6 hours', ts)) // 1000000
               AS BIGINT) AS window_start,
             event_type, count(*) AS n_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS sum_value
      FROM events GROUP BY 1, 2""",

    "q_sessionize" -> """
      WITH l AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events),
      f AS (
        SELECT user_id, ts, value,
               CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM l),
      g AS (
        SELECT user_id, ts, value,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
      SELECT user_id,
             CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS session_start,
             count(*) AS n_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS sum_value
      FROM g GROUP BY user_id, sid""",

    // the two-phase skew-proof form must reproduce q_sessionize exactly
    "q_sessionize_part" -> """
      WITH l AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events),
      f AS (
        SELECT user_id, ts, value,
               CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM l),
      g AS (
        SELECT user_id, ts, value,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
      SELECT user_id,
             CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS session_start,
             count(*) AS n_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS sum_value
      FROM g GROUP BY user_id, sid""",

    "q_ann_cosine" -> """
      WITH ex AS (
        SELECT vec_id, unnest(range(len(embedding))) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
      norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
      dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               sum(a.v * b.v) AS dot
        FROM ex a JOIN ex b USING (pos)
        WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id
        GROUP BY 1, 2),
      cosv AS (
        SELECT d.query_id, d.neighbor_id,
               round(d.dot / (na.nrm * nb.nrm), 6) AS cos
        FROM dots d
        JOIN norms na ON na.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM cosv)
      SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5"""
  )

  /** Shared BM25 top-k SQL (DuckDB): identical formula shape to the
    * engine's column expression. */
  private def topkSql(k: Int, select: String, conj: Boolean = true): String = {
    val filter = if (conj) "nmatch = n_terms" else "nmatch >= 1"
    s"""$Prelude,
    scored AS (
      SELECT q.query_id, p.doc_id,
             sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * 2.2 * p.tf /
                 (p.tf + 1.2 * (0.25 + 0.75 * i.dl / s.avgdl))) AS raw,
             count(*) AS nmatch, max(q.n_terms) AS n_terms
      FROM qt q
      JOIN dict d USING (term)
      JOIN postings p USING (term)
      JOIN ids i USING (doc_id)
      CROSS JOIN stats s
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, doc_id, round(raw, 6) AS score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(raw, 6) DESC, doc_id) AS rank
      FROM scored WHERE $filter)
    $select"""
  }

  /** name -> Spark implementation. Keys with no `oracle` entry get the
    * driver's weaker rows-only check (probabilistic/LSH/stub operators). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus" -> (qCorpus _),
    "q_docmeta" -> (qDocmeta _),
    "q_dictionary" -> (qDictionary _),
    "q_stats" -> (qStats _),
    "q_postings" -> (qPostings _),
    "q_topk_bm25" -> (qTopkBm25 _),
    "q_topk_resolved" -> (qTopkResolved _),
    "q_topk_or" -> (qTopkOr _),
    "q_docorder" -> (qDocOrder _),
    "q_docorder_dfcap" -> (qDocOrderDfcap _),
    "q_phrase" -> (qPhrase _),
    "q_match_count" -> (qMatchCount _),
    "q_boolean_and" -> (qBooleanAnd _),
    "q_spectrum_bigram" -> (qSpectrumBigram _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_neardup_jaccard" -> (qNearDupJaccard _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_clean_corpus" -> (qCleanCorpus _),
    "q_minhash_candidates" -> (qMinhashCandidates _),
    "q_simhash" -> (qSimhash _),
    "q_langid" -> (qLangId _),
    "q_quality" -> (qQuality _),
    "q_token_count" -> (qTokenCount _),
    "q_fingerprint" -> (qFingerprint _),
    "q_ann_cosine" -> (qAnnCosine _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_cosine_neardup" -> (qCosineNearDup _),
    "q_embed_clusters" -> (qEmbedClusters _),
    "q_spectrum_k3" -> (qSpectrumK3 _),
    "q_spectrum_origins" -> (qSpectrumOrigins _),
    "q_substring" -> (qSubstring _),
    "q_offsets" -> (qOffsets _),
    "q_snippets" -> (qSnippets _),
    "q_phrase_offsets" -> (qPhraseOffsets _),
    "q_events_window" -> (qEventsWindow _),
    "q_sessionize" -> (qSessionize _),
    "q_sessionize_part" -> (qSessionizePart _),
    "q_multimodal" -> (qMultimodal _))
}
