package graft.index

/** Index-table row types (FIXTURES.md §3).
  *
  * The Spark-side replacement for the reference's single serialized index
  * blob (/root/reference/src/gin_gin.c:1824-1907): instead of one bitstream
  * holding FMI + rank-translation + IMT, the index is a set of Parquet
  * tables with per-stage `_COMMIT_*` markers; the stats marker holds the
  * collection stats (Builder.loadStats).
  */

/** Corpus row — exact input_hint shape. */
case class CodeDoc(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** Id-stamped corpus snapshot row: the ingest freeze plus the per-doc
  * derived fields (dl, sha256) computed in the SAME pass, so the corpus
  * is tokenized for metadata exactly once. docmeta/ is then a
  * column-pruned projection of this table (content never re-read). */
case class CorpusRow(
    doc_id: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    dl: Int,
    content_sha256: String,
    content: String)

/** Uncompressed posting (build intermediate; also the "raw" staged table). */
case class Posting(term: String, doc_id: Long, tf: Int, dl: Int)

/** Compressed posting block: up to blockSize (doc_id, tf, dl) triples;
  * doc ids delta+varint, tf/dl plain varint; block-max metadata for
  * skip/WAND pruning — analog of the sampled-SA blocks
  * (/root/reference/src/gin_fmi.c:157-236). */
case class PostingBlock(
    term: String,
    block_id: Int,
    doc_id_base: Long,
    doc_id_max: Long,
    num_docs: Int,
    max_tf: Int,  // max term frequency in the block
    min_dl: Int,  // min doc length in the block; tfNorm(max_tf, min_dl, avgdl)
                  // upper-bounds every member score for ANY avgdl (tfNorm is
                  // monotone in tf and anti-monotone in dl), so block-max
                  // pruning stays exact when collection stats drift under
                  // incremental ingest
    doc_deltas: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte])

/** Global collection stats. */
case class Stats(n_docs: Long, avgdl: Double)

object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** Robertson-Sparck-Jones idf, always positive. */
  def idf(nDocs: Long, df: Long): Double =
    math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))

  /** Length-normalized tf factor in [0, 1). */
  def tfNorm(tf: Int, dl: Int, avgdl: Double): Double =
    tf / (tf + K1 * (1 - B + B * dl / avgdl))

  /** Single-term contribution. */
  def score(tf: Int, dl: Int, avgdl: Double, nDocs: Long, df: Long): Double =
    idf(nDocs, df) * (K1 + 1.0) * tfNorm(tf, dl, avgdl)

  /** Ranking-grade rounding (6 dp, HALF_UP): applied before every rank so
    * ordering is reproducible across engines (oracle parity). */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
