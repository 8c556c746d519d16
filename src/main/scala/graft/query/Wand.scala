package graft.query

import graft.index.{Bm25, Codec, PostingBlock}

/** Exact block-max WAND (BMW) top-k scorer over compressed posting
  * blocks — the analog of the reference's fork advance + budget pruning
  * (`max_forks`, /root/reference/src/gin_gin.c:539-644): per-term
  * cursors walk block lists in docID order, whole blocks are skipped
  * (never decoded) when their block-max upper bound cannot beat the
  * current top-k threshold.
  *
  * Exactness: ranking is by (score rounded to 6dp DESC, doc_id ASC) —
  * identical to `Oracle.topK` and the DuckDB oracle. Skip decisions
  * compare upper bounds against (θ - 1e-6) so rounding can never discard
  * a doc that would round into the top-k.
  *
  * This is the one search kernel: every Searcher top-k path runs it, and
  * unranked AND matching (`matches`: match lists, counts, phrase
  * candidates) runs the same AND loop with a different sink. The AND
  * cursor's metadata skip is the doc-level form of a data-induced
  * predicate: a term's blocks that hold none of the other terms' docs
  * are never decoded. Executors/the handle deliver the (term-pruned,
  * compact) block lists; the per-query merge is a single tight loop —
  * the same split Lucene-style engines use. Posting volumes beyond one
  * group's memory are handled by doc-range striping ([minDoc, maxDoc]
  * below).
  */
object Wand {

  val Eps = 1e-6

  /** One term's posting blocks, sorted by doc_id_base, plus its idf. */
  case class TermBlocks(term: String, idf: Double, blocks: Array[PostingBlock])

  /** Query mode, also exposed as `Searcher.Mode`/`And`/`Or`. */
  sealed trait Mode
  case object And extends Mode
  case object Or extends Mode

  private final class Cursor(val idf: Double, blocks: Array[PostingBlock],
                             avgdl: Double) {
    private var bi = 0
    private var di = 0
    private var ids: Array[Long] = _
    private var tfs: Array[Int] = _
    private var dls: Array[Int] = _
    var blocksDecoded = 0 // stats: how many blocks were actually decoded
    decodeIfNeeded()

    /** Global upper bound of this term's contribution. */
    val termUB: Double =
      if (blocks.isEmpty) 0.0
      else idf * (Bm25.K1 + 1.0) *
        blocks.map(b => Bm25.tfNorm(b.max_tf, b.min_dl, avgdl)).max

    def exhausted: Boolean = bi >= blocks.length

    def currentDoc: Long = {
      if (exhausted) Long.MaxValue
      else { decodeIfNeeded(); ids(di) }
    }

    /** Upper bound of the current block's contribution. */
    def blockUB: Double =
      if (exhausted) 0.0
      else idf * (Bm25.K1 + 1.0) *
        Bm25.tfNorm(blocks(bi).max_tf, blocks(bi).min_dl, avgdl)

    /** Metadata-only block positioning: move past blocks whose max <
      * target WITHOUT decoding. Returns false when exhausted. */
    def seekBlock(target: Long): Boolean = {
      while (bi < blocks.length && blocks(bi).doc_id_max < target) {
        bi += 1; di = 0; ids = null
      }
      bi < blocks.length
    }

    /** Lower bound of this cursor's next doc, metadata-only: the decoded
      * position if available, else the current block's base. */
    def lowerBound: Long =
      if (exhausted) Long.MaxValue
      else if (ids != null) ids(di)
      else blocks(bi).doc_id_base

    /** Current block's max doc id (metadata). */
    def blockMax: Long =
      if (exhausted) Long.MaxValue else blocks(bi).doc_id_max

    def scoreCurrent(): Double = {
      decodeIfNeeded()
      idf * (Bm25.K1 + 1.0) * Bm25.tfNorm(tfs(di), dls(di), avgdl)
    }

    /** Advance to the first doc >= target. Skips whole blocks by their
      * [base, max] metadata without decoding. Returns currentDoc. */
    def advanceTo(target: Long): Long = {
      if (!seekBlock(target)) return Long.MaxValue // no decode
      decodeIfNeeded()
      if (ids(di) >= target) return ids(di)
      // binary search inside the decoded block
      var lo = di; var hi = ids.length - 1
      if (ids(hi) < target) { // cannot happen: block max >= target
        di = hi
      } else {
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ids(mid) < target) lo = mid + 1 else hi = mid
        }
        di = lo
      }
      ids(di)
    }

    /** Advance past the current doc. */
    def next(): Long = {
      if (exhausted) return Long.MaxValue
      decodeIfNeeded()
      di += 1
      if (di >= ids.length) { bi += 1; di = 0; ids = null }
      currentDoc
    }

    private def decodeIfNeeded(): Unit = {
      if (ids == null && bi < blocks.length) {
        val b = blocks(bi)
        ids = Codec.decodeDeltas(b.doc_deltas, b.num_docs)
        tfs = Codec.decodeInts(b.tfs, b.num_docs)
        dls = Codec.decodeInts(b.dls, b.num_docs)
        blocksDecoded += 1
      }
    }
  }

  /** Per-query work counters — the reference's per-query stats analog
    * (gin_gin_stats_t, /root/reference/include/gin_gin.h:93-98). */
  case class QueryStats(blocksTotal: Int, blocksDecoded: Int,
                        docsScored: Long)

  /** Where a loop sends each scored doc. `theta` is the score a doc must
    * reach to enter, −∞ while the sink takes every doc; `add` returns
    * false once the sink wants no more docs. */
  private abstract class Sink {
    var theta: Double = Double.NegativeInfinity
    def add(s: Scored): Boolean
  }

  /** topK's sink: the best k, best first, in the BoundedK.insert heap;
    * θ is the k-th score once k docs are held. */
  private final class Best(k: Int) extends Sink {
    var buf: List[Scored] = Nil
    def add(s: Scored): Boolean = {
      buf = BoundedK.insert(buf, s, k)(Scored.BestFirst)
      if (buf.lengthCompare(k) >= 0) theta = buf.last.score
      true
    }
  }

  /** matches' sink: every doc in doc-id order, an append each, until
    * `limit` are held; θ stays −∞, so no block is skipped by score. */
  private final class Matches(limit: Long) extends Sink {
    val out = Vector.newBuilder[Scored]
    private var n = 0L
    def add(s: Scored): Boolean = { out += s; n += 1; n < limit }
  }

  /** Exact top-k over docs in [minDoc, maxDoc]. Returns ((doc_id,
    * score6) ranked, stats). The doc range is the striped-executor
    * contract (Searcher.searchTopKWandExecutors): a stripe evaluates
    * only its own doc interval, blocks outside are skipped by metadata,
    * and the per-stripe exact top-k merge reconstructs the global exact
    * top-k because every doc is scored in exactly one stripe with every
    * term's covering block present. Defaults evaluate the full range. */
  def topK(terms: Seq[TermBlocks], k: Int, avgdl: Double,
           mode: Mode = And, minDoc: Long = 0L,
           maxDoc: Long = Long.MaxValue): (Seq[Scored], QueryStats) = {
    if (terms.isEmpty || k <= 0) return (Nil, QueryStats(0, 0, 0))
    val best = new Best(k)
    val stats = run(terms, avgdl, mode, best, minDoc, maxDoc)
    (best.buf, stats)
  }

  /** The conjunctive matches in [minDoc, maxDoc], in doc-id order, each
    * with its BM25 score (rounded as in topK): the same AND loop as topK
    * with θ = −∞, stopped after `limit` matches. So the first `limit`
    * are the `limit` smallest doc ids, and per-stripe matches
    * concatenate into the full range's. */
  def matches(terms: Seq[TermBlocks], limit: Long, avgdl: Double,
              minDoc: Long = 0L,
              maxDoc: Long = Long.MaxValue): (Seq[Scored], QueryStats) = {
    if (terms.isEmpty || limit <= 0) return (Nil, QueryStats(0, 0, 0))
    val sink = new Matches(limit)
    val stats = run(terms, avgdl, And, sink, minDoc, maxDoc)
    (sink.out.result(), stats)
  }

  private def run(terms: Seq[TermBlocks], avgdl: Double, mode: Mode,
      sink: Sink, minDoc: Long, maxDoc: Long): QueryStats = {
    val cursors = terms.map(t => new Cursor(t.idf, t.blocks, avgdl)).toArray
    val scored =
      if (mode == And) conjunctive(cursors, sink, minDoc, maxDoc)
      else disjunctive(cursors, sink, minDoc, maxDoc)
    QueryStats(terms.map(_.blocks.length).sum,
      cursors.map(_.blocksDecoded).sum, scored)
  }

  /** Conjunctive block-max AND: blocks are positioned by METADATA first;
    * a block combination whose Σ blockUB cannot reach θ is skipped
    * without decoding any of its blocks. Decoding happens only for combos
    * that survive, and doc-level alignment only inside those (the
    * full-evaluation analog of the reference's fork advance, now with
    * whole-block strides). Returns the number of docs scored. */
  private def conjunctive(cursors: Array[Cursor], sink: Sink, minDoc: Long,
      maxDoc: Long): Long = {
    val totalUB = cursors.map(_.termUB).sum
    var scored = 0L
    var target = minDoc
    var done = false
    while (!done) {
      if (target > maxDoc) done = true
      // 1. metadata-only block seek
      var i = 0
      while (i < cursors.length && !done) {
        if (!cursors(i).seekBlock(target)) done = true
        i += 1
      }
      if (!done) {
        val th = sink.theta - Eps
        if (totalUB < th) done = true
        else {
          // 2. raise target to the latest lower bound (metadata)
          var lb = target
          i = 0
          while (i < cursors.length) {
            val b = cursors(i).lowerBound
            if (b > lb) lb = b
            i += 1
          }
          if (lb > target) target = lb
          else {
            // 3. combo skip: Σ blockUB of the CURRENT blocks bounds any
            //    doc up to the earliest block end
            var ubSum = 0.0
            var minMax = Long.MaxValue
            i = 0
            while (i < cursors.length) {
              ubSum += cursors(i).blockUB
              val m = cursors(i).blockMax
              if (m < minMax) minMax = m
              i += 1
            }
            if (ubSum < th) target = minMax + 1
            else {
              // 4. decode-align one candidate at target
              var doc = target
              i = 0
              while (i < cursors.length && !done) {
                val d = cursors(i).advanceTo(doc)
                if (d == Long.MaxValue) done = true
                else if (d > doc) doc = d
                i += 1
              }
              if (!done && doc > maxDoc) done = true
              if (!done) {
                var aligned = true
                i = 0
                while (i < cursors.length) {
                  if (cursors(i).currentDoc != doc) aligned = false
                  i += 1
                }
                if (aligned) {
                  var s = 0.0
                  var j = 0
                  while (j < cursors.length) {
                    s += cursors(j).scoreCurrent(); j += 1
                  }
                  scored += 1
                  if (!sink.add(Scored(doc, Bm25.round6(s)))) done = true
                  target = doc + 1
                } else target = doc
              }
            }
          }
        }
      }
    }
    scored
  }

  /** Disjunctive WAND with block-max refinement. Returns the number of
    * docs scored. */
  private def disjunctive(cursors: Array[Cursor], sink: Sink, minDoc: Long,
      maxDoc: Long): Long = {
    var scored = 0L
    val cs = cursors.clone()
    if (minDoc > 0L) {
      var i = 0
      while (i < cs.length) { cs(i).advanceTo(minDoc); i += 1 }
    }
    var continue = true
    while (continue) {
      // sort by current doc (n is tiny: query terms)
      scala.util.Sorting.stableSort(cs,
        (a: Cursor, b: Cursor) => a.currentDoc < b.currentDoc)
      if (cs(0).currentDoc == Long.MaxValue || cs(0).currentDoc > maxDoc)
        continue = false
      else {
        // find pivot: first prefix whose Σ termUB reaches θ
        val th = sink.theta - Eps
        var acc = 0.0
        var p = -1
        var i = 0
        while (i < cs.length && p < 0) {
          acc += cs(i).termUB
          if (acc >= th) p = i
          i += 1
        }
        if (p < 0) continue = false
        else {
          val pivotDoc = cs(p).currentDoc
          if (pivotDoc == Long.MaxValue) continue = false
          else if (cs(0).currentDoc == pivotDoc) {
            // block-max refinement: Σ blockUB over EVERY cursor sitting
            // on pivotDoc (cursors beyond the pivot index can share the
            // doc and contribute score — p only bounds the UB prefix)
            var ubb = 0.0
            var j = 0
            while (j < cs.length) {
              if (cs(j).currentDoc == pivotDoc) ubb += cs(j).blockUB
              j += 1
            }
            if (ubb >= th) {
              var s = 0.0
              var m = 0
              while (m < cs.length) {
                if (cs(m).currentDoc == pivotDoc) s += cs(m).scoreCurrent()
                m += 1
              }
              scored += 1
              sink.add(Scored(pivotDoc, Bm25.round6(s)))
            }
            var m = 0
            while (m < cs.length) {
              if (cs(m).currentDoc == pivotDoc) cs(m).next()
              m += 1
            }
          } else {
            // BMW shallow move (Ding & Suel NextShallow): if the pivot
            // prefix's CURRENT blocks cannot reach θ, jump past the
            // earliest of (their block ends, next cursor's doc - 1)
            // without decoding — docs in that range can only draw
            // contributions from the prefix blocks just bounded
            var ubb = 0.0
            var minMax = Long.MaxValue
            var j = 0
            while (j <= p) {
              ubb += cs(j).blockUB
              val m = cs(j).blockMax
              if (m < minMax) minMax = m
              j += 1
            }
            if (p + 1 < cs.length && cs(p + 1).currentDoc - 1 < minMax)
              minMax = cs(p + 1).currentDoc - 1
            if (ubb < th && minMax + 1 > pivotDoc)
              cs(0).advanceTo(minMax + 1)
            else
              cs(0).advanceTo(pivotDoc)
          }
        }
      }
    }
    scored
  }
}
