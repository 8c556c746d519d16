package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.index.{Bm25, Builder}
import graft.query.Wand

/** Block-max WAND vs brute force on random posting data (pure Scala). */
class WandSpec extends AnyFunSuite with PropHelpers {

  private def mkBlocks(term: String, postings: Seq[(Long, Int, Int)],
                       avgdl: Double, blockSize: Int) = {
    postings.sortBy(_._1).grouped(blockSize).zipWithIndex.map { case (g, i) =>
      Builder.postingBlock(term, i, g.map(_._1).toArray, g.map(_._2).toArray,
        g.map(_._3).toArray, g.size)
    }.toArray
  }

  private case class Corpus(terms: Map[String, Seq[(Long, Int, Int)]],
                            avgdl: Double)

  private val genCorpus: Gen[Corpus] = for {
    nTerms <- Gen.chooseNum(1, 4)
    avgdl <- Gen.chooseNum(20, 60).map(_.toDouble)
    terms <- Gen.sequence[Seq[(String, Seq[(Long, Int, Int)])], (String, Seq[(Long, Int, Int)])](
      (0 until nTerms).map { t =>
        for {
          nDocs <- Gen.chooseNum(1, 120)
          docs <- Gen.pick(nDocs, 0L until 200L)
          entries <- Gen.sequence[Seq[(Int, Int)], (Int, Int)](docs.map { _ =>
            for {
              tf <- Gen.chooseNum(1, 9)
              dl <- Gen.chooseNum(10, 120)
            } yield (tf, dl)
          })
        } yield s"t$t" -> docs.sorted.zip(entries).map { case (d, (tf, dl)) =>
          (d, tf, dl)
        }.toSeq
      })
  } yield Corpus(terms.toMap, avgdl)

  private def termBlocks(c: Corpus, nDocs: Long,
                         blockSize: Int): Seq[Wand.TermBlocks] =
    c.terms.map { case (t, ps) =>
      Wand.TermBlocks(t, Bm25.idf(nDocs, ps.size.toLong),
        mkBlocks(t, ps, c.avgdl, blockSize))
    }.toSeq

  /** Brute-force AND over the decoded blocks: every doc in [lo, hi] that
    * holds all terms, in doc order, with its rounded BM25 score. */
  private def bruteMatches(tbs: Seq[Wand.TermBlocks], avgdl: Double,
                           lo: Long, hi: Long): Seq[(Long, Double)] = {
    val perTerm = tbs.map { tb =>
      tb.idf -> tb.blocks.flatMap(Builder.decodeBlock).map(p => p.doc_id -> p).toMap
    }
    perTerm.map(_._2.keySet).reduce(_ intersect _).toSeq.sorted
      .filter(d => d >= lo && d <= hi)
      .map { d =>
        d -> Bm25.round6(perTerm.map { case (idf, ps) =>
          idf * (Bm25.K1 + 1.0) * Bm25.tfNorm(ps(d).tf, ps(d).dl, avgdl)
        }.sum)
      }
  }

  private def brute(c: Corpus, nDocs: Long, k: Int,
                    conj: Boolean): Seq[(Long, Double)] = {
    val dfs = c.terms.map { case (t, ps) => t -> ps.size.toLong }
    val perDoc = scala.collection.mutable.HashMap
      .empty[Long, (Double, Int)].withDefaultValue((0.0, 0))
    c.terms.foreach { case (t, ps) =>
      val idf = Bm25.idf(nDocs, dfs(t))
      ps.foreach { case (d, tf, dl) =>
        val (s, n) = perDoc(d)
        perDoc(d) = (s + idf * (Bm25.K1 + 1) * Bm25.tfNorm(tf, dl, c.avgdl), n + 1)
      }
    }
    perDoc.toSeq
      .filter { case (_, (_, n)) => if (conj) n == c.terms.size else n >= 1 }
      .map { case (d, (s, _)) =>
        (d, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (d, s) => (-s, d) }
      .take(k)
  }

  test("WAND AND/OR == brute force ranking on random corpora") {
    forAll(genCorpus, 150) { c =>
      val nDocs = 200L
      for (blockSize <- Seq(4, 16, 64); k <- Seq(1, 5, 20)) {
        val tbs = termBlocks(c, nDocs, blockSize)
        val (and, _) = Wand.topK(tbs, k, c.avgdl, Wand.And)
        assert(and.map(s => (s.doc_id, s.score)) == brute(c, nDocs, k, conj = true),
          s"AND blockSize=$blockSize k=$k")
        val (or, _) = Wand.topK(tbs, k, c.avgdl, Wand.Or)
        assert(or.map(s => (s.doc_id, s.score)) == brute(c, nDocs, k, conj = false),
          s"OR blockSize=$blockSize k=$k")
      }
    }
  }

  test("block-max pruning actually skips decoding blocks") {
    // one rare term + one huge term: AND should decode only the huge
    // term's blocks that overlap the rare term's docs
    val avgdl = 50.0
    val rare = (0 until 3).map(i => (i * 4000L, 3, 40))
    val huge = (0 until 12000).map(i => (i.toLong, 1, 50))
    val tbs = Seq(
      Wand.TermBlocks("rare", Bm25.idf(20000, 3), mkBlocks("rare", rare, avgdl, 64)),
      Wand.TermBlocks("huge", Bm25.idf(20000, 12000), mkBlocks("huge", huge, avgdl, 64)))
    val (hits, stats) = Wand.topK(tbs, 10, avgdl, Wand.And)
    assert(hits.nonEmpty)
    assert(stats.blocksDecoded < stats.blocksTotal / 3,
      s"decoded ${stats.blocksDecoded} of ${stats.blocksTotal}")
    assert(stats.docsScored <= 3)
  }

  test("matches == brute-force AND in doc order, for every limit and doc range") {
    val genCase = for {
      c <- genCorpus
      lo <- Gen.chooseNum(0L, 210L)
      w <- Gen.chooseNum(0L, 210L)
    } yield (c, lo, lo + w)
    forAll(genCase, 150) { case (c, lo, hi) =>
      for (blockSize <- Seq(4, 16, 64)) {
        val tbs = termBlocks(c, 200L, blockSize)
        for ((minDoc, maxDoc) <- Seq((0L, Long.MaxValue), (lo, hi))) {
          val want = bruteMatches(tbs, c.avgdl, minDoc, maxDoc)
          val n = want.size.toLong
          for (limit <- Seq(0L, 1L, 3L, n - 1, n, n + 1, Long.MaxValue)) {
            val (got, stats) = Wand.matches(tbs, limit, c.avgdl, minDoc, maxDoc)
            val clue = s"blockSize=$blockSize range=[$minDoc, $maxDoc] limit=$limit"
            assert(got.map(s => (s.doc_id, s.score)) ==
              want.take(math.max(0L, math.min(limit, n)).toInt), clue)
            assert(stats.docsScored == got.size, clue)
          }
        }
        // the striped-executor contract: per-stripe matches, concatenated
        // in stripe order, are the full range's matches
        val full = Wand.matches(tbs, Long.MaxValue, c.avgdl)._1
        for (width <- Seq(7L, 50L, 200L)) {
          val striped = (0L until 200L by width).flatMap { s =>
            Wand.matches(tbs, Long.MaxValue, c.avgdl, s,
              if (s + width >= 200L) Long.MaxValue else s + width - 1)._1
          }
          assert(striped == full, s"blockSize=$blockSize width=$width")
        }
      }
    }
  }

  test("matches: a rare term's one whole-range block decodes only the common blocks holding its docs") {
    // the rare term's single block spans the whole doc space, so it
    // overlaps every common block: pruning by block [base, max]
    // intervals keeps them all, while the AND cursor decodes only the
    // common blocks that hold one of the rare docs
    val avgdl = 50.0
    val rareDocs = Seq(0L, 6000L, 11999L)
    val rare = mkBlocks("rare", rareDocs.map(d => (d, 3, 40)), avgdl, 64)
    val common = mkBlocks("common",
      (0 until 12000).map(i => (i.toLong, 1, 50)), avgdl, 64)
    assert(rare.length == 1)
    assert(common.forall(b =>
      b.doc_id_max >= rare.head.doc_id_base && b.doc_id_base <= rare.head.doc_id_max))
    val holding = common.count(b =>
      rareDocs.exists(d => d >= b.doc_id_base && d <= b.doc_id_max))
    assert(holding == 3)
    val tbs = Seq(
      Wand.TermBlocks("rare", Bm25.idf(20000, 3), rare),
      Wand.TermBlocks("common", Bm25.idf(20000, 12000), common))
    val (hits, stats) = Wand.matches(tbs, Long.MaxValue, avgdl)
    assert(hits.map(_.doc_id) == rareDocs)
    assert(stats.blocksTotal == 1 + common.length)
    assert(stats.blocksDecoded == 1 + holding,
      s"decoded ${stats.blocksDecoded} of ${stats.blocksTotal}")
  }

  test("per-stripe topK merge == full-range topK (striped-executor contract)") {
    // Wand.topK's [minDoc, maxDoc] contract: partition the doc space into
    // arbitrary contiguous stripes, run exact topK per stripe over the
    // SAME block lists, merge the per-stripe results by (score6 DESC,
    // doc_id ASC) — must equal the unrestricted topK, for AND and OR
    forAll(genCorpus, 60) { c =>
      val nDocs = 200L
      for (blockSize <- Seq(4, 16); k <- Seq(3, 10);
           width <- Seq(7L, 50L, 200L)) {
        val tbs = termBlocks(c, nDocs, blockSize)
        for (mode <- Seq(Wand.And, Wand.Or)) {
          val full = Wand.topK(tbs, k, c.avgdl, mode)._1
            .map(s => (s.doc_id, s.score))
          val striped = (0L until nDocs by width).flatMap { lo =>
            Wand.topK(tbs, k, c.avgdl, mode, lo,
              math.min(lo + width - 1, Long.MaxValue))._1
          }.map(s => (s.doc_id, s.score))
            .sortBy { case (d, s) => (-s, d) }.take(k)
          assert(striped == full,
            s"mode=$mode blockSize=$blockSize k=$k width=$width")
        }
      }
    }
  }

  test("empty term list and k=0 behave") {
    assert(Wand.topK(Nil, 10, 50.0, Wand.And)._1.isEmpty)
    val tb = Wand.TermBlocks("t", 1.0,
      mkBlocks("t", Seq((1L, 1, 10)), 50.0, 8))
    assert(Wand.topK(Seq(tb), 0, 50.0, Wand.Or)._1.isEmpty)
    assert(Wand.matches(Nil, 10L, 50.0)._1.isEmpty)
    assert(Wand.matches(Seq(tb), 0L, 50.0)._1.isEmpty)
  }
}
