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
        val tbs = c.terms.map { case (t, ps) =>
          Wand.TermBlocks(t, Bm25.idf(nDocs, ps.size.toLong),
            mkBlocks(t, ps, c.avgdl, blockSize))
        }.toSeq
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

  test("per-stripe topK merge == full-range topK (striped-executor contract)") {
    // Wand.topK's [minDoc, maxDoc] contract: partition the doc space into
    // arbitrary contiguous stripes, run exact topK per stripe over the
    // SAME block lists, merge the per-stripe results by (score6 DESC,
    // doc_id ASC) — must equal the unrestricted topK, for AND and OR
    forAll(genCorpus, 60) { c =>
      val nDocs = 200L
      for (blockSize <- Seq(4, 16); k <- Seq(3, 10);
           width <- Seq(7L, 50L, 200L)) {
        val tbs = c.terms.map { case (t, ps) =>
          Wand.TermBlocks(t, Bm25.idf(nDocs, ps.size.toLong),
            mkBlocks(t, ps, c.avgdl, blockSize))
        }.toSeq
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
  }
}
