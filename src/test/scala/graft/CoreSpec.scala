package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.index.{Codec, Tokenizer}
import graft.query.{BoundedK, Scored}

/** Deterministic property harness over scalacheck Gen (scalatestplus is
  * not in the offline cache; seeds fixed for reproducibility). */
trait PropHelpers {
  def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    (0 until n).foreach { i =>
      gen.apply(params, Seed(42L + i)).foreach(f)
    }
  }
}

/** Pure-Scala unit properties (no Spark): codec round-trip, tokenizer
  * invariants, top-k aggregator semantics. */
class CoreSpec extends AnyFunSuite with PropHelpers {

  // --- codec: encode . decode == identity (FIXTURES.md §6) ---
  test("delta+varint round-trips strictly increasing ids") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(1L, 1L << 40))
    forAll(gen) { steps =>
      val ids = steps.scanLeft(0L)(_ + _).tail.toArray // strictly increasing
      val enc = Codec.encodeDeltas(ids)
      assert(Codec.decodeDeltas(enc, ids.length).toSeq == ids.toSeq)
    }
  }

  test("varint ints round-trip") {
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, Int.MaxValue))) { xs =>
      val a = xs.toArray
      assert(Codec.decodeInts(Codec.encodeInts(a), a.length).toSeq == a.toSeq)
    }
  }

  test("delta+varint compresses clustered ids well below 8 bytes/id") {
    val ids = Array.tabulate(10000)(i => 1000000L + i * 3)
    val enc = Codec.encodeDeltas(ids)
    assert(enc.length.toDouble / ids.length < 2.0)
  }

  // --- tokenizer ---
  test("tokenizer: lowercase, no empties, idempotent on own output") {
    forAll(Gen.asciiPrintableStr) { s =>
      val ts = Tokenizer.tokens(s)
      assert(ts.forall(t => t.nonEmpty && t == t.toLowerCase))
      val rejoined = ts.mkString(" ")
      assert(Tokenizer.tokens(rejoined).toSeq == ts.toSeq)
    }
  }

  /** Text mixing ASCII with the chars whose full lowercasing is not a
    * per-char ASCII map: U+0130 (-> "i" + U+0307), U+212A Kelvin (-> k),
    * Σ (final-sigma context), é, CJK and surrogate pairs. */
  private val mixedText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.asciiPrintableChar.map(_.toString),
    1 -> Gen.oneOf("\u0130", "\u212A", "\u03A3", "\u00E9", "\u00C9",
      "\u6F22\u5B57", "\uD83D\uDE00", "\uD801\uDC00", " ", "_"))
  ).map(_.mkString)

  test("docLen and foreachTermFreq agree with tokens() exactly") {
    val gen = Gen.oneOf(Gen.asciiStr, mixedText)
    forAll(gen, 200) { s =>
      val ts = Tokenizer.tokens(s)
      assert(Tokenizer.docLen(s) == ts.length)
      val got = scala.collection.mutable.Map.empty[String, Int]
      Tokenizer.foreachTermFreq(s)((t, tf) => got(t) = tf)
      val want = ts.groupBy(identity).map { case (t, xs) => t -> xs.length }
      assert(got.toMap == want)
    }
  }

  test("scanner tokenizer == regex-split tokenizer on ASCII") {
    forAll(Gen.asciiPrintableStr, 300) { s =>
      assert(Tokenizer.tokens(s).toSeq == Tokenizer.tokensRegex(s).toSeq)
    }
    // targeted edge cases
    Seq("", "  ", "_", "a_b", "A1_B2 c", "x\ty\nz", "Ab..cD", "0", "__")
      .foreach(s => assert(
        Tokenizer.tokens(s).toSeq == Tokenizer.tokensRegex(s).toSeq, s))
  }

  test("exact tokenizer == Unicode lowercase + split on non-[a-z0-9_], on any text") {
    // reference: full root-locale lowercasing, then a per-char split that
    // shares no code with the scanner or the regex form
    def reference(s: String): Seq[String] =
      s.toLowerCase(java.util.Locale.ROOT).map(c =>
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') c
        else ' ').split(' ').filter(_.nonEmpty).toSeq
    forAll(mixedText, 300) { s =>
      assert(Tokenizer.tokens(s).toSeq == reference(s), s)
      assert(Tokenizer.tokens(s).toSeq == Tokenizer.tokensRegex(s).toSeq, s)
      assert(Tokenizer.docLen(s) == reference(s).length, s)
    }
    // U+0130 lowercases to "i" + U+0307: two tokens, as the column form
    assert(Tokenizer.tokens("\u0130stanbul").toSeq == Seq("i", "stanbul"))
    assert(Tokenizer.docLen("\u0130stanbul") == 2)
    assert(Tokenizer.tokens("\u212Aelvin caf\u00E9 \u03A3\u03A3 \u6F22x\uD83D\uDE00y")
      .toSeq == Seq("kelvin", "caf", "x", "y"))
  }

  test("tokenizer matches the documented split semantics") {
    assert(Tokenizer.tokens("def Foo_bar(x1): return x1 + 2").toSeq ==
      Seq("def", "foo_bar", "x1", "return", "x1", "2"))
    assert(Tokenizer.tokens("").isEmpty)
    assert(Tokenizer.tokens("...").isEmpty)
  }

  // --- the bounded best-k aggregator == sort.take(k) under any
  // partitioning, for every ordering a call site uses ---

  /** `agg` over `xs` equals `want` in one reduce and after an arbitrary
    * split into partial buffers merged back (partial+final). */
  private def checkBestK[T](agg: BoundedK[T], xs: List[T], nSplits: Int,
      want: Seq[T]): Unit = {
    assert(agg.finish(xs.foldLeft(agg.zero)(agg.reduce)) == want)
    val splits = if (xs.isEmpty) Seq(xs)
      else xs.grouped(math.max(1, xs.size / (nSplits + 1))).toSeq
    val merged = splits.map(_.foldLeft(agg.zero)(agg.reduce))
      .foldLeft(agg.zero)(agg.merge)
    assert(agg.finish(merged) == want)
  }

  test("BoundedK by score equals global sortBy.take(k) and is merge-associative") {
    val gen = for {
      xs <- Gen.listOf(for {
        id <- Gen.chooseNum(0L, 50L); s <- Gen.chooseNum(0, 1000)
      } yield Scored(id, s / 100.0))
      k <- Gen.chooseNum(1, 10)
      cut <- Gen.chooseNum(0, 5)
    } yield (xs, k, cut)
    forAll(gen) { case (xs, k, nSplits) =>
      checkBestK(new BoundedK(k, Scored.BestFirst), xs, nSplits,
        xs.sortBy(s => (-s.score, s.doc_id)).take(k))
    }
  }

  test("BoundedK by score: 0.0, -0.0 and equal scores tie, doc_id decides") {
    // the top-k rule compares with > and ==, so -0.0 ties 0.0 (a
    // Double.compare ordering would rank every 0.0 above every -0.0)
    val xs = List(Scored(3L, 0.0), Scored(1L, -0.0), Scored(6L, 0.5),
      Scored(2L, 0.0), Scored(5L, 0.5), Scored(4L, -0.0))
    val want = Seq(5L, 6L, 1L, 2L, 3L, 4L)
    (0 to want.size).foreach { k =>
      xs.permutations.take(60).foreach { perm =>
        (0 to 3).foreach { nSplits =>
          val agg = new BoundedK(k, Scored.BestFirst)
          val got = agg.finish(perm.foldLeft(agg.zero)(agg.reduce))
          assert(got.map(_.doc_id) == want.take(k), s"perm=$perm")
          val splits = perm.grouped(math.max(1, perm.size / (nSplits + 1)))
          val merged = splits.map(_.foldLeft(agg.zero)(agg.reduce))
            .foldLeft(agg.zero)(agg.merge)
          assert(agg.finish(merged).map(_.doc_id) == want.take(k))
        }
      }
    }
  }

  private val genLong = for {
    xs <- Gen.listOf(Gen.chooseNum(0L, 100L))
    k <- Gen.chooseNum(1, 8)
    cut <- Gen.chooseNum(0, 5)
  } yield (xs, k, cut)

  // the min-k roles once held by MinKLongAgg and MinKPairAgg are BoundedK
  // with Ordering.Long and Ordering[(Long, Long)]
  test("MinKLongAgg / MinKPairAgg equal sorted.take(k) under any partitioning") {
    forAll(genLong) { case (xs, k, nSplits) =>
      checkBestK(new BoundedK(k, Ordering.Long), xs, nSplits, xs.sorted.take(k))
    }
    val genPair = for {
      xs <- Gen.listOf(for {
        a <- Gen.chooseNum(0L, 20L); b <- Gen.chooseNum(0L, 20L)
      } yield (a, b))
      k <- Gen.chooseNum(1, 8)
      cut <- Gen.chooseNum(0, 5)
    } yield (xs, k, cut)
    forAll(genPair) { case (xs, k, nSplits) =>
      checkBestK(new BoundedK(k, Ordering[(Long, Long)]), xs, nSplits,
        xs.sorted.take(k))
    }
  }

  test("BoundedK by doc_id equals sortBy(doc_id).take(k) under any partitioning") {
    forAll(genLong) { case (xs, k, nSplits) =>
      // Substring.find's (doc_id, n_matches, first_offset) rows, ordered
      // by doc_id alone (a doc has one row per query)
      val rows = xs.map(d => (d, d % 7, d * 3))
      checkBestK(new BoundedK(k, Ordering.by[(Long, Long, Long), Long](_._1)),
        rows, nSplits, rows.sortBy(_._1).take(k))
    }
  }

  test("property: occurrenceOffsets == code-point brute force (incl. surrogates)") {
    // alphabet mixes BMP chars with a supplementary-plane char (surrogate
    // pair in UTF-16) so code-unit and code-point indices diverge
    val alpha = Seq("a", "b", "😀")
    val gen = for {
      content <- Gen.listOf(Gen.oneOf(alpha)).map(_.mkString)
      patLen <- Gen.chooseNum(1, 3)
      pat <- Gen.listOfN(patLen, Gen.oneOf(alpha)).map(_.mkString)
    } yield (content, pat)
    forAll(gen) { case (content, pat) =>
      val got = graft.query.Substring.occurrenceOffsets(content, pat).toSeq
      // brute force in the code-point domain
      val cps = content.codePoints().toArray.toSeq
      val pcs = pat.codePoints().toArray.toSeq
      val want = (0 to cps.length - pcs.length)
        .filter(i => cps.slice(i, i + pcs.length) == pcs)
        .map(_.toLong)
      assert(got == want, s"content=$content pat=$pat")
    }
  }

  test("BoundedK: k = 0 keeps nothing instead of crashing") {
    // an empty buffer is already "full" at k = 0; the guard must not
    // evaluate buf.last on it (CLI --max-matches 0 reaches this)
    val p = new BoundedK(0, Ordering[(Long, Long)])
    assert(p.merge(p.reduce(p.zero, (1L, 2L)), p.reduce(p.zero, (3L, 4L))) == Nil)
    val l = new BoundedK(0, Ordering.Long)
    assert(l.merge(l.reduce(l.zero, 5L), l.reduce(l.zero, 7L)) == Nil)
    val d = new BoundedK(0, Ordering.by[(Long, Long, Long), Long](_._1))
    assert(d.reduce(d.zero, (1L, 1L, 0L)) == Nil)
    val t = new BoundedK(0, Scored.BestFirst)
    assert(t.reduce(t.zero, Scored(1L, 1.0)) == Nil)
  }
}
