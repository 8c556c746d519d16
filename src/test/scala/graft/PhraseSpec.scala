package graft

import graft.corpus.Synth
import graft.index.{Builder, CodeDoc, Tokenizer}
import graft.query.{Phrase, Searcher}

/** Phrase (adjacency) search vs a plain-Scala sliding-window oracle. */
class PhraseSpec extends SparkTestBase {

  private lazy val corpus = Synth.corpus(spark, 300, seed = 9L).cache()
  private lazy val indexDir = {
    val d = tmpDir("phrase-idx")
    Builder.build(spark, corpus, d,
      Builder.Config(blockSize = 32, nBuckets = 8, nSegments = 2,
        saltTarget = 60, storePositions = true))
    d
  }

  test("phrase matches == sliding-window oracle; ranking consistent") {
    import spark.implicits._
    // pick real adjacent token pairs/triples from documents
    val t50 = Tokenizer.tokens(Synth.doc(9L, 50L).content)
    val t7 = Tokenizer.tokens(Synth.doc(9L, 7L).content)
    val phrases = Seq(
      Searcher.Query(1, s"${t50(3)} ${t50(4)}"),
      Searcher.Query(2, s"${t7(0)} ${t7(1)} ${t7(2)}"),
      Searcher.Query(3, s"${t50(0)} zz_nonexistent"),
      Searcher.Query(4, t50(10))) // single term phrase = term query
    val got = Phrase.searchTopK(spark, indexDir, phrases, 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(2))) // (query, doc)

    // oracle: docs whose token stream contains the phrase
    val docs = Builder.withDocIds(corpus)
      .select($"doc_id", $"content").as[(Long, String)].collect()
    def matches(phrase: String): Set[Long] = {
      val pts = Tokenizer.tokens(phrase).toSeq
      docs.filter { case (_, c) =>
        val ts = Tokenizer.tokens(c).toSeq
        ts.length >= pts.length && ts.sliding(pts.length).contains(pts)
      }.map(_._1).toSet
    }
    val byQ = got.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    phrases.foreach { q =>
      val want = matches(q.text)
      val gotDocs = byQ.getOrElse(q.query_id, Set.empty)
      if (want.size <= 10) assert(gotDocs == want, s"query ${q.query_id}")
      else assert(gotDocs.subsetOf(want) && gotDocs.size == 10, s"query ${q.query_id}")
    }
    assert(!byQ.contains(3L)) // nonexistent term -> no rows
    // single-term phrase == single-term AND search
    val single = Searcher.searchTopK(spark, indexDir,
      Seq(phrases(3)), 10).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSet
    val phraseSingle = Phrase.searchTopK(spark, indexDir,
      Seq(phrases(3)), 10).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSet
    assert(single == phraseSingle)
  }

  test("findOccurrences == sliding-window positions; maxMatches keeps smallest") {
    import spark.implicits._
    val t50 = Tokenizer.tokens(Synth.doc(9L, 50L).content)
    val phrases = Seq(
      Searcher.Query(1, s"${t50(3)} ${t50(4)}"),
      Searcher.Query(2, t50(10)),                 // single-term phrase
      Searcher.Query(3, s"${t50(0)} zz_nonexistent"))
    val got = Phrase.findOccurrences(spark, indexDir, phrases)
      .as[(Long, Long, Long)].collect().toSet
    val docs = Builder.withDocIds(corpus)
      .select($"doc_id", $"content").as[(Long, String)].collect()
    val want = (for {
      q <- phrases
      pts = Tokenizer.tokens(q.text).toSeq
      if pts.nonEmpty
      (docId, c) <- docs
      ts = Tokenizer.tokens(c).toSeq
      if ts.length >= pts.length
      p <- 0 to (ts.length - pts.length)
      if ts.slice(p, p + pts.length) == pts
    } yield (q.query_id, docId, p.toLong)).toSet
    assert(got == want && got.nonEmpty)
    assert(!got.exists(_._1 == 3L))
    // cap keeps the smallest (doc_id, pos) pairs per query
    val capped = Phrase.findOccurrences(spark, indexDir, phrases,
        maxMatches = 4L)
      .as[(Long, Long, Long)].collect()
    val wantCapped = want.groupBy(_._1).flatMap { case (_, rows) =>
      rows.toSeq.sortBy(r => (r._2, r._3)).take(4)
    }.toSet
    assert(capped.toSet == wantCapped)
  }

  test("budgets default FINITE; findOccurrences caps candidates pre-join") {
    import spark.implicits._
    // the reference ships with its budgets ON (gin.c:33-37); a serving
    // layer calling with defaults must inherit a real cap
    assert(Phrase.DefaultMaxCandidates < Long.MaxValue)
    val docs = Builder.withDocIds(corpus)
      .select($"doc_id", $"content").as[(Long, String)].collect()
    val pair = docs.iterator.flatMap { case (_, c) =>
      Tokenizer.tokens(c).toSeq.sliding(2).toSeq
    }.toSeq.groupBy(identity).maxBy(_._2.size)._1
    val q = Seq(Searcher.Query(1, pair.mkString(" ")))
    val all = Phrase.findOccurrences(spark, indexDir, q)
      .as[(Long, Long, Long)].collect()
    // candidate budget caps the DOC set feeding the positions join: the
    // occurrences that survive are exactly those of the `cap` smallest
    // candidate doc_ids (a hot two-term phrase under a budget touches <=
    // budget candidate docs)
    val cap = 5
    val candidates = docs.filter { case (_, c) =>
      val ts = Tokenizer.tokens(c).toSet
      ts.contains(pair(0)) && ts.contains(pair(1))
    }.map(_._1).sorted
    assert(candidates.length > cap, s"fixture: ${candidates.length} candidates")
    val keep = candidates.take(cap).toSet
    val capped = Phrase.findOccurrences(spark, indexDir, q,
        maxCandidates = cap)
      .as[(Long, Long, Long)].collect()
    assert(capped.map(_._2).toSet.subsetOf(keep))
    assert(capped.toSet == all.filter(r => keep.contains(r._2)).toSet)
  }

  test("maxCandidates budget caps the verification set deterministically") {
    import spark.implicits._
    // a phrase of two COMMON terms: many conjunctive candidates
    val docs = Builder.withDocIds(corpus)
      .select($"doc_id", $"content").as[(Long, String)].collect()
    val pair = docs.iterator.flatMap { case (_, c) =>
      Tokenizer.tokens(c).toSeq.sliding(2).toSeq
    }.toSeq.groupBy(identity).maxBy(_._2.size)._1
    val q = Seq(Searcher.Query(1, pair.mkString(" ")))
    // k larger than the corpus: `full` holds EVERY verified match
    val full = Phrase.searchTopK(spark, indexDir, q, 500).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(full.size > 3, s"fixture too small: ${full.size} matches")
    // budget smaller than the candidate count: results are exactly the
    // verified matches among the `cap` LOWEST candidate doc_ids (the
    // deterministic cap), scored identically to the uncapped run
    val cap = 8
    val candidates = docs.filter { case (_, c) =>
      val ts = Tokenizer.tokens(c).toSet
      ts.contains(pair(0)) && ts.contains(pair(1))
    }.map(_._1).sorted
    assert(candidates.length > cap, s"fixture: ${candidates.length} candidates")
    val expect = candidates.take(cap).filter(full.contains).toSet
    val capped = Phrase.searchTopK(spark, indexDir, q, 500,
      maxCandidates = cap).collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(capped.map(_._1).toSet == expect,
      s"got ${capped.map(_._1).toSeq.sorted} want ${expect.toSeq.sorted}")
    capped.foreach { case (doc, score) =>
      assert(full(doc) == score, s"score drift on doc $doc")
    }
  }

  test("hand-built index: repeated-term, token-free and missing-term phrases") {
    import spark.implicits._
    val texts = Seq("foo foo bar", "foo bar foo", "bar foo foo foo",
      "baz qux foo", "foo baz foo foo bar", "qux bar")
    val small = texts.zipWithIndex.map { case (t, i) =>
      CodeDoc("r", f"p$i%02d.txt", "c0", "txt", t)
    }.toDF()
    val dir = tmpDir("phrase-small")
    Builder.build(spark, small, dir, Builder.Config(blockSize = 2,
      nBuckets = 4, nSegments = 1, storePositions = true))
    val docs = Builder.withDocIds(small)
      .select($"doc_id", $"content").as[(Long, String)].collect()
    val phrases = Seq(
      Searcher.Query(1, "foo foo"),         // repeated term
      Searcher.Query(2, "!!! ??"),          // no tokens
      Searcher.Query(3, "foo zz_missing"),  // a term not in the index
      Searcher.Query(4, "Foo FOO foo"),
      Searcher.Query(5, "bar foo"))
    // sliding-window oracle: every (query, doc, start) occurrence
    val want = (for {
      q <- phrases
      pts = Tokenizer.tokens(q.text).toSeq
      if pts.nonEmpty
      (docId, c) <- docs
      ts = Tokenizer.tokens(c).toSeq
      p <- 0 to (ts.length - pts.length)
      if ts.slice(p, p + pts.length) == pts
    } yield (q.query_id, docId, p.toLong)).toSet
    assert(want.map(_._1) == Set(1L, 4L, 5L), "fixture")

    val occ = Phrase.findOccurrences(spark, dir, phrases)
      .as[(Long, Long, Long)].collect()
    assert(occ.length == occ.toSet.size)
    assert(occ.toSet == want)

    val top = Phrase.searchTopK(spark, dir, phrases, 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    phrases.foreach { q =>
      val got = top.filter(_._1 == q.query_id).sortBy(_._2)
      assert(got.map(_._3).toSet == want.filter(_._1 == q.query_id).map(_._2),
        s"query ${q.query_id}")
      assert(got.map(_._2).toSeq == (1 to got.length))
      assert(got.map(r => (-r._4, r._3)).toSeq ==
        got.map(r => (-r._4, r._3)).sorted.toSeq)
    }
    // k caps the ranked rows, best first
    val top1 = Phrase.searchTopK(spark, dir, phrases, 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(top1.toSet == top.filter(_._2 == 1).toSet)
  }
}
