package graft

import org.apache.spark.sql.functions._
import graft.corpus.Synth
import graft.index.{Builder, Tokenizer}
import graft.query.{Oracle, Searcher}

/** Build + query integration: rank identity vs the brute-force oracle,
  * content-sha256 integrity, reconstruction, match counting, resume. */
class IndexSpec extends SparkTestBase {
  import Searcher.Query

  private lazy val corpus = Synth.corpus(spark, 400, seed = 42L).cache()
  private lazy val indexDir = {
    val d = tmpDir("graft-index")
    // saltTarget=50 forces head-term salting (id_0 has df ~ 300 of 400)
    Builder.build(spark, corpus, d,
      Builder.Config(blockSize = 32, nBuckets = 8, nSegments = 2, saltTarget = 50))
    d
  }

  private def sampleQueries: Seq[Query] = {
    // sample real terms from docs (like generate_queries_hard.pl samples
    // real walks, /root/reference/benchmark/scripts/gin_run.sh:18)
    val doc0 = Synth.doc(42L, 7L).content
    val doc1 = Synth.doc(42L, 123L).content
    val t0 = Tokenizer.tokens(doc0)
    val t1 = Tokenizer.tokens(doc1)
    Seq(
      Query(1, t0(0)),                              // single term
      Query(2, s"${t0(1)} ${t0(5)}"),               // 2-term AND
      Query(3, s"${t1(0)} ${t1(3)} ${t1(9)}"),      // 3-term
      Query(4, "zzz_unknown_term"),                 // DEAD fork -> empty
      Query(5, s"${t0(2)} ${t0(2)}"),               // duplicated term
      Query(6, "id_0 id_1"),                        // head terms (skew)
      Query(7, s"${t1(2)} zzz_unknown_term"),       // partially unknown AND
      Query(8, t1(4))
    )
  }

  test("engine top-k is rank-identical to the brute-force oracle") {
    val k = 10
    val got = Searcher.searchTopK(spark, indexDir, sampleQueries, k, Searcher.And, nBuckets = 8)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val withIds = Builder.withDocIds(corpus)
    val want = Oracle.topK(spark, withIds, sampleQueries, k)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3, s"$g vs $w")
      assert(math.abs(g._4 - w._4) <= 1e-9, s"score $g vs $w")
    }
    // unknown-term conjunctive queries are empty
    assert(!got.exists(_._1 == 4L) && !got.exists(_._1 == 7L))
    // known queries produce hits
    assert(got.exists(_._1 == 1L) && got.exists(_._1 == 6L))
  }

  private type Ranked = Seq[(Long, Int, Long, Double)]

  private def rows(df: org.apache.spark.sql.DataFrame): Ranked =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  /** The brute-force reference ranking over an index's own corpus
    * snapshot (same doc ids as the index). */
  private def oracle(dir: String, qs: Seq[Query], k: Int,
                     mode: Searcher.Mode): Ranked =
    rows(Oracle.topK(spark, spark.read.parquet(s"$dir/corpus_ids"), qs, k,
      conjunctive = mode == Searcher.And))

  /** Same (query, rank, doc) rows as the reference, scores within 1e-9. */
  private def assertRanks(got: Ranked, want: Ranked, clue: String): Unit = {
    assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)),
      clue)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) <= 1e-9, s"$clue: score $g vs $w")
    }
  }

  /** Localized corpus: a repo-local term's blocks cover only its repo's
    * narrow doc range, while common global terms cover every range. */
  private lazy val localDir = {
    val d = tmpDir("localized")
    Builder.build(spark, Synth.localizedCorpus(spark, 600), d,
      Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 1,
        saltTarget = 400, verifySegments = false))
    d
  }

  /** (smallest-df local term with df >= 2, its df, the two most common
    * global terms) of the localized corpus. */
  private lazy val localTerms: (String, Long, String, String) = {
    import spark.implicits._
    val dict = Builder.dictionary(spark, localDir)
      .select("term", "df").as[(String, Long)].collect().toMap
    val (rare, rareDf) = dict.filter { case (t, df) =>
      t.startsWith("loc_") && df >= 2
    }.minBy { case (t, df) => (df, t) }
    val global = dict.filterNot(_._1.startsWith("loc_")).toSeq
      .sortBy { case (t, df) => (-df, t) }
    (rare, rareDf, global(0)._1, global(1)._1)
  }

  test("top-k paths == Oracle.topK: {driver, executor, striped} x {AND, OR} x {sample, localized}") {
    val (rare, _, common, common2) = localTerms
    val fixtures = Seq(
      "sample" -> (indexDir, sampleQueries),
      "localized" -> (localDir,
        Seq(Query(1, s"$rare $common"), Query(2, s"$rare $common $common2"),
          Query(3, s"$common $common2"))))
    def run(path: String, d: String, qs: Seq[Query], m: Searcher.Mode) =
      path match {
        case "driver" => Searcher.searchTopKWand(spark, d, qs, 10, m, 8)
        case "executor" => Searcher.searchTopKWandExecutors(spark, d, qs, 10, m, 8)
        // stripePostings far below every query's Σ df splits each query
        // into many doc-range stripes whose exact top-ks must merge into
        // the global one
        case "striped" => Searcher.searchTopKWandExecutors(spark, d, qs, 10,
          m, 8, stripePostings = 32L)
      }
    for ((fx, (d, qs)) <- fixtures; mode <- Seq(Searcher.And, Searcher.Or)) {
      val want = oracle(d, qs, 10, mode)
      assert(want.nonEmpty, s"$fx $mode")
      for (path <- Seq("driver", "executor", "striped"))
        assertRanks(rows(run(path, d, qs, mode)), want, s"$path $mode $fx")
    }
  }

  test("WAND path and relational path produce identical rankings") {
    // searchTopKRelational keeps its public signature and answers
    // through the executor kernel; it must rank exactly as the driver loop
    for (mode <- Seq(Searcher.And, Searcher.Or)) {
      val wand = rows(Searcher.searchTopKWand(spark, indexDir, sampleQueries,
        10, mode, 8))
      val rel = rows(Searcher.searchTopKRelational(spark, indexDir,
        sampleQueries, 10, mode, 8))
      assert(wand == rel, s"mode $mode")
      assert(wand.nonEmpty, s"mode $mode")
    }
  }

  test("executor-side WAND batch serving is rank-identical to the driver loop") {
    for (mode <- Seq(Searcher.And, Searcher.Or)) {
      val driver = rows(Searcher.searchTopKWand(spark, indexDir,
        sampleQueries, 10, mode, nBuckets = 8))
      val execs = rows(Searcher.searchTopKWandExecutors(spark, indexDir,
        sampleQueries, 10, mode, nBuckets = 8))
      assert(execs == driver, s"mode $mode")
    }
  }

  test("striped executor WAND (Σ df ≫ stripe budget) is rank-identical") {
    // one posting per stripe budget: single-doc stripes, the extreme of
    // the split that over-cap posting volumes take through the dispatcher
    val qs = Seq(Query(60, "id_0 id_1"))
    for (mode <- Seq(Searcher.And, Searcher.Or))
      assertRanks(rows(Searcher.searchTopKWandExecutors(spark, indexDir, qs, 5,
        mode, nBuckets = 8, stripePostings = 1L)), oracle(indexDir, qs, 5, mode),
        s"mode $mode")
  }

  test("striped AND: stripes missing one term fabricate no matches") {
    // conjunctive stripes where the local term has no block must emit
    // NOTHING (running the AND loop over the present subset would
    // fabricate common-only matches); k is ABOVE df(rare), so any
    // fabricated match would have to surface in the top-k
    val (rare, rareDf, common, _) = localTerms
    assert(rareDf < 20, s"fixture needs a sparse local term, got df=$rareDf")
    val qs = Seq(Query(1, s"$rare $common"))
    assertRanks(rows(Searcher.searchTopKWandExecutors(spark, localDir, qs, 20,
      Searcher.And, nBuckets = 8, stripePostings = 32L)),
      oracle(localDir, qs, 20, Searcher.And), "striped AND")
  }

  test("dictionary crash states heal") {
    import graft.query.IndexHandle
    val d = tmpDir("crash-states")
    Builder.build(spark, Synth.corpus(spark, 60, seed = 19L), d,
      Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 1,
        saltTarget = 1000))
    // legacy (pre-delta) dictionary crash state: dictionary renamed to an
    // undo log and never restored — recovery must promote it
    graft.util.Fs.rename(spark, s"$d/dictionary", s"$d/dictionary_undo_b7")
    Builder.recoverDictionary(spark, d)
    assert(graft.util.Fs.exists(spark, s"$d/dictionary"))
    IndexHandle.invalidate(spark, d)
    assert(Searcher.searchTopK(spark, d,
      Seq(Query(1, "id_0")), 5, Searcher.And, 4).count() > 0)
  }

  test("a leftover head cache, topk_cache or older per-depth layout, is never read") {
    import spark.implicits._
    import graft.query.IndexHandle
    val d = tmpDir("old-cache-layout")
    Builder.build(spark, Synth.corpus(spark, 60, seed = 23L), d,
      Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 1,
        saltTarget = 1000))
    // a depth-1 table and marker as older builds wrote them, with a
    // ranking no live search can produce
    Seq(("id_0", 1, 999999L, 99.0), ("id_1", 1, 999998L, 98.0))
      .toDF("term", "rank", "doc_id", "score")
      .write.parquet(s"$d/head_cache")
    graft.util.Fs.write(spark, s"$d/_COMMIT_head_cache",
      """{"minDf":1,"k":10,"rows":2}""")
    // the one-table layout (sorted term tuple keys) with its marker, as
    // the last builds with a head cache wrote them
    Seq((Seq("id_0"), 1, 999999L, 99.0), (Seq("id_1"), 1, 999998L, 98.0),
        (Seq("id_0", "id_1"), 1, 999999L, 97.0))
      .toDF("terms", "rank", "doc_id", "score")
      .write.parquet(s"$d/topk_cache")
    graft.util.Fs.write(spark, s"$d/_COMMIT_topk_cache",
      """{"minDf":1,"pairTerms":2,"tripleTerms":0,"k":10,"rows":3}""")
    IndexHandle.invalidate(spark, d)
    val qs = Seq(Query(1, "id_0"), Query(2, "id_1"), Query(3, "id_0 id_1"))
    for (mode <- Seq(Searcher.And, Searcher.Or))
      assertRanks(rows(Searcher.searchTopK(spark, d, qs, 10, mode, 4)),
        oracle(d, qs, 10, mode), s"mode $mode")
  }

  test("driver top-k starts no Spark job on a resident index; non-resident ranks the same") {
    import org.apache.spark.TestBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.query.IndexHandle
    val (rare, _, common, common2) = localTerms
    val qs = Seq(Query(1, rare), Query(2, s"$rare $common"),
      Query(3, s"$rare $common $common2"))
    // collected as is: a sort on top of the result would be a job itself
    def collected(q: Query, mode: Searcher.Mode): Ranked =
      Searcher.searchTopK(spark, localDir, Seq(q), 10, mode, 8).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._2).toSeq
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    IndexHandle.invalidate(spark, localDir)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (mode <- Seq(Searcher.And, Searcher.Or)) {
        val want = oracle(localDir, qs, 10, mode)
        // the warm query opens the handle and loads its driver block map
        collected(qs.head, mode)
        assert(IndexHandle.open(spark, localDir, 8).driverBlocksResident)
        for (q <- qs) {
          TestBridge.drainListeners(spark.sparkContext)
          jobs.set(0)
          val got = collected(q, mode)
          TestBridge.drainListeners(spark.sparkContext)
          assert(jobs.get == 0, s"$mode query ${q.query_id}: ${jobs.get} jobs")
          assertRanks(got, want.filter(_._1 == q.query_id),
            s"resident $mode query ${q.query_id}")
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // the other tier: blocks collected per call from the pruned scan
    spark.conf.set("graft.postings.persistCap", "1")
    try {
      IndexHandle.invalidate(spark, localDir)
      val h = IndexHandle.open(spark, localDir, 8)
      assert(!h.postingsResident && !h.driverBlocksResident)
      for (mode <- Seq(Searcher.And, Searcher.Or))
        assertRanks(rows(Searcher.searchTopK(spark, localDir, qs, 10, mode, 8)),
          oracle(localDir, qs, 10, mode), s"non-resident $mode")
    } finally {
      spark.conf.unset("graft.postings.persistCap")
      IndexHandle.invalidate(spark, localDir)
    }
  }

  test("Oracle.topK leaves no cached table behind") {
    val corpusIds = spark.read.parquet(s"$localDir/corpus_ids")
    val (rare, _, common, _) = localTerms
    val qs = Seq(Query(1, s"$rare $common"), Query(2, common))
    val before = spark.sparkContext.getPersistentRDDs.size
    val first = rows(Oracle.topK(spark, corpusIds, qs, 10))
    val second = rows(Oracle.topK(spark, corpusIds, qs, 10))
    assert(first.nonEmpty && first == second)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("posting block ranges are disjoint and sorted per term (WAND invariant)") {
    import spark.implicits._
    val byTerm = spark.read.parquet(s"$indexDir/postings")
      .select($"term", $"doc_id_base", $"doc_id_max")
      .as[(String, Long, Long)].collect().groupBy(_._1)
    byTerm.foreach { case (t, bs) =>
      val sorted = bs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, max1), (_, base2, _)) =>
          assert(max1 < base2, s"term $t has overlapping blocks")
        case _ =>
      }
    }
    assert(byTerm.nonEmpty)
  }

  test("docmeta sha256 matches source content per row (deindex invariant)") {
    val meta = spark.read.parquet(s"$indexDir/docmeta")
    val src = Builder.withDocIds(corpus)
      .select(col("doc_id"), sha2(col("content"), 256).as("src_sha"))
    val joined = meta.join(src, "doc_id")
    assert(joined.count() == corpus.count())
    assert(joined.filter(col("content_sha256") =!= col("src_sha")).count() == 0)
  }

  test("postings reconstruct per-doc token counts (deindex round-trip)") {
    import spark.implicits._
    val fromIndex = spark.read.parquet(s"$indexDir/postings")
      .select($"term", $"block_id", $"doc_id_base", $"doc_id_max", $"num_docs",
        $"max_tf", $"min_dl", $"doc_deltas", $"tfs", $"dls")
      .as[graft.index.PostingBlock]
      .flatMap(Builder.decodeBlock)
      .groupBy("doc_id").agg(sum("tf").as("sum_tf"))
    val fromMeta = spark.read.parquet(s"$indexDir/docmeta").select($"doc_id", $"dl")
    val bad = fromIndex.join(fromMeta, "doc_id")
      .filter(col("sum_tf") =!= col("dl")).count()
    assert(bad == 0)
    assert(fromIndex.count() == corpus.count())
  }

  test("dictionary df/cf match recomputation from corpus") {
    import spark.implicits._
    val dict = spark.read.parquet(s"$indexDir/dictionary")
    val recomputed = Builder.withDocIds(corpus)
      .select(col("doc_id"), explode(Builder.tokensCol(col("content"))).as("term"))
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df2"), count(lit(1)).as("cf2"))
    val bad = dict.join(recomputed, "term")
      .filter(col("df") =!= col("df2") || col("cf") =!= col("cf2")).count()
    assert(bad == 0)
    assert(dict.count() == recomputed.count())
  }

  test("match counting: engine == oracle, zero-match queries emit rows") {
    val qs = sampleQueries
    val counts = Searcher.countMatches(spark, indexDir, qs, nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.size == qs.size)
    assert(counts(4L) == 0L) // unknown term
    assert(counts(1L) > 0L)
    // oracle: docs containing every distinct term
    val withIds = Builder.withDocIds(corpus).cache()
    val q2terms = Tokenizer.tokens(qs(1).text).distinct
    val oracleCount = withIds.filter(q2terms.map(t =>
      array_contains(Builder.tokensCol(col("content")), t)).reduce(_ && _)).count()
    assert(counts(2L) == oracleCount)
  }

  test("docID assignment parallelizes inside one giant repo (monorepo)") {
    import spark.implicits._
    val n = 20000
    // ONE repo: the r2 per-repo window would funnel all n rows through a
    // single task; the range-sorted assignment must not
    val corpus = spark.range(n).select(
      lit("monorepo").as("repo"),
      format_string("src/%02d/f%08d.c", pmod(col("id"), lit(37)), col("id"))
        .as("path"),
      lit("c0").as("commit"), lit("c").as("lang"),
      concat(lit("alpha beta f"), col("id").cast("string")).as("content"))
    val ids = Builder.withDocIds(corpus)
    assert(ids.rdd.getNumPartitions > 1,
      "single-repo id assignment must run in >1 task")
    val got = ids.select("path", "doc_id").as[(String, Long)]
      .collect().sortBy(_._2)
    // dense 0..n-1, and identical to row_number over (repo, path, commit)
    assert(got.map(_._2).toSeq == (0L until n).toSeq)
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    // deterministic across recomputation
    val again = Builder.withDocIds(corpus).select("path", "doc_id")
      .as[(String, Long)].collect().sortBy(_._2)
    assert(again.toSeq == got.toSeq)
  }

  test("resume: deleting one segment commit rebuilds only it, identically") {
    import java.nio.file.{Files, Paths}
    val d = tmpDir("graft-resume")
    val conf = Builder.Config(blockSize = 32, nBuckets = 8, nSegments = 2, saltTarget = 30)
    val small = Synth.corpus(spark, 120, seed = 7L)
    Builder.build(spark, small, d, conf)
    def fingerprint(): Array[(String, Long, Long)] =
      spark.read.parquet(s"$d/postings")
        .groupBy("term").agg(bit_xor(xxhash64(col("doc_deltas"))).as("h"),
          sum("num_docs").cast("long").as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    val before = fingerprint()
    // simulate a killed run: segment 1 uncommitted + data gone
    Files.delete(Paths.get(d, "_COMMIT_segment_1"))
    Files.delete(Paths.get(d, "_COMMIT_index"))
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
    }
    rm(new java.io.File(s"$d/postings/segment=1"))
    Builder.build(spark, small, d, conf)
    val after = fingerprint()
    assert(after.toSeq == before.toSeq)
    assert(Files.exists(Paths.get(d, "_COMMIT_segment_1")))
  }

  test("docID ordering is pluggable (S4): a permutation reverses ids, index stays sound") {
    import spark.implicits._
    val small = Synth.corpus(spark, 60, seed = 11L)
    val n = 60L
    // permutation = exact reverse of the default (repo, path, commit)
    // order, supplied as a rank table the way a measured ordering would be
    val perm = Builder.withDocIds(small)
      .select(col("repo"), col("path"), col("commit"),
        (lit(n - 1) - col("doc_id")).as("ord"))
    val d = tmpDir("perm-idx")
    Builder.build(spark, Builder.withPermutation(small, perm), d,
      Builder.Config(blockSize = 32, nBuckets = 8, nSegments = 1,
        saltTarget = 30, orderCols = Seq("ord", "repo", "path", "commit")))
    // ids follow the permutation: doc with default id i now has id n-1-i
    val defIds = Builder.withDocIds(small).select("path", "doc_id")
      .as[(String, Long)].collect().toMap
    val gotIds = spark.read.parquet(s"$d/docmeta").select("path", "doc_id")
      .as[(String, Long)].collect().toMap
    assert(gotIds.size == n)
    gotIds.foreach { case (p, id) => assert(id == n - 1 - defIds(p), p) }
    // the reordered index still searches correctly (sha integrity held
    // by the snapshot; check a live query resolves a true match)
    val t = Tokenizer.tokens(Synth.doc(11L, 5L).content)(0)
    val hits = Searcher.searchTopK(spark, d, Seq(Query(1, t)), 5,
      Searcher.And, nBuckets = 8)
    val resolved = Searcher.resolve(spark, d, hits)
      .select("doc_id", "path").as[(Long, String)].collect()
    assert(resolved.nonEmpty)
    resolved.foreach { case (id, p) => assert(gotIds(p) == id) }
    // _META records the ordering for future readers/compactions
    assert(Builder.loadConfig(spark, d).get.orderCols ==
      Seq("ord", "repo", "path", "commit"))
  }

  test("verification: every reported hit's terms occur in the doc content") {
    import spark.implicits._
    val qs = sampleQueries.filter(q => q.query_id != 4 && q.query_id != 7)
    val hits = Searcher.searchTopK(spark, indexDir, qs, 5, Searcher.And, nBuckets = 8)
    val withIds = Builder.withDocIds(corpus)
      .select($"doc_id", $"content")
    val resolved = hits.join(withIds, "doc_id")
      .select($"query_id", $"doc_id", $"content")
      .as[(Long, Long, String)].collect()
    val byQ = qs.map(q => q.query_id -> Tokenizer.tokens(q.text).distinct).toMap
    resolved.foreach { case (qid, _, content) =>
      val docTerms = Tokenizer.tokens(content).toSet
      assert(byQ(qid).forall(docTerms.contains))
    }
  }
}
