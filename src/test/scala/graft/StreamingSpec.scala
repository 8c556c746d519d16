package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.corpus.Synth
import graft.index.{Builder, CodeDoc}
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** Incremental streaming ingest: per-batch segments, stats/dictionary
  * refresh, query results identical to a full batch rebuild. */
class StreamingSpec extends SparkTestBase {

  test("streamed index answers queries identically to a batch rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = (0L until 180L).map(i => Synth.doc(42L, i))
    val (b1, rest) = all.splitAt(60)
    val (b2, b3) = rest.splitAt(60)

    val dir = tmpDir("stream-idx")
    val conf = Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 2,
      saltTarget = 40)
    val ms = MemoryStream[CodeDoc]
    // autoCompact off: this test asserts the per-batch segment layout and
    // exercises the MANUAL compaction path at the end
    val q = IncrementalIndexer.start(ms.toDF(), dir, conf, tmpDir("stream-ckpt"),
      autoCompact = false)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b3); q.processAllAvailable()
    } finally q.stop()

    // full batch rebuild over the union
    val fullDir = tmpDir("full-idx")
    Builder.build(spark, all.toDF(), fullDir, conf)

    // the uncompacted layout (base + segment=s* dirs) decodes to the
    // rebuild's postings, and its block ranges keep the WAND invariant
    assert(Builder.indexEqual(spark, dir, fullDir))
    spark.read.parquet(s"$dir/postings")
      .select($"term", $"doc_id_base", $"doc_id_max")
      .as[(String, Long, Long)].collect().groupBy(_._1)
      .foreach { case (t, bs) =>
        bs.sortBy(_._2).sliding(2).foreach {
          case Array((_, _, max1), (_, base2, _)) =>
            assert(max1 < base2, s"term $t has overlapping blocks")
          case _ =>
        }
      }

    // id-independent invariants (streamed dict = base + delta segments)
    assert(Builder.loadStats(spark, dir) == Builder.loadStats(spark, fullDir))
    val dictA = Builder.dictionary(spark, dir).select("term", "df", "cf")
    val dictB = Builder.dictionary(spark, fullDir).select("term", "df", "cf")
    assert(dictA.except(dictB).count() == 0 && dictB.except(dictA).count() == 0)

    // query results identical when compared by resolved (repo, path)
    val doc = Synth.doc(42L, 100L).content
    val t = graft.index.Tokenizer.tokens(doc)
    val qs = Seq(
      Searcher.Query(1, t(0)),
      Searcher.Query(2, s"${t(1)} ${t(4)}"),
      Searcher.Query(3, "id_0 id_1"))
    def resolved(ix: String) =
      Searcher.resolve(spark, ix, Searcher.searchTopK(spark, ix, qs, 10))
        .select("query_id", "rank", "score", "repo", "path")
        .orderBy("query_id", "rank").collect().toSeq
    assert(resolved(dir) == resolved(fullDir))

    // segments exist per non-bootstrap batch
    val segs = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(segs.count(_.startsWith("segment=s")) >= 2, segs.mkString(","))

    // replaying a committed batch is a no-op (idempotency)
    val before = spark.read.parquet(s"$dir/postings").count()
    IncrementalIndexer.ingestBatch(spark, b2.toDF(), dir, conf, 1L, autoCompact = false)
    assert(spark.read.parquet(s"$dir/postings").count() == before)

    // sha integrity holds across appended docmeta
    val meta = spark.read.parquet(s"$dir/docmeta")
    assert(meta.count() == 180)
    assert(meta.select("content_sha256").distinct().count() ==
      all.map(_.content).distinct.size)

    // one more batch (default auto-compaction) before the compaction below
    IncrementalIndexer.ingestBatch(spark,
      Seq(Synth.doc(42L, 999L)).toDF(), dir, conf, 77L)

    // compaction folds stream segments back into canonical ones; the
    // compacted index is logically equal to a batch rebuild over the
    // same docs (dictionary/stats/decoded postings)
    graft.streaming.Compactor.compact(spark, dir, conf)
    val segsAfter = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(segsAfter.forall(!_.startsWith("segment=s")), segsAfter.mkString(","))
    assert(segsAfter.length == conf.nSegments)
    val fullDir2 = tmpDir("full-idx2")
    Builder.build(spark, (all :+ Synth.doc(42L, 999L)).toDF(), fullDir2, conf)
    assert(Builder.indexEqual(spark, dir, fullDir2))
  }

  test("null and empty content are empty docs through build, ingest and every query") {
    import spark.implicits._
    import graft.query.{Oracle, Phrase, Substring}
    val dir = tmpDir("null-content")
    val conf = Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 2,
      saltTarget = 40, storePositions = true, storeTrigrams = true)
    val built = (0L until 40L).map(i => Synth.doc(21L, i)) ++ Seq(
      CodeDoc("r_null", "a.c", "c0", "c", null),
      CodeDoc("r_empty", "b.c", "c0", "c", ""))
    val streamed = Seq(CodeDoc("r_null2", "c.c", "c0", "c", null),
      Synth.doc(21L, 40L))
    Builder.build(spark, built.toDF(), dir, conf)
    IncrementalIndexer.ingestBatch(spark, streamed.toDF(), dir, conf, 0L,
      autoCompact = false)

    assert(Builder.loadStats(spark, dir).n_docs == built.size + streamed.size)
    val meta = spark.read.parquet(s"$dir/docmeta")
    val src = (built ++ streamed).toDF()
      .select($"repo", $"path", sha2($"content", 256).as("want"))
    val joined = meta.join(src, Seq("repo", "path"))
    assert(joined.count() == built.size + streamed.size)
    assert(joined.filter(!($"content_sha256" <=> $"want")).count() == 0)
    val blank = meta.filter($"repo".isin("r_null", "r_empty", "r_null2"))
      .select("doc_id", "dl").as[(Long, Int)].collect()
    assert(blank.length == 3 && blank.forall(_._2 == 0))
    val blankIds = blank.map(_._1).toSet

    val text = Synth.doc(21L, 3L).content
    val t = graft.index.Tokenizer.tokens(text)
    val qs = Seq(Searcher.Query(1, t(0)), Searcher.Query(2, s"${t(1)} ${t(2)}"))
    val corpusIds = spark.read.parquet(s"$dir/corpus_ids")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    for (mode <- Seq(Searcher.And, Searcher.Or)) {
      val got = ranked(Searcher.searchTopK(spark, dir, qs, 10, mode))
      val want = ranked(Oracle.topK(spark, corpusIds, qs, 10,
        conjunctive = mode == Searcher.And))
      assert(want.nonEmpty, s"$mode")
      assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)),
        s"$mode")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._4 - w._4) <= 1e-9, s"$mode: $g vs $w")
      }
    }
    val phrase = Phrase.searchTopK(spark, dir,
      Seq(Searcher.Query(1, s"${t(0)} ${t(1)}")), 10)
      .select("doc_id").as[Long].collect()
    assert(phrase.nonEmpty && !phrase.exists(blankIds))
    val sub = Substring.find(spark, dir, Seq(1L -> text.take(3),
      2L -> text.take(2)), nBuckets = conf.nBuckets, allowShortScan = true)
      .select("query_id", "doc_id").as[(Long, Long)].collect()
    assert(sub.map(_._1).toSet == Set(1L, 2L) && !sub.exists(r => blankIds(r._2)))
  }

  test("a warm driver block map never serves stale blocks across ingest and compaction") {
    import spark.implicits._
    import graft.query.{IndexHandle, Oracle}
    import graft.streaming.Compactor
    val dir = tmpDir("stream-warm-handle")
    val conf = Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 2,
      saltTarget = 40)
    Builder.build(spark, (0L until 80L).map(i => Synth.doc(33L, i)).toDF(),
      dir, conf)
    val fresh = "zq_fresh_term"
    val qs = Seq(Searcher.Query(1, fresh), Searcher.Query(2, s"$fresh id_0"),
      Searcher.Query(3, "id_0 id_1"))
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    def check(stage: String): Unit = {
      val corpusIds = spark.read.parquet(s"$dir/corpus_ids")
      val freshIds = corpusIds.filter(col("content").contains(fresh))
        .select("doc_id").as[Long].collect().toSet
      assert(freshIds.size == 1, stage)
      for (mode <- Seq(Searcher.And, Searcher.Or)) {
        val got = ranked(Searcher.searchTopK(spark, dir, qs, 10, mode))
        val want = ranked(Oracle.topK(spark, corpusIds, qs, 10,
          conjunctive = mode == Searcher.And))
        assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)),
          s"$stage $mode")
        got.zip(want).foreach { case (g, w) =>
          assert(math.abs(g._4 - w._4) <= 1e-9, s"$stage $mode: $g vs $w")
        }
        for (q <- Seq(1L, 2L))
          assert(got.exists(r => r._1 == q && freshIds(r._3)), s"$stage $mode $q")
      }
    }
    // load the driver block map while the fresh term is absent
    assert(Searcher.searchTopK(spark, dir, qs, 10).collect()
      .forall(_.getLong(0) == 3L))
    assert(IndexHandle.open(spark, dir).driverBlocksResident)
    IncrementalIndexer.ingestBatch(spark,
      Seq(CodeDoc("r_fresh", "fresh.c", "c0", "c", s"$fresh id_0 $fresh")).toDF(),
      dir, conf, 0L, autoCompact = false)
    check("after ingest")
    assert(Compactor.maybeCompact(spark, dir, conf, minStreamFraction = 0.0))
    check("after compaction")
  }

  test("windowed event aggregation: streaming (watermarked) == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    def ts(minutes: Long) =
      new java.sql.Timestamp(base.getTime + minutes * 60000L)
    val evs = (0L until 300L).map { i =>
      (i, ts(i * 7), i % 5, if (i % 3 == 0) "click" else "view",
        (i % 17) + 0.25)
    }
    val batchDf = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val streamed = graft.ops.Events.windowedTypeCountsStream(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      "1 hour", "10 minutes")
    val q = streamed.writeStream.format("memory")
      .queryName("win_agg").outputMode("complete").start()
    try {
      evs.grouped(100).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
    val got = canon(spark.sql("SELECT * FROM win_agg"))
    val want = canon(graft.ops.Events.windowedTypeCounts(batchDf, "1 hour"))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("sessionize: streaming state op == batch window op once sessions close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def ts(minutes: Long) =
      new java.sql.Timestamp(base.getTime + minutes * 60000L)
    // 3 users, cumulative gaps alternating under/over the 30-minute
    // session gap (every 4th step is 45 min, the rest 10 min) — event
    // time must be monotone or the 0-delay watermark would drop rows the
    // batch side keeps
    val evs = (0L until 120L).map { i =>
      val j = i / 3
      val minute = j * 10 + ((j + 1) / 4) * 35
      (i, ts(minute), i % 3, "click", (i % 9) + 0.5)
    }
    val batchDf = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    // watermark delay must cover cross-user event-time skew inside a
    // micro-batch (here up to one 45-min step), or boundary events arrive
    // "late" and are dropped — exactly what the delay knob is for
    val streamed = graft.ops.Events.sessionizeStream(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      gapMinutes = 30, watermark = "45 minutes")
    val q = streamed.writeStream.format("memory")
      .queryName("sessions").outputMode("append").start()
    try {
      evs.grouped(40).foreach { g => ms.addData(g); q.processAllAvailable() }
      // a far-future sentinel per user advances the event-time watermark
      // so every real session times out and is emitted
      val far = evs.map(_._2.getTime).max + 100L * 3600 * 1000
      ms.addData((0L until 3L).map(u =>
        (9000L + u, new java.sql.Timestamp(far), u, "click", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "session_start", "n_events", "sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    val got = canon(spark.sql("SELECT * FROM sessions"))
    val want = canon(graft.ops.Events.sessionize(batchDf, 30))
    assert(got == want)
    assert(got.size > 3) // multiple sessions per user actually split
  }

  test("streamed index keeps phrase + substring exact (positions/trigrams append)") {
    import spark.implicits._
    val dir = tmpDir("stream-pos")
    val conf = Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 1,
      saltTarget = 40, storePositions = true, storeTrigrams = true)
    val b0 = (0L until 40L).map(i => Synth.doc(13L, i))
    IncrementalIndexer.ingestBatch(spark, b0.toDF(), dir, conf, 0L, autoCompact = false) // bootstrap
    // post-bootstrap doc with a unique phrase + unique raw substring
    val late = graft.index.CodeDoc("zrepo", "zz_late.txt", "c1", "x",
      "prefix tokens qqalpha qqbravo qqcharlie and rawXYZneedle99 tail")
    IncrementalIndexer.ingestBatch(spark, Seq(late).toDF(), dir, conf, 1L, autoCompact = false)

    val ph = graft.query.Phrase.searchTopK(spark, dir,
      Seq(Searcher.Query(1, "qqalpha qqbravo qqcharlie")), 10)
      .select("doc_id").as[Long].collect()
    assert(ph.length == 1, "phrase over a streamed doc must match")
    val sub = graft.query.Substring.find(spark, dir,
      Seq(1L -> "rawXYZneedle99"))
      .select("doc_id", "n_matches", "first_offset")
      .as[(Long, Long, Long)].collect()
    assert(sub.length == 1 && sub(0)._2 == 1L &&
      sub(0)._3 == late.content.indexOf("rawXYZneedle99"))
    // the streamed doc is the one found (ids are dense, so it's the max)
    val maxId = spark.read.parquet(s"$dir/docmeta")
      .agg(max("doc_id")).as[Long].head()
    assert(ph(0) == maxId && sub(0)._1 == maxId)

    // retry idempotency also holds for the positions/trigrams appends
    graft.util.Fs.delete(spark, s"$dir/_COMMIT_stream_batch_1")
    graft.util.Fs.write(spark, s"$dir/_BASE_b1", "40")
    IncrementalIndexer.ingestBatch(spark, Seq(late).toDF(), dir, conf, 1L, autoCompact = false)
    assert(spark.read.parquet(s"$dir/positions")
      .filter(col("doc_id") === maxId).count() ==
      graft.index.Tokenizer.tokens(late.content).distinct.length)
  }

  test("compactor reads layout from _META.json and survives a crashed swap") {
    import spark.implicits._
    val dir = tmpDir("compact-meta")
    // non-default layout: nBuckets=4, nSegments=2
    val conf = Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 2,
      saltTarget = 40)
    val docs = (0L until 80L).map(i => Synth.doc(31L, i))
    IncrementalIndexer.ingestBatch(spark, docs.take(50).toDF(), dir, conf, 0L, autoCompact = false)
    IncrementalIndexer.ingestBatch(spark, docs.drop(50).toDF(), dir, conf, 1L, autoCompact = false)
    val qs = Seq(Searcher.Query(1, "id_0"), Searcher.Query(2, "id_0 id_1"))
    def hits() = Searcher.searchTopK(spark, dir, qs, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = hits()
    // compact with DEFAULT caller config (nBuckets=32 etc.): the index's
    // own _META.json must win or bucket pushdown would silently miss rows
    graft.streaming.Compactor.compact(spark, dir)
    assert(hits() == before && before.nonEmpty)
    val buckets = spark.read.parquet(s"$dir/postings")
      .select("bucket").distinct().as[Int].collect()
    assert(buckets.forall(b => b >= 0 && b < 4))

    // crashed swap: postings renamed away, compact dir present -> any
    // reader (IndexHandle.open) heals it
    graft.util.Fs.rename(spark, s"$dir/postings", s"$dir/postings_compact")
    graft.query.IndexHandle.invalidate(spark, dir)
    assert(hits() == before)
    assert(graft.util.Fs.exists(spark, s"$dir/postings"))
    assert(!graft.util.Fs.exists(spark, s"$dir/postings_compact"))
  }

  test("a partially-failed batch retry converges (idempotent appends + dict delta)") {
    import spark.implicits._
    val dir = tmpDir("stream-retry")
    val conf = Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 1,
      saltTarget = 40)
    val b0 = (0L until 50L).map(i => Synth.doc(9L, i))
    val b1 = (50L until 90L).map(i => Synth.doc(9L, i))
    IncrementalIndexer.ingestBatch(spark, b0.toDF(), dir, conf, 0L, autoCompact = false) // bootstrap
    IncrementalIndexer.ingestBatch(spark, b1.toDF(), dir, conf, 1L, autoCompact = false)
    // rewind to a REACHABLE crash state: raw/docmeta appends + stats done,
    // the dict delta promote NOT done, no commit marker (= crash between
    // the postings segment write and the dict_deltas promote)
    graft.util.Fs.delete(spark, s"$dir/_COMMIT_stream_batch_1")
    graft.util.Fs.deletePrefixed(spark, s"$dir/dict_deltas", "b1_")
    graft.util.Fs.write(spark, s"$dir/_BASE_b1", "50") // pinned on attempt 1
    // retry the whole batch — staged batch-prefixed promotes + the pinned
    // id base must make this converge, not double-append or shift ids
    IncrementalIndexer.ingestBatch(spark, b1.toDF(), dir, conf, 1L, autoCompact = false)
    // and a SECOND full retry (everything already promoted) is a no-op
    // that still converges
    graft.util.Fs.delete(spark, s"$dir/_COMMIT_stream_batch_1")
    graft.util.Fs.write(spark, s"$dir/_BASE_b1", "50")
    IncrementalIndexer.ingestBatch(spark, b1.toDF(), dir, conf, 1L, autoCompact = false)
    val fullDir = tmpDir("stream-retry-full")
    Builder.build(spark, (b0 ++ b1).toDF(), fullDir, conf)
    assert(spark.read.parquet(s"$dir/docmeta").count() == 90)
    assert(spark.read.parquet(s"$dir/corpus_ids").count() == 90)
    assert(Builder.loadStats(spark, dir) == Builder.loadStats(spark, fullDir))
    val dictA = Builder.dictionary(spark, dir).select("term", "df", "cf")
    val dictB = Builder.dictionary(spark, fullDir).select("term", "df", "cf")
    assert(dictA.except(dictB).count() == 0 && dictB.except(dictA).count() == 0)
    // postings_raw did not double-append
    assert(spark.read.parquet(s"$dir/postings_raw").count() ==
      spark.read.parquet(s"$fullDir/postings_raw").count())
  }

  test("dictionary ingest is O(batch): base files untouched, deltas folded by compact") {
    import spark.implicits._
    val dir = tmpDir("stream-dict")
    val conf = Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 1,
      saltTarget = 40)
    IncrementalIndexer.ingestBatch(spark,
      (0L until 40L).map(i => Synth.doc(3L, i)).toDF(), dir, conf, 0L)
    def baseFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/dictionary"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = baseFiles()
    val novel = graft.index.CodeDoc("zr", "znew.txt", "c1", "x",
      "zz_brand_new_term alpha")
    IncrementalIndexer.ingestBatch(spark, Seq(novel).toDF(), dir, conf, 1L, autoCompact = false)
    // the per-batch refresh wrote ONLY a delta segment — base unchanged,
    // independent of vocabulary size
    assert(baseFiles() == before)
    assert(graft.util.Fs.exists(spark, s"$dir/dict_deltas"))
    val merged = Builder.dictionary(spark, dir)
      .filter(col("term") === "zz_brand_new_term")
      .select("df").as[Long].collect()
    assert(merged.toSeq == Seq(1L))
    // searcher sees the merged view (new term is queryable)
    val hits = Searcher.searchTopK(spark, dir,
      Seq(Searcher.Query(1, "zz_brand_new_term")), 5).collect()
    assert(hits.length == 1)
    // compaction folds deltas into the base and drops them
    graft.streaming.Compactor.compact(spark, dir, conf)
    assert(!graft.util.Fs.exists(spark, s"$dir/dict_deltas"))
    assert(Builder.dictionary(spark, dir)
      .filter(col("term") === "zz_brand_new_term").count() == 1)
    // interrupted fold states are recoverable: predelta alongside
    // dictionary (= swap done, cleanup pending) must drop stale deltas
    graft.util.Fs.write(spark, s"$dir/dict_deltas/stale", "x")
    graft.util.Fs.write(spark, s"$dir/dictionary_predelta/stale", "x")
    Builder.recoverDictionary(spark, dir)
    assert(!graft.util.Fs.exists(spark, s"$dir/dict_deltas"))
    assert(!graft.util.Fs.exists(spark, s"$dir/dictionary_predelta"))
  }

  test("auto-compaction keeps a long ingest's segment count bounded, queries exact") {
    import spark.implicits._
    val dir = tmpDir("stream-autocompact")
    val conf = Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 2,
      saltTarget = 40)
    // bootstrap 100 docs, then 10 micro-batches of 4 docs under the
    // DEFAULT policy (autoCompact on): the size-tiered trigger
    // (stream bytes >= 10% of base) must fire at least once across the
    // run — no manual compact call anywhere
    val all = (0L until 140L).map(i => Synth.doc(21L, i))
    IncrementalIndexer.ingestBatch(spark, all.take(100).toDF(), dir, conf, 0L)
    (0 until 10).foreach { b =>
      IncrementalIndexer.ingestBatch(spark,
        all.slice(100 + b * 4, 100 + b * 4 + 4).toDF(), dir, conf, b + 1L)
    }
    val segs = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.isDirectory).map(_.getName)
    val streamSegs = segs.count(_.startsWith("segment=s"))
    // without the policy this would be 10; the tier trigger keeps it low
    assert(streamSegs < 5, s"stream segments unbounded: ${segs.mkString(",")}")
    // compacted-under-ingest index answers exactly like a batch rebuild
    val fullDir = tmpDir("stream-autocompact-full")
    Builder.build(spark, all.toDF(), fullDir, conf)
    val doc = Synth.doc(21L, 120L).content
    val t = graft.index.Tokenizer.tokens(doc)
    val qs = Seq(Searcher.Query(1, t(0)), Searcher.Query(2, s"${t(1)} ${t(3)}"))
    def resolved(ix: String) =
      Searcher.resolve(spark, ix, Searcher.searchTopK(spark, ix, qs, 10))
        .select("query_id", "rank", "score", "repo", "path")
        .orderBy("query_id", "rank").collect().toSeq
    assert(resolved(dir) == resolved(fullDir))
    assert(resolved(dir).nonEmpty)
  }

  test("foldDictionary refuses while a batch is unfinished; retry unblocks it") {
    import spark.implicits._
    val dir = tmpDir("stream-fold-guard")
    val conf = Builder.Config(blockSize = 16, nBuckets = 4, nSegments = 1,
      saltTarget = 40)
    IncrementalIndexer.ingestBatch(spark,
      (0L until 20L).map(i => Synth.doc(8L, i)).toDF(), dir, conf, 0L)
    val doc = graft.index.CodeDoc("zr", "zfold.txt", "c1", "x",
      "zz_fold_guard_term beta")
    IncrementalIndexer.ingestBatch(spark, Seq(doc).toDF(), dir, conf, 1L, autoCompact = false)
    assert(graft.util.Fs.exists(spark, s"$dir/dict_deltas"))
    // simulate a crash mid-batch-2: delta promoted, commit marker absent
    graft.util.Fs.write(spark, s"$dir/_BASE_b2", "21")
    graft.streaming.Compactor.foldDictionary(spark, dir, 4, 8)
    // REFUSED: the delta must survive untouched (folding it now would
    // double-count when the stream retries batch 2's delta promote)
    assert(graft.util.Fs.exists(spark, s"$dir/dict_deltas"),
      "fold ran despite an unfinished batch marker")
    // retry path A: the batch turns out to be committed (marker written,
    // _BASE left behind by a crash) -> the early-return cleans _BASE up
    graft.util.Fs.write(spark, s"$dir/_COMMIT_stream_batch_2", "{}")
    IncrementalIndexer.ingestBatch(spark, Seq(doc).toDF(), dir, conf, 2L, autoCompact = false)
    assert(!graft.util.Fs.exists(spark, s"$dir/_BASE_b2"))
    // now the fold proceeds and the merged dictionary stays correct
    graft.streaming.Compactor.foldDictionary(spark, dir, 4, 8)
    assert(!graft.util.Fs.exists(spark, s"$dir/dict_deltas"))
    val df = Builder.dictionary(spark, dir)
      .filter(col("term") === "zz_fold_guard_term")
      .select("df").as[Long].collect()
    assert(df.toSeq == Seq(1L))
  }

  test("query stream: serves query files until exit(); results == batch path") {
    import spark.implicits._
    import graft.streaming.QueryStream
    val all = (0L until 120L).map(i => Synth.doc(7L, i))
    val dir = tmpDir("qs-idx")
    val conf = Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 2,
      saltTarget = 40)
    Builder.build(spark, all.toDF(), dir, conf)

    val t = graft.index.Tokenizer.tokens(Synth.doc(7L, 3L).content)
    val texts1 = Seq(t(0), s"${t(1)} ${t(2)}")
    val texts2 = Seq(s"${t(0)} ${t(3)}")
    def writeFile(qdir: String, name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(qdir, name),
        scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)

    val qDir = tmpDir("qs-in")
    val outDir = tmpDir("qs-out")
    writeFile(qDir, "q1.txt", texts1)
    val q = QueryStream.serve(spark, dir, qDir, outDir, k = 5, nBuckets = 8)
    try {
      q.processAllAvailable()
      writeFile(qDir, "q2.txt", texts2 :+ graft.corpus.Queries.Sentinel)
      assert(QueryStream.awaitSentinel(spark, q, outDir),
        "sentinel batch never processed")
    } finally if (q.isActive) q.stop()

    val got = QueryStream.results(spark, outDir)
      .select("text", "rank", "doc_id", "score")
      .as[(String, Int, Long, Double)].collect().toSet
    assert(got.map(_._1) == (texts1 ++ texts2).toSet,
      "every non-sentinel query answered exactly once")
    // identical rankings via the batch dispatcher
    val batchQs = (texts1 ++ texts2).zipWithIndex
      .map { case (x, i) => Searcher.Query(i + 1L, x) }
    val want = Searcher.searchTopK(spark, dir, batchQs, 5, nBuckets = 8)
      .join(broadcast(batchQs.map(b => b.query_id -> b.text)
        .toDF("query_id", "text")), "query_id")
      .select("text", "rank", "doc_id", "score")
      .as[(String, Int, Long, Double)].collect().toSet
    assert(got == want)

    // replaying a batch overwrites its own output (no duplicates)
    val before = QueryStream.results(spark, outDir).count()
    QueryStream.serveBatch(spark,
      texts1.toDF("value"), dir, outDir, 0L, 5, Searcher.And, 8)
    assert(QueryStream.results(spark, outDir).count() == before)

    // an oversized batch (one huge file) fails loudly instead of
    // collecting unbounded lines onto the driver
    intercept[IllegalArgumentException] {
      QueryStream.serveBatch(spark,
        spark.range(QueryStream.MaxBatchLines + 5L)
          .select(concat(lit("q"), col("id")).as("value")),
        dir, outDir, 99L, 5, Searcher.And, 8)
    }
  }

  test("query stream: sentinel-only session, duplicate lines, out-dir reuse") {
    import spark.implicits._
    import graft.streaming.QueryStream
    val all = (0L until 60L).map(i => Synth.doc(11L, i))
    val dir = tmpDir("qs2-idx")
    Builder.build(spark, all.toDF(), dir, Builder.Config(blockSize = 16,
      nBuckets = 8, nSegments = 2, saltTarget = 40))
    val t = graft.index.Tokenizer.tokens(Synth.doc(11L, 3L).content)
    def writeFile(qdir: String, name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(qdir, name),
        scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)

    // a session whose only input is the sentinel: results() must read as
    // an empty frame of the declared schema, not fail on a missing path
    val qDir = tmpDir("qs2-in")
    val outDir = tmpDir("qs2-out")
    writeFile(qDir, "exit.txt", Seq(graft.corpus.Queries.Sentinel))
    val q1 = QueryStream.serve(spark, dir, qDir, outDir, k = 3, nBuckets = 8)
    try assert(QueryStream.awaitSentinel(spark, q1, outDir))
    finally if (q1.isActive) q1.stop()
    assert(QueryStream.results(spark, outDir).count() == 0)

    // duplicate query lines in one batch are each answered (adjacent
    // replay-stable ids), like the reference REPL answering every line
    QueryStream.serveBatch(spark, Seq(t(0), t(0)).toDF("value"),
      dir, outDir, 5L, 3, Searcher.And, 8)
    val dup = QueryStream.results(spark, outDir)
      .filter(col("text") === t(0))
    assert(dup.select("query_id").distinct().count() == 2,
      "both duplicate lines answered under their own ids")

    // reusing a COMPLETED session's out-dir starts a fresh session: the
    // checkpoint is dropped with the _EXIT marker, so the new stream
    // must reach its sentinel instead of hanging until timeout
    writeFile(qDir, "q2.txt", Seq(t(1), graft.corpus.Queries.Sentinel))
    val q2 = QueryStream.serve(spark, dir, qDir, outDir, k = 3, nBuckets = 8)
    try assert(QueryStream.awaitSentinel(spark, q2, outDir, timeoutMs = 60000L),
      "restarted session never reached its sentinel (stale checkpoint?)")
    finally if (q2.isActive) q2.stop()
    assert(QueryStream.results(spark, outDir)
      .filter(col("text") === t(1)).count() > 0)
  }
}
