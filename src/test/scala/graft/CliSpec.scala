package graft

import graft.corpus.{Corpus, Synth}

/** The spark-submit CLI surface: index -> query/count/phrase/substring
  * through Cli.run with .ginq-protocol query files. */
class CliSpec extends SparkTestBase {

  test("cli: index + query + count + substring round-trip") {
    import spark.implicits._
    val src = tmpDir("cli-src")
    Corpus.write(Synth.corpus(spark, 150, seed = 21L), src)
    val idx = tmpDir("cli-idx") + "/index"

    Cli.run(spark, Array("index", "--input", src, "--out", idx,
      "--buckets", "8", "--segments", "2", "--salt-target", "60",
      "--positions", "--trigrams"))
    assert(graft.util.Fs.exists(spark, s"$idx/_COMMIT_index"))

    // .ginq protocol: one query per line, exit(); sentinel
    val qf = java.nio.file.Files.createTempFile("cli-q", ".ginq")
    java.nio.file.Files.writeString(qf,
      "id_0\nid_0 id_1\nexit();\nid_ignored_after_sentinel\n")
    val topk = Cli.run(spark, Array("query", "--index", idx,
      "--queries", qf.toString, "--k", "5", "--buckets", "8")).get
    val rows = topk.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(1) <= 5))
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L)) // sentinel honored

    val resolved = Cli.run(spark, Array("query", "--index", idx,
      "--queries", qf.toString, "--k", "3", "--buckets", "8",
      "--resolve")).get
    assert(resolved.columns.contains("repo"))

    val counts = Cli.run(spark, Array("count", "--index", idx,
      "--queries", qf.toString, "--buckets", "8")).get.collect()
    assert(counts.length == 2 && counts.forall(_.getLong(1) > 0))

    val sub = Cli.run(spark, Array("substring", "--index", idx,
      "--queries", qf.toString, "--buckets", "8")).get
    assert(sub.columns.toSeq ==
      Seq("query_id", "doc_id", "n_matches", "first_offset"))

    // flag/opt scanner (shared by main() and run()): a standalone flag
    // between --key value pairs must not misalign the pairing (the r2
    // main() bug: --resolve --out X paired (--resolve, --out) and
    // silently dropped the output dir)
    val parsed = Cli.opts(Array("query", "--index", idx,
      "--queries", qf.toString, "--resolve", "--out", "/r", "--positions"))
    assert(parsed.get("out").contains("/r") && parsed("index") == idx)

    // full match decode: substring offsets and phrase token positions
    val dec = Cli.run(spark, Array("decode", "--index", idx,
      "--queries", qf.toString, "--buckets", "8",
      "--max-matches", "7")).get.collect()
    assert(dec.nonEmpty)
    assert(dec.groupBy(_.getLong(0)).values.forall(_.length <= 7))
    val decPh = Cli.run(spark, Array("decode", "--index", idx,
      "--queries", qf.toString, "--what", "phrase", "--buckets", "8")).get
    assert(decPh.columns.toSeq == Seq("query_id", "doc_id", "pos"))
  }

  test("cli: index --permutation reorders doc ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = tmpDir("cli-perm-src")
    Corpus.write(Synth.corpus(spark, 40, seed = 22L), src)
    // reverse permutation table (repo, path, commit, ord)
    val perm = graft.index.Builder
      .withDocIds(spark.read.parquet(src)
        .select("repo", "path", "commit", "lang", "content"))
      .select(col("repo"), col("path"), col("commit"),
        (lit(39L) - col("doc_id")).as("ord"))
    val permDir = tmpDir("cli-perm")
    perm.write.mode("overwrite").parquet(permDir)
    val idx = tmpDir("cli-perm-idx") + "/index"
    Cli.run(spark, Array("index", "--input", src, "--out", idx,
      "--buckets", "4", "--segments", "1", "--salt-target", "60",
      "--permutation", permDir))
    assert(graft.index.Builder.loadConfig(spark, idx).get.orderCols ==
      Seq("ord", "repo", "path", "commit"))
  }

  test("cli: order computes a permutation that index --permutation consumes") {
    val src = tmpDir("cli-order-src")
    Corpus.write(Synth.localizedCorpus(spark, 80), src)
    val permDir = tmpDir("cli-order-perm")
    Cli.run(spark, Array("order", "--input", src, "--out", permDir,
      "--hashes", "8"))
    val perm = spark.read.parquet(permDir)
    assert(perm.columns.sorted.toSeq == Seq("commit", "ord", "path", "repo"))
    assert(perm.count() == 80)
    val idx = tmpDir("cli-order-idx") + "/index"
    Cli.run(spark, Array("index", "--input", src, "--out", idx,
      "--buckets", "4", "--segments", "1", "--salt-target", "60",
      "--permutation", permDir))
    assert(graft.index.Builder.loadConfig(spark, idx).get.orderCols ==
      Seq("ord", "repo", "path", "commit"))
    assert(graft.util.Fs.exists(spark, s"$idx/_COMMIT_index"))
  }

  test("cli: deindex, spectrum, clean, and serve verbs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = tmpDir("cli-dx-src")
    val corpus = Synth.corpus(spark, 60, seed = 31L)
    Corpus.write(corpus, src)
    val idx = tmpDir("cli-dx-idx") + "/index"
    Cli.run(spark, Array("index", "--input", src, "--out", idx,
      "--buckets", "4", "--segments", "1", "--salt-target", "60"))

    // deindex: reconstructed frame == the ingested frame (B13 round-trip)
    val re = Cli.run(spark, Array("deindex", "--index", idx)).get
    val orig = spark.read.parquet(src)
      .select("repo", "path", "commit", "lang", "content")
    assert(re.except(orig).count() == 0 && orig.except(re).count() == 0)

    // spectrum: counts == brute force; --origins carries doc_id
    val docs = orig.select(
      xxhash64(col("repo"), col("path")).as("doc_id"),
      col("content").as("text"))
    val docsDir = tmpDir("cli-dx-docs")
    docs.write.mode("overwrite").parquet(docsDir)
    val spec = Cli.run(spark, Array("spectrum", "--input", docsDir,
      "--k", "2")).get
    assert(spec.columns.toSeq.contains("gram") && spec.count() > 0)
    val specO = Cli.run(spark, Array("spectrum", "--input", docsDir,
      "--k", "2", "--origins")).get
    assert(specO.columns.contains("doc_id"))

    // clean: one verdict row per doc
    val clean = Cli.run(spark, Array("clean", "--input", docsDir,
      "--min-tokens", "5")).get
    assert(clean.count() == docs.count())
    assert(clean.columns.contains("drop_reason"))

    // serve: a query dir with a sentinel file drains and stops
    val qDir = tmpDir("cli-dx-q")
    val outDir = tmpDir("cli-dx-out")
    val t = graft.index.Tokenizer.tokens(
      corpus.select("content").as[String].head())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(qDir, "q.ginq"), s"${t.head}\nexit();\n")
    Cli.run(spark, Array("serve", "--index", idx, "--queries-dir", qDir,
      "--out-dir", outDir, "--k", "5", "--buckets", "4",
      "--timeout-ms", "60000"))
    val served = graft.streaming.QueryStream.results(spark, outDir)
    assert(served.count() > 0)
  }
}
