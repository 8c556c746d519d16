package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.corpus.{Corpus, Queries}
import graft.index.Builder
import graft.query.{Phrase, Searcher, Substring}

/** spark-submit entry point — the `gin` CLI analog
  * (/root/reference/gin.c: index / query / decode / utils subcommands).
  * A user of the reference drives it as a command-line tool; this is the
  * same surface on a cluster:
  *
  * {{{
  * spark-submit --class graft.Cli app.jar index \
  *   --input /data/corpus.parquet --format parquet --out /idx \
  *   [--positions] [--trigrams] [--buckets 32] [--segments 4] \
  *   [--salt-target 50000] [--block-size 128] \
  *   [--permutation /perm.parquet]   # (repo,path,commit,ord) docID order,
  *                                   # the `gin permutation` input analog
  * spark-submit --class graft.Cli app.jar query \
  *   --index /idx --queries q.txt --k 10 [--mode and|or] [--resolve] \
  *   [--out /results]
  * spark-submit --class graft.Cli app.jar count|phrase|substring \
  *   --index /idx --queries q.txt [--out /results]
  * spark-submit --class graft.Cli app.jar decode \
  *   --index /idx --queries q.txt [--what substring|phrase] \
  *   [--max-matches 1000] [--out /results]   # every (doc, offset)
  * spark-submit --class graft.Cli app.jar compact --index /idx
  * spark-submit --class graft.Cli app.jar deindex --index /idx --out /corpus
  * spark-submit --class graft.Cli app.jar spectrum \
  *   --input /documents.parquet --k 3 [--origins] [--out /spec]
  * spark-submit --class graft.Cli app.jar clean \
  *   --input /documents.parquet [--keep-langs en,fr] [--min-tokens 20] \
  *   [--max-tokens 100000] [--out /verdicts]
  * spark-submit --class graft.Cli app.jar serve \
  *   --index /idx --queries-dir /queries --out-dir /results \
  *   [--k 10] [--mode and|or] [--timeout-ms 86400000]
  * }}}
  *
  * `--queries` follows the reference's .ginq protocol: one query per
  * line, `exit();` sentinel ends the stream.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().appName("graft").getOrCreate()
    try {
      val out = run(spark, args)
      out.foreach { df =>
        opts(args).get("out") match {
          case Some(dir) => df.write.mode("overwrite").parquet(dir)
          case None => df.show(100, truncate = false)
        }
      }
    } finally spark.stop()
  }

  /** Standalone (valueless) flags. Stripped before key/value pairing so a
    * flag between `--key value` pairs cannot misalign the scanner (e.g.
    * `--resolve --out /r` must not pair (--resolve, --out) and drop the
    * output dir). One scanner shared by main() and run(). */
  private val Flags = Set("--positions", "--trigrams", "--resolve",
    "--allow-short", "--origins")

  private[graft] def opts(args: Array[String]): Map[String, String] =
    args.drop(1).filterNot(Flags.contains).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  private def flag(args: Array[String], name: String): Boolean =
    args.contains(s"--$name")

  /** Dispatch; returns a result DataFrame for query-like subcommands. */
  def run(spark: SparkSession, args: Array[String]): Option[DataFrame] = {
    require(args.nonEmpty, "subcommand required: index|query|count|phrase|" +
      "substring|decode|compact|order|deindex|spectrum|clean|serve")
    val o = opts(args)
    def conf = Builder.Config(
      blockSize = o.getOrElse("block-size", "128").toInt,
      nBuckets = o.getOrElse("buckets", "32").toInt,
      nSegments = o.getOrElse("segments", "4").toInt,
      saltTarget = o.getOrElse("salt-target", "50000").toInt,
      storePositions = flag(args, "positions"),
      storeTrigrams = flag(args, "trigrams"))
    def index = o("index")
    def nBuckets = o.getOrElse("buckets", "32").toInt
    def k = o.getOrElse("k", "10").toInt
    def qs = Queries.fromFile(spark, o("queries"))
    def mode = o.getOrElse("mode", "and") match {
      case "or" => Searcher.Or
      case _ => Searcher.And
    }

    args(0) match {
      case "index" =>
        val corpus0 = o.getOrElse("format", "parquet") match {
          case "jsonl" => Corpus.fromJsonl(spark, o("input"))
          case "documents" => Corpus.fromDocuments(spark, o("input"))
          case _ => spark.read.parquet(o("input"))
            .select("repo", "path", "commit", "lang", "content")
        }
        // user-measured docID ordering (S4): rank table joined in, ids
        // assigned by (ord, identity) — see Builder.withPermutation
        val (corpus, conf2) = o.get("permutation") match {
          case Some(p) =>
            (Builder.withPermutation(corpus0, spark.read.parquet(p)),
              conf.copy(orderCols = Seq("ord", "repo", "path", "commit")))
          case None => (corpus0, conf)
        }
        Builder.build(spark, corpus, o("out"), conf2)
        None
      case "query" =>
        val topk = Searcher.searchTopK(spark, index, qs, k, mode, nBuckets)
        Some(if (flag(args, "resolve")) Searcher.resolve(spark, index, topk)
             else topk)
      case "count" =>
        Some(Searcher.countMatches(spark, index, qs, nBuckets))
      case "phrase" =>
        Some(Phrase.searchTopK(spark, index, qs, k))
      case "substring" =>
        Some(Substring.find(spark, index,
          qs.map(q => q.query_id -> q.text), nBuckets,
          maxMatches = o.get("max-matches").map(_.toLong)
            .getOrElse(Long.MaxValue),
          allowShortScan = flag(args, "allow-short")))
      case "decode" =>
        // full match decode (the reference's `-d`/--decode output): every
        // (doc, offset) per query under --max-matches
        val cap = o.get("max-matches").map(_.toLong).getOrElse(Long.MaxValue)
        Some(o.getOrElse("what", "substring") match {
          case "phrase" => Phrase.findOccurrences(spark, index, qs, cap)
          case _ => Substring.findOffsets(spark, index,
            qs.map(q => q.query_id -> q.text), nBuckets, cap,
            allowShortScan = flag(args, "allow-short"))
        })
      case "compact" =>
        graft.streaming.Compactor.compact(spark, index, conf)
        None
      case "order" =>
        // permutation PRODUCER (`gin permutation` analog): compute a
        // minhash-clustering doc order and write the rank table that
        // `index --permutation` consumes (DocOrder.minhashPermutation)
        val corpus = o.getOrElse("format", "parquet") match {
          case "jsonl" => Corpus.fromJsonl(spark, o("input"))
          case "documents" => Corpus.fromDocuments(spark, o("input"))
          case _ => spark.read.parquet(o("input"))
            .select("repo", "path", "commit", "lang", "content")
        }
        graft.index.DocOrder.minhashPermutation(corpus,
            nHashes = o.getOrElse("hashes", "16").toInt)
          .write.mode("overwrite").parquet(o("out"))
        None
      case "deindex" =>
        // reconstruct the original ingest frame from the index (`gin
        // deindex`, /root/reference/gin.c:42 mode list): the id-stamped
        // corpus snapshot IS the round-trip source of truth (B13; content
        // sha256 equality is the docmeta invariant, tested in IndexSpec)
        Some(spark.read.parquet(s"$index/corpus_ids")
          .select("repo", "path", "commit", "lang", "content"))
      case "spectrum" =>
        // `gin utils spectrum` analog: global k-gram counts, or per-origin
        // (gram, doc, n) rows with --origins
        // (/root/reference/src/gin_graph.c:164-280)
        val docs = spark.read.parquet(o("input"))
          .select(col("doc_id"), col("text"))
        val kk = o.getOrElse("k", "3").toInt
        Some(if (flag(args, "origins")) graft.ops.Dedup.kgramOrigins(docs, kk)
             else graft.ops.Dedup.kgramSpectrum(docs, kk))
      case "clean" =>
        // training-pipeline composite verdict (ops.Pipeline.cleanCorpus)
        Some(graft.ops.Pipeline.cleanCorpus(
          spark.read.parquet(o("input"))
            .select(col("doc_id"), col("text")),
          keepLangs = o.getOrElse("keep-langs", "en").split(",").toSeq,
          minTokens = o.getOrElse("min-tokens", "20").toLong,
          maxTokens = o.getOrElse("max-tokens", "100000").toLong))
      case "serve" =>
        // streaming query REPL (`gin query` interactive loop): watch
        // --queries-dir for .ginq files until the exit(); sentinel
        val outDir = o("out-dir")
        val q = graft.streaming.QueryStream.serve(spark, index,
          o("queries-dir"), outDir, k, mode, nBuckets)
        val sentinelSeen = graft.streaming.QueryStream.awaitSentinel(
          spark, q, outDir,
          timeoutMs = o.getOrElse("timeout-ms", "86400000").toLong)
        require(sentinelSeen,
          "serve timed out before the exit(); sentinel was processed")
        None
      case other =>
        throw new IllegalArgumentException(s"unknown subcommand: $other")
    }
  }
}
