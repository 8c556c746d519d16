package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Index build job — the Spark-native analog of `gin index`
  * (/root/reference/src/gin_gin.c:72-342): tokenize -> postings ->
  * hash-partitioned sorted segments -> block-encode -> commit.
  *
  * Builder owns every index-write step: the batch build, streaming ingest
  * (graft.streaming.IncrementalIndexer) and compaction
  * (graft.streaming.Compactor) call the same row functions and the one
  * block encoder, so stream segments and compacted ones cannot diverge.
  *
  * Layout written under `outDir`:
  * {{{
  *   corpus_ids/  CorpusRow: id-stamped corpus snapshot (dl, sha256, content)
  *   docmeta/     doc_id, repo, path, commit, lang, dl, content_sha256
  *   _COMMIT_stats            {"n_docs":N,"avgdl":A}  (the stats record)
  *   dictionary/bucket=B/     term, df, cf
  *   dict_deltas/bucket=B/    term, df, cf   (streamed, folded by compaction)
  *   postings_raw/bucket=B/   term, doc_id, tf, dl      (staged, resumable)
  *   postings/segment=G/      PostingBlock rows (segment=s<batch>: streamed)
  *   positions/bucket=B/      term, doc_id, n_pos, pos_deltas  (optional)
  *   trigrams/bucket=B/       gram, doc_id                     (optional)
  *   _COMMIT_segment_G        {"rows":R,"checksum":C}  (verifySegments)
  * }}}
  *
  * Scale design notes (for a 1000-executor / 100 TB deployment):
  *  - docID assignment has NO single-partition stage at all: a range
  *    sort on (repo, path, commit) + per-partition count prefix-sum
  *    (withDocIds) yields `row_number() over (order by repo, path,
  *    commit)` with full parallelism even inside one giant monorepo —
  *    the vertex-permutation analog
  *    (/root/reference/src/gin_gin.c:103-112) that makes docID deltas
  *    small within a repo.
  *  - the block-encode shuffle is a hash repartition on (term, salt)
  *    (writeBlocks): a Zipf head term is salted into contiguous doc-id
  *    ranges (encodeSegment), so it spreads over many partitions and no
  *    partition runs hot.
  *  - postings_raw is hash-bucketed by term into `nBuckets` directories so
  *    the query path and the per-segment encode jobs get directory-level
  *    partition pruning, and so each segment group is an independently
  *    committable (and resumable) unit of lineage.
  */
object Builder {

  case class Config(
      blockSize: Int = 128,
      nBuckets: Int = 32,
      nSegments: Int = 4,
      saltTarget: Int = 50000, // max postings of one term per salt bucket
      shufflePartitions: Int = 0, // 0 = leave session value
      storePositions: Boolean = false, // also write positions/ (phrases)
      storeTrigrams: Boolean = false, // also write trigrams/ (substring)
      verifySegments: Boolean = true, // row-count+checksum readback per
        // segment (2 extra jobs each); benchmarks may disable — resume
        // markers are still written, only their payload stats are empty
      orderCols: Seq[String] = Seq("repo", "path", "commit"))
        // docID ordering (S4, the `gin permutation` analog,
        // /root/reference/gin.c:1569-1800): columns of the ingest frame
        // that define doc_id = row_number() over (order by orderCols).
        // Doc order is THE compression lever (delta-encoded posting ids
        // shrink when co-occurring docs get nearby ids); the default
        // clusters by repo/path, a measured better ordering plugs in as
        // a rank column (withPermutation) + orderCols. MUST be a total
        // order (unique key) or resumed builds lose id determinism.

  private val TokenSep = "[^a-z0-9_]+"

  /** Tokens column: lowercase split on non-[a-z0-9_], empties dropped.
    * Mirrors Tokenizer.tokens exactly (and the DuckDB oracle SQL). */
  def tokensCol(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(content), TokenSep), t => length(t) > 0)

  /** Dense deterministic doc ids equal to
    * `row_number() over (order by repo, path, commit) - 1`, computed
    * without ANY single-partition stage: the corpus is range-partitioned
    * and sorted on the full ordering key, then ids are assigned by a
    * per-partition count pass + prefix-sum (RDD zipWithIndex) — the
    * classic scalable dense-rank. Unlike the r2 per-repo window this
    * parallelizes INSIDE a repo too, so one 10M-file monorepo no longer
    * serializes id assignment into a single task. Ids are a pure
    * function of the data order (sampling only moves partition
    * boundaries, never the order), so resumed builds stay byte-identical
    * — the deterministic-permutation analog
    * (the reference's src/gin_gin.c:103-112). `keep` names the columns
    * to carry past the sort (all when empty): nothing prunes through the
    * RDD conversion, so a caller sorting on wide keys it does not return
    * drops them here. */
  def withDocIds(corpus: DataFrame, partitions: Int = 0,
                 orderCols: Seq[String] = Seq("repo", "path", "commit"),
                 keep: Seq[String] = Nil): DataFrame = {
    val spark = corpus.sparkSession
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // explicit partition count (caller's Config.shufflePartitions when
    // set, else the session value): user-specified widths are exempt from
    // AQE coalescing, which would otherwise pack the whole
    // (pre-explode-small) corpus into few tasks and serialize the
    // sha/tokenize pass downstream
    val nPart = partitionCount(spark, partitions)
    val ordered = corpus
      .repartitionByRange(nPart, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.head, orderCols.tail: _*)
    val sorted = if (keep.isEmpty) ordered else ordered.select(keep.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField("doc_id", LongType, nullable = false))
    // zipWithIndex = one cheap count job over the sorted shuffle output
    // (partition sizes), then the data pass with per-partition offsets
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Shuffle width of every write stage: the caller's
    * Config.shufflePartitions when set (> 0), else the session value. */
  def partitionCount(spark: SparkSession, requested: Int): Int =
    if (requested > 0) requested
    else spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Id-stamped corpus snapshot rows from a frame with (doc_id, repo,
    * path, commit, lang, content): the per-doc derived fields (dl,
    * sha256) come out of the SAME pass, so the corpus is tokenized and
    * hashed once. Null content is an empty document: dl 0, and a NULL
    * sha, which is what Spark's `sha2(content, 256)` and DuckDB's
    * `sha256(content)` give. Shared by the build (stage 0) and ingest. */
  def snapshotRows(withIds: DataFrame): Dataset[CorpusRow] = {
    val spark = withIds.sparkSession
    import spark.implicits._
    withIds.select("doc_id", "repo", "path", "commit", "lang", "content")
      .as[(Long, String, String, String, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, repo, path, commitId, lang, content) =>
          val sha = if (content == null) null else {
            md.reset()
            md.digest(content.getBytes("UTF-8")).map("%02x".format(_)).mkString
          }
          CorpusRow(id, repo, path, commitId, lang,
            Tokenizer.docLen(content), sha, content) // docLen: allocation-free
        }
      }
  }

  /** docmeta/: the snapshot minus content (parquet never reads it). */
  def docmetaOf(snapshot: DataFrame): DataFrame =
    snapshot.select("doc_id", "repo", "path", "commit", "lang", "dl",
      "content_sha256")

  /** (doc count, exact dl sum) of a frame with a dl column, in one
    * aggregate: what the stats record is computed from. */
  def docTotals(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)),
      coalesce(sum(col("dl").cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The stats record: the `_COMMIT_stats` marker, whose payload
    * `{"n_docs":N,"avgdl":A}` is the index's one copy of its collection
    * stats, as the reference keeps its counts in the header of its one
    * index blob (the reference's src/gin_gin.c:1824-1907). */
  private def statsRecord(indexDir: String): String = s"$indexDir/_COMMIT_stats"

  private val StatsPayload = """\{"n_docs":(\d+),"avgdl":([-0-9.eE]+)\}""".r

  /** Write the record for `nDocs` docs holding `dlSum` tokens, replacing
    * it whole (Fs.replace). avgdl = dlSum / nDocs is bit-identical to
    * Spark's avg(cast(dl as double)) over the same rows, and ingest's
    * `math.round(avgdl * nDocs)` gives dlSum back while it is below 2^51. */
  def writeStats(spark: SparkSession, indexDir: String, nDocs: Long,
                 dlSum: Long): Unit = {
    require(dlSum < (1L << 51), s"dl sum $dlSum of $indexDir reaches 2^51")
    graft.util.Fs.replace(spark, statsRecord(indexDir),
      s"""{"n_docs":$nDocs,"avgdl":${dlSum.toDouble / nDocs}}""")
  }

  /** The layout an append or rewrite of an existing index must follow:
    * the params in its own _META.json (a mismatched nBuckets would write
    * rows into buckets readers never probe), with the caller's shuffle
    * width. An index without _META.json falls back to the caller's. */
  def indexLayout(spark: SparkSession, indexDir: String, caller: Config): Config =
    loadConfig(spark, indexDir)
      .map(_.copy(shufflePartitions = caller.shufflePartitions))
      .getOrElse(caller)

  /** Plug in a user-measured document ordering — the `gin permutation`
    * program's role (/root/reference/gin.c:1569-1800,
    * include/permutation_parser.h: the reference anneals a vertex
    * permutation offline and feeds it back into the index build).
    * `perm` maps document identity (repo, path, commit) to a rank column
    * `ord`; the returned frame carries `ord` so callers build with
    * `Config(orderCols = Seq("ord", "repo", "path", "commit"))` — the
    * identity suffix keeps the order total (deterministic ids), and docs
    * absent from the permutation sort last in identity order. */
  def withPermutation(corpus: DataFrame, perm: DataFrame): DataFrame = {
    // a duplicate (repo, path, commit) key in the permutation table would
    // duplicate the corpus row through the join (two doc_ids for one
    // document -> silently corrupted df/cf/stats); keep the MIN ord per
    // key so the join is provably 1:N-safe
    val uniq = perm.groupBy("repo", "path", "commit")
      .agg(min("ord").as("ord"))
    corpus.join(uniq, Seq("repo", "path", "commit"), "left")
      .withColumn("ord", coalesce(col("ord"), lit(Long.MaxValue)))
  }

  def bucketOf(term: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** The read side of `bucketOf`: the filter selecting `keys` from a
    * table written with `bucket = bucketOf(col(keyCol), nBuckets)`.
    * Bucket directory pruning plus key predicate pushdown, so a scan
    * reads only the row groups that can hold these keys. */
  def bucketProbe(keyCol: String, keys: Seq[String],
      nBuckets: Int): org.apache.spark.sql.Column =
    col("bucket").isin(
      keys.map(graft.util.Hashing.bucketOf(_, nBuckets)).distinct: _*) &&
      col(keyCol).isin(keys: _*)

  /** Cluster staged (…, doc_id, bucket) rows for a partitionBy("bucket")
    * write with reduce-side parallelism that tracks `nPart` instead of
    * collapsing to nBuckets: hashing on `bucket` alone lands the whole
    * write on ≤ nBuckets reduce tasks no matter how wide the cluster is
    * (at 1000 executors the heaviest writes of the build would run at
    * parallelism 32). The shuffle key is (bucket, doc_id mod S) with S
    * sized so bucket×subsplit ≈ 2·nPart distinct, uniformly-loaded keys
    * — doc_id subsplitting is skew-free by construction (dense ids), a
    * head term cannot re-concentrate a partition. Rows are then sorted
    * by bucket within each task so the dynamic partitioned writer's
    * required ordering is already satisfied and it streams files with no
    * extra external sort (the 7-14x unclustered-write cliff). Directory
    * layout is unchanged: partitionBy("bucket") still groups files. */
  def clusterForBucketWrite(df: DataFrame, nBuckets: Int, nPart: Int): DataFrame =
    clusterForBucketWriteBy(df, nBuckets, nPart, col("doc_id"))

  /** clusterForBucketWrite with an explicit subsplit source column, for
    * staged tables WITHOUT a doc_id (the dictionary's (term, df, cf)
    * rows): the shuffle key is (bucket, pmod(sub, S)). Pass an
    * already-uniform expression — doc_id for posting-shaped rows,
    * xxhash64(term) for term-keyed rows. */
  def clusterForBucketWriteBy(df: DataFrame, nBuckets: Int, nPart: Int,
      sub: org.apache.spark.sql.Column): DataFrame = {
    val subsplit = math.max(1L, math.ceil(2.0 * nPart / nBuckets).toLong)
    df.repartition(nPart, col("bucket"), pmod(sub, lit(subsplit)))
      .sortWithinPartitions("bucket")
  }

  /** (term, doc_id, n_pos, pos_deltas, bucket) rows for phrase search,
    * from a (doc_id, content) frame. Shared by the batch build (stage 3b)
    * and streaming ingest (per-batch append). */
  def positionsOf(docs: DataFrame, nBuckets: Int, nPart: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "content")
      .as[(Long, String)]
      .flatMap { case (id, content) =>
        val ts = Tokenizer.tokens(content)
        val m = new java.util.HashMap[String, ArrayBuffer[Int]](64)
        var i = 0
        while (i < ts.length) {
          m.computeIfAbsent(ts(i), _ => new ArrayBuffer[Int](4)) += i
          i += 1
        }
        val out = new Array[(String, Long, Int, Array[Byte])](m.size)
        val it = m.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val e = it.next()
          val ps = e.getValue.toArray
          out(j) = (e.getKey, id, ps.length,
            Codec.encodeDeltas(ps.map(_.toLong)))
          j += 1
        }
        out
      }
      .toDF("term", "doc_id", "n_pos", "pos_deltas")
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .transform(clusterForBucketWrite(_, nBuckets, nPart))
  }

  /** (gram, doc_id, bucket) distinct char-trigram rows for substring
    * search, from a (doc_id, content) frame. Shared like positionsOf. */
  def trigramsOf(docs: DataFrame, nBuckets: Int, nPart: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "content")
      .as[(Long, String)]
      .flatMap { case (id, content) =>
        val seen = new java.util.HashSet[String](256)
        val out = ArrayBuffer.empty[(String, Long)]
        val n = if (content == null) 0 else content.length
        var i = 0
        while (i + 3 <= n) {
          val g = content.substring(i, i + 3)
          if (seen.add(g)) out += ((g, id))
          i += 1
        }
        out
      }
      .toDF("gram", "doc_id")
      .withColumn("bucket", bucketOf(col("gram"), nBuckets))
      .transform(clusterForBucketWrite(_, nBuckets, nPart))
  }

  /** (term, doc_id, tf, dl, bucket) posting rows from a (doc_id, content)
    * frame. A typed flatMap with the per-doc term-frequency map built
    * locally, so the output is already (term, doc_id)-unique — the
    * explode + groupBy shuffle of |tokens| rows disappears entirely
    * (map-side combine taken to its limit: the doc itself is the combine
    * group). Unclustered, unlike positionsOf: ingest reuses the rows for
    * its segment and dictionary delta, so each write clusters its own.
    * Shared by the build (postings_raw) and ingest. */
  def postingsOf(docs: DataFrame, nBuckets: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "content")
      .as[(Long, String)]
      .flatMap { case (id, content) =>
        // doc-local tf combine without HashMap nodes or Integer boxing
        // (allocation rate limits multi-core scaling on JVM executors)
        val dl = Tokenizer.docLen(content)
        val out = new ArrayBuffer[Posting](192)
        Tokenizer.foreachTermFreq(content) { (t, tf) =>
          out += Posting(t, id, tf, dl)
        }
        out
      }
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
  }

  /** (term, df, cf, bucket) dictionary rows from (term, tf) posting rows.
    * Shared by the build (dictionary/) and ingest (dict_deltas/). */
  def dictionaryOf(postings: DataFrame, nBuckets: Int): DataFrame =
    postings.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))

  /** Write (term, df, cf, bucket) rows partitioned by bucket, clustered
    * like every other bucket-partitioned write: keyed on (bucket,
    * hash(term) subsplit) so the reduce width tracks nPart — hashing on
    * bucket alone would funnel a 1e8-1e9-term vocabulary through
    * <= nBuckets write tasks no matter how wide the cluster is. Shared by
    * the build, ingest's delta segment and the Compactor's fold. */
  def writeDictionary(dict: DataFrame, nBuckets: Int, nPart: Int,
                      dir: String): Unit =
    clusterForBucketWriteBy(dict, nBuckets, nPart, xxhash64(col("term")))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)

  // commit markers go through the Hadoop FS API (graft.util.Fs) so
  // resumable builds work on HDFS/S3A index dirs, not just local paths;
  // the SparkSession is threaded in by build()
  private def committed(spark: SparkSession, dir: String, marker: String): Boolean =
    graft.util.Fs.exists(spark, s"$dir/$marker")

  private def commit(spark: SparkSession, dir: String, marker: String,
                     payload: String = ""): Unit =
    graft.util.Fs.write(spark, s"$dir/$marker", payload)

  /** Full build. Resumable: every stage/segment checks its commit marker
    * and is skipped if already committed (the sharded analog of the
    * reference's atomic single-blob index write,
    * /root/reference/gin.c:375-398). */
  def build(spark: SparkSession, corpus: DataFrame, outDir: String,
            conf: Config = Config(),
            stageLog: (String, Double) => Unit = (_, _) => ()): Unit = {
    import spark.implicits._
    def timed[T](stage: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      stageLog(stage, (System.nanoTime() - t0) / 1e9)
      r
    }
    // self-describing index: readers must not guess the layout params
    graft.util.Fs.write(spark, s"$outDir/_META.json",
      s"""{"blockSize":${conf.blockSize},"nBuckets":${conf.nBuckets},""" +
        s""""nSegments":${conf.nSegments},"saltTarget":${conf.saltTarget},""" +
        s""""orderCols":"${conf.orderCols.mkString(",")}"}""")

    val corpusIdsDir = s"$outDir/corpus_ids"
    val docmetaDir = s"$outDir/docmeta"
    val dictDir = s"$outDir/dictionary"
    val rawDir = s"$outDir/postings_raw"
    val postDir = s"$outDir/postings"
    val nPart = partitionCount(spark, conf.shufflePartitions)

    // ---- stage 0: id-stamped corpus snapshot --------------------------
    // One pass assigns doc ids and freezes the ingest as parquet; every
    // later stage reads (column-pruned) from here, so the corpus is
    // scanned and the id window computed exactly ONCE. This is the
    // ingest-snapshot pattern: it also makes resume cheap (no id
    // recomputation) and pins id determinism even if the source moves.
    if (!committed(spark, outDir, "_COMMIT_corpus_ids")) timed("corpus_ids") {
      // no repartition here: withDocIds' range shuffle already leaves
      // nPart row-balanced partitions (the r2 per-repo window needed a
      // width-restoring shuffle; this saves it)
      snapshotRows(withDocIds(corpus, nPart, conf.orderCols))
        .write.mode(SaveMode.Overwrite).parquet(corpusIdsDir)
      commit(spark, outDir, "_COMMIT_corpus_ids")
    }
    // Width control: downstream stages explode rows ~dl times, but both
    // AQE coalescing and parquet file-packing size partitions on
    // PRE-explode bytes — without an explicit repartition the tokenize
    // stages run nearly serial (observed 3x build slowdown).
    def corpusIds(cols: String*): DataFrame =
      spark.read.parquet(corpusIdsDir).select(cols.map(col): _*).repartition(nPart)

    // ---- stage 1: docmeta --------------------------------------------
    // a column-pruned PROJECTION of the snapshot (parquet never reads the
    // content column here); kept as its own compact table because query
    // handles pin it in executor memory for resolve joins
    if (!committed(spark, outDir, "_COMMIT_docmeta")) timed("docmeta") {
      docmetaOf(spark.read.parquet(corpusIdsDir))
        .write.mode(SaveMode.Overwrite).parquet(docmetaDir)
      commit(spark, outDir, "_COMMIT_docmeta")
    }

    // ---- stage 2: stats ----------------------------------------------
    // one aggregate over docmeta, kept only in the stats record: the rest
    // of the build and every reader parse it with no Spark job. An empty
    // corpus stops here, before its marker, with a named error.
    if (!committed(spark, outDir, "_COMMIT_stats")) timed("stats") {
      val (n, dlSum) = docTotals(spark.read.parquet(docmetaDir))
      if (n == 0)
        throw new IllegalArgumentException("empty corpus: nothing to index")
      writeStats(spark, outDir, n, dlSum)
    }
    val nDocs = loadStats(spark, outDir).n_docs

    // ---- stage 3: postings_raw ----------------------------------------
    // postingsOf needs no shuffle of its own; the only data movement is
    // the bucket-partitioned write.
    if (!committed(spark, outDir, "_COMMIT_postings_raw")) timed("postings_raw") {
      postingsOf(corpusIds("doc_id", "content"), conf.nBuckets)
        // cluster BEFORE the partitioned write (the unclustered dynamic
        // write external-sorts every task across all buckets, 7-14x
        // slower) — with a doc_id subsplit so reduce parallelism tracks
        // nPart instead of collapsing to nBuckets (see clusterForBucketWrite)
        .transform(clusterForBucketWrite(_, conf.nBuckets, nPart))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(rawDir)
      commit(spark, outDir, "_COMMIT_postings_raw")
    }

    // ---- stage 3b (optional): positions table for phrase queries ------
    // Separate table (Lucene keeps positions in their own file too): the
    // core index stays position-free; phrase evaluation joins this in for
    // the candidate docs only.
    if (conf.storePositions && !committed(spark, outDir, "_COMMIT_positions"))
      timed("positions") {
        positionsOf(corpusIds("doc_id", "content"), conf.nBuckets, nPart)
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$outDir/positions")
        commit(spark, outDir, "_COMMIT_positions")
      }

    // ---- stage 3c (optional): character-trigram table for substring
    //      (cross-token) queries — the FM-index surface the term index
    //      cannot serve; one (gram, doc_id) row per DISTINCT trigram per
    //      doc, bucket-partitioned like terms so query grams push down
    if (conf.storeTrigrams && !committed(spark, outDir, "_COMMIT_trigrams"))
      timed("trigrams") {
        trigramsOf(corpusIds("doc_id", "content"), conf.nBuckets, nPart)
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(s"$outDir/trigrams")
        commit(spark, outDir, "_COMMIT_trigrams")
      }

    // ---- stage 4: dictionary -----------------------------------------
    if (!committed(spark, outDir, "_COMMIT_dictionary")) timed("dictionary") {
      writeDictionary(dictionaryOf(spark.read.parquet(rawDir), conf.nBuckets),
        conf.nBuckets, nPart, dictDir)
      commit(spark, outDir, "_COMMIT_dictionary")
    }

    // ---- stage 5: block-encoded postings, one committable segment per
    //      bucket group (per-partition lineage + resume); see
    //      encodeSegment for the salting/skew design ---------------------
    for (g <- 0 until conf.nSegments) {
      val segDir = s"$postDir/segment=$g"
      val marker = s"_COMMIT_segment_$g"
      if (!committed(spark, outDir, marker)) timed(s"segment_$g") {
        encodeSegment(spark, dictDir, rawDir, segDir, g, conf, nDocs, nPart)
        if (conf.verifySegments) {
          val seg = spark.read.parquet(segDir)
          val chk = seg.agg(coalesce(bit_xor(xxhash64(col("term"),
            col("doc_id_base"), col("num_docs"))), lit(0L))).as[Long].head()
          val rows = seg.count()
          commit(spark, outDir, marker, s"""{"rows":$rows,"checksum":$chk}""")
        } else commit(spark, outDir, marker, "{}")
      }
    }
    commit(spark, outDir, "_COMMIT_index")
  }

  /** One segment's salt computation, then the shared sort + block-encode
    * step (writeBlocks); used by the batch build (stage 5) and the stream
    * Compactor.
    *
    * Skew handling (north rule): Zipf head terms are SALTED — a term with
    * df > saltTarget is split into ceil(df/saltTarget) contiguous doc-id
    * ranges, and the shuffle key is hash(term, salt). Unlike
    * repartitionByRange (whose sampled boundaries are run-dependent) this
    * layout is a pure function of the data, so a resumed build produces a
    * byte-identical index — the deterministic-permutation analog
    * (/root/reference/src/gin_gin.c:103-112). */
  def encodeSegment(spark: SparkSession, dictDir: String, rawDir: String,
      segDir: String, g: Int, conf: Config, nDocs: Long, nPart: Int): Unit = {
    val buckets = (0 until conf.nBuckets).filter(_ % conf.nSegments == g)
    val headTerms = spark.read.parquet(dictDir)
      .filter(col("bucket").isin(buckets: _*) && col("df") > conf.saltTarget)
      .select("term", "df")
    val raw = spark.read.parquet(rawDir)
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(headTerms), Seq("term"), "left")
      .withColumn("n_salts",
        coalesce(ceil(col("df").cast("double") / conf.saltTarget), lit(1L)))
      .withColumn("span", ceil(lit(nDocs.toDouble) / col("n_salts")).cast("long"))
      .withColumn("salt", (col("doc_id") / col("span")).cast("int"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("salt"))
    writeBlocks(raw, conf.blockSize, conf.nBuckets, nPart, segDir)
  }

  /** The one block encoder: hash-repartition (term, doc_id, tf, dl, salt)
    * rows on (term, salt), sort, run-length encode into PostingBlocks, add
    * the bucket column and write `dir`. Build segments and compaction pass
    * encodeSegment's salt; a stream segment passes salt 0 (its doc ids sit
    * above every existing block, so it needs no salting). */
  def writeBlocks(postings: DataFrame, blockSize: Int, nBuckets: Int,
                  nPart: Int, dir: String): Unit = {
    val spark = postings.sparkSession
    // blocks must BREAK at salt boundaries: one partition can hold
    // non-adjacent salts of the same term, and a block glued across
    // the gap would overlap other salts' block ranges — violating the
    // disjoint-sorted invariant the WAND cursor skip relies on
    val sorted = postings
      .repartition(nPart, xxhash64(col("term"), col("salt")))
      .sortWithinPartitions("term", "salt", "doc_id")
      .select("term", "doc_id", "tf", "dl", "salt")
    // encode straight off the sorted InternalRows: the typed-Dataset form
    // deserializes a String + tuple per posting (tens of millions of
    // allocations), and allocation rate is what limits multi-core JVM
    // scaling on this path; here a term String materializes once per
    // BLOCK. (RDD surface is justified: genuinely imperative
    // per-partition run-length encoding.)
    val blocksRdd = sorted.queryExecution.toRdd
      .mapPartitions(encodeBlockRows(_, blockSize))
    spark.createDataset(blocksRdd)(
        org.apache.spark.sql.Encoders.product[PostingBlock])
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Run-length block encoder over sorted (term, doc_id, tf, dl, salt)
    * InternalRows: a block ends at a term or salt change or at blockSize.
    * Spark reuses the row object between iterator steps, so every field
    * is copied to primitives immediately and the term key is cloned once
    * per term change. */
  private def encodeBlockRows(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      blockSize: Int): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private val in = rows.buffered
      private var blockSeq = 0
      private var curTerm: org.apache.spark.unsafe.types.UTF8String = null
      private val ids = new Array[Long](blockSize)
      private val tfs = new Array[Int](blockSize)
      private val dls = new Array[Int](blockSize)
      def hasNext: Boolean = in.hasNext
      def next(): PostingBlock = {
        val head = in.head
        val t = head.getUTF8String(0)
        if (curTerm == null || !curTerm.equals(t)) {
          blockSeq = 0
          curTerm = t.clone() // own the bytes: the row buffer is reused
        }
        val key = head.getInt(4)
        var n = 0
        while (in.hasNext && n < blockSize && {
            val r = in.head
            curTerm.equals(r.getUTF8String(0)) && r.getInt(4) == key
          }) {
          val r = in.next()
          ids(n) = r.getLong(1)
          tfs(n) = r.getInt(2)
          dls(n) = r.getInt(3)
          n += 1
        }
        val b = postingBlock(curTerm.toString, blockSeq, ids, tfs, dls, n)
        blockSeq += 1
        b
      }
    }

  /** One posting block over the first `n` (doc_id, tf, dl) entries of
    * the buffers (doc ids ascending), with its block-max metadata. */
  def postingBlock(term: String, blockId: Int, ids: Array[Long],
                   tfs: Array[Int], dls: Array[Int], n: Int): PostingBlock = {
    var maxTf = 0
    var minDl = Int.MaxValue
    var i = 0
    while (i < n) {
      if (tfs(i) > maxTf) maxTf = tfs(i)
      if (dls(i) < minDl) minDl = dls(i)
      i += 1
    }
    PostingBlock(term, blockId, ids(0), ids(n - 1), n, maxTf, minDl,
      Codec.encodeDeltas(ids, n), Codec.encodeInts(tfs, n),
      Codec.encodeInts(dls, n))
  }

  /** Decode one block back into postings. */
  def decodeBlock(b: PostingBlock): Array[Posting] = {
    val ids = Codec.decodeDeltas(b.doc_deltas, b.num_docs)
    val tfs = Codec.decodeInts(b.tfs, b.num_docs)
    val dls = Codec.decodeInts(b.dls, b.num_docs)
    Array.tabulate(b.num_docs)(i => Posting(b.term, ids(i), tfs(i), dls(i)))
  }

  /** The stats record (writeStats), parsed with no Spark job. A missing
    * record throws, and so does one that does not parse: it is never
    * read as zeros.
    *
    * An index from before the record kept its stats in a one-row
    * `stats/` table, which ingest refreshed while the record went stale.
    * Where that table exists it holds the truth: it is moved into the
    * record once (record first, then the table goes, so a crash between
    * repeats the move), a heal like the dictionary and postings ones. */
  def loadStats(spark: SparkSession, indexDir: String): Stats = {
    val table = s"$indexDir/stats"
    if (graft.util.Fs.exists(spark, table)) {
      import spark.implicits._
      val old = spark.read.parquet(table).as[Stats].head()
      writeStats(spark, indexDir, old.n_docs, math.round(old.avgdl * old.n_docs))
      graft.util.Fs.delete(spark, table)
    }
    val rec = graft.util.Fs.readReplaced(spark, statsRecord(indexDir))
    rec.trim match {
      case StatsPayload(n, a) => Stats(n.toLong, a.toDouble)
      case _ => throw new IllegalStateException(
        s"stats record of $indexDir does not parse: $rec")
    }
  }

  /** Layout params recorded in the index's own _META.json. Readers and
    * rewriters (Compactor, Substring, IndexHandle) must resolve layout
    * from here, never from caller-supplied defaults: an nBuckets mismatch
    * computes wrong bucket ids and silently drops results. */
  def loadConfig(spark: SparkSession, indexDir: String): Option[Config] = {
    val p = s"$indexDir/_META.json"
    if (!graft.util.Fs.exists(spark, p)) return None
    val s = graft.util.Fs.read(spark, p)
    def intOf(key: String): Option[Int] =
      s""""$key":(\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    val oc = """"orderCols":"([^"]*)"""".r.findFirstMatchIn(s)
      .map(_.group(1).split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(Seq("repo", "path", "commit"))
    for {
      bs <- intOf("blockSize"); nb <- intOf("nBuckets")
      ns <- intOf("nSegments"); st <- intOf("saltTarget")
    } yield Config(blockSize = bs, nBuckets = nb, nSegments = ns,
      saltTarget = st, orderCols = oc)
  }

  /** nBuckets from _META.json, else the caller's fallback. */
  def metaBuckets(spark: SparkSession, indexDir: String, fallback: Int): Int =
    loadConfig(spark, indexDir).map(_.nBuckets).getOrElse(fallback)

  /** The logical dictionary view: the base `dictionary/` table merged
    * with any append-only `dict_deltas/` segments streaming ingest has
    * written since the last compaction (merge-on-read, the LSM pattern).
    * Per micro-batch ingest cost is O(batch) — never O(vocabulary); the
    * Compactor folds deltas back into the base. Columns: (term, df, cf,
    * bucket); both inputs are bucket-partitioned, so term/bucket filters
    * push down into BOTH scans before the merge. */
  def dictionary(spark: SparkSession, indexDir: String): DataFrame = {
    val base = spark.read.parquet(s"$indexDir/dictionary")
      .select("term", "df", "cf", "bucket")
    val deltaDir = s"$indexDir/dict_deltas"
    if (!graft.util.Fs.exists(spark, deltaDir)) base
    else base
      .unionByName(spark.read.parquet(deltaDir)
        .select("term", "df", "cf", "bucket"))
      .groupBy("term", "bucket")
      .agg(sum("df").as("df"), sum("cf").as("cf"))
      .select("term", "df", "cf", "bucket")
  }

  /** Heal a dictionary fold (Compactor.foldDictionary) interrupted
    * between steps. `dictionary_predelta` existing alongside `dictionary`
    * means the swap completed but cleanup didn't: the folded base already
    * contains the deltas, so the deltas (and the predelta backup) must be
    * dropped or they would double-count. A missing `dictionary` promotes
    * the complete `dictionary_compact` (written fully before any rename)
    * or rolls back the predelta backup. */
  def recoverDictionary(spark: SparkSession, indexDir: String): Unit = {
    import graft.util.Fs
    val dict = s"$indexDir/dictionary"
    val compactDir = s"$indexDir/dictionary_compact"
    val pre = s"$indexDir/dictionary_predelta"
    if (!Fs.exists(spark, dict)) {
      if (Fs.exists(spark, compactDir)) {
        Fs.renameOrHealed(spark, compactDir, dict)
        Fs.delete(spark, s"$indexDir/dict_deltas")
        Fs.delete(spark, pre)
      } else if (Fs.exists(spark, pre)) Fs.renameOrHealed(spark, pre, dict)
      else {
        // legacy (pre-delta-segment) crash states: a half-promoted
        // dictionary_new, or an undo log holding the pre-batch dictionary
        val legacyNew = s"$indexDir/dictionary_new"
        if (Fs.exists(spark, legacyNew)) Fs.renameOrHealed(spark, legacyNew, dict)
        else Fs.list(spark, indexDir)
          .find(_.getName.startsWith("dictionary_undo_b"))
          .foreach(p => Fs.renameOrHealed(spark, p.toString, dict))
      }
    } else if (Fs.exists(spark, pre)) {
      Fs.delete(spark, s"$indexDir/dict_deltas")
      Fs.delete(spark, pre)
    }
  }

  /** Heal a postings directory swap (Compactor) interrupted between
    * renames: promote a complete `postings_compact`, or roll back
    * `postings_old`. Safe to call any time; no-op on a healthy index. */
  def recoverPostings(spark: SparkSession, indexDir: String): Unit = {
    import graft.util.Fs
    val post = s"$indexDir/postings"
    val compactDir = s"$indexDir/postings_compact"
    val old = s"$indexDir/postings_old"
    if (!Fs.exists(spark, post)) {
      // the swap renames postings away only AFTER postings_compact was
      // fully written, so if postings is missing the compact dir (when
      // present) is complete — promote it; otherwise roll back
      // race-tolerant: a concurrent healer/writer may complete the same
      // promote first — only a rejected rename with `post` still absent
      // is a real failure (see Fs.renameOrHealed)
      if (Fs.exists(spark, compactDir)) Fs.renameOrHealed(spark, compactDir, post)
      else if (Fs.exists(spark, old)) Fs.renameOrHealed(spark, old, post)
    }
    if (Fs.exists(spark, post) && Fs.exists(spark, old))
      Fs.delete(spark, old) // crash after promote, before cleanup
  }

  /** Logical index equality — the `gin_gin_comp` analog
    * (/root/reference/src/gin_gin.c:364-378): same stats, same
    * dictionary, same decoded postings (block layout may differ). */
  def indexEqual(spark: SparkSession, dirA: String, dirB: String): Boolean = {
    import spark.implicits._
    if (loadStats(spark, dirA) != loadStats(spark, dirB)) return false
    def dict(d: String) = dictionary(spark, d).select("term", "df", "cf")
    if (dict(dirA).except(dict(dirB)).limit(1).count() != 0) return false
    if (dict(dirB).except(dict(dirA)).limit(1).count() != 0) return false
    def postings(d: String) = spark.read.parquet(s"$d/postings")
      .select($"term", $"block_id", $"doc_id_base", $"doc_id_max", $"num_docs",
        $"max_tf", $"min_dl", $"doc_deltas", $"tfs", $"dls")
      .as[PostingBlock].flatMap(decodeBlock)
      .select("term", "doc_id", "tf", "dl")
    postings(dirA).except(postings(dirB)).limit(1).count() == 0 &&
      postings(dirB).except(postings(dirA)).limit(1).count() == 0
  }
}
