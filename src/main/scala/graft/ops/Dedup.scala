package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import graft.index.Builder
import graft.util.CrossHash

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes: exact dedup is one hash-shuffle on a 64-char key (not the
  * content); near-dup groups the shingle rows once by shingle — the
  * posting-list pattern again — with a shingle-df cap so one boilerplate
  * shingle cannot make its group's pair fan-out quadratic; MinHash/LSH
  * trades the quadratic term for banding, with signatures combined
  * map-side by an Aggregator and a bucket-size cap so a giant duplicate
  * cluster cannot blow up one bucket. Both caps drop a hot key inside
  * its one group (Ann.cappedIds).
  *
  * All hashing is CrossHash.h60 (md5-derived) so every operator here is
  * exactly reproducible by the DuckDB oracle.
  */
object Dedup {

  /** Edge-count ceiling for connectedComponents' driver union-find fast
    * path: at or below this the whole CANONICAL edge set (deduped,
    * 16 bytes/edge — never the docs) is collected once and closed with
    * union-find, replacing O(log n) shuffle rounds whose fixed per-round
    * cost (2 shuffle phases + eager checkpoint + signature job) dominates
    * small and medium pair graphs; above it the log-round star
    * contraction runs unchanged. 1M edges ≈ tens of MB on the driver —
    * the same bounded-collect discipline as the other audited driver
    * sites (WandDfCap, DictCap, nCentroids). Data-size threshold, not a
    * core-count tunable: the cutover is identical on a cluster. */
  val DriverCcMaxEdges = 1000000L

  /** Lineage truncation for connectedComponents' star loop: RELIABLE
    * checkpoint when the session has a checkpoint dir (survives
    * executor loss — required on a real cluster where a deep recompute
    * cascade would be fatal), localCheckpoint otherwise (single-host
    * dev/test). Eager in both forms: the input's upstream caches can be
    * released as soon as this returns.
    *
    * The reliable form checkpoints THROUGH a transient cache: Spark's
    * df.checkpoint() runs one job to count and a second to write the
    * checkpoint files, recomputing the plan unless its data is already
    * cached — for the expensive frames passed here (a star round's
    * joins) that recompute would double the round's cost. The cache is
    * dropped as soon as the checkpoint files exist.
    *
    * Checkpoint-file lifecycle: Spark never deletes reliable checkpoint
    * dirs on its own (spark.cleaner.referenceTracking.cleanCheckpoints
    * defaults to false), so every SUPERSEDED frame inside an iterative
    * loop must be released via `release` below — which also deletes its
    * files. The one frame RETURNED to the caller keeps its files for as
    * long as the caller uses it; long-lived sessions that call these
    * operators repeatedly should set
    * spark.cleaner.referenceTracking.cleanCheckpoints=true so those final
    * dirs are reclaimed when the frames are garbage-collected. */
  private def truncate(spark: org.apache.spark.sql.SparkSession,
                       df: DataFrame): DataFrame =
    if (spark.sparkContext.getCheckpointDir.isDefined) {
      val cached =
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ck = cached.checkpoint() // 1st job fills the cache, 2nd reads it
      cached.unpersist()
      ck
    } else df.localCheckpoint()

  /** Release a SUPERSEDED truncated frame: free the block-manager copy
    * behind a localCheckpointed frame (its data RDD sits directly in the
    * plan's LogicalRDD scan), and DELETE a reliable checkpoint's files —
    * Spark leaves those on disk forever by default, so an iterative loop
    * that truncates per round would otherwise leak one directory per
    * round for the session lifetime. Only call once a successor frame is
    * materialized (truncate is eager). */
  private def release(spark: org.apache.spark.sql.SparkSession,
                      df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach(f => graft.util.Fs.delete(spark, f))
      case _ => ()
    }

  /** Exact duplicate groups by content hash. One shuffle over
    * (hash -> count, representative). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text"), 256).as("content_sha256"))
      .groupBy("content_sha256")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))

  /** Keep one representative per exact-duplicate group.
    *
    * Shape: the representative set comes from `exactGroups` (one hash
    * shuffle of (sha256, doc_id) — never the content), and the survivors
    * are kept with a semi-join on doc_id. The previous
    * Window.partitionBy(sha2(text)) form hash-shuffled FULL content rows
    * AND funneled a mega-duplicate group (millions of copies of one
    * boilerplate file — the common web-corpus pathology) through a
    * single task; here content rows move at most once, spread evenly by
    * the unique doc_id, and no per-group task exists (guide §2.5; same
    * fix class as Events.sessionizePartitioned). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.join(
      exactGroups(docs).select(col("min_doc_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** All overlapping space-joined k-grams of `toks`, in order. One
    * StringBuilder pass per gram — the typed replacement for the earlier
    * zip_with-chain column form: Spark's higher-order array expressions
    * (zip_with / transform / aggregate) are CodegenFallback, so every
    * token was boxed and every lambda interpreted on the spectrum and
    * shingle hot paths. Output strings are identical. A null token list
    * (null text) yields no k-grams, as the column form did. */
  private def kgramIter(toks: Seq[String], k: Int): Iterator[String] = {
    val n = if (toks == null) 0 else toks.length - k + 1
    if (n <= 0) Iterator.empty
    else Iterator.tabulate(n) { i =>
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      sb.toString
    }
  }

  /** Word k-gram shingle set per doc (distinct, space-joined): tokens
    * come from the same codegen'd tokenizer column, the k-gram walk and
    * per-doc dedup run in one typed pass (see kgramIter). */
  def shingles(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), Builder.tokensCol(col("text")))
      .as[(Long, Seq[String])]
      .flatMap { case (id, toks) =>
        val seen = new java.util.HashSet[String]()
        kgramIter(toks, k).flatMap(s =>
          if (seen.add(s)) Iterator.single((id, s)) else Iterator.empty)
      }
      .toDF("doc_id", "shingle")
  }

  /** k-gram spectrum: global k-gram counts over the corpus — the k-mer
    * spectrum analog for arbitrary k (gin utils spectrum,
    * /root/reference/src/gin_graph.c:164-280). */
  def kgramSpectrum(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(Builder.tokensCol(col("text")))
      .as[Seq[String]]
      .flatMap(kgramIter(_, k))
      .toDF("gram")
      .groupBy("gram").agg(count(lit(1)).cast("long").as("n"))
  }

  /** k-gram spectrum WITH origins: per (gram, doc) occurrence counts —
    * the full `gin utils spectrum` surface, which emits each k-mer with
    * its origin vertices (/root/reference/src/gin_graph.c:231-270);
    * kgramSpectrum is its origin-blind aggregate. */
  def kgramOrigins(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), Builder.tokensCol(col("text")))
      .as[(Long, Seq[String])]
      .flatMap { case (id, toks) => kgramIter(toks, k).map(g => (id, g)) }
      .toDF("doc_id", "gram")
      .groupBy("gram", "doc_id").agg(count(lit(1)).cast("long").as("n"))
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index —
    * no all-pairs product: only docs sharing at least one shingle meet.
    *
    * `maxShingleDf` caps the document frequency of shingles: a shingle
    * appearing in more than that many docs (license headers, generated
    * boilerplate) is dropped from the UNIVERSE (both the overlaps and the
    * per-doc sizes), so the worst pair fan-out is maxShingleDf² per
    * shingle instead of df². Jaccard is then exact over the capped
    * universe — the standard discriminative-shingle semantics, and
    * mirrorable in SQL.
    *
    * Shape: ONE groupByKey(shingle). A group past the cap emits nothing
    * (Ann.cappedIds); any other group emits (id, id) per member and every
    * ordered pair (a < b). One count per (doc_a, doc_b) then yields both
    * the per-doc sizes (the diagonal rows) and the pair overlaps (the
    * rest). The result is a lazy plan: nothing is persisted or
    * checkpointed, so the caller's action pays for it once.
    *
    * The threshold compares the UNROUNDED ratio (the output rounds to 6dp
    * for display only), matching the oracle exactly. Doc ids are assumed
    * unique.
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= minJ. */
  def jaccardPairs(docs: DataFrame, k: Int, minJ: Double,
                   maxShingleDf: Long = 10000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = shingles(docs, k).as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        Ann.cappedIds(it.map(_._1), maxShingleDf).iterator.flatMap(ids =>
          ids.iterator.map(id => (id, id)) ++ Ann.orderedPairs(ids))
      }
      .toDF("doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n"))
    def sizes(side: String) = counts.filter(col("doc_a") === col("doc_b"))
      .select(col("doc_a").as(side), col("n").as(s"n_$side"))
    counts.filter(col("doc_a") < col("doc_b"))
      .join(sizes("doc_a"), "doc_a")
      .join(sizes("doc_b"), "doc_b")
      .withColumn("raw_j", col("n").cast("double") /
        (col("n_doc_a") + col("n_doc_b") - col("n")))
      .filter(col("raw_j") >= minJ)
      .select(col("doc_a"), col("doc_b"), round(col("raw_j"), 6).as("jaccard"))
  }

  // ---- MinHash + LSH --------------------------------------------------

  /** Map-side-combining minhash aggregator: reduce folds one shingle's
    * base hash into the signature (elementwise min of affine permutation
    * hashes mod the Mersenne prime 2^31-1); merge is elementwise min. So
    * the shuffle carries one partial signature per (partition, doc), not
    * every (doc, shingle) row. */
  class MinHashAgg(nHashes: Int)
      extends Aggregator[Long, Array[Long], Seq[Long]] {
    @transient private lazy val as: Array[Long] =
      Array.tabulate(nHashes)(i => CrossHash.minhashCoeff(i)._1)
    @transient private lazy val bs: Array[Long] =
      Array.tabulate(nHashes)(i => CrossHash.minhashCoeff(i)._2)
    def zero: Array[Long] = Array.fill(nHashes)(Long.MaxValue)
    def reduce(sig: Array[Long], x31: Long): Array[Long] = {
      var i = 0
      while (i < nHashes) {
        val v = (as(i) * x31 + bs(i)) % CrossHash.P31
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      sig
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < nHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(sig: Array[Long]): Seq[Long] = sig.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** MinHash signatures. Base hash per shingle: h60 (md5) reduced mod
    * 2^31-1; permutation i applies (a_i·x + b_i) mod (2^31-1). Exactly
    * reproducible in SQL (all arithmetic in BIGINT range).
    *
    * The k-gram walk, per-doc dedup AND the base hash run in ONE typed
    * pass emitting (doc_id, x31) — the shingle strings never cross an
    * encoder boundary or an md5-hex → conv round trip (the JVM h60 is
    * bit-identical to the column form, OpsSpec parity test; h60 ≥ 0 so
    * % P31 == pmod). The aggregator then combines map-side as before. */
  def minhashSignatures(docs: DataFrame, k: Int, nHashes: Int): Dataset[(Long, Seq[Long])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), Builder.tokensCol(col("text")))
      .as[(Long, Seq[String])]
      .flatMap { case (id, toks) =>
        val seen = new java.util.HashSet[String]()
        kgramIter(toks, k).flatMap(s =>
          if (seen.add(s)) Iterator.single((id, CrossHash.h60(s) % CrossHash.P31))
          else Iterator.empty)
      }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new MinHashAgg(nHashes).toColumn.name("sig"))
      .map { case (docId, sig) => (docId, sig) }
  }

  /** LSH candidate pairs: band the signature, bucket-join on the band
    * key. `maxBucket` drops buckets larger than that many docs (a giant
    * exact-duplicate cluster would otherwise produce |bucket|² candidate
    * rows from one key); such clusters are exactly what `exactGroups`
    * already catches upstream. Recall is probabilistic; callers verify
    * candidates with `jaccardPairs`-style exact scoring. */
  def minhashCandidates(docs: DataFrame, k: Int = 3, nHashes: Int = 32,
                        bands: Int = 8, maxBucket: Long = 1000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = nHashes / bands
    val sigs = minhashSignatures(docs, k, nHashes)
    val banded = sigs.flatMap { case (docId, sig) =>
      (0 until bands).map { b =>
        val key = sig.slice(b * rows, (b + 1) * rows).mkString(",")
        (docId, b, key)
      }
    }
    // ONE shuffle fuses the bucket cap and the pair generation (the same
    // bounded-buffer shape as Ann.lshCandidatePairs/bucketPairs): a band
    // bucket past maxBucket is dropped without materializing it, and
    // surviving buckets emit ordered id pairs directly — replacing the
    // former occupancy shuffle + two-sided self-join of the banded rows.
    banded
      .groupByKey(r => (r._2, r._3))
      .flatMapGroups { (_, it) =>
        graft.ops.Ann.bucketPairs(it.map(_._1), maxBucket)
      }
      .toDF("doc_a", "doc_b")
      .distinct()
  }

  /** Connected components over near-dup pair edges: every doc labeled
    * with the SMALLEST doc_id reachable through the pair graph — the
    * cluster representative a training-data pipeline actually consumes
    * (keep rep, drop the rest), and the fork→root resolution analog
    * (/root/reference/src/gin_gin.c:696-723 resolves forks to their
    * surviving root the same way). Input pairs come from any of the
    * pairwise detectors (jaccardPairs / minhashCandidates /
    * cosineNearDupPairs); docs not in any pair are their own rep.
    *
    * Algorithm: when the canonical edge count fits `maxDriverEdges`
    * (default DriverCcMaxEdges), a bounded collect + driver union-find +
    * broadcast label join — one pass, no iteration (the capped pair
    * detectors upstream keep most real graphs in this regime, and the
    * star loop's fixed per-round cost dominated them). Beyond the bound:
    * alternating large-star / small-star contraction (the
    * published MapReduce CC algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — public knowledge), which
    * converges in O(log n) rounds on ANY graph shape: per round, every
    * node hooks its larger neighbors (large-star) then its smaller
    * neighborhood (small-star) onto the minimum of its neighborhood,
    * and the fixpoint is a forest of stars centered at each component's
    * minimum id. This replaces the r4 min-label propagation, whose
    * O(component diameter) rounds made chain-shaped graphs (long
    * near-dup paths) need a raised maxIter; log-round contraction
    * handles chains and cliques alike under the default budget.
    *
    * Each round's edge frame is truncated by an EAGER checkpoint (the
    * frame enters its successor's plan twice — the neighborhood-min join
    * — so without truncation the logical plan doubles per round and
    * Catalyst re-optimization dominates within ~10 rounds; persist()
    * alone leaves the plan in place). Superseded rounds are released
    * through `release`, which also DELETES reliable checkpoint files so
    * a long-lived session does not leak one directory per round.
    * Convergence = the round leaves the edge set unchanged, detected by
    * an aggregate signature (count, xor of row hashes, exact decimal
    * endpoint sums — overflow-safe for hash-derived full-range ids under
    * ANSI mode) instead of a per-round except() join.
    *
    * Returns (doc_id, cluster_rep). */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
                          maxIter: Int = 25,
                          maxDriverEdges: Long = DriverCcMaxEdges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def trunc(df: DataFrame): DataFrame = truncate(spark, df)
    val selfLabels = docs.select(col("doc_id"),
      col("doc_id").cast("long").as("cluster_rep"))
    // canonical undirected edge set (lo < hi), self-pairs dropped;
    // persisted because the star loop's first truncate re-reads it after
    // the probe, and a lazy pair source (a whole shingle pipeline) must
    // not run twice
    val edgesPlan = pairs
      .select(least(col("doc_a"), col("doc_b")).cast("long").as("src"),
        greatest(col("doc_a"), col("doc_b")).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- small-graph fast path: bounded driver union-find ------------
    // ONE job probes the edge set with limit(bound+1): at or below the
    // bound we already hold every canonical edge (limit returns all rows
    // when none are cut) and close the components with union-find —
    // replacing the whole iterative loop (and its per-round shuffle +
    // checkpoint + signature jobs) with a single collect + broadcast
    // label join. Past the bound the collected prefix is discarded and
    // the log-round star contraction below runs over the persisted
    // edges, so the 100 TB shape is intact. The capped pair detectors
    // upstream keep most real graphs in this regime.
    val lim = math.min(maxDriverEdges + 1, Int.MaxValue.toLong).toInt
    val es = edgesPlan.limit(lim).as[(Long, Long)].collect()
    if (es.isEmpty || es.length.toLong <= maxDriverEdges) edgesPlan.unpersist()
    if (es.isEmpty) return selfLabels
    if (es.length.toLong <= maxDriverEdges) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrElse(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrElse(p, p)
          parent(x) = gp; x = gp; p = parent.getOrElse(x, x)
        }
        x
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // union by MIN id: the root of every tree is the component min,
        // so find() directly yields the cluster representative
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labelRows = es.iterator
        .flatMap { case (a, b) => Iterator(a, b) }
        .toSet[Long].iterator
        .map(n => (n, find(n))).toSeq
      val labelDf = broadcast(labelRows.toDF("doc_id", "rep"))
      return docs.select(col("doc_id"))
        .join(labelDf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id").cast("long")).as("cluster_rep"))
    }

    var edges = trunc(edgesPlan)
    edgesPlan.unpersist() // truncate is eager: the edges now live in `edges`

    /** Large-star: for every node u, connect each STRICTLY LARGER
      * neighbor to min(Γ(u) ∪ {u}). Keeps connectivity, never creates a
      * (larger, smaller) inversion, halves tall structures. */
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("mu"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(least(col("mu"), col("v")).as("src"),
          greatest(col("mu"), col("v")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    /** Small-star: direct every edge at its larger endpoint; that node
      * hooks itself and all its smaller neighbors onto their minimum. */
    def smallStar(e: DataFrame): DataFrame = {
      // canonical (src < dst) already holds: group by the larger end
      val m = e.groupBy("dst").agg(min("src").as("mn"))
      val lows = e.join(m, "dst")
        .filter(col("src") =!= col("mn"))
        .select(col("mn").as("src"), col("src").as("dst"))
      val self = m.select(col("mn").as("src"), col("dst"))
      lows.unionByName(self)
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    /** Fixpoint signature: (row count, xor of row hashes, exact decimal
      * sums of both endpoints). Equal signatures across a round mean the
      * round was the identity — the star fixpoint. */
    def sig(e: DataFrame): (Long, Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)),
        sum(col("src").cast("decimal(38,0)")),
        sum(col("dst").cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getDecimal(3))
    }

    var prevSig = sig(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // ONE truncation per round, not one per star phase: both phases
      // reuse their input frame twice, but those duplicate subplans are
      // identical, so Catalyst's ReuseExchange serves the second read
      // from the first's shuffle files — the round's cost is one
      // materialization, and the plan stays constant-size because the
      // round INPUT is a checkpointed scan (measured: checkpointing each
      // phase separately doubled the clustering gates' wall time, r5)
      val ss = trunc(smallStar(largeStar(edges)))
      release(spark, edges) // superseded once ss is materialized
      val s = sig(ss)
      converged = s == prevSig
      prevSig = s
      edges = ss
      iter += 1
    }
    // a silent non-converged return would hand back intermediate hooks
    // as if they were cluster reps (wrong dedup groups, oracle
    // divergence) — fail loudly. With log-round contraction this fires
    // only on a genuinely pathological input (or a too-small caller
    // override), not on ordinary chain-shaped graphs.
    if (!converged) {
      release(spark, edges)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(log-round star contraction; raise maxIter)")
    }
    // fixpoint edges are exactly (component-min, member) stars: one row
    // per non-representative node
    val labels = trunc(docs.select(col("doc_id"))
      .join(edges.select(col("dst").as("doc_id"), col("src").as("rep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id").cast("long")).as("cluster_rep")))
    release(spark, edges)
    labels
  }

  /** SimHash (60-bit, h60 token hashes) over all token occurrences.
    * Pure column expressions: per bit, the sign of Σ_tokens (±1).
    * (A typed one-pass rewrite was tried this round and measured 2x
    * SLOWER at sf0.1 — the Dataset boundary's per-token string decode
    * outweighs the interpreted aggregate walks, which Catalyst
    * CSE-shares across the 60 bits — so the column form stays.) */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = Builder.tokensCol(col("text"))
    // per-token 60-bit hash, computed once per token occurrence
    val hs = transform(toks, t => CrossHash.h60(t))
    // counts(i) = Σ over tokens of (bit i set ? +1 : -1); sig bit = count > 0
    val sigBits = (0 until 60).map { i =>
      val c = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L,
          lit(1L)).otherwise(lit(-1L)))
      when(c > 0, lit(1L << i)).otherwise(lit(0L))
    }
    docs.select(col("doc_id"), sigBits.reduce(_ + _).as("simhash"))
  }
}
