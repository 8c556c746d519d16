package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.CrossHash

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k as a broadcast join, each pair
  * scored in one typed JVM loop (rawCosine).
  * Scale path: multi-table random-hyperplane LSH — candidates are the
  * UNION over L independent hash tables (band-OR boosts recall), exact
  * cosine re-ranks them. Bucketing is integer-exact: embeddings are
  * quantized with floor(v·10^6) and plane weights are integers derived
  * from CrossHash.h60, so bucket ids are identical in Spark and the
  * DuckDB oracle (no float-sum order sensitivity).
  */
object Ann {

  /** cos(a, b) in one typed JVM loop. Spark's higher-order array
    * expressions (zip_with / aggregate / transform) are CodegenFallback:
    * every element is boxed and the lambda interpreted, which dominated
    * the pair-scoring stages when cosine was a column expression. Floats
    * widen exactly to double, the products/squares are accumulated left
    * to right, and the result is dot / (sqrt · sqrt). None for a pair
    * that has no cosine: a null embedding or unequal lengths. Callers
    * skip such a pair. */
  private[ops] def rawCosine(a: Seq[Float], b: Seq[Float]): Option[Double] =
    if (a == null || b == null || a.length != b.length) None
    else {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y
        i += 1
      }
      Some(d / (math.sqrt(na) * math.sqrt(nb)))
    }

  /** Exact-cosine re-rank of candidate id pairs: embeddings joined back
    * by id, dot+norms in one typed JVM pass (rawCosine), rounding via
    * the same round() column as before — so scores are bit-identical to
    * the previous zip_with/aggregate expression while the per-pair work
    * runs compiled instead of interpreted. */
  private def scorePairs(cand: DataFrame, left: DataFrame, right: DataFrame,
      aName: String, bName: String, broadcastLeft: Boolean): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val l = left.select(col("vec_id").as(aName), col("embedding").as("ea"))
    val lj = if (broadcastLeft) broadcast(l) else l
    cand.join(lj, aName)
      .join(right.select(col("vec_id").as(bName), col("embedding").as("eb")),
        bName)
      .select(col(aName), col(bName), col("ea"), col("eb"))
      .as[(Long, Long, Seq[Float], Seq[Float])]
      .mapPartitions(_.flatMap { case (a, b, ea, eb) =>
        rawCosine(ea, eb).map((a, b, _))
      })
      .toDF(aName, bName, "raw")
      .select(col(aName), col(bName), round(col("raw"), 6).as("cos"))
  }

  /** Brute-force cosine top-k neighbors for each query vector.
    * queries is broadcast (small); corpus side streams — one pass, no
    * shuffle of the corpus, per-query top-k via the typed bounded
    * aggregator. Returns (query_id, rank, neighbor_id, cos), rank 1..k. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_emb"), col("c_emb"))
      .as[(Long, Long, Seq[Float], Seq[Float])]
      .mapPartitions(_.flatMap { case (qid, nid, ea, eb) =>
        rawCosine(ea, eb).map((qid, nid, _))
      })
      .toDF("query_id", "neighbor_id", "raw")
      .select(col("query_id"), col("neighbor_id"),
        round(col("raw"), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** (query_id, neighbor_id, cos) rows ranked per query by the top-k
    * path's rule: cos DESC, neighbor_id ASC, k kept. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    import graft.query.{BoundedK, Scored, Searcher}
    val hits = scored.select(col("query_id"),
        struct(col("neighbor_id").as("doc_id"), col("cos").as("score")))
      .as[(Long, Scored)]
    BoundedK.perKey(hits, k, Scored.BestFirst)
      .flatMap { case (qid, best) => Searcher.ranked(qid, best) }
      .toDF("query_id", "rank", "neighbor_id", "cos")
  }

  /** Integer plane weight for (table, plane, dim): h60 of a tag string
    * mapped to [-10^6, 10^6]. Shared verbatim with the SQL oracle. */
  def planeWeight(table: Int, plane: Int, dim: Int): Long =
    CrossHash.h60(s"plane_${table}_${plane}_$dim") % 2000001L - 1000000L

  /** Quantized embedding: floor(v·10^6) per component as long. floor of
    * a double is deterministic and identical across engines. */
  def quantized(emb: Column): Column =
    transform(emb, v => floor(v.cast("double") * 1000000.0).cast("long"))

  /** All (table, bucket) rows per vector, computed in one typed pass with
    * a broadcast plane matrix: exact integer arithmetic identical to the
    * SQL oracle, constant-size codegen, one flat loop per row. A null
    * embedding has no bucket. */
  def bucketRows(vecs: DataFrame, nPlanes: Int, nTables: Int,
                 dims: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // plane matrix [table][plane][dim], built once and broadcast
    val planes = Array.tabulate(nTables, nPlanes, dims)(planeWeight)
    val planesB = spark.sparkContext.broadcast(planes)
    vecs.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, emb) if emb != null =>
        val w = planesB.value
        val e = new Array[Long](dims)
        var d = 0
        val n = math.min(dims, emb.length)
        while (d < n) { e(d) = math.floor(emb(d).toDouble * 1000000.0).toLong; d += 1 }
        (0 until nTables).map { t =>
          var bucket = 0L
          var p = 0
          while (p < nPlanes) {
            val wp = w(t)(p)
            var proj = 0L
            var i = 0
            while (i < n) { proj += e(i) * wp(i); i += 1 }
            if (proj >= 0) bucket |= (1L << p)
            p += 1
          }
          (id, t, bucket)
        }
        case _ => Nil
      }
      .toDF("vec_id", "t", "bucket")
  }

  /** Planes sized for the corpus: enough sign bits that the EXPECTED
    * bucket occupancy n/2^planes stays ≤ `targetBucket` — the log-n
    * growth that keeps candidate volume per table ~n·targetBucket/2
    * instead of n²/2^planes as the corpus scales. Callers pass
    * `nPlanes = 0` to the LSH entry points to use this. */
  def autoPlanes(n: Long, targetBucket: Long = 256L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(48, math.max(4, needed))
  }

  /** Multi-table LSH approximate top-k: candidates = union over L hash
    * tables of same-bucket pairs, then exact cosine re-rank. Band-OR
    * across tables recovers the recall a single table forfeits;
    * candidate volume stays ~L·n/2^planes per query instead of n.
    * `nPlanes = 0` derives planes from corpus size (autoPlanes).
    *
    * ONE cogroup of query and corpus bucket rows on (table, bucket): a
    * corpus bucket holding more than `maxBucket` rows (mass-duplicate
    * embeddings, or n ≫ 2^planes) is dropped inside its group by
    * `cappedIds` — the same guard as `bucketPairs` — and every other
    * group emits (query, member ≠ query). Candidates carry only ids
    * through the distinct (16 bytes/row); embeddings rejoin afterwards. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int = 8, nTables: Int = 6, dims: Int = 64,
              maxBucket: Long = 1000L): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val planes = if (nPlanes > 0) nPlanes else autoPlanes(corpus.count())
    def buckets(vecs: DataFrame) = bucketRows(vecs, planes, nTables, dims)
      .as[(Long, Int, Long)].groupByKey(r => (r._2, r._3))
    val cand = buckets(queries).cogroup(buckets(corpus)) { (_, qs, cs) =>
        if (!qs.hasNext) Iterator.empty
        else cappedIds(cs.map(_._1), maxBucket).iterator.flatMap { ns =>
          qs.flatMap(q => ns.iterator.filter(_ != q._1).map(n => (q._1, n)))
        }
      }
      .toDF("query_id", "neighbor_id")
      .distinct()
    rankTopK(scorePairs(cand, queries, corpus, "query_id", "neighbor_id",
      broadcastLeft = true), k)
  }

  /** Centroid count sized for the corpus: ≈ √n — the standard IVF cell
    * scaling that balances probe cost (nProbe · n/nc members scanned)
    * against assignment cost (nc dot products per vector) — clamped to
    * [16, 65536]. Callers pass `nCentroids = 0` to the IVF entry points
    * to use this; a FIXED nCentroids at a growing corpus degenerates
    * toward a linear scan (n/nc per cell grows without bound). */
  def autoCentroids(n: Long): Int =
    math.min(65536,
      math.max(16, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt))

  /** Norm every refined centroid is scaled to: the quantized-unit-vector
    * norm (components are floor(v·1e6), so a unit float vector quantizes
    * to integer norm ≈ 1e6). Equal-norm centroids make the max-DOT
    * assignment rule identical to max-COSINE assignment — the spherical
    * k-means invariant that gives Lloyd refinement its monotone
    * objective on this quantizer. */
  private val CentroidNorm = 1e6

  /** Spherical-Lloyd refinement of an IVF coarse quantizer — the trained
    * replacement for the seed (smallest-vec_id) centroid set, same plan
    * shape per iteration as one IVF assignment pass: broadcast centroids,
    * one map over the corpus (exact integer dots, ties → lowest cid), one
    * partially-aggregated reduceGroups summing member components in
    * EXACT integer arithmetic (longs: commutative/associative, so
    * partition order cannot perturb the result — no float-sum
    * nondeterminism), then a driver-side renormalize of nc tiny vectors
    * to `CentroidNorm`. Deterministic end-to-end; empty cells keep their
    * previous centroid. Iteration state on the driver is nc·dims longs
    * (≤ 65536·dims — megabytes, never corpus-sized). */
  def refineCentroids(corpus: DataFrame, seeds: Array[(Long, Array[Long])],
                      iters: Int, dims: Int): Array[(Long, Array[Long])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = seeds
    val vecs = corpus.select(col("vec_id").cast("long"),
      quantized(col("embedding"))).as[(Long, Seq[Long])]
    var it = 0
    while (it < iters) {
      val centB = spark.sparkContext.broadcast(cents)
      val sums: Array[(Long, Array[Long])] = vecs
        .map { case (_, emb) =>
          val cs = centB.value
          val n = math.min(dims, emb.length)
          var best = 0; var bestDot = Long.MinValue
          var c = 0
          while (c < cs.length) {
            val ce = cs(c)._2
            var s = 0L; var i = 0
            val m = math.min(n, ce.length)
            while (i < m) { s += emb(i) * ce(i); i += 1 }
            if (s > bestDot || (s == bestDot && cs(c)._1 < cs(best)._1)) {
              best = c; bestDot = s
            }
            c += 1
          }
          val e = new Array[Long](dims)
          var i = 0
          while (i < n) { e(i) = emb(i); i += 1 }
          (cs(best)._1, e)
        }
        .groupByKey(_._1)
        .reduceGroups { (a: (Long, Array[Long]), b: (Long, Array[Long])) =>
          val s = new Array[Long](dims)
          var i = 0
          while (i < dims) { s(i) = a._2(i) + b._2(i); i += 1 }
          (a._1, s)
        }
        .map { case (cid, (_, s)) => (cid, s.toSeq) }
        .collect()
        .map { case (cid, s) => (cid, s.toArray) }
      centB.destroy()
      val byId = sums.toMap
      cents = cents.map { case (cid, old) =>
        byId.get(cid) match {
          case Some(s) =>
            var nsq = 0.0
            var i = 0
            while (i < dims) { nsq += s(i).toDouble * s(i).toDouble; i += 1 }
            if (nsq == 0.0) (cid, old) // degenerate zero-sum cell
            else {
              val scale = CentroidNorm / math.sqrt(nsq)
              (cid, s.map(v => math.floor(v * scale).toLong))
            }
          case None => (cid, old) // empty cell keeps its centroid
        }
      }
      it += 1
    }
    cents
  }

  /** IVF candidate stage, exposed for tests: (query_id, neighbor_id)
    * pairs from the probed cells only. `nCentroids = 0` derives ≈ √n
    * centroids from the corpus size (autoCentroids); `kmeansIters > 0`
    * refines the seed quantizer by spherical Lloyd (refineCentroids) —
    * the default stays 0 so the cross-engine gate oracle keeps its exact
    * SQL mirror. */
  def ivfCandidates(queries: DataFrame, corpus: DataFrame,
                    nCentroids: Int, nProbe: Int, dims: Int,
                    kmeansIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nc = if (nCentroids > 0) nCentroids else autoCentroids(corpus.count())
    // the nc SMALLEST vec_ids (sort+limit -> TakeOrdered, no
    // dense-0-based id assumption: an offset or filtered id space must
    // not silently yield an empty/undersized centroid set)
    val seeds: Array[(Long, Array[Long])] = corpus
      .select(col("vec_id").cast("long"), quantized(col("embedding")))
      .orderBy(col("vec_id")).limit(nc)
      .as[(Long, Seq[Long])].collect()
      .map { case (id, e) => (id, e.toArray) }
      .sortBy(_._1)
    val cents = if (kmeansIters > 0)
      refineCentroids(corpus, seeds, kmeansIters, dims) else seeds
    val centB = spark.sparkContext.broadcast(cents)
    // best `take` cells per vector by exact integer dot (desc, id asc)
    def cellsOf(vecs: DataFrame, take: Int): DataFrame = vecs
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, emb) =>
        val cs = centB.value
        val n = math.min(dims, emb.length)
        val e = new Array[Long](n)
        var d = 0
        while (d < n) { e(d) = math.floor(emb(d).toDouble * 1000000.0).toLong; d += 1 }
        val dots = cs.map { case (cid, ce) =>
          var s = 0L
          var i = 0
          val m = math.min(n, ce.length)
          while (i < m) { s += e(i) * ce(i); i += 1 }
          (cid, s)
        }
        dots.sortBy { case (cid, s) => (-s, cid) }.take(take)
          .map { case (cid, _) => (id, cid) }
      }
      .toDF("vec_id", "cell")
    val assign = cellsOf(corpus, 1)
      .withColumnRenamed("vec_id", "neighbor_id")
    val probes = cellsOf(queries, nProbe)
      .withColumnRenamed("vec_id", "query_id")
    probes.join(assign, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
  }

  /** IVF-flat approximate top-k — the inverted-file scale path
    * complementing hyperplane LSH: the corpus is coarse-quantized into
    * `nCentroids` cells (0 = autoCentroids ≈ √n) and each query probes
    * only its `nProbe` best cells, so per-query candidate volume is
    * ~nProbe·n/nCentroids instead of n. The centroid set seeds from the
    * vectors with the smallest vec_ids (deterministic); `kmeansIters > 0`
    * trains the quantizer in place by spherical Lloyd (refineCentroids —
    * same plan shape per iteration, still deterministic: exact integer
    * member sums, fixed-norm renormalize). Cell assignment compares EXACT
    * integer dot products over floor(v·1e6)-quantized components (ties
    * → lowest centroid id), so the partition is bit-identical in Spark
    * and the DuckDB oracle; the final ranking is exact cosine over the
    * probed cells' members only.
    *
    * Scale shape: one broadcast of nCentroids quantized vectors, one
    * map over the corpus for assignment (no shuffle), one shuffle join
    * of probes × cell members — the corpus is never pair-joined with
    * itself. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 0, nProbe: Int = 4,
              dims: Int = 64, kmeansIters: Int = 0): DataFrame = {
    val cand = ivfCandidates(queries, corpus, nCentroids, nProbe, dims,
      kmeansIters)
    rankTopK(scorePairs(cand, queries, corpus, "query_id", "neighbor_id",
      broadcastLeft = true), k)
  }

  /** Distinct same-bucket id pairs (doc_a < doc_b) across the L hash
    * tables, with the maxBucket cap applied BEFORE any pair is emitted —
    * the candidate stage of cosineNearDupPairs, exposed so tests can
    * assert the cap bounds candidate volume at O(maxBucket²) per bucket
    * instead of O(|cluster|²). `nPlanes = 0` derives planes from corpus
    * size.
    *
    * ONE shuffle fuses the occupancy cap and the pair generation: bucket
    * rows group by (t, bucket), a bucket past the cap is dropped inside
    * its group without being materialized (bucketPairs), and surviving
    * groups emit their ordered id pairs directly. Candidates stay
    * ids-only (16 bytes/row); embeddings rejoin afterwards. */
  def lshCandidatePairs(corpus: DataFrame, nPlanes: Int, nTables: Int,
                        dims: Int, maxBucket: Long): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = if (nPlanes > 0) nPlanes else autoPlanes(corpus.count())
    bucketRows(corpus, planes, nTables, dims)
      .as[(Long, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroups { (_, it) => bucketPairs(it.map(_._1), maxBucket) }
      .toDF("doc_a", "doc_b")
      .distinct()
  }

  /** One group's member ids, sorted, or None when the group holds more
    * than `cap` members. Buffering stops at cap+1 ids, so a degenerate
    * mega-group (a mass-duplicate bucket, a boilerplate shingle) never
    * occupies task memory. This is the one hot-key rule of every capped
    * candidate generator: `bucketPairs`, `lshTopK` and
    * `Dedup.jaccardPairs`. */
  private[ops] def cappedIds(members: Iterator[Long],
                             cap: Long): Option[Array[Long]] = {
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    var n = 0L
    while (members.hasNext && n <= cap) { buf += members.next(); n += 1 }
    if (n > cap) None
    else {
      val ids = buf.result()
      java.util.Arrays.sort(ids)
      Some(ids)
    }
  }

  /** Ordered (a < b) id pairs of sorted distinct ids. */
  private[ops] def orderedPairs(ids: Array[Long]): Iterator[(Long, Long)] =
    Iterator.range(0, ids.length - 1).flatMap { i =>
      Iterator.range(i + 1, ids.length).map(j => (ids(i), ids(j)))
    }

  /** Ordered (a < b) id pairs of one bucket's members, empty when the
    * bucket exceeds `maxBucket` (see cappedIds). */
  private[ops] def bucketPairs(members: Iterator[Long],
                               maxBucket: Long): Iterator[(Long, Long)] =
    cappedIds(members, maxBucket).iterator.flatMap(orderedPairs)

  /** Embedding-cosine near-duplicate pairs above a threshold (doc_a <
    * doc_b): multi-table LSH candidate generation (NO cartesian product —
    * the join key is (table, bucket), capped at maxBucket occupancy),
    * exact cosine verification. Near dups have cos close to 1, exactly
    * where hyperplane LSH recall is highest:
    * P(pair survives) = 1-(1-(1-θ/π)^planes)^tables. */
  def cosineNearDupPairs(corpus: DataFrame, minCos: Double,
                         nPlanes: Int = 8, nTables: Int = 6,
                         dims: Int = 64, maxBucket: Long = 1000L): DataFrame = {
    val cand = lshCandidatePairs(corpus, nPlanes, nTables, dims, maxBucket)
    scorePairs(cand, corpus, corpus, "doc_a", "doc_b",
        broadcastLeft = false)
      .filter(col("cos") >= minCos)
  }
}
