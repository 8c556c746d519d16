package graft.query

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded merged-interval aggregator over (lo, hi) pairs — the
  * distributed half of the IMT-style interval pre-merge
  * (/root/reference/src/gin_interval_merge_tree.c:261-302). Buffers stay
  * compacted (sorted, disjoint) and are coarsened to at most `maxIv`
  * intervals by closing the SMALLEST gaps first. Coarsening only ADDS
  * coverage, so pruning on the result is sound: a block overlapping a
  * true interval always overlaps the coarsened set; at worst a few extra
  * blocks survive.
  *
  * This keeps per-term interval state bounded on the executors and the
  * driver: a head term with millions of blocks still reports <= maxIv
  * rows, so the AND counting path never collects unbounded block
  * metadata (the r1 MetaCap-cliff fix).
  */
class IntervalAgg(maxIv: Int)
    extends Aggregator[(Long, Long), List[(Long, Long)], Seq[(Long, Long)]] {

  private def compact(l: List[(Long, Long)]): List[(Long, Long)] =
    Intervals.coarsen(Intervals.merge(l.toArray), maxIv).toList

  def zero: List[(Long, Long)] = Nil
  def reduce(buf: List[(Long, Long)], x: (Long, Long)): List[(Long, Long)] = {
    val b = x :: buf
    if (b.lengthCompare(4 * maxIv) > 0) compact(b) else b
  }
  def merge(a: List[(Long, Long)], b: List[(Long, Long)]): List[(Long, Long)] =
    compact(a ::: b)
  def finish(buf: List[(Long, Long)]): Seq[(Long, Long)] = compact(buf)
  def bufferEncoder: Encoder[List[(Long, Long)]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
}

/** Interval-list algebra shared by the WAND pruner and the aggregator. */
object Intervals {

  /** Sort + coalesce overlapping/adjacent intervals — the fork-compaction
    * analog (/root/reference/src/gin_gin.c:725-743). */
  def merge(iv: Array[(Long, Long)]): Array[(Long, Long)] = {
    if (iv.isEmpty) return iv
    val s = iv.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)](s.head)
    s.tail.foreach { case (lo, hi) =>
      val (plo, phi) = out.last
      if (lo <= phi + 1) out(out.length - 1) = (plo, math.max(phi, hi))
      else out += ((lo, hi))
    }
    out.toArray
  }

  /** Intersection of two merged (sorted, disjoint) interval lists. */
  def intersect(a: Array[(Long, Long)], b: Array[(Long, Long)]): Array[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.toArray
  }

  /** Reduce a merged interval list to <= maxIv intervals by keeping the
    * maxIv-1 LARGEST gaps as separators (smallest gaps are closed). */
  def coarsen(merged: Array[(Long, Long)], maxIv: Int): Array[(Long, Long)] = {
    if (merged.length <= maxIv) return merged
    val gaps = Array.tabulate(merged.length - 1) { i =>
      (merged(i + 1)._1 - merged(i)._2, i)
    }
    val keep = gaps.sortBy(g => (-g._1, g._2)).take(maxIv - 1).map(_._2).sorted
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](maxIv)
    var start = 0
    keep.foreach { sep =>
      out += ((merged(start)._1, merged(sep)._2))
      start = sep + 1
    }
    out += ((merged(start)._1, merged.last._2))
    out.toArray
  }
}
