package graft.query

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** One scored candidate. */
case class Scored(doc_id: Long, score: Double)

/** One decoded substring match. */
case class SubMatch(doc_id: Long, n_matches: Long, first_offset: Long)

/** Bounded smallest-k-by-doc_id aggregator — the `max_matches` cap for
  * the substring decode path. Same partial/merge shape as TopKAgg:
  * per-partition bounded buffers, bounded merge, so only O(k) rows per
  * query cross the shuffle — never a single-task global sort of every
  * match of a common pattern. */
class MinKByDocAgg(k: Int)
    extends Aggregator[SubMatch, List[SubMatch], Seq[SubMatch]] {
  private def insert(buf: List[SubMatch], x: SubMatch): List[SubMatch] =
    // buf.nonEmpty guards k <= 0 (empty buf "full"): fall through to the
    // else branch, whose take(k) keeps the buffer empty instead of
    // crashing on buf.last
    if (buf.nonEmpty && buf.lengthCompare(k) >= 0 && x.doc_id >= buf.last.doc_id) buf
    else {
      val (pre, post) = buf.span(_.doc_id < x.doc_id)
      (pre ::: (x :: post)).take(k)
    }
  def zero: List[SubMatch] = Nil
  def reduce(buf: List[SubMatch], x: SubMatch): List[SubMatch] = insert(buf, x)
  def merge(a: List[SubMatch], b: List[SubMatch]): List[SubMatch] =
    b.foldLeft(a)(insert)
  def finish(buf: List[SubMatch]): Seq[SubMatch] = buf
  def bufferEncoder: Encoder[List[SubMatch]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[SubMatch]] = ExpressionEncoder()
}

/** Bounded smallest-k aggregator over (doc_id, offset) pairs in
  * lexicographic order — the `--max-matches` cap for the all-occurrence
  * offset decode (/root/reference/gin.c:723-730): O(k) rows per query
  * cross the shuffle, deterministic (smallest (doc, offset) kept). */
class MinKPairAgg(k: Int)
    extends Aggregator[(Long, Long), List[(Long, Long)], Seq[(Long, Long)]] {
  private def lt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
  private def insert(buf: List[(Long, Long)],
                     x: (Long, Long)): List[(Long, Long)] =
    if (buf.nonEmpty && buf.lengthCompare(k) >= 0 && !lt(x, buf.last)) buf
    else {
      val (pre, post) = buf.span(lt(_, x))
      (pre ::: (x :: post)).take(k)
    }
  def zero: List[(Long, Long)] = Nil
  def reduce(buf: List[(Long, Long)], x: (Long, Long)): List[(Long, Long)] =
    insert(buf, x)
  def merge(a: List[(Long, Long)], b: List[(Long, Long)]): List[(Long, Long)] =
    b.foldLeft(a)(insert)
  def finish(buf: List[(Long, Long)]): Seq[(Long, Long)] = buf
  def bufferEncoder: Encoder[List[(Long, Long)]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
}

/** Bounded smallest-k aggregator over plain longs (candidate doc ids) —
  * the phrase path's `max_matches` budget: partial buffers and bounded
  * merge keep O(k) rows per query on the shuffle, and "k smallest
  * doc_ids" is a deterministic cap (same shape as MinKByDocAgg). */
class MinKLongAgg(k: Int) extends Aggregator[Long, List[Long], Seq[Long]] {
  private def insert(buf: List[Long], x: Long): List[Long] =
    if (buf.nonEmpty && buf.lengthCompare(k) >= 0 && x >= buf.last) buf
    else {
      val (pre, post) = buf.span(_ < x)
      (pre ::: (x :: post)).take(k)
    }
  def zero: List[Long] = Nil
  def reduce(buf: List[Long], x: Long): List[Long] = insert(buf, x)
  def merge(a: List[Long], b: List[Long]): List[Long] = b.foldLeft(a)(insert)
  def finish(buf: List[Long]): Seq[Long] = buf
  def bufferEncoder: Encoder[List[Long]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

/** Bounded top-k typed aggregator — the `max_matches` analog
  * (reference gin.c:723-730): partial = per-partition bounded
  * ordered buffer, merge = bounded merge, so only O(k) rows per group
  * cross the shuffle (partial+final aggregation, never a global sort).
  *
  * Ordering: score DESC, doc_id ASC (deterministic tie-break; callers
  * pass scores already rounded when oracle parity is required).
  */
class TopKAgg(k: Int) extends Aggregator[Scored, List[Scored], Seq[Scored]] {
  private def better(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.doc_id < b.doc_id)

  private def insert(buf: List[Scored], x: Scored): List[Scored] = {
    // buf kept sorted best-first, length <= k (nonEmpty: see MinKByDocAgg)
    if (buf.nonEmpty && buf.lengthCompare(k) >= 0 && !better(x, buf.last)) buf
    else {
      val (pre, post) = buf.span(better(_, x))
      (pre ::: (x :: post)).take(k)
    }
  }

  def zero: List[Scored] = Nil
  def reduce(buf: List[Scored], x: Scored): List[Scored] = insert(buf, x)
  def merge(a: List[Scored], b: List[Scored]): List[Scored] =
    b.foldLeft(a)(insert)
  def finish(buf: List[Scored]): Seq[Scored] = buf
  def bufferEncoder: Encoder[List[Scored]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
}
