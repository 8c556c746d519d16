package graft.query

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One scored candidate. */
case class Scored(doc_id: Long, score: Double)

object Scored {

  /** Best first: score DESC, doc_id ASC (deterministic tie-break; callers
    * pass scores already rounded when oracle parity is required). Written
    * with `>` and `==`, so -0.0 ties 0.0 and a NaN ties everything. */
  val BestFirst: Ordering[Scored] = new Ordering[Scored] {
    override def lt(a: Scored, b: Scored): Boolean =
      a.score > b.score || (a.score == b.score && a.doc_id < b.doc_id)
    def compare(a: Scored, b: Scored): Int =
      if (lt(a, b)) -1 else if (lt(b, a)) 1 else 0
  }

  /** Doc order: doc_id ASC, the order `Wand.matches` emits. */
  val ByDoc: Ordering[Scored] = Ordering.by(_.doc_id)
}

/** Bounded best-k typed aggregator — the one `--max-matches` rule
  * (reference gin.c:723-730) behind every capped or ranked selection:
  * partial = per-partition bounded ordered buffer, merge = bounded merge,
  * so only O(k) rows per group cross the shuffle (partial+final
  * aggregation, never a global sort). "Best" is `ord`'s least; ties keep
  * the first-inserted element. */
class BoundedK[T: TypeTag](k: Int, ord: Ordering[T])
    extends Aggregator[T, List[T], Seq[T]] {
  def zero: List[T] = Nil
  def reduce(buf: List[T], x: T): List[T] = BoundedK.insert(buf, x, k)(ord)
  def merge(a: List[T], b: List[T]): List[T] = b.foldLeft(a)(reduce)
  def finish(buf: List[T]): Seq[T] = buf
  def bufferEncoder: Encoder[List[T]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[T]] = ExpressionEncoder()
}

object BoundedK {

  /** `x` into `buf`, which is kept sorted best-first with length <= k.
    * `buf.nonEmpty` guards k <= 0 (an empty buffer is already "full"):
    * the else branch's take(k) keeps it empty instead of crashing on
    * buf.last. `Wand.topK` uses this as its heap. */
  def insert[T](buf: List[T], x: T, k: Int)(ord: Ordering[T]): List[T] =
    if (buf.nonEmpty && buf.lengthCompare(k) >= 0 && !ord.lt(x, buf.last)) buf
    else {
      val (pre, post) = buf.span(ord.lt(_, x))
      (pre ::: (x :: post)).take(k)
    }

  /** The best `k` values per key by `ord`, best first, through one
    * `BoundedK` aggregation. A `k` past Int.MaxValue is no cap: every
    * row passes through as its own one-value group, with no shuffle. A
    * ranked caller's `k` is an Int, so it always aggregates, and k =
    * Int.MaxValue still ranks the whole group. */
  def perKey[T: TypeTag](ds: Dataset[(Long, T)], k: Long,
      ord: Ordering[T]): Dataset[(Long, Seq[T])] = {
    implicit val out: Encoder[(Long, Seq[T])] = ExpressionEncoder()
    if (k > Int.MaxValue) ds.map { case (key, x) => (key, Seq(x)) }
    else ds.groupByKey(_._1)(Encoders.scalaLong)
      .mapValues(_._2)(ExpressionEncoder[T]())
      .agg(new BoundedK[T](k.toInt, ord).toColumn)
  }
}
