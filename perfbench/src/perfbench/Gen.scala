package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.query.Searcher.Query

/** Row of the library's input shape `(repo, path, commit, lang, content)`. */
case class CodeRow(repo: String, path: String, commit: String, lang: String,
                   content: String)

/** Seeded input generators. Everything is a pure function of the seed, so
  * the same seed gives the same tables and queries in every run. The
  * generators are the benchmark's own: a change to the library's test
  * fixtures cannot change the benchmark's inputs. */
object Gen {
  private val Langs = Array("py", "scala", "c", "java")
  val DocsPerRepo = 50
  val LocalVocab = 100
  val GlobalVocab = 2000

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Zipf-like rank in [0, n): P(rank) ~ 1/(rank + 1). */
  def zipfRank(r: Long, n: Int): Int =
    zipfRankAt((r >>> 11).toDouble / (1L << 53).toDouble, n)

  /** Zipf-like rank in [0, n) of the quantile `u` in [0, 1). */
  def zipfRankAt(u: Double, n: Int): Int =
    math.min(n - 1, (math.exp(u.max(1e-12) * math.log(n + 1.0)) - 1.0).toInt)

  /** `k`-th point of the Weyl sequence `offset + k * step` mod 1. Any
    * window of k fills [0, 1) evenly, whatever the offset. */
  def weyl(offset: Double, step: Double, k: Long): Double = {
    val x = (offset + k * step) % 1.0
    if (x < 0) x + 1.0 else x
  }

  /** Irrational steps for `weyl`: the golden ratio and sqrt(2), sqrt(3). */
  private val Steps = Array(0.6180339887498949, 0.41421356237309515, 0.7320508075688772)

  /** Code-like document with repo locality: every other token is a
    * repo-local identifier `loc_<repo>_<rank>`, the rest a global Zipf
    * vocabulary `id_<rank>`. Doc order (repo, path) clusters the local
    * terms into few posting blocks, so block-max pruning skips blocks. */
  def codeDoc(seed: Long, i: Long): CodeRow = {
    val repoId = i / DocsPerRepo
    val h = mix(seed ^ mix(i) ^ 0x5bf03635L)
    val nTokens = 20 + ((mix(h ^ 1L) >>> 48) % 380).toInt
    val sb = new java.lang.StringBuilder(nTokens * 10)
    var j = 0
    while (j < nTokens) {
      val r = mix(h ^ (j + 2).toLong)
      if ((r & 1L) == 0L) sb.append("loc_").append(repoId).append('_')
        .append(zipfRank(mix(r), LocalVocab))
      else sb.append("id_").append(zipfRank(r, GlobalVocab))
      j += 1
      if (j < nTokens) sb.append(if (j % 8 == 0) '\n' else ' ')
    }
    val lang = Langs(((mix(h ^ 7L) >>> 33) % 4).toInt)
    CodeRow(f"repo_$repoId%05d", f"src/pkg${(i % 50) / 10}%d/file_$i%08d.$lang",
      f"${mix(h ^ 13L)}%016x".take(8), lang, sb.toString)
  }

  /** Documents [from, until) as a DataFrame, generated on the executors. */
  def codeCorpus(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until).map(i => codeDoc(seed, i)).toDF()
  }

  /** Point queries of 1-3 terms: a repo-local identifier of a repo in
    * [repoFrom, repoUntil) plus 0-2 global terms; every twentieth query
    * carries a term no document has. The seed picks the repos and where
    * each term's rank sequence starts. Query shapes rotate in a fixed
    * order, and term ranks follow Weyl sequences over the Zipf quantiles,
    * so every stretch of queries has the same mix of shapes and term
    * frequencies whatever the seed: the mix adds no run-to-run variance.
    * Ids start at `firstId`. The queries are made as they are read, so
    * the benchmark holds no query list of its own. */
  def queries(seed: Long, repoFrom: Long, repoUntil: Long,
              firstId: Long = 1L): Iterator[Query] = {
    val rnd = new scala.util.Random(seed)
    val offsets = Array.fill(3)(rnd.nextDouble())
    def rank(slot: Int, i: Int, n: Int): Int = zipfRankAt(weyl(offsets(slot), Steps(slot), i), n)
    Iterator.from(0).map { i =>
      val repo = repoFrom + rnd.nextInt((repoUntil - repoFrom).toInt)
      val local = s"loc_${repo}_${rank(0, i, 20)}"
      val globals = (1 to i % 3).map(g => s"id_${rank(g, i, 40)}")
      val terms =
        if (i % 20 == 19) local +: globals.take(1) :+ s"zz_absent_$i"
        else local +: globals
      Query(firstId + i, terms.mkString(" "))
    }
  }

  // ---- dedup corpus ---------------------------------------------------

  /** Expected `Pipeline.cleanCorpus` and `Dedup.jaccardPairs` output. */
  final case class DedupTruth(reasons: Map[Long, String],
                              pairs: Map[(Long, Long), Double])

  /** The library's drop precedence and its language markers, restated
    * here so the expected verdicts do not come from the code under test. */
  private val LangMarkers = Seq(
    "en" -> Set("the", "and", "of", "is"), "fr" -> Set("le", "la", "et", "les"),
    "de" -> Set("der", "die", "und", "das"), "es" -> Set("el", "los", "que", "y"))
  val MinTokens = 20
  val ShingleK = 3
  val MinJaccard = 0.5

  private def word(rnd: scala.util.Random): String =
    "w" + java.lang.Long.toString(rnd.nextInt(1 << 20).toLong, 36)

  private def prose(rnd: scala.util.Random, n: Int, marker: String): Seq[String] =
    (0 until n).map(j => if (j % 7 == 3) marker else word(rnd))

  /** `(doc_id, text)` rows with every drop reason present: short docs
    * (quality), French docs (lang), exact copies (exact_dup), copies with
    * about one token in 25 replaced (near_dup), and distinct English
    * prose (keep). Kinds follow a Weyl sequence, so their shares are the
    * same for every seed. Random words come from a 2^20-word space, so unrelated
    * documents share no 3-token shingle in practice; the truth below is
    * computed from the texts either way. */
  def dedupDocs(seed: Long, n: Int): IndexedSeq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val offset = rnd.nextDouble()
    val bases = mutable.ArrayBuffer.empty[Seq[String]]
    (0 until n).map { i =>
      val kind = (weyl(offset, Steps(0), i) * 100).toInt
      val toks =
        if (kind < 8) prose(rnd, 5 + rnd.nextInt(10), "the")
        else if (kind < 16) prose(rnd, 40 + rnd.nextInt(60), "les")
        else if (kind < 28 && bases.nonEmpty) bases(rnd.nextInt(bases.size))
        else if (kind < 45 && bases.nonEmpty) {
          bases(rnd.nextInt(bases.size)).map(t =>
            if (t != "the" && rnd.nextInt(25) == 0) word(rnd) else t)
        } else {
          val t = prose(rnd, 40 + rnd.nextInt(80), "the")
          bases += t
          t
        }
      (i.toLong, toks.mkString(if (i % 2 == 0) " " else "  "))
    }
  }

  private def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9_]+").filter(_.nonEmpty)

  private def langOf(toks: Array[String]): String = {
    val votes = LangMarkers.map { case (l, ms) => l -> toks.count(ms.contains) }
    votes.indices.find { i =>
      votes(i)._2 > 0 && votes.drop(i + 1).forall(_._2 <= votes(i)._2)
    }.map(votes(_)._1).getOrElse("unknown")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact verdicts and near-duplicate pairs for `docs`, by brute force
    * over shared shingles. */
  def dedupTruth(docs: IndexedSeq[(Long, String)]): DedupTruth = {
    val toks = docs.map { case (id, text) => id -> tokens(text) }
    val shingles = toks.map { case (id, t) =>
      id -> t.sliding(ShingleK).filter(_.length == ShingleK)
        .map(_.mkString(" ")).toSet
    }.toMap
    val byShingle = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    for ((id, sh) <- shingles; s <- sh)
      byShingle.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id
    val candidates = byShingle.valuesIterator.flatMap { ids =>
      val s = ids.sorted
      for (i <- s.indices.iterator; j <- (i + 1 until s.size).iterator)
        yield (s(i), s(j))
    }.toSet
    val pairs = candidates.iterator.flatMap { case (a, b) =>
      val (sa, sb) = (shingles(a), shingles(b))
      val common = sa.count(sb.contains)
      val j = common.toDouble / (sa.size + sb.size - common)
      if (j >= MinJaccard) Some((a, b) -> round6(j)) else None
    }.toMap

    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs.keys.toSeq.sorted) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val exactRep = docs.groupBy(_._2).values
      .flatMap { g => val m = g.map(_._1).min; g.map(_._1 -> m) }.toMap
    val reasons = toks.map { case (id, t) =>
      id -> (
        if (t.length < MinTokens || t.length > 100000) "quality"
        else if (langOf(t) != "en") "lang"
        else if (exactRep(id) != id) "exact_dup"
        else if (find(id) != id) "near_dup"
        else "keep")
    }.toMap
    DedupTruth(reasons, pairs)
  }
}
