package graft.index

/** Tokenizer for code/text content.
  *
  * The analog of the reference's graph-text encoding step — the function that
  * turns raw content into the indexable unit stream (reference:
  * /root/reference/src/gin_gin.c:116-131 concatenates vertex labels into the
  * indexable sequence; here we emit terms instead of characters).
  *
  * Kept deliberately simple and *SQL-mirrorable* so the DuckDB oracle can
  * reproduce it exactly: lowercase, split on runs of anything outside
  * [a-z0-9_], drop empties. Positions are 0-based token ordinals.
  */
object Tokenizer {
  private val Sep = "[^a-z0-9_]+"

  /** content -> tokens in order (may contain duplicates).
    *
    * Implemented as a single-pass character scanner, NOT a regex split:
    * `java.util.regex` on this pattern was the dominant CPU cost of the
    * whole index build (jstack-profiled at ~70% of executor time).
    * Equivalent to `lower(content).split("[^a-z0-9_]+")` minus empties
    * for ASCII input (property-tested against the regex form); the
    * DuckDB oracle uses the regex form on the same ASCII corpora. */
  def tokens(content: String): Array[String] = {
    if (content == null || content.isEmpty) return Array.empty
    val n = content.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < n) {
      val c0 = content.charAt(i)
      // ASCII fast path; non-ASCII goes through Character.toLowerCase
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar
              else if (c0 < 128) c0
              else Character.toLowerCase(c0)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** The regex-split reference form (slow; kept for property testing). */
  def tokensRegex(content: String): Array[String] = {
    if (content == null || content.isEmpty) return Array.empty
    content.toLowerCase.split(Sep).filter(_.nonEmpty)
  }

  /** Document length = number of tokens (BM25 dl), counted WITHOUT
    * materializing token strings — the dl pass runs over every byte of
    * the corpus, and allocation rate (not arithmetic) is what limits
    * multi-core scaling of JVM executors (measured on this host: an
    * allocation-heavy loop scales 2.8x over 4 cores, an allocation-free
    * one 3.8x). Must agree exactly with tokens(content).length. */
  def docLen(content: String): Int = {
    if (content == null || content.isEmpty) return 0
    val n = content.length
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val c0 = content.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar
              else if (c0 < 128) c0
              else Character.toLowerCase(c0)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') {
        if (!inTok) { count += 1; inTok = true }
      } else inTok = false
      i += 1
    }
    count
  }

  /** term -> tf for one document without Integer boxing: open-addressing
    * arrays keyed by token string. Calls `f(term, tf)` per distinct term.
    * The per-doc combine step of the postings build (its output order is
    * irrelevant: rows are shuffled by term immediately after). */
  def foreachTermFreq(content: String)(f: (String, Int) => Unit): Unit = {
    val ts = tokens(content)
    if (ts.isEmpty) return
    var cap = Integer.highestOneBit(ts.length * 4 - 1) << 1
    if (cap < 16) cap = 16
    val keys = new Array[String](cap)
    val tfs = new Array[Int](cap)
    val mask = cap - 1
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      var slot = t.hashCode & mask
      while (keys(slot) != null && !(keys(slot) eq t) && keys(slot) != t)
        slot = (slot + 1) & mask
      if (keys(slot) == null) { keys(slot) = t; tfs(slot) = 1 }
      else tfs(slot) += 1
      i += 1
    }
    var s = 0
    while (s < cap) {
      if (keys(s) != null) f(keys(s), tfs(s))
      s += 1
    }
  }
}
