package perfbench

import scala.collection.mutable

/** Reference computations made apart from the program: tokenizers for the
  * generated (ASCII) text, exact BM25, and the top-k comparison. It shares
  * no code with the program under test.
  */
object Oracle {

  // ---- tokenizers ------------------------------------------------------

  private def charClass(c: Char): Int =
    if (c == ' ' || c == '\n' || c == '\t' || c == '\r') 0
    else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) 1
    else if (c >= '0' && c <= '9') 2
    else 3

  /** TokenBigram over ASCII text, the rule `NgramTokenizer` documents: drop
    * U+FFFE, lowercase, then every maximal run of letters, of digits or of
    * symbols is one token; whitespace ends a run and is no token.
    */
  def bigramTokens(text: String): Array[String] = {
    val s = text.replace("\uFFFE", "").toLowerCase(java.util.Locale.ROOT)
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < s.length) {
      val cls = charClass(s.charAt(i))
      if (cls == 0) i += 1
      else {
        var j = i + 1
        while (j < s.length && charClass(s.charAt(j)) == cls) j += 1
        out += s.substring(i, j)
        i = j
      }
    }
    out.toArray
  }

  /** TokenDelimit: whitespace-separated words, lowercased. */
  def delimitTokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[ \n\t\r]+").filter(_.nonEmpty)

  /** Distinct query terms in first-occurrence order. */
  def queryTerms(tokens: Array[String]): Seq[String] = tokens.distinct.toSeq

  // ---- BM25 ------------------------------------------------------------

  val k1 = 1.2
  val b = 0.75

  def idf(n: Long, df: Long): Double = math.log((n - df + 0.5) / (df + 0.5) + 1.0)

  def tfNorm(tf: Int, dl: Int, avgdl: Double): Double =
    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

  /** Exact in-memory inverted index; doclen is the number of tokens a
    * document indexes (so it always equals the sum of its term counts).
    */
  final class Index(docs: Iterator[(Long, Array[String])]) {
    val postings = mutable.HashMap[String, mutable.ArrayBuffer[(Long, Int)]]()
    val doclen = mutable.HashMap[Long, Int]()
    var numDocs = 0L
    var totalTokens = 0L
    docs.foreach { case (id, toks) =>
      numDocs += 1
      totalTokens += toks.length
      doclen(id) = toks.length
      val tf = mutable.LinkedHashMap[String, Int]()
      toks.foreach(t => tf(t) = tf.getOrElse(t, 0) + 1)
      tf.foreach { case (t, c) => postings.getOrElseUpdate(t, mutable.ArrayBuffer()) += ((id, c)) }
    }
    def avgdl: Double = if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs
    def df(t: String): Long = postings.get(t).map(_.size.toLong).getOrElse(0L)
    def cf(t: String): Long = postings.get(t).map(_.iterator.map(_._2.toLong).sum).getOrElse(0L)

    /** Every matching document's BM25 score, restricted to `keep`. */
    def scores(terms: Seq[String], keep: Long => Boolean = _ => true): mutable.HashMap[Long, Double] = {
      val acc = mutable.HashMap[Long, Double]()
      val avg = avgdl
      terms.foreach { t =>
        postings.get(t).foreach { ps =>
          val w = idf(numDocs, ps.size.toLong)
          ps.foreach { case (d, tf) =>
            if (keep(d)) acc(d) = acc.getOrElse(d, 0.0) + w * tfNorm(tf, doclen(d), avg)
          }
        }
      }
      acc
    }
  }

  /** Results ordered by (score desc, docId asc). */
  def ranked(scores: Iterable[(Long, Double)]): Vector[(Long, Double)] =
    scores.toVector.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))

  val relTol = 1e-9

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= relTol * math.max(1.0, math.abs(b))

  /** None when `got` is the top-k of the full ranking `want`, allowing any
    * order among documents whose scores agree within the tolerance.
    */
  def compareTopK(got: Seq[(Long, Double)], want: Vector[(Long, Double)], k: Int): Option[String] = {
    val n = math.min(k, want.size)
    if (got.size != n) return Some(s"expected $n hits, got ${got.size}")
    if (got.map(_._1).distinct.size != got.size) return Some("duplicate docIds in result")
    var i = 0
    while (i < n) {
      val (gd, gs) = got(i)
      val ws = want(i)._2
      if (!close(gs, ws)) return Some(f"rank $i: score $gs%.12g, expected $ws%.12g (doc ${want(i)._1})")
      if (gd != want(i)._1 && !want.exists { case (d, s) => d == gd && close(s, ws) })
        return Some(s"rank $i: doc $gd, expected doc ${want(i)._1}")
      i += 1
    }
    None
  }

  // ---- self-test on hand-worked inputs ----------------------------------

  def selfTest(): Unit = {
    def check(cond: Boolean, what: String): Unit =
      if (!cond) throw new IllegalStateException(s"oracle self-test failed: $what")
    check(bigramTokens("if (ab != 12) return cd;").toSeq ==
      Seq("if", "(", "ab", "!=", "12", ")", "return", "cd", ";"), "bigram runs")
    check(bigramTokens("x1Y+=2").toSeq == Seq("x", "1", "y", "+=", "2"), "bigram classes")
    check(bigramTokens("abc\uFFFEdef ghi").toSeq == Seq("abcdef", "ghi"), "bigram U+FFFE")
    check(bigramTokens(" \n ").isEmpty, "bigram blanks")
    check(delimitTokens("wa wb\nwa ").toSeq == Seq("wa", "wb", "wa"), "delimit")
    // d1 = "a b" (doclen 2), d2 = "a a c" (doclen 3): N = 2, avgdl = 2.5
    val ix = new Index(Iterator(1L -> Array("a", "b"), 2L -> Array("a", "a", "c")))
    check(ix.numDocs == 2 && ix.totalTokens == 5 && ix.df("a") == 2 && ix.cf("a") == 3, "index stats")
    check(math.abs(idf(2, 2) - math.log(1.2)) < 1e-15, "idf")
    val a = ranked(ix.scores(Seq("a")))
    check(a.map(_._1) == Vector(2L, 1L), "rank order")
    check(close(a(0)._2, 0.2373416715660948) && close(a(1)._2, 0.19856803215183175), "bm25 one term")
    val ac = ranked(ix.scores(Seq("a", "c")))
    check(close(ac(0)._2, 0.8780659561173048) && ac(0)._1 == 2L, "bm25 two terms")
    check(ranked(ix.scores(Seq("a"), _ != 2L)).map(_._1) == Vector(1L), "restricted candidates")
    check(compareTopK(Seq(2L -> 0.2373416715660948), a, 1).isEmpty, "compare ok")
    check(compareTopK(Seq(1L -> 0.19856803215183175), a, 1).nonEmpty, "compare catches a wrong doc")
    // equal scores: either order passes
    val tie = Vector(5L -> 1.0, 7L -> 1.0, 9L -> 0.5)
    check(compareTopK(Seq(7L -> 1.0, 5L -> 1.0), tie, 2).isEmpty, "compare ties")
    check(compareTopK(Seq(5L -> 1.0, 9L -> 0.5), tie, 2).nonEmpty, "compare catches a skipped doc")
  }
}
