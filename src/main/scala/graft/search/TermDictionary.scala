package graft.search

import graft.build.TermDictRow
import org.apache.spark.unsafe.types.UTF8String

/** A reader's term dictionary held on the driver (≙ the in-memory terms
  * index of BlockTree, reference: Codecs/BlockTreeTermsReader.cs): the
  * merged [[TermDictRow]]s as columnar arrays, sorted in Spark's binary
  * string order (UTF-8 bytes, i.e. code points), the order the stored
  * table and every `term >= lo` predicate use. A stats lookup or a seek is
  * a binary search; nothing runs a Spark job. */
final class TermDictionary private (terms: Array[String], df: Array[Long],
    totalTf: Array[Long], maxTf: Array[Int], maxNorm: Array[Int]) {
  import TermDictionary._

  def size: Int = terms.length

  def get(term: String): Option[TermDictRow] = {
    val i = lowerBound(term)
    if (i < size && terms(i) == term)
      Some(TermDictRow(terms(i), df(i), totalTf(i), maxTf(i), maxNorm(i)))
    else None
  }

  /** The distinct first UTF-16 chars of the terms, ascending. */
  lazy val firstChars: Seq[Char] =
    terms.iterator.filter(_.nonEmpty).map(_.charAt(0)).toSeq.distinct.sorted

  /** Terms in the seeks' spans that pass `accept`, in seek order and,
    * within a seek, in dictionary order. */
  def matching(m: TermMatch): Iterator[String] = indices(m.seeks).map(terms).filter(m.accept)

  /** The rows in the seeks' spans, in the order of [[matching]]. */
  def rows(seeks: Seq[DictSeek.Seek]): Iterator[TermDictRow] =
    indices(seeks).map(i => TermDictRow(terms(i), df(i), totalTf(i), maxTf(i), maxNorm(i)))

  private def indices(seeks: Seq[DictSeek.Seek]): Iterator[Int] =
    seeks.iterator.flatMap { s =>
      val (lo, hi) = span(s)
      Iterator.range(lo, hi)
    }

  /** Index span [from, until) of the terms a seek covers. Bounds go
    * through the UTF-8 conversion Spark applies to a string literal. */
  private def span(s: DictSeek.Seek): (Int, Int) = s match {
    case DictSeek.Prefix(p0) =>
      val p = asLiteral(p0)
      val lo = lowerBound(p)
      (lo, partitionPoint(lo, t => t.startsWith(p)))
    case DictSeek.Range(lo, hi) =>
      val from = lowerBound(asLiteral(lo))
      (from, if (hi == null) size else math.max(from, lowerBound(asLiteral(hi))))
  }

  private def lowerBound(s: String): Int = partitionPoint(0, t => Order.compare(t, s) < 0)

  /** First index at or after `from` whose term fails `p`, for a `p` that
    * holds on a prefix of `terms(from until size)`. */
  private def partitionPoint(from: Int, p: String => Boolean): Int = {
    var lo = from
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (p(terms(mid))) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object TermDictionary {
  /** Spark's binary string order on well-formed UTF-16 strings: UTF-8
    * byte order is code point order, which differs from `String.compareTo`
    * only where a surrogate (a char above U+FFFF) meets U+E000..U+FFFF. */
  val Order: Ordering[String] = (a: String, b: String) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) Integer.compare(a.length, b.length)
    else {
      val x = a.charAt(i)
      val y = b.charAt(i)
      if (x >= 0xd800 && y >= 0xd800) Integer.compare(fix(x), fix(y))
      else Integer.compare(x, y)
    }
  }
  private def fix(c: Char): Int = if (c >= 0xe000) c - 0x800 else c + 0x2000

  /** The string Spark compares for a literal `s` (a lone surrogate
    * becomes '?'). */
  private def asLiteral(s: String): String = UTF8String.fromString(s).toString

  /** Sorts `rows` and merges the rows of one term with
    * [[TermDictRow.merge]] (generations' sums and maxes; the disjoint
    * union of parallel term spaces). Rows without a term are dropped,
    * as every relational lookup dropped them. */
  def apply(rows: Array[TermDictRow]): TermDictionary = {
    val sorted = rows.filter(_.term != null).sortBy(_.term)(Order)
    val merged = Array.newBuilder[TermDictRow]
    var i = 0
    while (i < sorted.length) {
      var r = sorted(i)
      i += 1
      while (i < sorted.length && sorted(i).term == r.term) {
        r = TermDictRow.merge(r, sorted(i))
        i += 1
      }
      merged += r
    }
    val m = merged.result()
    new TermDictionary(m.map(_.term), m.map(_.df), m.map(_.totalTf), m.map(_.maxTf),
      m.map(_.maxNorm))
  }
}

/** A multi-term query's dictionary match (≙ the automaton ∩ terms-index
  * walk, reference: Index/AutomatonTermsEnum.cs): the terms inside
  * `seeks` that pass the residual test `accept`. */
final case class TermMatch(seeks: Seq[DictSeek.Seek], accept: String => Boolean)

/** The terms within `maxEdits` edits of `q` (≙ FuzzyTermsEnum, reference:
  * Search/FuzzyTermsEnum.cs) in a dictionary whose terms start with one
  * of `firstChars`: the [[DictSeek.fuzzyRanges]] seeks (the whole
  * dictionary where banding does not apply), then the residual edit
  * distance, computed as Spark's `levenshtein` computes it.
  *
  * A whole-term match also keeps the length band |length(term) −
  * q.length| <= maxEdits (code points on the term side, UTF-16 units for
  * `q`). A `prefixMode` match (the FuzzySuggester candidate set) has no
  * band; its distance is the least over the term's prefixes
  * `substring(term, 1, n)` for n in q.length ± maxEdits, n >= 1. */
final class FuzzyMatch(q: String, maxEdits: Int, firstChars: Seq[Char],
    prefixMode: Boolean = false) {
  val seeks: Seq[DictSeek.Seek] =
    DictSeek.fuzzyRanges(q, maxEdits, firstChars, prefixMode = prefixMode) match {
      case Some(ranges) => ranges.map { case (lo, hi) => DictSeek.Range(lo, hi) }
      case None => Seq(DictSeek.Prefix(""))
    }
  private val qu = UTF8String.fromString(q)
  private val prefixLengths = math.max(1, q.length - maxEdits) to (q.length + maxEdits)

  /** The term's edit distance, or None when the term is not a match. */
  def distance(term: String): Option[Int] = {
    val u = UTF8String.fromString(term)
    val d =
      if (prefixMode) prefixLengths.iterator.map(n => u.substringSQL(1, n).levenshteinDistance(qu)).min
      else if (math.abs(u.numChars - q.length) > maxEdits) maxEdits + 1
      else u.levenshteinDistance(qu)
    if (d <= maxEdits) Some(d) else None
  }

  def termMatch: TermMatch = TermMatch(seeks, distance(_).isDefined)
}
