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
  def matching(m: TermMatch): Iterator[String] =
    m.seeks.iterator.flatMap { s =>
      val (lo, hi) = span(s)
      Iterator.range(lo, hi).map(terms)
    }.filter(m.accept)

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
