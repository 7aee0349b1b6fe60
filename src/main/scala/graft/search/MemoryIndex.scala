package graft.search

import graft.analysis.{AnalyzedDoc, Analyzer}

/** Single-document in-memory index — the Lucene.Net.Memory module
  * (reference: /root/reference/src/Lucene.Net.Memory/MemoryIndex.cs,
  * whose class doc bills it as the "prospective search" / percolation
  * primitive: index ONE document in RAM, then run arbitrary queries —
  * phrases and spans included — against it at ~10x the throughput of a
  * RAMDirectory round-trip).
  *
  * Here the per-document structure is just the analyzed token stream
  * folded to `term -> sorted positions` (the reference's
  * `fields -> Info(terms -> positions)` with a single implicit field),
  * and query evaluation reuses the SAME pure matching kernels the
  * distributed Searcher runs per candidate doc: [[SloppyPhrase.freq]]
  * for sloppy (multi-)phrases and [[Spans.eval]] for the span algebra —
  * so a MemoryIndex match is definitionally consistent with what the
  * full index would return for that document.
  *
  * Multi-term nodes (prefix/wildcard/regexp/fuzzy/range) expand against
  * the single document's own term set — the reference's automaton ∩
  * MemoryIndexReader.Terms walk (MemoryIndex.MemoryIndexReader.cs) — so
  * no global dictionary is needed; the expansion budget is the document
  * itself.
  *
  * Scoring (reference MemoryIndex.Search scores the 1-doc index with the
  * standard similarity): this engine's BM25 specialized to the 1-doc
  * collection — maxDoc = 1, df = 1, avgdl = docLen — so idf is the
  * constant ln(1 + 0.5/1.5) and the length norm is exactly 1. Scores are
  * comparable across queries on the SAME document, which is all the
  * reference contract promises. Matching (`> 0` vs absent) is the part
  * percolation consumes and the part the driver gate oracles.
  */
final class MemoryIndex private (
    val positions: Map[String, Array[Int]],
    val docLen: Int) extends Serializable {

  import MemoryIndex._

  /** Sorted positions of `term` in this document (empty when absent) —
    * the posOf contract [[SloppyPhrase.freq]] and [[Spans.eval]] expect. */
  def posOf(term: String): Array[Int] = positions.getOrElse(term, NoPositions)

  def tf(term: String): Int = posOf(term).length
  def contains(term: String): Boolean = positions.contains(term)

  /** The single-doc term dictionary in sorted order (the reference's
    * MemoryIndexReader.Terms enumeration). */
  lazy val sortedTerms: Array[String] = {
    val a = positions.keysIterator.toArray
    java.util.Arrays.sort(a, implicitly[Ordering[String]])
    a
  }

  // 1-doc BM25: idf(df=1, N=1) = ln(1 + 0.5/1.5); dl = avgdl => norm = 1.
  private def idf1: Double = math.log(1.0 + 0.5 / 1.5)
  private def tfNorm(freq: Float): Double = 2.2 * freq / (freq + 1.2)

  /** Score of `q` against this document, or None when it does not match
    * (the reference's score-is-zero sentinel, made explicit). */
  def matchScore(q: Query): Option[Float] = q match {
    case TermQ(t, b) =>
      val f = tf(t)
      if (f > 0) Some((b * idf1 * tfNorm(f.toFloat)).toFloat) else None

    case MatchAllQ(b) => Some(b)

    case ConstantScoreQ(sub, b) => matchScore(sub).map(_ => b)

    case BoolQ(must, should, mustNot, msm, b) =>
      val mustScores = must.map(matchScore)
      if (mustScores.exists(_.isEmpty)) None
      else if (mustNot.exists(matchScore(_).isDefined)) None
      else {
        val shouldScores = should.flatMap(matchScore)
        val needed = math.max(msm, if (must.isEmpty && should.nonEmpty) 1 else 0)
        if (shouldScores.size < needed) None
        else if (must.isEmpty && should.isEmpty) None // no positive clause
        else Some(b * (mustScores.flatten.sum + shouldScores.sum))
      }

    case DisMaxQ(qs, tie) =>
      val ss = qs.flatMap(matchScore)
      if (ss.isEmpty) None
      else { val mx = ss.max; Some(mx + tie * (ss.sum - mx)) }

    case PhraseQ(terms, slop, b, _) =>
      val freq =
        if (terms.size == 1) tf(terms.head).toFloat
        else if (slop == 0) exactPhraseFreq(terms.toIndexedSeq).toFloat
        else SloppyPhrase.freq(terms.toIndexedSeq, posOf, slop)
      // weight = sum of idf over phrase terms in query order, as the
      // distributed scoredPhrase does — all idf1 in the 1-doc collection
      if (freq > 0f) Some((b * terms.size * idf1 * tfNorm(freq)).toFloat)
      else None

    case MultiPhraseQ(slots, slop, b) =>
      val freq = multiPhraseFreq(slots, slop)
      if (freq > 0f) Some((b * slots.size * idf1 * tfNorm(freq)).toFloat)
      else None

    case ComplexPhraseQ(parts, slop, b) =>
      // expand each part against the doc's own dictionary into a slot
      // (ComplexPhraseQueryParser rewrite, scoped to one document)
      val slots = parts.map {
        case TermQ(t, _) => Seq(t)
        case mtq => expandLocal(mtq)
      }
      if (slots.exists(_.isEmpty)) None
      else matchScore(MultiPhraseQ(slots, slop, b))

    case SparsePhraseQ(parts, b) =>
      // explicit-position phrase (PhraseQuery.Add(term, position)):
      // same anchor walk as Searcher.slotFreq at slop 0, same weight
      // framing (Σ idf over the parts actually queried — all idf1 here)
      val freq = sparsePhraseFreq(parts)
      if (freq > 0) Some((b * parts.size * idf1 * tfNorm(freq.toFloat)).toFloat)
      else None

    case ng: NGramPhraseQ =>
      matchScore(ng.optimized) // the Searcher rewrites before scoring too

    case FunctionScoreQ(sub, expr) =>
      matchScore(sub).map(s => ScoreExpr.eval(expr, s, docLen.toFloat))

    case BoostingQ(positive, context, contextBoost) =>
      matchScore(positive).map { s =>
        if (matchScore(context).isDefined) s * contextBoost else s
      }

    // multi-term nodes: expand against the single-doc dictionary, then
    // score the OR of the survivors (budget = the document itself)
    case mtq =>
      val expanded = expandLocal(mtq)
      if (expanded.isEmpty) None
      else matchScore(BoolQ(should = expanded.map(TermQ(_, multiTermBoost(mtq)))))
  }

  /** True iff `q` matches this document. */
  def matches(q: Query): Boolean = matchScore(q).isDefined

  /** Span matches of `q` in this document, sorted by (start, end) —
    * SpanMultiTerm wrappers are expanded against the doc dictionary
    * first (the Searcher expands them against the global one). */
  def spans(q: SpanQuery): Array[(Int, Int)] = Spans.eval(expandSpans(q), posOf)

  def matchesSpan(q: SpanQuery): Boolean = spans(q).nonEmpty

  private def expandSpans(q: SpanQuery): SpanQuery = q match {
    case SpanMultiTermQ(mtq) =>
      SpanOrQ(expandLocal(mtq).map(SpanTermQ))
    case SpanOrQ(cs) => SpanOrQ(cs.map(expandSpans))
    case sn @ SpanNotQ(i, e, _, _) =>
      sn.copy(include = expandSpans(i), exclude = expandSpans(e))
    case SpanFirstQ(s, end) => SpanFirstQ(expandSpans(s), end)
    case SpanNearQ(cs, slop, ord) => SpanNearQ(cs.map(expandSpans), slop, ord)
    case SpanPositionRangeQ(s, a, b) => SpanPositionRangeQ(expandSpans(s), a, b)
    case t: SpanTermQ => t
  }

  /** Sparse-phrase anchor count — the binary-search walk
    * [[Searcher.slotFreq]] runs at slop 0, each part offset by its
    * explicit relative position. */
  private def sparsePhraseFreq(parts: Seq[(String, Int)]): Int = {
    require(parts.nonEmpty, "empty sparse phrase")
    val sorted = parts.sortBy(_._2).toIndexedSeq
    if (sorted.exists(p => !contains(p._1))) return 0
    if (sorted.length == 1) return tf(sorted.head._1)
    val rels = sorted.map(_._2 - sorted.head._2)
    var f = 0
    posOf(sorted.head._1).foreach { p =>
      var i = 1
      while (i < sorted.length &&
        java.util.Arrays.binarySearch(posOf(sorted(i)._1), p + rels(i)) >= 0) i += 1
      if (i == sorted.length) f += 1
    }
    f
  }

  /** slop=0 phrase freq — the same binary-search consecutive-positions
    * check [[Searcher.slotFreq]] runs per doc. */
  private def exactPhraseFreq(terms: IndexedSeq[String]): Int = {
    if (terms.exists(!contains(_))) return 0
    var f = 0
    posOf(terms.head).foreach { p =>
      var i = 1
      while (i < terms.length &&
        java.util.Arrays.binarySearch(posOf(terms(i)), p + i) >= 0) i += 1
      if (i == terms.length) f += 1
    }
    f
  }

  private def multiPhraseFreq(slots: Seq[Seq[String]], slop: Int): Float = {
    val liveSlots = slots.map(_.filter(contains))
    if (liveSlots.exists(_.isEmpty)) return 0f
    // identical slots share a key so SloppyPhrase treats them as a repeat
    // group — same encoding as Searcher.slotFreq
    val slotKeys: IndexedSeq[String] =
      liveSlots.map(_.distinct.sorted.mkString("|")).toIndexedSeq
    val altsByKey: Map[String, Seq[String]] =
      slotKeys.zip(liveSlots.map(_.distinct)).toMap
    val slotPosOf: String => Array[Int] = key =>
      altsByKey(key).iterator.flatMap(t => posOf(t).iterator)
        .toArray.distinct.sorted
    if (slop == 0) {
      val lists = slotKeys.map(slotPosOf)
      var f = 0
      lists.head.foreach { p =>
        var i = 1
        while (i < lists.length &&
          java.util.Arrays.binarySearch(lists(i), p + i) >= 0) i += 1
        if (i == lists.length) f += 1
      }
      f.toFloat
    } else SloppyPhrase.freq(slotKeys, slotPosOf, slop)
  }

  /** Expand a multi-term node against this document's term set — the
    * reference's automaton walk over MemoryIndexReader.Terms. Matchers
    * mirror [[Searcher.multiTermMatch]] exactly (same wildcard→regex
    * translation, same Levenshtein band). */
  private[search] def expandLocal(q: Query): Seq[String] = q match {
    case TermQ(t, _) => if (contains(t)) Seq(t) else Nil
    case PrefixQ(p, _) => sortedTerms.filter(_.startsWith(p)).toSeq
    case WildcardQ(pat, _) =>
      val rx = MemoryIndex.wildcardRegex(pat)
      sortedTerms.filter(t => rx.matcher(t).matches()).toSeq
    case RegexpQ(r, _) =>
      val rx = java.util.regex.Pattern.compile("^(?:" + r + ")$")
      sortedTerms.filter(t => rx.matcher(t).matches()).toSeq
    case FuzzyQ(t, maxEdits, _) =>
      sortedTerms.filter { c =>
        math.abs(c.length - t.length) <= maxEdits &&
          MemoryIndex.levenshtein(c, t) <= maxEdits
      }.toSeq
    case TermRangeQ(lo, hi, inclLo, inclHi, _) =>
      sortedTerms.filter { t =>
        (lo == null || (if (inclLo) t >= lo else t > lo)) &&
          (hi == null || (if (inclHi) t <= hi else t < hi))
      }.toSeq
    case other =>
      throw new IllegalArgumentException(s"not a term-expandable node: $other")
  }

  private def multiTermBoost(q: Query): Float = q match {
    case PrefixQ(_, b) => b
    case WildcardQ(_, b) => b
    case RegexpQ(_, b) => b
    case FuzzyQ(_, _, b) => b
    case TermRangeQ(_, _, _, _, b) => b
    case _ => 1f
  }
}

object MemoryIndex {

  private val NoPositions = Array.empty[Int]

  def fromDoc(doc: AnalyzedDoc): MemoryIndex = {
    val m = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    doc.tokens.foreach(t =>
      m.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty) += t.position)
    new MemoryIndex(
      m.view.mapValues(ps => { val a = ps.toArray; java.util.Arrays.sort(a); a }).toMap,
      doc.bm25DocLen)
  }

  def fromText(text: String, analyzer: Analyzer): MemoryIndex =
    fromDoc(analyzer.analyze(text))

  /** The wildcard→regex translation Searcher.multiTermMatch uses too. */
  private[search] def wildcardRegex(pat: String): java.util.regex.Pattern =
    java.util.regex.Pattern.compile("^" + pat.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    } + "$")

  /** Plain dynamic-programming Levenshtein (the residual predicate the
    * distributed fuzzy path delegates to Spark's `levenshtein`). */
  private[search] def levenshtein(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  /** Conjunctive lower bound of a query: terms that MUST be present for
    * any match — the cheap prescreen [[Percolate.memoryPercolate]] runs
    * before full evaluation (the reference's percolation idiom: extract
    * required terms, consult them first). Disjunctive/expandable branches
    * contribute nothing (sound, just less selective). */
  def requiredTerms(q: Query): Set[String] = q match {
    case TermQ(t, _) => Set(t)
    case PhraseQ(ts, _, _, _) => ts.toSet
    case BoolQ(must, _, _, _, _) => must.flatMap(requiredTerms).toSet
    case ConstantScoreQ(sub, _) => requiredTerms(sub)
    case FunctionScoreQ(sub, _) => requiredTerms(sub)
    case BoostingQ(pos, _, _) => requiredTerms(pos)
    case MultiPhraseQ(slots, _, _) =>
      slots.collect { case Seq(only) => only }.toSet
    case SparsePhraseQ(parts, _) => parts.map(_._1).toSet
    // consistent with evaluation, which scores the OPTIMIZED rewrite
    case ng: NGramPhraseQ => requiredTerms(ng.optimized)
    case _ => Set.empty
  }
}
