package graft.search

import scala.collection.mutable.ArrayBuffer

/** Dictionary SEEKS for multi-term queries — the restatement of the
  * reference's automaton ∩ term-dictionary intersection (reference:
  * Index/AutomatonTermsEnum.cs, Search/FuzzyTermsEnum.cs — a
  * Levenshtein/wildcard automaton walks the BlockTree term index and
  * skips whole subtrees no accepted string can live in).
  *
  * Here the term dictionary is a sorted driver-side array
  * ([[TermDictionary]]), so "skip a subtree" means "binary-search a term
  * span". This object turns each multi-term query into a sound SUPERSET
  * of its match set expressed as such spans; the exact residual test
  * (regex / Levenshtein) still filters the survivors, so results equal a
  * full scan — only the number of terms tested changes.
  *
  *  - wildcard `foo*bar` / anchored regexp `ve.tor`: the leading literal
  *    run is a term prefix → one [[Prefix]] span;
  *  - fuzzy `merge~1`: a breadth-first walk of candidate-term prefixes,
  *    pruned by the classic Levenshtein-automaton bound — the minimum of
  *    the DP row between a prefix p and all prefixes of q lower-bounds
  *    dist(p·rest, q) for EVERY continuation — emitting a range per
  *    surviving prefix subtree. Depth-1 expansion enumerates the
  *    dictionary's actual first characters, because an edit spent at the
  *    front makes the first character arbitrary; deeper levels expand the
  *    query's own characters explicitly and keep whole subtrees for the
  *    "any other character" class only while it stays viable.
  */
object DictSeek {

  /** A span of the sorted dictionary a multi-term match reads. */
  sealed trait Seek
  /** Every term starting with `p` (the whole dictionary for ""). */
  final case class Prefix(p: String) extends Seek
  /** Terms in [lo, hi); hi == null means unbounded above. */
  final case class Range(lo: String, hi: String) extends Seek

  /** Least string strictly greater than every string with prefix `p`,
    * or null when no such bound exists (all chars ￿). An increment that
    * would land in the surrogate block jumps past it — no well-formed
    * term lives there, so the bound stays sound. */
  def succ(p: String): String = {
    val cs = p.toCharArray
    var i = cs.length - 1
    while (i >= 0 && cs(i) == Char.MaxValue) i -= 1
    if (i < 0) null
    else {
      val next0 = (cs(i) + 1).toChar
      val next = if (Character.isSurrogate(next0)) '\ue000' else next0
      new String(cs, 0, i) + next
    }
  }

  /** Leading literal run of a wildcard pattern (chars before the first
    * `*` or `?`). */
  def wildcardPrefix(pattern: String): String =
    pattern.takeWhile(c => c != '*' && c != '?')

  /** True when the regex has an alternation at paren depth 0 outside a
    * character class — the one place a '|' makes the LEADING literals
    * optional. A '|' inside balanced parens ("ab(c|d)") or a class
    * ("a[|]b") cannot reach past its group, so the literals before it
    * remain a sound mandatory prefix. Escapes skip their next char;
    * unbalanced ')' degrades to "top-level" (depth <= 0) so malformed
    * patterns stay conservative. */
  private[search] def hasTopLevelAlternation(rx: String): Boolean = {
    var depth = 0
    var inClass = false
    var i = 0
    while (i < rx.length) {
      rx.charAt(i) match {
        case '\\' => i += 1
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass => depth += 1
        case ')' if !inClass => depth -= 1
        case '|' if !inClass && depth <= 0 => return true
        case _ =>
      }
      i += 1
    }
    false
  }

  /** Leading literal run of a regex that is anchored at ^: plain chars
    * whose following char is not a quantifier. Conservative — stops at
    * any metacharacter, and yields NO prefix at all when the pattern
    * has a TOP-LEVEL alternation (a `foo|bar` branch makes the leading
    * literals optional and a range on them would silently drop the other
    * branch's matches); a grouped alternation ("f:(?:a|b)" — the
    * multi-field keyword rewrite's shape) keeps its mandatory literal
    * head. */
  def regexpPrefix(rx: String): String = {
    if (hasTopLevelAlternation(rx)) return ""
    val meta = ".?*+(){}[]|^$\\"
    val sb = new StringBuilder
    var i = 0
    while (i < rx.length && meta.indexOf(rx(i)) < 0 &&
           !(i + 1 < rx.length && "?*+{".indexOf(rx(i + 1)) >= 0)) {
      sb += rx(i)
      i += 1
    }
    sb.toString
  }

  /** Sorted, coalesced, disjoint term ranges [lo, hi) covering every
    * string within `maxEdits` edits of `q` that could exist in a
    * dictionary whose terms start with one of `firstChars`. Returns None
    * when banding is not applicable (surrogates in play, or the range set
    * exploded past `maxRanges` — caller falls back to the full scan).
    * hi == null means "unbounded above".
    *
    * `prefixMode = true` covers instead every term having SOME prefix
    * within `maxEdits` of `q` — the FuzzySuggester candidate set
    * (reference: Suggest/Analyzing/FuzzySuggester.cs): once a prefix
    * itself is within budget, its whole subtree is completions, so the
    * walk emits the subtree range and stops. */
  def fuzzyRanges(q: String, maxEdits: Int, firstChars: Seq[Char],
                  maxRanges: Int = 512,
                  prefixMode: Boolean = false): Option[Seq[(String, String)]] = {
    if (q.isEmpty || maxEdits <= 0) return None
    // UTF-16 surrogate pairs would break per-char DP soundness — bail out
    if (q.exists(Character.isSurrogate) || firstChars.exists(Character.isSurrogate))
      return None
    val qArr = q.toCharArray
    val qLen = qArr.length
    val qChars = qArr.distinct
    val maxDepth = qLen + maxEdits // longer prefixes can't stay within budget
    val out = new ArrayBuffer[(String, String)]()

    // DP row: row(j) = editDistance(prefix, q[0..j)); extend by char c
    def extend(row: Array[Int], c: Char): Array[Int] = {
      val nr = new Array[Int](qLen + 1)
      nr(0) = row(0) + 1
      var j = 1
      while (j <= qLen) {
        val subst = row(j - 1) + (if (qArr(j - 1) == c) 0 else 1)
        nr(j) = math.min(math.min(nr(j - 1) + 1, row(j) + 1), subst)
        j += 1
      }
      nr
    }
    // extend with a char that matches nothing in q (the "else" class)
    def extendElse(row: Array[Int]): Array[Int] = {
      val nr = new Array[Int](qLen + 1)
      nr(0) = row(0) + 1
      var j = 1
      while (j <= qLen) {
        nr(j) = math.min(math.min(nr(j - 1) + 1, row(j) + 1), row(j - 1) + 1)
        j += 1
      }
      nr
    }
    def lb(row: Array[Int]): Int = row.min

    var exploded = false
    def emit(lo: String, hi: String): Unit = {
      out += ((lo, hi))
      if (out.length > maxRanges) exploded = true
    }
    def explore(prefix: String, row: Array[Int]): Unit = {
      if (exploded || lb(row) > maxEdits) return
      if (prefix.length >= maxDepth) {
        // depth cap: keep the whole subtree (still a bounded range)
        emit(prefix, succ(prefix))
        return
      }
      // "any other char" class: if a char matching nothing in q keeps the
      // subtree viable, refining further can't exclude unknown chars —
      // keep the whole prefix range (covers the exact prefix too) and stop
      if (prefix.nonEmpty && lb(extendElse(row)) <= maxEdits) {
        emit(prefix, succ(prefix))
        return
      }
      if (row(qLen) <= maxEdits) {
        if (prefixMode && prefix.nonEmpty) {
          // the prefix is within budget: every extension completes it
          emit(prefix, succ(prefix))
          return
        }
        // the prefix itself may be a dictionary term within budget: the
        // range [p, p + '\u0000') admits exactly p
        emit(prefix, prefix + "\u0000")
      }
      val expandChars = if (prefix.isEmpty) firstChars else qChars.toSeq
      expandChars.foreach(c => explore(prefix + c, extend(row, c)))
    }
    val row0 = Array.tabulate(qLen + 1)(identity)
    explore("", row0)
    if (exploded) return None
    // coalesce: sort by lo, merge overlapping/adjacent ranges
    val sorted = out.sortBy(_._1)
    val merged = new ArrayBuffer[(String, String)]()
    sorted.foreach { case (lo, hi) =>
      merged.lastOption match {
        case Some((_, phi)) if phi == null => () // already unbounded above
        case Some((plo, phi)) if phi >= lo =>
          val nhi = if (hi == null) null else if (hi > phi) hi else phi
          merged(merged.length - 1) = (plo, nhi)
        case _ => merged += ((lo, hi))
      }
    }
    Some(merged.toSeq)
  }
}
