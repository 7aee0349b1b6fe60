package graft.analysis

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** The output of a char filter: the rewritten text plus the reference's
  * BaseCharFilter offset-correction table (reference:
  * /root/reference/src/Lucene.Net.Analysis.Common/Analysis/CharFilter/
  * BaseCharFilter.cs:45-108) — a sorted (outputOffset, cumulativeDiff)
  * map where `correct(o)` = o + diff of the LAST entry with offset <= o
  * (identity before the first entry), so token offsets computed over the
  * rewritten text map back to the ORIGINAL text for highlighting and the
  * indexed offsets. */
final case class FilteredText(text: String, offsets: Array[Int],
                              diffs: Array[Int]) {
  def correct(off: Int): Int =
    if (offsets.length == 0 || off < offsets(0)) off
    else if (off >= offsets(offsets.length - 1)) off + diffs(diffs.length - 1)
    else {
      var lo = 0
      var hi = offsets.length - 1
      while (lo < hi) { // last entry with offsets(idx) <= off
        val mid = (lo + hi + 1) >>> 1
        if (offsets(mid) <= off) lo = mid else hi = mid - 1
      }
      off + diffs(lo)
    }
}

/** CharFilter analogs — pre-tokenization text rewrites with offset
  * correction. Pure `String => FilteredText` functions: map-only at any
  * corpus scale, the rules/patterns ride the task closure. */
object CharFilters {

  /** AddOffCorrectMap (BaseCharFilter.cs:86-108): append monotonically;
    * a repeat of the last offset overwrites its diff. */
  private final class Corrections {
    private val offs = new ArrayBuffer[Int]()
    private val dfs = new ArrayBuffer[Int]()
    def last: Int = if (dfs.isEmpty) 0 else dfs(dfs.length - 1)
    def add(off: Int, cumulativeDiff: Int): Unit =
      if (offs.nonEmpty && off == offs(offs.length - 1))
        dfs(dfs.length - 1) = cumulativeDiff
      else { offs += off; dfs += cumulativeDiff }
    def done(text: String) = FilteredText(text, offs.toArray, dfs.toArray)
  }

  /** MappingCharFilter (MappingCharFilter.cs:66-190): greedy
    * LONGEST-match rewrite over a rule map. At every input position the
    * longest matching key wins; its replacement is emitted verbatim and
    * never re-scanned (no cascading). Correction bookkeeping is the
    * reference's exactly: a shrinking match adds ONE entry at the output
    * position past the replacement; a growing match adds one entry per
    * extra output char, stepping the diff down — so correct() of a token
    * end inside the growth collapses onto the original span. */
  def mapping(rules: Map[String, String]): String => FilteredText = {
    require(rules.keys.forall(_.nonEmpty), "empty mapping key")
    // longest-first per leading char = greedy longest match without an FST
    val byFirst: Map[Char, Array[(String, String)]] =
      rules.toArray.groupBy(_._1.charAt(0))
        .map { case (c, rs) => c -> rs.sortBy(-_._1.length) }
    s => {
      val corr = new Corrections
      val out = new java.lang.StringBuilder(s.length)
      var inputOff = 0
      while (inputOff < s.length) {
        var matched: (String, String) = null
        byFirst.get(s.charAt(inputOff)) match {
          case Some(cands) =>
            var i = 0
            while (i < cands.length && matched == null) {
              if (s.startsWith(cands(i)._1, inputOff)) matched = cands(i)
              i += 1
            }
          case None =>
        }
        if (matched == null) {
          out.append(s.charAt(inputOff))
          inputOff += 1
        } else {
          inputOff += matched._1.length
          val diff = matched._1.length - matched._2.length
          if (diff != 0) {
            val prev = corr.last
            if (diff > 0) corr.add(inputOff - diff - prev, prev + diff)
            else {
              val outputStart = inputOff - prev
              var e = 0
              while (e < -diff) { corr.add(outputStart + e, prev - e - 1); e += 1 }
            }
          }
          out.append(matched._2)
        }
      }
      corr.done(out.toString)
    }
  }

  /** PatternReplaceCharFilter (Pattern/PatternReplaceCharFilter.cs:
    * 86-135): regex replace-all with `$n` group references, corrections
    * per the reference's ProcessPattern — a shrinking replacement adds one
    * entry at its end, a growing one an entry per extra char stepping the
    * cumulative diff negative (clamped at 0 by correct()'s caller there;
    * we keep the raw table — tokens never start before offset 0 here
    * because the tokenizer only emits in-bounds spans). */
  def patternReplace(regex: String, replacement: String): String => FilteredText = {
    val pattern = Pattern.compile(regex)
    s => {
      val corr = new Corrections
      val m = pattern.matcher(s)
      val sb = new java.lang.StringBuilder
      var cumulative = 0
      var lastMatchEnd = 0
      while (m.find()) {
        val skipped = m.start - lastMatchEnd
        val lengthBefore = sb.length + skipped
        sb.append(s, lastMatchEnd, m.start)
        val groupSize = m.end - m.start
        lastMatchEnd = m.end
        appendReplacement(sb, m, replacement)
        val replacementSize = sb.length - lengthBefore
        if (groupSize != replacementSize) {
          if (replacementSize < groupSize) {
            cumulative += groupSize - replacementSize
            corr.add(lengthBefore + replacementSize, cumulative)
          } else {
            var i = groupSize
            while (i < replacementSize) {
              cumulative -= 1
              corr.add(lengthBefore + i, cumulative)
              i += 1
            }
          }
        }
      }
      sb.append(s, lastMatchEnd, s.length)
      corr.done(sb.toString)
    }
  }

  /** `$n`/`$$` substitution into the current match (java.util.regex
    * replacement grammar — the same one the reference's Regex.Replace
    * resolves). */
  private def appendReplacement(sb: java.lang.StringBuilder,
                                m: java.util.regex.Matcher,
                                replacement: String): Unit = {
    var i = 0
    while (i < replacement.length) {
      val c = replacement.charAt(i)
      if (c == '\\' && i + 1 < replacement.length) {
        sb.append(replacement.charAt(i + 1)); i += 2
      } else if (c == '$' && i + 1 < replacement.length &&
                 replacement.charAt(i + 1).isDigit) {
        var g = 0
        i += 1
        while (i < replacement.length && replacement.charAt(i).isDigit &&
               g * 10 + (replacement.charAt(i) - '0') <= m.groupCount()) {
          g = g * 10 + (replacement.charAt(i) - '0'); i += 1
        }
        val grp = m.group(g)
        if (grp != null) sb.append(grp)
      } else { sb.append(c); i += 1 }
    }
  }

  /** HTML-strip char filter — the offset-preserving markup stripper
    * (reference: Analysis/CharFilter/HTMLStripCharFilter.cs, a 30k-line
    * generated JFlex scanner; this is a hand-rolled scanner over the
    * same OBSERVABLE contract, not a port): tokens computed over the
    * stripped text carry offsets into the RAW markup, so highlighting
    * can mark up the original web page. Semantics:
    *
    *   - block-level open/close tags (div, p, br, li, tr, h1..h6, …)
    *     are replaced by one '\n' (token separation across blocks);
    *     inline tags (a, b, span, …) are removed zero-width;
    *   - `<script>`/`<style>` elements vanish INCLUDING their content,
    *     leaving one '\n';
    *   - comments, DOCTYPE, processing instructions are removed;
    *     CDATA section content is kept, the markers removed;
    *   - character entities decode to their character (named set +
    *     `&#NNN;` / `&#xHH;`); an unrecognized or bare '&' stays, as
    *     does a '<' that does not open markup (`a < b`);
    *   - `escapedTags` (the reference's SetEscapedTags) pass through
    *     verbatim, content untouched.
    *
    * Every replacement SHRINKS (entities decode to one char), so the
    * correction table only ever steps the cumulative diff up — same
    * bookkeeping as [[mapping]]'s shrink branch. Pure function: map-only
    * at corpus scale. */
  def htmlStrip(escapedTags: Set[String] = Set.empty): String => FilteredText = {
    val escaped = escapedTags.map(_.toLowerCase)
    s => {
      val corr = new Corrections
      val out = new java.lang.StringBuilder(s.length)
      var cumulative = 0
      var i = 0
      // replace input span [from, to) with `rep`, recording the shrink
      def emit(from: Int, to: Int, rep: String): Unit = {
        out.append(rep)
        val diff = (to - from) - rep.length
        if (diff != 0) { cumulative += diff; corr.add(out.length, cumulative) }
        i = to
      }
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '<' && s.startsWith("<![CDATA[", i)) {
          // CDATA: markers removed, content VERBATIM (a '<' inside the
          // section must not be parsed as markup — stateful by design)
          val close = s.indexOf("]]>", i + 9)
          emit(i, i + 9, "")
          val stop = if (close < 0) s.length else close
          out.append(s, i, stop)
          i = stop
          if (close >= 0) emit(close, close + 3, "")
        } else if (c == '<') {
          val m = scanMarkup(s, i)
          if (m == null) { out.append(c); i += 1 } // literal '<'
          else {
            val (end, name, isOpen) = m
            if (name != null && escaped.contains(name)) {
              out.append(s, i, end); i = end // pass through verbatim
            } else if (name != null && isOpen && (name == "script" || name == "style")) {
              // swallow the whole element through its end tag
              val close = indexOfIgnoreCase(s, "</" + name, end)
              val stop =
                if (close < 0) s.length
                else { val gt = s.indexOf('>', close); if (gt < 0) s.length else gt + 1 }
              emit(i, stop, "\n")
            } else if (name != null && BlockTags.contains(name)) emit(i, end, "\n")
            else emit(i, end, "") // inline tag / comment / doctype / PI
          }
        } else if (c == '&') {
          val e = scanEntity(s, i)
          if (e == null) { out.append(c); i += 1 }
          else emit(i, e._1, e._2)
        } else { out.append(c); i += 1 }
      }
      corr.done(out.toString)
    }
  }

  /** Case-insensitive indexOf without lowercasing the haystack (a
    * script-heavy page would otherwise re-allocate the document per
    * script element). */
  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = needle.length
    var i = math.max(0, from)
    val last = s.length - n
    while (i <= last) {
      if (s.regionMatches(true, i, needle, 0, n)) return i
      i += 1
    }
    -1
  }

  private val BlockTags: Set[String] = Set(
    "address", "article", "aside", "blockquote", "br", "caption", "dd",
    "details", "dir", "div", "dl", "dt", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr",
    "li", "main", "nav", "ol", "p", "pre", "section", "summary", "table",
    "tbody", "td", "tfoot", "th", "thead", "tr", "ul")

  /** Scan markup opening at `s(start) == '<'`. Returns (endExclusive,
    * lowercased tag name or null for comment/doctype/PI/CDATA-open,
    * isOpenTag), or null when the '<' does not start markup (kept as
    * text). Quoted attribute values may contain '>'. */
  private def scanMarkup(s: String, start: Int): (Int, String, Boolean) = {
    if (start + 1 >= s.length) return null
    val c1 = s.charAt(start + 1)
    if (s.startsWith("<!--", start)) {
      val e = s.indexOf("-->", start + 4)
      return (if (e < 0) (s.length, null, false) else (e + 3, null, false))
    }
    if (c1 == '!' || c1 == '?') { // doctype / processing instruction
      val e = s.indexOf('>', start + 1)
      return (if (e < 0) (s.length, null, false) else (e + 1, null, false))
    }
    val isClose = c1 == '/'
    val nameStart = if (isClose) start + 2 else start + 1
    var j = nameStart
    while (j < s.length && (s.charAt(j).isLetter || s.charAt(j).isDigit)) j += 1
    if (j == nameStart) return null // "< b" — not markup
    val name = s.substring(nameStart, j).toLowerCase
    // advance to the closing '>', honoring quoted attribute values
    var q: Char = 0
    while (j < s.length) {
      val ch = s.charAt(j)
      if (q != 0) { if (ch == q) q = 0 }
      else if (ch == '"' || ch == '\'') q = ch
      else if (ch == '>') return (j + 1, name, !isClose)
      j += 1
    }
    null // unterminated tag: keep as literal text
  }

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "deg" -> "°", "middot" -> "·", "laquo" -> "«",
    "raquo" -> "»", "ndash" -> "–", "mdash" -> "—",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "hellip" -> "…", "euro" -> "€",
    "trade" -> "™", "times" -> "×", "divide" -> "÷")

  /** Scan a character entity at `s(start) == '&'`: returns (endExclusive,
    * decoded) or null to keep the '&' literal. */
  private def scanEntity(s: String, start: Int): (Int, String) = {
    val semi = s.indexOf(';', start + 1)
    if (semi < 0 || semi - start > 10) return null
    val body = s.substring(start + 1, semi)
    if (body.startsWith("#")) {
      val num = body.substring(1)
      val cp =
        try {
          if (num.startsWith("x") || num.startsWith("X"))
            Integer.parseInt(num.substring(1), 16)
          else Integer.parseInt(num)
        } catch { case _: NumberFormatException => -1 }
      if (cp < 0 || cp > Character.MAX_CODE_POINT) null
      else (semi + 1, new String(Character.toChars(cp)))
    } else NamedEntities.get(body).map(d => (semi + 1, d)).orNull
  }

  /** Wire a char filter ahead of any tokenizer (the reference's
    * Analyzer.InitReader / Tokenizer.CorrectOffset contract): tokenize
    * the rewritten text, then correct BOTH token offsets back into the
    * original text. Composes: `wrapTokenizer(f, wrapTokenizer(g, tok))`
    * applies f first, exactly like stacked CharFilters. */
  def wrapTokenizer(filter: String => FilteredText,
                    tokenizer: String => Array[RawToken]): String => Array[RawToken] =
    s => {
      val f = filter(s)
      tokenizer(f.text).map(t =>
        t.copy(startOff = f.correct(t.startOff), endOff = f.correct(t.endOff)))
    }
}
