package graft.search

import graft.analysis.Analyzer

/** Fragment highlighter (≙ reference:
  * /root/reference/src/Lucene.Net.Highlighter/Highlight/Highlighter.cs +
  * QueryScorer.cs, re-thought): re-analyze the document, slide a
  * token-window over it, pick the window with the most query-term hits
  * (ties → earliest), and mark the matched terms in the ORIGINAL text
  * using the tokens' stored offsets. Runs per-row inside whatever Spark
  * op carries it (typed map over the hits⨝docs join — highlighters only
  * ever touch the already-retrieved top-k docs, so this is driver-free,
  * shuffle-free decoration work). */
object Highlighter {

  final case class Fragment(text: String, hits: Int)

  def bestFragment(analyzer: Analyzer, content: String, queryTerms: Set[String],
                   windowTokens: Int = 12,
                   preTag: String = "<b>", postTag: String = "</b>"): Option[Fragment] = {
    val toks = analyzer.analyze(content).tokens
    if (toks.isEmpty) return None
    val isHit = toks.map(t => queryTerms.contains(t.term))
    if (!isHit.contains(true)) return None
    // best window by hit count (two-pointer), earliest on ties
    var best = 0
    var bestHits = -1
    var run = 0
    var i = 0
    while (i < toks.length) {
      if (isHit(i)) run += 1
      if (i >= windowTokens && isHit(i - windowTokens)) run -= 1
      val start = math.max(0, i - windowTokens + 1)
      if (i >= windowTokens - 1 || i == toks.length - 1) {
        if (run > bestHits) { bestHits = run; best = start }
      }
      i += 1
    }
    val end = math.min(toks.length - 1, best + windowTokens - 1)
    val fragStart = toks(best).startOff
    val fragEnd = toks(end).endOff
    // overlapping hit tokens (same-position synonyms, sub-word overlap)
    // cannot be marked with flat tags — keep the earliest-starting hit
    // of each overlap group, the SAME dedupe bestFragmentFromOffsets
    // applies, so inserts never produce crossed markup
    val spans = {
      val sorted = (best to end).filter(isHit)
        .map(j => (toks(j).startOff, toks(j).endOff)).sorted
      val keep = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var lastEnd = -1
      sorted.foreach { h => if (h._1 >= lastEnd) { keep += h; lastEnd = h._2 } }
      keep
    }
    // mark hits inside the fragment, back-to-front so offsets stay valid
    val sb = new StringBuilder(content.substring(fragStart, fragEnd))
    spans.reverseIterator.foreach { case (s, e) =>
      sb.insert(e - fragStart, postTag)
      sb.insert(s - fragStart, preTag)
    }
    Some(Fragment(sb.toString, bestHits))
  }

  /** Index-time highlighting (the PostingsHighlighter idea, reference:
    * Lucene.Net.Highlighter/PostingsHighlight/PostingsHighlighter.cs:74):
    * the query terms' (start,end) char offsets come straight from the
    * indexed offsets — NO re-analysis of the stored content. `hitOffsets`
    * is the union of the matched terms' flattened [s,e,…] pairs for one
    * doc; the best window is the char span of width <= windowChars
    * covering the most hits (ties → earliest), hits marked back-to-front.
    * Produces the same markup as [[bestFragment]] when the window
    * contains the same hits (HighlighterSpec proves parity on an
    * offsets-enabled index). */
  def bestFragmentFromOffsets(content: String, hitOffsets: Seq[(Int, Int)],
                              windowChars: Int = 80,
                              preTag: String = "<b>", postTag: String = "</b>"): Option[Fragment] = {
    if (hitOffsets.isEmpty) return None
    // overlapping/nested hits (e.g. an analyzer that keeps the original
    // identifier alongside its sub-words) cannot be marked up with flat
    // tags — keep the earliest-starting hit of each overlap group, so
    // the surviving hits are disjoint and ends are monotone (which the
    // two-pointer window and back-to-front inserts below rely on)
    val sorted = hitOffsets.sorted
    val keep = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var lastEnd = -1
    sorted.foreach { h =>
      if (h._1 >= lastEnd) { keep += h; lastEnd = h._2 }
    }
    val hits = keep.toArray
    // two-pointer: densest run of hits whose char span fits windowChars
    var best = 0
    var bestCount = -1
    var lo = 0
    var hi = 0
    while (hi < hits.length) {
      while (hits(hi)._2 - hits(lo)._1 > windowChars && lo < hi) lo += 1
      val count = hi - lo + 1
      if (count > bestCount) { bestCount = count; best = lo }
      hi += 1
    }
    var end = best
    while (end + 1 < hits.length &&
           hits(end + 1)._2 - hits(best)._1 <= windowChars) end += 1
    val fragStart = hits(best)._1
    val fragEnd = math.min(content.length, hits(end)._2)
    val sb = new StringBuilder(content.substring(fragStart, fragEnd))
    var j = end
    while (j >= best) {
      sb.insert(hits(j)._2 - fragStart, postTag)
      sb.insert(hits(j)._1 - fragStart, preTag)
      j -= 1
    }
    Some(Fragment(sb.toString, end - best + 1))
  }

  /** NullFragmenter semantics (reference:
    * Highlight/NullFragmenter.cs — "the entire text as one fragment"):
    * mark every hit in the FULL content, no windowing. Overlap groups
    * dedupe like the windowed paths. */
  def markAll(content: String, hitOffsets: Seq[(Int, Int)],
              preTag: String = "<b>", postTag: String = "</b>"): String = {
    val sorted = hitOffsets.sorted
    val keep = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var lastEnd = -1
    sorted.foreach { h => if (h._1 >= lastEnd) { keep += h; lastEnd = h._2 } }
    val sb = new StringBuilder(content)
    keep.reverseIterator.foreach { case (s, e) =>
      sb.insert(e, postTag)
      sb.insert(s, preTag)
    }
    sb.toString
  }

  /** OffsetLimitTokenFilter semantics (reference:
    * Highlight/OffsetLimitTokenFilter.cs:30-55): only the first
    * `offsetLimit` chars of the content participate in highlighting —
    * the reference stops the token stream once offsets pass the limit. */
  def bestFragmentLimited(analyzer: Analyzer, content: String,
      queryTerms: Set[String], offsetLimit: Int, windowTokens: Int = 12,
      preTag: String = "<b>", postTag: String = "</b>"): Option[Fragment] =
    bestFragment(analyzer, content.substring(0, math.min(offsetLimit, content.length)),
      queryTerms, windowTokens, preTag, postTag)

  /** Markup encoders + score-gradient formatting (reference:
    * Highlight/SimpleHTMLEncoder.cs, GradientFormatter.cs,
    * SpanGradientFormatter.cs). */
  object Formatters {

    /** SimpleHTMLEncoder.HtmlEncode (:44-80): &, <, >, ", ' escaped —
      * apply to fragment text BEFORE inserting tags when the content may
      * contain markup. */
    def htmlEncode(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 16)
      s.foreach {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case '\'' => sb.append("&#x27;")
        case c => sb.append(c)
      }
      sb.toString
    }

    /** GradientFormatter (:30-200): linear per-channel interpolation
      * between min and max colors by score/maxScore, clamped to [0,1];
      * returns the `<font …>` open tag the reference emits (color and/or
      * background present when their gradient endpoints were given). */
    final case class Gradient(maxScore: Float,
        minForegroundColor: Option[String] = None,
        maxForegroundColor: Option[String] = None,
        minBackgroundColor: Option[String] = None,
        maxBackgroundColor: Option[String] = None) {

      private def channel(hex: String, i: Int): Int =
        Integer.parseInt(hex.stripPrefix("#").substring(i * 2, i * 2 + 2), 16)

      private def interpolate(min: String, max: String, score: Float): String = {
        val f = math.min(1f, math.max(0f, score / maxScore))
        val rgb = (0 until 3).map { i =>
          val v = channel(min, i) + ((channel(max, i) - channel(min, i)) * f).toInt
          f"$v%02x"
        }.mkString
        "#" + rgb
      }

      def foreground(score: Float): Option[String] = for {
        lo <- minForegroundColor; hi <- maxForegroundColor
      } yield interpolate(lo, hi, score)

      def background(score: Float): Option[String] = for {
        lo <- minBackgroundColor; hi <- maxBackgroundColor
      } yield interpolate(lo, hi, score)

      /** The open/close tag pair for one hit at `score`. */
      def tags(score: Float): (String, String) = {
        val fg = foreground(score).map(c => s"""color="$c" """).getOrElse("")
        val bg = background(score).map(c => s"""style="background: $c" """).getOrElse("")
        (s"<font $fg$bg>".replace(" >", ">"), "</font>")
      }
    }
  }

  /** Per-hit scored markup — the GradientFormatter/SpanGradientFormatter
    * application shape: each hit carries its own score and gets its own
    * interpolated tags. */
  def markAllScored(content: String, hits: Seq[(Int, Int, Float)],
      gradient: Formatters.Gradient): String = {
    val sorted = hits.sortBy(h => (h._1, h._2))
    val keep = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Float)]
    var lastEnd = -1
    sorted.foreach { h => if (h._1 >= lastEnd) { keep += h; lastEnd = h._2 } }
    val sb = new StringBuilder(content)
    keep.reverseIterator.foreach { case (s, e, sc) =>
      val (pre, post) = gradient.tags(sc)
      sb.insert(e, post)
      sb.insert(s, pre)
    }
    sb.toString
  }
}
