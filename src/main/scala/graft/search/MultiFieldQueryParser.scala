package graft.search

import graft.analysis.Analyzer

/** MultiFieldQueryParser analog (reference:
  * /root/reference/src/Lucene.Net.QueryParser/Classic/
  * MultiFieldQueryParser.cs:51-240): parse one query string against
  * SEVERAL fields and OR the per-field interpretations together, with
  * optional per-field boosts — the reference's GetFieldQuery expansion
  * for unfielded clauses, done here as a whole-query rewrite.
  *
  * Field model: this engine has ONE positioned text field (`content`)
  * plus exact keyword fields indexed as `field:value` dictionary terms.
  * The content interpretation is the classic parse itself; a keyword
  * field's interpretation prefixes every leaf with `field:` —
  * term/prefix/wildcard/fuzzy/range leaves keep their shape (the constant
  * prefix adds no fuzzy edits; ranges bound within the field's dictionary
  * slice), regex leaves get the quoted prefix pattern, and a PHRASE on a
  * keyword field becomes the exact value term (KeywordAnalyzer semantics:
  * quoted text is one untokenized value).
  *
  * The static `Parse(queries[], fields[])` / `Parse(query, fields[],
  * flags[])` companions (:167-240) are [[parseEach]] / [[parseWithFlags]].
  */
final class MultiFieldQueryParser(
    fields: Seq[String],
    analyzer: Analyzer = Analyzer.standard,
    boosts: Map[String, Float] = Map.empty,
    keywordFields: Set[String] = Set("repo", "path", "commit", "lang"),
    contentField: String = "content") {

  private val qp = new QueryParser(analyzer, keywordFields)

  /** Parse with every unfielded clause expanded across `fields`. */
  def parse(query: String): Query = {
    val parsed = qp.parse(query)
    val perField = fields.flatMap { f =>
      val q =
        if (f == contentField) Some(parsed)
        else MultiFieldQueryParser.prefixField(parsed, f)
      q.map(boost(_, f))
    }
    perField match {
      case Seq(one) => one
      case many => BoolQ(Nil, many, Nil)
    }
  }

  private def boost(q: Query, f: String): Query =
    boosts.get(f).fold(q)(b => MultiFieldQueryParser.scale(q, b))
}

object MultiFieldQueryParser {

  /** Parse(queries[], fields[]): one query text PER field, OR'd —
    * queries.length must equal fields.length. */
  def parseEach(queries: Seq[String], fields: Seq[String],
      analyzer: Analyzer = Analyzer.standard,
      keywordFields: Set[String] = Set("repo", "path", "commit", "lang"),
      contentField: String = "content"): Query = {
    require(queries.length == fields.length, "queries.length != fields.length")
    val qp = new QueryParser(analyzer, keywordFields)
    val clauses = queries.zip(fields).flatMap { case (text, f) =>
      val parsed = qp.parse(text)
      if (f == contentField) Some(parsed) else prefixField(parsed, f)
    }
    clauses match {
      case Seq(one) => one
      case many => BoolQ(Nil, many, Nil)
    }
  }

  /** Parse(query, fields[], flags[]): one query text, each field's
    * interpretation added with its own occur flag ('+' must, '-' mustNot,
    * ' ' should). */
  def parseWithFlags(query: String, fields: Seq[String], flags: Seq[Char],
      analyzer: Analyzer = Analyzer.standard,
      keywordFields: Set[String] = Set("repo", "path", "commit", "lang"),
      contentField: String = "content"): Query = {
    require(fields.length == flags.length, "fields.length != flags.length")
    val qp = new QueryParser(analyzer, keywordFields)
    val parsed = qp.parse(query)
    val must = Seq.newBuilder[Query]
    val should = Seq.newBuilder[Query]
    val mustNot = Seq.newBuilder[Query]
    fields.zip(flags).foreach { case (f, flag) =>
      val q = if (f == contentField) Some(parsed) else prefixField(parsed, f)
      q.foreach { qq =>
        flag match {
          case '+' => must += qq
          case '-' => mustNot += qq
          case _ => should += qq
        }
      }
    }
    BoolQ(must.result(), should.result(), mustNot.result())
  }

  /** Rewrite a parsed content query into keyword-field `f`: leaves get
    * the `f:` term prefix; shapes a keyword field can't express
    * (spans, function wrappers) are dropped (None). */
  private[search] def prefixField(q: Query, f: String): Option[Query] = q match {
    case TermQ(t, b) => Some(TermQ(s"$f:$t", b))
    case PrefixQ(p, b) => Some(PrefixQ(s"$f:$p", b))
    case WildcardQ(p, b) => Some(WildcardQ(s"$f:$p", b))
    case RegexpQ(r, b) =>
      // literal "f:" head + non-capturing group: the group keeps a
      // top-level alternation in `r` from escaping the prefix, and the
      // PLAIN literal head (no \Q quoting) stays visible to
      // DictSeek.regexpPrefix so the rewritten query still seeks the
      // field's dictionary slice
      Some(RegexpQ(f + ":(?:" + r + ")", b))
    case FuzzyQ(t, e, b) => Some(FuzzyQ(s"$f:$t", e, b))
    case TermRangeQ(lo, hi, il, ih, b) =>
      Some(TermRangeQ(if (lo == null) f + ":" else s"$f:$lo",
        // null upper bound closes at the end of the field's dictionary
        // slice (":" + 1 = ";" prefix), not the global dictionary
        if (hi == null) f + ";" else s"$f:$hi",
        il, if (hi == null) false else ih, b))
    case PhraseQ(terms, _, b, raw) =>
      // KeywordAnalyzer semantics: the EXACT quoted text is the keyword
      // value. `raw` carries it through the parse untouched; analyzed
      // terms (lowercased/stopped/stemmed) are only a fallback for
      // hand-built PhraseQ nodes that never had a raw form.
      Some(TermQ(s"$f:${raw.getOrElse(terms.mkString(" "))}", b))
    case BoolQ(must, should, mustNot, msm, b) =>
      // A MUST or MUST_NOT clause the keyword field can't express must
      // fail the WHOLE per-field interpretation: dropping a required
      // clause or an exclusion would broaden the field's branch past the
      // original semantics. Dropping a SHOULD only narrows or keeps it.
      val m = must.map(prefixField(_, f))
      val n = mustNot.map(prefixField(_, f))
      if (m.exists(_.isEmpty) || n.exists(_.isEmpty)) None
      else {
        val s = should.flatMap(prefixField(_, f))
        val mm = m.flatten
        val nn = n.flatten
        if (mm.isEmpty && s.isEmpty && nn.isEmpty) None
        else Some(BoolQ(mm, s, nn, msm, b))
      }
    case ConstantScoreQ(sub, b) => prefixField(sub, f).map(ConstantScoreQ(_, b))
    case DisMaxQ(qs, tb) =>
      val sub = qs.flatMap(prefixField(_, f))
      if (sub.isEmpty) None else Some(DisMaxQ(sub, tb))
    case _ => None
  }

  private[search] def scale(q: Query, b: Float): Query = q match {
    case t: TermQ => t.copy(boost = t.boost * b)
    case t: PrefixQ => t.copy(boost = t.boost * b)
    case t: WildcardQ => t.copy(boost = t.boost * b)
    case t: RegexpQ => t.copy(boost = t.boost * b)
    case t: FuzzyQ => t.copy(boost = t.boost * b)
    case t: TermRangeQ => t.copy(boost = t.boost * b)
    case t: PhraseQ => t.copy(boost = t.boost * b)
    case t: MatchAllQ => t.copy(boost = t.boost * b)
    case t: ConstantScoreQ => t.copy(boost = t.boost * b)
    case t: BoolQ => t.copy(boost = t.boost * b)
    case other => other
  }
}
