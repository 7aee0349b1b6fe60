package graft.search

/** Score explanation tree (reference: Lucene.Net Search/Explanation.cs +
  * the per-query Explain implementations; the CheckHits contract —
  * TestFramework/Search/CheckHits.cs:44 — requires the explanation value
  * to recompute the hit's score, which here is exact, not 1e-3).
  * `matched` says whether the doc is a hit of the explained query (≙
  * ComplexExplanation's match flag): a hit may score 0. */
final case class Explanation(value: Float, description: String,
    details: Seq[Explanation] = Nil, matched: Boolean = true) {
  /** The explained node's [[ScoreTree]] result. */
  def hit: Option[Float] = if (matched) Some(value) else None

  def format(indent: Int = 0): String = {
    val self = f"${"  " * indent}$value%.7f = $description"
    (self +: details.map(_.format(indent + 1))).mkString("\n")
  }
}

object Explanation {
  /** A doc that is not a hit: value 0. */
  def noMatch(description: String, details: Seq[Explanation] = Nil): Explanation =
    Explanation(0f, description, details, matched = false)
}

/** Explain support for the Searcher: recomputes one doc's score from the
  * index tables with the breakdown a human (or CheckHits) can audit. The
  * composite nodes' values come from the [[ScoreTree]] node functions
  * the Dataset scorer runs. */
trait Explains { self: Searcher =>
  import graft.bm25.BM25
  import org.apache.spark.sql.functions.col

  def explain(q: Query, docId: Long): Explanation = rewrite(q) match {
    case TermQ(t, boost) => explainTerm(t, boost, docId)
    case MatchAllQ(boost) => Explanation(boost, "MatchAllDocsQuery, score = boost")
    case ConstantScoreQ(sub, boost) =>
      val m = explain(sub, docId)
      ScoreTree.constant(m.hit, boost).fold(Explanation.noMatch(s"ConstantScore(boost=$boost)", Seq(m)))(
        Explanation(_, s"ConstantScore(boost=$boost)", Seq(m)))
    case DisMaxQ(qs, tb) =>
      val ds = qs.map(explain(_, docId))
      ScoreTree.disMax(ds.map(_.hit).toIndexedSeq, tb).fold(Explanation.noMatch("no matching clause"))(
        Explanation(_, s"max plus $tb times others", ds.filter(_.matched)))
    case FunctionScoreQ(sub, expr) =>
      val m = explain(sub, docId)
      if (!m.matched) Explanation.noMatch("no match for function-score sub-query", Seq(m))
      else {
        val len = reader.docstats.where(col("docId") === docId) // the exact token count
          .select(col("tokenCount").cast("float")).head().getFloat(0)
        Explanation(ScoreTree.function(m.hit, expr, Some(len)).get,
          s"FunctionScore($expr) over subScore=${m.value}, docLen=$len", Seq(m))
      }
    case BoostingQ(pos, ctx, b) =>
      val m = explain(pos, docId)
      val c = explain(ctx, docId)
      ScoreTree.boosting(m.hit, c.matched, b) match {
        case None => Explanation.noMatch("no match for boosting positive query", Seq(m))
        case Some(v) if c.matched => Explanation(v, s"Boosting: context matched, × $b", Seq(m, c))
        case Some(v) => Explanation(v, "Boosting: context not matched", Seq(m))
      }
    case bq: BoolQ => explainBool(bq, docId)
    case PhraseQ(terms, slop, boost, _) => explain(MultiPhraseQ(terms.map(Seq(_)), slop, boost), docId)
    case MultiPhraseQ(slots, slop, boost) =>
      multiPhraseFreqs(slots, slop).filter(_._1 == docId).collect().headOption match {
        case Some((_, f, norm)) =>
          val flat = slots.flatten
          val stats = reader.termStats(flat.distinct)
          val idfs = flat.map(t =>
            BM25.idf(stats.get(t).map(_.df).getOrElse(0L), reader.collectionStats.maxDoc))
          val w = BM25.weightValue(idfs.sum, boost)
          Explanation(BM25.score(f, norm.toByte, w, defaultSimilarity.cache),
            s"phraseFreq=$f, weight(idfSum=${idfs.sum})",
            flat.zip(idfs).map { case (t, i) => Explanation(i, s"idf(term=$t)") })
        case None => Explanation.noMatch(
          s"no phrase match for ${slots.map(_.mkString("|")).mkString(" ")}")
      }
    case other => Explanation.noMatch(s"explain unsupported for $other")
  }

  private def explainTerm(t: String, boost: Float, docId: Long): Explanation = {
    val stats = reader.termStats(Seq(t))
    if (!stats.contains(t)) return Explanation.noMatch(s"term '$t' not in index")
    reader.docPostings(docId, Seq(t)).collect().headOption match {
      case None => Explanation.noMatch(s"doc $docId has no occurrences of '$t'")
      case Some(p) =>
        val maxDoc = reader.collectionStats.maxDoc
        val idf = BM25.idf(stats(t).df, maxDoc)
        val w = BM25.weightValue(idf, boost)
        val cache = defaultSimilarity.cache
        val score = BM25.score(p.tf.toFloat, p.norm.toByte, w, cache)
        Explanation(score,
          s"score(doc=$docId, term=$t), BM25 k1=${BM25.K1} b=${BM25.B}",
          Seq(
            Explanation(idf, s"idf(df=${stats(t).df}, maxDoc=$maxDoc)"),
            Explanation(p.tf.toFloat, "tf"),
            Explanation(cache(p.norm & 0xff), s"lengthNormCache[normByte=${p.norm}]"),
            Explanation(boost, "boost")))
    }
  }

  private def explainBool(q: BoolQ, docId: Long): Explanation = {
    val ds = (q.must ++ q.should).map(explain(_, docId))
    val hits = ds.map(_.hit).toIndexedSeq
    val nMust = q.must.size
    val excluded = q.mustNot.exists(explain(_, docId).matched)
    ScoreTree.bool(hits, nMust, q.minShouldMatch, excluded, q.boost, defaultSimilarity) match {
      case Some(v) => Explanation(v, s"sum of clause scores, boost=${q.boost}", ds)
      case None =>
        val msm = ScoreTree.minShould(nMust, q.minShouldMatch)
        val shouldMatched = hits.drop(nMust).count(_.isDefined)
        Explanation.noMatch(
          if (!hits.take(nMust).forall(_.isDefined)) "failure to match a MUST clause"
          else if (shouldMatched < msm) s"only $shouldMatched of minShouldMatch=$msm SHOULD clauses"
          else "matched a MUST_NOT clause", ds)
    }
  }
}
