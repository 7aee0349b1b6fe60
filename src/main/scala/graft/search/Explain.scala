package graft.search

/** Score explanation tree (reference: Lucene.Net Search/Explanation.cs +
  * the per-query Explain implementations; the CheckHits contract —
  * TestFramework/Search/CheckHits.cs:44 — requires the explanation value
  * to recompute the hit's score, which here is exact, not 1e-3). */
final case class Explanation(value: Float, description: String,
    details: Seq[Explanation] = Nil) {
  def format(indent: Int = 0): String = {
    val self = f"${"  " * indent}$value%.7f = $description"
    (self +: details.map(_.format(indent + 1))).mkString("\n")
  }
}

/** Explain support for the Searcher: recomputes one doc's score from the
  * index tables with the breakdown a human (or CheckHits) can audit. */
trait Explains { self: Searcher =>
  import graft.bm25.BM25

  def explain(q: Query, docId: Long): Explanation = rewrite(q) match {
    case TermQ(t, boost) => explainTerm(t, boost, docId)
    case MatchAllQ(boost) => Explanation(boost, "MatchAllDocsQuery, score = boost")
    case ConstantScoreQ(sub, boost) =>
      val m = explain(rewrite(sub), docId)
      Explanation(if (m.value > 0) boost else 0f, s"ConstantScore(boost=$boost)", Seq(m))
    case DisMaxQ(qs, tb) =>
      val ds = qs.map(sq => explain(sq, docId)).filter(_.value > 0)
      if (ds.isEmpty) Explanation(0f, "no matching clause")
      else {
        val mx = ds.map(_.value).max
        val sum = ds.map(_.value).sum
        Explanation(mx + tb * (sum - mx), s"max plus $tb times others", ds)
      }
    case FunctionScoreQ(sub, expr) =>
      val m = explain(sub, docId)
      if (m.value <= 0f) Explanation(0f, "no match for function-score sub-query", Seq(m))
      else {
        val len = docLenOf(docId)
        Explanation(ScoreExpr.eval(expr, m.value, len),
          s"FunctionScore($expr) over subScore=${m.value}, docLen=$len", Seq(m))
      }
    case BoostingQ(pos, ctx, b) =>
      val m = explain(pos, docId)
      val c = explain(ctx, docId)
      if (m.value <= 0f) Explanation(0f, "no match for boosting positive query", Seq(m))
      else if (c.value > 0f)
        Explanation(m.value * b, s"Boosting: context matched, × $b", Seq(m, c))
      else Explanation(m.value, "Boosting: context not matched", Seq(m))
    case bq: BoolQ => explainBool(bq, docId)
    case PhraseQ(terms, slop, boost, _) =>
      phraseFreqs(terms, slop).filter(_._1 == docId).collect().headOption match {
        case None => Explanation(0f, s"no phrase match for ${terms.mkString(" ")}")
        case Some((_, freq, norm)) =>
          val stats = readerTermStats(terms.distinct)
          val idfs = terms.map(t => BM25.idf(stats(t).df, maxDocStat))
          val w = BM25.weightValue(idfs.sum, boost)
          Explanation(BM25.score(freq, norm.toByte, w, normCacheStat),
            s"phraseFreq=$freq, weight(idfSum=${idfs.sum})",
            terms.zip(idfs).map { case (t, i) => Explanation(i, s"idf(term=$t)") })
      }
    case MultiPhraseQ(slots, slop, boost) =>
      multiPhraseFreqs(slots, slop).filter(_._1 == docId).collect().headOption match {
        case Some((_, f, norm)) =>
          val flat = slots.flatten
          val stats = readerTermStats(flat.distinct)
          val idfs = flat.map(t =>
            BM25.idf(stats.get(t).map(_.df).getOrElse(0L), maxDocStat))
          val w = BM25.weightValue(idfs.sum, boost)
          Explanation(BM25.score(f, norm.toByte, w, normCacheStat),
            s"multiPhraseFreq=$f, weight(idfSum=${idfs.sum})",
            flat.zip(idfs).map { case (t, i) => Explanation(i, s"idf(term=$t)") })
        case None => Explanation(0f,
          s"no multi-phrase match for ${slots.map(_.mkString("|")).mkString(" ")}")
      }
    case other => Explanation(0f, s"explain unsupported for $other")
  }

  private def explainTerm(t: String, boost: Float, docId: Long): Explanation = {
    val stats = readerTermStats(Seq(t))
    if (!stats.contains(t)) return Explanation(0f, s"term '$t' not in index")
    val hit = termHit(t, docId)
    hit match {
      case None => Explanation(0f, s"doc $docId has no occurrences of '$t'")
      case Some((tf, norm)) =>
        val idf = BM25.idf(stats(t).df, maxDocStat)
        val w = BM25.weightValue(idf, boost)
        val score = BM25.score(tf.toFloat, norm.toByte, w, normCacheStat)
        Explanation(score,
          s"score(doc=$docId, term=$t), BM25 k1=${BM25.K1} b=${BM25.B}",
          Seq(
            Explanation(idf, s"idf(df=${stats(t).df}, maxDoc=$maxDocStat)"),
            Explanation(tf.toFloat, "tf"),
            Explanation(normCacheStat(norm & 0xff), s"lengthNormCache[normByte=$norm]"),
            Explanation(boost, "boost")))
    }
  }

  private def explainBool(q: BoolQ, docId: Long): Explanation = {
    val scoring = q.must ++ q.should
    val nMust = q.must.size
    val ds = scoring.map(sq => explain(rewrite(sq), docId))
    val mustOk = ds.take(nMust).forall(_.value > 0)
    val shouldMatched = ds.drop(nMust).count(_.value > 0)
    val msm = math.max(q.minShouldMatch, if (nMust == 0) 1 else 0)
    val excluded = q.mustNot.exists(mq => explain(rewrite(mq), docId).value > 0)
    if (!mustOk) Explanation(0f, "failure to match a MUST clause", ds)
    else if (shouldMatched < msm)
      Explanation(0f, s"only $shouldMatched of minShouldMatch=$msm SHOULD clauses", ds)
    else if (excluded) Explanation(0f, "matched a MUST_NOT clause", ds)
    else {
      var sum = 0f
      ds.foreach(d => if (d.value > 0) sum += d.value) // clause-order float sum
      Explanation(sum * q.boost, s"sum of clause scores, boost=${q.boost}", ds)
    }
  }
}
