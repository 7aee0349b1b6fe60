package graft.search

import graft.analysis.Analyzer

/** FuzzyLikeThisQuery (reference: /root/reference/src/Lucene.Net.Sandbox/
  * Queries/FuzzyLikeThisQuery.cs): "fuzzy MoreLikeThis" — analyze free
  * text, fuzzy-expand EACH resulting term against the dictionary, score
  * the variant union. [[rewrittenQuery]] is the reference-faithful
  * construction (FuzzyLikeThisQuery.cs:230-300): per source term the top
  * `maxVariantsPerTerm` variants by fuzzy similarity, each rescored
  * `sim² × idf(df, numDocs)` with df = the SOURCE term's df (avg variant
  * df when the source is absent — their `avgDf` fallback), a GLOBAL
  * `maxNumTerms` queue across all source terms, and the survivors
  * grouped per source term into a disjunction of boosted term clauses.
  * [[query]] is the cap-free composition shortcut: one FuzzyQ per term,
  * whose TOP_TERMS(50) banded-seek rewrite caps per term but applies no
  * global cap and no idf rescore — matching the doc-SET the oracle gate
  * checks, documented as such. */
object FuzzyLikeThis {

  /** Build the query: one fuzzy clause per distinct analyzed term (the
    * per-term TOP_TERMS cap happens in the FuzzyQ rewrite; no global
    * maxNumTerms, no idf rescore — see [[rewrittenQuery]]). */
  def query(text: String, analyzer: Analyzer, maxEdits: Int = 1): Query =
    BoolQ(should =
      analyzer.analyzeTerms(text).distinct.toSeq.map(t => FuzzyQ(t, maxEdits)))

  /** The reference construction, pre-rewritten against the dictionary.
    * Variant similarity = 1 − editDist/min(|source|,|variant|) (the
    * FuzzyTermsEnum boost); each surviving variant becomes a TermQ whose
    * boost is `sim² × (ln(numDocs/(df+1)) + 1)`; the variants are the
    * source term's fuzzy matches in the reader's driver-held dictionary,
    * so the expansion runs no Spark job. */
  def rewrittenQuery(reader: IndexReader, text: String, analyzer: Analyzer,
      maxEdits: Int = 1, maxNumTerms: Int = 50,
      maxVariantsPerTerm: Int = 50): Query = {
    val numDocs = reader.collectionStats.maxDoc
    val source = analyzer.analyzeTerms(text).distinct.toSeq
    final case class Variant(src: String, term: String, df: Long, sim: Double)
    // ranked sim desc, df desc, term
    val bySimThenDf: Ordering[Variant] = Ordering.by((v: Variant) => (v.sim, v.df, v.term))(
      Ordering.Tuple3(Ordering.Double.TotalOrdering.reverse, Ordering.Long.reverse,
        TermDictionary.Order))
    val variants: Seq[Variant] = source.flatMap { t =>
      reader.fuzzyTerms(t, maxEdits).map { case (r, d) =>
        val len = math.min(r.term.codePointCount(0, r.term.length), t.length)
        Variant(t, r.term, r.df, 1.0 - d.toDouble / len)
      }.sorted(bySimThenDf).take(maxVariantsPerTerm)
    }
    // df for the idf factor: the source term's own df, else the avg
    // variant df (FuzzyLikeThisQuery.cs:245-250, integer division as there)
    val bySrc = variants.groupBy(_.src)
    val scored = variants.map { v =>
      val group = bySrc(v.src)
      val srcDf = group.find(_.term == v.src).map(_.df)
        .getOrElse(group.map(_.df).sum / group.size)
      val idf = math.log(numDocs.toDouble / (srcDf + 1.0)) + 1.0
      (v, v.sim * v.sim * idf)
    }
    // global top maxNumTerms across all source terms (their one `q` queue)
    val kept = scored.sortBy { case (v, s) => (-s, v.term) }.take(maxNumTerms)
    val groups = kept.groupBy(_._1.src).toSeq.sortBy(_._1).map { case (_, vs) =>
      BoolQ(should = vs.sortBy(_._1.term).map { case (v, s) =>
        TermQ(v.term, s.toFloat)
      })
    }
    BoolQ(should = groups)
  }
}
