package graft.search

import org.apache.spark.sql.functions._

/** The named value-source catalog (reference:
  * Queries/Function/ValueSources/ — 45 classes). Re-expressed Spark-first
  * as [[ScoreExpr]] constructors over the engine's two per-doc sources
  * (sub-query score, exact docstats length) plus the index statistics:
  *
  *   - Pure arithmetic wrappers (ProductFloatFunction, SumFloatFunction,
  *     DivFloatFunction, PowFloatFunction, LinearFloatFunction,
  *     ReciprocalFloatFunction, RangeMapFloatFunction, Max/MinFloatFunction,
  *     ConstValueSource) ARE the ScoreExpr ADT nodes — Mul/Add/Div/Pow/
  *     Linear/Reciprocal/RangeMap/MaxOf/MinOf/Const.
  *   - Index-statistic sources (IDFValueSource.cs, DocFreqValueSource.cs,
  *     MaxDocValueSource.cs, NumDocsValueSource.cs,
  *     TotalTermFreqValueSource.cs, SumTotalTermFreqValueSource.cs) are
  *     CONSTANT per index generation — the reference re-reads them per
  *     doc through FunctionValues; here they fold into `Const` at query
  *     build from one dictionary/stats lookup. That folding is the
  *     Spark-first statement: a per-doc virtual column that never varies
  *     per doc belongs in the plan as a literal, where codegen constant-
  *     folds it.
  *   - ScaleFloatFunction.cs (scale the source into [min, max] using its
  *     GLOBAL extrema) needs one corpus aggregate for the extrema, then
  *     resolves to `Linear`. Provided over the doc-length source — the
  *     one per-doc stored numeric the engine scores with; the aggregate
  *     is stats-sized (two doubles to the driver).
  *   - QueryValueSource.cs ≙ FunctionScoreQ/BoostingQ themselves;
  *     OrdFieldSource.cs ≙ a DenseIds dictionary join (the same
  *     range-partitioned ordinal build as term ids — see
  *     graft.build.DenseIds), exposed on the pipeline side. */
object ValueSources {
  import ScoreExpr._

  /** IDFValueSource.cs:63 — ln(maxDoc / (df + 1)) + 1 (the classic
    * TF-IDF idf), folded to a Const from one dictionary seek. Absent
    * term → df 0. */
  def idf(reader: IndexReader, term: String): ScoreExpr = {
    val df = reader.termStats(Seq(term)).get(term).map(_.df).getOrElse(0L)
    Const((math.log(reader.collectionStats.maxDoc.toDouble / (df + 1.0)) + 1.0).toFloat)
  }

  /** DocFreqValueSource.cs — df(term) as a constant source. */
  def docFreq(reader: IndexReader, term: String): ScoreExpr =
    Const(reader.termStats(Seq(term)).get(term).map(_.df).getOrElse(0L).toFloat)

  /** TotalTermFreqValueSource.cs — ttf(term). */
  def totalTermFreq(reader: IndexReader, term: String): ScoreExpr =
    Const(reader.termStats(Seq(term)).get(term).map(_.totalTf).getOrElse(0L).toFloat)

  /** MaxDocValueSource.cs / NumDocsValueSource.cs /
    * SumTotalTermFreqValueSource.cs — collection-stats constants. */
  def maxDoc(reader: IndexReader): ScoreExpr =
    Const(reader.collectionStats.maxDoc.toFloat)

  /** NumDocsValueSource.cs:43 returns reader.NumDocs — LIVE docs, i.e.
    * maxDoc minus deletions — not the build-time docCount constant
    * (same convention as AutoStopwords.stopWordsPercent). */
  def numDocs(reader: IndexReader): ScoreExpr =
    Const(reader.numDocs.toFloat)
  def sumTotalTermFreq(reader: IndexReader): ScoreExpr =
    Const(reader.collectionStats.sumTotalTermFreq.toFloat)

  /** OrdFieldSource.cs / ReverseOrdFieldSource.cs — the ordinal of a
    * doc's field value within the index's sorted distinct values, the one
    * ValueSource family member that genuinely varies per doc AND needs a
    * global structure. The reference reads it off the per-segment
    * SortedDocValues ords; here the ordinal dictionary is built exactly
    * like docIds and term ids — [[graft.build.DenseIds]]: range-partition
    * + in-partition sort + offset rebase, value-identical to
    * `dense_rank() OVER (ORDER BY value)` with NO single-partition window
    * and no driver collect of the values. Returns (field, ord) with ord
    * dense from 1; reverse ord = (numOrds + 1 − ord), numOrds being a
    * dictionary-sized count. */
  def ordinals(reader: IndexReader, field: String): org.apache.spark.sql.DataFrame =
    graft.build.DenseIds.assign(
      reader.docstats.select(col(field)), field, "ord")

  /** ScaleFloatFunction.cs:49-76 over the doc-length source: map dl into
    * [targetMin, targetMax] using the corpus-global min/max doc length
    * (their ScaleInfo, computed once per reader there, one stats-sized
    * aggregate here), resolved to the equivalent `Linear` node. A
    * degenerate corpus (all lengths equal) maps every doc to targetMin,
    * matching the reference's 0/1-range guard. */
  def scaleDocLen(reader: IndexReader, targetMin: Float, targetMax: Float): ScoreExpr = {
    val r = reader.docstats.agg(
      min(col("tokenCount").cast("double")), max(col("tokenCount").cast("double"))).head()
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    if (hi <= lo) Const(targetMin)
    else {
      val slope = (targetMax - targetMin) / (hi - lo)
      Linear(DocLen, slope.toFloat, (targetMin - lo * slope).toFloat)
    }
  }
}
