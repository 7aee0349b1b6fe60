package graft.search

import graft.analysis.Analyzer
import graft.build.IndexPaths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** QueryAutoStopWordAnalyzer analog (reference:
  * /root/reference/src/Lucene.Net.Analysis.Common/Analysis/Query/
  * QueryAutoStopWordAnalyzer.cs): derive a stop set from the INDEX's own
  * document frequencies — terms with df STRICTLY above `maxDocFreq`
  * (:70-75), or above `(int)(maxPercentDocs * numDocs)` for the
  * percentage form (:86-91, default 0.4) — and wrap the delegate
  * analyzer so query-time analysis drops them. The df scan is a pruned
  * dictionary read; the collected set is stats-sized (the reference
  * walks TermsEnum on the same reader). */
object AutoStopwords {

  val DefaultMaxDocFreqPercent = 0.4f

  def stopWords(spark: SparkSession, dir: String, maxDocFreq: Long): Set[String] = {
    import spark.implicits._
    spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("df") > maxDocFreq)
      .select($"term").as[String].collect().toSet
  }

  def stopWordsPercent(spark: SparkSession, dir: String,
                       maxPercentDocs: Float = DefaultMaxDocFreqPercent): Set[String] = {
    // the reference thresholds on reader.NumDocs — LIVE docs, deletes
    // excluded (:86-91) — and multiplies in float32 ((int)(float * int))
    val numDocs = new IndexReader(spark, dir).numDocs
    stopWords(spark, dir, (maxPercentDocs * numDocs).toInt.toLong)
  }

  /** The wrapped analyzer: the reference composes a StopFilter around the
    * END of the delegate's chain (:150-170) — AFTER any stemming — and
    * the derived stop terms are post-stem index terms, so the filter must
    * run on the delegate's OUTPUT tokens, not inside its pre-stem stop
    * slot. Survivors keep their original positions (StopFilter's
    * position-increment gaps); length/numOverlap recount what an inverter
    * downstream of the trailing filter would see. */
  def analyzer(delegate: Analyzer, auto: Set[String]): AutoStopAnalyzer =
    AutoStopAnalyzer(delegate, auto)
}

final case class AutoStopAnalyzer(delegate: Analyzer, auto: Set[String])
    extends Serializable {
  def analyze(text: String): graft.analysis.AnalyzedDoc = {
    val d = delegate.analyze(text)
    if (auto.isEmpty) return d
    val kept = d.tokens.filterNot(t => auto.contains(t.term))
    val distinctPositions = kept.iterator.map(_.position).toSet.size
    graft.analysis.AnalyzedDoc(kept, kept.length, kept.length - distinctPositions)
  }
  def analyzeTerms(text: String): Array[String] = analyze(text).tokens.map(_.term)
}
