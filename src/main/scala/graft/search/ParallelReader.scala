package graft.search

import graft.build.IndexPaths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ParallelAtomicReader analog (reference:
  * /root/reference/src/Lucene.Net/Index/ParallelAtomicReader.cs): N
  * indexes built over the SAME documents (identical docIds) but
  * DISJOINT fields read as one index — the reference's "add fields
  * without re-indexing" tool, and the 100 TB story here: bolting a new
  * keyword/metadata field onto a petabyte text index is a small
  * secondary build, never a rebuild.
  *
  * Contract (the reference's, :30-42): every parallel index holds the
  * same documents in the same order; fields (here: term spaces — the
  * text terms live in the primary, `field:`-prefixed keyword terms in
  * secondaries) are disjoint; deletions must be kept in sync — enforced
  * softly by unioning tombstones, so a delete on ANY side hides the doc
  * everywhere (the safe direction).
  *
  * The primary index supplies collection stats, doc stats (norms/doc
  * lengths of the SCORED text field), stored fields and the
  * positions/offsets/payloads sidecars; term dictionary and postings are
  * plain unions (disjoint term spaces need no re-aggregation); the
  * first-chars alphabet sidecar unions so dictionary seeks prune
  * correctly across all parallel term spaces. */
final class ParallelIndexReader(spark: SparkSession, primary: String,
                                secondaries: Seq[String])
    extends IndexReader(spark, primary) {
  private val all = primary +: secondaries
  private def unionOf(f: String => String): DataFrame =
    all.map(d => spark.read.parquet(f(d))).reduce(_ unionByName _)

  @transient override lazy val postings: DataFrame = unionOf(IndexPaths.postings)
  @transient override lazy val termDict: DataFrame = unionOf(IndexPaths.termDict)

  override lazy val termFirstChars: Seq[Char] = firstCharsAcross(all)

  // leading-wildcard seeks must expand through EVERY parallel term
  // space: available only when all sides carry the reversed-dict
  // sidecar (else fall back to scanning the unioned dictionary — a
  // primary-only expansion would silently miss secondary keyword terms)
  override lazy val hasReversedDict: Boolean =
    allHave(all, IndexPaths.termDictRev)
  @transient override lazy val termDictRev: DataFrame = unionOf(IndexPaths.termDictRev)

  override def tombstoneDirs: Seq[String] = all
}
