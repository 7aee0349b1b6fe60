package graft.search

import org.apache.spark.sql.SparkSession

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
  * The primary index supplies collection stats (with the positions/
  * offsets/payloads levels), doc stats (norms/doc lengths of the SCORED
  * text field) and stored fields; term dictionary and postings (blobs
  * included) are plain unions (disjoint term spaces need no
  * re-aggregation), and the
  * driver-held dictionary loads every side, so stats lookups and
  * dictionary seeks cover all parallel term spaces. */
final class ParallelIndexReader(spark: SparkSession, primary: String,
                                secondaries: Seq[String])
    extends IndexReader(spark, primary) {
  private val all = primary +: secondaries

  override protected def postingsDirs: Seq[String] = all

  override protected def termDictDirs: Seq[String] = all

  override def tombstoneDirs: Seq[String] = all
}
