package graft.build

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import scala.reflect.runtime.universe.TypeTag

/** Schemas of the index tables (SURVEY.md §7 step 3).
  * An index directory contains:
  *   flush/kind=d/      stored fields (≙ the reference's compressed row
  *                      store, Codecs/Compressing), partition-local ids
  *   flush/kind=t/      raw per-partition posting blocks (pre-merge)
  *   docs_offsets/      per-partition docId offsets (local → global)
  *   docs/              only in REWRITTEN indexes (expunge/compact):
  *                      docId-materialized stored fields
  *   docstats/          per-doc stats sidecar (norm byte ≙ .nvd/.nvm)
  *   postings/          term-sorted posting blocks (≙ .doc, Lucene41)
  *   term_dict/         per-term stats (≙ BlockTree .tim/.tip)
  *   collection_stats/  one row (≙ per-segment FieldInfos/stats)
  *   manifest/          per-stage, per-partition lineage rows (≙ segments_N,
  *                      reference: Index/SegmentInfos.cs:49-69)
  */
final case class DocRow(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    sha256: String)

final case class DocStatRow(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    sha256: String,
    tokenCount: Int, // BM25 doc length (post-stop tokens, = Length - NumOverlap)
    norm: Int)       // unsigned byte315(1/sqrt(tokenCount)), 0..255

final case class PostingRow(
    term: String,
    firstDocId: Long,
    lastDocId: Long,
    numDocs: Int,
    maxTf: Int,
    maxNorm: Int, // unsigned; cache[maxNorm] = min cache entry in block
    sumTf: Long,
    segId: Int,   // build partition that produced the block (lineage)
    bytes: Array[Byte])

object PostingRow {
  /** The postings table's columns in [[PostingRow]] field order — the one
    * projection every typed postings scan selects before `.as[PostingRow]`. */
  val columns: Seq[org.apache.spark.sql.Column] =
    Seq("term", "firstDocId", "lastDocId", "numDocs", "maxTf", "maxNorm",
      "sumTf", "segId", "bytes").map(org.apache.spark.sql.functions.col)
}

/** Union row emitted by the single fused sort+tokenize pass (segment
  * flush): kind 't' carries a posting block, kind 'd' a stored doc (full
  * content — the flush table's d-partition IS the stored-fields table)
  * plus its stats. Written once, partitioned by kind. docId and block
  * doc bounds are partition-LOCAL ordinals; the global doc space is
  * `offset(segId) + local` via the docs_offsets table. */
final case class FlushRow(
    kind: String,
    term: String,
    firstDocId: Long,
    lastDocId: Long,
    numDocs: Int,
    maxTf: Int,
    maxNorm: Int,
    sumTf: Long,
    segId: Int,
    bytes: Array[Byte],
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    sha256: String,
    tokenCount: Int,
    norm: Int)

/** One positions block (DOCS_AND_FREQS_AND_POSITIONS payload, opt-in):
  * aligned 1:1 with the posting block of the same (term, firstDocId);
  * bytes = per-posting VInt(count) + delta-coded positions. */
final case class PositionsRow(
    term: String,
    firstDocId: Long,
    lastDocId: Long,
    numDocs: Int,
    segId: Int,
    bytes: Array[Byte])

final case class TermDictRow(
    term: String,
    df: Long,
    totalTf: Long,
    maxTf: Int,
    maxNorm: Int) // term-level score upper-bound inputs for WAND

object TermDictRow {
  /** One term's stats over two disjoint doc spaces (generations): df and
    * totalTf add, the WAND bounds take the max — the MultiFields.Terms
    * merge. */
  def merge(a: TermDictRow, b: TermDictRow): TermDictRow =
    TermDictRow(a.term, a.df + b.df, a.totalTf + b.totalTf,
      math.max(a.maxTf, b.maxTf), math.max(a.maxNorm, b.maxNorm))
}

final case class CollectionStatsRow(
    maxDoc: Long,
    docCount: Long,
    sumTotalTermFreq: Long,
    sumDocFreq: Long)

final case class ManifestRow(
    stage: String,
    partitionId: Int,
    termMin: String,
    termMax: String,
    docCount: Long,
    rows: Long,
    bytes: Long,
    checksum: Long, // order-independent sum of per-row crc32s
    committedAtMs: Long)

object Tables {
  /** Opens an index table with the schema of its row type `T`. Spark
    * then skips schema inference, which costs one job per read. For the
    * `flush` table, `FlushRow.kind` types the `kind=<k>` partition
    * column. Only for tables every writer gives exactly `T`'s columns. */
  def read[T <: Product : TypeTag](spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(paths: _*)
}

object IndexPaths {
  def docs(dir: String) = s"$dir/docs"
  def flush(dir: String) = s"$dir/flush"
  def postings(dir: String) = s"$dir/postings"
  def positions(dir: String) = s"$dir/positions"
  /** Character-offset sidecar (..._AND_OFFSETS level), aligned like
    * positions; rows share the [[PositionsRow]] schema. */
  def offsets(dir: String) = s"$dir/offsets"
  /** Per-position payload sidecar (the .pay stream analog), aligned like
    * positions; rows share the [[PositionsRow]] schema. */
  def payloads(dir: String) = s"$dir/payloads"
  def docstats(dir: String) = s"$dir/docstats"
  def termDict(dir: String) = s"$dir/term_dict"
  /** Distinct first characters of the dictionary (alphabet-sized) —
    * drives the fuzzy-query range banding ([[graft.search.DictSeek]]). */
  def termFirstChars(dir: String) = s"$dir/term_firstchars"
  /** Optional reversed-term dictionary sidecar (rterm, term, df) sorted
    * by rterm — turns a leading wildcard into a prefix SEEK
    * ([[ReversedDict]], the ReverseStringFilter leading-wildcard idea). */
  def termDictRev(dir: String) = s"$dir/term_dict_rev"
  def collectionStats(dir: String) = s"$dir/collection_stats"
  def manifest(dir: String) = s"$dir/manifest"
}
