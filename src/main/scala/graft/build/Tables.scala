package graft.build

import graft.postings.PostingsCodec
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import scala.reflect.runtime.universe.TypeTag

/** Schemas of the index tables (SURVEY.md §7 step 3).
  * An index directory contains:
  *   flush/kind=d/      stored fields (≙ the reference's compressed row
  *                      store, Codecs/Compressing), partition-local ids
  *   flush/kind=t/      raw per-partition posting blocks (pre-merge),
  *                      each with its positions/offsets/payloads blobs
  *   docs_offsets/      per-partition docId offsets (local → global)
  *   docs/              only in REWRITTEN indexes (expunge/compact):
  *                      docId-materialized stored fields
  *   docstats/          per-doc stats sidecar (norm byte ≙ .nvd/.nvm)
  *   postings/          term-sorted posting blocks (≙ .doc, Lucene41),
  *                      one [[PostingsTableRow]] per block: the block's
  *                      positions, char offsets and payloads (≙ .pos and
  *                      .pay) ride in nullable blob columns of its row, so
  *                      a docs-and-freqs scan reads none of them
  *   term_dict/         per-term stats (≙ BlockTree .tim/.tip)
  *   collection_stats/  one row (≙ per-segment FieldInfos/stats), with the
  *                      levels (positions, offsets, payloads) the index
  *                      carries
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

  /** One (term, docId, tf, norm) row per posting of `blocks` (postings
    * table rows, narrowed by the caller) — the decode of the cold paths
    * (deletes, sorted early termination, pulsing, the gate's relational
    * BM25); the serving path fuses decode with scoring in
    * [[graft.search.Searcher]] instead. */
  def decoded(blocks: Dataset[_]): DataFrame = {
    import blocks.sparkSession.implicits._
    blocks.select(columns: _*).as[PostingRow].flatMap { r =>
      val (ids, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
      ids.indices.iterator.map(i => (r.term, ids(i), tfs(i), norms(i)))
    }.toDF("term", "docId", "tf", "norm")
  }
}

/** A postings table row: a [[PostingRow]] block plus its optional blobs,
  * in the bytes [[PostingsCodec]] encodes per block — `posBytes`
  * (per-posting positions), `offBytes` (per-posting (start, end) char
  * offsets) and `payBytes` (per-position payloads). A blob is null where
  * the index does not carry its level ([[CollectionStatsRow]]) and for
  * keyword (DOCS_ONLY) terms. Read and write the whole table through this
  * type; the scoring scans select [[PostingRow.columns]] only. */
final case class PostingsTableRow(
    term: String,
    firstDocId: Long,
    lastDocId: Long,
    numDocs: Int,
    maxTf: Int,
    maxNorm: Int,
    sumTf: Long,
    segId: Int,
    bytes: Array[Byte],
    posBytes: Array[Byte],
    offBytes: Array[Byte],
    payBytes: Array[Byte])

object PostingsTableRow {
  /** The blob columns, in level order: positions, offsets, payloads. */
  val blobColumns: Seq[String] = Seq("posBytes", "offBytes", "payBytes")
}

/** Union row emitted by the single fused sort+tokenize pass (segment
  * flush): kind 't' carries a posting block with its blobs (as
  * [[PostingsTableRow]]), kind 'd' a stored doc (full
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
    posBytes: Array[Byte],
    offBytes: Array[Byte],
    payBytes: Array[Byte],
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    sha256: String,
    tokenCount: Int,
    norm: Int)

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

/** The collection's statistics and the levels its postings carry (the
  * FieldInfos IndexOptions analog): `hasPositions`, `hasOffsets` and
  * `hasPayloads` say whether the postings rows' `posBytes`, `offBytes`
  * and `payBytes` blobs are present (for every non-keyword term). */
final case class CollectionStatsRow(
    maxDoc: Long,
    docCount: Long,
    sumTotalTermFreq: Long,
    sumDocFreq: Long,
    hasPositions: Boolean,
    hasOffsets: Boolean,
    hasPayloads: Boolean)

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
  def docstats(dir: String) = s"$dir/docstats"
  def termDict(dir: String) = s"$dir/term_dict"
  def collectionStats(dir: String) = s"$dir/collection_stats"
  def manifest(dir: String) = s"$dir/manifest"
}
