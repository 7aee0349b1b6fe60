package graft.build

import graft.postings.PostingsCodec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import scala.jdk.CollectionConverters._
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

/** A posting block without its blobs: the block metadata and its
  * docs-and-freqs bytes, the columns the scoring scans read and decode
  * in-task ([[graft.search.FlatScorer]]). Every other read turns blocks
  * into [[Posting]] rows through [[Posting.decode]]. */
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
    * projection every typed postings scan selects before `.as[PostingRow]`,
    * and the columns the flat scorer's direct read requests
    * ([[graft.search.PostingsFile.read]]). */
  val names: Seq[String] = Seq("term", "firstDocId", "lastDocId", "numDocs", "maxTf", "maxNorm",
    "sumTf", "segId", "bytes")
  val columns: Seq[org.apache.spark.sql.Column] = names.map(col)
}

/** A postings table row: a [[PostingRow]] block plus its optional blobs,
  * in the bytes [[PostingsCodec]] encodes per block — `posBytes`
  * (per-posting positions), `offBytes` (per-posting (start, end) char
  * offsets) and `payBytes` (per-position payloads). A blob is null where
  * the index does not carry its level ([[CollectionStatsRow]]) and for
  * keyword (DOCS_ONLY) terms. Write the whole table through this type;
  * the scoring scans select [[PostingRow.columns]] only, and every other
  * read decodes through [[Posting.decode]], which reads the blobs it is
  * asked for. */
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

/** One decoded posting (SURVEY §1's `Dataset[Posting]`): a term's entry
  * for one doc, its tf and norm byte, and the lists of the blobs the
  * reader asked for — the sorted positions, the flattened
  * [s0,e0,s1,e1,…] char offsets (one pair per position) and the
  * per-position payloads (≙ one DocsAndPositionsEnum step). A list is null
  * when its blob was not asked for or the block carries none. Every
  * cold-path postings read (deletes and rewrites, pulsing, the positional
  * and payload matchers, highlighting, the gate's relational BM25) reads
  * these rows; the scoring scans decode [[PostingRow]] blocks in-task. */
final case class Posting(
    term: String,
    docId: Long,
    tf: Int,
    norm: Int,
    positions: Array[Int],
    offsets: Array[Int],
    payloads: Array[Array[Byte]])

object Posting {
  /** The postings of one block, decoding each blob that is non-null; a
    * null blob leaves its list null in every posting. */
  def block(term: String, firstDocId: Long, numDocs: Int, bytes: Array[Byte],
      posBytes: Array[Byte], offBytes: Array[Byte], payBytes: Array[Byte]): Iterator[Posting] = {
    val (ids, tfs, norms) = PostingsCodec.decodeBlock(firstDocId, numDocs, bytes)
    val poss = if (posBytes == null) null else PostingsCodec.decodePositionsBlock(numDocs, posBytes)
    val offs = if (offBytes == null) null else PostingsCodec.decodeOffsetsBlock(numDocs, offBytes)
    val pays = if (payBytes == null) null else PostingsCodec.decodePayloadsBlock(numDocs, payBytes)
    ids.indices.iterator.map(i => Posting(term, ids(i), tfs(i), norms(i),
      if (poss == null) null else poss(i),
      if (offs == null) null else offs(i),
      if (pays == null) null else pays(i)))
  }

  /** The one postings decoder: the postings of `blocks` (postings table
    * rows, narrowed by the caller's `where`s, which push into the parquet
    * scan), with the lists of `blobs` ([[PostingsTableRow.blobColumns]]).
    * The scan reads the block columns and the requested blobs only. A
    * block whose requested blob is null — a keyword (DOCS_ONLY) term, or
    * an index without the level — decodes with null lists; a reader that
    * needs the lists filters `isNotNull` on the blob first, in the same
    * scan ([[graft.search.IndexReader.decoded]]). */
  def decode(blocks: Dataset[_], blobs: Seq[String] = Nil): Dataset[Posting] = {
    import blocks.sparkSession.implicits._
    require(blobs.forall(PostingsTableRow.blobColumns.contains), s"unknown blob column in $blobs")
    val blobCols = PostingsTableRow.blobColumns.map(b =>
      if (blobs.contains(b)) col(b) else lit(null).cast("binary").as(b))
    blocks.select(Seq(col("term"), col("firstDocId"), col("numDocs"), col("bytes")) ++ blobCols: _*)
      .as[(String, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (term, first, n, bytes, pos, off, pay) =>
        block(term, first, n, bytes, pos, off, pay)
      }
  }
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
  /** The parquet files of the table directory `dir`, in path order, each
    * with the row groups of its footer: the one driver-side footer walk
    * (no Spark job, no data page read). */
  def footers(conf: Configuration, dir: String): Seq[(FileStatus, Seq[BlockMetaData])] = {
    val root = new Path(dir)
    root.getFileSystem(conf).listStatus(root).toSeq
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.toString).map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try f -> reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
      }
  }

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
