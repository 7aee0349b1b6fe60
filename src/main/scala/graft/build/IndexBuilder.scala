package graft.build

import graft.analysis.Analyzer
import graft.bm25.BM25
import graft.corpus.SourceFile
import graft.postings.PostingsCodec
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.util.zip.CRC32
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark-native inverted-index builder (SURVEY.md §3.1 restated for Spark).
  *
  * Pipeline (2 shuffles total; the corpus payload is sorted once, read
  * once, tokenized once):
  *
  *   1. `flush` stage — ONE fused pass (≙ a DocumentsWriterPerThread
  *      building an in-RAM segment, reference:
  *      Index/DocumentsWriterPerThread.cs:290-368): global
  *      `repartitionByRange(repo, path, commit)` + within-partition sort
  *      (the deterministic corpus order that fixes the score tie-break,
  *      reference: Search/HitQueue.cs:82-91) feeds straight into a
  *      mapPartitions that assigns each doc a LOCAL ordinal, analyzes it,
  *      accumulates term → (localId, tf, norm) in a hash (≙ TermsHash),
  *      and emits posting blocks (budget-flushed ≙ FlushByRamOrCounts
  *      Policy) interleaved with stored-doc rows — one write, partitioned
  *      by kind. Global docIds are NOT materialized here: they are
  *      `offset(partition) + localId`, where the tiny `docs_offsets`
  *      table (cumulative per-partition counts, read back column-pruned
  *      from the committed files) is written at the end of the stage.
  *      Because posting-block bytes are delta-coded against the block's
  *      firstDocId metadata, rebasing a block to the global doc space is
  *      pure column arithmetic — no byte rewrite (the SegmentMerger
  *      DocMap rebase, reference: Index/MergeState.cs:42-44, becomes a
  *      projection).
  *
  *   2. `postings` stage — rebase block metadata by the broadcast offsets
  *      table, then `repartitionByRange(term, firstDocId)` +
  *      within-partition sort, written term-sorted so parquet min/max
  *      stats prune files/row-groups at query time (≙ the BlockTree term
  *      index). Range-partitioning on the COMPOSITE key is the hot-term
  *      skew defusal the north rule calls "salting": a Zipfian term's
  *      blocks spread over many partitions, split at firstDocId
  *      boundaries, no single reducer ever sees a whole hot list.
  *
  *   3. `stats` stage — docstats (rebased the same way) + term_dict +
  *      collection_stats: tiny map-side-combined aggs.
  *
  * Every stage appends per-partition lineage rows to `manifest/` after its
  * output is durably written (two-phase: data first, manifest last —
  * ≙ segments_N commit, reference: Index/SegmentInfos.cs:49-69,146-147).
  * `build(resume = true)` skips stages whose manifest rows exist, giving
  * checkpoint-resume at stage granularity with per-partition evidence.
  *
  * Spark jobs per stage (adaptive execution runs each shuffle stage as
  * its own job; a range shuffle adds a sampling job, a broadcast join a
  * collect job). No job re-reads what the build knows: tables open with
  * their row type's schema ([[Tables.read]]), and the collection stats
  * (with the levels the postings carry) are counted while docstats and
  * term_dict are written.
  *   - flush (7): sample, shuffle and write of the flush; the per-
  *     partition doc counts (shuffle, collect); the docs_offsets write;
  *     the manifest commit.
  *   - postings (7): the offsets broadcast, sample, shuffle and write of
  *     the one postings table (blobs in its rows); the manifest's per-
  *     partition stats (shuffle, collect); the manifest commit.
  *   - stats (9, plus a sample when term_dict has more than one
  *     partition): docstats (broadcast, sample, shuffle, write); term_dict
  *     (aggregate shuffle, range shuffle, write); one single-partition
  *     write each for collection_stats and the manifest commit.
  * Each stage labels its jobs ([[labelled]]) with its layer, `build.flush`,
  * `build.postings` or `build.stats`.
  */
object IndexBuilder {

  /** Max buffered postings per flush segment inside one task (≙ the 16 MB
    * DWPT RAM budget, reference: Index/IndexWriterConfig.cs:93 — postings
    * dominate DWPT RAM; 2M entries ≈ 16-48 MB). */
  val FlushPostingsBudget: Int = 2 * 1000 * 1000

  // ---------------------------------------------------------------- stages

  /** The local property naming the engine layer a Spark job runs for. */
  val LayerProperty = "graft.layer"

  /** Runs `f` with its Spark jobs labelled: local property
    * [[LayerProperty]] = `layer`, job description `"<layer> <dir>"`. The
    * caller's values are restored afterwards; the job group is left
    * alone (callers set it per request). */
  private[graft] def labelled[A](spark: SparkSession, layer: String, dir: String)(f: => A): A = {
    val sc = spark.sparkContext
    val saved = Seq(LayerProperty, "spark.job.description").map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty(LayerProperty, layer)
    sc.setJobDescription(s"$layer $dir")
    try f finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  def stageDone(spark: SparkSession, dir: String, stage: String): Boolean = {
    val manifestPath = new org.apache.hadoop.fs.Path(IndexPaths.manifest(dir))
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestPath)) return false
    import spark.implicits._
    Tables.read[ManifestRow](spark, IndexPaths.manifest(dir))
      .where($"stage" === stage).select($"partitionId").collect().nonEmpty
  }

  private def commitStage(spark: SparkSession, dir: String, rows: Seq[ManifestRow]): Unit = {
    import spark.implicits._
    spark.createDataset(rows).coalesce(1).write.mode(SaveMode.Append)
      .parquet(IndexPaths.manifest(dir))
  }

  /** Accumulator entries may repeat when a task attempt is retried after a
    * success (speculation); lineage is per-partition, keep one row each. */
  private[build] def dedupeByPartition(rows: java.util.List[ManifestRow]): Seq[ManifestRow] = {
    import scala.jdk.CollectionConverters._
    rows.asScala.toSeq.groupBy(_.partitionId).map(_._2.head).toSeq
      .sortBy(_.partitionId)
  }

  /** Stage 1: the fused sort + tokenize-once segment flush. `docIdBase`
    * offsets the dense ids — incremental (streaming) builds stack
    * generations into one docId space.
    *
    * `keywordFields` is the FieldInfos analog (reference:
    * Document/StringField.cs vs TextField.cs:44-51; demo shape
    * IndexFiles.cs:188-218): each named metadata column of the corpus
    * (repo/path/commit/lang) is additionally indexed as an exact,
    * untokenized term `"<field>:<value>"` — Term = (field, text) encoded
    * into the term key, collision-free because analyzed content tokens
    * never contain ':'. Keyword postings carry tf=1 and the norm of a
    * 1-token field (StringField semantics: whole value = one term);
    * content-field collection stats (avgdl, sumTotalTermFreq) stay
    * per-field, derived from docstats as before. */
  def buildFlush(spark: SparkSession, corpus: Dataset[SourceFile], dir: String,
                 numPartitions: Int,
                 analyzerFor: String => Analyzer = Analyzer.forLang,
                 docIdBase: Long = 0L,
                 keywordFields: Seq[String] = Nil,
                 indexPositions: Boolean = false,
                 indexOffsets: Boolean = false,
                 indexPayloads: Boolean = false): Unit = labelled(spark, "build.flush", dir) {
    import spark.implicits._
    val sorted = corpus
      .repartitionByRange(numPartitions, $"repo", $"path", $"commit")
      .sortWithinPartitions($"repo", $"path", $"commit")
    // lineage computed in-flight (accumulator) — no second pass over the
    // flush output; at scale a re-read of every posting block just to
    // checksum it would double the stage's I/O
    val acc = spark.sparkContext.collectionAccumulator[ManifestRow]("flushManifest")
    val kw = keywordFields
    // offsets/payloads imply positions (the reference's IndexOptions
    // lattice is strictly ordered, FieldInfo.cs:373-397; payloads live
    // in the positions stream)
    val withPos = indexPositions || indexOffsets || indexPayloads
    val withOff = indexOffsets
    val withPay = indexPayloads
    val flush = sorted.mapPartitions { it =>
      val segId = TaskContext.getPartitionId()
      new FlushIterator(it, segId, analyzerFor, row => acc.add(row), kw,
        withPos, withOff, withPay)
    }
    flush.write.mode(SaveMode.Overwrite).partitionBy("kind")
      .parquet(IndexPaths.flush(dir))

    // Partition offsets from a read-back count of the committed doc rows
    // (not the accumulator — counts are correctness-critical for docIds
    // and the committed files are the single source of truth). Column-
    // pruned to (segId, docId): two RLE/delta-coded integer columns,
    // negligible against the payload sort. repartitionByRange assigns
    // ascending key ranges to ascending partition ids, so cumulative
    // offsets in segId order reproduce global corpus-sort ordinals.
    val counts = Tables.read[FlushRow](spark, IndexPaths.flush(dir)).where($"kind" === "d")
      .groupBy($"segId")
      .agg(count("*").as("rows"), (max($"docId") + 1).as("rowsByIdx"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    counts.foreach { case (pid, n, byIdx) =>
      require(n == byIdx, s"flush partition $pid: count $n != max(localId)+1 $byIdx")
    }
    var off = docIdBase
    val offsets = counts.map { case (pid, n, _) =>
      val o = DocOffsetRow(pid, off, n); off += n; o
    }
    spark.createDataset(offsets.toSeq).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(DocsTable.offsetsPath(dir))
    commitStage(spark, dir, dedupeByPartition(acc.value))
  }

  private def offsetsDf(spark: SparkSession, dir: String): DataFrame =
    Tables.read[DocOffsetRow](spark, DocsTable.offsetsPath(dir)).select("pid", "offset")

  /** Stage 2: global term-sorted postings table (the "merge"): rebase
    * block metadata to the global doc space (broadcast offsets join —
    * map-side projection, the DocMap analog), then range-shuffle. */
  def buildPostings(spark: SparkSession, dir: String, numPartitions: Int): Unit =
      labelled(spark, "build.postings", dir) {
    import spark.implicits._
    val blocks = Tables.read[FlushRow](spark, IndexPaths.flush(dir))
      .where($"kind" === "t")
      .join(broadcast(offsetsDf(spark, dir)), $"segId" === $"pid")
      .select($"term", ($"firstDocId" + $"offset").as("firstDocId"),
        ($"lastDocId" + $"offset").as("lastDocId"), $"numDocs", $"maxTf",
        $"maxNorm", $"sumTf", $"segId", $"bytes", $"posBytes", $"offBytes",
        $"payBytes").as[PostingsTableRow]
    blocks
      .repartitionByRange(numPartitions, $"term", $"firstDocId")
      .sortWithinPartitions($"term", $"firstDocId")
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(dir))
    val p = Tables.read[PostingRow](spark, IndexPaths.postings(dir))
    val stats = p.groupBy(spark_partition_id().as("pid"))
      .agg(min($"term").as("tmin"), max($"term").as("tmax"),
        sum($"numDocs").as("docCount"), count("*").as("rows"),
        sum(length($"bytes")).as("bytes"), sum(crc32(col("bytes"))).as("crc"))
      .collect()
    val now = System.currentTimeMillis()
    commitStage(spark, dir, stats.map(r => ManifestRow("postings", r.getInt(0),
      r.getString(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6), now)).toSeq)
  }

  /** Stage 3: docstats + term_dict + collection_stats. The docstats
    * write counts the collection's doc totals on the way, so nothing is
    * read back. */
  def buildStats(spark: SparkSession, dir: String, numPartitions: Int): Unit =
      labelled(spark, "build.stats", dir) {
    import spark.implicits._
    val docstats = Tables.read[FlushRow](spark, IndexPaths.flush(dir)).where($"kind" === "d")
      .join(broadcast(offsetsDf(spark, dir)), $"segId" === $"pid")
      .select(($"docId" + $"offset").as("docId"), $"repo", $"path", $"commit",
        $"lang", $"sha256", $"tokenCount", $"norm").as[DocStatRow]
      .repartitionByRange(numPartitions, $"docId").sortWithinPartitions($"docId")
    val (counted, totals) = countDocTotals(spark, docstats.toDF())
    counted.write.mode(SaveMode.Overwrite).parquet(IndexPaths.docstats(dir))
    val (maxDoc, sumTtf) = totals()
    commitStats(spark, dir, writeDictAndStats(spark, dir, numPartitions, maxDoc, sumTtf))
  }

  /** Dictionary + collection stats from already-written postings +
    * docstats (the tail of Deletes.expunge and IndexSplitter, which
    * rewrite those two tables themselves). */
  def buildDictAndStats(spark: SparkSession, dir: String, numPartitions: Int): Unit = {
    val t = Tables.read[DocStatRow](spark, IndexPaths.docstats(dir))
      .agg(count(lit(1)), coalesce(sum(col("tokenCount")), lit(0L))).head()
    commitStats(spark, dir, writeDictAndStats(spark, dir, numPartitions, t.getLong(0), t.getLong(1)))
  }

  private def commitStats(spark: SparkSession, dir: String, cs: CollectionStatsRow): Unit =
    commitStage(spark, dir, Seq(ManifestRow("stats", 0, null, null,
      cs.maxDoc, cs.maxDoc, 0L, 0L, System.currentTimeMillis())))

  /** `rows` unchanged (same schema), with `count` applied to each row on
    * its way to a write; `count` adds to accumulators. Apply it after the
    * write's final sort: the counting then runs in the write's result
    * stage, whose accumulator updates Spark merges once per partition,
    * and not below a range shuffle, whose sampling job would re-run it. */
  private def counting(rows: DataFrame)(count: Row => Unit): DataFrame =
    rows.mapPartitions(_.map { r => count(r); r })(Encoders.row(rows.schema))

  /** `docstats` counted on its way to a write, and a read of the counts
    * (maxDoc, sumTotalTermFreq) once the write is done. */
  private[graft] def countDocTotals(spark: SparkSession, docstats: DataFrame)
      : (DataFrame, () => (Long, Long)) = {
    val docs = spark.sparkContext.longAccumulator("maxDoc")
    val ttf = spark.sparkContext.longAccumulator("sumTotalTermFreq")
    val tc = docstats.schema.fieldIndex("tokenCount")
    (counting(docstats) { r => docs.add(1); ttf.add(r.getInt(tc)) }, () => (docs.sum, ttf.sum))
  }

  /** Writes term_dict (aggregated from the postings in `dir`) and
    * collection_stats, given the doc totals of `dir`'s docstats — the one
    * writer of collection_stats, for build, rewrite and compaction. The
    * dictionary write counts sumDocFreq on the way; the levels come from
    * the postings footers ([[carriedBlobs]]). Returns the collection
    * stats. */
  private[graft] def writeDictAndStats(spark: SparkSession, dir: String, numPartitions: Int,
                                       maxDoc: Long, sumTtf: Long): CollectionStatsRow = {
    import spark.implicits._
    val dict = Tables.read[PostingRow](spark, IndexPaths.postings(dir))
      .groupBy($"term")
      .agg(sum($"numDocs").as("df"), sum($"sumTf").as("totalTf"),
        max($"maxTf").as("maxTf"), max($"maxNorm").as("maxNorm"))
      .repartitionByRange(math.max(1, numPartitions / 8), $"term")
      .sortWithinPartitions($"term")
    val sumDocFreq = spark.sparkContext.longAccumulator("sumDocFreq")
    counting(dict)(r => sumDocFreq.add(r.getLong(1)))
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.termDict(dir))
    val Seq(pos, off, pay) = carriedBlobs(spark, dir)
    val cs = CollectionStatsRow(maxDoc = maxDoc, docCount = maxDoc,
      sumTotalTermFreq = sumTtf, sumDocFreq = sumDocFreq.sum,
      hasPositions = pos, hasOffsets = off, hasPayloads = pay)
    spark.createDataset(Seq(cs)).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.collectionStats(dir))
    cs
  }

  /** Per blob column ([[PostingsTableRow.blobColumns]], level order),
    * whether `dir`'s postings carry it: whether some parquet column chunk
    * of it holds a value (fewer nulls than rows). The index carries a
    * level when any term does. Read from the file footers on the driver:
    * no Spark job, no blob byte. */
  private def carriedBlobs(spark: SparkSession, dir: String): Seq[Boolean] = {
    val chunks = Tables.footers(spark.sparkContext.hadoopConfiguration, IndexPaths.postings(dir))
      .flatMap(_._2).flatMap(b =>
        b.getColumns.asScala.map(c => (c.getPath.toDotString, c.getStatistics, b.getRowCount)))
    PostingsTableRow.blobColumns.map(c => chunks.exists { case (name, st, rows) =>
      name == c && {
        require(st.isNumNullsSet, s"a postings footer of $dir has no null count for $c")
        st.getNumNulls < rows
      }
    })
  }

  /** Full build. `resume = true` skips stages already committed to the
    * manifest (kill the job at any point; re-running completes the rest —
    * the segments_N checkpoint contract). */
  def build(spark: SparkSession, corpus: Dataset[SourceFile], dir: String,
            numPartitions: Int = 32, resume: Boolean = false,
            analyzerFor: String => Analyzer = Analyzer.forLang,
            docIdBase: Long = 0L,
            keywordFields: Seq[String] = Nil,
            indexPositions: Boolean = false,
            indexOffsets: Boolean = false,
            indexPayloads: Boolean = false): Unit = {
    if (!resume) {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
    if (!resume || !stageDone(spark, dir, "flush"))
      buildFlush(spark, corpus, dir, numPartitions, analyzerFor,
        docIdBase, keywordFields, indexPositions, indexOffsets, indexPayloads)
    if (!resume || !stageDone(spark, dir, "postings"))
      buildPostings(spark, dir, numPartitions)
    if (!resume || !stageDone(spark, dir, "stats"))
      buildStats(spark, dir, numPartitions)
  }
}

/** The per-partition segment builder: streaming DWPT analog. Consumes
  * one sorted shuffle partition of source files, assigns each a local
  * ordinal (globalized later via the offsets table), maintains term →
  * postings buffers, emits FlushRow blocks on budget trips and at
  * exhaustion; stored-doc rows are emitted inline as soon as each doc is
  * analyzed — the corpus payload is consumed exactly once. */
private final class FlushIterator(docs: Iterator[SourceFile], segId: Int,
    analyzerFor: String => Analyzer,
    onComplete: ManifestRow => Unit = _ => (),
    keywordFields: Seq[String] = Nil,
    indexPositions: Boolean = false,
    indexOffsets: Boolean = false,
    indexPayloads: Boolean = false) extends Iterator[FlushRow] {

  // partition lineage, accumulated as blocks are emitted
  private var mTermMin: String = null
  private var mTermMax: String = null
  private var mDocCount = 0L
  private var mRows = 0L
  private var mBytes = 0L
  private var mCrc = 0L
  private var mReported = false

  /** Primitive growable posting buffer (≙ the byte-slice pools of
    * TermsHashPerField). Boxed collections here would cost ~10× the RAM
    * and destroy flush-stage scaling at high task counts — per-task RAM
    * must stay near the reference's 16 MB DWPT budget. */
  private final class Buf {
    var n = 0
    var docIds = new Array[Long](4)
    var tfs = new Array[Int](4)
    var norms = new Array[Int](4)
    /** Per-posting position lists; null entries = positions not indexed
      * for this term (keyword fields are DOCS_ONLY). */
    var poss: Array[Array[Int]] = null
    /** Per-posting flattened (start,end) char-offset pairs (the
      * ..._AND_OFFSETS payload), aligned with poss. */
    var offs: Array[Array[Int]] = null
    /** Per-posting, per-position payload byte arrays (the .pay stream
      * analog), aligned with poss. */
    var pays: Array[Array[Array[Byte]]] = null
    def add(d: Long, tf: Int, norm: Int, ps: Array[Int] = null,
            os: Array[Int] = null, ys: Array[Array[Byte]] = null): Unit = {
      if (n == docIds.length) {
        val cap = n * 2
        docIds = java.util.Arrays.copyOf(docIds, cap)
        tfs = java.util.Arrays.copyOf(tfs, cap)
        norms = java.util.Arrays.copyOf(norms, cap)
        if (poss != null) poss = java.util.Arrays.copyOf(poss, cap)
        if (offs != null) offs = java.util.Arrays.copyOf(offs, cap)
        if (pays != null) pays = java.util.Arrays.copyOf(pays, cap)
      }
      if (ps != null) {
        if (poss == null) poss = new Array[Array[Int]](docIds.length)
        poss(n) = ps
      }
      if (os != null) {
        if (offs == null) offs = new Array[Array[Int]](docIds.length)
        offs(n) = os
      }
      if (ys != null) {
        if (pays == null) pays = new Array[Array[Array[Byte]]](docIds.length)
        pays(n) = ys
      }
      docIds(n) = d; tfs(n) = tf; norms(n) = norm; n += 1
    }
  }

  private val terms = mutable.HashMap.empty[String, Buf]
  private var nBuffered = 0
  private val out = mutable.Queue.empty[FlushRow]

  private def emptyT = FlushRow("t", null, -1L, -1L, -1, -1, -1, -1L, segId,
    null, null, null, null, -1L, null, null, null, null, null, null, -1, -1)
  private def emptyD = FlushRow("d", null, -1L, -1L, -1, -1, -1, -1L, segId,
    null, null, null, null, -1L, null, null, null, null, null, null, -1, -1)

  private def flushSegment(): Unit = {
    // deterministic term order (≙ TermsHashPerField.SortPostings, reference:
    // Index/TermsHashPerField.cs:125)
    val sortedTerms = terms.keys.toArray
    java.util.Arrays.sort(sortedTerms, Ordering[String])
    sortedTerms.foreach { t =>
      val b = terms(t)
      val tfArr = java.util.Arrays.copyOf(b.tfs, b.n)
      val blocks = PostingsCodec.encodeBlocks(
        java.util.Arrays.copyOf(b.docIds, b.n), tfArr,
        java.util.Arrays.copyOf(b.norms, b.n))
      var off = 0
      blocks.foreach { blk =>
        var s = 0L
        var i = 0
        while (i < blk.numDocs) { s += tfArr(off + i); i += 1 }
        // the block's blobs, sliced to its postings (keyword-field terms
        // carry none)
        def blob[T <: AnyRef](per: Array[T], enc: Array[T] => Array[Byte]): Array[Byte] =
          if (per == null) null else enc(java.util.Arrays.copyOfRange[T](per, off, off + blk.numDocs))
        out.enqueue(emptyT.copy(term = t, firstDocId = blk.firstDocId,
          lastDocId = blk.lastDocId, numDocs = blk.numDocs, maxTf = blk.maxTf,
          maxNorm = blk.maxNorm, sumTf = s, bytes = blk.bytes,
          posBytes = blob(b.poss, PostingsCodec.encodePositionsBlock),
          offBytes = blob(b.offs, PostingsCodec.encodeOffsetsBlock),
          payBytes = blob(b.pays, PostingsCodec.encodePayloadsBlock)))
        off += blk.numDocs
        // lineage (≙ what segments_N records per segment)
        if (mTermMin == null || t < mTermMin) mTermMin = t
        if (mTermMax == null || t > mTermMax) mTermMax = t
        mDocCount += blk.numDocs
        mRows += 1
        mBytes += blk.bytes.length
        val crc = new CRC32
        crc.update(blk.bytes)
        mCrc += crc.getValue
      }
    }
    terms.clear()
    nBuffered = 0
  }

  private val analyzerCache = mutable.HashMap.empty[String, Analyzer]
  /** Keyword (StringField) terms carry the norms-omitted sentinel — the
    * reference's StringField sets OmitNorms = true, so no length norm
    * applies when a keyword term is scored (BM25 then uses k1 in place of
    * the cache entry — [[BM25.OmitNormsByte]]). */
  private val kwNorm = BM25.OmitNormsByte
  private var nextLocalId = 0L

  private def analyzeDoc(d: SourceFile): Unit = {
    val docId = nextLocalId
    nextLocalId += 1
    val analyzer = analyzerCache.getOrElseUpdate(d.lang, analyzerFor(d.lang))
    val analyzed = analyzer.analyze(d.content)
    val dl = analyzed.bm25DocLen
    val normByte = BM25.encodeNorm(dl) & 0xff
    // per-doc tf accumulation (≙ FreqProxTermsWriterPerField NewTerm/AddTerm)
    if (indexPositions) {
      // positions ride along (the DOCS_AND_FREQS_AND_POSITIONS option);
      // with indexOffsets the (start,end) char pairs ride too (the
      // ..._AND_OFFSETS level); with indexPayloads the per-position
      // payload byte arrays ride (the .pay stream analog)
      val posMap = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      val offMap = if (indexOffsets)
        mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]] else null
      val payMap = if (indexPayloads)
        mutable.HashMap.empty[String, mutable.ArrayBuffer[Array[Byte]]] else null
      analyzed.tokens.foreach { t =>
        posMap.getOrElseUpdate(t.term, mutable.ArrayBuffer.empty) += t.position
        if (offMap != null) {
          val ob = offMap.getOrElseUpdate(t.term, mutable.ArrayBuffer.empty)
          ob += t.startOff
          ob += t.endOff
        }
        if (payMap != null)
          payMap.getOrElseUpdate(t.term, mutable.ArrayBuffer.empty) += t.payload
      }
      posMap.foreach { case (term, ps) =>
        terms.getOrElseUpdate(term, new Buf).add(docId, ps.length, normByte,
          ps.toArray,
          if (offMap != null) offMap(term).toArray else null,
          if (payMap != null) payMap(term).toArray else null)
        nBuffered += 1
      }
    } else {
      val tfMap = mutable.HashMap.empty[String, Int]
      analyzed.tokens.foreach(t => tfMap.update(t.term, tfMap.getOrElse(t.term, 0) + 1))
      tfMap.foreach { case (term, tf) =>
        terms.getOrElseUpdate(term, new Buf).add(docId, tf, normByte)
        nBuffered += 1
      }
    }
    // keyword (StringField-style) fields: exact value = one term, tf=1,
    // norm of a single-token field
    keywordFields.foreach { f =>
      val v = f match {
        case "repo" => d.repo
        case "path" => d.path
        case "commit" => d.commit
        case "lang" => d.lang
        case other => throw new IllegalArgumentException(s"unknown keyword field $other")
      }
      terms.getOrElseUpdate(s"$f:$v", new Buf).add(docId, 1, kwNorm)
      nBuffered += 1
    }
    out.enqueue(emptyD.copy(docId = docId, repo = d.repo, path = d.path,
      commit = d.commit, lang = d.lang, content = d.content, sha256 = d.sha256,
      tokenCount = dl, norm = normByte))
    if (nBuffered >= IndexBuilder.FlushPostingsBudget) flushSegment()
  }

  override def hasNext: Boolean = {
    while (out.isEmpty && docs.hasNext) analyzeDoc(docs.next())
    if (out.isEmpty && terms.nonEmpty) flushSegment()
    if (out.isEmpty && !mReported) {
      mReported = true
      onComplete(ManifestRow("flush", segId, mTermMin, mTermMax, mDocCount,
        mRows, mBytes, mCrc, System.currentTimeMillis()))
    }
    out.nonEmpty
  }

  override def next(): FlushRow = {
    if (!hasNext) throw new NoSuchElementException
    out.dequeue()
  }
}
