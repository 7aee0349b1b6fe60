package graft.build

import graft.postings.PostingsCodec
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming re-encoder for [[Posting]] rows sorted by (term, docId)
  * within a partition: buffers one term's run in arrays and, on term
  * change, emits self-contained postings table rows, each block with its
  * blobs (a budget flush mid-run would also be valid — blocks are
  * independent — but a partition's run of one term is at most the
  * partition size). Rows whose list is null (keyword/DOCS_ONLY terms, or
  * a level the index lacks) emit a null blob, preserving the per-term
  * IndexOptions through the rewrite. */
private final class PostingsReencoder(it: Iterator[Posting], segId: Int)
    extends Iterator[PostingsTableRow] {
  private val out = scala.collection.mutable.Queue.empty[PostingsTableRow]
  private var curTerm: String = null
  private var n = 0
  private var ids = new Array[Long](128)
  private var tfs = new Array[Int](128)
  private var norms = new Array[Int](128)
  private var poss = new Array[Array[Int]](128)
  private var offs = new Array[Array[Int]](128)
  private var pays = new Array[Array[Array[Byte]]](128)

  private def blobBytes[T <: AnyRef](slices: Array[T],
                                     enc: Array[T] => Array[Byte]): Array[Byte] = {
    val allNull = slices.forall(_ == null)
    require(allNull || slices.forall(_ != null),
      s"term $curTerm mixes blob-carrying and blob-less postings")
    if (allNull) null else enc(slices)
  }

  private def flush(): Unit = {
    if (curTerm == null || n == 0) return
    val bIds = java.util.Arrays.copyOf(ids, n)
    val bTfs = java.util.Arrays.copyOf(tfs, n)
    PostingsCodec.encodeBlocks(bIds, bTfs, java.util.Arrays.copyOf(norms, n))
      .foreach { b =>
        val from = java.util.Arrays.binarySearch(bIds, b.firstDocId)
        var s = 0L
        var i = 0
        while (i < b.numDocs) { s += bTfs(from + i); i += 1 }
        val pSlice = java.util.Arrays.copyOfRange(poss, from, from + b.numDocs)
        val oSlice = java.util.Arrays.copyOfRange(offs, from, from + b.numDocs)
        val ySlice = java.util.Arrays.copyOfRange(pays, from, from + b.numDocs)
        out.enqueue(PostingsTableRow(curTerm, b.firstDocId, b.lastDocId, b.numDocs,
          b.maxTf, b.maxNorm, s, segId, b.bytes,
          blobBytes(pSlice, PostingsCodec.encodePositionsBlock),
          blobBytes(oSlice, PostingsCodec.encodeOffsetsBlock),
          blobBytes(ySlice, PostingsCodec.encodePayloadsBlock)))
      }
    n = 0
  }

  override def hasNext: Boolean = {
    while (out.isEmpty && it.hasNext) {
      val p = it.next()
      if (p.term != curTerm) { flush(); curTerm = p.term }
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        tfs = java.util.Arrays.copyOf(tfs, n * 2)
        norms = java.util.Arrays.copyOf(norms, n * 2)
        poss = java.util.Arrays.copyOf(poss, n * 2)
        offs = java.util.Arrays.copyOf(offs, n * 2)
        pays = java.util.Arrays.copyOf(pays, n * 2)
      }
      ids(n) = p.docId; tfs(n) = p.tf; norms(n) = p.norm
      poss(n) = p.positions; offs(n) = p.offsets; pays(n) = p.payloads; n += 1
    }
    if (out.isEmpty) flush()
    out.nonEmpty
  }

  override def next(): PostingsTableRow = {
    if (!hasNext) throw new NoSuchElementException
    out.dequeue()
  }
}

/** Deletes as tombstones (reference model: buffered term/query deletes
  * applied through a liveDocs bitset — Index/BufferedUpdatesStream.cs,
  * Codecs/LiveDocsFormat.cs — restated relationally): an append-only
  * `tombstones/` table of docIds next to the index. A searcher loads it
  * once into a sorted driver-side array and leaves those docs out of
  * every result; global statistics (df, ttf, maxDoc) intentionally DON'T
  * change until a merge, exactly like the reference (deleted docs still
  * count in idf until expunge).
  *
  * [[rewriteMany]] is the one index rewrite under a docId mapping (the
  * SegmentMerger-with-DocMap analog): [[expunge]], [[IndexSorter]],
  * [[AddIndexes]] and every [[IndexSplitter]] mode are remaps through it.
  * [[expunge]] drops tombstoned docs and re-assigns dense ascending docIds
  * (DocMap rebase — reference: Index/MergeState.cs:42-44); the rewrite
  * re-encodes posting blocks through decode→remap→encode and recomputes
  * the dictionary + stats. */
object Deletes {

  def tombstonesPath(dir: String): String = s"$dir/tombstones"

  def tombstones(spark: SparkSession, dir: String): Dataset[Long] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(tombstonesPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.emptyDataset[Long]
    else spark.read.parquet(tombstonesPath(dir)).select("docId").as[Long]
  }

  def deleteDocs(spark: SparkSession, dir: String, ids: Dataset[Long]): Unit =
    ids.toDF("docId").write.mode(SaveMode.Append).parquet(tombstonesPath(dir))

  /** Delete-by-term (the reference's Term-keyed tombstones): every doc
    * currently containing the term. */
  def deleteByTerm(spark: SparkSession, dir: String, term: String): Unit = {
    import spark.implicits._
    val ids = Posting.decode(spark.read.parquet(IndexPaths.postings(dir))
      .where($"term" === term))
      .select($"docId").as[Long]
    deleteDocs(spark, dir, ids)
  }

  /** Rewrite the index at `outDir` without the tombstoned docs, docIds
    * re-packed dense — the SegmentMerger/DocMap analog, fully
    * distributed: the (oldId → newId) DocMap is a sorted remap TABLE
    * (dense ids assigned range-partitioned, [[DenseIds]] — same shape as
    * the docId assignment itself), every remap is an equi-join on docId,
    * and postings are re-encoded from decoded rows re-sorted by
    * (term, newId). No driver-side collect of ids anywhere, so the path
    * survives 10^9+ live docs; monotone remap preserves posting order by
    * construction. */
  def expunge(spark: SparkSession, dir: String, outDir: String,
              numPartitions: Int = 8): Unit = {
    import spark.implicits._
    val dead = tombstones(spark, dir).toDF("deadId").distinct()
    val remap = DenseIds.assign(
      spark.read.parquet(IndexPaths.docstats(dir)).select($"docId")
        .join(dead, $"docId" === $"deadId", "left_anti")
        .select($"docId".as("oldId")),
      "oldId", "newId", numPartitions, base = 0L)
    rewriteWithRemap(spark, dir, outDir, remap, numPartitions)
  }

  /** Rewrite an index under a docId remap table `(oldId, newId)`: docs
    * absent from the remap are dropped, everything else renumbers and
    * re-encodes in newId order. Shared by [[expunge]] (dense remap minus
    * tombstones), [[IndexSorter]] (remap ordered by a sort field) and
    * [[IndexSplitter]]. `blockPrune` filters the postings scan before any
    * decode (e.g. a shard's `[firstDocId, lastDocId]` range test); the
    * default keeps every block. */
  private[build] def rewriteWithRemap(spark: SparkSession, dir: String,
      outDir: String, remap: DataFrame, numPartitions: Int,
      blockPrune: Column = lit(true)): Unit =
    rewriteMany(spark, Seq(dir -> remap), outDir, numPartitions, blockPrune)

  /** Multi-source generalization of [[rewriteWithRemap]]: each source
    * index contributes its rows under its own remap, the union re-encodes
    * into ONE standalone index (the SegmentMerger shape; also the
    * [[AddIndexes]] engine). All sources must carry the same levels
    * (collection_stats) — mixing a positioned index with a positions-less
    * one would silently demote terms, so it is rejected up front. */
  private[build] def rewriteMany(spark: SparkSession,
      sources: Seq[(String, DataFrame)], outDir: String,
      numPartitions: Int, blockPrune: Column = lit(true)): Unit = {
    import spark.implicits._
    val levels = Tables.read[CollectionStatsRow](spark,
        sources.map { case (d, _) => IndexPaths.collectionStats(d) }: _*)
      .as[CollectionStatsRow].collect()
      .map(cs => (cs.hasPositions, cs.hasOffsets, cs.hasPayloads)).distinct
    require(levels.length == 1,
      "rewriteMany: sources carry different levels (positions, offsets, payloads): " +
        levels.mkString(", "))
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath)) fs.delete(outPath, true)

    // docs + docstats: inner equi-join with the remap drops dead docs and
    // renumbers in one pass. Pending docvalue updates are FOLDED into the
    // rewritten tables here (the reference's merge-applies-updates
    // behavior) — the rewritten index carries no updates stream.
    def remapDocIdTable(parts: Seq[(DataFrame, DataFrame)],
                        outPathStr: String): Unit = {
      parts.map { case (df, remap) =>
        val outCols = df.columns.map(c =>
          if (c == "docId") col("newId").as("docId") else col(c))
        df.join(remap, df("docId") === remap("oldId"))
          .select(outCols.toIndexedSeq: _*)
      }.reduce(_.unionByName(_))
        .repartitionByRange(numPartitions, col("docId"))
        .sortWithinPartitions(col("docId"))
        .write.mode(SaveMode.Overwrite).parquet(outPathStr)
    }
    remapDocIdTable(sources.map { case (d, r) => (DocValues.readDocs(spark, d), r) },
      IndexPaths.docs(outDir))
    remapDocIdTable(sources.map { case (d, r) => (DocValues.readDocstats(spark, d), r) },
      IndexPaths.docstats(outDir))

    // postings: decode the blocks that pass `blockPrune`, each with the
    // blobs of its row (null lists where a term or the index has none) ->
    // equi-join the remap (inner join drops dead postings) ->
    // range-shuffle by (term, newId) -> streaming re-encode per partition
    // (ascending newIds per term within a partition; hot terms split
    // across partitions at newId boundaries, blocks stay self-contained)
    sources.map { case (d, remap) =>
      val blocks = Tables.read[PostingsTableRow](spark, IndexPaths.postings(d)).where(blockPrune)
      Posting.decode(blocks, PostingsTableRow.blobColumns)
        .join(remap, $"docId" === $"oldId")
        .select($"term", $"newId".as("docId"), $"tf", $"norm", $"positions", $"offsets", $"payloads")
    }.reduce(_ union _)
      .repartitionByRange(numPartitions, $"term", $"docId")
      .sortWithinPartitions($"term", $"docId")
      .as[Posting]
      .mapPartitions { it =>
        new PostingsReencoder(it, org.apache.spark.TaskContext.getPartitionId())
      }
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(outDir))

    // dictionary + collection stats recomputed from the rewritten tables
    IndexBuilder.buildDictAndStats(spark, outDir, numPartitions)
  }
}
