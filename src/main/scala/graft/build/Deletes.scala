package graft.build

import graft.postings.PostingsCodec
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deletes as tombstones (reference model: buffered term/query deletes
  * applied through a liveDocs bitset — Index/BufferedUpdatesStream.cs,
  * Codecs/LiveDocsFormat.cs — restated relationally): an append-only
  * `tombstones/` table of docIds next to the index. Search anti-joins
  * against it; global statistics (df, ttf, maxDoc) intentionally DON'T
  * change until a merge, exactly like the reference (deleted docs still
  * count in idf until expunge).
  *
  * [[expunge]] is the SegmentMerger-with-DocMap analog: drop tombstoned
  * docs, re-assign dense ascending docIds (DocMap rebase — reference:
  * Index/MergeState.cs:42-44), rewrite posting blocks through
  * decode→remap→encode, and recompute the dictionary + stats. */
/** Streaming re-encoder for (term, docId, tf, norm) rows sorted by
  * (term, docId) within a partition: buffers one term's run in primitive
  * arrays and emits self-contained posting blocks on term change (a
  * budget flush mid-run would also be valid — blocks are independent —
  * but a partition's run of one term is at most the partition size). */
private final class PostingsReencoder(it: Iterator[(String, Long, Int, Int)],
    segId: Int) extends Iterator[PostingRow] {
  private val out = scala.collection.mutable.Queue.empty[PostingRow]
  private var curTerm: String = null
  private var n = 0
  private var ids = new Array[Long](128)
  private var tfs = new Array[Int](128)
  private var norms = new Array[Int](128)

  private def flush(): Unit = {
    if (curTerm == null || n == 0) return
    val bIds = java.util.Arrays.copyOf(ids, n)
    val bTfs = java.util.Arrays.copyOf(tfs, n)
    PostingsCodec.encodeBlocks(bIds, bTfs, java.util.Arrays.copyOf(norms, n))
      .foreach { b =>
        var s = 0L
        val from = java.util.Arrays.binarySearch(bIds, b.firstDocId)
        var i = 0
        while (i < b.numDocs) { s += bTfs(from + i); i += 1 }
        out.enqueue(PostingRow(curTerm, b.firstDocId, b.lastDocId, b.numDocs,
          b.maxTf, b.maxNorm, s, segId, b.bytes))
      }
    n = 0
  }

  override def hasNext: Boolean = {
    while (out.isEmpty && it.hasNext) {
      val (t, id, tf, norm) = it.next()
      if (t != curTerm) { flush(); curTerm = t }
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        tfs = java.util.Arrays.copyOf(tfs, n * 2)
        norms = java.util.Arrays.copyOf(norms, n * 2)
      }
      ids(n) = id; tfs(n) = tf; norms(n) = norm; n += 1
    }
    if (out.isEmpty) flush()
    out.nonEmpty
  }

  override def next(): PostingRow = {
    if (!hasNext) throw new NoSuchElementException
    out.dequeue()
  }
}

/** Combined postings+sidecar re-encoder: same contract as
  * [[PostingsReencoder]] but the sorted rows carry position lists and/or
  * flattened char-offset pairs, and every emitted posting block pairs
  * with its aligned sidecar blobs — one pass, so block boundaries
  * (term, firstDocId) agree by construction. Rows whose sidecar entry is
  * null (keyword/DOCS_ONLY terms, or a sidecar level the index lacks)
  * emit a null blob — the caller writes no sidecar row for them,
  * preserving the per-term IndexOptions through the rewrite. */
private final class PostingsSidecarReencoder(
    it: Iterator[(String, Long, Int, Int, Array[Int], Array[Int], Array[Array[Byte]])],
    segId: Int)
    extends Iterator[(PostingRow, Array[Byte], Array[Byte], Array[Byte])] {
  private val out = scala.collection.mutable
    .Queue.empty[(PostingRow, Array[Byte], Array[Byte], Array[Byte])]
  private var curTerm: String = null
  private var n = 0
  private var ids = new Array[Long](128)
  private var tfs = new Array[Int](128)
  private var norms = new Array[Int](128)
  private var poss = new Array[Array[Int]](128)
  private var offs = new Array[Array[Int]](128)
  private var pays = new Array[Array[Array[Byte]]](128)

  private def sidecarBytes[T <: AnyRef](slices: Array[T],
                                        enc: Array[T] => Array[Byte]): Array[Byte] = {
    val allNull = slices.forall(_ == null)
    require(allNull || slices.forall(_ != null),
      s"term $curTerm mixes sidecar-carrying and sidecar-less postings")
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
        out.enqueue((PostingRow(curTerm, b.firstDocId, b.lastDocId, b.numDocs,
          b.maxTf, b.maxNorm, s, segId, b.bytes),
          sidecarBytes(pSlice, PostingsCodec.encodePositionsBlock),
          sidecarBytes(oSlice, PostingsCodec.encodeOffsetsBlock),
          sidecarBytes(ySlice, PostingsCodec.encodePayloadsBlock)))
      }
    n = 0
  }

  override def hasNext: Boolean = {
    while (out.isEmpty && it.hasNext) {
      val (t, id, tf, norm, ps, os, ys) = it.next()
      if (t != curTerm) { flush(); curTerm = t }
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        tfs = java.util.Arrays.copyOf(tfs, n * 2)
        norms = java.util.Arrays.copyOf(norms, n * 2)
        poss = java.util.Arrays.copyOf(poss, n * 2)
        offs = java.util.Arrays.copyOf(offs, n * 2)
        pays = java.util.Arrays.copyOf(pays, n * 2)
      }
      ids(n) = id; tfs(n) = tf; norms(n) = norm
      poss(n) = ps; offs(n) = os; pays(n) = ys; n += 1
    }
    if (out.isEmpty) flush()
    out.nonEmpty
  }

  override def next(): (PostingRow, Array[Byte], Array[Byte], Array[Byte]) = {
    if (!hasNext) throw new NoSuchElementException
    out.dequeue()
  }
}

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
    val ids = spark.read.parquet(IndexPaths.postings(dir))
      .where($"term" === term)
      .select(PostingRow.columns: _*).as[PostingRow]
      .flatMap(r => PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)._1)
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
    * tombstones) and [[IndexSorter]] (remap ordered by a sort field). */
  private[build] def rewriteWithRemap(spark: SparkSession, dir: String,
      outDir: String, remap: DataFrame, numPartitions: Int): Unit =
    rewriteMany(spark, Seq(dir -> remap), outDir, numPartitions)

  /** Multi-source generalization of [[rewriteWithRemap]]: each source
    * index contributes its rows under its own remap, the union re-encodes
    * into ONE standalone index (the SegmentMerger shape; also the
    * [[AddIndexes]] engine). All sources must carry the same sidecar
    * levels — mixing a positioned index with a positions-less one would
    * silently demote terms, so it is rejected up front. */
  private[build] def rewriteMany(spark: SparkSession,
      sources: Seq[(String, DataFrame)], outDir: String,
      numPartitions: Int): Unit = {
    import spark.implicits._
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

    // postings: decode to rows -> equi-join the remap (inner join drops
    // dead postings) -> range-shuffle by (term, newId) -> streaming
    // re-encode per partition (ascending newIds per term within a
    // partition; hot terms split across partitions at newId boundaries,
    // blocks stay self-contained)
    def sidecarFlags(d: String): (Boolean, Boolean, Boolean) = (
      fs.exists(new org.apache.hadoop.fs.Path(IndexPaths.positions(d))),
      fs.exists(new org.apache.hadoop.fs.Path(IndexPaths.offsets(d))),
      fs.exists(new org.apache.hadoop.fs.Path(IndexPaths.payloads(d))))
    val flags = sources.map { case (d, _) => sidecarFlags(d) }
    require(flags.distinct.size == 1,
      s"rewriteMany: sources carry different sidecar levels: ${flags.mkString(", ")}")
    val (hasPositions, hasOffsets, hasPayloads) = flags.head
    if (!hasPositions && !hasOffsets && !hasPayloads) {
      val renumbered = sources.map { case (d, remap) =>
        spark.read.parquet(IndexPaths.postings(d))
          .select(PostingRow.columns: _*).as[PostingRow]
          .flatMap { r =>
            val (ids, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
            ids.indices.iterator.map(i => (r.term, ids(i), tfs(i), norms(i)))
          }.toDF("term", "oldId", "tf", "norm")
          .join(remap, Seq("oldId"))
          .select($"term", $"newId", $"tf", $"norm")
      }.reduce(_ union _)
        .repartitionByRange(numPartitions, $"term", $"newId")
        .sortWithinPartitions($"term", $"newId")
        .as[(String, Long, Int, Int)]
      val blocks = renumbered.mapPartitions { it =>
        val segId = org.apache.spark.TaskContext.getPartitionId()
        new PostingsReencoder(it, segId)
      }
      blocks.write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(outDir))
    } else {
      // sidecars present (positions and/or offsets): re-encode postings
      // AND sidecars in one pass so the rebuilt block boundaries stay
      // aligned. LEFT joins: keyword (DOCS_ONLY) terms legitimately have
      // no sidecar blobs — their postings pass through with null lists
      // instead of being dropped.
      def decodedFor(dir: String, remap: DataFrame): DataFrame = {
        val t = spark.read.parquet(IndexPaths.postings(dir))
          .select($"term", $"firstDocId", $"numDocs", $"bytes")
          .toDF("term", "firstDocId", "tn", "tbytes")
        val withP =
          if (hasPositions)
            t.join(spark.read.parquet(IndexPaths.positions(dir))
              .select($"term", $"firstDocId", $"bytes").toDF("term", "firstDocId", "pbytes"),
              Seq("term", "firstDocId"), "left_outer")
          else t.withColumn("pbytes", lit(null).cast("binary"))
        val withPO =
          if (hasOffsets)
            withP.join(spark.read.parquet(IndexPaths.offsets(dir))
              .select($"term", $"firstDocId", $"bytes").toDF("term", "firstDocId", "obytes"),
              Seq("term", "firstDocId"), "left_outer")
          else withP.withColumn("obytes", lit(null).cast("binary"))
        val withPOY =
          if (hasPayloads)
            withPO.join(spark.read.parquet(IndexPaths.payloads(dir))
              .select($"term", $"firstDocId", $"bytes").toDF("term", "firstDocId", "ybytes"),
              Seq("term", "firstDocId"), "left_outer")
          else withPO.withColumn("ybytes", lit(null).cast("binary"))
        withPOY
          .select($"term", $"firstDocId", $"tn", $"tbytes", $"pbytes", $"obytes", $"ybytes")
          .as[(String, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
          .flatMap { case (term, firstDocId, n, tbytes, pbytes, obytes, ybytes) =>
            val (ids, tfs, norms) = PostingsCodec.decodeBlock(firstDocId, n, tbytes)
            val poss =
              if (pbytes == null) Array.fill[Array[Int]](n)(null)
              else PostingsCodec.decodePositionsBlock(n, pbytes)
            val offs =
              if (obytes == null) Array.fill[Array[Int]](n)(null)
              else PostingsCodec.decodeOffsetsBlock(n, obytes)
            val pays =
              if (ybytes == null) Array.fill[Array[Array[Byte]]](n)(null)
              else PostingsCodec.decodePayloadsBlock(n, ybytes)
            ids.indices.iterator.map(i =>
              (term, ids(i), tfs(i), norms(i), poss(i), offs(i), pays(i)))
          }.toDF("term", "oldId", "tf", "norm", "ps", "os", "ys")
          .join(remap, Seq("oldId"))
          .select($"term", $"newId", $"tf", $"norm", $"ps", $"os", $"ys")
      }
      val renumbered = sources.map { case (d, r) => decodedFor(d, r) }
        .reduce(_ union _)
        .repartitionByRange(numPartitions, $"term", $"newId")
        .sortWithinPartitions($"term", $"newId")
        .as[(String, Long, Int, Int, Array[Int], Array[Int], Array[Array[Byte]])]
      val combined = renumbered.mapPartitions { it =>
        val segId = org.apache.spark.TaskContext.getPartitionId()
        new PostingsSidecarReencoder(it, segId)
      }.toDF("post", "posBytes", "offBytes", "payBytes")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      combined.select(col("post.*"))
        .write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(outDir))
      def writeSidecar(byteCol: String, outPathStr: String): Unit =
        combined.where(col(byteCol).isNotNull)
          .select(col("post.term").as("term"),
            col("post.firstDocId").as("firstDocId"),
            col("post.lastDocId").as("lastDocId"),
            col("post.numDocs").as("numDocs"),
            col("post.segId").as("segId"),
            col(byteCol).as("bytes"))
          .write.mode(SaveMode.Overwrite).parquet(outPathStr)
      if (hasPositions) writeSidecar("posBytes", IndexPaths.positions(outDir))
      if (hasOffsets) writeSidecar("offBytes", IndexPaths.offsets(outDir))
      if (hasPayloads) writeSidecar("payBytes", IndexPaths.payloads(outDir))
      combined.unpersist()
    }

    // dictionary + collection stats recomputed from the rewritten tables
    IndexBuilder.buildDictAndStats(spark, outDir, numPartitions)
  }
}
