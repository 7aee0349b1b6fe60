package graft.build

import graft.postings.PostingsCodec
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Index splitting — carve one index into self-contained sub-indexes
  * WITHOUT re-indexing the corpus (reference:
  * /root/reference/src/Lucene.Net.Misc/Index/MultiPassIndexSplitter.cs —
  * N passes, each marking the out-of-shard docs deleted then writing the
  * survivors; and PKIndexSplitter.cs — a Filter decides which docs go to
  * the first output, the rest to the second). This is the
  * shard-rebalancing primitive: split a fat index into per-executor
  * shards, peel a docId range into its own index, or separate a corpus on
  * a primary-key predicate.
  *
  * Spark-native restatement, keeping the reference's N-pass shape (pass k
  * touches only shard k's data):
  *   - [[split]]: shard k owns the contiguous docId range
  *     [bounds(k), bounds(k+1)) — the PKIndexSplitter boundary model
  *     generalized to N shards; posting blocks are PRUNED by their
  *     [firstDocId, lastDocId] metadata before decode (a block strictly
  *     outside the shard range is never read — the reference's per-pass
  *     liveDocs skip, done relationally);
  *   - [[splitByFilter]]: the PKIndexSplitter Filter form — an arbitrary
  *     predicate over the doc-metadata table decides membership, docs
  *     matching go to shard 0 and the rest to shard 1 (PKIndexSplitter
  *     .cs:33-35 "All documents that match the filter are sent to dir1,
  *     remaining ones to dir2"). No metadata prune is possible (any block
  *     may hold survivors of an arbitrary predicate — the reference
  *     likewise walks all postings for both outputs); membership is a
  *     semi/anti equi-join of decoded postings against the keep-id set;
  *   - original docIds are PRESERVED (no DocMap): shard docId spaces are
  *     disjoint, so the shards together read as one index via
  *     [[graft.search.IndexReader.multi]] — union postings, re-aggregated
  *     dictionary/stats — and must reproduce the unsplit index's answers
  *     bit-for-bit (the splitter's correctness gate);
  *   - pending docvalue updates are folded and tombstones dropped, the
  *     same merge-applies-everything behavior as [[Deletes.expunge]].
  */
object IndexSplitter {

  def shardDir(root: String, k: Int): String = f"$root/shard=$k%04d"

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  private def deleteIfExists(spark: SparkSession, p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  /** Write one output shard: `keepDoc` filters any docId-carrying frame
    * to the shard's live membership (range or keep-set, tombstones
    * already folded in by the caller); `blockPrune` skips posting blocks
    * that provably hold no member before any decode happens. */
  private def carve(spark: SparkSession, dir: String, sd: String,
      blockPrune: Column, keepDoc: DataFrame => DataFrame,
      numPartitions: Int): Unit = {
    import spark.implicits._

    val hasPositions = pathExists(spark, IndexPaths.positions(dir))
    val hasOffsets = pathExists(spark, IndexPaths.offsets(dir))
    val hasPayloads = pathExists(spark, IndexPaths.payloads(dir))

    def writeDocTable(df: DataFrame, out: String): Unit =
      keepDoc(df)
        .repartitionByRange(numPartitions, $"docId")
        .sortWithinPartitions($"docId")
        .write.mode(SaveMode.Overwrite).parquet(out)

    writeDocTable(DocValues.readDocs(spark, dir), IndexPaths.docs(sd))
    writeDocTable(DocValues.readDocstats(spark, dir), IndexPaths.docstats(sd))

    // posting blocks surviving the metadata prune: decode, keep member
    // docs, re-encode per partition.
    if (!hasPositions && !hasOffsets && !hasPayloads) {
      val decoded = spark.read.parquet(IndexPaths.postings(dir))
        .where(blockPrune)
        .select(PostingRow.columns: _*).as[PostingRow]
        .flatMap { r =>
          val (ids, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
          ids.indices.iterator.map(i => (r.term, ids(i), tfs(i), norms(i)))
        }.toDF("term", "docId", "tf", "norm")
      keepDoc(decoded)
        .repartitionByRange(numPartitions, $"term", $"docId")
        .sortWithinPartitions($"term", $"docId")
        .as[(String, Long, Int, Int)]
        .mapPartitions { it =>
          val segId = org.apache.spark.TaskContext.getPartitionId()
          new PostingsReencoder(it, segId)
        }
        .write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(sd))
    } else {
      // sidecar-aligned rewrite (same join shape as Deletes.expunge:
      // LEFT joins let DOCS_ONLY keyword terms pass with null blobs)
      val t = spark.read.parquet(IndexPaths.postings(dir))
        .where(blockPrune)
        .select($"term", $"firstDocId", $"numDocs", $"bytes")
        .toDF("term", "firstDocId", "tn", "tbytes")
      def withSidecar(df: DataFrame, has: Boolean, path: String, as: String): DataFrame =
        if (has)
          df.join(spark.read.parquet(path)
            .select($"term", $"firstDocId", $"bytes").toDF("term", "firstDocId", as),
            Seq("term", "firstDocId"), "left_outer")
        else df.withColumn(as, lit(null).cast("binary"))
      val joined = withSidecar(withSidecar(withSidecar(t,
        hasPositions, IndexPaths.positions(dir), "pbytes"),
        hasOffsets, IndexPaths.offsets(dir), "obytes"),
        hasPayloads, IndexPaths.payloads(dir), "ybytes")
      val decoded = joined
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
          ids.indices.iterator
            .map(i => (term, ids(i), tfs(i), norms(i), poss(i), offs(i), pays(i)))
        }.toDF("term", "docId", "tf", "norm", "ps", "os", "ys")
      val combined = keepDoc(decoded)
        .repartitionByRange(numPartitions, $"term", $"docId")
        .sortWithinPartitions($"term", $"docId")
        .as[(String, Long, Int, Int, Array[Int], Array[Int], Array[Array[Byte]])]
        .mapPartitions { it =>
          val segId = org.apache.spark.TaskContext.getPartitionId()
          new PostingsSidecarReencoder(it, segId)
        }.toDF("post", "posBytes", "offBytes", "payBytes")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      combined.select(col("post.*"))
        .write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(sd))
      def writeSidecar(byteCol: String, out: String): Unit =
        combined.where(col(byteCol).isNotNull)
          .select(col("post.term").as("term"),
            col("post.firstDocId").as("firstDocId"),
            col("post.lastDocId").as("lastDocId"),
            col("post.numDocs").as("numDocs"),
            col("post.segId").as("segId"),
            col(byteCol).as("bytes"))
          .write.mode(SaveMode.Overwrite).parquet(out)
      if (hasPositions) writeSidecar("posBytes", IndexPaths.positions(sd))
      if (hasOffsets) writeSidecar("offBytes", IndexPaths.offsets(sd))
      if (hasPayloads) writeSidecar("payBytes", IndexPaths.payloads(sd))
      combined.unpersist()
    }

    IndexBuilder.buildDictAndStats(spark, sd, numPartitions)
  }

  /** Split `dir` into `numShards` contiguous-docId-range sub-indexes under
    * `outRoot`; returns the shard directories in order. */
  def split(spark: SparkSession, dir: String, outRoot: String, numShards: Int,
            numPartitions: Int = 4): Seq[String] = {
    import spark.implicits._
    require(numShards >= 2, s"numShards must be >= 2, got $numShards")
    deleteIfExists(spark, outRoot)

    val b = spark.read.parquet(IndexPaths.docstats(dir))
      .agg(min($"docId"), max($"docId")).head()
    val minId = b.getLong(0); val maxId = b.getLong(1)
    val span = maxId - minId + 1
    // equal-width boundaries over the id span (ids are dense in
    // standard builds, so equal width == equal count)
    val bounds = (0 to numShards).map(k => minId + span * k / numShards)

    val dead = Deletes.tombstones(spark, dir).toDF("deadId").distinct()

    (0 until numShards).map { k =>
      val lo = bounds(k); val hi = bounds(k + 1)
      val sd = shardDir(outRoot, k)
      carve(spark, dir, sd,
        blockPrune = $"lastDocId" >= lo && $"firstDocId" < hi,
        keepDoc = df => df.where(df("docId") >= lo && df("docId") < hi)
          .join(dead, df("docId") === $"deadId", "left_anti"),
        numPartitions = numPartitions)
      sd
    }
  }

  /** MultiPassIndexSplitter's round-robin mode (reference:
    * Misc/Index/MultiPassIndexSplitter.cs:40-75 — `seq=false` assigns doc
    * i to part (i mod numParts); the `seq=true` contiguous mode is
    * [[split]]). Pass k keeps exactly the residue class k, so shard
    * sizes differ by at most one — the balanced-shard primitive when
    * docId ranges correlate with age or size. Like the reference (each
    * pass writes through `IndexWriter.AddIndexes` over a liveDocs-masked
    * reader, which COMPACTS ids), every shard is renumbered to its own
    * dense 0-based docId space: the same [[DenseIds.assign]] +
    * [[Deletes.rewriteWithRemap]] composition as [[splitByFilter]], once
    * per residue class. (The id-preserving union-readable variant is
    * [[split]]; residue classes can't keep original ids AND stay dense.) */
  def splitRoundRobin(spark: SparkSession, dir: String, outRoot: String,
      numShards: Int, numPartitions: Int = 4): Seq[String] = {
    import spark.implicits._
    require(numShards >= 2, s"numShards must be >= 2, got $numShards")
    deleteIfExists(spark, outRoot)
    val dead = Deletes.tombstones(spark, dir).toDF("deadId").distinct()
    val live = spark.read.parquet(IndexPaths.docstats(dir))
      .join(dead, $"docId" === $"deadId", "left_anti")
    (0 until numShards).map { k =>
      val sd = shardDir(outRoot, k)
      val keep = live.where(pmod($"docId", lit(numShards.toLong)) === k)
        .select($"docId".as("oldId"))
      val remap = DenseIds.assign(keep, "oldId", "newId", numPartitions, base = 0L)
      Deletes.rewriteWithRemap(spark, dir, sd, remap, numPartitions)
      sd
    }
  }

  /** PKIndexSplitter (reference: Misc/Index/PKIndexSplitter.cs): split on
    * an arbitrary predicate over the doc-metadata (docstats) table — the
    * Filter. Docs matching go to shard 0, the rest to shard 1
    * (PKIndexSplitter.cs:33-35); each output is a complete standalone
    * index with its own dense docId space, dictionary and stats — the
    * reference writes each side through `IndexWriter.AddIndexes` over a
    * liveDocs-masked reader, which COMPACTS docIds, so renumbering is the
    * reference behavior (unlike [[split]], whose contiguous ranges can
    * keep original ids). Pure composition: the keep set is a predicate
    * scan, the renumbering is [[DenseIds.assign]], and the rewrite is the
    * same [[Deletes.rewriteWithRemap]] that expunge and the index sorter
    * use — docs absent from the remap are dropped, everything else
    * re-encodes in newId order.
    * Returns (matching shard dir, remaining shard dir). */
  def splitByFilter(spark: SparkSession, dir: String, outRoot: String,
      predicate: Column, numPartitions: Int = 4): (String, String) = {
    import spark.implicits._
    deleteIfExists(spark, outRoot)

    val dead = Deletes.tombstones(spark, dir).toDF("deadId").distinct()
    val live = spark.read.parquet(IndexPaths.docstats(dir))
      .join(dead, $"docId" === $"deadId", "left_anti")
    // complement via except (not !predicate): a null-valued predicate
    // row must land in exactly one shard, the reference's "remaining"
    val keep0 = live.where(predicate).select($"docId".as("oldId"))
    val keep1 = live.select($"docId".as("oldId")).except(keep0)

    val sd0 = shardDir(outRoot, 0); val sd1 = shardDir(outRoot, 1)
    for ((keep, sd) <- Seq((keep0, sd0), (keep1, sd1))) {
      val remap = DenseIds.assign(keep, "oldId", "newId", numPartitions, base = 0L)
      Deletes.rewriteWithRemap(spark, dir, sd, remap, numPartitions)
    }
    (sd0, sd1)
  }
}
