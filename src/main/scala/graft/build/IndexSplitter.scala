package graft.build

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Every mode is a docId remap through the one index rewrite,
  * [[Deletes.rewriteWithRemap]], once per output (the reference's N-pass
  * shape): the remap holds the output's live docs, so tombstones are
  * dropped and pending docvalue updates folded, the same
  * merge-applies-everything behavior as [[Deletes.expunge]].
  *   - [[split]]: shard k owns the contiguous docId range
  *     [bounds(k), bounds(k+1)) — the PKIndexSplitter boundary model
  *     generalized to N shards. Its remap is the IDENTITY on the shard's
  *     live docs, so original docIds are PRESERVED: shard docId spaces are
  *     disjoint, and the shards together read as one index via
  *     [[graft.search.IndexReader.multi]] — union postings, re-aggregated
  *     dictionary/stats — that must reproduce the unsplit index's answers
  *     bit-for-bit (the splitter's correctness gate). Posting blocks are
  *     PRUNED by their [firstDocId, lastDocId] metadata before decode (a
  *     block strictly outside the shard range is never read — the
  *     reference's per-pass liveDocs skip, done relationally).
  *   - [[splitRoundRobin]] and [[splitByFilter]]: membership by residue
  *     class or by an arbitrary predicate, each shard renumbered dense
  *     (no block prune is possible: any block may hold members).
  */
object IndexSplitter {

  def shardDir(root: String, k: Int): String = f"$root/shard=$k%04d"

  private def deleteIfExists(spark: SparkSession, p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  /** The docstats rows of `dir`'s live (non-tombstoned) docs. */
  private def liveDocstats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dead = Deletes.tombstones(spark, dir).toDF("deadId").distinct()
    spark.read.parquet(IndexPaths.docstats(dir))
      .join(dead, $"docId" === $"deadId", "left_anti")
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

    val live = liveDocstats(spark, dir)
    (0 until numShards).map { k =>
      val lo = bounds(k); val hi = bounds(k + 1)
      val sd = shardDir(outRoot, k)
      val remap = live.where($"docId" >= lo && $"docId" < hi)
        .select($"docId".as("oldId"), $"docId".as("newId"))
      Deletes.rewriteWithRemap(spark, dir, sd, remap, numPartitions,
        blockPrune = $"lastDocId" >= lo && $"firstDocId" < hi)
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
    val live = liveDocstats(spark, dir)
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

    val live = liveDocstats(spark, dir)
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
