package graft.streaming

import graft.analysis.Analyzer
import graft.build.{CollectionStatsRow, DocStatRow, DocsTable, IndexBuilder, IndexPaths, ManifestRow, PostingsTableRow, Tables}
import graft.corpus.SourceFile
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental (streaming) indexing — the Spark restatement of the
  * reference's near-real-time path (SURVEY.md §2.6): Lucene's NRT is
  * DWPT-flushed segments made visible before commit
  * (reference: Index/DirectoryReader.cs:113 `Open(writer, ...)`,
  * Search/ControlledRealTimeReopenThread.cs), with background merges.
  *
  * Spark mapping: Structured Streaming `foreachBatch` — each micro-batch
  * becomes a new segment GENERATION (a full mini-index under
  * `root/gen=<batchId>`, docIds rebased past all previous generations),
  * idempotent on batch replay (a committed generation is never rebuilt —
  * the manifest is its `segments_N`). `compact()` is the merge policy: it
  * concatenates generation segments into one standard index dir — pure
  * concatenation, no re-tokenization, because generations own disjoint
  * ascending docId ranges and posting blocks are self-contained (the
  * design invariant the batch builder already relies on). */
/** A committed generation and its maxDoc. */
private final case class Committed(gen: Long, maxDoc: Long)

object StreamingIndexer {

  def genDir(root: String, batchId: Long): String = f"$root/gen=$batchId%06d"


  /** Committed generations, ascending, from one read over every
    * generation's manifest: a generation is committed once its manifest
    * holds a stats row, and that row carries the generation's maxDoc. */
  private def committed(spark: SparkSession, root: String): Seq[Committed] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val manifests = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .map(s => IndexPaths.manifest(s.getPath.toString))
      .filter(m => fs.exists(new org.apache.hadoop.fs.Path(m)))
    if (manifests.isEmpty) return Nil
    Tables.read[ManifestRow](spark, manifests: _*)
      .where($"stage" === "stats")
      .select(regexp_extract(col("_metadata.file_path"), "/gen=(\\d+)/manifest/[^/]*$", 1)
        .cast("long").as("gen"), $"docCount".as("maxDoc"))
      .as[Committed].collect().toSeq.sortBy(_.gen)
  }

  /** Committed generations, ascending. */
  def generations(spark: SparkSession, root: String): Seq[Long] =
    committed(spark, root).map(_.gen)

  /** Sum of maxDoc over committed generations = next docId base. */
  def totalDocs(spark: SparkSession, root: String): Long =
    committed(spark, root).map(_.maxDoc).sum

  /** Index one micro-batch as a new generation. Idempotent: if the
    * generation is already committed (stats stage in its manifest), the
    * replayed batch is a no-op — exactly-once indexing on top of
    * Structured Streaming's at-least-once foreachBatch. */
  def appendBatch(spark: SparkSession, batch: Dataset[SourceFile], root: String,
                  batchId: Long, numPartitions: Int = 8,
                  analyzerFor: String => Analyzer = Analyzer.forLang,
                  indexPositions: Boolean = false,
                  indexOffsets: Boolean = false): Unit =
    IndexBuilder.labelled(spark, "streaming.append", genDir(root, batchId)) {
      append(spark, batch, root, batchId, committed(spark, root), numPartitions,
        analyzerFor, indexPositions, indexOffsets)
    }

  /** [[appendBatch]] over an already-listed set of committed generations. */
  private def append(spark: SparkSession, batch: Dataset[SourceFile], root: String,
                     batchId: Long, gens: Seq[Committed], numPartitions: Int,
                     analyzerFor: String => Analyzer, indexPositions: Boolean,
                     indexOffsets: Boolean): Unit = {
    if (gens.exists(_.gen == batchId)) return // replay
    IndexBuilder.build(spark, batch, genDir(root, batchId), numPartitions, resume = false,
      analyzerFor, docIdBase = gens.map(_.maxDoc).sum, indexPositions = indexPositions,
      indexOffsets = indexOffsets)
  }

  /** IndexWriter.UpdateDocument analog (reference: Index/IndexWriter.cs
    * `UpdateDocument(Term, doc)` = atomic delete-by-term + add): every doc
    * in `batch` REPLACES any existing doc with the same `path` (the
    * primary-key term). Old versions across all committed generations are
    * tombstoned, then the batch indexes as a new generation; the
    * multi-generation reader sees only the new versions, like the
    * reference's NRT reader after an update. Old postings remain until
    * compaction folds the tombstones — reference semantics (deleted docs
    * still count in df until merge). The old versions are found by one
    * metadata semi-join over every generation's docsTable (docId-keyed
    * and path-carrying); their ids, at most a few per updated path, are
    * collected and each generation's share is appended to its
    * tombstones. A replayed, already committed batch is a no-op. */
  def updateDocuments(spark: SparkSession, batch: Dataset[SourceFile],
                      root: String, batchId: Long, numPartitions: Int = 8,
                      analyzerFor: String => Analyzer = Analyzer.forLang): Unit =
      IndexBuilder.labelled(spark, "streaming.update", genDir(root, batchId)) {
    import spark.implicits._
    val gens = committed(spark, root)
    if (gens.nonEmpty && !gens.exists(_.gen == batchId)) {
      val newPaths = batch.select(col("path")) // a semi-join needs no distinct
      val dead = gens.map(g => DocsTable.read(spark, genDir(root, g.gen))
          .select(lit(g.gen).as("gen"), col("docId"), col("path")))
        .reduce(_ unionByName _)
        .join(newPaths, Seq("path"), "left_semi")
        .select($"gen", $"docId").as[(Long, Long)].collect()
      for ((g, ids) <- dead.groupBy(_._1))
        graft.build.Deletes.deleteDocs(spark, genDir(root, g),
          spark.createDataset(ids.map(_._2).toSeq).coalesce(1))
    }
    append(spark, batch, root, batchId, gens, numPartitions, analyzerFor,
      indexPositions = false, indexOffsets = false)
  }

  /** LiveFieldValues analog (reference:
    * /root/reference/src/Lucene.Net/Search/LiveFieldValues.cs:30-120):
    * the reference tracks id→value in a RAM map so searchers see a key's
    * LAST indexed value before any reader refresh; here every generation
    * is immediately readable, so the contract is one relational read:
    * per primary key (`path`), the requested field from the NEWEST
    * generation whose doc is still live (per-generation tombstones
    * respected — an updateDocuments delete in gen g hides older values
    * the same way the reference's delete purges the map). One
    * struct-max aggregation, map-side combinable: max(struct(gen, docId,
    * value)) per key. */
  def liveFieldValues(spark: SparkSession, root: String,
                      field: String): DataFrame = {
    import spark.implicits._
    val gens = generations(spark, root)
    require(gens.nonEmpty, s"no generations under $root")
    val perGen = gens.map { b =>
      val dir = genDir(root, b)
      val dead = graft.build.Deletes.tombstones(spark, dir).toDF("deadId")
      graft.build.DocsTable.read(spark, dir)
        .join(dead, col("docId") === col("deadId"), "left_anti")
        .select(col("path"), lit(b).as("gen"), col("docId"),
          col(field).cast("string").as("value"))
    }
    perGen.reduce(_.unionByName(_))
      .groupBy(col("path"))
      .agg(max(struct(col("gen"), col("docId"), col("value"))).as("w"))
      .select(col("path"), col("w.value").as(field))
  }

  /** Start the streaming indexer on a SourceFile stream. */
  def start(stream: Dataset[SourceFile], root: String, checkpoint: String,
            numPartitions: Int = 8,
            analyzerFor: String => Analyzer = Analyzer.forLang,
            trigger: Trigger = Trigger.AvailableNow(),
            indexPositions: Boolean = false,
            indexOffsets: Boolean = false): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[SourceFile], batchId: Long) =>
        appendBatch(batch.sparkSession, batch, root, batchId, numPartitions,
          analyzerFor, indexPositions, indexOffsets)
      }
      .start()

  /** Merge policy: concatenate all committed generations into one
    * standard index at `outDir` (readable by IndexReader/Searcher).
    * Postings blocks are copied as-is — only re-range-partitioned and
    * re-sorted by (term, firstDocId) so dictionary pruning works, their
    * blobs kept up to the lowest level of the generations — and the
    * global term_dict / collection_stats are re-aggregated. */
  def compact(spark: SparkSession, root: String, outDir: String,
              numPartitions: Int = 8): Unit = {
    val gens = generations(spark, root)
    require(gens.nonEmpty, s"no committed generations under $root")
    compactDirs(spark, gens.map(genDir(root, _)), outDir, numPartitions)
  }

  /** One concatenation merge over an explicit set of generation dirs —
    * the OneMerge executor [[compact]] and [[maintainTiered]] share.
    * Tombstones of the inputs are UNIONED into the output (docIds are
    * global across generations), so updateDocuments' per-generation
    * deletes survive a merge instead of resurrecting old versions. */
  def compactDirs(spark: SparkSession, dirs: Seq[String], outDir: String,
                  numPartitions: Int = 8): Unit = {
    import spark.implicits._
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath)) fs.delete(outPath, true)

    dirs.map(d => DocsTable.read(spark, d)).reduce(_ unionByName _)
      .repartitionByRange(numPartitions, $"docId").sortWithinPartitions($"docId")
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.docs(outDir))
    val (docstats, docTotals) = IndexBuilder.countDocTotals(spark,
      Tables.read[DocStatRow](spark, dirs.map(IndexPaths.docstats): _*)
        .repartitionByRange(numPartitions, $"docId").sortWithinPartitions($"docId"))
    docstats.write.mode(SaveMode.Overwrite).parquet(IndexPaths.docstats(outDir))
    // the output's level is the lowest of its inputs' (the FieldInfos
    // downgrade): a blob column above it is written null
    val inputs = Tables.read[CollectionStatsRow](spark, dirs.map(IndexPaths.collectionStats): _*)
      .as[CollectionStatsRow].collect()
    val kept = PostingsTableRow.blobColumns.zip(
      Seq[CollectionStatsRow => Boolean](_.hasPositions, _.hasOffsets, _.hasPayloads)
        .map(level => inputs.forall(level))).toMap
    val postings = Tables.read[PostingsTableRow](spark, dirs.map(IndexPaths.postings): _*)
    postings.select(postings.columns.toIndexedSeq.map(c =>
        if (kept.getOrElse(c, true)) col(c) else lit(null).cast("binary").as(c)): _*)
      .repartitionByRange(numPartitions, $"term", $"firstDocId")
      .sortWithinPartitions($"term", $"firstDocId")
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(outDir))

    val (maxDoc, sumTtf) = docTotals()
    val cs = IndexBuilder.writeDictAndStats(spark, outDir, numPartitions, maxDoc, sumTtf)
    val now = System.currentTimeMillis()
    spark.createDataset(Seq(
      ManifestRow("docs", 0, null, null, cs.maxDoc, cs.maxDoc, 0L, 0L, now),
      ManifestRow("flush", 0, null, null, cs.maxDoc, cs.maxDoc, 0L, 0L, now),
      ManifestRow("postings", 0, null, null, cs.maxDoc, cs.maxDoc, 0L, 0L, now),
      ManifestRow("stats", 0, null, null, cs.maxDoc, cs.maxDoc, 0L, 0L, now)))
      .coalesce(1).write.mode(SaveMode.Append).parquet(IndexPaths.manifest(outDir))

    // carry tombstones: global docIds make a plain union correct
    val tombDirs = dirs.map(graft.build.Deletes.tombstonesPath)
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (tombDirs.nonEmpty)
      spark.read.parquet(tombDirs: _*).select($"docId").distinct()
        .repartition(1).write.mode(SaveMode.Overwrite)
        .parquet(graft.build.Deletes.tombstonesPath(outDir))
  }

  /** Background-merge maintenance with the REAL default policy
    * ([[graft.build.TieredMergePolicy]]): feed the committed generations'
    * (bytes, docCount, tombstoneCount) to FindMerges, execute each chosen
    * OneMerge as a [[compactDirs]] concatenation written IN PLACE of the
    * lowest merged generation id (the merged gens' docId ranges are
    * disjoint and global, so ids and search results are unchanged), and
    * drop the swallowed generations. Returns the executed merge specs
    * (generation-id lists). Unlike [[compact]] this keeps the index
    * multi-generation — the reference's steady-state shape where merges
    * bound generation count without ever rewriting everything at once. */
  def maintainTiered(spark: SparkSession, root: String,
                     cfg: graft.build.TieredMergePolicy.Config =
                       graft.build.TieredMergePolicy.Config(),
                     numPartitions: Int = 8): Seq[Seq[Long]] = {
    val segs = segStats(spark, root).map { case (g, bytes, maxDoc, dels) =>
      graft.build.TieredMergePolicy.Seg(g, bytes, maxDoc, dels)
    }
    val merges = graft.build.TieredMergePolicy.findMerges(segs, Set.empty, cfg)
    executeMerges(spark, root, merges.map(_.ids), numPartitions)
  }

  /** Background-merge maintenance with [[graft.build.LogMergePolicy]] —
    * the adjacent-runs-only policy family (LogByteSize/LogDoc). Because
    * generation ids ARE arrival order and Log merges only adjacent
    * windows, the merged index keeps ingestion order end to end — the
    * policy for time-sorted corpora with order-based early termination.
    * Same stats feed and OneMerge executor as [[maintainTiered]]. */
  def maintainLog(spark: SparkSession, root: String,
                  cfg: graft.build.LogMergePolicy.Config =
                    graft.build.LogMergePolicy.logByteSize,
                  numPartitions: Int = 8): Seq[Seq[Long]] = {
    // generations() is id-sorted = arrival order: exactly the adjacency
    // the Log policy's windows assume
    val segs = segStats(spark, root).map { case (g, bytes, maxDoc, dels) =>
      graft.build.LogMergePolicy.Seg(g, bytes, maxDoc, dels)
    }
    val merges = graft.build.LogMergePolicy.findMerges(segs, cfg)
    executeMerges(spark, root, merges.map(_.ids), numPartitions)
  }

  /** Per committed generation: (id, dir bytes, maxDoc, tombstone count) —
    * the stats feed both merge policies consume. */
  private def segStats(spark: SparkSession,
                       root: String): Seq[(Long, Long, Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    committed(spark, root).map { c =>
      val d = genDir(root, c.gen)
      val bytes =
        fs.getContentSummary(new org.apache.hadoop.fs.Path(d)).getLength
      val dels = graft.build.Deletes.tombstones(spark, d).count()
      (c.gen, bytes, c.maxDoc, dels)
    }
  }

  /** Execute chosen merges: each id-list concatenates into the lowest
    * merged generation id (docId ranges are disjoint and global, so ids
    * and search results are unchanged); swallowed generations dropped. */
  private def executeMerges(spark: SparkSession, root: String,
                            merges: Seq[Seq[Long]],
                            numPartitions: Int): Seq[Seq[Long]] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    merges.map { m =>
      val ids = m.sorted
      val tmp = s"$root/.merge-${ids.head}"
      compactDirs(spark, ids.map(genDir(root, _)), tmp, numPartitions)
      ids.foreach(g => fs.delete(new org.apache.hadoop.fs.Path(genDir(root, g)), true))
      fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(genDir(root, ids.head)))
      ids
    }
  }
}
