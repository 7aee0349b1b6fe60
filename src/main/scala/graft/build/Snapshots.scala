package graft.build

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** SnapshotDeletionPolicy analog (reference:
  * Index/SnapshotDeletionPolicy.cs + PersistentSnapshotDeletionPolicy.cs):
  * pin the index's CURRENT commit point so later deletes and docvalue
  * updates don't change what a pinned reader sees. Because postings,
  * stats and doc tables are immutable once committed and all mutation
  * is append-only (tombstones, the updates stream), a snapshot is
  * metadata-sized: a copy of the live tombstone set plus the updates-
  * generation watermark — no data files are copied or locked, exactly the
  * reference's keep-the-commit-alive idea re-expressed for immutable
  * parquet. Readers at a snapshot (`IndexReader.atSnapshot`) resolve
  * liveDocs from the pinned set; [[docstatsAt]] / [[docsAt]] resolve
  * docvalues at the watermark. */
object Snapshots {

  def root(dir: String): String = s"$dir/snapshots"
  def snapDir(dir: String, id: Long): String = f"${root(dir)}%s/snap=$id%06d"
  private def metaPath(dir: String, id: Long) = s"${snapDir(dir, id)}/meta"

  /** Existing snapshot ids, ascending. */
  def list(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("snap=")).map(_.stripPrefix("snap=").toLong).sorted
  }

  /** Pin the current commit point; returns the new snapshot id.
    *
    * Crash-atomic: the snapshot is STAGED under a `.tmp-snap-<id>` name
    * (invisible to [[list]], which filters on `snap=`) and RENAMED into
    * place only once both the tombstone copy and the meta watermark are
    * on disk — the rename is the commit marker, so a crash mid-create
    * can never leave a listed snapshot whose meta is missing (which
    * would break genWatermark/docstatsAt forever and shift id
    * allocation). Concurrency contract: like the reference's
    * SnapshotDeletionPolicy (which runs inside IndexWriter), create()
    * belongs to the single writer — tombstones and watermark are
    * captured between the writer's own operations, not under concurrent
    * mutation. */
  def create(spark: SparkSession, dir: String): Long = {
    import spark.implicits._
    val id = list(spark, dir).lastOption.map(_ + 1L).getOrElse(0L)
    val fs = new org.apache.hadoop.fs.Path(root(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"${root(dir)}/.tmp-snap-$id"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    fs.delete(tmpPath, true) // stale leftover from a crashed create()
    // tombstone set as of now (possibly empty — written anyway so the
    // snapshot is self-contained)
    Deletes.tombstones(spark, dir).toDF("docId").distinct()
      .repartition(1)
      .write.mode(SaveMode.ErrorIfExists)
      .parquet(Deletes.tombstonesPath(tmp))
    val gen =
      if (!DocValues.hasUpdates(spark, dir)) -1L
      else spark.read.parquet(DocValues.updatesPath(dir))
        .agg(coalesce(max(col("gen")), lit(-1L))).head().getLong(0)
    spark.createDataset(Seq((id, gen))).toDF("id", "genWatermark")
      .repartition(1).write.mode(SaveMode.ErrorIfExists).parquet(s"$tmp/meta")
    val target = new org.apache.hadoop.fs.Path(snapDir(dir, id))
    require(fs.rename(tmpPath, target),
      s"snapshot commit rename failed (target exists? $target)")
    id
  }

  /** The snapshot's docvalue-update generation watermark. */
  def genWatermark(spark: SparkSession, dir: String, id: Long): Long =
    spark.read.parquet(metaPath(dir, id)).select(col("genWatermark"))
      .head().getLong(0)

  /** docstats as of the snapshot (updates past the watermark ignored). */
  def docstatsAt(spark: SparkSession, dir: String, id: Long): DataFrame =
    DocValues.applyUpdates(spark, dir,
      spark.read.parquet(IndexPaths.docstats(dir)), genWatermark(spark, dir, id))

  /** Stored fields as of the snapshot. */
  def docsAt(spark: SparkSession, dir: String, id: Long): DataFrame =
    DocValues.applyUpdates(spark, dir, DocsTable.read(spark, dir),
      genWatermark(spark, dir, id))

  /** Drop a snapshot (release the pin). */
  def release(spark: SparkSession, dir: String, id: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(snapDir(dir, id))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}
