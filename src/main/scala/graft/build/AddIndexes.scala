package graft.build

import org.apache.spark.sql.SparkSession

/** IndexWriter.AddIndexes(Directory[]) analog (reference:
  * Index/IndexWriter.cs `AddIndexes` → SegmentMerger): N INDEPENDENTLY
  * built indexes — overlapping docIds and all — merge into one standalone
  * index. Per input: tombstones are folded (survivors only), pending
  * docvalue updates are applied, and docIds renumber densely in input
  * order (index i's survivors keep their relative order, based past index
  * i-1's live count). Postings re-encode, with their positions, offsets
  * and payloads, through the shared multi-source rewrite; dictionary +
  * collection stats rebuild from the merged postings. Unlike the NRT
  * generation union (IndexReader.multi — a read-time view over
  * pre-aligned docId ranges), this produces a single physical index
  * from inputs that never coordinated their ids.
  *
  * Shape at scale: each input contributes one decode scan + one remap
  * equi-join; the union takes ONE (term, newId) range shuffle into the
  * streaming re-encoders — the same cost as expunging the combined size,
  * no driver-side data. */
object AddIndexes {

  def addIndexes(spark: SparkSession, dirs: Seq[String], outDir: String,
                 numPartitions: Int = 8): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    require(dirs.nonEmpty, "addIndexes needs at least one source index")
    var base = 0L
    val sources = dirs.map { d =>
      val dead = Deletes.tombstones(spark, d).toDF("deadId").distinct()
      val local = DenseIds.assign(
        spark.read.parquet(IndexPaths.docstats(d)).select($"docId")
          .join(dead, $"docId" === $"deadId", "left_anti")
          .select($"docId".as("oldId")),
        "oldId", "localId", numPartitions, base = 0L)
      val remap = local.select($"oldId", ($"localId" + base).as("newId"))
      base += local.count() // localCheckpoint'd in DenseIds — count is cheap
      d -> remap
    }
    Deletes.rewriteMany(spark, sources, outDir, numPartitions)
  }
}
