package graft.build

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One row per build partition: `offset` = docId of that partition's first
  * doc (cumulative counts in partition order, plus the build's docIdBase). */
final case class DocOffsetRow(pid: Int, offset: Long, rows: Long)

/** Canonical read view of the stored-fields table.
  *
  * A freshly built index does NOT materialize global docIds: the fused
  * flush stage writes stored docs under `flush/kind=d` with partition-
  * local ordinals, and the sibling `docs_offsets` table carries each
  * partition's starting docId. [[read]] reconstitutes
  * `docId = offset(segId) + localId` via a broadcast join (map-side,
  * codegen'd — no shuffle) and yields the canonical
  * `(docId, repo, path, commit, lang, content, sha256)` schema.
  * Rewritten indexes (Deletes.expunge / StreamingIndexer.compact output)
  * materialize `docId` directly under `docs/`; absence of `docs_offsets`
  * selects that branch. */
object DocsTable {

  def offsetsPath(dir: String): String = s"$dir/docs_offsets"

  def read(spark: SparkSession, dir: String): DataFrame = {
    val offP = new org.apache.hadoop.fs.Path(offsetsPath(dir))
    val fs = offP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(offP))
      Tables.read[DocRow](spark, IndexPaths.docs(dir))
        .select("docId", "repo", "path", "commit", "lang", "content", "sha256")
    else {
      val off = Tables.read[DocOffsetRow](spark, offsetsPath(dir)).select("pid", "offset")
      Tables.read[FlushRow](spark, IndexPaths.flush(dir)).where(col("kind") === "d")
        .join(broadcast(off), col("segId") === col("pid"))
        .select((col("offset") + col("docId")).as("docId"),
          col("repo"), col("path"), col("commit"), col("lang"),
          col("content"), col("sha256"))
    }
  }
}
