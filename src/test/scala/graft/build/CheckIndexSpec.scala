package graft.build

import graft.SparkTestSession
import graft.corpus.CorpusGen
import graft.postings.PostingsCodec
import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

/** CheckIndex's blob checks: each postings row's positions blob must
  * count tf entries per posting, and a term carries blobs on all of its
  * blocks or on none. Each case corrupts one row of a copy of a clean
  * positions index and expects exactly that problem reported. */
class CheckIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** 300 docs over 2 build partitions, so most terms span two blocks. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = SparkTestSession.tmpDir("graft-check-")
    IndexBuilder.build(spark, spark.createDataset((0L until 300L).map(CorpusGen.doc)), d,
      numPartitions = 2, indexPositions = true)
    d
  }

  /** A copy of [[dir]] whose postings rows are `edit` of the original's. */
  private def copyWith(edit: Array[PostingsTableRow] => Array[PostingsTableRow]): String = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val out = SparkTestSession.tmpDir("graft-check-copy-") + "/idx"
    val fs = new Path(dir).getFileSystem(conf)
    FileUtil.copy(fs, new Path(dir), fs, new Path(out), false, conf)
    val rows = Tables.read[PostingsTableRow](spark, IndexPaths.postings(dir))
      .as[PostingsTableRow].collect()
    fs.delete(new Path(IndexPaths.postings(out)), true)
    spark.createDataset(edit(rows).toSeq).coalesce(1).write.parquet(IndexPaths.postings(out))
    out
  }

  private val mixedOrMiscounted = "1 terms with miscounted/mixed positions blobs"

  test("an unchanged copy checks clean") {
    val report = CheckIndex.check(spark, copyWith(identity))
    assert(report.ok, report.problems.mkString("; "))
    assert(new graft.search.IndexReader(spark, dir).hasPositions)
  }

  test("a positions blob whose entry count differs from tf is reported") {
    val bad = copyWith { rows =>
      val i = rows.indexWhere(_.posBytes != null)
      val r = rows(i)
      val ps = PostingsCodec.decodePositionsBlock(r.numDocs, r.posBytes)
      ps(0) = ps(0) :+ (ps(0).last + 1) // one position more than tf
      rows.updated(i, r.copy(posBytes = PostingsCodec.encodePositionsBlock(ps)))
    }
    assert(CheckIndex.check(spark, bad).problems === Seq(mixedOrMiscounted))
  }

  test("a term with positions on some of its blocks only is reported") {
    val bad = copyWith { rows =>
      val term = rows.groupBy(_.term).collectFirst {
        case (t, rs) if rs.length > 1 && rs.forall(_.posBytes != null) => t
      }.get
      val i = rows.indexWhere(_.term == term)
      rows.updated(i, rows(i).copy(posBytes = null))
    }
    assert(CheckIndex.check(spark, bad).problems === Seq(mixedOrMiscounted))
  }
}
