package graft.search

import graft.SparkTestSession
import graft.build.{Deletes, IndexBuilder, IndexPaths, PostingRow}
import graft.corpus.CorpusGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The flat scorer's direct read on a 2-generation reader with
  * tombstones: the files its one job opens, the rows it reads and the
  * bytes it charges to its task. */
class PostingsFileScanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val gens: Seq[String] = {
    import spark.implicits._
    val root = SparkTestSession.tmpDir("graft-postings-files-")
    val dirs = Seq(s"$root/gen0", s"$root/gen1")
    IndexBuilder.build(spark, spark.createDataset((0L until 300L).map(CorpusGen.doc)),
      dirs(0), numPartitions = 3)
    IndexBuilder.build(spark, spark.createDataset((300L until 400L).map(CorpusGen.doc)),
      dirs(1), numPartitions = 3, docIdBase = 300L)
    Deletes.deleteDocs(spark, dirs(0), spark.createDataset(Seq(0L, 5L, 77L, 150L, 299L)))
    Deletes.deleteDocs(spark, dirs(1), spark.createDataset(Seq(300L, 333L, 399L)))
    dirs
  }

  private def reader = IndexReader.multi(spark, gens)

  /** The postings files of every generation (uncounted). */
  private def postingsFiles: Seq[String] = gens.flatMap { d =>
    val root = new org.apache.hadoop.fs.Path(IndexPaths.postings(d))
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
  }

  /** Whether the file's min and max term, as Spark orders strings,
    * bracket `t` (false for a file with no rows). */
  private def rangeHolds(file: String, t: String): Boolean = {
    import spark.implicits._
    spark.read.parquet(file)
      .agg(coalesce(min($"term") <= lit(t) && max($"term") >= lit(t), lit(false)))
      .as[Boolean].head()
  }

  /** The description of each job `f` launches, and the input bytes of
    * each of their tasks. */
  private def jobsOf(f: => Any): (Seq[String], Seq[Long]) = {
    val sc = spark.sparkContext
    val group = s"postings-files-${System.nanoTime()}"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
          descriptions.add(p.getProperty("spark.job.description"))
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) bytes.add(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "PostingsFileScanSpec")
      try f finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (descriptions.asScala.toSeq, bytes.asScala.toSeq)
  }

  /** The highest-df term of the dictionary (uncounted). */
  private lazy val term: String = {
    import spark.implicits._
    spark.read.parquet(IndexPaths.termDict(gens(0)))
      .orderBy($"df".desc, $"term").select($"term").as[String].first()
  }

  test("a TermQ opens only the postings files whose term range holds its term") {
    val files = postingsFiles
    val holding = files.count(rangeHolds(_, term))
    assert(holding > 0 && holding < files.size, s"$holding of ${files.size} files hold $term")
    val s = new Searcher(reader)
    s.search(TermQ(term), 5) // warm: dictionary, tombstones, file map
    val (descriptions, _) = jobsOf(s.search(TermQ(term), 5))
    assert(descriptions === Seq(s"search.scan ${gens(0)}: $holding/${files.size} postings files"))
    val hits = s.search(TermQ(term), 400)
    assert(hits.nonEmpty && !hits.exists(h => Set(0L, 5L, 77L, 150L, 299L, 300L, 333L, 399L)(h.docId)))
    assert(hits.toSeq === s.searchOracle(TermQ(term), 400).toSeq)
  }

  test("the direct read returns the Dataset scan's blocks and charges its bytes to its task") {
    import spark.implicits._
    val r = reader
    val rare = spark.read.parquet(IndexPaths.termDict(gens(1)))
      .orderBy($"df", $"term").select($"term").as[String].first()
    val terms = Seq(term, rare, "zz_absent")
    def key(p: PostingRow) = (p.term, p.firstDocId, p.lastDocId, p.numDocs, p.maxTf, p.maxNorm,
      p.sumTf, p.segId, p.bytes.toSeq)
    val direct = PostingsFile.read(spark.sparkContext.hadoopConfiguration,
      PostingsFile.holding(r.postingsFiles, terms), terms).toSeq
    assert(direct.map(_.term).toSet === Set(term, rare))
    assert(direct.map(key).sortBy(k => (k._1, k._2)) ===
      r.postingRows(terms).collect().toSeq.map(key).sortBy(k => (k._1, k._2)))
    val s = new Searcher(r)
    s.search(TermQ(term), 5) // warm
    val (_, bytes) = jobsOf(s.search(TermQ(term), 5))
    val opened = PostingsFile.holding(r.postingsFiles, Seq(term)).map(_.length).sum
    assert(bytes.size === 1 && bytes.head > 0 && bytes.head <= 2 * opened,
      s"read $bytes bytes of $opened in the opened files")
  }
}
