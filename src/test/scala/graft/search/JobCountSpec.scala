package graft.search

import graft.SparkTestSession
import graft.build.{CheckIndex, IndexBuilder}
import graft.corpus.CorpusGen
import graft.streaming.StreamingIndexer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The Spark-job floors of the serving and write paths. Serving, on a warm
  * searcher: a reader opens each table once, and a query looks its terms
  * up in the dictionary once. Writing: a build reads back no schema it
  * already knows and probes nothing a directory listing answers. Jobs are
  * counted by a listener filtered to the measured call's job group, so a
  * regression (a table re-opened per call, a second `termStats`, a
  * re-inferred schema, a re-added probe) raises the count and fails here. */
class JobCountSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val root = SparkTestSession.tmpDir("graft-jobs-")
  private def gen(i: Int) = s"$root/gen$i"

  /** The `graft.layer` label of each job launched in `group`, in order. */
  private final class GroupJobs(group: String) extends SparkListener {
    val layers = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
        layers.add(Option(p.getProperty(IndexBuilder.LayerProperty)).getOrElse("-"))
      }
  }

  /** The layer label of every Spark job `f` launches (its own and those
    * of threads it spawns). */
  private def jobLayersOf(f: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobcount-${System.nanoTime()}"
    val l = new GroupJobs(group)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "JobCountSpec")
      try f finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      l.layers.asScala.toSeq
    } finally sc.removeSparkListener(l)
  }

  private def jobsOf(f: => Any): Int = jobLayersOf(f).size

  override def beforeAll(): Unit = {
    import spark.implicits._
    // two generations with disjoint docId ranges, as the NRT writer lays them out
    IndexBuilder.build(spark, spark.createDataset((0L until 300L).map(CorpusGen.doc)),
      gen(0), numPartitions = 2)
    IndexBuilder.build(spark, spark.createDataset((300L until 400L).map(CorpusGen.doc)),
      gen(1), numPartitions = 2, docIdBase = 300L)
  }

  /** The two highest-df terms of generation 0 (driver-side, uncounted). */
  private lazy val Seq(a, b) = {
    import spark.implicits._
    spark.read.parquet(graft.build.IndexPaths.termDict(gen(0)))
      .orderBy($"df".desc, $"term").select($"term").as[String].take(2).toSeq
  }

  private def readers: Seq[(String, () => IndexReader)] = Seq(
    "single" -> (() => new IndexReader(spark, gen(0))),
    "2-generation multi" -> (() => IndexReader.multi(spark, Seq(gen(0), gen(1)))))

  for ((name, mk) <- readers) {
    test(s"$name reader: TermQ <= 3 jobs, with and without WAND pruning") {
      val k = 5
      val plain = new Searcher(mk())
      // pruneMinBlocks = 1: bootstrapTheta decodes the best block even on this small index
      val pruning = new Searcher(mk(), pruneMinBlocks = 1)
      for (s <- Seq(plain, pruning)) {
        s.search(TermQ(a), k) // warm: open the reader's tables, collection stats
        val n = jobsOf(s.search(TermQ(a), k))
        assert(n <= 3, s"TermQ ran $n jobs")
      }
      assert(plain.search(TermQ(a), k).toSeq === pruning.search(TermQ(a), k).toSeq)
    }

    test(s"$name reader: +a +b <= 4 jobs") {
      val s = new Searcher(mk())
      val q = BoolQ(must = Seq(TermQ(a), TermQ(b)))
      s.search(q, 5)
      val n = jobsOf(s.search(q, 5))
      assert(n <= 4, s"+a +b ran $n jobs")
    }
  }

  test("a reader with open table handles still serializes, without the handles") {
    def serializedSize(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size
    }
    val r = IndexReader.multi(spark, Seq(gen(0), gen(1)))
    val closed = serializedSize(r)
    Seq(r.postings, r.termDict, r.docstats, r.docsTable).foreach(t => assert(t.columns.nonEmpty))
    assert(serializedSize(r) === closed, "an open table handle was serialized")
    val s = new Searcher(r)
    s.search(TermQ(a), 5)
    assert(serializedSize(s) > 0)
  }

  // Write-path floors. Each is the count this tree reaches; the comment
  // gives the count before the build stopped re-inferring the schemas of
  // tables it had just written, probing sidecars with a job, repartitioning
  // single-row writes and reading its stats back.

  test("IndexBuilder.build with positions: per-stage job floors") {
    import spark.implicits._
    val dir = s"$root/build-pos"
    val layers = jobLayersOf(IndexBuilder.build(spark,
      spark.createDataset((0L until 200L).map(CorpusGen.doc)), dir,
      numPartitions = 2, indexPositions = true))
    val byLayer = layers.groupBy(identity).map { case (l, v) => l -> v.size }
    assert(layers.size <= 28, s"build ran ${layers.size} jobs: $byLayer") // was 58
    assert(byLayer.keySet === Set("build.flush", "build.postings", "build.stats"), byLayer)
    assert(byLayer("build.flush") <= 7, byLayer) // was 10
    assert(byLayer("build.postings") <= 11, byLayer) // was 24
    assert(byLayer("build.stats") <= 10, byLayer) // was 24
    assert(CheckIndex.check(spark, dir).ok)
  }

  /** An NRT root with two committed generations (uncounted set-up). */
  private def nrtRoot(name: String): String = {
    import spark.implicits._
    val r = s"$root/$name"
    StreamingIndexer.appendBatch(spark, spark.createDataset((0L until 100L).map(CorpusGen.doc)),
      r, 0, numPartitions = 2)
    StreamingIndexer.appendBatch(spark, spark.createDataset((100L until 150L).map(CorpusGen.doc)),
      r, 1, numPartitions = 2)
    r
  }

  test("appendBatch onto a 2-generation root: job floor") {
    import spark.implicits._
    val r = nrtRoot("nrt-append")
    val n = jobsOf(StreamingIndexer.appendBatch(spark,
      spark.createDataset((150L until 200L).map(CorpusGen.doc)), r, 2, numPartitions = 2))
    assert(n <= 25, s"appendBatch ran $n jobs") // was 61
    assert(StreamingIndexer.generations(spark, r) === Seq(0L, 1L, 2L))
    assert(StreamingIndexer.totalDocs(spark, r) === 200L)
  }

  test("updateDocuments on a 2-generation root: job floor") {
    import spark.implicits._
    val r = nrtRoot("nrt-update")
    // new versions of 10 docs of generation 0 and 10 of generation 1
    val updated = ((90L until 110L).map(CorpusGen.doc)).map(d => d.copy(content = d.content + "\nrevised"))
    val n = jobsOf(StreamingIndexer.updateDocuments(spark, spark.createDataset(updated), r, 2,
      numPartitions = 2))
    assert(n <= 31, s"updateDocuments ran $n jobs") // was 89
    val s = new Searcher(IndexReader.multi(spark,
      StreamingIndexer.generations(spark, r).map(StreamingIndexer.genDir(r, _))))
    assert(s.search(TermQ("revised"), 50).length === 20)
    assert(s.reader.collectionStats.maxDoc === 170L)
  }

  test("write jobs carry their layer label, and the caller's labels come back") {
    import spark.implicits._
    val sc = spark.sparkContext
    val r = nrtRoot("nrt-labels")
    val append = jobLayersOf(StreamingIndexer.appendBatch(spark,
      spark.createDataset((150L until 160L).map(CorpusGen.doc)), r, 2, numPartitions = 2))
    val update = jobLayersOf(StreamingIndexer.updateDocuments(spark,
      spark.createDataset((0L until 5L).map(CorpusGen.doc)), r, 3, numPartitions = 2))
    assert(append.toSet === Set("streaming.append", "build.flush", "build.postings", "build.stats"))
    assert(update.toSet === Set("streaming.update", "build.flush", "build.postings", "build.stats"))
    sc.setLocalProperty(IndexBuilder.LayerProperty, "caller")
    sc.setJobDescription("caller's job")
    try {
      StreamingIndexer.updateDocuments(spark,
        spark.createDataset((5L until 10L).map(CorpusGen.doc)), r, 4, numPartitions = 2)
      assert(sc.getLocalProperty(IndexBuilder.LayerProperty) === "caller")
      assert(sc.getLocalProperty("spark.job.description") === "caller's job")
    } finally {
      sc.setLocalProperty(IndexBuilder.LayerProperty, null)
      sc.setJobDescription(null)
    }
  }
}
