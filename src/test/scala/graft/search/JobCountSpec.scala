package graft.search

import graft.SparkTestSession
import graft.build.IndexBuilder
import graft.corpus.CorpusGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The serving path's Spark-job floor on a warm searcher: a reader opens
  * each table once, and a query looks its terms up in the dictionary once.
  * Jobs are counted by a listener filtered to the measured call's job
  * group, so a regression (a table re-opened per call, a second
  * `termStats`) raises the count and fails here. */
class JobCountSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val root = SparkTestSession.tmpDir("graft-jobs-")
  private def gen(i: Int) = s"$root/gen$i"

  private final class GroupJobs(group: String) extends SparkListener {
    @volatile var jobs = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs += 1
  }

  /** Spark jobs `f` launches (its own and those of threads it spawns). */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${System.nanoTime()}"
    val l = new GroupJobs(group)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "JobCountSpec")
      try f finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      l.jobs
    } finally sc.removeSparkListener(l)
  }

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
}
