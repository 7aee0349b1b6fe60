package graft.search

import graft.SparkTestSession
import graft.build.{CheckIndex, IndexBuilder}
import graft.corpus.CorpusGen
import graft.streaming.StreamingIndexer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The Spark-job floors of the serving and write paths. Serving, on a warm
  * searcher: a reader opens each table once and holds its term dictionary
  * on the driver, so term stats and multi-term expansion run no job, and
  * a flat query is scored in one job of one task.
  * Writing: a build reads back no schema it already knows and probes
  * nothing a directory listing answers. Jobs are counted by a listener
  * filtered to the measured call's job group, so a regression (a table
  * re-opened per call, a dictionary lookup back in Spark, a re-inferred
  * schema, a re-added probe) raises the count and fails here. */
class JobCountSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val root = SparkTestSession.tmpDir("graft-jobs-")
  private def gen(i: Int) = s"$root/gen$i"

  /** The `graft.layer` label of each job launched in `group`, in order,
    * and the tasks of their stages. */
  private final class GroupJobs(group: String) extends SparkListener {
    val layers = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
        layers.add(Option(p.getProperty(IndexBuilder.LayerProperty)).getOrElse("-"))
        tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
      }
  }

  /** The layer label of every Spark job `f` launches (its own and those
    * of threads it spawns). */
  private def jobLayersOf(f: => Any): Seq[String] = jobsAndTasksOf(f)._1

  /** The layer labels of `f`'s jobs and the number of their tasks. */
  private def jobsAndTasksOf(f: => Any): (Seq[String], Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${System.nanoTime()}"
    val l = new GroupJobs(group)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "JobCountSpec")
      try f finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      (l.layers.asScala.toSeq, l.tasks.get)
    } finally sc.removeSparkListener(l)
  }

  private def jobsOf(f: => Any): Int = jobLayersOf(f).size

  /** The Spark SQL executions `f` starts. The bus is drained first, so
    * no earlier call's execution is counted. */
  private def sqlExecutionsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      f
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    n.get
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
      val s = new Searcher(mk())
      s.search(TermQ(a), k) // warm: open the reader's tables, collection stats
      // was 1 unpruned and 2 when the bootstrapTheta job set the pruning
      // threshold; the in-task scorer always prunes
      val n = jobsOf(s.search(TermQ(a), k))
      assert(n <= 1, s"TermQ ran $n jobs")
      assert(s.search(TermQ(a), k).toSeq === s.searchOracle(TermQ(a), k).toSeq)
    }

    test(s"$name reader: +a +b <= 4 jobs") {
      val s = new Searcher(mk())
      val q = BoolQ(must = Seq(TermQ(a), TermQ(b)))
      s.search(q, 5)
      val n = jobsOf(s.search(q, 5))
      assert(n <= 1, s"+a +b ran $n jobs") // was 2 (a groupByKey shuffle, run as two jobs)
    }

    test(s"$name reader: every flat query runs one job of one task") {
      val s = new Searcher(mk())
      for ((q, parent) <- Seq(
          TermQ(a) -> 1, // 2 with bootstrapTheta's pruning
          BoolQ(must = Seq(TermQ(a), TermQ(b))) -> 2,
          BoolQ(should = Seq(TermQ(a)), mustNot = Seq(TermQ(b))) -> 4, // a -b
          BoolQ(should = Seq(TermQ(a), TermQ(b))) -> 2, // pure OR
          BoolQ(should = Seq(TermQ(a), TermQ(b), TermQ("zz_absent")),
            minShouldMatch = 2, boost = 2f) -> 2,
          FuzzyQ(a, 1) -> 1)) {
        s.search(q, 5) // warm
        val (layers, tasks) = jobsAndTasksOf(s.search(q, 5))
        assert(layers === Seq("search.scan") && tasks === 1,
          s"$q ran ${layers.size} jobs of $tasks tasks (the parent ran $parent jobs)")
        assert(s.search(q, 5).toSeq === s.searchOracle(q, 5).toSeq, q)
      }
    }

    test(s"$name reader: a composite tree groups its leaf hits by docId once") {
      import ScoreExpr._
      val s = new Searcher(mk())
      val or = BoolQ(should = Seq(TermQ(a), TermQ(b)))
      val and = BoolQ(must = Seq(TermQ(a), TermQ(b)))
      val aPrefix = BoolQ(must = Seq(TermQ(a)), should = Seq(PrefixQ(b.take(1)))) // +a f*
      assert(s.rewrite(aPrefix) match {
        case BoolQ(Seq(_: TermQ), Seq(BoolQ(Nil, ts, Nil, _, _)), Nil, _, _) => ts.size > 1
        case _ => false
      }, "the prefix does not expand to an OR under the must")
      // the parent's jobs: a groupByKey (two jobs under AQE) per bool and
      // DisMax, a docstats join per function query, a left outer join and
      // a distinct per boosting query. Its tasks on the single / 2-generation
      // reader: 13/23, 13/23, 5/9, 7/13 and 14/24
      for ((q, parent) <- Seq(
          aPrefix -> 3,
          DisMaxQ(Seq(TermQ(b), and), 0.5f) -> 3,
          ConstantScoreQ(or, 2f) -> 2,
          FunctionScoreQ(or, Mul(SubScore, DocLen)) -> 3,
          BoostingQ(or, and, 0.5f) -> 5)) {
        s.search(q, 5) // warm
        val n = jobsOf(s.search(q, 5))
        assert(n <= 2, s"$q ran $n jobs (the parent ran $parent)")
        assert(s.search(q, 5).toSeq === s.searchOracle(q, 5).toSeq, q)
      }
    }

    test(s"$name reader: a flat TermQ and a flat BoolQ run one job of one task and no SQL execution") {
      val s = new Searcher(mk())
      for (q <- Seq(TermQ(a), BoolQ(must = Seq(TermQ(a)), should = Seq(TermQ(b)),
          mustNot = Seq(TermQ("zz_absent"))))) {
        s.search(q, 5) // warm
        val (layers, tasks) = jobsAndTasksOf(s.search(q, 5))
        assert(layers === Seq("search.scan") && tasks === 1,
          s"$q ran ${layers.size} jobs of $tasks tasks")
        // 1 on the parent: the coalesce(1) Dataset plan of the postings scan
        val n = sqlExecutionsOf(s.search(q, 5))
        assert(n === 0, s"$q started $n SQL executions")
      }
    }

    test(s"$name reader: a flat query under TF-IDF runs one job of one task") {
      val s = new Searcher(mk())
      val sim = new TfIdfSimilarity
      // each ran 2 jobs on the parent, a postings scan and a groupByKey
      // shuffle: 5 tasks on the single reader, 9 on the multi reader
      for (q <- Seq(TermQ(a), BoolQ(should = Seq(TermQ(a), TermQ(b))))) {
        s.searchWith(sim, q, 5) // warm
        val (layers, tasks) = jobsAndTasksOf(s.searchWith(sim, q, 5))
        assert(layers === Seq("search.scan") && tasks === 1,
          s"$q ran ${layers.size} jobs of $tasks tasks")
      }
    }

    test(s"$name reader: termStats and multi-term rewrites run no job once the dictionary is loaded") {
      val s = new Searcher(mk())
      assert(jobLayersOf(s.reader.termStats(Seq(a))) === Seq("search.dict"))
      assert(jobsOf(s.reader.termStats(Seq(a, b, "zz_absent"))) === 0) // was 1
      // the rewrite was 1 job on the single reader, 2 on the multi reader;
      // a leading wildcard was 2 with the reversed-dictionary sidecar
      for (q <- Seq(PrefixQ(a.take(2)), WildcardQ(a.take(1) + "?" + a.slice(2, 3) + "*"),
          FuzzyQ(a, 1), WildcardQ("*" + a.takeRight(2)))) {
        assert(jobsOf(s.rewrite(q)) === 0, q)
        assert(s.search(q, 5).nonEmpty, q) // warm
        val n = jobsOf(s.search(q, 5))
        assert(n <= 1, s"$q ran $n jobs") // was 3 (single) and 4 (multi)
      }
    }

    test(s"$name reader: the first query loads the dictionary in one job, and every serving job is labelled") {
      val s = new Searcher(mk())
      val first = jobLayersOf(s.search(TermQ(a), 5))
      assert(first.count(_ == "search.dict") === 1, first)
      assert(first.forall(Set("search.dict", "search.scan")), first)
      for (q <- Seq(TermQ(b), BoolQ(should = Seq(TermQ(a), PrefixQ(b.take(2)))),
          FuzzyQ(a, 2))) {
        val layers = jobLayersOf(s.search(q, 5))
        assert(layers.nonEmpty && layers.forall(_ == "search.scan"), s"$q: $layers")
      }
      // the generic-similarity path and the brute-force oracle (unlabelled before)
      for ((name, call) <- Seq[(String, () => Any)](
          "searchWith(TfIdf)" -> (() => s.searchWith(new TfIdfSimilarity(), TermQ(a), 5)),
          "searchOracle" -> (() => s.searchOracle(TermQ(b), 5)))) {
        val layers = jobLayersOf(call())
        assert(layers.nonEmpty && layers.forall(_ == "search.scan"), s"$name: $layers")
      }
    }
  }

  test("tombstoned reader: tombstones load once in one job, and flat queries stay at one job") {
    import spark.implicits._
    val dir = s"$root/deleted"
    IndexBuilder.build(spark, spark.createDataset((0L until 300L).map(CorpusGen.doc)),
      dir, numPartitions = 2)
    val gone = Seq(0L, 5L, 77L, 150L, 299L)
    graft.build.Deletes.deleteDocs(spark, dir, spark.createDataset(gone))
    // a term some docs lack, so that `a -rare` keeps hits (uncounted)
    val rare = spark.read.parquet(graft.build.IndexPaths.termDict(dir))
      .orderBy($"df", $"term").select($"term").as[String].first()
    val s = new Searcher(new IndexReader(spark, dir))
    // first query: the dictionary, the collection stats (a search.scan
    // read), the tombstones and the scan; the parent re-read the
    // tombstones and anti-joined them in every query
    val first = jobLayersOf(s.search(TermQ(a), 5))
    assert(first.count(_ == "search.dict") === 1 && first.count(_ == "search.tombstones") === 1 &&
      first.forall(Set("search.dict", "search.tombstones", "search.scan")), first)
    for (q <- Seq(TermQ(a), BoolQ(should = Seq(TermQ(a)), mustNot = Seq(TermQ(rare))))) {
      val n = jobsOf(s.search(q, 5))
      // 3 and 6 on the parent: the tombstone read and the anti-join's shuffle
      assert(n === 1, s"$q ran $n jobs")
      val all = s.search(q, 300)
      assert(all.nonEmpty && !all.exists(h => gone.contains(h.docId)), q)
      assert(all.toSeq === s.searchOracle(q, 300).toSeq, q)
    }
  }

  test("FuzzyLikeThis.rewrittenQuery runs no job once the dictionary is loaded") {
    val r = new IndexReader(spark, gen(0))
    val an = graft.analysis.Analyzer.forLang("en")
    val text = s"$a $b"
    assert(an.analyzeTerms(text).distinct.length === 2)
    FuzzyLikeThis.rewrittenQuery(r, text, an) // warm
    // was 2: one ranking collect per source term
    assert(jobsOf(FuzzyLikeThis.rewrittenQuery(r, text, an)) === 0)
  }

  /** A positions index of generation 0's docs, and an adjacent term pair
    * of its first doc, so every phrase below has at least one match
    * (driver-side, uncounted). */
  private lazy val (posDir, Seq(p0, p1)) = {
    import spark.implicits._
    val d = s"$root/positions"
    IndexBuilder.build(spark, spark.createDataset((0L until 300L).map(CorpusGen.doc)),
      d, numPartitions = 2, indexPositions = true)
    val doc = CorpusGen.doc(0L)
    val toks = graft.analysis.Analyzer.forLang(doc.lang).analyze(doc.content).tokens
    val i = toks.indices.find(i => toks(i + 1).position == toks(i).position + 1).get
    (d, Seq(toks(i).term, toks(i + 1).term))
  }

  test("positions index: exact, sloppy and multi-phrase search job floors") {
    val s = new Searcher(new IndexReader(spark, posDir))
    for ((q, floor) <- Seq(
        // each was 3 while positions were a sidecar joined to the postings
        // (and multi-phrase 5 before that: a docstats join for the norm)
        PhraseQ(Seq(p0, p1)) -> 2,
        PhraseQ(Seq(p0, p1), slop = 2) -> 2,
        MultiPhraseQ(Seq(Seq(p0, a), Seq(p1, b))) -> 2)) {
      assert(s.search(q, 5).nonEmpty, s"$q matched nothing") // warm
      val n = jobsOf(s.search(q, 5))
      assert(n <= floor, s"$q ran $n jobs")
    }
  }

  test("positions index: a TF-IDF bool with a phrase clause runs no more jobs than before") {
    val s = new Searcher(new IndexReader(spark, posDir))
    val sim = new TfIdfSimilarity
    val q = BoolQ(should = Seq(TermQ(p0), PhraseQ(Seq(p0, p1))))
    assert(s.searchWith(sim, q, 5).nonEmpty) // warm
    val n = jobsOf(s.searchWith(sim, q, 5))
    assert(n <= 3, s"$q ran $n jobs") // 3 jobs of 13 tasks on the parent
  }

  test("positions index: a direct phraseFreqs labels the jobs it runs") {
    // on a fresh reader, reading the recorded level is the call's one job
    // (before, the level was a file-system probe and no job was labelled)
    val s = new Searcher(new IndexReader(spark, posDir))
    val layers = jobLayersOf(s.phraseFreqs(Seq(p0, p1)))
    assert(layers.nonEmpty && layers.forall(_ == "search.positions"), layers)
    assert(s.phraseFreqs(Seq(p0, p1)).collect().nonEmpty)
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
    assert(r.termStats(Seq(a)).contains(a)) // loads the driver-held dictionary
    assert(serializedSize(r) === closed, "an open table handle or the dictionary was serialized")
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
    assert(layers.size <= 23, s"build ran ${layers.size} jobs: $byLayer") // was 58, 28, then 27
    assert(byLayer.keySet === Set("build.flush", "build.postings", "build.stats"), byLayer)
    assert(byLayer("build.flush") <= 7, byLayer) // was 10
    // was 24, then 11: 4 more jobs wrote the positions sidecar
    assert(byLayer("build.postings") <= 7, byLayer)
    assert(byLayer("build.stats") <= 9, byLayer) // was 24, then 10 with the first-chars write
    assert(CheckIndex.check(spark, dir).ok)
  }

  test("CheckIndex.check: job floor") {
    // was 19: every table's schema was inferred on open
    val n = jobsOf(assert(CheckIndex.check(spark, gen(0)).ok))
    assert(n <= 15, s"CheckIndex.check ran $n jobs")
    // was 20: the positions sidecar was checked in passes of its own
    val p = jobsOf(assert(CheckIndex.check(spark, posDir).ok))
    assert(p <= 15, s"CheckIndex.check of a positions index ran $p jobs")
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

  test("appendBatch with positions onto a 2-generation root: job floor") {
    import spark.implicits._
    val r = s"$root/nrt-append-pos"
    for ((g, ids) <- Seq(0L -> (0L until 100L), 1L -> (100L until 150L)))
      StreamingIndexer.appendBatch(spark, spark.createDataset(ids.map(CorpusGen.doc)), r, g,
        numPartitions = 2, indexPositions = true)
    val n = jobsOf(StreamingIndexer.appendBatch(spark,
      spark.createDataset((150L until 200L).map(CorpusGen.doc)), r, 2, numPartitions = 2,
      indexPositions = true))
    assert(n <= 24, s"appendBatch with positions ran $n jobs") // was 28
    assert(IndexReader.multi(spark, StreamingIndexer.generations(spark, r)
      .map(StreamingIndexer.genDir(r, _))).hasPositions)
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
