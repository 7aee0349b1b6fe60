package perfbench

import graft.analysis.Analyzer
import graft.bm25.BM25
import graft.build.{CheckIndex, IndexBuilder, IndexPaths}
import graft.corpus.SourceFile
import graft.postings.PostingsCodec
import graft.search._
import graft.streaming.StreamingIndexer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String, cores: Int, corruptExpected: Boolean)

object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("build-leg")) { BuildLeg.run(args.tail); return }
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("out"), kv("cores").toInt,
      kv.get("corrupt-expected").contains("1"))
    require(Bench.Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val code = new Bench(o).run()
    // Spark is stopped and every output written; skip the JVM's shutdown
    // hooks (run.py deletes the run's work directory)
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Workload sizes. Chosen so one run with its set-up takes about a minute
  * on a 4-core host; see perfbench/spec.json. */
object Bench {
  val Workloads = Set("build_serve", "nrt")
  val BuildFiles = 5000
  val NrtBaseFiles = 600
  val NrtAppendFiles = 200
  val NrtUpdateFiles = 50
  /** The NRT write schedule, the same in every run: batch 1 appends new
    * files, batch 2 updates base files. */
  val NrtWrites = 2
  /** NRT queries answered after each write; each query of the NRT mix is
    * read once per run. */
  val NrtQueriesPerWrite = 6
  /** Base generation of the NRT tour in traced runs of build_serve. */
  val TourFiles = 300
  /** Set-up repetitions whose median is `setup_s`. */
  val SetupReps = 3

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

final class Bench(o: Opts) {
  import Bench._

  private val sessionStart = System.nanoTime()
  private val spark = Main.session(o.cores, o.work)
  private val sessionS = (System.nanoTime() - sessionStart) / 1e9
  import spark.implicits._
  private val tracer = new Tracer(spark.sparkContext, o.trace)
  private val gen = new Gen(o.seed)
  private val qp = new QueryParser()
  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // ---------------------------------------------------------- bookkeeping

  private var attempted = 0L
  private val failures = ArrayBuffer.empty[String]
  /** Gated end-to-end metrics (the result line of --trace 0). */
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (the result line of --trace 1). */
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Every named metric of the run, with its sample count (report only). */
  private val report = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val notes = mutable.LinkedHashMap.empty[String, String]

  /** Count one checked operation; a false result or a throw is a failure
    * and is named in the output. Nothing is swallowed silently. */
  private def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val r = try ok catch { case t: Throwable => failures += s"$name: threw $t"; return }
    if (!r) failures += name
  }

  private def rep(name: String, v: Double, unit: String, n: Int = 1): Unit =
    report(name) = (v, unit, n)

  private final case class Op(ms: Double, cpuMs: Double, traced: Boolean, cls: String)
  private val ops = ArrayBuffer.empty[Op]

  /** Time one user operation: wall and process CPU. */
  private def timedOp[A](cls: String, traced: Boolean)(f: => A): A = {
    val c0 = cpuBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    ops += Op((t1 - t0) / 1e6, (cpuBean.getProcessCpuTime - c0) / 1e6, traced, cls)
    r
  }

  private val phases = mutable.LinkedHashMap("session" -> sessionS)
  /** Wall time of one untimed phase of the run (reported, not gated). */
  private def phase[A](name: String)(f: => A): A = {
    val (r, ms) = clock(f)
    phases(name) = phases.getOrElse(name, 0.0) + ms / 1e3
    r
  }

  private def clock[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** One read as the workload sends it. In a traced run each query is
    * asked twice, with and without spans (which one first alternates), so
    * the two medians over the same queries give the tracing overhead and
    * the untraced one stays comparable with an untraced run. */
  private def read(searcher: Searcher, q: QuerySpec, i: Int): Seq[Array[ScoreDoc]] =
    if (!o.trace) Seq(query(searcher, q, traced = false))
    else Seq(i % 2 == 0, i % 2 != 0).map(t => query(searcher, q, traced = t))

  private def span[A](name: String, on: Boolean = true)(f: => A): A =
    if (on) tracer.span(name)(f) else f

  private val fs = new Path(o.work).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def du(dir: String): Long = {
    val it = fs.listFiles(new Path(dir), true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.endsWith(".crc") && !name.startsWith("_")) n += f.getLen
    }
    n
  }
  private def rm(dir: String): Unit = fs.delete(new Path(dir), true)
  private def contentBytes(rows: Seq[SourceFile]): Long =
    rows.iterator.map(_.content.getBytes(UTF_8).length.toLong).sum

  private def writeCorpus(rows: Seq[SourceFile], path: String): Dataset[SourceFile] = {
    spark.createDataset(rows).repartition(o.cores).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).as[SourceFile]
  }

  /** Twice the cores: untimed jobs mostly wait on the job floor. */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2 * o.cores)

  /** Untimed work (checks, oracle top-k) run as concurrent Spark jobs, so
    * the job floor of each is paid in parallel. Results come back in task
    * order; a throw is kept for [[check]] to report. No job group is set
    * on these threads, so traced spans never absorb their work. */
  private def concurrently[A](tasks: Seq[() => A]): Seq[scala.util.Try[A]] = {
    val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = { spark.sparkContext.clearJobGroup(); t() }
    }))
    fs.map(f => scala.util.Try(f.get()).recover {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    })
  }

  /** The same docIds and bit-identical float scores, in order. */
  private def sameHits(a: Array[ScoreDoc], b: Array[ScoreDoc]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i).docId == b(i).docId &&
      java.lang.Float.floatToIntBits(a(i).score) == java.lang.Float.floatToIntBits(b(i).score))

  private def dictOf(dirs: Seq[String]): (Array[(String, Long)], Long) = {
    val reader = if (dirs.size == 1) new IndexReader(spark, dirs.head)
                 else IndexReader.multi(spark, dirs)
    val dict = reader.termDict.select($"term", $"df").as[(String, Long)].collect().sortBy(_._1)
    (dict, reader.collectionStats.maxDoc)
  }

  // ------------------------------------------------------------- the run

  def run(): Int = {
    val t0 = System.nanoTime()
    try {
      o.workload match {
        case "build_serve" => runBuildServe()
        case "nrt" => runNrt()
      }
    } catch {
      case t: Throwable =>
        failures += s"${o.workload}: aborted: $t"
        t.printStackTrace(System.err)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    phases("total") = wallS
    finish(wallS)
  }

  /** The gated latency metrics: writes (index builds / NRT batches) and
    * reads (top-k queries). In a traced run only the untraced half of the
    * reads counts; the traced half gives the tracing overhead. */
  private def opMetrics(): Unit = {
    val writes = ops.filter(_.cls == "write").toSeq
    val reads = ops.filter(_.cls == "read").toSeq
    val plain = reads.filterNot(_.traced)
    val base = if (plain.nonEmpty) plain else reads
    e2e("write_p50_s") = (median(writes.map(_.ms)) / 1e3, "s")
    e2e("write_cpu_s") = (writes.map(_.cpuMs).sum / writes.size / 1e3, "s")
    e2e("read_p50_ms") = (median(base.map(_.ms)), "ms")
    notes("samples") = s"writes=${writes.size} reads=${base.size}"
    val traced = reads.filter(_.traced)
    if (o.trace && traced.nonEmpty && plain.nonEmpty) {
      val d = median(traced.map(_.ms)) - median(plain.map(_.ms))
      layer("trace.overhead_ms") = (d, "ms")
      layer("trace.overhead_pct") = (100.0 * d / median(plain.map(_.ms)), "%")
    }
  }

  /** One full build. Traced: the three public stages, each in its span
    * (IndexBuilder.build runs exactly these after clearing the dir). */
  private def buildIndex(corpus: Dataset[SourceFile], dir: String, traced: Boolean): Unit =
    if (!traced) IndexBuilder.build(spark, corpus, dir, o.cores, indexPositions = true)
    else span("build") {
      rm(dir)
      span("build.flush")(IndexBuilder.buildFlush(spark, corpus, dir, o.cores,
        indexPositions = true))
      span("build.postings")(IndexBuilder.buildPostings(spark, dir, o.cores))
      span("build.stats")(IndexBuilder.buildStats(spark, dir, o.cores))
    }

  /** Open a reader and answer one query, SetupReps times: `setup_s`. */
  private def setupReps(open: () => Searcher, q: QuerySpec): Searcher = {
    var searcher: Searcher = null
    val reps = (0 until SetupReps).map { _ =>
      clock {
        searcher = open()
        searcher.search(qp.parse(q.text), q.k)
      }._2 / 1e3
    }
    e2e("setup_s") = (median(reps), "s")
    searcher
  }

  // ----------------------------------------------------- build_serve

  /** Bulk build, then serve. Set-up: the seeded corpus table. Timed: one
    * IndexBuilder.build of the whole corpus in this fresh JVM (the write;
    * a batch build job pays its JVM warm-up too), then the query mix over
    * the built index (reads), in whole passes sized by --seconds.
    * Checked, untimed: CheckIndex, and every top-k against the oracle. */
  private def runBuildServe(): Unit = {
    val rows = phase("generate")(gen.corpus(0, BuildFiles))
    val inBytes = contentBytes(rows)
    val corpus = phase("write")(writeCorpus(rows, s"${o.work}/corpus"))
    val dir = s"${o.work}/idx"
    phase("build")(timedOp("write", o.trace)(buildIndex(corpus, dir, o.trace)))
    val (dict, maxDoc) = phase("dict")(dictOf(Seq(dir)))
    val qgen = new QueryGen(o.seed, dict, maxDoc, rows)
    val mix = qgen.serveMix
    notes("strata") = qgen.stratumSizes.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
    // untimed and concurrent: CheckIndex, the expected top-k (the
    // brute-force oracle; top-10 is the prefix of top-100 because the order
    // score desc, docId asc is total), and a warm-up pass of search() over
    // the mix (its plans differ from the oracle's; their generated code is
    // compiled here, not in the timed reads)
    val s0 = new Searcher(new IndexReader(spark, dir))
    val wand = mix.filter(_.group == "wand")
    val checked = phase("check+oracle")(concurrently(
      (() => CheckIndex.check(spark, dir, Some(corpus)).ok) +:
        (mix.map(q => () => s0.searchOracle(qp.parse(q.text), 100)) ++
          mix.map(q => () => s0.search(qp.parse(q.text), q.k)) ++
          wand.map(q => () => wandTheta(s0, q)))))
    check("build: CheckIndex.check ok")(checked.head.get.asInstanceOf[Boolean])
    var pruning = Set.empty[QuerySpec]
    check("serve mix: a WAND-path query starts with theta > 0 (can prune)") {
      pruning = wand.zip(checked.takeRight(wand.size))
        .filter(_._2.get.asInstanceOf[Float] > 0f).map(_._1).toSet
      pruning.nonEmpty
    }
    val expected = mix.indices.map(i => checked(1 + i).get.asInstanceOf[Array[ScoreDoc]])
    for ((q, i) <- mix.zipWithIndex)
      check(s"warm-up query [${q.cls}/${q.stratum}] '${q.text}' k=${q.k}: top-k == searchOracle")(
        sameHits(checked(1 + mix.size + i).get.asInstanceOf[Array[ScoreDoc]],
          expected(i).take(q.k)))
    if (o.corruptExpected) corruptFirst(expected)
    val searcher = phase("setup")(setupReps(() => new Searcher(new IndexReader(spark, dir)), mix(0)))

    // whole passes over the mix, so every run reads the same queries the
    // same number of times each; a further pass starts only if, at the pace
    // so far, it ends within --seconds
    val order = permutation(mix.size, o.seed)
    val start = System.nanoTime()
    var i = 0
    do {
      for (qi <- order) {
        val q = mix(qi)
        val hits = read(searcher, q, i)
        check(s"query #$i [${q.cls}/${q.stratum}] '${q.text}' k=${q.k}: top-k == searchOracle")(
          hits.forall(sameHits(_, expected(qi).take(q.k))))
        i += 1
      }
    } while ((System.nanoTime() - start) / 1e9 * (i / mix.size + 1) / (i / mix.size) <= o.seconds)
    notes("passes") = s"${i / mix.size} over the mix"
    notes("wand_pruning") = s"${pruning.size} of ${wand.size} WAND-path queries of the mix " +
      "start with theta > 0"
    rep("wand_pruning_reads", queried.count(x => pruning(x._1)), "count", queried.size)
    opMetrics()
    val bytesRatio = du(dir).toDouble / inBytes
    e2e("index_bytes_per_input_byte") = (bytesRatio, "ratio")
    val fpsN = BuildFiles / (e2e("write_p50_s")._1)
    rep("build_files_per_s", fpsN, "files/s")
    rep("index_bytes_per_input_byte", bytesRatio, "ratio")
    queryReport()
    if (o.trace) {
      val fps1 = phase("1-core-leg")(BuildLeg.spawn(s"${o.work}/corpus", s"${o.work}/idx1",
        s"${o.work}/leg"))
      rep("build_files_per_s_1core", fps1, "files/s")
      rep("build_scaling_eff", fpsN / (o.cores * fps1), "ratio")
      phase("tour")(layerTour(dir, rows, withStreaming = true))
    }
  }

  /** The WAND threshold Searcher.search starts a query with: the rule of
    * its private bootstrapTheta, repeated over public tables (up to ties
    * between equal block maxima). 0 for a query off the WAND path or whose
    * terms hold fewer than PruneMinBlocks posting blocks; else the kth best
    * score in the best block of the term with the highest upper bound. A
    * read with theta > 0 can skip blocks. */
  private def wandTheta(searcher: Searcher, q: QuerySpec): Float = {
    val ts = searcher.rewrite(qp.parse(q.text)) match {
      case TermQ(t, b) => Seq(t -> b)
      case BoolQ(Nil, should, Nil, msm, boost)
          if msm <= 1 && boost == 1f && should.forall(_.isInstanceOf[TermQ]) =>
        should.map { case TermQ(t, b) => t -> b }
      case _ => return 0f
    }
    val reader = searcher.reader
    val stats = reader.termStats(ts.map(_._1))
    val live = ts.filter(t => stats.contains(t._1))
    if (live.map(t => stats(t._1).df / PostingsCodec.BlockSize + 1).sum < QueryGen.PruneMinBlocks)
      return 0f
    val cs = reader.collectionStats
    val cache = BM25.normCache(BM25.avgFieldLength(cs.sumTotalTermFreq, cs.maxDoc))
    def weight(t: String, b: Float) = BM25.weightValue(BM25.idf(stats(t).df, cs.maxDoc), b)
    val (t, b) = live.maxBy { case (t, b) =>
      BM25.blockMaxScore(stats(t).maxTf, cache(stats(t).maxNorm & 0xff), weight(t, b)) }
    val w = weight(t, b)
    val (first, n, _, _, bytes) = reader.postings.where($"term" === t)
      .select($"firstDocId", $"numDocs", $"maxTf", $"maxNorm", $"bytes")
      .as[(Long, Int, Int, Int, Array[Byte])].collect()
      .maxBy { case (_, _, maxTf, maxNorm, _) => BM25.blockMaxScore(maxTf, cache(maxNorm & 0xff), w) }
    val (_, tfs, norms) = PostingsCodec.decodeBlock(first, n, bytes)
    if (tfs.length < q.k) 0f
    else tfs.indices.map(i => BM25.score(tfs(i).toFloat, norms(i).toByte, w, cache))
      .sorted.apply(tfs.length - q.k)
  }

  private def corruptFirst(expected: IndexedSeq[Array[ScoreDoc]]): Unit = {
    val e = expected.find(_.nonEmpty).get
    e(0) = ScoreDoc(e(0).docId, java.lang.Float.intBitsToFloat(
      java.lang.Float.floatToIntBits(e(0).score) ^ 1))
  }

  private def permutation(n: Int, seed: Long): IndexedSeq[Int] = {
    val r = new SplittableRandom(seed)
    val a = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  private val queried = ArrayBuffer.empty[(QuerySpec, Double)]

  /** One user query: parse, then top-k search. Traced: a span per call. */
  private def query(searcher: Searcher, q: QuerySpec, traced: Boolean): Array[ScoreDoc] = {
    tracer.newRequest()
    val n0 = ops.size
    val hits = timedOp("read", traced) {
      span("query", traced) {
        val pq = span("search.parse", traced)(qp.parse(q.text))
        span("search.search", traced)(searcher.search(pq, q.k))
      }
    }
    queried += ((q, ops(n0).ms))
    if (traced) searchLayers(searcher, q)
    hits
  }

  /** Layer calls a traced query makes outside its timed op: the rewrite
    * and dictionary statistics search() performs internally, each called
    * once more on its own, and the bytes of the query terms' posting
    * blocks (the read-amplification denominator). */
  private val termBlockBytes = mutable.Map.empty[Long, Long]
  private val expanded = mutable.Map.empty[Long, Int]
  private def searchLayers(searcher: Searcher, q: QuerySpec): Unit = {
    val pq = qp.parse(q.text)
    val rq = span("search.rewrite")(searcher.rewrite(pq))
    val terms = termsOf(rq).distinct
    span("search.term_stats")(searcher.reader.termStats(terms))
    val req = tracer.spans.last.request
    expanded(req) = terms.size
    termBlockBytes(req) =
      if (terms.isEmpty) 0L
      else searcher.reader.postings.where($"term".isin(terms: _*))
        .agg(coalesce(sum(length($"bytes")), lit(0L))).as[Long].head()
  }

  private def termsOf(q: Query): Seq[String] = q match {
    case TermQ(t, _) => Seq(t)
    case BoolQ(m, s, n, _, _) => (m ++ s ++ n).flatMap(termsOf)
    case PhraseQ(ts, _, _, _) => ts
    case ConstantScoreQ(inner, _) => termsOf(inner)
    case DisMaxQ(qs, _) => qs.flatMap(termsOf)
    case _ => Nil
  }

  private def queryReport(): Unit = {
    val plain = queried.toSeq
    val ms = plain.map(_._2)
    rep("query_p50_ms", median(ms), "ms", ms.size)
    rep("query_p90_ms", quantile(ms, 0.9), "ms", ms.size)
    for (g <- Seq("wand", "bool", "phrase", "multiterm")) {
      val x = plain.filter(_._1.group == g).map(_._2)
      if (x.nonEmpty) rep(s"${g}_query_p50_ms", median(x), "ms", x.size)
    }
    classShare()
  }

  private def classShare(): Unit = {
    val byCls = queried.groupBy(_._1.cls).map { case (c, v) => c -> v.size }
    notes("query_class_share") = byCls.toSeq.sortBy(_._1)
      .map { case (c, n) => f"$c=${100.0 * n / queried.size}%.0f%%" }.mkString(" ")
  }

  // ------------------------------------------------------------- nrt

  /** Incremental indexing. Set-up: a base generation (appendBatch) and
    * CheckIndex. Timed, a fixed schedule independent of --seconds and of
    * speed: appendBatch of new files, then updateDocuments of existing base
    * files (tombstones + a generation), each a write; after each write a
    * reader over IndexReader.multi of all generations answers
    * NrtQueriesPerWrite queries of the NRT mix (reads). Checked: CheckIndex
    * on every generation, new files visible, updated files only in their
    * new version, every top-k equal to searchOracle on the same reader. */
  private def runNrt(): Unit = {
    val root = s"${o.work}/nrt"
    val base = phase("generate")(gen.corpus(0, NrtBaseFiles, Gen.marker(0)))
    var inBytes = contentBytes(base)
    phase("base")(StreamingIndexer.appendBatch(spark, spark.createDataset(base), root, 0,
      o.cores, indexPositions = true))
    val (dict, maxDoc) = phase("dict")(dictOf(Seq(StreamingIndexer.genDir(root, 0))))
    val mix = new QueryGen(o.seed, dict, maxDoc, base).nrtMix(NrtWrites * NrtQueriesPerWrite)
    def genDirs(): Seq[String] =
      StreamingIndexer.generations(spark, root).map(StreamingIndexer.genDir(root, _))
    def open(): Searcher = {
      val s = new Searcher(IndexReader.multi(spark, genDirs()))
      s.reader.collectionStats
      s
    }
    // untimed and concurrent: CheckIndex and a warm-up pass over the mix
    val s0 = open()
    val baseChecked = phase("check")(concurrently(
      (() => CheckIndex.check(spark, StreamingIndexer.genDir(root, 0)).ok) +:
        mix.map(q => () => { s0.search(qp.parse(q.text), q.k); true })))
    check("nrt base: CheckIndex.check ok")(baseChecked.head.get)
    for ((q, r) <- mix.zip(baseChecked.tail)) check(s"nrt warm-up query '${q.text}' ran")(r.get)
    phase("setup")(setupReps(() => open(), mix(0)))

    val appendMs, updateMs, openMs = ArrayBuffer.empty[Double]
    val live = mutable.Map(0 -> NrtBaseFiles)
    var qi = 0
    for (batch <- 1 to NrtWrites) {
      val m = Gen.marker(batch)
      val isAppend = batch % 2 == 1
      tracer.newRequest()
      if (isAppend) {
        val rows = gen.corpus(batch, NrtAppendFiles, m)
        inBytes += contentBytes(rows)
        val ds = spark.createDataset(rows)
        timedOp("write", o.trace)(span("streaming.append", o.trace)(
          StreamingIndexer.appendBatch(spark, ds, root, batch, o.cores, indexPositions = true)))
        appendMs += ops.last.ms
        live(batch) = NrtAppendFiles
      } else {
        val ids = permutation(NrtBaseFiles, o.seed + 1).take(NrtUpdateFiles)
        val rows = ids.map(i => gen.file(0, i, version = batch, marker = m))
        inBytes += contentBytes(rows)
        val ds = spark.createDataset(rows)
        timedOp("write", o.trace)(span("streaming.update", o.trace)(
          StreamingIndexer.updateDocuments(spark, ds, root, batch, o.cores)))
        updateMs += ops.last.ms
        live(batch) = NrtUpdateFiles
        live(0) -= NrtUpdateFiles
      }
      val (searcher, ms) = clock(span("streaming.reader_open", o.trace)(open()))
      openMs += ms
      val asked = (0 until NrtQueriesPerWrite).map { _ =>
        val q = mix(qi)
        val hits = read(searcher, q, qi)
        qi += 1
        (qi - 1, q, hits)
      }
      // checked after the timed reads, concurrently and untimed: the new
      // generation passes CheckIndex; the new batch is found in full;
      // updated base files show only their new version; every top-k
      // equals the oracle on the same reader
      val visible = Seq(batch) ++ (if (isAppend) Nil else Seq(0))
      val checked = phase("check+oracle")(concurrently(
        Seq(() => CheckIndex.check(spark, StreamingIndexer.genDir(root, batch)).ok) ++
          visible.map(b => () => searcher.search(TermQ(Gen.marker(b)), live(b) + 10).length == live(b)) ++
          asked.map { case (_, q, _) => () => searcher.searchOracle(qp.parse(q.text), q.k) }))
      check(s"nrt batch $batch: CheckIndex.check ok")(checked.head.get.asInstanceOf[Boolean])
      for ((b, r) <- visible.zip(checked.slice(1, 1 + visible.size)))
        check(s"nrt batch $batch: marker of batch $b finds ${live(b)} live docs")(
          r.get.asInstanceOf[Boolean])
      for (((n, q, hits), e) <- asked.zip(checked.drop(1 + visible.size)))
        check(s"nrt query #$n after batch $batch [${q.cls}/${q.stratum}] '${q.text}' k=${q.k}: " +
          "top-k == searchOracle") {
          val exp = e.get.asInstanceOf[Array[ScoreDoc]]
          if (o.corruptExpected && n == 0) corruptFirst(IndexedSeq(exp))
          hits.forall(sameHits(_, exp))
        }
    }
    opMetrics()
    val ms = queried.map(_._2).toSeq
    rep("append_p50_s", median(appendMs.toSeq) / 1e3, "s", appendMs.size)
    rep("update_p50_s", median(updateMs.toSeq) / 1e3, "s", updateMs.size)
    rep("nrt_query_p50_ms", median(ms), "ms", ms.size)
    rep("nrt_query_p90_ms", quantile(ms, 0.9), "ms", ms.size)
    classShare()
    val dirs = genDirs()
    e2e("index_bytes_per_input_byte") = (dirs.map(du).sum.toDouble / inBytes, "ratio")
    if (o.trace) {
      layer("streaming.reader_open_ms") = (median(openMs.toSeq), "ms")
      streamingCounts(dirs)
      phase("tour")(layerTour(StreamingIndexer.genDir(root, 0), base, withStreaming = false))
    }
  }

  private def streamingCounts(dirs: Seq[String]): Unit = {
    layer("streaming.generations") = (dirs.size.toDouble, "count")
    layer("streaming.tombstones") =
      (dirs.map(graft.build.Deletes.tombstones(spark, _).count()).sum.toDouble, "count")
  }

  // ---------------------------------------------------- traced layers

  /** Per-layer metrics of a traced run. Layers the workload itself does
    * not exercise (queries on `build`, NRT on `build`/`serve`, a staged
    * build on `nrt`) get a short tour over the workload's own data, so
    * every traced run reports every layer. */
  private def layerTour(dir: String, rows: IndexedSeq[SourceFile],
                        withStreaming: Boolean): Unit = {
    if (tracer.named("build.flush").isEmpty) {
      val corpus = writeCorpus(rows, s"${o.work}/tour-corpus")
      buildIndex(corpus, s"${o.work}/tour-idx", traced = true)
    }
    if (withStreaming) {
      val root = s"${o.work}/tour-nrt"
      StreamingIndexer.appendBatch(spark, spark.createDataset(rows.take(TourFiles)), root, 0,
        o.cores, indexPositions = true)
      span("streaming.append")(StreamingIndexer.appendBatch(spark,
        spark.createDataset(gen.corpus(1, NrtAppendFiles)), root, 1, o.cores,
        indexPositions = true))
      span("streaming.update")(StreamingIndexer.updateDocuments(spark,
        spark.createDataset(rows.take(NrtUpdateFiles).indices.map(i =>
          gen.file(0, i, version = 2))), root, 2, o.cores))
      val (dirs, ms) = clock(span("streaming.reader_open") {
        val dirs = StreamingIndexer.generations(spark, root).map(StreamingIndexer.genDir(root, _))
        IndexReader.multi(spark, dirs).collectionStats
        dirs
      })
      layer("streaming.reader_open_ms") = (ms, "ms")
      streamingCounts(dirs)
    }
    kernelProbes(dir, rows)
  }

  /** Leaf kernels over the workload's own data, on one thread of the
    * benchmark JVM: analyzer tokens/s, block decode ints/s, BM25 scores/s and
    * HitQueue inserts/s. Each probe repeats its pass until it has run for
    * at least ProbeSeconds. */
  private val ProbeSeconds = 0.5
  private def rate(units: => Long): Double = {
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < ProbeSeconds) n += units
    n / ((System.nanoTime() - t0) / 1e9)
  }

  private def kernelProbes(dir: String, rows: IndexedSeq[SourceFile]): Unit = {
    val sample = rows.take(2000)
    val analyzers = Gen.Langs.map(l => l -> Analyzer.forLang(l)).toMap
    layer("analysis.tokens_per_s") = (rate {
      sample.iterator.map(f => analyzers(f.lang).analyze(f.content).tokens.length.toLong).sum
    }, "1/s")
    val p = spark.read.parquet(IndexPaths.postings(dir))
    val agg = p.agg(count("*"), sum($"numDocs"), sum(length($"bytes"))).head()
    layer("postings.blocks") = (agg.getLong(0).toDouble, "count")
    layer("postings.bytes_per_posting") = (agg.getLong(2).toDouble / agg.getLong(1), "B")
    val blocks = p.select($"firstDocId", $"numDocs", $"bytes").as[(Long, Int, Array[Byte])]
      .limit(20000).collect()
    layer("postings.decode_ints_per_s") = (rate {
      blocks.iterator.map { case (f, n, b) => PostingsCodec.decodeBlock(f, n, b); 3L * n }.sum
    }, "1/s")
    val decoded = blocks.map { case (f, n, b) => PostingsCodec.decodeBlock(f, n, b) }
    val cs = new IndexReader(spark, dir).collectionStats
    val cache = BM25.normCache(BM25.avgFieldLength(cs.sumTotalTermFreq, cs.maxDoc))
    val w = BM25.weightValue(BM25.idf(cs.maxDoc / 10 + 1, cs.maxDoc), 1f)
    layer("bm25.scores_per_s") = (rate {
      var n = 0L
      var acc = 0f
      decoded.foreach { case (_, tfs, norms) =>
        var i = 0
        while (i < tfs.length) { acc += BM25.score(tfs(i).toFloat, norms(i).toByte, w, cache); i += 1 }
        n += tfs.length
      }
      sink = acc
      n
    }, "1/s")
    val scored = decoded.iterator.flatMap { case (ids, tfs, norms) =>
      ids.indices.iterator.map(i => ScoreDoc(ids(i), BM25.score(tfs(i).toFloat, norms(i).toByte, w, cache)))
    }.take(200000).toArray
    layer("search.heap_inserts_per_s") = (rate {
      val h = new HitQueue(100)
      scored.foreach(h.insertWithOverflow)
      scored.length.toLong
    }, "1/s")
  }
  /** Kernel results land here so the JIT cannot drop the probed calls. */
  @volatile private var sink = 0f

  private def spanWork(names: String*): (Seq[Span], Seq[Work]) = {
    val ss = names.flatMap(tracer.named)
    (ss, ss.flatMap(tracer.workOf))
  }

  /** Per-layer metrics from the recorded spans (read after the
    * SparkContext stopped, so the listener has seen every event). */
  private def spanMetrics(): Unit = {
    def tot(w: Seq[Work])(f: Work => java.util.concurrent.atomic.AtomicLong): Double =
      w.map(f(_).get).sum.toDouble
    val builds = tracer.named("build").size.max(1)
    for (st <- Seq("flush", "postings", "stats")) {
      val (ss, w) = spanWork(s"build.$st")
      val n = ss.size.max(1)
      layer(s"build.${st}_s") = (ss.map(_.ms).sum / n / 1e3, "s")
      layer(s"build.${st}_jobs") = (tot(w)(_.jobs) / n, "count")
      layer(s"build.${st}_task_s") = (tot(w)(_.taskMs) / n / 1e3, "s")
      layer(s"build.${st}_shuffle_bytes") = (tot(w)(_.shuffleBytes) / n, "B")
      layer(s"build.${st}_output_bytes") = (tot(w)(_.outputBytes) / n, "B")
    }
    layer("build.gc_s") = (tot(spanWork("build")._2)(_.gcMs) / builds / 1e3, "s")

    val parse = tracer.named("search.parse")
    layer("search.parse_us") = (parse.map(_.ms).sum * 1e3 / parse.size.max(1), "us")
    val (rw, rww) = spanWork("search.rewrite")
    layer("search.rewrite_ms") = (rw.map(_.ms).sum / rw.size.max(1), "ms")
    layer("search.rewrite_jobs") = (tot(rww)(_.jobs) / rw.size.max(1), "count")
    layer("search.expanded_terms") = (expanded.values.sum.toDouble / expanded.size.max(1), "count")
    val (ts, tsw) = spanWork("search.term_stats")
    layer("search.term_stats_ms") = (ts.map(_.ms).sum / ts.size.max(1), "ms")
    layer("search.term_stats_jobs") = (tot(tsw)(_.jobs) / ts.size.max(1), "count")
    val (qs, qw) = spanWork("query")
    val nq = qs.size.max(1)
    layer("search.jobs_per_query") = (tot(qw)(_.jobs) / nq, "count")
    layer("search.tasks_per_query") = (tot(qw)(_.tasks) / nq, "count")
    layer("search.task_ms_per_query") = (tot(qw)(_.taskMs) / nq, "ms")
    layer("search.idle_ms_per_query") =
      ((qs.map(_.ms).sum - tot(qw)(_.taskMs) / o.cores) / nq, "ms")
    layer("search.input_bytes_per_query") = (tot(qw)(_.inputBytes) / nq, "B")
    val amp = qs.flatMap { s =>
      termBlockBytes.get(s.request).filter(_ > 0).map(b =>
        tracer.workOf(s).map(_.inputBytes.get).sum.toDouble / b)
    }
    layer("search.read_amplification") = (if (amp.isEmpty) 0.0 else median(amp), "ratio")

    for (k <- Seq("append", "update")) {
      val (ss, w) = spanWork(s"streaming.$k")
      layer(s"streaming.${k}_s") = (ss.map(_.ms).sum / ss.size.max(1) / 1e3, "s")
      layer(s"streaming.${k}_jobs") = (tot(w)(_.jobs) / ss.size.max(1), "count")
    }
  }

  // ------------------------------------------------------------ output

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def finish(wallS: Double): Int = {
    rep("peak_rss_mb", peakRssMb(), "MB")
    spark.stop()
    pool.shutdown()
    if (o.trace) spanMetrics()
    val failed = failures.size
    val ratio = failed.toDouble / math.max(1, attempted)
    val w = o.workload
    println(f"perfbench workload=$w seed=${o.seed} trace=${if (o.trace) 1 else 0} cores=${o.cores} wall=$wallS%.1fs")
    for ((k, v) <- notes) println(s"  note $k: $v")
    println("  note phases: " + phases.map { case (k, v) => f"$k=$v%.1fs" }.mkString(" "))
    println(f"  ${"failed_op_ratio"}%-32s $ratio%14.6f  ratio  (failed $failed of $attempted)")
    for ((k, (v, u, n)) <- report) println(f"  $k%-32s $v%14.4f  $u  (n=$n)")
    for ((k, (v, u)) <- e2e) println(f"  $k%-32s $v%14.4f  $u")
    if (o.trace) for ((k, (v, u)) <- layer) println(f"  $k%-32s $v%14.4f  $u")
    failures.foreach(f => println(s"  FAILED: $f"))
    Files.createDirectories(Paths.get(o.out))
    val tag = s"$w-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    if (o.trace) Files.write(Paths.get(o.out, s"spans-$tag.json"), tracer.toJson.getBytes(UTF_8))
    def obj(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val all = report.map { case (k, (v, u, n)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u", "samples": $n}""" }
    Files.write(Paths.get(o.out, s"report-$tag.json"),
      (s"""{"workload": "$w", "seed": ${o.seed}, "failed_op_ratio": ${num(ratio)}, """ +
        s""""failures": [${failures.map(f => "\"" + esc(f) + "\"").mkString(", ")}], """ +
        s""""named": ${all.mkString("{", ", ", "}")}, "end_to_end": ${obj(e2e)}, """ +
        s""""per_layer": ${obj(layer)}}""" + "\n").getBytes(UTF_8))
    val metrics = if (o.trace) obj(layer) else obj(e2e)
    println(s"""{"correct": ${failed == 0}, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": $metrics}""")
    if (failed == 0) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

/** The 1-core leg of the build scaling ratio: a separate JVM that the
  * parent pins to one CPU (taskset) and tells it has one processor, so
  * GC, JIT and Spark threads compete for that core as on a 1-core host. */
object BuildLeg {
  def run(args: Array[String]): Unit = {
    val Array(corpus, dir, work) = args
    val spark = Main.session(1, work)
    import spark.implicits._
    // the same sequence as the nproc leg: write the corpus table, then build
    spark.read.parquet(corpus).write.parquet(s"$work/corpus")
    val ds = spark.read.parquet(s"$work/corpus").as[SourceFile]
    val t0 = System.nanoTime()
    IndexBuilder.build(spark, ds, dir, 1, indexPositions = true)
    val s = (System.nanoTime() - t0) / 1e9
    println(s"files_per_s=${ds.count() / s}")
    spark.stop()
  }

  /** Files/s of one build of `corpus` in a fresh JVM on one CPU, measured
    * exactly like the nproc build (cold JVM, same corpus, same options). */
  def spawn(corpus: String, dir: String, work: String): Double = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray(Array.empty[String])
      .filterNot(a => a.startsWith("-Xm") || a.startsWith("-XX:ActiveProcessorCount"))
    val cmd = Seq("taskset", "-c", "0", java, "-XX:ActiveProcessorCount=1", "-Xmx1g") ++
      jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"), "perfbench.Main",
        "build-leg", corpus, dir, work)
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val code = p.waitFor()
    require(code == 0, s"1-core build leg exited $code")
    out.linesIterator.find(_.startsWith("files_per_s=")).get.stripPrefix("files_per_s=").toDouble
  }
}
