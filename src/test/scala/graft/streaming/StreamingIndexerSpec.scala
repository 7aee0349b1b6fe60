package graft.streaming

import graft.SparkTestSession
import graft.build.{CheckIndex, IndexBuilder}
import graft.corpus.CorpusGen
import graft.search.{IndexReader, Searcher, TermQ}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming NRT analog: micro-batches become segment generations;
  * compaction concatenates them into a standard index that answers
  * queries identically (by document identity) to a one-shot batch build
  * of the same corpus. */
class StreamingIndexerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("3 micro-batches -> generations -> compact == batch build (by path identity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = SparkTestSession.tmpDir("graft-stream-")
    val checkpoint = SparkTestSession.tmpDir("graft-stream-ckpt-")
    val corpus = CorpusGen.local(90)

    val mem = MemoryStream[graft.corpus.SourceFile]
    val q = StreamingIndexer.start(mem.toDS(), root, checkpoint, numPartitions = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(corpus.slice(0, 30))
    q.processAllAvailable()
    mem.addData(corpus.slice(30, 60))
    mem.addData(corpus.slice(60, 90))
    q.processAllAvailable()
    q.stop()

    val gens = StreamingIndexer.generations(spark, root)
    assert(gens.nonEmpty && StreamingIndexer.totalDocs(spark, root) === 90L)

    // replaying a committed batch is a no-op (idempotent foreachBatch)
    StreamingIndexer.appendBatch(spark, spark.createDataset(corpus.take(30)),
      root, gens.head, numPartitions = 2)
    assert(StreamingIndexer.totalDocs(spark, root) === 90L)

    // compact and compare against a one-shot batch build
    val compacted = SparkTestSession.tmpDir("graft-compact-")
    StreamingIndexer.compact(spark, root, compacted, numPartitions = 2)
    val report = CheckIndex.check(spark, compacted,
      Some(spark.createDataset(corpus)))
    assert(report.ok, report.problems.mkString("; "))

    val batchDir = SparkTestSession.tmpDir("graft-batchref-")
    IndexBuilder.build(spark, spark.createDataset(corpus), batchDir, numPartitions = 2)

    val sc = new Searcher(new IndexReader(spark, compacted))
    val sb = new Searcher(new IndexReader(spark, batchDir))
    // docIds differ (arrival vs global sort order) but scores and the
    // matched document set must agree — compare by (score, path)
    def byPath(s: Searcher, dir: String): Seq[(String, Float)] = {
      val hits = s.search(TermQ("def"), 90)
      val paths = graft.build.DocsTable.read(spark, dir)
        .select($"docId", $"path").as[(Long, String)].collect().toMap
      hits.map(h => (paths(h.docId), h.score)).sortBy(_._1).toSeq
    }
    assert(byPath(sc, compacted) === byPath(sb, batchDir))

    // identical global statistics
    import graft.build.CollectionStatsRow
    val csC = spark.read.parquet(s"$compacted/collection_stats").as[CollectionStatsRow].head()
    val csB = spark.read.parquet(s"$batchDir/collection_stats").as[CollectionStatsRow].head()
    assert(csC === csB)

    // NRT: the uncompacted generations are searchable as ONE index
    // (DirectoryReader-over-segments analog) — same docIds, same scores,
    // bit-for-bit, as the compacted index, because the virtual view
    // aggregates the same statistics the compaction materializes
    val nrt = new Searcher(IndexReader.multi(spark,
      StreamingIndexer.generations(spark, root).map(StreamingIndexer.genDir(root, _))))
    val viaGens = nrt.search(TermQ("def"), 90)
    val viaCompact = sc.search(TermQ("def"), 90)
    assert(viaGens.toSeq === viaCompact.toSeq)
    // deletes apply across generations too
    graft.build.Deletes.deleteDocs(spark,
      StreamingIndexer.genDir(root, StreamingIndexer.generations(spark, root).head),
      spark.createDataset(Seq(viaGens.head.docId)))
    val nrt2 = new Searcher(IndexReader.multi(spark,
      StreamingIndexer.generations(spark, root).map(StreamingIndexer.genDir(root, _))))
    assert(!nrt2.search(TermQ("def"), 90).map(_.docId).contains(viaGens.head.docId))
  }

  test("updateDocuments: same-path doc replaces the old version across generations") {
    import spark.implicits._
    def mk(path: String, text: String) = graft.corpus.SourceFile(
      "r", path, "0" * 40, "txt", text, CorpusGen.sha256Hex(text))
    val root = SparkTestSession.tmpDir("graft-upd-")
    StreamingIndexer.appendBatch(spark, spark.createDataset(Seq(
      mk("a", "oldterm shared words here"),
      mk("b", "other content entirely"))), root, batchId = 0, numPartitions = 2)

    StreamingIndexer.updateDocuments(spark, spark.createDataset(Seq(
      mk("a", "newterm shared words here"))), root, batchId = 1, numPartitions = 2)

    def reader = IndexReader.multi(spark,
      StreamingIndexer.generations(spark, root).map(StreamingIndexer.genDir(root, _)))
    val s = new Searcher(reader)
    assert(s.search(TermQ("oldterm"), 10).isEmpty, "old version tombstoned")
    val hits = s.search(TermQ("newterm"), 10)
    assert(hits.length === 1, "exactly one live version")
    assert(s.search(TermQ("shared"), 10).length === 1,
      "shared terms hit only the live version")
    assert(s.search(TermQ("other"), 10).length === 1, "unrelated doc untouched")
    // replaying the committed update batch is a no-op: it must not
    // tombstone the new version it committed
    StreamingIndexer.updateDocuments(spark, spark.createDataset(Seq(
      mk("a", "newterm shared words here"))), root, batchId = 1, numPartitions = 2)
    assert(new Searcher(reader).search(TermQ("newterm"), 10).length === 1,
      "replayed update keeps the live version")
    // updating a path that never existed behaves as a plain add
    StreamingIndexer.updateDocuments(spark, spark.createDataset(Seq(
      mk("c", "brand new doc"))), root, batchId = 2, numPartitions = 2)
    assert(new Searcher(reader).search(TermQ("brand"), 10).length === 1)

    // compaction carries tombstones: the old version must NOT resurrect
    // in the compacted index (compactDirs unions the per-generation
    // tombstone tables — global docIds make the plain union correct)
    val compacted = SparkTestSession.tmpDir("graft-upd-compact-")
    StreamingIndexer.compact(spark, root, compacted, numPartitions = 2)
    val sc = new Searcher(new IndexReader(spark, compacted))
    assert(sc.search(TermQ("oldterm"), 10).isEmpty,
      "compaction must not resurrect the tombstoned old version")
    assert(sc.search(TermQ("newterm"), 10).length === 1)
    assert(sc.search(TermQ("shared"), 10).length === 1)
  }
}
