package graft.search

import graft.SparkTestSession
import graft.build.{CheckIndex, Deletes, IndexBuilder, IndexPaths}
import graft.corpus.{CorpusGen, SourceFile}
import org.scalatest.funsuite.AnyFunSuite

/** The optional positions index (DOCS_AND_FREQS_AND_POSITIONS analog):
  * phrase queries read the positions of the postings rows instead of
  * re-analyzing stored content, with bit-identical freqs; the positions
  * survive expunge, and CheckIndex cross-verifies counts against tfs. */
class PositionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mk(i: Int, text: String) =
    SourceFile("r", f"f$i%02d", "0" * 40, "txt", text, CorpusGen.sha256Hex(text))

  private val fixture = Seq(
    mk(0, "state machine runs"),
    mk(1, "machine state runs"),
    mk(2, "state of machine"),
    mk(3, "state machine state machine"),
    mk(4, "state alpha machine"),
    mk(5, "nothing here"))

  private lazy val (posSearcher, reSearcher, dir) = {
    import spark.implicits._
    val dP = SparkTestSession.tmpDir("graft-pos-")
    IndexBuilder.build(spark, spark.createDataset(fixture), dP, numPartitions = 2,
      indexPositions = true)
    val dR = SparkTestSession.tmpDir("graft-pos-re-")
    IndexBuilder.build(spark, spark.createDataset(fixture), dR, numPartitions = 2)
    (new Searcher(new IndexReader(spark, dP)),
      new Searcher(new IndexReader(spark, dR)), dP)
  }

  test("positions sidecar exists only when requested; CheckIndex verifies it") {
    posSearcher // force builds
    assert(posSearcher.reader.hasPositions && !reSearcher.reader.hasPositions)
    assert(spark.read.parquet(IndexPaths.postings(reSearcher.reader.dir))
      .where(org.apache.spark.sql.functions.col("posBytes").isNotNull).count() === 0)
    val report = CheckIndex.check(spark, dir)
    assert(report.ok, report.problems.mkString("; "))
  }

  test("exact + sloppy phrase freqs from the index == re-analysis, bit-identical") {
    for (slop <- Seq(0, 1, 2)) {
      val fromIndex = posSearcher.phraseFreqs(Seq("state", "machine"), slop)
        .collect().sortBy(_._1).toSeq
      val reRef: Seq[(Long, Float, Int)] =
        if (slop == 0) reSearcher.phraseFreqs(Seq("state", "machine"))
          .collect().map(t => (t._1, t._2.toFloat, t._3)).sortBy(_._1).toSeq
        else reSearcher.phraseFreqs(Seq("state", "machine"), slop)
          .collect().sortBy(_._1).toSeq
      assert(fromIndex === reRef, s"slop=$slop")
    }
    // repeats go through SloppyPhrase identically
    val a = posSearcher.phraseFreqs(Seq("state", "machine", "state"), 3)
      .collect().sortBy(_._1).toSeq
    val b = reSearcher.phraseFreqs(Seq("state", "machine", "state"), 3)
      .collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("multiPhrase from positions == re-analysis") {
    val slots = Seq(Seq("state", "machine"), Seq("machine", "runs"))
    assert(posSearcher.multiPhraseFreqs(slots).collect().sortBy(_._1).toSeq ===
      reSearcher.multiPhraseFreqs(slots).collect().sortBy(_._1).toSeq)
  }

  test("every positional matcher: positions sidecar == re-analysis, row for row") {
    val sm = Seq("state", "machine")
    val slots = Seq(Seq("state", "machine"), Seq("machine", "runs"))
    val cases: Seq[(String, Searcher => org.apache.spark.sql.Dataset[_ <: Product])] = Seq(
      "exact phrase" -> (_.phraseFreqs(sm)),
      "exact phrase, repeats" -> (_.phraseFreqs(Seq("state", "machine", "state"))),
      "sloppy phrase" -> (_.phraseFreqs(sm, 2)),
      "sloppy phrase, repeats" -> (_.phraseFreqs(Seq("state", "machine", "state"), 3)),
      "exact multi-phrase" -> (_.multiPhraseFreqs(slots)),
      "sloppy multi-phrase" -> (_.multiPhraseFreqs(slots, 1)),
      "sloppy multi-phrase, repeat slots" -> (_.multiPhraseFreqs(Seq(sm, sm), 1)),
      "sparse phrase over a stop gap" -> (_.sparsePhraseFreqs(Seq(("state", 0), ("machine", 2)))),
      "spanNear unordered" -> (_.spanNearFreqs("state", "machine", maxGap = 2)),
      "spanNear ordered" -> (_.spanNearFreqs("state", "machine", maxGap = 2, ordered = true)),
      "spanCount near" -> (_.spanCount(
        SpanNearQ(Seq(SpanTermQ("state"), SpanTermQ("machine")), 1, inOrder = false))),
      "spanCount or-in-first" -> (_.spanCount(
        SpanFirstQ(SpanOrQ(Seq(SpanTermQ("machine"), SpanTermQ("runs"))), 2))))
    for ((name, run) <- cases) {
      def rows(s: Searcher): Seq[Any] = run(s).collect().toSeq
        .sortBy(_.productElement(0).asInstanceOf[Long])
      val fromIndex = rows(posSearcher)
      assert(fromIndex.nonEmpty, name)
      assert(fromIndex === rows(reSearcher), name)
    }
  }

  test("search() scores identically through either phrase plan") {
    for (q <- Seq(PhraseQ(Seq("state", "machine")),
      PhraseQ(Seq("state", "machine"), slop = 2))) {
      assert(posSearcher.search(q, 10).toSeq === reSearcher.search(q, 10).toSeq,
        s"query $q")
    }
  }

  test("tombstoned docs leave every positional matcher, in both plans") {
    import spark.implicits._
    val dP = SparkTestSession.tmpDir("graft-pos-del-")
    IndexBuilder.build(spark, spark.createDataset(fixture), dP, numPartitions = 2,
      indexPositions = true, indexOffsets = true)
    val dR = SparkTestSession.tmpDir("graft-pos-del-re-")
    IndexBuilder.build(spark, spark.createDataset(fixture), dR, numPartitions = 2)
    val sm = Seq("state", "machine")
    def rows(ds: org.apache.spark.sql.Dataset[_]): Seq[Seq[Any]] =
      ds.toDF().collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
    val matchers: Seq[(String, Searcher => org.apache.spark.sql.Dataset[_])] = Seq(
      "exact phrase" -> (_.phraseFreqs(sm)),
      "sloppy phrase" -> (_.phraseFreqs(sm, 2)),
      "multi-phrase" -> (_.multiPhraseFreqs(Seq(sm, Seq("machine", "runs")))),
      "sparse phrase" -> (_.sparsePhraseFreqs(Seq(("state", 0), ("machine", 1)))),
      "spanNear" -> (_.spanNearFreqs("state", "machine", maxGap = 2)),
      "spanCount" -> (_.spanCount(
        SpanNearQ(Seq(SpanTermQ("state"), SpanTermQ("machine")), 1, inOrder = false))))
    // offsets and passages read indexed positions only
    val indexedOnly: Seq[(String, Searcher => org.apache.spark.sql.Dataset[_])] = Seq(
      "phrase highlight spans" -> (_.phraseHighlightSpans(sm)),
      "passage scores" -> (_.passageScores(sm)))
    def results(d: String, ms: Seq[(String, Searcher => org.apache.spark.sql.Dataset[_])]) = {
      val s = new Searcher(new IndexReader(spark, d))
      ms.map { case (name, run) => name -> rows(run(s)) }
    }
    val plans = Seq(dP -> (matchers ++ indexedOnly), dR -> matchers)
    val before = plans.map { case (d, ms) => results(d, ms) }
    plans.foreach { case (d, _) => Deletes.deleteDocs(spark, d, spark.createDataset(Seq(0L))) }
    val after = plans.map { case (d, ms) => results(d, ms) }
    for (((b, a), (d, _)) <- before.zip(after).zip(plans); ((name, rb), (_, ra)) <- b.zip(a)) {
      assert(rb.exists(_.head == 0L), s"$name on $d: doc 0 matches before the delete")
      assert(ra === rb.filterNot(_.head == 0L), s"$name on $d")
    }
  }

  test("expunge rebuilds aligned positions; phrases still work") {
    import spark.implicits._
    posSearcher // force build
    Deletes.deleteDocs(spark, dir, spark.createDataset(Seq(0L)))
    val out = SparkTestSession.tmpDir("graft-pos-exp-")
    Deletes.expunge(spark, dir, out, numPartitions = 2)
    assert(new IndexReader(spark, out).hasPositions)
    val report = CheckIndex.check(spark, out)
    assert(report.ok, report.problems.mkString("; "))
    val s = new Searcher(new IndexReader(spark, out))
    // doc0 deleted; remaining exact matches: old doc3 (now doc2), freq 2
    val freqs = s.phraseFreqs(Seq("state", "machine"), 0)
      .collect().map(t => t._1 -> t._2).toMap
    assert(freqs === Map(2L -> 2f))
  }
}
