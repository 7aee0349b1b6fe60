package graft.search

import graft.SparkTestSession
import graft.build.{CheckIndex, Deletes, IndexBuilder, IndexPaths}
import graft.corpus.{CorpusGen, SourceFile}
import org.scalatest.funsuite.AnyFunSuite

/** The ..._AND_OFFSETS index level (reference: Index/FieldInfo.cs:373-397)
  * + index-time highlighting (PostingsHighlighter idea): char offsets
  * decoded from the index must equal re-analysis offsets exactly, the
  * offsets-driven highlighter must mark the same characters, and the
  * offsets must survive expunge. */
class OffsetsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mk(i: Int, text: String) =
    SourceFile("r", f"f$i%02d", "0" * 40, "txt", text, CorpusGen.sha256Hex(text))

  private val fixture = Seq(
    mk(0, "alpha merge beta merge gamma"),
    mk(1, "MERGE at the start"),
    mk(2, "no hits here at all"),
    mk(3, "tail position merge"))

  private lazy val dir: String = {
    import spark.implicits._
    val d = SparkTestSession.tmpDir("graft-off-")
    IndexBuilder.build(spark, spark.createDataset(fixture), d, numPartitions = 2,
      analyzerFor = _ => graft.analysis.Analyzer.noStop, indexOffsets = true)
    d
  }

  test("offsets index checks clean and implies positions") {
    val reader = new IndexReader(spark, dir)
    assert(reader.hasOffsets && reader.hasPositions)
    val report = CheckIndex.check(spark, dir)
    assert(report.ok, report.problems.mkString("; "))
  }

  test("decoded offsets == re-analysis offsets, doc by doc") {
    val reader = new IndexReader(spark, dir)
    val fromIndex = reader.decoded(Seq("merge"), "offBytes").collect()
      .map(p => p.docId -> p.offsets.toSeq).toMap
    val analyzer = graft.analysis.Analyzer.noStop
    // docIds follow corpus sort order (path), fixture already sorted
    val expected = fixture.zipWithIndex.flatMap { case (f, i) =>
      val offs = analyzer.analyze(f.content).tokens
        .filter(_.term == "merge").flatMap(t => Seq(t.startOff, t.endOff))
      if (offs.nonEmpty) Some(i.toLong -> offs.toSeq) else None
    }.toMap
    assert(fromIndex === expected)
  }

  test("offsets-driven highlighter marks the same characters as re-analysis") {
    val reader = new IndexReader(spark, dir)
    val offs = reader.decoded(Seq("merge"), "offBytes").collect()
      .map(p => p.docId -> p.offsets).toMap
    val analyzer = graft.analysis.Analyzer.noStop
    for ((docId, content) <- Seq(0L -> fixture(0).content, 1L -> fixture(1).content)) {
      val pairs = offs(docId).grouped(2).map(a => (a(0), a(1))).toSeq
      val viaIndex = Highlighter.bestFragmentFromOffsets(content, pairs, 200).get
      val viaAnalysis = Highlighter.bestFragment(analyzer, content,
        Set("merge"), windowTokens = 50).get
      assert(viaIndex.hits === viaAnalysis.hits)
      // same characters marked: strip tags and compare marked substrings
      def marked(s: String): Seq[String] =
        "<b>(.*?)</b>".r.findAllMatchIn(s).map(_.group(1)).toSeq
      assert(marked(viaIndex.text) === marked(viaAnalysis.text))
    }
  }

  test("phrase-aware spans (FVH analog) mark only participating occurrences") {
    val reader = new IndexReader(spark, dir)
    val searcher = new Searcher(reader, analyzerFor = _ => graft.analysis.Analyzer.noStop)
    val spans = searcher.phraseHighlightSpans(Seq("merge", "beta"))
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc0 "alpha merge beta merge gamma": only merge@pos1 participates in
    // the phrase — span covers "merge beta" (6..16), NOT the second merge;
    // docs 1 and 3 contain merge but no adjacent beta → no span.
    assert(spans === Map(0L -> ((6, 16))))
    assert(fixture(0).content.substring(6, 16) === "merge beta")
  }

  test("expunge keeps the offsets sidecar aligned") {
    import spark.implicits._
    Deletes.deleteDocs(spark, dir, spark.createDataset(Seq(0L)))
    val exp = SparkTestSession.tmpDir("graft-off-exp-")
    Deletes.expunge(spark, dir, exp, numPartitions = 2)
    val report = CheckIndex.check(spark, exp)
    assert(report.ok, report.problems.mkString("; "))
    val reader = new IndexReader(spark, exp)
    assert(reader.hasOffsets)
    // doc0 gone; survivors renumbered 0..2 keep their offsets
    val offs = reader.decoded(Seq("merge"), "offBytes").collect()
      .map(p => p.docId -> p.offsets.toSeq).toMap
    val analyzer = graft.analysis.Analyzer.noStop
    val expected = fixture.drop(1).zipWithIndex.flatMap { case (f, i) =>
      val o = analyzer.analyze(f.content).tokens
        .filter(_.term == "merge").flatMap(t => Seq(t.startOff, t.endOff))
      if (o.nonEmpty) Some(i.toLong -> o.toSeq) else None
    }.toMap
    assert(offs === expected)
  }
}
