package graft.search

import graft.SparkTestSession
import graft.build.IndexBuilder
import graft.corpus.CorpusGen
import org.scalatest.funsuite.AnyFunSuite

/** The CheckHits contract (reference: TestFramework/Search/CheckHits.cs:44):
  * every hit's explanation recomputes its score — here exactly, since both
  * paths share the same float pipeline. */
class ExplainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val searcher: Searcher = {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft-explain-")
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.microFixture), dir, 2)
    new Searcher(new IndexReader(spark, dir))
  }

  private def checkHits(q: Query): Unit = {
    val hits = searcher.search(q, 10)
    assert(hits.nonEmpty)
    hits.foreach { h =>
      val e = searcher.explain(q, h.docId)
      assert(e.value === h.score,
        s"explain(${h.docId}) = ${e.value} != score ${h.score}\n${e.format()}")
    }
  }

  test("explain == score for term, boolean, dismax, constant, phrase") {
    checkHits(TermQ("all"))
    checkHits(TermQ("dogs"))
    checkHits(BoolQ(should = Seq(TermQ("all"), TermQ("dogs"))))
    checkHits(BoolQ(must = Seq(TermQ("dogs")), mustNot = Seq(TermQ("all"))))
    checkHits(DisMaxQ(Seq(TermQ("all"), TermQ("dogs")), tieBreak = 0.3f))
    checkHits(ConstantScoreQ(TermQ("all"), 2.5f))
    checkHits(PhraseQ(Seq("dogs", "dogs")))
  }

  test("non-matching docs explain to 0 with a reason") {
    val e = searcher.explain(TermQ("all"), 1L)
    assert(e.value === 0f)
    assert(e.description.contains("no occurrences"))
    val e2 = searcher.explain(BoolQ(must = Seq(TermQ("all"), TermQ("dogs"))), 0L)
    assert(e2.value === 0f)
    assert(e2.description.contains("MUST"))
  }

  test("a clause matching with score 0 is a match: explain == score") {
    // doc 0 is "all"; a 0-boost clause on it scores 0 but is present
    val constant = ConstantScoreQ(TermQ("all", 0f), 2f)
    val must = BoolQ(must = Seq(TermQ("all", 0f), TermQ("all")))
    for (q <- Seq(constant, must)) {
      val hit = searcher.search(q, 10).find(_.docId == 0L)
      assert(hit.exists(_.score > 0f), s"$q does not score doc 0 above 0")
      val e = searcher.explain(q, 0L)
      assert(e.matched && e.value === hit.get.score, s"$q\n${e.format()}")
    }
    assert(searcher.explain(constant, 0L).value === 2f)
  }

  test("explain == score for function and boosting queries over bools") {
    val or = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    checkHits(FunctionScoreQ(or, ScoreExpr.Mul(ScoreExpr.SubScore, ScoreExpr.DocLen)))
    checkHits(BoostingQ(or, TermQ("dogs"), 0.5f))
    checkHits(DisMaxQ(Seq(TermQ("dogs"), or), tieBreak = 0.5f))
  }

  test("explanation tree carries the idf/tf/norm breakdown") {
    val e = searcher.explain(TermQ("dogs"), 1L)
    assert(e.details.exists(_.description.startsWith("idf")))
    assert(e.details.exists(d => d.description == "tf" && d.value == 2f))
    assert(e.format().linesIterator.size >= 5)
  }

  test("explain == score for multi-phrase (exact and sloppy)") {
    // doc1 "dogs dogs": slot (dogs|all) then (dogs) matches at position 0
    val q = MultiPhraseQ(Seq(Seq("dogs", "all"), Seq("dogs")))
    val hits = searcher.search(q, 10)
    assert(hits.nonEmpty)
    hits.foreach(h => assert(searcher.explain(q, h.docId).value === h.score))
    val qs = MultiPhraseQ(Seq(Seq("dogs"), Seq("dogs")), slop = 2)
    searcher.search(qs, 10).foreach(h =>
      assert(searcher.explain(qs, h.docId).value === h.score))
  }
}
