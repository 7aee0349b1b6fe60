package graft.search

import graft.SparkTestSession
import graft.build.IndexBuilder
import graft.corpus.CorpusGen
import org.scalatest.funsuite.AnyFunSuite

/** Function-query nodes (reference: Queries/CustomScoreQuery.cs,
  * Queries/BoostingQuery.cs, Queries/Function/ValueSources/): score
  * rewiring as a [[ScoreExpr]] over the sub-query score and exact doc
  * length, and context-demotion — both as first-class Query ADT nodes so
  * "relevance × prior" stays inside the engine API. */
class FunctionQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val dir = SparkTestSession.tmpDir("graft-funcq-")

  // micro fixture: doc0 "all"(dl 1), doc1 "dogs dogs"(dl 2), doc2 "like",
  // doc3 "playing", doc4 "fetch", doc5 "all"
  private lazy val searcher: Searcher = {
    import spark.implicits._
    val corpus = spark.createDataset(CorpusGen.microFixture)
    IndexBuilder.build(spark, corpus, dir, numPartitions = 2)
    new Searcher(new IndexReader(spark, dir))
  }
  private val dls = Map(0L -> 1f, 1L -> 2f, 2L -> 1f, 3L -> 1f, 4L -> 1f, 5L -> 1f)

  import ScoreExpr._

  test("FunctionScoreQ(SubScore) is the identity") {
    val q = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    assert(searcher.search(FunctionScoreQ(q, SubScore), 10).toSeq ===
      searcher.search(q, 10).toSeq)
  }

  test("FunctionScoreQ: relevance × doc-length prior, closed form") {
    val q = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    val base = searcher.search(q, 10).map(h => h.docId -> h.score).toMap
    // prior = 1/(1+dl) over the EXACT docstats tokenCount
    val prior = Mul(SubScore, Div(Const(1f), Add(Const(1f), DocLen)))
    val hits = searcher.search(FunctionScoreQ(q, prior), 10)
    assert(hits.map(_.docId).toSet === base.keySet)
    hits.foreach { h =>
      val expected = base(h.docId) * (1f / (1f + dls(h.docId)))
      assert(h.score === expected, s"doc ${h.docId}")
    }
    // re-ranking is by the REWIRED score
    val sorted = hits.map(h => (h.score, h.docId)).toSeq
    assert(sorted === sorted.sortBy { case (s, d) => (-s, d) })
  }

  test("FunctionScoreQ: Log1p and Pow primitives") {
    val base = searcher.search(TermQ("dogs"), 10)(0).score
    val hits = searcher.search(
      FunctionScoreQ(TermQ("dogs"), Add(SubScore, Log1p(Pow(DocLen, 2f)))), 10)
    assert(hits.map(_.docId).toSeq === Seq(1L))
    val expected = base + math.log1p(math.pow(2f, 2f).toFloat.toDouble).toFloat
    assert(hits(0).score === expected)
  }

  test("BoostingQ demotes context matches, leaves the rest, adds no hits") {
    val pos = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    val base = searcher.search(pos, 10).map(h => h.docId -> h.score).toMap
    val hits = searcher.search(BoostingQ(pos, TermQ("dogs"), 0.5f), 10)
    // context-only docs must NOT appear; ctx here overlaps pos at doc1
    assert(hits.map(_.docId).toSet === base.keySet)
    val byDoc = hits.map(h => h.docId -> h.score).toMap
    assert(byDoc(1L) === base(1L) * 0.5f) // matched context → demoted
    assert(byDoc(0L) === base(0L))
    assert(byDoc(5L) === base(5L))
    // promotion works too (contextBoost > 1)
    val up = searcher.search(BoostingQ(pos, TermQ("dogs"), 2f), 10)
    assert(up.map(h => h.docId -> h.score).toMap.apply(1L) === base(1L) * 2f)
  }

  test("explain recomputes function-query scores exactly (CheckHits)") {
    val q = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    val prior = Mul(SubScore, Div(Const(1f), Add(Const(1f), DocLen)))
    for (h <- searcher.search(FunctionScoreQ(q, prior), 10))
      assert(searcher.explain(FunctionScoreQ(q, prior), h.docId).value === h.score)
    for (h <- searcher.search(BoostingQ(q, TermQ("dogs"), 0.5f), 10))
      assert(searcher.explain(BoostingQ(q, TermQ("dogs"), 0.5f), h.docId).value === h.score)
    // non-matching doc explains to 0
    assert(searcher.explain(FunctionScoreQ(TermQ("dogs"), prior), 2L).value === 0f)
  }

  test("parser boost on function nodes folds into the expression") {
    // applyBoost is package-visible only through parsing; exercise the
    // equivalent composition directly: ^2 == Mul(Const(2), expr)
    val q = FunctionScoreQ(TermQ("dogs"), SubScore)
    val boosted = FunctionScoreQ(TermQ("dogs"), Mul(Const(2f), SubScore))
    val s = searcher.search(q, 10)(0).score
    assert(searcher.search(boosted, 10)(0).score === 2f * s)
  }

  test("value-source arithmetic nodes: closed-form eval") {
    // Reciprocal (m, a, b): a/(m*x+b) — ReciprocalFloatFunction.cs
    assert(ScoreExpr.eval(Reciprocal(DocLen, 1f, 2f, 1f), 0f, 3f) === 0.5f)
    // Linear: slope*x + intercept
    assert(ScoreExpr.eval(Linear(DocLen, 2f, -1f), 0f, 3f) === 5f)
    // RangeMap: in-range → target, else default; bounds inclusive
    assert(ScoreExpr.eval(RangeMap(DocLen, 1f, 3f, 9f, 0f), 0f, 3f) === 9f)
    assert(ScoreExpr.eval(RangeMap(DocLen, 1f, 3f, 9f, 0f), 0f, 3.5f) === 0f)
    // Max/Min
    assert(ScoreExpr.eval(MaxOf(DocLen, Const(2f)), 0f, 1f) === 2f)
    assert(ScoreExpr.eval(MinOf(DocLen, Const(2f)), 0f, 1f) === 1f)
  }

  test("reciprocal decay end-to-end through the searcher") {
    val base = searcher.search(TermQ("dogs"), 10)(0).score
    // 1/(1*dl + 1): doc1 has dl 2 → decay 1/3
    val hits = searcher.search(
      FunctionScoreQ(TermQ("dogs"), Mul(SubScore, Reciprocal(DocLen, 1f, 1f, 1f))), 10)
    assert(hits(0).docId === 1L)
    assert(hits(0).score === base * (1f / 3f))
  }

  test("index-statistic sources fold to constants at build") {
    val reader = searcher.reader
    // micro fixture: 6 docs, 'all' in docs 0 and 5 → df 2, ttf 2
    assert(ValueSources.docFreq(reader, "all") === Const(2f))
    assert(ValueSources.totalTermFreq(reader, "all") === Const(2f))
    assert(ValueSources.docFreq(reader, "nosuchterm") === Const(0f))
    assert(ValueSources.maxDoc(reader) === Const(6f))
    assert(ValueSources.numDocs(reader) === Const(6f))
    // idf = ln(maxDoc/(df+1)) + 1
    val Const(i) = ValueSources.idf(reader, "all")
    assert(math.abs(i - (math.log(6.0 / 3.0) + 1.0).toFloat) < 1e-7)
  }

  test("numDocs is LIVE docs (reader.NumDocs): deletions subtract, maxDoc does not") {
    import spark.implicits._
    val d2 = SparkTestSession.tmpDir("graft-funcq-live-")
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.microFixture), d2, 2)
    val r = new IndexReader(spark, d2)
    assert(ValueSources.numDocs(r) === Const(6f))
    graft.build.Deletes.deleteDocs(spark, d2, spark.createDataset(Seq(0L, 5L)))
    assert(ValueSources.numDocs(r) === Const(4f), "NumDocsValueSource.cs:43 excludes deletions")
    assert(ValueSources.maxDoc(r) === Const(6f), "maxDoc stays the commit constant")
    // a doc tombstoned twice is one deletion: "all" is in docs 0 and 5
    val d3 = SparkTestSession.tmpDir("graft-funcq-twice-")
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.microFixture), d3, 2)
    graft.build.Deletes.deleteByTerm(spark, d3, "all")
    graft.build.Deletes.deleteByTerm(spark, d3, "all")
    assert(ValueSources.numDocs(new IndexReader(spark, d3)) === Const(4f))
    // every generation's tombstones count, not only the first's
    val root = SparkTestSession.tmpDir("graft-funcq-gens-")
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.microFixture), s"$root/g0", 2)
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.microFixture), s"$root/g1", 2,
      docIdBase = 6L)
    graft.build.Deletes.deleteDocs(spark, s"$root/g1", spark.createDataset(Seq(7L)))
    val multi = IndexReader.multi(spark, Seq(s"$root/g0", s"$root/g1"))
    assert(ValueSources.numDocs(multi) === Const(11f))
    assert(ValueSources.maxDoc(multi) === Const(12f))
  }

  test("scaleDocLen resolves to the Linear twin of ScaleFloatFunction") {
    // fixture lengths: min 1, max 2 → scale into [0,1]: slope 1, intercept -1
    val s = ValueSources.scaleDocLen(searcher.reader, 0f, 1f)
    assert(s === Linear(DocLen, 1f, -1f))
    assert(ScoreExpr.eval(s, 0f, 1f) === 0f)
    assert(ScoreExpr.eval(s, 0f, 2f) === 1f)
    // degenerate corpus guard exercised via equal target bounds semantics:
    // a reader whose lengths are all equal maps to targetMin — simulate by
    // scaling into a zero-width target on this corpus (still Linear)
    val z = ValueSources.scaleDocLen(searcher.reader, 5f, 5f)
    assert(ScoreExpr.eval(z, 0f, 1f) === 5f)
    assert(ScoreExpr.eval(z, 0f, 2f) === 5f)
  }
}
