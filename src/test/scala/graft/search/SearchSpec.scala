package graft.search

import graft.SparkTestSession
import graft.bm25.BM25
import graft.build.{CheckIndex, CollectionStatsRow, IndexBuilder, IndexPaths, TermDictRow}
import graft.corpus.CorpusGen
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: build the micro fixture index (FIXTURES.md §3, the
  * TestTermScorer/TestBooleanQuery pattern — reference:
  * /root/reference/src/Lucene.Net.Tests/Search/TestTermScorer.cs:44-105,
  * TestBooleanQuery.cs:54-130) and assert rank-identical BM25 results
  * against closed-form expected scores and the brute-force oracle. */
class SearchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val dir = SparkTestSession.tmpDir("graft-micro-")

  // micro fixture: doc0 "all", doc1 "dogs dogs", doc2 "like", doc3 "playing",
  // doc4 "fetch", doc5 "all" — paths f0..f5 sort to docIds 0..5
  private lazy val searcher: Searcher = {
    import spark.implicits._
    val corpus = spark.createDataset(CorpusGen.microFixture)
    IndexBuilder.build(spark, corpus, dir, numPartitions = 2)
    new Searcher(new IndexReader(spark, dir))
  }

  // closed-form BM25 for the fixture (SURVEY.md §4 formulas, pure math)
  private val maxDoc = 6L
  private val sumTtf = 7L // 1+2+1+1+1+1 tokens
  private def expectedScore(df: Long, tf: Int, dl: Int, boost: Float = 1f): Float = {
    val w = BM25.weightValue(BM25.idf(df, maxDoc), boost)
    val cache = BM25.normCache(BM25.avgFieldLength(sumTtf, maxDoc))
    BM25.score(tf.toFloat, BM25.encodeNorm(dl), w, cache)
  }

  test("index passes CheckIndex incl. sha256 invariant") {
    import spark.implicits._
    searcher // force build
    val report = CheckIndex.check(spark, dir,
      Some(spark.createDataset(CorpusGen.microFixture)))
    assert(report.ok, report.problems.mkString("; "))
  }

  test("Q1: term 'all' → hits {0,5}, equal scores, docID tie-break, exact score") {
    val hits = searcher.search(TermQ("all"), 10)
    assert(hits.map(_.docId).toSeq == Seq(0L, 5L))
    assert(hits(0).score == hits(1).score)
    assert(hits(0).score == expectedScore(df = 2, tf = 1, dl = 1))
    // oracle parity
    val oracle = searcher.searchOracle(TermQ("all"), 10)
    assert(hits.toSeq == oracle.toSeq)
  }

  test("term vector of doc1 recovers its per-term tfs") {
    searcher // force build
    val tv = new IndexReader(spark, dir).termVector(1L)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(tv === Map("dogs" -> 2))
  }

  test("Q2: term 'dogs' → tf=2 saturation") {
    val hits = searcher.search(TermQ("dogs"), 10)
    assert(hits.map(_.docId).toSeq == Seq(1L))
    assert(hits(0).score == expectedScore(df = 1, tf = 2, dl = 2))
  }

  test("Q3: SHOULD(all, dogs) → per-doc sum of clause scores, coord=1") {
    val hits = searcher.search(BoolQ(should = Seq(TermQ("all"), TermQ("dogs"))), 10)
    // doc1 (dogs, tf2, dl2) vs docs 0/5 (all, tf1, dl1)
    val sAll = expectedScore(2, 1, 1)
    val sDogs = expectedScore(1, 2, 2)
    val expected = Seq(1L -> sDogs, 0L -> sAll, 5L -> sAll)
      .sortBy { case (d, s) => (-s, d) }
    assert(hits.map(h => (h.docId, h.score)).toSeq == expected)
    assert(hits.toSeq == searcher.searchOracle(
      BoolQ(should = Seq(TermQ("all"), TermQ("dogs"))), 10).toSeq)
  }

  test("Q4: MUST(dogs) MUST_NOT(all) → anti-join, hits {1}") {
    val q = BoolQ(must = Seq(TermQ("dogs")), mustNot = Seq(TermQ("all")))
    assert(searcher.search(q, 10).map(_.docId).toSeq == Seq(1L))
    // and the anti-join actually excludes: MUST(all) MUST_NOT(all) → empty
    val q2 = BoolQ(must = Seq(TermQ("all")), mustNot = Seq(TermQ("all")))
    assert(searcher.search(q2, 10).isEmpty)
  }

  test("Q5: minShouldMatch semantics") {
    val q1 = BoolQ(should = Seq(TermQ("all"), TermQ("dogs"), TermQ("like")),
      minShouldMatch = 2)
    assert(searcher.search(q1, 10).isEmpty) // vocab disjoint → no doc has 2
    val qMsm1 = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")), minShouldMatch = 1)
    val qOr = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    assert(searcher.search(qMsm1, 10).toSeq == searcher.search(qOr, 10).toSeq)
    // minNrShouldMatch above the SHOULD-clause count matches nothing
    // (reference BooleanQuery semantics) — including the single-MUST shape
    // the rewrite would otherwise collapse to its bare clause
    assert(searcher.search(
      BoolQ(must = Seq(TermQ("all")), minShouldMatch = 1), 10).isEmpty)
    assert(searcher.search(
      BoolQ(should = Seq(TermQ("all")), minShouldMatch = 2), 10).isEmpty)
  }

  test("Q6: nested boolean (bq in bq)") {
    val inner = BoolQ(should = Seq(TermQ("dogs"), TermQ("like")))
    val outer = BoolQ(should = Seq(TermQ("all"), inner))
    val hits = searcher.search(outer, 10)
    assert(hits.map(_.docId).sorted.toSeq == Seq(0L, 1L, 2L, 5L))
    assert(hits.toSeq == searcher.searchOracle(outer, 10).toSeq)
  }

  test("Q7: searchAfter pagination") {
    val q = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    val page1 = searcher.search(q, 2)
    val page2 = searcher.searchAfter(page1.last, q, 2)
    val all = searcher.search(q, 10)
    assert((page1 ++ page2).toSeq == all.take(4).toSeq)
  }

  test("degenerate: query term absent from corpus → no hits, no NaN") {
    assert(searcher.search(TermQ("zebra"), 10).isEmpty)
    val mixed = searcher.search(BoolQ(should = Seq(TermQ("all"), TermQ("zebra"))), 10)
    assert(mixed.map(_.docId).toSeq == Seq(0L, 5L))
    assert(mixed.forall(h => !h.score.isNaN))
  }

  test("ConstantScore, DisMax, MatchAll") {
    val cs = searcher.search(ConstantScoreQ(TermQ("all"), 3.5f), 10)
    assert(cs.map(_.score).toSeq == Seq(3.5f, 3.5f))
    val dm = searcher.search(DisMaxQ(Seq(TermQ("all"), TermQ("dogs")), 0f), 10)
    val sAll = expectedScore(2, 1, 1)
    val sDogs = expectedScore(1, 2, 2)
    assert(dm.map(_.score).max == math.max(sAll, sDogs))
    assert(searcher.search(MatchAllQ(), 10).length == 6)
  }

  test("DisMax tieBreak>0 sums sub-scores in clause order, run-stable") {
    // three clauses hitting the same docs with distinct boosts — the sum
    // under tieBreak must be the CLAUSE-ORDER float sum (reference
    // DisjunctionMaxScorer sums sub-scorers in order), not whatever order
    // the shuffle delivered. Per-clause scores come from solo runs of the
    // exact same TermQ, so the oracle is bit-exact.
    val clauses = Seq(TermQ("all", 1f), TermQ("all", 2f), TermQ("all", 0.5f))
    val perClause = clauses.map(c =>
      searcher.search(c, 10).map(h => h.docId -> h.score).toMap)
    val tieBreak = 0.37f
    val expected = perClause.head.keys.map { d =>
      val ss = perClause.map(_(d))
      var max = Float.NegativeInfinity; var sum = 0f
      ss.foreach { s => sum += s; if (s > max) max = s } // clause order
      d -> (max + tieBreak * (sum - max))
    }.toMap
    (1 to 3).foreach { _ =>
      val hits = searcher.search(DisMaxQ(clauses, tieBreak), 10)
      assert(hits.map(h => h.docId -> h.score).toMap === expected)
    }
  }

  test("fuzzy ranking key counts codepoints (Spark length == codePointCount)") {
    // the TOP_TERMS sort key uses length($"term") while the boost uses
    // codePointCount — this pins that Spark's length IS codepoint count
    // (UTF8String.numChars walks lead bytes), incl. supplementary plane
    import spark.implicits._
    import org.apache.spark.sql.functions.{length => sqlLength, col}
    val terms = Seq("abc", "a😀c", "😀😀", "café")
    val got = terms.toDF("term").select(sqlLength(col("term"))).as[Int].collect().toSeq
    assert(got === terms.map(t => t.codePointCount(0, t.length)))
  }

  test("boost multiplies scores") {
    val plain = searcher.search(TermQ("all"), 10)
    val boosted = searcher.search(TermQ("all", boost = 2f), 10)
    assert(boosted(0).score == expectedScore(2, 1, 1, boost = 2f))
    assert(boosted(0).score > plain(0).score)
  }
}

/** Wider corpus (FIXTURES.md §1, 100 docs): closed-form df/tf facts,
  * CheckIndex invariants, WAND-pruned fast path == oracle, multi-term
  * expansion, resume-from-checkpoint. */
class CorpusSearchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val dir = SparkTestSession.tmpDir("graft-corpus-")
  private val N = 100

  private lazy val searcher: Searcher = {
    IndexBuilder.build(spark, CorpusGen.dataset(spark, N, 4), dir, numPartitions = 4)
    new Searcher(new IndexReader(spark, dir))
  }

  test("CheckIndex passes; closed-form df('def') == numDocs") {
    import spark.implicits._
    searcher // force build
    val report = CheckIndex.check(spark, dir, Some(CorpusGen.dataset(spark, N, 4)))
    assert(report.ok, report.problems.mkString("; "))
    val dict = spark.read.parquet(s"$dir/term_dict").as[graft.build.TermDictRow]
    val defRow = dict.filter(_.term == "def").head()
    assert(defRow.df == N)
    // tf("def", doc i) = 1 + i%40 → totalTf = Σ
    val expectedTtf = (0 until N).map(i => 1L + i % 40).sum
    assert(defRow.totalTf == expectedTtf)
  }

  test("top-10 'def': WAND fast path == brute-force oracle (rank identical)") {
    val pruned = new Searcher(new IndexReader(spark, dir))
    val fast = pruned.search(TermQ("def"), 10)
    val oracle = searcher.searchOracle(TermQ("def"), 10)
    assert(fast.map(h => (h.docId, h.score)).toSeq ==
      oracle.map(h => (h.docId, h.score)).toSeq)
  }

  test("top-10 disjunction with pruning == oracle") {
    val q = BoolQ(should = Seq(TermQ("def"), TermQ("int"), TermQ("one")))
    val pruned = new Searcher(new IndexReader(spark, dir))
    val fast = pruned.search(q, 10)
    val oracle = searcher.searchOracle(q, 10)
    assert(fast.map(h => (h.docId, h.score)).toSeq ==
      oracle.map(h => (h.docId, h.score)).toSeq)
  }

  test("multi-term queries: prefix/wildcard/fuzzy/range expand via dictionary") {
    // terms f0..f39 exist (function names)
    val prefixHits = searcher.search(PrefixQ("f1"), 200)
    assert(prefixHits.nonEmpty)
    val wildcardHits = searcher.search(WildcardQ("f?"), 200)
    assert(wildcardHits.nonEmpty)
    val fuzzy = searcher.search(FuzzyQ("sampl", 1), 200) // matches "sample"
    assert(fuzzy.nonEmpty)
    val range = searcher.search(TermRangeQ("f0", "f2"), 200)
    assert(range.nonEmpty)
  }

  test("fuzzy TOP_TERMS rewrite: per-term similarity boosts") {
    // 'def' is in every doc; FuzzyQ('defz', 1) matches only 'def' at
    // distance 1 → boost = 1 - 1/min(3,4) = 2/3 of the exact-term score
    val exact = searcher.search(TermQ("def"), 5)
    val fuzzy = searcher.search(FuzzyQ("defz", 1), 5)
    assert(fuzzy.map(_.docId).toSeq === exact.map(_.docId).toSeq)
    fuzzy.zip(exact).foreach { case (f, e) =>
      // boost folds into weightValue before the tf factor, so the product
      // differs from post-multiplying by up to an ulp
      assert(math.abs(f.score - e.score * (1f - 1f / 3f)) <= 2 * math.ulp(e.score),
        s"${f.score} vs ${e.score * (1f - 1f / 3f)}")
    }
    // distance 0 keeps boost 1 (plus any other distance-1 matches summed)
    val self = searcher.search(FuzzyQ("def", 0), 5)
    assert(self.map(h => (h.docId, h.score)).toSeq ===
      exact.map(h => (h.docId, h.score)).toSeq)
  }

  test("wide multi-term: constant-score fallback past the clause budget") {
    // f1* matches f1, f10..f19 (11 terms) — force the budget below that
    val tiny = new Searcher(new IndexReader(spark, dir), maxClauseCount = 2)
    val wide = tiny.search(PrefixQ("f1", boost = 2f), 200)
    val scoring = searcher.search(PrefixQ("f1"), 200)
    assert(wide.map(_.docId).toSet === scoring.map(_.docId).toSet,
      "fallback must keep the matched doc set")
    assert(wide.forall(_.score == 2f), "fallback scores are constant = boost")
    // narrow queries on the same searcher still take the scoring rewrite
    assert(tiny.search(TermQ("def"), 5).toSeq === searcher.search(TermQ("def"), 5).toSeq)
  }

  test("resume: killed-after-flush build completes without redoing early stages") {
    val dir2 = SparkTestSession.tmpDir("graft-resume-")
    val corpus = CorpusGen.dataset(spark, 30, 2)
    // simulate a job killed after the flush stage committed
    IndexBuilder.buildFlush(spark, corpus, dir2, numPartitions = 2)
    val flushMtime = new java.io.File(s"$dir2/flush").lastModified()
    assert(IndexBuilder.stageDone(spark, dir2, "flush"))
    assert(!IndexBuilder.stageDone(spark, dir2, "postings"))
    IndexBuilder.build(spark, corpus, dir2, numPartitions = 2, resume = true)
    assert(new java.io.File(s"$dir2/flush").lastModified() == flushMtime,
      "resume must not rewrite the committed flush stage")
    assert(IndexBuilder.stageDone(spark, dir2, "postings"))
    assert(IndexBuilder.stageDone(spark, dir2, "stats"))
    // resumed index answers queries identically to a fresh build
    val s2 = new Searcher(new IndexReader(spark, dir2))
    val fresh = SparkTestSession.tmpDir("graft-fresh-")
    IndexBuilder.build(spark, corpus, fresh, numPartitions = 2)
    val s3 = new Searcher(new IndexReader(spark, fresh))
    assert(s2.search(TermQ("def"), 5).toSeq == s3.search(TermQ("def"), 5).toSeq)
  }

  test("resume with sidecars: killed-after-postings positions build == a fresh build") {
    import spark.implicits._
    val dir2 = SparkTestSession.tmpDir("graft-resume-pos-")
    val corpus = CorpusGen.dataset(spark, 40, 2)
    // simulate a job killed after the postings stage (and its positions
    // sidecar) committed
    IndexBuilder.buildFlush(spark, corpus, dir2, numPartitions = 2, indexPositions = true)
    IndexBuilder.buildPostings(spark, dir2, numPartitions = 2)
    assert(IndexBuilder.stageDone(spark, dir2, "postings"))
    assert(!IndexBuilder.stageDone(spark, dir2, "stats"))
    val postingsMtime = new java.io.File(IndexPaths.postings(dir2)).lastModified()
    IndexBuilder.build(spark, corpus, dir2, numPartitions = 2, resume = true,
      indexPositions = true)
    assert(new java.io.File(IndexPaths.postings(dir2)).lastModified() == postingsMtime,
      "resume must not rewrite the committed postings stage")
    val report = CheckIndex.check(spark, dir2)
    assert(report.ok, report.problems.mkString("; "))

    val fresh = SparkTestSession.tmpDir("graft-fresh-pos-")
    IndexBuilder.build(spark, corpus, fresh, numPartitions = 2, indexPositions = true)
    // equal on content, not bytes: rows compared as sorted sets
    assert(spark.read.parquet(IndexPaths.collectionStats(dir2)).as[CollectionStatsRow].collect()
      === spark.read.parquet(IndexPaths.collectionStats(fresh)).as[CollectionStatsRow].collect())
    def dict(d: String) =
      spark.read.parquet(IndexPaths.termDict(d)).as[TermDictRow].collect().sortBy(_.term).toSeq
    assert(dict(dir2) === dict(fresh))
    val resumed = new Searcher(new IndexReader(spark, dir2))
    val ref = new Searcher(new IndexReader(spark, fresh))
    assert(resumed.reader.hasPositions && ref.reader.hasPositions)
    for (q <- Seq(TermQ("def"), PhraseQ(Seq("def", "f1")))) {
      val hits = ref.search(q, 10).toSeq
      assert(hits.nonEmpty, s"$q matched nothing")
      assert(resumed.search(q, 10).toSeq === hits, q)
    }
  }
}
