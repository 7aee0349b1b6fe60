package graft.search

import graft.SparkTestSession
import graft.bm25.BM25
import graft.build.IndexBuilder
import graft.corpus.{CorpusGen, SourceFile}
import org.scalatest.funsuite.AnyFunSuite

/** PhraseQuery semantics (ExactPhraseScorer analog, reference:
  * /root/reference/src/Lucene.Net/Search/ExactPhraseScorer.cs): the
  * QUERY_FIRST strategy — index-pruned candidate conjunction +
  * re-analysis position verification. Stopword position gaps must break
  * exact phrases (the reference's FilteringTokenFilter position-increment
  * contract). */
class PhraseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mk(i: Int, text: String) =
    SourceFile("r", f"f$i%02d", "0" * 40, "txt", text, CorpusGen.sha256Hex(text))

  // docIds = index order (paths sort f00..f05)
  private val fixture = Seq(
    mk(0, "state machine runs"),          // exact "state machine"
    mk(1, "machine state runs"),          // reversed — no exact match
    mk(2, "state of machine"),            // "of" is a stopword: positions 0,_,2 → gap
    mk(3, "state machine state machine"), // phrase tf = 2
    mk(4, "state alpha machine"),         // 1 token between → slop 1
    mk(5, "nothing here"))

  private lazy val (searcher, dir) = {
    import spark.implicits._
    val d = SparkTestSession.tmpDir("graft-phrase-")
    IndexBuilder.build(spark, spark.createDataset(fixture), d, numPartitions = 2)
    (new Searcher(new IndexReader(spark, d)), d)
  }

  test("exact phrase: adjacency required, order required, stop gap breaks it") {
    val freqs = searcher.phraseFreqs(Seq("state", "machine"))
      .collect().map(t => t._1 -> t._2).toMap
    assert(freqs === Map(0L -> 1, 3L -> 2))
  }

  test("sloppy phrase: out-of-order within slop, slop-factored freq (SloppyPhraseScorer)") {
    val s1 = searcher.phraseFreqs(Seq("state", "machine"), 1)
      .collect().map(t => t._1 -> t._2).toMap
    assert(s1.keySet === Set(0L, 2L, 3L, 4L))
    assert(s1(0L) === 1f)     // exact: slop factor 1/(1+0)
    assert(s1(2L) === 0.5f)   // stop gap, distance 1
    assert(s1(3L) === 2f)     // two exact occurrences
    assert(s1(4L) === 0.5f)   // interposed token, distance 1
    // doc1 "machine state runs" matches REVERSED at distance 2 (adjusted
    // window m@-1..s@1) — the reorder semantics the old ordered-window
    // simplification missed
    val s2 = searcher.phraseFreqs(Seq("state", "machine"), 2)
      .collect().map(t => t._1 -> t._2).toMap
    assert(s2.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(s2(1L) === 1f / 3f)
    val s0 = searcher.phraseFreqs(Seq("state", "machine"))
      .collect().map(t => t._1 -> t._2).toMap
    assert(!s0.contains(1L) && !s0.contains(2L) && !s0.contains(4L))
  }

  test("sloppy scoring: float phraseFreq feeds BM25 as tf") {
    val hits = searcher.search(PhraseQ(Seq("state", "machine"), slop = 2), 10)
    val byDoc = hits.map(h => h.docId -> h.score).toMap
    val maxDoc = 6L
    val sumTtf = fixture.map(f =>
      graft.analysis.Analyzer.standard.analyze(f.content).bm25DocLen).sum.toLong
    val w = BM25.weightValue(BM25.idf(5, maxDoc) + BM25.idf(5, maxDoc), 1f)
    val cache = BM25.normCache(BM25.avgFieldLength(sumTtf, maxDoc))
    assert(byDoc(1L) === BM25.score(1f / 3f, BM25.encodeNorm(3), w, cache))
    assert(byDoc(3L) === BM25.score(2f, BM25.encodeNorm(4), w, cache))
  }

  test("phrase scoring: BM25 with phraseFreq as tf, weight = sum of term idfs") {
    val hits = searcher.search(PhraseQ(Seq("state", "machine")), 10)
    assert(hits.map(_.docId).toSeq === Seq(3L, 0L)) // tf=2 beats tf=1
    val maxDoc = 6L
    val sumTtf = fixture.map(f =>
      graft.analysis.Analyzer.standard.analyze(f.content).bm25DocLen).sum.toLong
    val w = BM25.weightValue(
      BM25.idf(5, maxDoc) + BM25.idf(5, maxDoc), 1f) // df(state)=df(machine)=5 (docs 0-4)
    val cache = BM25.normCache(BM25.avgFieldLength(sumTtf, maxDoc))
    assert(hits(0).score === BM25.score(2f, BM25.encodeNorm(4), w, cache))
    assert(hits(1).score === BM25.score(1f, BM25.encodeNorm(3), w, cache))
  }

  test("spanNear: ordered vs unordered proximity pairs") {
    // doc0 "state machine runs": state@0, machine@1; doc1 "machine state
    // runs": machine@0, state@1; doc4 "state alpha machine": gap 2
    val un = searcher.spanNearFreqs("state", "machine", maxGap = 2, ordered = false)
      .collect().map(t => t._1 -> t._2).toMap
    assert(un.contains(0L) && un.contains(1L) && un.contains(4L))
    val ord = searcher.spanNearFreqs("state", "machine", maxGap = 2, ordered = true)
      .collect().map(t => t._1 -> t._2).toMap
    assert(ord.contains(0L) && ord.contains(4L) && !ord.contains(1L),
      s"ordered must reject reversed doc1: $ord")
    // doc3 "state machine state machine": pairs within gap 2 (unordered):
    // (s0,m1),(s2,m1),(s2,m3) = 3; ordered: (s0,m1),(s2,m3) = 2... plus (s0? m3 d=3 no)
    assert(un(3L) === 3 && ord(3L) === 2)
  }

  test("multiPhrase: per-slot alternatives") {
    // slot1 = state|machine, slot2 = machine|runs:
    // doc0 "state machine runs": state+machine@0-1, machine+runs@1-2 -> 2
    // doc1 "machine state runs": state+runs@1-2 -> 1 (machine+state not in slots)
    val f = searcher.multiPhraseFreqs(Seq(Seq("state", "machine"), Seq("machine", "runs")))
      .collect().map(t => t._1 -> t._2).toMap
    assert(f(0L) === 2)
    assert(f(1L) === 1)
    assert(f(3L) === 2) // s m s m: sm@0, sm@2 (m@1 followed by s -> not in slot2)
    // slot with only unknown terms matches nothing
    assert(searcher.multiPhraseFreqs(Seq(Seq("state"), Seq("zzzz"))).isEmpty)
  }

  test("sloppy repeats + fixtures ported from TestSloppyPhraseQuery.cs") {
    import spark.implicits._
    // no-stop analyzer: the reference fixtures use 'a' as a term
    val noStop: String => graft.analysis.Analyzer = _ => graft.analysis.Analyzer.noStop
    val docs = Seq(
      mk(0, "a a x a x b a x b b a a x b a a"),            // DOC_4
      mk(1, "x a 1 2 3 a 4 5 6 a y"),                      // DOC_2
      mk(2, "h h h x x x h h h x x x h h h"),              // DOC_5_3
      mk(3, "h h h h"),                                    // DOC_5_4
      mk(4, "x a b a y"))                                  // scorer doc example
    val d = SparkTestSession.tmpDir("graft-sloppy-")
    IndexBuilder.build(spark, spark.createDataset(docs), d, numPartitions = 2,
      analyzerFor = noStop)
    val s = new Searcher(new IndexReader(spark, d), analyzerFor = noStop)
    def freqs(terms: Seq[String], slop: Int): Map[Long, Float] =
      s.phraseFreqs(terms, slop).collect().map(t => t._1 -> t._2).toMap

    // DOC_4 × QUERY_4 "x a a": no match at slop 0, match at every slop ≥ 1
    assert(!freqs(Seq("x", "a", "a"), 0).contains(0L))
    for (slop <- 1 to 8)
      assert(freqs(Seq("x", "a", "a"), slop).contains(0L), s"slop=$slop")
    // DOC_2 × QUERY_1 "a a a": 6 is the minimum matching slop
    for (slop <- 0 to 5)
      assert(!freqs(Seq("a", "a", "a"), slop).contains(1L), s"slop=$slop")
    for (slop <- 6 to 8)
      assert(freqs(Seq("a", "a", "a"), slop).contains(1L), s"slop=$slop")
    // LUCENE-3412: "h h h h" never matches the h-h-h runs doc at slop ≤ 2,
    // always matches the 4-h doc (repeat-group collision handling)
    for (slop <- 0 to 2) {
      val f = freqs(Seq("h", "h", "h", "h"), slop)
      assert(!f.contains(2L), s"slop=$slop must not match h h h runs")
      assert(f.contains(3L), s"slop=$slop must match h h h h")
    }
    // scorer-doc example: "a b"~2 on "x a b a y" scores both alignments:
    // "a b" at distance 0 plus "b a" at distance 2 → 1 + 1/3
    assert(freqs(Seq("a", "b"), 2).apply(4L) === 1f + 1f / 3f)
  }

  test("synonyms at one position: phrase matches through either alternative") {
    import spark.implicits._
    val syn: String => graft.analysis.Analyzer = _ => new graft.analysis.Analyzer(
      Set.empty, synonyms = Map("state" -> Seq("automaton")))
    val docs = Seq(mk(0, "state machine runs"), mk(1, "other words"))
    val d = SparkTestSession.tmpDir("graft-syn-")
    IndexBuilder.build(spark, spark.createDataset(docs), d, numPartitions = 2,
      analyzerFor = syn)
    val s = new Searcher(new IndexReader(spark, d), analyzerFor = syn)
    // the synonym term is indexed at the original's position: both the
    // original and the synonym phrase match doc0 exactly once
    val orig = s.phraseFreqs(Seq("state", "machine")).collect()
    assert(orig.length === 1 && orig(0)._1 === 0L && orig(0)._2 === 1)
    val viaSyn = s.phraseFreqs(Seq("automaton", "machine")).collect()
    assert(viaSyn.length === 1 && viaSyn(0)._1 === 0L && viaSyn(0)._2 === 1)
    // norms ignore the injected token: dl(doc0) == 3, not 4
    val dl = spark.read.parquet(s"$d/docstats")
      .where($"docId" === 0L).select($"tokenCount").as[Int].head()
    assert(dl === 3)
  }

  test("single-term phrase rewrites to TermQuery; absent term matches nothing") {
    val p1 = searcher.search(PhraseQ(Seq("state")), 10)
    val t1 = searcher.search(TermQ("state"), 10)
    assert(p1.toSeq === t1.toSeq)
    assert(searcher.search(PhraseQ(Seq("state", "zzzz")), 10).isEmpty)
  }

  test("sloppy multi-phrase: singleton slots == sloppy phrase (MultiPhraseQuery.SetSlop)") {
    for (slop <- Seq(0, 1, 2)) {
      val mp = searcher.multiPhraseFreqs(Seq(Seq("state"), Seq("machine")), slop)
        .collect().map(t => t._1 -> t._2).toMap
      val sp = searcher.phraseFreqs(Seq("state", "machine"), slop)
        .collect().map(t => t._1 -> t._2).toMap
      assert(mp === sp, s"slop=$slop")
    }
  }

  test("sloppy multi-phrase: union alternatives pick the best-positioned one") {
    // doc4 "state alpha machine": slot (state|alpha) offers alpha@1 which
    // sits adjacent to machine@2 — exact match despite state@0 being 1 away
    val mp = searcher.multiPhraseFreqs(
      Seq(Seq("state", "alpha"), Seq("machine")), 0)
      .collect().map(t => t._1 -> t._2).toMap
    assert(mp(4L) === 1f)
    assert(mp(0L) === 1f) // "state machine" adjacent
  }

  test("sloppy multi-phrase: identical slots form repeat groups (LUCENE-3412 analog)") {
    // both slots = (state|machine): union positions act as a repeated
    // term; two distinct union occurrences must anchor each match
    val mp = searcher.multiPhraseFreqs(
      Seq(Seq("state", "machine"), Seq("state", "machine")), 0)
      .collect().map(t => t._1 -> t._2).toMap
    // doc0/doc1: one adjacent pair of union hits regardless of order;
    // doc3 "state machine state machine": three adjacent union pairs;
    // doc2/doc4 have a gap -> no match at slop 0
    assert(mp === Map(0L -> 1f, 1L -> 1f, 3L -> 3f))
  }

  test("complex phrase scores == the expanded plain phrase (exact and sloppy)") {
    // 'stat*' expands to {state} in this fixture, so the complex phrase
    // must score exactly like the plain phrase (same idf sum, same freq,
    // same norm path)
    val cp = searcher.search(ComplexPhraseQ(Seq(PrefixQ("stat"), TermQ("machine"))), 10)
    val pp = searcher.search(PhraseQ(Seq("state", "machine")), 10)
    assert(cp.toSeq === pp.toSeq)
    val cps = searcher.search(ComplexPhraseQ(Seq(PrefixQ("stat"), TermQ("machine")), 2), 10)
    val pps = searcher.search(PhraseQ(Seq("state", "machine"), 2), 10)
    assert(cps.toSeq === pps.toSeq)
    // a part that expands to nothing → the phrase matches nothing
    assert(searcher.search(ComplexPhraseQ(Seq(PrefixQ("zzz"), TermQ("machine"))), 10).isEmpty)
    // genuine multi-alternative slot through the ADT path
    val mp = searcher.search(MultiPhraseQ(Seq(Seq("state", "alpha"), Seq("machine"))), 10)
    assert(mp.nonEmpty)
  }
}
