package graft.search

import graft.SparkTestSession
import graft.analysis.{Analyzer, DelimitedPayload}
import graft.bm25.BM25
import graft.build.{CheckIndex, Deletes, IndexBuilder, IndexPaths}
import graft.corpus.{CorpusGen, SourceFile}
import org.scalatest.funsuite.AnyFunSuite

/** Payload queries (reference: Search/Payloads/PayloadTermQuery.cs +
  * Analysis/Payloads/DelimitedPayloadTokenFilter.cs): `term|x` tokens
  * carry float payloads into the index, per position; payload term
  * queries multiply the BM25 score by the payload aggregate; the payloads
  * survive CheckIndex and expunge. */
class PayloadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mk(i: Int, text: String) =
    SourceFile("r", f"f$i%02d", "0" * 40, "txt", text, CorpusGen.sha256Hex(text))

  private val fixture = Seq(
    mk(0, "alpha|2.0 beta"),          // alpha payload 2.0
    mk(1, "alpha|0.5 alpha|1.5 beta"), // two occurrences: avg 1.0, min 0.5, max 1.5
    mk(2, "beta gamma"),
    mk(3, "alpha beta"))              // alpha with NO payload → factor 1

  private lazy val (searcher, dir) = {
    import spark.implicits._
    val d = SparkTestSession.tmpDir("graft-pay-")
    IndexBuilder.build(spark, spark.createDataset(fixture), d, numPartitions = 2,
      analyzerFor = _ => PayloadSpec.analyzer, indexPayloads = true)
    (new Searcher(new IndexReader(spark, d),
      analyzerFor = _ => PayloadSpec.analyzer), d)
  }

  test("payloads index checks clean and implies positions") {
    val reader = new IndexReader(spark, dir)
    assert(reader.hasPayloads && reader.hasPositions)
    val report = CheckIndex.check(spark, dir)
    assert(report.ok, report.problems.mkString("; "))
  }

  test("payload term scores = BM25 × payload aggregate (avg/min/max)") {
    def base(docId: Long): Float =
      searcher.search(TermQ("alpha"), 10).find(_.docId == docId).get.score
    val avg = searcher.payloadTermTopK("alpha", 10).map(h => h.docId -> h.score).toMap
    assert(avg(0L) === base(0L) * 2.0f)
    assert(avg(1L) === base(1L) * 1.0f)
    assert(avg(3L) === base(3L) * 1f) // no payload → factor 1
    val mn = searcher.payloadTermTopK("alpha", 10, "min").map(h => h.docId -> h.score).toMap
    assert(mn(1L) === base(1L) * 0.5f)
    val mx = searcher.payloadTermTopK("alpha", 10, "max").map(h => h.docId -> h.score).toMap
    assert(mx(1L) === base(1L) * 1.5f)
  }

  test("PayloadNearQuery: span score × in-span payload aggregate") {
    // slop 0, ordered: exactly one span per matching doc, so the span
    // score equals the exact-phrase score (same Σidf weight, freq 1) and
    // the factor is the avg payload of occurrences INSIDE the span —
    // doc1's alpha@0 (payload 0.5) is OUTSIDE its only span [1,3) and
    // must not be collected
    val base = searcher.search(PhraseQ(Seq("alpha", "beta")), 10)
      .map(h => h.docId -> h.score).toMap
    val near = SpanNearQ(Seq(SpanTermQ("alpha"), SpanTermQ("beta")), 0, inOrder = true)
    val avg = searcher.payloadNearScores(near).collect().map(h => h.docId -> h.score).toMap
    assert(avg.keySet === Set(0L, 1L, 3L))
    assert(avg(0L) === base(0L) * 2.0f)
    assert(avg(1L) === base(1L) * 1.5f)
    assert(avg(3L) === base(3L) * 1f) // no payloads in span → factor 1
    // slop 1: doc1 gains the anchor-0 span → both alpha payloads are
    // in-span (avg 1.0, min 0.5, max 1.5) and the span freq is 2
    val near1 = SpanNearQ(Seq(SpanTermQ("alpha"), SpanTermQ("beta")), 1, inOrder = true)
    val w = BM25.weightValue(BM25.idf(3, 4) + BM25.idf(4, 4), 1f) // df(alpha)=3, df(beta)=4
    val cache = BM25.normCache(BM25.avgFieldLength(9, 4)) // 9 tokens / 4 docs
    val span2 = BM25.score(2f, BM25.encodeNorm(3), w, cache)
    val a1 = searcher.payloadNearScores(near1).collect().map(h => h.docId -> h.score).toMap
    assert(a1(1L) === span2 * 1.0f)
    val mn = searcher.payloadNearScores(near1, "min").collect().map(h => h.docId -> h.score).toMap
    val mx = searcher.payloadNearScores(near1, "max").collect().map(h => h.docId -> h.score).toMap
    assert(mn(1L) === span2 * 0.5f)
    assert(mx(1L) === span2 * 1.5f)
  }

  test("phrase matching still works through the payload-bearing positions") {
    // positions are real (payloads imply positions): "alpha beta" adjacency
    val freqs = searcher.phraseFreqs(Seq("alpha", "beta"), 0)
      .collect().map(t => t._1 -> t._2).toMap
    assert(freqs.keySet === Set(0L, 1L, 3L)) // doc1: alpha@1 beta@2 adjacent
  }

  test("SpanPayloadCheck: span accepted only when its payload sequence matches") {
    def freqs(q: SpanQuery, want: Seq[Array[Byte]]): Map[Long, Int] =
      searcher.spanPayloadCheckFreqs(q, want).collect().toMap
    val p20 = DelimitedPayload.floatEncoder("2.0")
    val p05 = DelimitedPayload.floatEncoder("0.5")
    val p15 = DelimitedPayload.floatEncoder("1.5")
    // alpha|2.0 matches only doc0's occurrence
    assert(freqs(SpanTermQ("alpha"), Seq(p20)) === Map(0L -> 1, 3L -> 1))
    // doc3's payload-free alpha is always accepted (IsPayloadAvailable=false)
    assert(freqs(SpanTermQ("alpha"), Seq(p05)) === Map(1L -> 1, 3L -> 1))
    assert(freqs(SpanTermQ("alpha"), Seq(p15)) === Map(1L -> 1, 3L -> 1))
    // count mismatch rejects: a 2-payload requirement never fits a unit span
    assert(freqs(SpanTermQ("alpha"), Seq(p05, p15)) === Map(3L -> 1))
    // SpanOr: each clause's spans check independently
    assert(freqs(SpanOrQ(Seq(SpanTermQ("alpha"), SpanTermQ("gamma"))), Seq(p20))
      === Map(0L -> 1, 3L -> 1, 2L -> 1)) // gamma carries no payload → accepted
    // SpanNear is rejected like the reference
    intercept[IllegalArgumentException] {
      searcher.spanPayloadCheckFreqs(
        SpanNearQ(Seq(SpanTermQ("alpha"), SpanTermQ("beta")), 0, inOrder = true),
        Seq(p20))
    }
    // the NEAR variant compares unordered: "alpha beta" spans in doc0
    // carry only alpha's 2.0 payload (beta has none) -> the single-payload
    // requirement matches whatever its order
    val near = SpanNearQ(Seq(SpanTermQ("alpha"), SpanTermQ("beta")), 0, inOrder = true)
    val nf = searcher.spanNearPayloadCheckFreqs(near, Seq(p20)).collect().toMap
    assert(nf.get(0L) === Some(1)) // 2.0 payload present, matches
    assert(nf.get(3L) === Some(1)) // payload-free span accepted
    assert(nf.get(1L) === None) // doc1's span carries 0.5/1.5, not 2.0
  }

  test("an unknown payload function throws instead of averaging") {
    val near = SpanNearQ(Seq(SpanTermQ("alpha"), SpanTermQ("beta")), 1, inOrder = true)
    for (agg <- Seq("mean", "AVG", "")) {
      intercept[IllegalArgumentException](searcher.payloadTermScores("alpha", agg))
      intercept[IllegalArgumentException](searcher.payloadTermTopK("alpha", 10, agg))
      intercept[IllegalArgumentException](searcher.payloadNearScores(near, agg))
    }
  }

  test("expunge keeps the payloads sidecar aligned") {
    import spark.implicits._
    Deletes.deleteDocs(spark, dir, spark.createDataset(Seq(0L)))
    val exp = SparkTestSession.tmpDir("graft-pay-exp-")
    Deletes.expunge(spark, dir, exp, numPartitions = 2)
    val report = CheckIndex.check(spark, exp)
    assert(report.ok, report.problems.mkString("; "))
    val s2 = new Searcher(new IndexReader(spark, exp),
      analyzerFor = _ => PayloadSpec.analyzer)
    // old doc1 is now doc0; its min-payload score still uses 0.5
    val mn = s2.payloadTermTopK("alpha", 10, "min").map(h => h.docId -> h.score).toMap
    val b0 = s2.search(TermQ("alpha"), 10).find(_.docId == 0L).get.score
    assert(mn(0L) === b0 * 0.5f)
  }
}

object PayloadSpec {
  /** Static so executor closures reference the module, not the suite. */
  val analyzer: Analyzer = new Analyzer(Set.empty, 255, DelimitedPayload.tokenizer())
}
