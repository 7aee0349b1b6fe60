package graft.search

import graft.SparkTestSession
import graft.build.IndexBuilder
import graft.corpus.{CorpusGen, SourceFile}
import org.scalatest.funsuite.AnyFunSuite

/** SparsePhraseQ (PhraseQuery.Add(term, position) analog) and
  * NGramPhraseQ (NGramPhraseQuery.cs rewrite): explicit-position exact
  * phrases, and the n-gram optimization that decodes ~1/n of the posting
  * lists while provably returning the dense phrase's exact result. */
class SparsePhraseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("NGramPhraseQ.optimized: the reference rewrite rule, fallbacks included") {
    // 5 grams, n=2: keep 0, 2, 4 (4 = last)
    assert(NGramPhraseQ(2, Seq("AB", "BC", "CD", "DE", "EF")).optimized ===
      SparsePhraseQ(Seq(("AB", 0), ("CD", 2), ("EF", 4))))
    // 4 grams: keep 0, 2, 3 (last not on the stride)
    assert(NGramPhraseQ(2, Seq("AB", "BC", "CD", "DE")).optimized ===
      SparsePhraseQ(Seq(("AB", 0), ("CD", 2), ("DE", 3))))
    // too short / non-overlapping: plain dense phrase, like base.Rewrite
    assert(NGramPhraseQ(2, Seq("AB", "BC")).optimized === PhraseQ(Seq("AB", "BC")))
    assert(NGramPhraseQ(1, Seq("a", "b", "c")).optimized === PhraseQ(Seq("a", "b", "c")))
  }

  private def mk(i: Int, text: String) =
    SourceFile("r", f"f$i%02d", "0" * 40, "zh", text, CorpusGen.sha256Hex(text))

  // one ideograph run each → bigrams at consecutive positions
  private val fixture = Seq(
    mk(0, "一二三四五"), // contains 一二三四 once
    mk(1, "五一二三四"), // contains it once, offset anchor
    mk(2, "一二五三四"), // grams 一二 and 三四 present, 二三 absent
    mk(3, "一二三四一二三四"), // twice (anchors 0 and 4)
    mk(4, "四三二一"))   // none

  private lazy val searcher = {
    import spark.implicits._
    val d = SparkTestSession.tmpDir("graft-sparse-")
    IndexBuilder.build(spark, spark.createDataset(fixture), d, numPartitions = 2,
      analyzerFor = _ => graft.analysis.Analyzer.cjk, indexPositions = true)
    new Searcher(new IndexReader(spark, d))
  }

  test("ngram phrase == dense bigram phrase on docs and freqs; gaps respected") {
    val grams = Seq("一二", "二三", "三四")
    val sparse = searcher.sparsePhraseFreqs(
      NGramPhraseQ(2, grams).optimized.asInstanceOf[SparsePhraseQ].parts)
      .collect().map(t => (t._1, t._2)).sortBy(_._1).toSeq
    val dense = searcher.phraseFreqs(grams, 0)
      .collect().map(t => (t._1, t._2)).sortBy(_._1).toSeq
    assert(dense === Seq((0L, 1f), (1L, 1f), (3L, 2f)))
    assert(sparse === dense) // doc 2 has both kept grams but NOT at gap 2
  }

  test("scored NGramPhraseQ flows through rewrite; sparse weight = kept terms' idf") {
    val hits = searcher.search(NGramPhraseQ(2, Seq("一二", "二三", "三四")), 10)
    assert(hits.map(_.docId).toSet === Set(0L, 1L, 3L))
    // doc 3 (freq 2) outranks the freq-1 docs under BM25
    assert(hits.head.docId === 3L)
  }

  test("explicit-gap SparsePhraseQ: ('一二',0) + ('五三',2) matches only the gap doc") {
    // doc 2 = 一二五三四 → bigrams 一二/0 二五/1 五三/2 三四/3: the
    // explicit 2-position gap skips 二五 without constraining it
    val got = searcher.sparsePhraseFreqs(Seq(("一二", 0), ("五三", 2)))
      .collect().map(_._1).toSeq
    assert(got === Seq(2L))
  }
}
