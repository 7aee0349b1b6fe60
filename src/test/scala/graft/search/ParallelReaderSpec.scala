package graft.search

import graft.SparkTestSession
import graft.build.{Deletes, IndexBuilder}
import graft.corpus.{CorpusGen, SourceFile}
import org.scalatest.funsuite.AnyFunSuite

/** ParallelAtomicReader contract (reference:
  * Index/ParallelAtomicReader.cs): N indexes over the SAME docs with
  * DISJOINT fields read as one — equivalent to having indexed every
  * field in one build, and deletes on any side hide the doc everywhere. */
class ParallelReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mk(path: String, lang: String, text: String) =
    SourceFile("r", path, "0" * 40, lang, text, CorpusGen.sha256Hex(text))

  private val corpus = Seq(
    mk("f0", "scala", "merge table scan fast"),
    mk("f1", "scala", "table hash join merge table"),
    mk("f2", "rust",  "vector index build merge"),
    mk("f3", "go",    "slow scan vector"))

  import ParallelReaderSpec.noTokFor

  /** text-only primary, keyword-only secondary, and the all-in-one
    * combined build — all from the same corpus, same partitioning. */
  private lazy val (textDir, kwDir, combinedDir) = {
    import spark.implicits._
    val ds = spark.createDataset(corpus)
    val t = SparkTestSession.tmpDir("graft-par-text-")
    IndexBuilder.build(spark, ds, t, numPartitions = 2,
      analyzerFor = _ => graft.analysis.Analyzer.noStop)
    val k = SparkTestSession.tmpDir("graft-par-kw-")
    IndexBuilder.build(spark, ds, k, numPartitions = 2,
      analyzerFor = noTokFor, keywordFields = Seq("lang", "path"))
    val c = SparkTestSession.tmpDir("graft-par-comb-")
    IndexBuilder.build(spark, ds, c, numPartitions = 2,
      analyzerFor = _ => graft.analysis.Analyzer.noStop,
      keywordFields = Seq("lang", "path"))
    (t, k, c)
  }

  private def parallel = new ParallelIndexReader(spark, textDir, Seq(kwDir))
  private def searcher(r: IndexReader) =
    new Searcher(r, analyzerFor = _ => graft.analysis.Analyzer.noStop)
  private def hits(r: IndexReader, q: Query): Set[(Long, Float)] =
    searcher(r).scored(q).collect().map(h => (h.docId, h.score)).toSet

  test("parallel(text, kw) == combined single build, scores bit-equal") {
    val q = BoolQ(must = Seq(TermQ("merge"), TermQ("lang:scala")))
    val p = hits(parallel, q)
    val c = hits(new IndexReader(spark, combinedDir), q)
    assert(p === c)
    assert(p.map(_._1) === Set(0L, 1L)) // f0, f1: scala docs containing merge
  }

  test("search top-k of a secondary-only term and of a mixed bool == oracle == combined build") {
    val combined = searcher(new IndexReader(spark, combinedDir))
    for (q <- Seq[Query](TermQ("lang:scala"),
        BoolQ(must = Seq(TermQ("table")), should = Seq(TermQ("lang:rust"), TermQ("vector"))),
        BoolQ(should = Seq(TermQ("merge"), TermQ("lang:go")), mustNot = Seq(TermQ("lang:rust"))))) {
      val s = searcher(parallel)
      val top = s.search(q, 3).toSeq
      assert(top.nonEmpty, q)
      assert(top === s.searchOracle(q, 3).toSeq, q)
      assert(top === combined.search(q, 3).toSeq, q)
    }
    assert(searcher(parallel).search(TermQ("lang:scala"), 10).map(_.docId).toSet === Set(0L, 1L))
  }

  test("dictionary seek prunes across the unioned term spaces") {
    // a prefix in the SECONDARY's term space must expand through the
    // unioned dictionary + unioned firstchars alphabet
    val p = hits(parallel, BoolQ(must = Seq(PrefixQ("lang:s"))))
    assert(p.map(_._1) === Set(0L, 1L)) // lang:scala only (not rust/go)
    // and a text-space prefix still resolves against the primary's terms
    val t = hits(parallel, BoolQ(must = Seq(PrefixQ("vec"))))
    assert(t.map(_._1) === Set(2L, 3L))
  }

  test("a delete on ANY parallel side hides the doc everywhere") {
    import spark.implicits._
    // fresh copies so the other tests' dirs stay undeleted
    val ds = spark.createDataset(corpus)
    val t = SparkTestSession.tmpDir("graft-par-text2-")
    IndexBuilder.build(spark, ds, t, numPartitions = 2,
      analyzerFor = _ => graft.analysis.Analyzer.noStop)
    val k = SparkTestSession.tmpDir("graft-par-kw2-")
    IndexBuilder.build(spark, ds, k, numPartitions = 2,
      analyzerFor = noTokFor, keywordFields = Seq("lang"))
    Deletes.deleteDocs(spark, k, spark.createDataset(Seq(1L))) // kw side only
    val r = new ParallelIndexReader(spark, t, Seq(k))
    val got = hits(r, TermQ("merge")).map(_._1)
    assert(got === Set(0L, 2L)) // f1 hidden from the TEXT query too
  }

  test("leading wildcards expand through EVERY parallel term space") {
    // '*:scala' must resolve the SECONDARY's keyword term (a primary-only
    // expansion returns nothing)
    val got = hits(parallel, WildcardQ("*:scala")).map(_._1)
    assert(got === Set(0L, 1L))
  }
}

object ParallelReaderSpec {
  // standalone so build closures don't capture the (non-serializable) suite
  val noTokFor: String => graft.analysis.Analyzer =
    _ => new graft.analysis.Analyzer(Set.empty, tokenizer = _ => Array.empty)
}
