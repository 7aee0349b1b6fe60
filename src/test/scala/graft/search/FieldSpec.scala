package graft.search

import graft.SparkTestSession
import graft.build.{IndexBuilder, IndexPaths}
import graft.corpus.CorpusGen
import org.scalatest.funsuite.AnyFunSuite

/** Multi-field indexing (FieldInfos analog): keyword StringFields
  * (exact, untokenized, tf=1) coexist with the analyzed content field in
  * one postings table via field-prefixed terms; fielded queries are
  * ordinary term queries / boolean joins; the classic parser routes
  * `field:value` to exact keyword terms. */
class FieldSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val N = 40

  private lazy val (searcher, dir) = {
    val d = SparkTestSession.tmpDir("graft-field-")
    IndexBuilder.build(spark, CorpusGen.dataset(spark, N, 2), d, numPartitions = 2,
      keywordFields = Seq("repo", "path", "lang"))
    (new Searcher(new IndexReader(spark, d)), d)
  }

  test("keyword field terms are indexed exact, df matches the column") {
    import spark.implicits._
    searcher // force build
    val dict = spark.read.parquet(IndexPaths.termDict(dir))
    // 5 langs cycle over 40 docs -> df(lang:scala) = 8
    val langDf = dict.where($"term" === "lang:scala").select($"df").as[Long].head()
    assert(langDf === CorpusGen.local(N).count(_.lang == "scala"))
    // path values indexed verbatim (slashes, dots, case preserved)
    val p = CorpusGen.doc(0).path
    assert(dict.where($"term" === s"path:$p").count() === 1)
  }

  test("fielded conjunction: path:<exact> AND content:<term>") {
    val f3 = CorpusGen.doc(3) // lang 'py', contains 'def'
    val q = BoolQ(must = Seq(TermQ(s"path:${f3.path}"), TermQ("def")))
    val hits = searcher.search(q, 10)
    assert(hits.length === 1)
    // the single hit is doc 3's file (check via stored fields)
    import spark.implicits._
    val path = graft.build.DocsTable.read(spark, dir)
      .where($"docId" === hits(0).docId).select($"path").as[String].head()
    assert(path === f3.path)
    // a fielded term that matches nothing
    assert(searcher.search(TermQ("lang:fortran"), 5).isEmpty)
  }

  test("content stats unaffected by keyword fields (per-field norms/stats)") {
    import spark.implicits._
    val plain = SparkTestSession.tmpDir("graft-field-plain-")
    IndexBuilder.build(spark, CorpusGen.dataset(spark, N, 2), plain, numPartitions = 2)
    val csF = spark.read.parquet(IndexPaths.collectionStats(dir))
      .as[graft.build.CollectionStatsRow].head()
    val csP = spark.read.parquet(IndexPaths.collectionStats(plain))
      .as[graft.build.CollectionStatsRow].head()
    // content-field length stats identical -> identical BM25 scores
    assert(csF.sumTotalTermFreq === csP.sumTotalTermFreq)
    assert(csF.maxDoc === csP.maxDoc)
    val sF = searcher.search(TermQ("def"), 10)
    val sP = new Searcher(new IndexReader(spark, plain)).search(TermQ("def"), 10)
    assert(sF.toSeq === sP.toSeq)
  }

  test("keyword terms score norms-omitted (StringField OmitNorms = true)") {
    import spark.implicits._
    // reference: StringField omits norms entirely — BM25 with norms==null
    // scores weight·tf/(tf+k1), no length normalization (the sentinel
    // norm byte 0 decodes to the k1 cache entry)
    val df = CorpusGen.local(N).count(_.lang == "scala").toLong
    val w = graft.bm25.BM25.weightValue(graft.bm25.BM25.idf(df, N.toLong), 1f)
    val expected = w * 1f / (1f + graft.bm25.BM25.K1)
    val hits = searcher.search(TermQ("lang:scala"), N)
    assert(hits.nonEmpty)
    assert(hits.forall(_.score === expected))
  }

  test("keyword terms score under non-BM25 similarities too (omit-norms decode)") {
    // the sentinel norm byte must decode to factor 1 (TF-IDF) / docLen 1
    // (SimilarityBase family), not 0 or infinity
    val tfidf = searcher.searchWith(new TfIdfSimilarity, TermQ("lang:scala"), N)
    assert(tfidf.nonEmpty && tfidf.forall(h => h.score > 0f && !h.score.isNaN))
    val cs2 = new IndexReader(spark, dir).collectionStats
    val avgdl = graft.bm25.BM25.avgFieldLength(cs2.sumTotalTermFreq, cs2.maxDoc)
    val lm = searcher.searchWith(new LMJelinekMercerSimilarity(), TermQ("lang:scala"), N)
    assert(lm.nonEmpty && lm.forall(h => !h.score.isNaN && !h.score.isInfinite))
    val dfr = searcher.searchWith(new DFRSimilarity(DFR.ModelIn, DFR.AfterEffectL, DFR.NormalizationH2(), avgdl), TermQ("lang:scala"), N)
    assert(dfr.nonEmpty && dfr.forall(h => h.score > 0f && h.score.isFinite))
  }

  test("keyword fields + positions index: DOCS_ONLY keywords stay checkable and expungeable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = SparkTestSession.tmpDir("graft-field-pos-")
    IndexBuilder.build(spark, CorpusGen.dataset(spark, N, 2), d, numPartitions = 2,
      keywordFields = Seq("lang"), indexPositions = true)
    val report = graft.build.CheckIndex.check(spark, d)
    assert(report.ok, report.problems.mkString("; "))
    // keyword terms are DOCS_ONLY — null positions blobs; content terms have them
    def blobsOfKeywords(dir: String) = {
      val kw = spark.read.parquet(IndexPaths.postings(dir)).where(col("term").startsWith("lang:"))
      assert(kw.count() > 0)
      kw.where(col("posBytes").isNotNull).count()
    }
    assert(new IndexReader(spark, d).hasPositions)
    assert(blobsOfKeywords(d) === 0)
    assert(spark.read.parquet(IndexPaths.postings(d)).where(col("posBytes").isNotNull).count() > 0)
    // expunge must NOT drop keyword postings via the positions join
    graft.build.Deletes.deleteDocs(spark, d, spark.createDataset(Seq(0L)))
    val exp = SparkTestSession.tmpDir("graft-field-pos-exp-")
    graft.build.Deletes.expunge(spark, d, exp, numPartitions = 2)
    val repExp = graft.build.CheckIndex.check(spark, exp)
    assert(repExp.ok, repExp.problems.mkString("; "))
    val dict = spark.read.parquet(IndexPaths.termDict(exp))
    assert(dict.where(col("term").startsWith("lang:")).count() > 0)
    // the rewrite keeps the level and still has no keyword blobs
    assert(new IndexReader(spark, exp).hasPositions)
    assert(blobsOfKeywords(exp) === 0)
  }

  test("parser routes keyword fields to exact terms, content to analysis") {
    val p = new QueryParser()
    assert(p.parse("lang:Scala") === TermQ("lang:Scala")) // verbatim, NOT lowercased
    assert(p.parse("content:Hello") === TermQ("hello"))   // analyzed
    assert(p.parse("path:src/scala/f0.scala AND def") ===
      BoolQ(must = Seq(TermQ("path:src/scala/f0.scala"), TermQ("def"))))
    assert(p.parse("lang:py^2") === TermQ("lang:py", 2f))
  }
}
