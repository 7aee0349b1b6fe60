package graft.build

import graft.SparkTestSession
import graft.corpus.CorpusGen
import graft.search.{IndexReader, Searcher, TermQ, BoolQ}
import org.scalatest.funsuite.AnyFunSuite

/** MultiPassIndexSplitter / PKIndexSplitter analog: N contiguous-range
  * shards, original docIds preserved, so the union view over the shards
  * must answer EXACTLY like the unsplit index — scores bit-for-bit (the
  * re-aggregated dictionary/stats sums equal the originals). */
class IndexSplitterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("3-way split: shards valid, sizes partition the corpus, union search == original") {
    import spark.implicits._
    val corpus = CorpusGen.dataset(spark, 700, 4)
    val dir = SparkTestSession.tmpDir("graft-split-src-")
    IndexBuilder.build(spark, corpus, dir, numPartitions = 4)

    val root = SparkTestSession.tmpDir("graft-split-out-")
    val shards = IndexSplitter.split(spark, dir, root, numShards = 3, numPartitions = 2)
    assert(shards.size === 3)

    // each shard is a self-contained valid index
    shards.foreach { sd =>
      val report = CheckIndex.check(spark, sd)
      assert(report.ok, s"$sd: ${report.problems.mkString("; ")}")
    }
    // shard docId ranges partition [0, 700) disjointly and completely
    val counts = shards.map(sd =>
      spark.read.parquet(IndexPaths.docstats(sd)).count())
    assert(counts.sum === 700L)
    val idSets = shards.map(sd =>
      spark.read.parquet(IndexPaths.docstats(sd))
        .select("docId").as[Long].collect().toSet)
    assert(idSets.reduce(_ ++ _).size === 700)
    assert(idSets.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty })

    // union view == original index, scores bit-for-bit
    val whole = new Searcher(new IndexReader(spark, dir))
    val union = new Searcher(IndexReader.multi(spark, shards))
    val q = BoolQ(must = Seq(TermQ("def")), should = Seq(TermQ("three")))
    val a = whole.search(q, 25)
    val b = union.search(q, 25)
    assert(a.map(h => (h.docId, h.score)).toSeq === b.map(h => (h.docId, h.score)).toSeq)
    assert(a.nonEmpty)
  }

  test("round-robin split: residue classes exact, shards dense and standalone-valid") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws}
    val corpus = CorpusGen.dataset(spark, 301, 3)
    val dir = SparkTestSession.tmpDir("graft-rrsplit-src-")
    IndexBuilder.build(spark, corpus, dir, numPartitions = 3)

    val root = SparkTestSession.tmpDir("graft-rrsplit-out-")
    val shards = IndexSplitter.splitRoundRobin(spark, dir, root, numShards = 3,
      numPartitions = 2)
    assert(shards.size === 3)
    // each shard is a complete valid index with a DENSE renumbered id
    // space (the reference compacts through AddIndexes per pass)
    shards.foreach { sd =>
      val report = CheckIndex.check(spark, sd)
      assert(report.ok, s"$sd: ${report.problems.mkString("; ")}")
    }
    // membership: shard k holds exactly original residue class k,
    // tracked by per-doc identity (ids are renumbered)
    def paths(d: String) = spark.read.parquet(IndexPaths.docstats(d))
      .select(concat_ws("|", col("repo"), col("path"))).as[String].collect().toSet
    val expected = (0 until 3).map(k => spark.read.parquet(IndexPaths.docstats(dir))
      .where(col("docId") % 3 === k)
      .select(concat_ws("|", col("repo"), col("path"))).as[String].collect().toSet)
    val got = shards.map(paths)
    (0 until 3).foreach(k => assert(got(k) == expected(k), s"shard $k membership"))
    val sizes = got.map(_.size)
    assert(sizes.sum === 301)
    assert(sizes.max - sizes.min <= 1, "balanced shards")
    // a shard answers a query exactly on its own members (scores differ
    // by design: per-shard df)
    val whole = new Searcher(new IndexReader(spark, dir))
    val shard0 = new Searcher(new IndexReader(spark, shards(0)))
    val q = BoolQ(must = Seq(TermQ("def")), should = Seq(TermQ("three")))
    val wholeHits = whole.search(q, 1000).map(_.docId).filter(_ % 3 == 0).toSet
    val expectedPaths = spark.read.parquet(IndexPaths.docstats(dir))
      .where(col("docId").isin(wholeHits.toSeq: _*))
      .select(concat_ws("|", col("repo"), col("path"))).as[String].collect().toSet
    val shardHitIds = shard0.search(q, 1000).map(_.docId).toSet
    val shardPaths = spark.read.parquet(IndexPaths.docstats(shards(0)))
      .where(col("docId").isin(shardHitIds.toSeq: _*))
      .select(concat_ws("|", col("repo"), col("path"))).as[String].collect().toSet
    assert(shardPaths == expectedPaths && shardPaths.nonEmpty)
  }

  test("splitByFilter: predicate membership, complement exact, shards standalone-valid") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws}
    val corpus = CorpusGen.dataset(spark, 300, 3)
    val dir = SparkTestSession.tmpDir("graft-pksplit-src-")
    IndexBuilder.build(spark, corpus, dir, numPartitions = 3)

    val root = SparkTestSession.tmpDir("graft-pksplit-out-")
    // the PK filter: an arbitrary predicate over doc metadata
    val (sd0, sd1) = IndexSplitter.splitByFilter(
      spark, dir, root, col("docId") % 3 === 0, numPartitions = 2)

    // each side is a complete valid index with a DENSE renumbered id
    // space (the reference compacts through AddIndexes) — CheckIndex
    // asserts density, decode, dict/stats cross-checks
    Seq(sd0, sd1).foreach { sd =>
      val report = CheckIndex.check(spark, sd)
      assert(report.ok, s"$sd: ${report.problems.mkString("; ")}")
    }
    // membership and complement, tracked by the per-doc identity
    // (repo, path) — path alone repeats across repos in this corpus
    def paths(sd: String) = spark.read.parquet(IndexPaths.docstats(sd))
      .select(concat_ws("|", col("repo"), col("path"))).as[String].collect().toSet
    val p0 = paths(sd0); val p1 = paths(sd1)
    val expected0 = spark.read.parquet(IndexPaths.docstats(dir))
      .where(col("docId") % 3 === 0)
      .select(concat_ws("|", col("repo"), col("path"))).as[String].collect().toSet
    assert(p0 == expected0)
    assert((p0 & p1).isEmpty && (p0 ++ p1).size == 300)

    // searching the matching shard finds exactly the whole-index hits
    // that satisfy the predicate (scores differ by design: per-shard df)
    val whole = new Searcher(new IndexReader(spark, dir))
    val side0 = new Searcher(new IndexReader(spark, sd0))
    val q = BoolQ(must = Seq(TermQ("def")), should = Seq(TermQ("three")))
    def hitPaths(s: Searcher, idxDir: String, pred: Long => Boolean) = {
      val ids = s.search(q, 1000).map(_.docId).filter(pred).toSet
      spark.read.parquet(IndexPaths.docstats(idxDir))
        .where(col("docId").isin(ids.toSeq: _*))
        .select(concat_ws("|", col("repo"), col("path"))).as[String].collect().toSet
    }
    val expected = hitPaths(whole, dir, _ % 3 == 0)
    val got = hitPaths(side0, sd0, _ => true)
    assert(got == expected && got.nonEmpty)
  }

  test("split folds tombstones like a merge") {
    import spark.implicits._
    val corpus = CorpusGen.dataset(spark, 120, 2)
    val dir = SparkTestSession.tmpDir("graft-split-del-")
    IndexBuilder.build(spark, corpus, dir, numPartitions = 2)
    Deletes.deleteDocs(spark, dir, spark.createDataset(Seq(3L, 60L, 119L)))

    val root = SparkTestSession.tmpDir("graft-split-del-out-")
    val shards = IndexSplitter.split(spark, dir, root, numShards = 2, numPartitions = 2)
    val ids = shards.flatMap(sd =>
      spark.read.parquet(IndexPaths.docstats(sd)).select("docId").as[Long].collect())
    assert(ids.size === 117 && !ids.exists(Set(3L, 60L, 119L)))
  }

  test("split with positions, offsets and payloads: shards valid, union == unsplit live index") {
    import spark.implicits._
    import graft.corpus.SourceFile
    import graft.search.{PayloadSpec, PhraseQ}
    def mk(i: Int): SourceFile = {
      val text = Seq(
        if (i % 2 == 0) s"alpha|${1 + i % 3}.0 beta" else "beta alpha",
        s"gamma w${i % 5}",
        if (i % 3 == 0) "alpha beta delta|0.5" else "delta").mkString(" ")
      SourceFile("r", f"f$i%02d", "0" * 40, "txt", text, CorpusGen.sha256Hex(text))
    }
    def build(docs: Seq[SourceFile], prefix: String): String = {
      val d = SparkTestSession.tmpDir(prefix)
      IndexBuilder.build(spark, spark.createDataset(docs), d, numPartitions = 2,
        analyzerFor = _ => PayloadSpec.analyzer,
        indexPositions = true, indexOffsets = true, indexPayloads = true)
      d
    }
    val docs = (0 until 30).map(mk)
    val dir = build(docs, "graft-split-side-")
    // the last doc in corpus order has the highest docId, so the live
    // docs keep their ids in a fresh build without it
    Deletes.deleteDocs(spark, dir, spark.createDataset(Seq(29L)))
    val live = build(docs.init, "graft-split-side-live-")
    def ids(d: String) = spark.read.parquet(IndexPaths.docstats(d))
      .select("docId", "path").as[(Long, String)].collect().toSet
    assert(ids(live) === ids(dir).filter(_._1 != 29L))

    val root = SparkTestSession.tmpDir("graft-split-side-out-")
    val shards = IndexSplitter.split(spark, dir, root, numShards = 3, numPartitions = 2)
    shards.foreach { sd =>
      val report = CheckIndex.check(spark, sd)
      assert(report.ok, s"$sd: ${report.problems.mkString("; ")}")
    }
    val whole = new IndexReader(spark, live)
    val union = IndexReader.multi(spark, shards)
    assert(union.hasPositions && union.hasOffsets && union.hasPayloads)

    def phrase(r: IndexReader) =
      new Searcher(r, analyzerFor = _ => PayloadSpec.analyzer)
        .search(PhraseQ(Seq("alpha", "beta")), 50).map(h => (h.docId, h.score)).toSeq
    val a = phrase(whole)
    assert(a.nonEmpty)
    assert(phrase(union) === a)

    val terms = Seq("alpha", "beta", "delta")
    def offsets(r: IndexReader) = r.decoded(terms, "offBytes").collect()
      .map(p => (p.docId, p.term, p.offsets.toSeq)).sortBy(x => (x._1, x._2)).toSeq
    def payloads(r: IndexReader) = r.decoded(terms, "payBytes").collect()
      .map(p => (p.docId, p.term, p.tf, p.norm, p.payloads.toSeq.map(y => Option(y).map(_.toSeq))))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(offsets(whole).nonEmpty && payloads(whole).nonEmpty)
    assert(offsets(union) === offsets(whole))
    assert(payloads(union) === payloads(whole))
  }
}
