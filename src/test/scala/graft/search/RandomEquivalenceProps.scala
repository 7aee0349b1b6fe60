package graft.search

import graft.SparkTestSession
import graft.analysis.Analyzer
import graft.build.IndexBuilder
import graft.corpus.{CorpusGen, SourceFile}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized cross-config equivalence harness (the reference's
  * TestFramework discipline: LuceneTestCase randomizes codec/analyzer/
  * index options per run — Util/LuceneTestCase.cs, Index/RandomCodec.cs —
  * and SearchEquivalenceTestBase.cs:175-200 asserts subset/superset laws
  * over random query pairs). Three assertions over RANDOM corpora ×
  * RANDOM Query ADT trees × RANDOM index configs, all seeds printed on
  * failure for exact reproduction:
  *
  *   1. '''Match-set parity against an INDEPENDENT engine''': the
  *      distributed index search and a per-doc [[MemoryIndex]] (separate
  *      code path: no postings, no dictionary, no WAND) must agree on
  *      exactly WHICH docs match every generated query.
  *   2. '''Boolean algebra laws''': A∧B ⊆ A ⊆ A∨B for random subquery
  *      pairs (the SearchEquivalenceTestBase laws).
  *   3. '''Heap ≡ oracle''': the bounded-heap top-k equals the
  *      brute-force full-sort at a random k (rank AND score).
  *
  * Configs cover the index-options lattice (positions / offsets /
  * payloads), 1-vs-3 segment layouts, and both the standard and noStop
  * analyzers — the cross-feature interaction surface where a
  * single-feature spec can't see a bug (the round-4 update-then-compact
  * resurrection bug was exactly this class). */
class RandomEquivalenceProps extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val vocab = Vector("merge", "sort", "index", "scan", "table",
    "row", "spark", "query", "plan", "join", "hash", "key", "mergesort",
    "indexing", "scans")

  private final case class Config(name: String, positions: Boolean,
      offsets: Boolean, payloads: Boolean, partitions: Int,
      analyzer: Analyzer)

  private val configs = Seq(
    Config("plain-2seg", positions = false, offsets = false,
      payloads = false, partitions = 2, Analyzer.standard),
    Config("pos-1seg", positions = true, offsets = false,
      payloads = false, partitions = 1, Analyzer.standard),
    Config("pos-off-pay-3seg", positions = true, offsets = true,
      payloads = true, partitions = 3, Analyzer.noStop),
    Config("pos-3seg", positions = true, offsets = false,
      payloads = false, partitions = 3, Analyzer.standard))

  private def randText(r: scala.util.Random): String =
    Seq.fill(r.nextInt(13))(vocab(r.nextInt(vocab.size))).mkString(" ")

  private def randCorpus(r: scala.util.Random, n: Int): Seq[SourceFile] =
    (0 until n).map { i =>
      val text = randText(r)
      SourceFile("r", f"f$i%04d", "c" * 40, "en", text,
        CorpusGen.sha256Hex(text))
    }

  /** Random query tree over the shared vocab; `positions` gates the
    * phrase family. Always at least one positive clause; boosts > 0. */
  private def randQuery(r: scala.util.Random, depth: Int,
      positions: Boolean): Query = {
    def word() = vocab(r.nextInt(vocab.size))
    def leaf(): Query = r.nextInt(7) match {
      case 0 => TermQ(word())
      case 1 => PrefixQ(word().take(1 + r.nextInt(3)))
      case 2 => WildcardQ(word().take(1) + "*" +
        (if (r.nextBoolean()) word().takeRight(1) else ""))
      case 3 => FuzzyQ(word(), 1 + r.nextInt(2))
      case 4 =>
        val (a, b) = (word(), word())
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        TermRangeQ(lo, hi, r.nextBoolean(), r.nextBoolean())
      case 5 if positions =>
        PhraseQ(Seq.fill(1 + r.nextInt(2))(word()), r.nextInt(2))
      case _ => TermQ(if (r.nextInt(5) == 0) "absentterm" else word())
    }
    if (depth == 0) leaf()
    else r.nextInt(4) match {
      case 0 => leaf()
      case 1 =>
        val must = Seq.fill(r.nextInt(2))(randQuery(r, depth - 1, positions))
        val should = Seq.fill(r.nextInt(3))(randQuery(r, depth - 1, positions))
        val mustNot = Seq.fill(r.nextInt(2))(randQuery(r, depth - 1, positions))
        if (must.isEmpty && should.isEmpty) BoolQ(Seq(leaf()), Nil, mustNot)
        else BoolQ(must, should, mustNot,
          minShouldMatch = if (should.size > 1 && r.nextBoolean()) 1 else 0)
      case 2 => DisMaxQ(Seq.fill(1 + r.nextInt(2))(
        randQuery(r, depth - 1, positions)), r.nextFloat())
      case _ => ConstantScoreQ(randQuery(r, depth - 1, positions),
        0.5f + r.nextFloat())
    }
  }

  /** Heap ≡ oracle for random flat bools (TermQ clauses only) with
    * mustNot clauses and minShouldMatch > 1, and for the searchAfter page
    * that follows each first page. */
  private def flatHeapEqualsOracle(s: Searcher, r: scala.util.Random, n: Int,
                                   where: String): Unit =
    (1 to 4).foreach { i =>
      def terms(m: Int) = Seq.fill(m)(TermQ(vocab(r.nextInt(vocab.size)), 0.5f + r.nextFloat()))
      val should = terms(2 + r.nextInt(3))
      val q = BoolQ(terms(r.nextInt(2)), should, terms(1 + r.nextInt(2)),
        minShouldMatch = 2 + r.nextInt(should.size - 1), boost = 0.5f + r.nextFloat())
      val k = 1 + r.nextInt(n)
      val page = s.search(q, k)
      assert(page.toSeq === s.searchOracle(q, k).toSeq, s"FLAT HEAP≠ORACLE $where case=$i k=$k q=$q")
      page.lastOption.foreach { after =>
        val rest = s.searchOracle(q, n + 1).filter(h =>
          h.score < after.score || (h.score == after.score && h.docId > after.docId))
        assert(s.searchAfter(after, q, k).toSeq === rest.take(k).toSeq,
          s"FLAT PAGE≠ORACLE $where case=$i k=$k after=$after q=$q")
      }
    }

  for (cfg <- configs; seed <- Seq(11, 42)) {
    test(s"random equivalence: config=${cfg.name} seed=$seed") {
      import spark.implicits._
      val r = new scala.util.Random(seed)
      val docs = randCorpus(r, 30 + r.nextInt(30))
      val dir = SparkTestSession.tmpDir(s"graft-randeq-${cfg.name}-$seed-")
      // local val so the analyzerFor closure serializes WITHOUT the suite
      val analyzer = cfg.analyzer
      IndexBuilder.build(spark, spark.createDataset(docs), dir,
        numPartitions = cfg.partitions,
        analyzerFor = _ => analyzer,
        indexPositions = cfg.positions, indexOffsets = cfg.offsets,
        indexPayloads = cfg.payloads)
      val searcher = new Searcher(new IndexReader(spark, dir))
      // the independent engine: one MemoryIndex per doc (docIds follow
      // the build's (repo,path,commit) sort = the f0000.. path order)
      val mems = docs.map(d => MemoryIndex.fromText(d.content, analyzer))
      def memSet(q: Query): Set[Long] =
        mems.zipWithIndex.collect {
          case (m, i) if m.matches(q) => i.toLong
        }.toSet
      def idxSet(q: Query): Set[Long] =
        searcher.search(q, docs.size + 1).map(_.docId).toSet

      (1 to 12).foreach { i =>
        val q = randQuery(r, 2, cfg.positions)
        assert(idxSet(q) === memSet(q),
          s"MATCH-SET DIVERGENCE config=${cfg.name} seed=$seed case=$i q=$q")
      }
      (1 to 3).foreach { i =>
        val a = randQuery(r, 1, cfg.positions)
        val b = randQuery(r, 1, cfg.positions)
        val and = idxSet(BoolQ(Seq(a, b), Nil, Nil))
        val setA = idxSet(a)
        val or = idxSet(BoolQ(Nil, Seq(a, b), Nil))
        assert(and.subsetOf(setA),
          s"LAW A∧B⊆A config=${cfg.name} seed=$seed case=$i a=$a b=$b")
        assert(setA.subsetOf(or),
          s"LAW A⊆A∨B config=${cfg.name} seed=$seed case=$i a=$a b=$b")
      }
      (1 to 2).foreach { i =>
        val q = randQuery(r, 2, cfg.positions)
        val k = 1 + r.nextInt(docs.size)
        val heap = searcher.search(q, k).toSeq
        val oracle = searcher.searchOracle(q, k).toSeq
        assert(heap === oracle,
          s"HEAP≠ORACLE config=${cfg.name} seed=$seed case=$i k=$k q=$q")
      }
    }
  }

  // ---- cross-feature configs the single-config loop can't reach ----

  for (seed <- Seq(7, 23)) {
    test(s"random equivalence: NRT two-generation union reader, seed=$seed") {
      import spark.implicits._
      val r = new scala.util.Random(seed)
      val docs = randCorpus(r, 30 + r.nextInt(20))
      val root = SparkTestSession.tmpDir(s"graft-randeq-nrt-$seed-")
      val cut = docs.size / 2
      val an = Analyzer.standard
      graft.streaming.StreamingIndexer.appendBatch(spark,
        spark.createDataset(docs.take(cut)), root, batchId = 0,
        numPartitions = 2, analyzerFor = _ => an, indexPositions = true)
      graft.streaming.StreamingIndexer.appendBatch(spark,
        spark.createDataset(docs.drop(cut)), root, batchId = 1,
        numPartitions = 2, analyzerFor = _ => an, indexPositions = true)
      val gens = graft.streaming.StreamingIndexer.generations(spark, root)
        .map(g => graft.streaming.StreamingIndexer.genDir(root, g))
      val searcher = new Searcher(IndexReader.multi(spark, gens))
      // generation docIdBases are cumulative, so global docIds follow the
      // per-batch path order = the docs list order
      val mems = docs.map(d => MemoryIndex.fromText(d.content, an))
      def memSet(q: Query): Set[Long] =
        mems.zipWithIndex.collect { case (m, i) if m.matches(q) => i.toLong }.toSet
      (1 to 10).foreach { i =>
        val q = randQuery(r, 2, positions = true)
        val got = searcher.search(q, docs.size + 1).map(_.docId).toSet
        assert(got === memSet(q),
          s"NRT DIVERGENCE seed=$seed case=$i q=$q")
      }
      (1 to 2).foreach { i =>
        val q = randQuery(r, 2, positions = true)
        val k = 1 + r.nextInt(docs.size)
        assert(searcher.search(q, k).toSeq === searcher.searchOracle(q, k).toSeq,
          s"NRT HEAP≠ORACLE seed=$seed case=$i k=$k q=$q")
      }
      flatHeapEqualsOracle(searcher, new scala.util.Random(seed + 1000), docs.size,
        s"NRT seed=$seed")
    }

    test(s"random equivalence: deletes applied, seed=$seed") {
      import spark.implicits._
      val r = new scala.util.Random(seed * 31)
      val docs = randCorpus(r, 30 + r.nextInt(20))
      val dir = SparkTestSession.tmpDir(s"graft-randeq-del-$seed-")
      val an = Analyzer.standard
      IndexBuilder.build(spark, spark.createDataset(docs), dir,
        numPartitions = 2, analyzerFor = _ => an, indexPositions = true)
      val deleted = vocab(r.nextInt(vocab.size))
      graft.build.Deletes.deleteByTerm(spark, dir, deleted)
      val searcher = new Searcher(new IndexReader(spark, dir))
      val mems = docs.map(d => MemoryIndex.fromText(d.content, an))
      val live = mems.zipWithIndex.collect {
        case (m, i) if !m.contains(deleted) => i
      }.toSet
      def memSet(q: Query): Set[Long] =
        mems.zipWithIndex.collect {
          case (m, i) if live(i) && m.matches(q) => i.toLong
        }.toSet
      (1 to 10).foreach { i =>
        val q = randQuery(r, 2, positions = true)
        val got = searcher.search(q, docs.size + 1).map(_.docId).toSet
        assert(got === memSet(q),
          s"DELETES DIVERGENCE seed=$seed deleted=$deleted case=$i q=$q")
      }
      flatHeapEqualsOracle(searcher, new scala.util.Random(seed + 2000), docs.size,
        s"deletes seed=$seed")
    }
  }

  test("random equivalence: sorted (docId-reassigned) index — counts + laws + heap") {
    // sortBy REASSIGNS docIds in sort-key order, so per-doc id parity
    // doesn't apply; the invariants that survive the renumbering: match
    // COUNT parity, the boolean algebra laws, heap ≡ oracle.
    import spark.implicits._
    val r = new scala.util.Random(99)
    val docs = randCorpus(r, 40)
    val dir = SparkTestSession.tmpDir("graft-randeq-sortsrc-")
    val sorted = SparkTestSession.tmpDir("graft-randeq-sorted-")
    val an = Analyzer.standard
    IndexBuilder.build(spark, spark.createDataset(docs), dir,
      numPartitions = 2, analyzerFor = _ => an)
    graft.build.IndexSorter.sortBy(spark, dir, sorted, "tokenCount", numPartitions = 2)
    val plain = new Searcher(new IndexReader(spark, dir))
    val srt = new Searcher(new IndexReader(spark, sorted))
    (1 to 10).foreach { i =>
      val q = randQuery(r, 2, positions = false)
      val a = plain.search(q, docs.size + 1)
      val b = srt.search(q, docs.size + 1)
      assert(a.length === b.length, s"SORTED COUNT DIVERGENCE case=$i q=$q")
      // scores are docId-independent → the sorted multiset must match
      assert(a.map(_.score).sorted.toSeq === b.map(_.score).sorted.toSeq,
        s"SORTED SCORE-SET DIVERGENCE case=$i q=$q")
    }
    (1 to 3).foreach { i =>
      val q = randQuery(r, 2, positions = false)
      val k = 1 + r.nextInt(docs.size)
      assert(srt.search(q, k).toSeq === srt.searchOracle(q, k).toSeq,
        s"SORTED HEAP≠ORACLE case=$i k=$k q=$q")
    }
  }
}
