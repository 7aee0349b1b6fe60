package graft.search

import graft.search.ScoreExpr._
import org.scalatest.funsuite.AnyFunSuite

/** The per-doc scorer tree against a naive, set-at-a-time restatement
  * of the per-node Dataset formulas it replaced (one relation of hits per
  * node: a docId grouping per bool and DisMax, an anti-join per mustNot,
  * an inner join with the doc lengths per function query, a left outer
  * join per boosting query), bit for bit, over random trees. No Spark. */
class ScoreTreeSpec extends AnyFunSuite {
  private val docs = 0L until 12L
  private val vocab = Seq("a", "b", "c", "d")

  /** A random corpus: each term's hits with raw scores (zeros and
    * negatives included), and every doc's length. */
  private final case class Corpus(scores: Map[String, Map[Long, Float]], docLen: Map[Long, Float]) {
    /** A leaf's hits: a term's raw score times its boost (a 0 boost
      * matches with score 0), or every doc at the match-all boost. */
    def leaf(q: Query): Map[Long, Float] = q match {
      case TermQ(t, b) => scores.getOrElse(t, Map.empty).map { case (d, s) => d -> s * b }
      case MatchAllQ(b) => docs.map(_ -> b).toMap
      case other => sys.error(s"not a leaf: $other")
    }
  }

  private def randomCorpus(r: scala.util.Random): Corpus = {
    def score(): Float = r.nextInt(6) match {
      case 0 => 0f
      case 1 => -r.nextFloat()
      case 2 => r.nextFloat() * 1e-6f
      case 3 => r.nextFloat() * 1e6f
      case _ => r.nextFloat() * 10f
    }
    Corpus(vocab.map(t => t -> docs.filter(_ => r.nextInt(3) > 0).map(_ -> score()).toMap).toMap,
      docs.map(_ -> (1 + r.nextInt(40)).toFloat).toMap)
  }

  private def randomTree(r: scala.util.Random, depth: Int): Query = {
    def boost(): Float = r.nextInt(6) match {
      case 0 => 0f
      case 1 => 2.5f
      case 2 => -1f
      case 3 => r.nextFloat() * 3
      case _ => 1f
    }
    def sub() = randomTree(r, depth - 1)
    def subs(n: Int) = Seq.fill(n)(sub())
    if (depth == 0 || r.nextInt(4) == 0) {
      if (r.nextInt(10) == 0) MatchAllQ(boost()) else TermQ(vocab(r.nextInt(vocab.size)), boost())
    } else r.nextInt(6) match {
      case 0 | 1 =>
        val should = subs(r.nextInt(4))
        BoolQ(subs(r.nextInt(3)), should, subs(r.nextInt(3)),
          if (r.nextBoolean()) 0 else r.nextInt(should.size + 1), boost())
      case 2 => DisMaxQ(subs(1 + r.nextInt(3)), Seq(0f, 0.3f, 1f)(r.nextInt(3)))
      case 3 => ConstantScoreQ(sub(), boost())
      case 4 => FunctionScoreQ(sub(), Seq[ScoreExpr](SubScore, Mul(SubScore, DocLen),
        Div(SubScore, Const(0f)), Log1p(SubScore), Add(SubScore, Reciprocal(DocLen, 1f, 2f, 3f)),
        Linear(DocLen, 0.5f, -3f))(r.nextInt(6)))
      case _ => BoostingQ(sub(), sub(), Seq(0.5f, 0f, 3f)(r.nextInt(3)))
    }
  }

  /** The per-node Dataset formulas, one relation of hits per node. */
  private def naive(q: Query, c: Corpus, sim: SimilarityLike): Map[Long, Float] = q match {
    case ConstantScoreQ(sub, b) => naive(sub, c, sim).map { case (d, _) => d -> b }
    case DisMaxQ(qs, tieBreak) =>
      qs.zipWithIndex.flatMap { case (sq, i) => naive(sq, c, sim).map { case (d, s) => (d, i, s) } }
        .groupBy(_._1).map { case (d, hs) =>
          var max = Float.NegativeInfinity
          var sum = 0f
          hs.sortBy(_._2).foreach { case (_, _, s) => sum += s; if (s > max) max = s }
          d -> (max + tieBreak * (sum - max))
        }
    case FunctionScoreQ(sub, expr) =>
      naive(sub, c, sim).collect { case (d, s) if c.docLen.contains(d) =>
        d -> ScoreExpr.eval(expr, s, c.docLen(d)) }
    case BoostingQ(pos, ctx, b) =>
      val context = naive(ctx, c, sim).keySet
      naive(pos, c, sim).map { case (d, s) => d -> (if (context(d)) s * b else s) }
    case BoolQ(must, should, mustNot, minShouldMatch, boost) =>
      val clauses = must ++ should
      val n = clauses.size
      val msm = math.max(minShouldMatch, if (must.isEmpty) 1 else 0)
      val combined = clauses.zipWithIndex
        .flatMap { case (sq, i) => naive(sq, c, sim).map { case (d, s) => (d, i, s) } }
        .groupBy(_._1).flatMap { case (d, hs) =>
          val scores = new Array[Float](n)
          val present = new Array[Boolean](n)
          hs.foreach { case (_, i, s) => scores(i) = s; present(i) = true }
          if (present.take(must.size).forall(identity) &&
              present.drop(must.size).count(identity) >= msm) {
            var sum = 0f
            var matched = 0
            for (i <- 0 until n if present(i)) { sum += scores(i); matched += 1 }
            Some(d -> sum * sim.coord(matched, n) * boost)
          } else None
        }
      val excluded = mustNot.flatMap(naive(_, c, sim).keys).toSet
      combined.filter { case (d, _) => !excluded(d) }
    case leaf => c.leaf(leaf)
  }

  /** The compiled tree, one doc at a time. */
  private def perDoc(q: Query, c: Corpus, sim: SimilarityLike): Map[Long, Float] = {
    val tree = ScoreTree.compile(q)
    val leafHits = tree.leaves.map(c.leaf)
    docs.flatMap { d =>
      tree.eval(i => if (i == tree.docLen) c.docLen.get(d) else leafHits(i).get(d), sim).map(d -> _)
    }.toMap
  }

  private def bits(hits: Map[Long, Float]): Map[Long, Int] =
    hits.map { case (d, s) => d -> java.lang.Float.floatToRawIntBits(s) }

  test("the per-doc tree equals the per-node formulas bit for bit over random trees") {
    val sims = Seq(new BM25Similarity(10f), new TfIdfSimilarity)
    var nonEmpty = 0
    for (seed <- 0 until 3000) {
      val r = new scala.util.Random(seed)
      val corpus = randomCorpus(r)
      val q = randomTree(r, 1 + r.nextInt(3))
      val sim = sims(seed % 2)
      val want = naive(q, corpus, sim)
      assert(bits(perDoc(q, corpus, sim)) === bits(want), s"seed $seed: $q")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 1000, "too few random trees matched anything")
  }

  test("a zero-score clause is present: it fills a MUST and takes the constant score") {
    val c = Corpus(Map("a" -> Map(1L -> 2f), "b" -> Map(1L -> 3f)), Map(1L -> 5f))
    val sim = new BM25Similarity(10f)
    assert(perDoc(BoolQ(must = Seq(TermQ("a", 0f), TermQ("b"))), c, sim) === Map(1L -> 3f))
    assert(perDoc(ConstantScoreQ(TermQ("a", 0f), 2f), c, sim) === Map(1L -> 2f))
    assert(perDoc(DisMaxQ(Seq(TermQ("a", 0f))), c, sim) === Map(1L -> 0f))
    assert(perDoc(BoolQ(should = Seq(TermQ("b")), mustNot = Seq(TermQ("a", 0f))), c, sim).isEmpty)
  }

  test("compile: leaves in clause order, the doc-length leaf last") {
    val t = ScoreTree.compile(TermQ("a"))
    assert(t.root === ScoreTree.Leaf(0) && t.leaves === Seq(TermQ("a")))
    val f = ScoreTree.compile(FunctionScoreQ(BoolQ(must = Seq(TermQ("a")), should = Seq(TermQ("b")),
      mustNot = Seq(PhraseQ(Seq("c", "d")))), DocLen))
    assert(f.leaves === Seq(TermQ("a"), TermQ("b"), PhraseQ(Seq("c", "d"))))
    assert(f.readsDocLen && f.docLen === 3)
  }
}
