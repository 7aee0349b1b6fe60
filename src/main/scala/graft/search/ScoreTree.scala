package graft.search

/** The composite nodes of a rewritten query, scored one doc at a time
  * (≙ BooleanScorer2, DisjunctionMaxScorer and ReqExclScorer combining
  * their children for the current doc, SURVEY.md §3.2). [[compile]]
  * splits a query into leaves, which Spark scores, and [[Node]]s over
  * the leaf indexes, which [[Compiled.eval]] scores per doc from the
  * doc's leaf hits. [[Explains]] calls the same node functions. A node's
  * result is `Some(score)` when the doc is one of its hits: presence,
  * not the score's sign, decides a match. */
object ScoreTree {
  sealed trait Node
  final case class Leaf(i: Int) extends Node
  final case class Bool(must: IndexedSeq[Node], should: IndexedSeq[Node],
                        mustNot: IndexedSeq[Node], minShouldMatch: Int, boost: Float) extends Node
  final case class DisMax(subs: IndexedSeq[Node], tieBreak: Float) extends Node
  final case class Constant(sub: Node, boost: Float) extends Node
  /** Reads the doc-length leaf ([[Compiled.docLen]]). */
  final case class Function(sub: Node, expr: ScoreExpr) extends Node
  final case class Boosting(positive: Node, context: Node, contextBoost: Float) extends Node

  /** A compiled query: leaf i is `leaves(i)`, and when a [[Function]]
    * reads it, leaf [[docLen]] is every doc's exact token count. */
  final case class Compiled(root: Node, leaves: IndexedSeq[Query], readsDocLen: Boolean) {
    def docLen: Int = leaves.size

    /** The doc's score, from its leaf hits (`leaf(i)` is leaf i's). */
    def eval(leaf: Int => Option[Float], sim: SimilarityLike): Option[Float] = {
      def go(n: Node): Option[Float] = n match {
        case Leaf(i) => leaf(i)
        case Bool(must, should, mustNot, msm, boost) =>
          bool((must ++ should).map(go), must.size, msm, mustNot.exists(go(_).isDefined), boost, sim)
        case DisMax(subs, tieBreak) => disMax(subs.map(go), tieBreak)
        case Constant(sub, boost) => constant(go(sub), boost)
        case Function(sub, expr) => function(go(sub), expr, leaf(docLen))
        case Boosting(pos, ctx, b) => boosting(go(pos), go(ctx).isDefined, b)
      }
      go(root)
    }
  }

  /** Every node that is not a bool, DisMax, constant-score,
    * function-score or boosting query is a leaf, numbered in depth-first
    * clause order (must, then should, then mustNot). */
  def compile(q: Query): Compiled = {
    val leaves = IndexedSeq.newBuilder[Query]
    var n = 0
    var readsDocLen = false
    def go(q: Query): Node = q match {
      case BoolQ(must, should, mustNot, msm, boost) =>
        Bool(must.map(go).toIndexedSeq, should.map(go).toIndexedSeq, mustNot.map(go).toIndexedSeq,
          msm, boost)
      case DisMaxQ(qs, tieBreak) => DisMax(qs.map(go).toIndexedSeq, tieBreak)
      case ConstantScoreQ(sub, boost) => Constant(go(sub), boost)
      case FunctionScoreQ(sub, expr) => readsDocLen = true; Function(go(sub), expr)
      case BoostingQ(pos, ctx, b) => Boosting(go(pos), go(ctx), b)
      case leaf => leaves += leaf; n += 1; Leaf(n - 1)
    }
    val root = go(q)
    Compiled(root, leaves.result(), readsDocLen)
  }

  /** The should clauses a bool needs: at least one without musts. */
  def minShould(nMust: Int, minShouldMatch: Int): Int =
    math.max(minShouldMatch, if (nMust == 0) 1 else 0)

  /** `clauses` are the must then the should clauses' hits. The score is
    * the float sum of the present ones in clause order, times
    * `sim.coord(present, clauses)`, times the boost. */
  def bool(clauses: IndexedSeq[Option[Float]], nMust: Int, minShouldMatch: Int,
           excluded: Boolean, boost: Float, sim: SimilarityLike): Option[Float] = {
    val present = clauses.flatten
    if (excluded || !clauses.take(nMust).forall(_.isDefined) ||
        present.size - nMust < minShould(nMust, minShouldMatch)) None
    else {
      var sum = 0f
      present.foreach(sum += _)
      Some(sum * sim.coord(present.size, clauses.size) * boost)
    }
  }

  /** max + tieBreak · (sum − max) over the present clauses, the sum in
    * clause order. */
  def disMax(subs: IndexedSeq[Option[Float]], tieBreak: Float): Option[Float] = {
    val present = subs.flatten
    if (present.isEmpty) None
    else {
      var max = Float.NegativeInfinity
      var sum = 0f
      present.foreach { s => sum += s; if (s > max) max = s }
      Some(max + tieBreak * (sum - max))
    }
  }

  def constant(sub: Option[Float], boost: Float): Option[Float] = sub.map(_ => boost)

  def function(sub: Option[Float], expr: ScoreExpr, docLen: Option[Float]): Option[Float] =
    for (s <- sub; dl <- docLen) yield ScoreExpr.eval(expr, s, dl)

  /** The context alone never matches. */
  def boosting(positive: Option[Float], contextMatched: Boolean, contextBoost: Float): Option[Float] =
    positive.map(s => if (contextMatched) s * contextBoost else s)
}
