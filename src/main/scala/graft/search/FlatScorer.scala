package graft.search

import graft.build.PostingRow
import graft.postings.PostingsCodec

/** Document-at-a-time top-k of a flat query (≙ BooleanScorer2 driving a
  * TopScoreDocCollector, reference: Search/BooleanScorer2.cs,
  * Search/TopScoreDocCollector.cs): every posting block of the query's
  * terms in, at most k hits out, with no Spark in between, so that
  * [[Searcher]] can run it as the one task of a query and tests can run
  * it on plain rows. The similarity scores each posting and gives the
  * coord factor and the block bounds.
  *
  * Block-max WAND (Ding & Suel; the reference predates it, SURVEY.md
  * §2.4): once the heap holds k hits, theta is the k-th best full score
  * so far, and a scoring term's block whose bound plus every other
  * clause's bound stays below theta is skipped without being decoded.
  * A doc of a skipped block scores below theta with all its clauses, so
  * with some left out (it may still surface through another term) it
  * scores lower still and never enters the heap. That holds while the
  * boost is ≥ 0, and pruning is off otherwise; a similarity with no
  * bound ([[SimilarityLike.blockMaxScore]] +∞) skips nothing.
  * Excluded (mustNot) blocks are always decoded. */
object FlatScorer {
  /** One scoring clause: its term and its similarity weight vector. */
  final case class Clause(term: String, weight: Array[Float])

  /** A flat query: the must clauses then the should clauses, in clause
    * order, the query's minShouldMatch and boost, and the mustNot terms. */
  final case class Spec(clauses: IndexedSeq[Clause], nMust: Int, minShouldMatch: Int,
                        boost: Float, excluded: Set[String]) {
    def terms: Seq[String] = (clauses.map(_.term) ++ excluded).distinct
  }

  /** The hits in (score desc, docId asc) order, and the number of
    * blocks skipped undecoded. */
  final case class Result(hits: Array[ScoreDoc], skippedBlocks: Int)

  private val End = Long.MaxValue

  /** The top `k` of `q` over `rows` (posting blocks in any order), leaving
    * out the `deleted` docIds (sorted ascending) and every hit not after
    * `after` in (score desc, docId asc) order (null: none). A doc is a hit
    * when every must clause and at least max(minShouldMatch, 1 if there
    * are no musts) should clauses are present and no excluded term
    * matches it. Its score is the float sum of its present clauses'
    * scores in clause order, times `sim.coord(present, clauses)`, times
    * the boost: [[Searcher]]'s `scoredBool` arithmetic, so the hits equal
    * the Dataset scorers' bit for bit. */
  def topK(rows: Iterator[PostingRow], q: Spec, sim: SimilarityLike, deleted: Array[Long],
           after: ScoreDoc, k: Int): Result = {
    val hits = new HitQueue(k)
    val n = q.clauses.length
    if (k <= 0 || n == 0) return Result(hits.sorted, 0)
    val terms = q.clauses.map(_.term).distinct
    val termIdx = terms.zipWithIndex.toMap
    val byTerm = Array.fill(terms.length)(Array.newBuilder[PostingRow])
    val exRows = Array.newBuilder[PostingRow]
    rows.foreach { r =>
      termIdx.get(r.term).foreach(byTerm(_) += r)
      if (q.excluded(r.term)) exRows += r
    }
    val excluded = exRows.result().flatMap(r =>
      PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)._1)
    java.util.Arrays.sort(excluded)

    val weight = q.clauses.map(_.weight).toArray
    val termOf = q.clauses.map(c => termIdx(c.term)).toArray
    val cursors = terms.indices.map { j =>
      val blocks = byTerm(j).result().sortBy(_.firstDocId)
      var b = 1
      while (b < blocks.length) {
        require(blocks(b).firstDocId > blocks(b - 1).lastDocId,
          s"posting blocks of ${terms(j)} overlap")
        b += 1
      }
      new Cursor(blocks, termOf.indices.filter(termOf(_) == j).toArray)
    }.toArray
    def blockBound(i: Int, r: PostingRow): Float =
      sim.blockMaxScore(r.maxTf, r.maxNorm, weight(i))
    // each clause's bound over its term's every block (0 for an absent term)
    val clauseBound = Array.tabulate(n)(i =>
      cursors(termOf(i)).blocks.foldLeft(0f)((m, r) => math.max(m, blockBound(i, r))))
    val prunable = q.boost >= 0f
    val boost = q.boost
    // the query's bound on the docs of c's block r: r's bound for c's
    // clauses, the whole-term bound for every other, summed in clause
    // order as the scores are, so rounding cannot lift a score above it
    def bound(c: Cursor, r: PostingRow): Float = {
      var s = 0f
      var i = 0
      while (i < n) {
        s += (if (cursors(termOf(i)) eq c) blockBound(i, r) else clauseBound(i))
        i += 1
      }
      s * boost
    }

    val minShould = math.max(q.minShouldMatch, if (q.nMust == 0) 1 else 0)
    val scores = new Array[Float](n)
    val present = new Array[Int](n) // the present clauses of the current doc
    val at = new Array[Cursor](cursors.length)
    val queue = new CursorQueue(cursors.length)
    cursors.foreach(c => if (c.doc != End) queue.push(c))
    var skipped = 0
    var ex = 0
    var dead = 0
    while (queue.size > 0) {
      val d = queue.top.doc
      var m = 0
      while (queue.size > 0 && queue.top.doc == d) {
        val c = queue.pop()
        if (!c.decoded && prunable && hits.size == k && bound(c, c.block) < hits.top.score) {
          c.skipBlock()
          skipped += 1
          if (c.doc != End) queue.push(c)
        } else {
          c.decode()
          at(m) = c
          m += 1
        }
      }
      if (m > 0) {
        var p = 0
        var musts = 0
        var a = 0
        while (a < m) {
          val c = at(a)
          val tf = c.tf.toFloat
          val norm = c.norm.toByte
          var e = 0
          while (e < c.entries.length) {
            val i = c.entries(e)
            scores(i) = sim.score(tf, norm, weight(i))
            present(p) = i
            p += 1
            if (i < q.nMust) musts += 1
            e += 1
          }
          a += 1
        }
        while (ex < excluded.length && excluded(ex) < d) ex += 1
        while (dead < deleted.length && deleted(dead) < d) dead += 1
        if (musts == q.nMust && p - musts >= minShould &&
            !(ex < excluded.length && excluded(ex) == d) &&
            !(dead < deleted.length && deleted(dead) == d)) {
          java.util.Arrays.sort(present, 0, p) // clause order
          var sum = 0f
          var i = 0
          while (i < p) {
            sum += scores(present(i))
            i += 1
          }
          val score = sum * sim.coord(p, n) * boost
          if (after == null || score < after.score ||
              (score == after.score && d > after.docId))
            hits.insertWithOverflow(ScoreDoc(d, score))
        }
        a = 0
        while (a < m) {
          val c = at(a)
          c.next()
          if (c.doc != End) queue.push(c)
          a += 1
        }
      }
    }
    Result(hits.sorted, skipped)
  }

  /** One scoring term's postings, walked block by block in docId order.
    * Before its current block is decoded, `doc` is the block's first
    * docId. */
  private final class Cursor(val blocks: Array[PostingRow], val entries: Array[Int]) {
    private var b = 0
    private var ids: Array[Long] = _
    private var tfs: Array[Int] = _
    private var norms: Array[Int] = _
    private var pos = 0
    var doc: Long = if (blocks.isEmpty) End else blocks(0).firstDocId

    def decoded: Boolean = ids != null
    def block: PostingRow = blocks(b)
    def tf: Int = tfs(pos)
    def norm: Int = norms(pos)

    def decode(): Unit = if (ids == null) {
      val r = blocks(b)
      val (i, t, nn) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
      ids = i; tfs = t; norms = nn; pos = 0
    }

    def skipBlock(): Unit = enter(b + 1)

    def next(): Unit = {
      pos += 1
      if (pos < ids.length) doc = ids(pos) else enter(b + 1)
    }

    private def enter(nb: Int): Unit = {
      b = nb
      ids = null
      doc = if (b < blocks.length) blocks(b).firstDocId else End
    }
  }

  /** Binary min-heap of cursors by current doc. */
  private final class CursorQueue(capacity: Int) {
    private val heap = new Array[Cursor](capacity)
    var size = 0

    def top: Cursor = heap(0)

    def push(c: Cursor): Unit = {
      var i = size
      heap(i) = c
      size += 1
      while (i > 0 && heap((i - 1) / 2).doc > heap(i).doc) {
        val p = (i - 1) / 2
        val t = heap(i); heap(i) = heap(p); heap(p) = t
        i = p
      }
    }

    def pop(): Cursor = {
      val out = heap(0)
      size -= 1
      heap(0) = heap(size)
      heap(size) = null
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var s = i
        if (l < size && heap(l).doc < heap(s).doc) s = l
        if (r < size && heap(r).doc < heap(s).doc) s = r
        if (s == i) done = true
        else {
          val t = heap(i); heap(i) = heap(s); heap(s) = t
          i = s
        }
      }
      out
    }
  }
}
