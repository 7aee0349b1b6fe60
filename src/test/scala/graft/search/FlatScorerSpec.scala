package graft.search

import graft.build.{PostingRow, TermDictRow}
import graft.postings.PostingsCodec
import org.scalatest.funsuite.AnyFunSuite

/** The in-task flat scorer against a naive per-doc evaluation, on plain
  * posting blocks (no Spark): the same hits, bit for bit, over random
  * blocks, clause sets and similarities, and block skipping that changes
  * nothing but the work done. */
class FlatScorerSpec extends AnyFunSuite {
  private type Postings = Map[String, Map[Long, (Int, Int)]] // term → doc → (tf, norm)

  private def rowsOf(p: Postings): Seq[PostingRow] = p.toSeq.flatMap { case (t, docs) =>
    val ds = docs.toSeq.sortBy(_._1)
    PostingsCodec.encodeBlocks(ds.map(_._1).toArray, ds.map(_._2._1).toArray,
      ds.map(_._2._2).toArray).map { b =>
      PostingRow(t, b.firstDocId, b.lastDocId, b.numDocs, b.maxTf, b.maxNorm,
        ds.filter(d => d._1 >= b.firstDocId && d._1 <= b.lastDocId).map(_._2._1.toLong).sum,
        0, b.bytes)
    }
  }

  /** The flat query's definition, one doc at a time. */
  private def naive(p: Postings, maxDoc: Long, q: FlatScorer.Spec, sim: SimilarityLike,
                    deleted: Set[Long], after: ScoreDoc, k: Int): Seq[ScoreDoc] = {
    val minShould = math.max(q.minShouldMatch, if (q.nMust == 0) 1 else 0)
    val hits = (0L until maxDoc).flatMap { d =>
      val hit = q.clauses.map(c => p.get(c.term).flatMap(_.get(d)))
      val musts = hit.take(q.nMust).count(_.isDefined)
      val shoulds = hit.drop(q.nMust).count(_.isDefined)
      if (musts < q.nMust || shoulds < minShould || deleted(d) ||
          q.excluded.exists(t => p.get(t).exists(_.contains(d)))) None
      else {
        var sum = 0f
        q.clauses.zip(hit).foreach { case (c, h) =>
          h.foreach { case (tf, norm) => sum += sim.score(tf.toFloat, norm.toByte, c.weight) }
        }
        val score = sum * sim.coord(musts + shoulds, q.clauses.size) * q.boost
        if (after == null || score < after.score || (score == after.score && d > after.docId))
          Some(ScoreDoc(d, score))
        else None
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  private def bits(hs: Seq[ScoreDoc]) =
    hs.map(h => (h.docId, java.lang.Float.floatToIntBits(h.score)))

  /** Random postings, a random flat query over them under the similarity
    * `simOf(avgdl)` and its weights, and a random k and deleted set. */
  private def randomCase(seed: Int, simOf: Float => SimilarityLike) = {
    val r = new scala.util.Random(seed)
    val maxDoc = 50L + r.nextInt(3000)
    val vocab = Seq("a", "b", "c", "d", "e")
    // high tfs in a random docId range of each term, so that later
    // blocks bound low and some get skipped
    val p: Postings = vocab.map { t =>
      val share = 0.05 + 0.6 * r.nextDouble()
      val hot = r.nextLong(maxDoc)
      t -> (0L until maxDoc).filter(_ => r.nextDouble() < share).map { d =>
        val tf = 1 + r.nextInt(if (d >= hot && d < hot + 100) 40 else 3)
        d -> (tf, 1 + r.nextInt(255))
      }.toMap
    }.toMap
    val sim = simOf(1f + 20 * r.nextFloat())
    def term() = if (r.nextInt(8) == 0) "absent" else vocab(r.nextInt(vocab.size))
    def boost() = r.nextInt(6) match {
      case 0 => 0.5f
      case 1 => 2.5f
      case 2 => r.nextFloat() * 3
      case 3 if seed % 10 == 0 => -1f // negative weights turn pruning off
      case _ => 1f
    }
    val must = IndexedSeq.fill(r.nextInt(3))((term(), boost()))
    val should = IndexedSeq.fill(r.nextInt(5))((term(), boost()))
    val stats = p.map { case (t, docs) =>
      t -> TermDictRow(t, docs.size.toLong, docs.values.map(_._1.toLong).sum, 0, 0)
    }
    val weights = sim.clauseWeights((must ++ should).map { case (t, b) => (Seq(t), b) }, stats,
      maxDoc, stats.values.map(_.totalTf).sum)
    val q = FlatScorer.Spec((must ++ should).map(_._1).zip(weights).map { case (t, w) =>
      FlatScorer.Clause(t, w) }, must.size, r.nextInt(should.size + 2),
      if (r.nextBoolean()) 1f else 0.25f + 2 * r.nextFloat(),
      Set.fill(r.nextInt(3))(term()))
    val deleted = (0L until maxDoc).filter(_ => r.nextInt(10) == 0)
    (p, maxDoc, sim, q, deleted, 1 + r.nextInt(20), r.shuffle(rowsOf(p)))
  }

  /** Checks the scorer against the naive evaluation on `randomCase`s, a
    * first page and the page after it; returns the blocks skipped. */
  private def checkRandom(seeds: Range, simOf: Float => SimilarityLike): Int =
    seeds.map { seed =>
      val (p, maxDoc, sim, q, deleted, k, rows) = randomCase(seed, simOf)
      val got = FlatScorer.topK(rows.iterator, q, sim, deleted.toArray, null, k)
      val want = naive(p, maxDoc, q, sim, deleted.toSet, null, k)
      assert(bits(got.hits.toSeq) === bits(want), s"seed=$seed q=$q k=$k")
      // the next page, after the first page's last hit
      if (want.nonEmpty) {
        val after = want.last
        val page = FlatScorer.topK(rows.iterator, q, sim, deleted.toArray, after, k)
        assert(bits(page.hits.toSeq) === bits(naive(p, maxDoc, q, sim, deleted.toSet, after, k)),
          s"page after $after: seed=$seed q=$q k=$k")
      }
      got.skippedBlocks
    }.sum

  test("random blocks and clause sets: the scorer equals the naive evaluation bit for bit") {
    assert(checkRandom(1 to 60, new BM25Similarity(_)) > 0)
  }

  test("similarities without a block bound: bit for bit, with coord, and no block skipped") {
    // TF-IDF's coord is below 1 on partial matches
    assert(checkRandom(1 to 30, _ => new TfIdfSimilarity) === 0)
    assert(checkRandom(31 to 60, _ => new LMDirichletSimilarity()) === 0)
  }

  test("a heap filled by one strong block skips the weak blocks, and the hits stay exact") {
    // "hot": 30 blocks, the first with tf 50 on every doc, the rest tf 1;
    // "cold": a few docs, tf 1
    val maxDoc = 4000L
    val hot = (0L until 3840L).map(d => d -> ((if (d < 128) 50 else 1), 100)).toMap
    val cold = (0L until maxDoc by 97).map(d => d -> (1, 100)).toMap
    val p: Postings = Map("hot" -> hot, "cold" -> cold)
    val sim = new BM25Similarity(10f)
    val w = Map("hot" -> Array(2f), "cold" -> Array(0.5f))
    def run(q: FlatScorer.Spec) = {
      val got = FlatScorer.topK(scala.util.Random.shuffle(rowsOf(p)).iterator, q, sim,
        Array.emptyLongArray, null, 10)
      assert(bits(got.hits.toSeq) === bits(naive(p, maxDoc, q, sim, Set.empty, null, 10)), q)
      got.skippedBlocks
    }
    for (q <- Seq(
        FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("hot", w("hot"))), 0, 0, 1f, Set.empty),
        FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("hot", w("hot")),
          FlatScorer.Clause("cold", w("cold"))), 0, 0, 1f, Set.empty),
        FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("hot", w("hot"))), 0, 0, 1f, Set("cold"))))
      assert(run(q) > 0, q)
    // a negative boost ranks the weak docs first: no block bound holds
    assert(run(FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("hot", w("hot"))), 0, 0, -1f,
      Set.empty)) === 0)
  }

  test("overlapping blocks of one term are refused") {
    val p: Postings = Map("t" -> (0L until 10L).map(d => d -> (1, 1)).toMap)
    val Seq(b) = rowsOf(p)
    val q = FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("t", Array(1f))), 0, 0, 1f, Set.empty)
    intercept[IllegalArgumentException](
      FlatScorer.topK(Iterator(b, b), q, new BM25Similarity(1f), Array.emptyLongArray, null, 5))
  }
}
