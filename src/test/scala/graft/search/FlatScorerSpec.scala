package graft.search

import graft.bm25.BM25
import graft.build.PostingRow
import graft.postings.PostingsCodec
import org.scalatest.funsuite.AnyFunSuite

/** The in-task flat scorer against a naive per-doc evaluation, on plain
  * posting blocks (no Spark): the same hits, bit for bit, over random
  * blocks and clause sets, and block skipping that changes nothing but
  * the work done. */
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
  private def naive(p: Postings, maxDoc: Long, q: FlatScorer.Spec, cache: Array[Float],
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
          h.foreach { case (tf, norm) => sum += BM25.score(tf.toFloat, norm.toByte, c.weight, cache) }
        }
        val score = sum * q.boost
        if (after == null || score < after.score || (score == after.score && d > after.docId))
          Some(ScoreDoc(d, score))
        else None
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  private def bits(hs: Seq[ScoreDoc]) =
    hs.map(h => (h.docId, java.lang.Float.floatToIntBits(h.score)))

  test("random blocks and clause sets: the scorer equals the naive evaluation bit for bit") {
    var skippedTotal = 0
    for (seed <- 1 to 60) {
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
      val cache = BM25.normCache(1f + 20 * r.nextFloat())
      def term() = if (r.nextInt(8) == 0) "absent" else vocab(r.nextInt(vocab.size))
      def boost() = r.nextInt(6) match {
        case 0 => 0.5f
        case 1 => 2.5f
        case 2 => r.nextFloat() * 3
        case 3 if seed % 10 == 0 => -1f // negative weights turn pruning off
        case _ => 1f
      }
      def clause() = {
        val t = term()
        val df = p.get(t).fold(1L)(_.size.toLong.max(1L))
        FlatScorer.Clause(t, BM25.weightValue(BM25.idf(df, maxDoc), boost()))
      }
      val must = IndexedSeq.fill(r.nextInt(3))(clause())
      val should = IndexedSeq.fill(r.nextInt(5))(clause())
      val q = FlatScorer.Spec(must ++ should, must.size, r.nextInt(should.size + 2),
        if (r.nextBoolean()) 1f else 0.25f + 2 * r.nextFloat(),
        Set.fill(r.nextInt(3))(term()))
      val deleted = (0L until maxDoc).filter(_ => r.nextInt(10) == 0)
      val k = 1 + r.nextInt(20)
      val rows = r.shuffle(rowsOf(p))
      val got = FlatScorer.topK(rows.iterator, q, cache, deleted.toArray, null, k)
      val want = naive(p, maxDoc, q, cache, deleted.toSet, null, k)
      assert(bits(got.hits.toSeq) === bits(want), s"seed=$seed q=$q k=$k")
      skippedTotal += got.skippedBlocks
      // the next page, after the first page's last hit
      if (want.nonEmpty) {
        val after = want.last
        val page = FlatScorer.topK(rows.iterator, q, cache, deleted.toArray, after, k)
        assert(bits(page.hits.toSeq) === bits(naive(p, maxDoc, q, cache, deleted.toSet, after, k)),
          s"page after $after: seed=$seed q=$q k=$k")
      }
    }
    assert(skippedTotal > 0)
  }

  test("a heap filled by one strong block skips the weak blocks, and the hits stay exact") {
    // "hot": 30 blocks, the first with tf 50 on every doc, the rest tf 1;
    // "cold": a few docs, tf 1
    val maxDoc = 4000L
    val hot = (0L until 3840L).map(d => d -> ((if (d < 128) 50 else 1), 100)).toMap
    val cold = (0L until maxDoc by 97).map(d => d -> (1, 100)).toMap
    val p: Postings = Map("hot" -> hot, "cold" -> cold)
    val cache = BM25.normCache(10f)
    val w = Map("hot" -> 2f, "cold" -> 0.5f)
    for (q <- Seq(
        FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("hot", w("hot"))), 0, 0, 1f, Set.empty),
        FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("hot", w("hot")),
          FlatScorer.Clause("cold", w("cold"))), 0, 0, 1f, Set.empty),
        FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("hot", w("hot"))), 0, 0, 1f, Set("cold")))) {
      val got = FlatScorer.topK(scala.util.Random.shuffle(rowsOf(p)).iterator, q, cache,
        Array.emptyLongArray, null, 10)
      assert(got.skippedBlocks > 0, q)
      assert(bits(got.hits.toSeq) === bits(naive(p, maxDoc, q, cache, Set.empty, null, 10)), q)
    }
  }

  test("overlapping blocks of one term are refused") {
    val p: Postings = Map("t" -> (0L until 10L).map(d => d -> (1, 1)).toMap)
    val Seq(b) = rowsOf(p)
    val q = FlatScorer.Spec(IndexedSeq(FlatScorer.Clause("t", 1f)), 0, 0, 1f, Set.empty)
    intercept[IllegalArgumentException](
      FlatScorer.topK(Iterator(b, b), q, BM25.normCache(1f), Array.emptyLongArray, null, 5))
  }
}
