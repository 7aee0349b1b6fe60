package graft.search

import org.apache.spark.sql.Dataset

/** Bounded top-k heap with the reference's exact ordering contract:
  * weakest hit = lowest score, ties broken by HIGHER docId (so the
  * surviving order is score desc, docId asc — reference:
  * /root/reference/src/Lucene.Net/Search/HitQueue.cs:82-91, early-reject
  * TopScoreDocCollector.cs:54-73). */
final class HitQueue(val k: Int) extends Serializable {
  // binary min-heap over (score asc, docId desc)
  private var heap = new Array[ScoreDoc](math.max(1, k))
  private var count = 0

  def size: Int = count
  def top: ScoreDoc = heap(0)

  @inline private def weaker(a: ScoreDoc, b: ScoreDoc): Boolean =
    a.score < b.score || (a.score == b.score && a.docId > b.docId)

  def insertWithOverflow(sd: ScoreDoc): Unit = {
    if (k == 0) return
    if (count < k) {
      heap(count) = sd
      var i = count
      count += 1
      while (i > 0 && weaker(heap(i), heap((i - 1) / 2))) {
        val p = (i - 1) / 2
        val t = heap(i); heap(i) = heap(p); heap(p) = t
        i = p
      }
    } else if (weaker(heap(0), sd)) {
      heap(0) = sd
      siftDown(0)
    }
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var continue = true
    while (continue) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var smallest = i
      if (l < count && weaker(heap(l), heap(smallest))) smallest = l
      if (r < count && weaker(heap(r), heap(smallest))) smallest = r
      if (smallest == i) continue = false
      else {
        val t = heap(i); heap(i) = heap(smallest); heap(smallest) = t
        i = smallest
      }
    }
  }

  /** Drain to (score desc, docId asc) order. */
  def sorted: Array[ScoreDoc] = {
    val out = heap.take(count)
    java.util.Arrays.sort(out, (a: ScoreDoc, b: ScoreDoc) => {
      val c = java.lang.Float.compare(b.score, a.score)
      if (c != 0) c else java.lang.Long.compare(a.docId, b.docId)
    })
    out
  }
}

/** Distributed TopDocs.Merge (reference: Search/TopDocs.cs:265-275,
  * IndexSearcher.cs:466-500): a bounded [[HitQueue]] per partition, the at
  * most k survivors of each collected and merged on the driver. One Spark
  * job over the scored plan — no shuffle stage just to merge k-sized
  * heaps — and the full score set is never sorted. The result is the
  * unique top k under the total (score desc, docId asc) order, however
  * the hits are partitioned. */
object TopK {
  def apply(hits: Dataset[ScoreDoc], k: Int): Array[ScoreDoc] = {
    import hits.sparkSession.implicits._
    val perPartition = hits.mapPartitions { it =>
      val q = new HitQueue(k)
      it.foreach(q.insertWithOverflow)
      q.sorted.iterator
    }.collect()
    val q = new HitQueue(k)
    perPartition.foreach(q.insertWithOverflow)
    q.sorted
  }
}
