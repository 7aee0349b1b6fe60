package graft.build

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sorted indexes + early-terminating top-k (reference:
  * /root/reference/src/Lucene.Net.Misc/Index/Sorter/SortingMergePolicy.cs,
  * SortingAtomicReader.cs, EarlyTerminatingSortingCollector.cs): rewrite
  * the index with docIds REASSIGNED in sort-field order, so any query
  * whose sort matches the index sort can stop after the first k hits —
  * the time-sorted-logs / price-sorted-catalog access pattern.
  *
  * Spark-native restatement:
  *   - [[sortBy]] builds an (oldId → newId) remap dense in
  *     (sortField, oldId) order — the same range-partition + offset-rebase
  *     technique as [[DenseIds]], no single-partition window — and runs it
  *     through the shared segment rewrite ([[Deletes.rewriteWithRemap]]).
  *     The rewrite range-shuffles postings by (term, newId), so each
  *     term's blocks land in ascending, DISJOINT newId ranges across
  *     segments — the invariant early termination needs.
  *   - [[earlyTopK]] is the EarlyTerminatingSortingCollector: fetch one
  *     term's block METADATA (rows, not blobs — a per-term stats-sized
  *     driver pull), keep the shortest firstDocId-ascending prefix whose
  *     cumulative numDocs ≥ k, and decode ONLY those blocks. At 10^9 docs
  *     a hot term's thousands of blocks shrink to ⌈k/128⌉ decodes; the
  *     parquet scan itself prunes on the pushed firstDocId list.
  */
object IndexSorter {

  /** Rewrite `dir` with docIds dense in (`sortField` asc, docId asc)
    * order; `sortField` is a docstats column (e.g. tokenCount) or any
    * column of a caller-joined doc table. Tombstones are folded (merge
    * semantics), docvalue updates applied — same as expunge. */
  def sortBy(spark: SparkSession, dir: String, outDir: String,
             sortField: String, numPartitions: Int = 8): Unit = {
    import spark.implicits._
    val dead = Deletes.tombstones(spark, dir).toDF("deadId").distinct()
    val keys = DocValues.readDocstats(spark, dir)
      .join(dead, col("docId") === col("deadId"), "left_anti")
      .select(col(sortField).as("sk"), col("docId").as("oldId"))
    // dense rank in (sk, oldId) order without a global window — the
    // shared DenseIds range-partition + offset-rebase core, here ranking
    // a composite key with the oldId carried through
    val remap = DenseIds.rank(keys, Seq("sk", "oldId"), "newId",
        numPartitions, base = 0L)
      .select($"oldId", $"newId")
    Deletes.rewriteWithRemap(spark, dir, outDir, remap, numPartitions)
  }

  /** First `k` LIVE docs containing `term` in index-sort order, decoding
    * only the leading blocks (EarlyTerminatingSortingCollector — whose
    * scorers iterate liveDocs, so tombstoned docs neither surface nor
    * consume the k budget). Requires a [[sortBy]]-rewritten index
    * (per-term blocks cover disjoint ascending docId ranges). Block
    * counts include dead docs, so the decoded prefix is EXTENDED
    * (budget doubling, ≤ log rounds — one round when nothing is
    * deleted) until k live hits are in hand or the term is exhausted.
    * Returns (docId, tf) rows, docId ascending, ≤ k. */
  def earlyTopK(spark: SparkSession, dir: String, term: String, k: Int): DataFrame = {
    import spark.implicits._
    val meta = spark.read.parquet(IndexPaths.postings(dir))
      .where($"term" === term)
      .select($"firstDocId", $"numDocs")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val dead = Deletes.tombstones(spark, dir).toDF("docId").distinct()
    def decodePrefix(budget: Long): (DataFrame, Boolean) = {
      var need = budget
      val keep = meta.takeWhile { case (_, n) =>
        val take = need > 0; need -= n; take
      }
      val live = Posting.decode(spark.read.parquet(IndexPaths.postings(dir))
        .where($"term" === term && $"firstDocId".isin(keep.map(_._1).toIndexedSeq: _*)))
        .select($"docId", $"tf")
        .join(dead, Seq("docId"), "left_anti")
      (live, keep.length == meta.length)
    }
    var budget = k.toLong
    while (true) {
      val (live, exhausted) = decodePrefix(budget)
      // k rows are driver-small by contract — collect once, no cache
      val rows = live.orderBy($"docId").limit(k).as[(Long, Int)].collect()
      if (exhausted || rows.length >= k) return rows.toSeq.toDF("docId", "tf")
      budget *= 2
    }
    throw new IllegalStateException("unreachable")
  }
}
