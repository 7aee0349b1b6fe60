package graft.ops

import graft.build.IndexPaths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-facing verification queries (SparkEntry.queries) and their
  * DuckDB oracle SQL. Every SQL-oracled query runs through the ENGINE's
  * index tables (postings decode, term_dict, docstats, collection_stats) —
  * the oracle recomputes the same answer relationally from the raw
  * documents parquet. Column names and value types match exactly; floats
  * are double-precision with identical expression shape on both sides and
  * rounded to 6 decimals.
  */
object VerifyQueries {
  type Q = (SparkSession, String) => DataFrame

  import DocIndex.{ensure, scoredHits, hits, collectionStats, OracleCtes, OracleScore, oracleScored}

  // ----------------------------------------------------------- search ops

  /** TermQuery top-k (TermScorer analog). */
  def qTermTopk(spark: SparkSession, sf: String): DataFrame = {
    scoredHits(spark, sf, Seq("merge"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oTermTopk: String =
    s"""${oracleScored(Seq("merge"))}
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** TermQuery top-k through the NRT MULTI-GENERATION reader (reference:
    * DirectoryReader over uncommitted segments): the documents corpus is
    * indexed as TWO streaming generations, never compacted; the union
    * view re-aggregates dictionary + collection stats on the fly and
    * must reproduce the single-index answer — same oracle as
    * q_term_topk, bit for bit. */
  def qNrtTopk(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val root = DocIndex.ensureNrt(spark, sf)
    val gens = graft.streaming.StreamingIndexer.generations(spark, root)
      .map(g => graft.streaming.StreamingIndexer.genDir(root, g))
    val reader = graft.search.IndexReader.multi(spark, gens)
    val cs = reader.collectionStats
    val avgdl = cs.sumTotalTermFreq * 1.0 / cs.maxDoc
    val h = reader.postingRows(Seq("merge"))
      .flatMap { r =>
        val (ids, tfs, _) = graft.postings.PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
        ids.indices.map(i => (ids(i), tfs(i).toLong))
      }.toDF("doc_id", "tf")
    val dict = reader.termDict.where(col("term") === "merge").select(col("df"))
    val df0 = dict.head().getLong(0)
    val dl = reader.docstats
      .select(col("docId").as("doc_id"), col("tokenCount").cast("long").as("dl"))
    h.join(dl, Seq("doc_id"))
      .withColumn("score", DocIndex.bm25d(col("tf").cast("double"), lit(df0.toDouble),
        col("dl").cast("double"), cs.maxDoc, avgdl))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oNrtTopk: String = oTermTopk

  /** IndexWriter.AddIndexes analog end-to-end (reference:
    * Index/IndexWriter.cs AddIndexes → SegmentMerger): the corpus is
    * built as TWO independent half indexes (docIds both from 0), merged
    * into one standalone index with deletes folded and ids renumbered
    * densely in input order; BM25 top-k through the merged index must
    * equal the single-index answer bit for bit — same oracle as
    * q_term_topk. */
  def qAddIndexesTopk(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = DocIndex.ensureMerged(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    val cs = reader.collectionStats
    val avgdl = cs.sumTotalTermFreq * 1.0 / cs.maxDoc
    val h = reader.postingRows(Seq("merge"))
      .flatMap { r =>
        val (ids, tfs, _) = graft.postings.PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
        ids.indices.map(i => (ids(i), tfs(i).toLong))
      }.toDF("doc_id", "tf")
    val df0 = reader.termDict.where(col("term") === "merge")
      .select(col("df")).head().getLong(0)
    val dl = reader.docstats
      .select(col("docId").as("doc_id"), col("tokenCount").cast("long").as("dl"))
    h.join(dl, Seq("doc_id"))
      .withColumn("score", DocIndex.bm25d(col("tf").cast("double"), lit(df0.toDouble),
        col("dl").cast("double"), cs.maxDoc, avgdl))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oAddIndexesTopk: String = oTermTopk

  /** Index splitting (reference: Lucene.Net.Misc/Index/
    * MultiPassIndexSplitter.cs, PKIndexSplitter.cs): the documents index
    * split into 3 contiguous-docId shards with original ids preserved;
    * the multi-reader union re-aggregates dictionary + collection stats
    * and must reproduce the single-index BM25 answer — same oracle as
    * q_term_topk, bit for bit. */
  def qSplitSearch(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val shards = DocIndex.ensureSplit(spark, sf)
    val reader = graft.search.IndexReader.multi(spark, shards)
    val cs = reader.collectionStats
    val avgdl = cs.sumTotalTermFreq * 1.0 / cs.maxDoc
    val h = reader.postingRows(Seq("merge"))
      .flatMap { r =>
        val (ids, tfs, _) = graft.postings.PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
        ids.indices.map(i => (ids(i), tfs(i).toLong))
      }.toDF("doc_id", "tf")
    val df0 = reader.termDict.where(col("term") === "merge")
      .select(col("df")).head().getLong(0)
    val dl = reader.docstats
      .select(col("docId").as("doc_id"), col("tokenCount").cast("long").as("dl"))
    h.join(dl, Seq("doc_id"))
      .withColumn("score", DocIndex.bm25d(col("tf").cast("double"), lit(df0.toDouble),
        col("dl").cast("double"), cs.maxDoc, avgdl))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oSplitSearch: String = oTermTopk

  /** Sorted-index early termination (reference: Lucene.Net.Misc/Index/
    * Sorter/EarlyTerminatingSortingCollector.cs): the index is rewritten
    * in (tokenCount, docId) order, so "shortest docs containing 'merge'"
    * reads ONLY the leading posting blocks (cumulative numDocs ≥ k) —
    * the oracle proves the pruned prefix decode equals the full sort. */
  def qSortedEarly(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = DocIndex.ensureSorted(spark, sf)
    val hits = graft.build.IndexSorter.earlyTopK(spark, dir, "merge", 20)
      .select(col("docId"))
    val docs = graft.build.DocsTable.read(spark, dir)
      .select(col("docId"), col("path").cast("long").as("doc_id"))
    val dl = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId"), col("tokenCount").cast("long").as("dl"))
    hits.join(docs, Seq("docId")).join(dl, Seq("docId"))
      .select(col("doc_id"), col("dl"))
      .orderBy(col("dl"), col("doc_id"))
  }
  val oSortedEarly: String =
    s"""$OracleCtes
       |SELECT dl.doc_id, dl.dl FROM dl
       |WHERE dl.doc_id IN (SELECT doc_id FROM tf WHERE term = 'merge')
       |ORDER BY dl.dl, dl.doc_id LIMIT 20""".stripMargin

  /** BooleanQuery SHOULD: union + per-doc sum (DisjunctionSumScorer). */
  def qBoolShould(spark: SparkSession, sf: String): DataFrame = {
    scoredHits(spark, sf, Seq("merge", "vector"))
      .groupBy(col("doc_id")).agg(sum(col("score")).as("s"))
      .select(col("doc_id"), round(col("s"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oBoolShould: String =
    s"""${oracleScored(Seq("merge", "vector"))}
       |SELECT doc_id, round(sum(score), 6) AS score FROM scored
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** BooleanQuery MUST: docId equi-join (ConjunctionScorer) — int output. */
  def qBoolMust(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge", "vector"))
    val a = h.where(col("term") === "merge").select(col("doc_id"), col("tf").as("tf_a"))
    val b = h.where(col("term") === "vector").select(col("doc_id"), col("tf").as("tf_b"))
    a.join(b, Seq("doc_id")).orderBy(col("doc_id"))
  }
  val oBoolMust: String =
    s"""$OracleCtes
       |SELECT a.doc_id, a.tf AS tf_a, b.tf AS tf_b
       |FROM tf a JOIN tf b USING (doc_id)
       |WHERE a.term = 'merge' AND b.term = 'vector' ORDER BY doc_id""".stripMargin

  /** MUST_NOT: anti-join (ReqExclScorer). */
  def qBoolMustNot(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge", "vector"))
    val a = h.where(col("term") === "merge").select("doc_id")
    val b = h.where(col("term") === "vector").select("doc_id")
    a.join(b, Seq("doc_id"), "left_anti").orderBy(col("doc_id"))
  }
  val oBoolMustNot: String =
    s"""$OracleCtes
       |SELECT doc_id FROM tf WHERE term = 'merge' AND doc_id NOT IN
       |  (SELECT doc_id FROM tf WHERE term = 'vector')
       |ORDER BY doc_id""".stripMargin

  /** minShouldMatch >= 2 of 3 (MinShouldMatchSumScorer). */
  def qMinShouldMatch(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    hits(spark, dir, Seq("merge", "vector", "filter"))
      .groupBy(col("doc_id")).agg(countDistinct(col("term")).as("matched"))
      .where(col("matched") >= 2).orderBy(col("doc_id"))
  }
  val oMinShouldMatch: String =
    s"""$OracleCtes
       |SELECT doc_id, count(DISTINCT term) AS matched FROM tf
       |WHERE term IN ('merge', 'vector', 'filter')
       |GROUP BY doc_id HAVING count(DISTINCT term) >= 2 ORDER BY doc_id""".stripMargin

  /** DisjunctionMax: per-doc max over clauses. */
  def qDisMax(spark: SparkSession, sf: String): DataFrame = {
    scoredHits(spark, sf, Seq("merge", "vector"))
      .groupBy(col("doc_id")).agg(max(col("score")).as("m"))
      .select(col("doc_id"), round(col("m"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oDisMax: String =
    s"""${oracleScored(Seq("merge", "vector"))}
       |SELECT doc_id, round(max(score), 6) AS score FROM scored
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** DisjunctionMax with tieBreak > 0 (DisjunctionMaxScorer.cs:GetScore —
    * max + tieBreak * (sum - max)): two clauses so the two-addend float
    * sum is order-exact in IEEE and both engines agree bit-for-bit; the
    * engine float path's clause-order summation is SearchSpec's job. */
  def qDisMaxTieBreak(spark: SparkSession, sf: String): DataFrame = {
    scoredHits(spark, sf, Seq("merge", "vector"))
      .groupBy(col("doc_id"))
      .agg(max(col("score")).as("m"), sum(col("score")).as("s"))
      .select(col("doc_id"),
        round(col("m") + lit(0.3) * (col("s") - col("m")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oDisMaxTieBreak: String =
    s"""${oracleScored(Seq("merge", "vector"))}
       |SELECT doc_id,
       |  round(max(score) + 0.3e0 * (sum(score) - max(score)), 6) AS score
       |FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Fuzzy scoring (FuzzyQuery's default TOP_TERMS rewrite analog,
    * reference: FuzzyQuery.cs:108 + FuzzyTermsEnum.cs:436): dictionary
    * terms within 1 edit of 'merge', each hit boosted by similarity
    * = 1 - d/min(|term|, |query|); per-(doc, term) rows keep the float
    * summation question out of the oracle. */
  def qFuzzyTopk(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val dict = spark.read.parquet(IndexPaths.termDict(dir))
      .where(levenshtein(col("term"), lit("merge")) <= 1 &&
        abs(length(col("term")) - lit(5)) <= 1)
      .select(col("term"), levenshtein(col("term"), lit("merge")).as("d"))
    val terms = dict.select("term").collect().map(_.getString(0)).toSeq
    val b = lit(1.0) -
      col("d").cast("double") / least(length(col("term")), lit(5)).cast("double")
    scoredHits(spark, sf, terms)
      .join(broadcast(dict), Seq("term"))
      .select(col("doc_id"), col("term"), round(b * col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("term")).limit(20)
  }
  val oFuzzyTopk: String =
    s"""$OracleCtes, fz AS (
       |  SELECT term, levenshtein(term, 'merge') AS d FROM df
       |  WHERE levenshtein(term, 'merge') <= 1 AND abs(length(term) - 5) <= 1
       |), scored AS (
       |  SELECT tf.doc_id, tf.term, fz.d, $OracleScore AS score
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term)
       |  JOIN fz ON fz.term = tf.term CROSS JOIN stats
       |)
       |SELECT doc_id, term,
       |  round((1.0e0 - CAST(d AS DOUBLE) / CAST(least(length(term), 5) AS DOUBLE)) * score, 6) AS score
       |FROM scored ORDER BY score DESC, doc_id, term LIMIT 20""".stripMargin

  /** LM-Jelinek-Mercer top-k (reference:
    * Search/Similarities/LMJelinekMercerSimilarity.cs:60-63, λ=0.1):
    * query likelihood per matched clause,
    * ln(1 + ((1-λ)·tf/dl) / (λ·(ttf+1)/(sumTtf+1))), summed per doc.
    * Double-precision parity shape over the engine tables (postings
    * decode, term_dict totalTf, docstats dl, collection_stats). */
  def qLmjmTopk(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val cs = collectionStats(spark, dir)
    val h = hits(spark, dir, Seq("merge", "vector"))
    val dict = spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term").isin("merge", "vector"))
      .select(col("term"), col("totalTf").as("ttf"))
    val dl = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("tokenCount").cast("long").as("dl"))
    val p = lit(0.1) * ((col("ttf").cast("double") + lit(1.0)) /
      (lit(cs.sumTotalTermFreq.toDouble) + lit(1.0)))
    val s = log(lit(1.0) +
      (lit(0.9) * col("tf").cast("double") / col("dl").cast("double")) / p)
    h.join(broadcast(dict), Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("s", s)
      .groupBy(col("doc_id")).agg(sum(col("s")).as("ssum"))
      .select(col("doc_id"), round(col("ssum"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oLmjmTopk: String =
    s"""$OracleCtes, ttf AS (
       |  SELECT term, CAST(sum(tf) AS BIGINT) AS ttf FROM tf GROUP BY term
       |), lm AS (
       |  SELECT tf.doc_id,
       |    ln(1.0e0 + (0.9e0 * tf.tf / dl.dl) /
       |       (0.1e0 * ((ttf.ttf + 1.0e0) / (stats.sumttf + 1.0e0)))) AS s
       |  FROM tf JOIN dl USING (doc_id) JOIN ttf USING (term) CROSS JOIN stats
       |  WHERE tf.term IN ('merge', 'vector')
       |)
       |SELECT doc_id, round(sum(s), 6) AS score FROM lm
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** DFR I(n)L2 top-k (reference: Search/Similarities/DFRSimilarity.cs
    * with BasicModelIn + AfterEffectL + NormalizationH2, c = 1):
    * tfn = tf·log2(1 + avgdl/dl); per-clause score
    * tfn·log2((N+1)/(df+0.5))/(tfn+1), summed per doc. Double-precision
    * parity shape over the engine tables; the float similarity itself is
    * golden-tested in SimilaritySpec. */
  def qDfrTopk(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val cs = collectionStats(spark, dir)
    val avgdl = cs.sumTotalTermFreq * 1.0 / cs.maxDoc
    val h = hits(spark, dir, Seq("merge", "vector"))
    val dict = spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term").isin("merge", "vector"))
      .select(col("term"), col("df"))
    val dl = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("tokenCount").cast("long").as("dl"))
    val tfn = col("tf").cast("double") *
      log2(lit(1.0) + lit(avgdl) / col("dl").cast("double"))
    val s = tfn * log2((lit(cs.maxDoc.toDouble) + lit(1.0)) /
      (col("df").cast("double") + lit(0.5))) / (tfn + lit(1.0))
    h.join(broadcast(dict), Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("s", s)
      .groupBy(col("doc_id")).agg(sum(col("s")).as("ssum"))
      .select(col("doc_id"), round(col("ssum"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oDfrTopk: String =
    s"""$OracleCtes, dfr AS (
       |  SELECT tf.doc_id,
       |    (tf.tf * log2(1.0e0 + (stats.sumttf * 1.0e0 / stats.maxdoc) / dl.dl))
       |      * log2((stats.maxdoc + 1.0e0) / (df.df + 0.5e0))
       |      / ((tf.tf * log2(1.0e0 + (stats.sumttf * 1.0e0 / stats.maxdoc) / dl.dl)) + 1.0e0) AS s
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
       |  WHERE tf.term IN ('merge', 'vector')
       |)
       |SELECT doc_id, round(sum(s), 6) AS score FROM dfr
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Function query: relevance × doc-length prior (reference:
    * Queries/CustomScoreQuery.cs — customScore(doc, subQueryScore,
    * valSrcScore); the FunctionScoreQ ADT node is golden-tested in
    * FunctionQuerySpec, this is the double-precision relational twin:
    * BM25 clause sum × 1/(1+dl) over the exact docstats length). */
  def qCustomScore(spark: SparkSession, sf: String): DataFrame = {
    scoredHits(spark, sf, Seq("merge", "vector"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("score")).as("s"))
      .select(col("doc_id"),
        round(col("s") * (lit(1.0) / (lit(1.0) + col("dl").cast("double"))), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oCustomScore: String =
    s"""${oracleScored(Seq("merge", "vector"))}
       |SELECT doc_id, round(sum(score) * (1.0e0 / (1.0e0 + dl)), 6) AS score
       |FROM scored GROUP BY doc_id, dl
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Value-source composition (reference: Queries/Function/ValueSources/
    * ScaleFloatFunction.cs + ReciprocalFloatFunction.cs +
    * RangeMapFloatFunction.cs): relevance × reciprocal decay of the
    * doc length scaled into [0,1] by its corpus-global extrema ×
    * a range-map bump for short docs. The ScoreExpr nodes are
    * golden-tested in FunctionQuerySpec; this is the double-precision
    * relational twin (same pattern as q_custom_score). The extrema pull
    * is ONE stats-sized aggregate (two doubles to the driver) — the
    * reference's ScaleInfo, computed once per reader there too. */
  def qValueSources(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val ext = spark.read.parquet(IndexPaths.docstats(dir))
      .agg(min(col("tokenCount").cast("double")), max(col("tokenCount").cast("double")))
      .head()
    val (lo, hi) = (ext.getDouble(0), ext.getDouble(1))
    val scaled = (col("dl").cast("double") - lit(lo)) / lit(hi - lo)
    scoredHits(spark, sf, Seq("merge", "vector"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("score")).as("s"))
      .select(col("doc_id"),
        round(col("s") * (lit(2.0) / (scaled + lit(1.0)))
          * when(scaled >= 0.0 && scaled <= 0.5, lit(1.1)).otherwise(lit(1.0)), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oValueSources: String =
    s"""${oracleScored(Seq("merge", "vector"))}, ext AS (
       |  SELECT min(dl * 1.0e0) AS lo, max(dl * 1.0e0) AS hi FROM dl
       |)
       |SELECT doc_id, round(sum(score)
       |  * (2.0e0 / (((dl - lo) / (hi - lo)) + 1.0e0))
       |  * (CASE WHEN ((dl - lo) / (hi - lo)) BETWEEN 0.0e0 AND 0.5e0
       |          THEN 1.1e0 ELSE 1.0e0 END), 6) AS score
       |FROM scored CROSS JOIN ext GROUP BY doc_id, dl, lo, hi
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Boosting query: demote hits whose doc also matches the context
    * (reference: Queries/BoostingQuery.cs — context match × boost, the
    * context alone never matches; BoostingQ node in FunctionQuerySpec). */
  def qBoosting(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val ctx = hits(spark, dir, Seq("filter")).select(col("doc_id")).distinct()
      .withColumn("m", lit(1))
    scoredHits(spark, sf, Seq("merge", "vector"))
      .groupBy(col("doc_id")).agg(sum(col("score")).as("s"))
      .join(ctx, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        round(col("s") * when(col("m").isNotNull, lit(0.5)).otherwise(lit(1.0)), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oBoosting: String =
    s"""${oracleScored(Seq("merge", "vector"))}
       |SELECT doc_id, round(sum(score) *
       |  (CASE WHEN doc_id IN (SELECT doc_id FROM tf WHERE term = 'filter')
       |        THEN 0.5e0 ELSE 1.0e0 END), 6) AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** SearchAfter pagination: page 2 (rows 21-40) = top-40 minus top-20,
    * two TakeOrdered limits + anti-join — no single-partition window
    * (the engine path, Searcher.searchAfter, uses filter + bounded heap;
    * this is the oracle-shaped equivalent in the same scale shape). */
  def qSearchAfter(spark: SparkSession, sf: String): DataFrame = {
    val scored = scoredHits(spark, sf, Seq("merge"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
    val top40 = scored.orderBy(col("score").desc, col("doc_id")).limit(40)
    val top20 = scored.orderBy(col("score").desc, col("doc_id")).limit(20)
      .select(col("doc_id").as("ex_id"))
    top40.join(top20, top40("doc_id") === top20("ex_id"), "left_anti")
      .orderBy(col("score").desc, col("doc_id"))
  }
  val oSearchAfter: String =
    s"""${oracleScored(Seq("merge"))}
       |SELECT doc_id, round(score, 6) AS score FROM scored
       |ORDER BY score DESC, doc_id LIMIT 20 OFFSET 20""".stripMargin

  /** PhraseQuery (ExactPhraseScorer analog): index-pruned candidates +
    * position verification; output = per-doc phrase frequency. */
  def qPhrase(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    val searcher = new graft.search.Searcher(reader,
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.phraseFreqs(Seq("table", "hash"))
      .toDF("doc_id", "ptf", "norm")
      .select(col("doc_id"), col("ptf").cast("long").as("ptf"))
      .orderBy(col("doc_id"))
  }
  val oPhrase: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS ptf
       |FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       |WHERE a.t = 'table' AND b.t = 'hash'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact phrase over the POSITIONS-INDEXED variant of the documents
    * table (indexPositions = true): same answer as q_phrase, but the plan
    * decodes the positions sidecar instead of re-analyzing stored content
    * — the DOCS_AND_FREQS_AND_POSITIONS path, driver-gated against the
    * identical oracle. */
  def qPhrasePos(spark: SparkSession, sf: String): DataFrame = {
    val dir = DocIndex.ensurePositions(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.phraseFreqsFromIndex(Seq("table", "hash"), 0)
      .toDF("doc_id", "ptf", "norm")
      .select(col("doc_id"), col("ptf").cast("long").as("ptf"))
      .orderBy(col("doc_id"))
  }
  val oPhrasePos: String = oPhrase

  /** Sloppy PhraseQuery (SloppyPhraseScorer analog, slop=3): the doc SET
    * comes from the engine's reference-exact greedy matcher — out-of-order
    * matches included, repeat-group handling live — while the oracle-parity
    * columns (min adjusted window, pair count within slop) are SQL-shaped.
    * For a 2-term phrase the greedy traversal provably visits the globally
    * minimal |pb - pa - 1| pair (smallest-difference merge), so its doc set
    * equals {min adjusted window <= slop}, which DuckDB recomputes
    * relationally — the hash match proves the reorder semantics. */
  def qPhraseSloppy(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val matched = searcher.sloppyPhraseFreqs(Seq("table", "hash"), 3)
      .toDF("doc_id", "freq", "norm").select("doc_id")
    val pos = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")).as(Seq("p", "t")))
    val a = pos.where(col("t") === "table").select(col("doc_id"), col("p").as("pa"))
    val b = pos.where(col("t") === "hash").select(col("doc_id"), col("p").as("pb"))
    val stats = a.join(b, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(abs(col("pb") - col("pa") - 1)).cast("long").as("min_dist"),
        sum(when(abs(col("pb") - col("pa") - 1) <= 3, 1L).otherwise(0L)).as("pairs"))
    matched.join(stats, Seq("doc_id")).orderBy(col("doc_id"))
  }
  val oPhraseSloppy: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT a.doc_id AS doc_id,
       |  CAST(min(abs(b.p - a.p - 1)) AS BIGINT) AS min_dist,
       |  CAST(sum(CASE WHEN abs(b.p - a.p - 1) <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS pairs
       |FROM pos a JOIN pos b ON a.doc_id = b.doc_id
       |WHERE a.t = 'table' AND b.t = 'hash'
       |GROUP BY 1 HAVING min(abs(b.p - a.p - 1)) <= 3 ORDER BY 1""".stripMargin

  /** q_phrase_sloppy's twin on the positions-indexed variant: the
    * SloppyPhraseScorer traversal runs over decoded position lists (no
    * re-analysis); same oracle. */
  def qPhraseSloppyPos(spark: SparkSession, sf: String): DataFrame = {
    val dir = DocIndex.ensurePositions(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val matched = searcher.phraseFreqsFromIndex(Seq("table", "hash"), 3)
      .toDF("doc_id", "freq", "norm").select("doc_id")
    val pos = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")).as(Seq("p", "t")))
    val a = pos.where(col("t") === "table").select(col("doc_id"), col("p").as("pa"))
    val b = pos.where(col("t") === "hash").select(col("doc_id"), col("p").as("pb"))
    val stats = a.join(b, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(abs(col("pb") - col("pa") - 1)).cast("long").as("min_dist"),
        sum(when(abs(col("pb") - col("pa") - 1) <= 3, 1L).otherwise(0L)).as("pairs"))
    matched.join(stats, Seq("doc_id")).orderBy(col("doc_id"))
  }
  val oPhraseSloppyPos: String = oPhraseSloppy

  /** MultiPhraseQuery: slot alternatives ("table"|"part") then
    * ("hash"|"filter"), adjacent. */
  def qMultiPhrase(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.multiPhraseFreqs(Seq(Seq("table", "part"), Seq("hash", "filter")))
      .toDF("doc_id", "ptf")
      .select(col("doc_id"), col("ptf").cast("long").as("ptf"))
      .orderBy(col("doc_id"))
  }
  val oMultiPhrase: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS ptf
       |FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       |WHERE a.t IN ('table', 'part') AND b.t IN ('hash', 'filter')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sloppy MultiPhraseQuery (reference: MultiPhraseQuery.cs SetSlop):
    * slots ("table"|"part") then ("hash"|"filter"), slop 3 — the doc SET
    * comes from the engine's union-positions SloppyPhrase traversal; the
    * oracle-parity columns use the same 2-slot min-adjusted-window
    * theorem as q_phrase_sloppy, with per-slot IN-lists (slot
    * vocabularies are disjoint, so no repeat groups interfere). */
  def qMultiPhraseSloppy(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val matched = searcher.multiPhraseFreqsSloppy(
      Seq(Seq("table", "part"), Seq("hash", "filter")), 3)
      .toDF("doc_id", "freq").select("doc_id")
    val pos = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")).as(Seq("p", "t")))
    val a = pos.where(col("t").isin("table", "part")).select(col("doc_id"), col("p").as("pa"))
    val b = pos.where(col("t").isin("hash", "filter")).select(col("doc_id"), col("p").as("pb"))
    val stats = a.join(b, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(abs(col("pb") - col("pa") - 1)).cast("long").as("min_dist"),
        sum(when(abs(col("pb") - col("pa") - 1) <= 3, 1L).otherwise(0L)).as("pairs"))
    matched.join(stats, Seq("doc_id")).orderBy(col("doc_id"))
  }
  val oMultiPhraseSloppy: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT a.doc_id AS doc_id,
       |  CAST(min(abs(b.p - a.p - 1)) AS BIGINT) AS min_dist,
       |  CAST(sum(CASE WHEN abs(b.p - a.p - 1) <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS pairs
       |FROM pos a JOIN pos b ON a.doc_id = b.doc_id
       |WHERE a.t IN ('table', 'part') AND b.t IN ('hash', 'filter')
       |GROUP BY 1 HAVING min(abs(b.p - a.p - 1)) <= 3 ORDER BY 1""".stripMargin

  /** SpanNearQuery (unordered, gap <= 3): proximity pair counts. */
  def qSpanNear(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.spanNearFreqs("table", "hash", maxGap = 3)
      .toDF("doc_id", "pairs")
      .select(col("doc_id"), col("pairs").cast("long").as("pairs"))
      .orderBy(col("doc_id"))
  }
  val oSpanNear: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS pairs
       |FROM pos a JOIN pos b ON a.doc_id = b.doc_id
       |  AND b.p <> a.p AND abs(b.p - a.p) <= 3
       |WHERE a.t = 'table' AND b.t = 'hash'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SpanPositionRangeQuery: spans of 'merge' lying wholly inside the
    * position window [5, 15) (reference: Spans/SpanPositionRangeQuery.cs;
    * SpanFirst is its start=0 case). Engine positions are 0-based; the
    * oracle's generate_subscripts is 1-based, so window [5,15) maps to
    * p BETWEEN 6 AND 15. */
  def qSpanRange(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.spanCount(graft.search.SpanPositionRangeQ(
      graft.search.SpanTermQ("merge"), 5, 15))
      .toDF("doc_id", "spans")
      .select(col("doc_id"), col("spans").cast("long").as("spans"))
      .orderBy(col("doc_id"))
  }
  val oSpanRange: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS spans FROM pos
       |WHERE t = 'merge' AND p BETWEEN 6 AND 15 GROUP BY 1 ORDER BY 1""".stripMargin

  /** SimpleQueryParser end-to-end (reference:
    * QueryParser/Simple/SimpleQueryParser.cs): the human query
    * `merge table | hash -vector` under default operator MUST parses to
    * MUST( SHOULD( MUST(merge, table), hash ), NOT vector ) — the
    * BuildQueryTree wrap-on-operator-change shape — and runs through the
    * engine's boolean planner; output is the matching doc SET (the
    * oracle recomputes it with set algebra over the tf view). */
  def qParseSimple(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val parser = new graft.search.SimpleQueryParser(
      graft.analysis.Analyzer.sqlParity, graft.search.SimpleQueryParser.Must)
    val q = parser.parse("merge table | hash -vector").get
    searcher.scored(q).map(_.docId).distinct().toDF("doc_id").orderBy(col("doc_id"))
  }
  val oParseSimple: String =
    s"""$OracleCtes
       |SELECT doc_id FROM (
       |  SELECT doc_id FROM tf WHERE term = 'merge'
       |  INTERSECT SELECT doc_id FROM tf WHERE term = 'table'
       |  UNION SELECT doc_id FROM tf WHERE term = 'hash'
       |) EXCEPT (SELECT doc_id FROM tf WHERE term = 'vector')
       |ORDER BY doc_id""".stripMargin

  /** ExtendableQueryParser end-to-end (reference: QueryParser/Ext/
    * ExtendableQueryParser.cs resolve-or-super + Extensions.cs:114-122
    * split): a registered `pfx` extension turns `pfx:sc` into a
    * PrefixQuery INSIDE the classic grammar (here composed with a
    * MUST_NOT clause), driven through the real searcher. */
  def qParseExt(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val parser = new graft.search.QueryParser(
      analyzer = graft.analysis.Analyzer.sqlParity,
      extensions = Map("pfx" -> (eq => graft.search.PrefixQ(eq.rawQueryString))))
    val q = parser.parse("pfx:sc -vector")
    searcher.scored(q).map(_.docId).distinct().toDF("doc_id").orderBy(col("doc_id"))
  }
  val oParseExt: String =
    s"""$OracleCtes
       |SELECT doc_id FROM (
       |  SELECT DISTINCT doc_id FROM tf WHERE term LIKE 'sc%'
       |) EXCEPT (SELECT doc_id FROM tf WHERE term = 'vector')
       |ORDER BY doc_id""".stripMargin

  /** XML query syntax end-to-end (reference: QueryParser/Xml/
    * CoreParser.cs builder registry): a BooleanQuery document with a
    * nested analyzed TermsQuery and a MUST_NOT clause compiles onto the
    * shared Query ADT and must produce merge ∩ (table ∪ hash) − vector. */
  def qParseXml(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val q = graft.search.XmlQueryParser.parse(
      """<BooleanQuery>
        |  <Clause occurs="must"><TermQuery>merge</TermQuery></Clause>
        |  <Clause occurs="must"><TermsQuery>table hash</TermsQuery></Clause>
        |  <Clause occurs="mustnot"><TermQuery>vector</TermQuery></Clause>
        |</BooleanQuery>""".stripMargin)
      .toOption.get
    searcher.scored(q).map(_.docId).distinct().toDF("doc_id").orderBy(col("doc_id"))
  }
  val oParseXml: String =
    s"""$OracleCtes
       |SELECT doc_id FROM (
       |  SELECT doc_id FROM tf WHERE term = 'merge'
       |  INTERSECT SELECT doc_id FROM (
       |    SELECT doc_id FROM tf WHERE term = 'table'
       |    UNION SELECT doc_id FROM tf WHERE term = 'hash')
       |) EXCEPT (SELECT doc_id FROM tf WHERE term = 'vector')
       |ORDER BY doc_id""".stripMargin

  /** FuzzyLikeThis end-to-end (reference: Sandbox/Queries/
    * FuzzyLikeThisQuery.cs): typo'd free text `"merg tble"` analyzed,
    * each term fuzzy-expanded (banded dictionary seek, ≤1 edit), union
    * doc set — must equal the oracle's plain Levenshtein-over-dictionary
    * semi-join. */
  def qFuzzyLikeThis(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val q = graft.search.FuzzyLikeThis.query(
      "merg tble", graft.analysis.Analyzer.sqlParity, maxEdits = 1)
    searcher.scored(q).map(_.docId).distinct().toDF("doc_id").orderBy(col("doc_id"))
  }
  val oFuzzyLikeThis: String =
    s"""$OracleCtes
       |SELECT DISTINCT doc_id FROM tf WHERE term IN (
       |  SELECT term FROM df
       |  WHERE levenshtein(term, 'merg') <= 1 OR levenshtein(term, 'tble') <= 1)
       |ORDER BY doc_id""".stripMargin

  /** Surround query language end-to-end (reference:
    * QueryParser/Surround/Parser/QueryParser.cs): `(merge 3w table) not
    * vector` — ordered within-3 proximity (slop 2 span-near, W-operator)
    * minus docs containing 'vector'. The distance subtree runs the span
    * algebra; the NOT level is doc-set algebra. For unit spans the
    * ordered-chain condition reduces to ∃ positions pa < pb with
    * pb − pa ≤ 3, which is what the oracle checks. */
  def qSurround(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val q = graft.search.Surround.parse("(merge 3w table) not vector")
    graft.search.Surround.docs(searcher, q).toDF("doc_id").orderBy(col("doc_id"))
  }
  val oSurround: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT DISTINCT a.doc_id AS doc_id
       |FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p > a.p AND b.p - a.p <= 3
       |WHERE a.t = 'merge' AND b.t = 'table'
       |  AND a.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'vector')
       |ORDER BY doc_id""".stripMargin

  /** Compiled sort/rescore expression (reference:
    * Lucene.Net.Expressions — ExpressionSortField.cs over a
    * JavascriptCompiler-compiled expression with SimpleBindings): the
    * source text `_score > 1 ? sqrt(_score) + ln(dl + 1) / 10 :
    * _score * 2` compiles to ONE Catalyst Column (whole-stage codegen)
    * bound to the BM25 double score and exact doc length; docs sort by
    * the compiled value. The oracle evaluates the same expression as
    * SQL (`?:` ⇔ CASE WHEN — the 1/0-truthiness indirection is
    * value-identical for a comparison condition). */
  def qExprSort(spark: SparkSession, sf: String): DataFrame = {
    val h = scoredHits(spark, sf, Seq("merge"))
    val e = graft.expressions.Javascript.compile(
      "_score > 1 ? sqrt(_score) + ln(dl + 1) / 10 : _score * 2",
      Map("_score" -> col("score"), "dl" -> col("dl").cast("double")))
    h.select(col("doc_id"), round(e, 6).as("expr_score"))
      .orderBy(col("expr_score").desc, col("doc_id")).limit(20)
  }
  val oExprSort: String =
    s"""${oracleScored(Seq("merge"))}
       |SELECT doc_id, round(CASE WHEN score > 1.0e0
       |    THEN sqrt(score) + ln(dl + 1.0e0) / 10.0e0
       |    ELSE score * 2.0e0 END, 6) AS expr_score
       |FROM scored ORDER BY expr_score DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------- spatial ops

  /** Deterministic point table derived from events with pure integer
    * arithmetic (exact in doubles on both engines). */
  private def eventPoints(spark: SparkSession, sf: String): DataFrame =
    spark.read.parquet(s"$sf/events.parquet").select(
      col("event_id"),
      (col("event_id") * 7919 % 18000 / lit(100.0) - 90.0).as("lat"),
      (col("event_id") * 104729 % 36000 / lit(100.0) - 180.0).as("lon"))

  private val OraclePts: String =
    """WITH pts AS (
      |  SELECT event_id,
      |         ((event_id * 7919) % 18000) / 100.0e0 - 90.0e0 AS lat,
      |         ((event_id * 104729) % 36000) / 100.0e0 - 180.0e0 AS lon
      |  FROM events
      |)""".stripMargin

  /** Spatial Intersects(bbox) (reference: Lucene.Net.Spatial
    * RecursivePrefixTreeStrategy + IntersectsPrefixTreeFilter): the engine
    * prunes with driver-covered Morton ranges (quad prefix tree ≙ Z-order
    * prefix ranges) then refines exactly; the oracle is the plain
    * geometric predicate — equality proves the cover is sound AND the
    * refine is exact. */
  def qSpatialBbox(spark: SparkSession, sf: String): DataFrame = {
    val r = graft.spatial.Spatial.Rect(10, 25, -40, -5)
    graft.spatial.Spatial.bboxQuery(eventPoints(spark, sf), col("lat"), col("lon"), r)
      .select(col("event_id"), round(col("lat"), 6).as("lat"), round(col("lon"), 6).as("lon"))
      .orderBy(col("event_id"))
  }
  val oSpatialBbox: String =
    s"""$OraclePts
       |SELECT event_id, round(lat, 6) AS lat, round(lon, 6) AS lon FROM pts
       |WHERE lat >= 10.0e0 AND lat <= 25.0e0 AND lon >= -40.0e0 AND lon <= -5.0e0
       |ORDER BY event_id""".stripMargin

  /** Morton spatial index cache per sf dir (writeIndex output: stored
    * `morton` column, range-partitioned + sorted so the cover's BETWEENs
    * prune parquet files/row-groups — the scale path bboxQuery takes when
    * the code is stored). */
  private def spatialIndexDir(spark: SparkSession, sf: String): String = synchronized {
    val key = sf.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = s"/tmp/graft-spatial-v1-$key"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")))
      graft.spatial.Spatial.writeIndex(
        eventPoints(spark, sf), col("lat"), col("lon"), dir, numPartitions = 4)
    dir
  }

  /** Intersects(bbox) over the STORED Morton index — the indexed path:
    * driver cover → pushed `morton BETWEEN` candidates pruning the
    * parquet scan → exact refine. Equality with the plain geometric
    * oracle proves cover soundness AND refine exactness through the
    * pruned scan (the unindexed gates above prove the refine alone). */
  def qSpatialIndexed(spark: SparkSession, sf: String): DataFrame = {
    val idx = spark.read.parquet(spatialIndexDir(spark, sf))
    val r = graft.spatial.Spatial.Rect(-30, -5, 100, 140)
    graft.spatial.Spatial.bboxQuery(idx, col("lat"), col("lon"), r)
      .select(col("event_id"), round(col("lat"), 6).as("lat"), round(col("lon"), 6).as("lon"))
      .orderBy(col("event_id"))
  }
  val oSpatialIndexed: String =
    s"""$OraclePts
       |SELECT event_id, round(lat, 6) AS lat, round(lon, 6) AS lon FROM pts
       |WHERE lat >= -30.0e0 AND lat <= -5.0e0 AND lon >= 100.0e0 AND lon <= 140.0e0
       |ORDER BY event_id""".stripMargin

  /** Point-radius query (PointVectorStrategy.MakeDistanceValueSource +
    * circle filter analog): Morton cover of the circle's bbox, exact
    * haversine refine, nearest-first. Identical formula shape on both
    * sides (same constants, same op order). */
  def qSpatialDistance(spark: SparkSession, sf: String): DataFrame = {
    graft.spatial.Spatial.distanceQuery(
        eventPoints(spark, sf), col("lat"), col("lon"), 20.0, 10.0, 2000.0)
      .select(col("event_id"), round(col("dist_km"), 6).as("dist_km"))
      .orderBy(col("dist_km"), col("event_id")).limit(50)
  }
  val oSpatialDistance: String =
    s"""$OraclePts
       |SELECT event_id,
       |  round(2.0e0 * 6371.0e0 * asin(least(1.0e0, sqrt(
       |    sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |    + cos(lat * 1.7453292519943295e-2) * cos(20.0e0 * 1.7453292519943295e-2)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)))), 6) AS dist_km
       |FROM pts
       |WHERE 2.0e0 * 6371.0e0 * asin(least(1.0e0, sqrt(
       |    sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |    + cos(lat * 1.7453292519943295e-2) * cos(20.0e0 * 1.7453292519943295e-2)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)))) <= 2000.0e0
       |ORDER BY dist_km, event_id LIMIT 50""".stripMargin

  /** Grid heat map (PrefixTreeStrategy's cell faceting idea): counts per
    * level-4 quad cell — one map-side-combinable groupBy. */
  def qSpatialCells(spark: SparkSession, sf: String): DataFrame = {
    graft.spatial.Spatial.cellCounts(eventPoints(spark, sf), col("lat"), col("lon"), 4)
      .orderBy(col("cell_x"), col("cell_y"))
  }
  val oSpatialCells: String =
    s"""$OraclePts
       |SELECT CAST(floor((lon + 180.0e0) / 360.0e0 * 16.0e0) AS BIGINT) AS cell_x,
       |       CAST(floor((lat + 90.0e0) / 180.0e0 * 16.0e0) AS BIGINT) AS cell_y,
       |       CAST(count(*) AS BIGINT) AS cnt
       |FROM pts GROUP BY 1, 2 ORDER BY cell_x, cell_y""".stripMargin

  /** Geohash heat map (reference: Lucene.Net.Spatial/Prefix/Tree/
    * GeohashPrefixTree.cs — the second prefix tree): counts per
    * precision-3 geohash cell. The engine side is the codegen'd
    * [[graft.spatial.Geohash.geohashCol]]; the oracle rebuilds the
    * 15-bit lon-first MSB interleave with explicit SQL bit arithmetic and
    * maps 5-bit groups through the base-32 alphabet — equality proves the
    * unrolled column interleave IS the published geohash. */
  def qGeohashCells(spark: SparkSession, sf: String): DataFrame = {
    graft.spatial.Geohash // touch to load
    eventPoints(spark, sf)
      .withColumn("gh", graft.spatial.Geohash.geohashCol(col("lat"), col("lon"), 3))
      .groupBy("gh").count().withColumnRenamed("count", "cnt")
      .orderBy(col("gh"))
  }
  val oGeohashCells: String = {
    // precision 3: 15 bits, 8 lon + 7 lat, MSB-first, lon bit first
    val bitTerms = (0 until 15).map { i =>
      val (src, srcBit) =
        if (i % 2 == 0) ("lonq", 7 - i / 2) else ("latq", 6 - i / 2)
      s"((($src >> $srcBit) & 1) << ${14 - i})"
    }.mkString(" | ")
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    s"""$OraclePts,
       |q AS (
       |  SELECT least(255, greatest(0,
       |           CAST(floor((lon + 180.0e0) / 360.0e0 * 256.0e0) AS BIGINT))) AS lonq,
       |         least(127, greatest(0,
       |           CAST(floor((lat + 90.0e0) / 180.0e0 * 128.0e0) AS BIGINT))) AS latq
       |  FROM pts
       |), acc AS (SELECT ($bitTerms) AS a FROM q)
       |SELECT substr('$alphabet', CAST((a >> 10) & 31 AS INT) + 1, 1)
       |    || substr('$alphabet', CAST((a >> 5) & 31 AS INT) + 1, 1)
       |    || substr('$alphabet', CAST(a & 31 AS INT) + 1, 1) AS gh,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM acc GROUP BY 1 ORDER BY gh""".stripMargin
  }

  /** Spatial text front-end (reference: Queries/SpatialArgsParser.cs):
    * `Intersects(BUFFER(POINT(x y), dDeg))` parsed and executed — the
    * circle's degree radius converts through the same km-per-degree
    * constant the band math uses, and the oracle is the plain haversine
    * predicate at that radius. */
  def qSpatialArgs(spark: SparkSession, sf: String): DataFrame = {
    val args = graft.spatial.SpatialArgs.parse(
      "Intersects(BUFFER(POINT(10.0 20.0), 18.0))")
    graft.spatial.SpatialArgs.query(eventPoints(spark, sf),
        col("lat"), col("lon"), args)
      .select(col("event_id"), round(col("dist_km"), 6).as("dist_km"))
      .orderBy(col("dist_km"), col("event_id")).limit(50)
  }
  val oSpatialArgs: String = {
    val radiusKm = 18.0 * 111.19492664455873d // the engine's exact double
    s"""$OraclePts
       |SELECT event_id,
       |  round(2.0e0 * 6371.0e0 * asin(least(1.0e0, sqrt(
       |    sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |    + cos(lat * 1.7453292519943295e-2) * cos(20.0e0 * 1.7453292519943295e-2)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)))), 6) AS dist_km
       |FROM pts
       |WHERE 2.0e0 * 6371.0e0 * asin(least(1.0e0, sqrt(
       |    sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((20.0e0 - lat) * 1.7453292519943295e-2 / 2.0e0)
       |    + cos(lat * 1.7453292519943295e-2) * cos(20.0e0 * 1.7453292519943295e-2)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)
       |      * sin((10.0e0 - lon) * 1.7453292519943295e-2 / 2.0e0)))) <= ${radiusKm}e0
       |ORDER BY dist_km, event_id LIMIT 50""".stripMargin
  }

  /** Percolation (reference: Lucene.Net.Memory/MemoryIndex.cs — the
    * prospective-search primitive). 100 stored conjunctive queries are
    * derived deterministically from the term dictionary (rank by df desc,
    * term asc, capped at 200; with V ranked terms, query i = MUST
    * {t[i%V], t[(7i+3)%V]}, MUST_NOT {t[(11i+5)%V]} — degenerate
    * collisions are consistent on both sides); each document's
    * MemoryIndex is its
    * distinct analyzed term set; matching is one term equi-join (see
    * [[graft.search.Percolate]]). Output: matches per stored query. */
  def qPercolate(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val top = spark.read.parquet(IndexPaths.termDict(dir))
      .orderBy(col("df").desc, col("term")).limit(200)
      .select("term").as[String].collect() // stats-sized driver pull (200 rows)
    val v = top.length
    val queryDefs = (0 until 100).map { i =>
      (i.toLong, Seq(top(i % v), top((i * 7 + 3) % v)), Seq(top((i * 11 + 5) % v)))
    }.toDF("query_id", "must", "must_not")
    val docTerms = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.analysis.Analyzer.sqlParity.analyzeTerms(t).distinct.map(tm => (id, tm))
      }.toDF("doc_id", "term")
    graft.search.Percolate.percolate(queryDefs, docTerms)
      .groupBy("query_id").agg(count(lit(1)).as("n_matches"))
      .orderBy("query_id")
  }
  val oPercolate: String =
    s"""$OracleCtes, ranked AS (
       |  SELECT term, row_number() OVER (ORDER BY df DESC, term) - 1 AS r
       |  FROM df ORDER BY df DESC, term LIMIT 200
       |), v AS (
       |  SELECT count(*) AS n FROM ranked
       |), qdef AS (
       |  SELECT q.i AS query_id, m1.term AS must1, m2.term AS must2, n1.term AS not1
       |  FROM range(100) q(i) CROSS JOIN v
       |  JOIN ranked m1 ON m1.r = q.i % v.n
       |  JOIN ranked m2 ON m2.r = (q.i * 7 + 3) % v.n
       |  JOIN ranked n1 ON n1.r = (q.i * 11 + 5) % v.n
       |), dterm AS (
       |  SELECT DISTINCT doc_id, term FROM tf
       |)
       |SELECT qdef.query_id, CAST(count(*) AS BIGINT) AS n_matches
       |FROM qdef
       |JOIN dterm a ON a.term = qdef.must1
       |JOIN dterm b ON b.term = qdef.must2 AND b.doc_id = a.doc_id
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM dterm c WHERE c.term = qdef.not1 AND c.doc_id = a.doc_id)
       |GROUP BY qdef.query_id ORDER BY query_id""".stripMargin

  /** PHRASE percolation through the single-document MemoryIndex
    * (reference: Lucene.Net.Memory/MemoryIndex.cs — the "prospective
    * search" primitive): 40 stored phrase queries — the part the term
    * equi-join percolator (q_percolate) cannot express — derived
    * deterministically from tokens 3-4 of the lowest-doc_id documents,
    * evaluated per-partition against every document's in-memory index.
    * MAP-ONLY: the stored queries broadcast, each doc is analyzed once,
    * and the only shuffle is the final match count — the ideal 100 TB
    * shape (linear in document bytes at any cluster size). */
  def qPercolatePhrase(spark: SparkSession, sf: String): DataFrame = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qdefs = docs
      .withColumn("ts", expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
      .where(size(col("ts")) >= 4)
      .select(col("doc_id"), element_at(col("ts"), 3).as("w1"),
        element_at(col("ts"), 4).as("w2"))
      .orderBy("doc_id").limit(40)
      .collect() // stats-sized driver pull (the 40 stored queries)
    val stored: Seq[(Long, graft.search.Query)] = qdefs.toIndexedSeq.map { r =>
      (r.getLong(0),
        graft.search.PhraseQ(Seq(r.getString(1), r.getString(2))): graft.search.Query)
    }
    graft.search.Percolate
      .memoryPercolate(docs, stored, graft.analysis.Analyzer.sqlParity)
      .groupBy("query_id").agg(count(lit(1)).as("n_matches"))
      .orderBy("query_id")
  }
  val oPercolatePhrase: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
      |  FROM documents
      |), q AS (
      |  SELECT doc_id AS query_id, ts[3] AS w1, ts[4] AS w2
      |  FROM toks WHERE len(ts) >= 4 ORDER BY doc_id LIMIT 40
      |), joined AS (
      |  SELECT doc_id, ' ' || array_to_string(ts, ' ') || ' ' AS s FROM toks
      |)
      |SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_matches
      |FROM q JOIN joined ON contains(joined.s, ' ' || q.w1 || ' ' || q.w2 || ' ')
      |GROUP BY q.query_id ORDER BY query_id""".stripMargin

  /** The NON-broadcast percolation path through the SAME contract as
    * [[qPercolatePhrase]]: the stored queries live in a serialized
    * (query_id, qbytes) TABLE, candidates come from the required-term
    * equi-join prescreen, and only candidates get the MemoryIndex
    * refine — the million-saved-search scale shape, gated against the
    * identical oracle (the two paths are proven equivalent in
    * StreamingPercolateSpec with broadcast joins disabled; this entry
    * makes the driver gate exercise the join path END-TO-END). */
  def qPercolateJoin(spark: SparkSession, sf: String): DataFrame = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qdefs = docs
      .withColumn("ts", expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
      .where(size(col("ts")) >= 4)
      .select(col("doc_id"), element_at(col("ts"), 3).as("w1"),
        element_at(col("ts"), 4).as("w2"))
      .orderBy("doc_id").limit(40)
      .collect() // stats-sized driver pull (the 40 stored queries)
    val stored: Seq[(Long, graft.search.Query)] = qdefs.toIndexedSeq.map { r =>
      (r.getLong(0),
        graft.search.PhraseQ(Seq(r.getString(1), r.getString(2))): graft.search.Query)
    }
    val qtab = graft.search.Percolate.queryTable(spark, stored)
    graft.search.Percolate
      .memoryPercolateJoin(docs, qtab, graft.analysis.Analyzer.sqlParity)
      .groupBy("query_id").agg(count(lit(1)).as("n_matches"))
      .orderBy("query_id")
  }

  /** DuplicateFilter (reference: Lucene.Net.Sandbox/Queries/
    * DuplicateFilter.cs, default KM_USE_LAST_OCCURRENCE): of the docs
    * matching 'merge', keep only those that are the LAST docId carrying
    * their `source` key over the whole corpus. The keeper choice is one
    * map-side-combinable max-aggregation on the key + a semi-join — the
    * reference's per-segment bitset walk made global. */
  def qDuplicateFilter(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val keys = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source").as("key"))
    graft.search.Sandbox.duplicateFilter(keys, h).orderBy("doc_id")
  }
  val oDuplicateFilter: String =
    s"""$OracleCtes, keepers AS (
       |  SELECT max(doc_id) AS doc_id FROM documents GROUP BY source
       |)
       |SELECT tf.doc_id FROM tf JOIN keepers USING (doc_id)
       |WHERE tf.term = 'merge' ORDER BY doc_id""".stripMargin

  /** SlowFuzzyQuery expansion (reference: Lucene.Net.Sandbox/Queries/
    * SlowFuzzyQuery.cs): similarity-fraction fuzzy with no edit ceiling —
    * accept iff 1 - editsOnSuffix/min(|term|,|query|) > minSim (strict),
    * candidates prefix-pruned by the literal 1-char prefix, ranked
    * similarity desc / term asc, truncated at the default 50. */
  def qSlowFuzzy(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val dict = spark.read.parquet(graft.build.IndexPaths.termDict(dir))
    graft.search.Sandbox.slowFuzzyTerms(dict, "merge", 0.5f, prefixLength = 1)
      .select(col("term"), col("df"), round(col("similarity"), 6).as("similarity"))
  }
  val oSlowFuzzy: String =
    s"""$OracleCtes, expanded AS (
       |  SELECT term, df,
       |    1.0e0 - CAST(levenshtein(substring(term, 2), 'erge') AS DOUBLE)
       |      / CAST(1 + least(length(term) - 1, 4) AS DOUBLE) AS similarity
       |  FROM df WHERE starts_with(term, 'm')
       |)
       |SELECT term, df, round(similarity, 6) AS similarity FROM expanded
       |WHERE similarity > 0.5e0
       |ORDER BY similarity DESC, term LIMIT 50""".stripMargin

  /** SortedSetSortField (reference: Lucene.Net.Sandbox/Queries/
    * SortedSetSortField.cs): sort the 'merge' hits by the MIDDLE_MIN
    * selector over each doc's sorted set of distinct tokens — the
    * multi-valued sort key reduced to one representative per doc by pure
    * column expressions (no UDF, no extra shuffle beyond the sort). */
  def qSortedSetSort(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("ts", expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
      .select(col("doc_id"),
        graft.search.Sandbox.sortedSetSelect(col("ts"), "middleMin").as("skey"))
    h.join(docs, Seq("doc_id"))
      .orderBy(col("skey"), col("doc_id")).limit(20)
      .select("doc_id", "skey")
  }
  val oSortedSetSort: String =
    s"""$OracleCtes, sel AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+'))) AS s
       |  FROM documents
       |)
       |SELECT tf.doc_id, sel.s[(len(sel.s) + 1) // 2] AS skey
       |FROM tf JOIN sel USING (doc_id)
       |WHERE tf.term = 'merge' ORDER BY skey, doc_id LIMIT 20""".stripMargin

  /** Ord / ReverseOrd field sources (reference:
    * Queries/Function/ValueSources/OrdFieldSource.cs,
    * ReverseOrdFieldSource.cs): the ordinal of each hit's `lang` among
    * the index's sorted distinct values — built DenseIds-shaped (range
    * partitions + offset rebase, the docId/termId construction; NO
    * single-partition window), reverse ord = numOrds + 1 − ord with
    * numOrds a dictionary-sized count. */
  def qOrdField(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    val ords = graft.search.ValueSources.ordinals(reader, "lang")
    val nOrds = ords.count()
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val langs = reader.docstats.select(col("docId").as("doc_id"), col("lang"))
    h.join(langs, Seq("doc_id")).join(broadcast(ords), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("ord"),
        (lit(nOrds) + 1L - col("ord")).as("rord"))
      .orderBy(col("ord"), col("doc_id")).limit(50)
  }
  val oOrdField: String =
    s"""$OracleCtes, od AS (
       |  SELECT lang, CAST(dense_rank() OVER (ORDER BY lang) AS BIGINT) AS ord
       |  FROM (SELECT DISTINCT lang FROM documents)
       |), nn AS (SELECT count(*) AS c FROM od)
       |SELECT tf.doc_id, d.lang, od.ord, (nn.c + 1 - od.ord) AS rord
       |FROM tf JOIN documents d USING (doc_id) JOIN od ON od.lang = d.lang
       |CROSS JOIN nn
       |WHERE tf.term = 'merge' ORDER BY od.ord, tf.doc_id LIMIT 50""".stripMargin

  /** Sampled facets with amortized correction (reference:
    * Facet/RandomSamplingFacetsCollector.cs): 'merge' hits exceed the
    * sample size at every SF, so the deterministic residue sampler keeps
    * ~1/binSize of the hits, counts `source` labels over the sample, and
    * extrapolates capped at each label's true df (AmortizeFacetCounts). */
  def qFacetSampled(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val labels = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source").as("label"))
    graft.search.Facets.sampledCounts(h, labels, sampleSize = 50)
      .orderBy(col("label"))
  }
  val oFacetSampled: String =
    s"""$OracleCtes, hit AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'
       |), bin AS (
       |  SELECT (SELECT count(*) FROM hit) // 50 AS b
       |), gdf AS (
       |  SELECT source AS label, count(*) AS g FROM documents GROUP BY source
       |), cnt AS (
       |  SELECT d.source AS label, count(*) AS c
       |  FROM hit JOIN documents d USING (doc_id) CROSS JOIN bin
       |  WHERE doc_id % bin.b = 0 GROUP BY d.source
       |)
       |SELECT label, least(c * (SELECT b FROM bin), g) AS hits_est
       |FROM cnt JOIN gdf USING (label) ORDER BY label""".stripMargin

  /** Int-association facet sums with taxonomy rollup (reference:
    * Facet/Taxonomy/TaxonomyFacetSumIntAssociations.cs): per hit, the
    * association value is the doc's token count and the category its
    * source/lang path — sums accumulate at every path depth. */
  def qFacetAssoc(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val dl = spark.read.parquet(IndexPaths.docstats(dir)).select(
      col("docId").as("doc_id"), col("tokenCount").cast("long").as("dl"))
    val assoc = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), concat_ws("/", col("source"), col("lang")).as("fpath"))
      .join(dl, "doc_id")
    graft.search.Facets.associationSums(h.join(assoc, "doc_id"), "fpath", col("dl"))
      .orderBy(col("path"))
  }
  val oFacetAssoc: String =
    s"""$OracleCtes, hit AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'
       |), pth AS (
       |  SELECT d.source AS p1, d.source || '/' || d.lang AS p2, dl.dl
       |  FROM documents d JOIN hit USING (doc_id) JOIN dl USING (doc_id)
       |)
       |SELECT path, CAST(sum(v) AS BIGINT) AS sum_value FROM (
       |  SELECT p1 AS path, dl AS v FROM pth UNION ALL SELECT p2, dl FROM pth
       |) GROUP BY path ORDER BY path""".stripMargin

  /** ValueSource association sums (reference: Facet/Taxonomy/
    * TaxonomyFacetSumValueSource.cs): the per-doc value is a COMPILED
    * expression (the engine's JS-subset ValueSource), summed per lang
    * over the hits — relevance-weighted facets in one groupBy. */
  def qFacetValueSource(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val v = graft.expressions.Javascript.compile(
      "ln(n + 1)", Map("n" -> col("n_chars").cast("double")))
    val sums = graft.search.Facets.associationSums(
      h.join(docs, "doc_id"), "lang", v)
    sums.select(col("path").as("lang"), round(col("sum_value"), 6).as("sum_v"))
      .orderBy(col("lang"))
  }
  val oFacetValueSource: String =
    s"""$OracleCtes, hit AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'
       |)
       |SELECT d.lang, round(sum(ln(d.n_chars + 1.0e0)), 6) AS sum_v
       |FROM documents d JOIN hit USING (doc_id)
       |GROUP BY d.lang ORDER BY lang""".stripMargin

  /** Overlapping range facets (reference: Facet/Range/
    * LongRangeFacetCounts.cs): four ranges over n_chars that overlap and
    * mix inclusive/exclusive bounds — a doc counts toward EVERY range
    * containing it, one conditional-count pass, no bucket groupBy. */
  def qFacetRangeOverlap(spark: SparkSession, sf: String): DataFrame = {
    import graft.search.Facets.LongFacetRange
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    graft.search.Facets.rangeCounts(h.join(docs, "doc_id"), col("n_chars"), Seq(
      LongFacetRange("r1_short", 0, minInclusive = true, 150, maxInclusive = false),
      LongFacetRange("r2_mid", 100, minInclusive = true, 300, maxInclusive = true),
      LongFacetRange("r3_long", 250, minInclusive = false, 600, maxInclusive = true),
      LongFacetRange("r4_all", 0, minInclusive = true, 1000, maxInclusive = true)))
      .orderBy(col("label"))
  }
  val oFacetRangeOverlap: String =
    s"""$OracleCtes, hit AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'
       |), v AS (
       |  SELECT d.n_chars AS n FROM documents d JOIN hit USING (doc_id)
       |)
       |SELECT label, hits FROM (
       |  SELECT 'r1_short' AS label, count(*) FILTER (n >= 0 AND n <= 149) AS hits FROM v
       |  UNION ALL SELECT 'r2_mid', count(*) FILTER (n >= 100 AND n <= 300) FROM v
       |  UNION ALL SELECT 'r3_long', count(*) FILTER (n >= 251 AND n <= 600) FROM v
       |  UNION ALL SELECT 'r4_all', count(*) FILTER (n >= 0 AND n <= 1000) FROM v
       |) ORDER BY label""".stripMargin

  /** Leading wildcard `*ble` through the reversed-dictionary SEEK
    * (reference idea: Analysis/Reverse/ReverseStringFilter.cs — index
    * reversed terms so a leading wildcard becomes a prefix automaton;
    * here only the DICTIONARY is mirrored, postings shared): the rewrite
    * expands on the rterm prefix range and the doc set must equal the
    * oracle's suffix LIKE — ReversedDictSpec separately proves seek ==
    * scan bit-for-bit. */
  def qWildcardLeading(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = DocIndex.ensureReversed(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.scored(graft.search.WildcardQ("*ble")).map(_.docId).distinct()
      .toDF("doc_id").orderBy(col("doc_id"))
  }
  val oWildcardLeading: String =
    s"""$OracleCtes
       |SELECT DISTINCT doc_id FROM tf WHERE term LIKE '%ble'
       |ORDER BY doc_id""".stripMargin

  /** ShingleFilter end-to-end (reference: Analysis/Shingle/
    * ShingleFilter.cs): word bigrams over every document through the
    * analyzer + shingle chain, ranked by document frequency — the
    * phrase-index / CommonGrams building block. The chain runs inside
    * the distributed map; the groupBy is shingle-cardinality-sized. */
  def qShingleDf(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val bigrams = docs.flatMap { case (id, text) =>
      graft.analysis.TokenFilters.shingle(
        graft.analysis.Analyzer.sqlParity.analyze(text).tokens,
        outputUnigrams = false)
        .map(t => (id, t.term)).distinct
    }.toDF("doc_id", "bigram")
    bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("bigram")).limit(10)
  }
  val oShingleDf: String =
    """WITH arr AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t
      |  FROM documents
      |), big AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM arr
      |)
      |SELECT bigram, count(*) AS df FROM big
      |GROUP BY bigram ORDER BY df DESC, bigram LIMIT 10""".stripMargin

  /** EdgeNGram over the dictionary (reference: Analysis/NGram/
    * EdgeNGramTokenFilter.cs — the completion-index building block):
    * 2..4-codepoint leading grams of every dictionary term, weighted by
    * the term's df, top grams by summed weight. One explode + one
    * map-side-combinable groupBy (gram cardinality, not corpus rows). */
  def qEdgeNgram(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val dict = spark.read.parquet(graft.build.IndexPaths.termDict(dir))
      .select(col("term"), col("df")).as[(String, Long)]
    dict.flatMap { case (term, df) =>
      val toks = Array(graft.analysis.Token(term, 0, 0, term.length))
      graft.analysis.TokenFilters.edgeNGrams(toks, 2, 4).map(t => (t.term, df))
    }.toDF("gram", "df")
      .groupBy(col("gram")).agg(sum(col("df")).as("weight"))
      .orderBy(col("weight").desc, col("gram")).limit(15)
  }
  val oEdgeNgram: String =
    s"""$OracleCtes, grams AS (
       |  SELECT unnest(list_transform(
       |    generate_series(2, least(4, length(term))), g -> substring(term, 1, g))) AS gram,
       |    df
       |  FROM df
       |)
       |SELECT gram, CAST(sum(df) AS BIGINT) AS weight FROM grams
       |GROUP BY gram ORDER BY weight DESC, gram LIMIT 15""".stripMargin

  /** WordBreakSpellChecker breaks (reference: Suggest/Spell/
    * WordBreakSpellChecker.cs): split the run-together "mergetable" at
    * every codepoint boundary; a split survives iff BOTH sides are
    * dictionary terms — candidates are a driver literal table, df probes
    * one broadcast equi-join. */
  def qWordBreaks(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val dict = spark.read.parquet(graft.build.IndexPaths.termDict(dir))
    graft.search.Suggest.suggestWordBreaks(dict, "mergetable", maxSuggestions = 5)
  }
  val oWordBreaks: String =
    s"""$OracleCtes, pos AS (
       |  SELECT unnest(generate_series(1, 9)) AS i
       |), parts AS (
       |  SELECT substring('mergetable', 1, i) AS l,
       |         substring('mergetable', i + 1) AS r FROM pos
       |)
       |SELECT p.l || ' ' || p.r AS suggestion, 1 AS num_breaks,
       |  greatest(dl.df, dr.df) AS max_freq
       |FROM parts p JOIN df dl ON dl.term = p.l JOIN df dr ON dr.term = p.r
       |ORDER BY max_freq DESC, suggestion LIMIT 5""".stripMargin

  /** WordBreakSpellChecker combinations (reference: ibid,
    * SuggestWordCombinations): adjacent typed fragments 'mer'+'ge'
    * combine into the dictionary word 'merge'; 'ge'+'table' must NOT
    * suggest (not a term). */
  def qWordCombine(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val dict = spark.read.parquet(graft.build.IndexPaths.termDict(dir))
    graft.search.Suggest.suggestWordCombinations(dict, Seq("mer", "ge", "table"))
  }
  val oWordCombine: String =
    s"""$OracleCtes, cand(start_idx, end_idx, term) AS (
       |  VALUES (0, 1, 'merge'), (1, 2, 'getable')
       |)
       |SELECT c.start_idx, c.end_idx, c.term AS combined, df.df AS freq
       |FROM cand c JOIN df USING (term)
       |ORDER BY (end_idx - start_idx), freq DESC, start_idx LIMIT 5""".stripMargin

  /** PK-filter index split (reference: Misc/Index/PKIndexSplitter.cs —
    * "All documents that match the filter are sent to dir1, remaining
    * ones to dir2"): split the documents index on lang == 'en', then
    * search 'merge' in BOTH standalone shards. Shard docIds are DENSE
    * renumbered (the reference compacts through AddIndexes), so hits map
    * back to corpus doc_ids through the per-doc identity (path carries
    * the original id); the (doc_id, shard) assignment must match the
    * oracle's predicate exactly — no doc lost, none duplicated. */
  def qSplitPk(spark: SparkSession, sf: String): DataFrame = {
    val (en, rest) = DocIndex.ensureSplitPk(spark, sf)
    def shardHits(sd: String, tag: Int): DataFrame = {
      val ids = spark.read.parquet(IndexPaths.docstats(sd))
        .select(col("docId").as("doc_id"), col("path").cast("long").as("orig_id"))
      hits(spark, sd, Seq("merge")).select(col("doc_id"))
        .join(ids, "doc_id")
        .select(col("orig_id").as("doc_id"), lit(tag).as("shard"))
    }
    shardHits(en, 0).union(shardHits(rest, 1)).orderBy(col("doc_id"))
  }
  val oSplitPk: String =
    s"""$OracleCtes
       |SELECT t.doc_id, CASE WHEN d.lang = 'en' THEN 0 ELSE 1 END AS shard
       |FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge') t
       |JOIN documents d USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Double range facets over a computed ValueSource (reference:
    * Facet/Range/DoubleRangeFacetCounts.cs — its canonical use pairs
    * ranges with a ValueSource): overlapping ranges over ln(n_chars+1)
    * for the 'merge' hits, one conditional-count pass. Bounds are chosen
    * off the value lattice so both engines agree without nextUp
    * arithmetic (the exclusive-bound normalization is FacetsSpec's job). */
  def qFacetRangeDouble(spark: SparkSession, sf: String): DataFrame = {
    import graft.search.Facets.DoubleFacetRange
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), log(col("n_chars").cast("double") + 1.0).as("v"))
    graft.search.Facets.rangeCountsDouble(h.join(docs, "doc_id"), col("v"), Seq(
      DoubleFacetRange("d1_low", 0.0, minInclusive = true, 5.1, maxInclusive = true),
      DoubleFacetRange("d2_mid", 4.9, minInclusive = true, 5.7, maxInclusive = true),
      DoubleFacetRange("d3_high", 5.3, minInclusive = true, 99.0, maxInclusive = true)))
      .orderBy(col("label"))
  }
  val oFacetRangeDouble: String =
    s"""$OracleCtes, hit AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'
       |), v AS (
       |  SELECT ln(d.n_chars + 1.0e0) AS v FROM documents d JOIN hit USING (doc_id)
       |)
       |SELECT label, hits FROM (
       |  SELECT 'd1_low' AS label, count(*) FILTER (v >= 0.0e0 AND v <= 5.1e0) AS hits FROM v
       |  UNION ALL SELECT 'd2_mid', count(*) FILTER (v >= 4.9e0 AND v <= 5.7e0) FROM v
       |  UNION ALL SELECT 'd3_high', count(*) FILTER (v >= 5.3e0 AND v <= 9.9e1) FROM v
       |) ORDER BY label""".stripMargin

  /** ChainedFilter with XOR (reference: Queries/ChainedFilter.cs:221 —
    * `result.Xor(dis)`): ((merge OR table) ANDNOT vector) XOR index,
    * folded left over doc_id sets exactly like the reference's bitset
    * chain. */
  def qChainedFilter(spark: SparkSession, sf: String): DataFrame = {
    import graft.search.Filters
    val dir = ensure(spark, sf)
    def f(t: String) = hits(spark, dir, Seq(t)).select(col("doc_id"))
    Filters.chained(f("merge"), Seq(
      (Filters.Or, f("table")),
      (Filters.AndNot, f("vector")),
      (Filters.Xor, f("index")))).orderBy(col("doc_id"))
  }
  val oChainedFilter: String =
    s"""$OracleCtes, t AS (SELECT DISTINCT doc_id, term FROM tf),
       |s1 AS (
       |  (SELECT doc_id FROM t WHERE term IN ('merge', 'table'))
       |  EXCEPT (SELECT doc_id FROM t WHERE term = 'vector')
       |), s2 AS (SELECT doc_id FROM t WHERE term = 'index')
       |SELECT doc_id FROM (
       |  (SELECT doc_id FROM s1 EXCEPT SELECT doc_id FROM s2)
       |  UNION (SELECT doc_id FROM s2 EXCEPT SELECT doc_id FROM s1)
       |) ORDER BY doc_id""".stripMargin

  /** Fielded query (`lang:en AND content:merge`) over the multi-field
    * index — the FieldInfos/StringField analog: 'lang:en' is an exact
    * keyword term living in the same postings table as analyzed content
    * terms (Term = (field, text) encoded in the key), so the conjunction
    * is an ordinary docId join of two pruned postings scans. */
  def qFieldTerm(spark: SparkSession, sf: String): DataFrame = {
    val dir = DocIndex.ensureFielded(spark, sf)
    val h = hits(spark, dir, Seq("merge", "lang:en"))
    val a = h.where(col("term") === "merge").select(col("doc_id"), col("tf"))
    val b = h.where(col("term") === "lang:en").select(col("doc_id"))
    a.join(b, Seq("doc_id")).orderBy(col("doc_id"))
  }
  val oFieldTerm: String =
    s"""$OracleCtes
       |SELECT tf.doc_id, tf.tf FROM tf
       |JOIN documents d ON tf.doc_id = d.doc_id
       |WHERE tf.term = 'merge' AND d.lang = 'en'
       |ORDER BY tf.doc_id""".stripMargin

  /** SpanOrQuery: union of term spans, per-doc span count (= total
    * occurrences of either term). */
  def qSpanOr(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.spanCount(graft.search.SpanOrQ(Seq(
      graft.search.SpanTermQ("table"), graft.search.SpanTermQ("hash"))))
      .toDF("doc_id", "spans")
      .select(col("doc_id"), col("spans").cast("long").as("spans"))
      .orderBy(col("doc_id"))
  }
  val oSpanOr: String =
    s"""$OracleCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS spans FROM tok
       |WHERE term IN ('table', 'hash') GROUP BY 1 ORDER BY 1""".stripMargin

  /** SpanFirstQuery: spans of 'merge' ending within the first 10
    * positions. */
  def qSpanFirst(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    searcher.spanCount(graft.search.SpanFirstQ(graft.search.SpanTermQ("merge"), 10))
      .toDF("doc_id", "spans")
      .select(col("doc_id"), col("spans").cast("long").as("spans"))
      .orderBy(col("doc_id"))
  }
  val oSpanFirst: String =
    s"""$OracleCtes, pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS spans FROM pos
       |WHERE t = 'merge' AND p <= 10 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Wide PrefixQuery: at sf0.01 the '0' prefix matches ~1500 customer-
    * number terms — past the 1024-clause budget — so the engine takes the
    * CONSTANT_SCORE_AUTO fallback (postings ⋈ dictionary-range semi-join,
    * constant score, no driver-side term enumeration; reference:
    * MultiTermQuery.cs:69). The doc SET is branch-independent, so the
    * oracle (docs containing any '0'-prefixed token) verifies both the
    * narrow scoring rewrite (sf0.001) and the wide fallback (sf0.01). */
  def qPrefixWide(spark: SparkSession, sf: String): DataFrame = {
    val dir = DocIndex.ensureWide(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir),
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val hits = searcher.scored(graft.search.PrefixQ("0"))
      .toDF("docId", "score").select("docId")
    val paths = graft.build.DocsTable.read(spark, dir).select(col("docId"), col("path"))
    hits.join(paths, Seq("docId"))
      .select(col("path").cast("long").as("c_custkey"))
      .orderBy(col("c_custkey"))
  }
  val oPrefixWide: String =
    """SELECT c_custkey FROM customer
      |WHERE len(list_filter(regexp_extract_all(lower(c_name), '[a-z0-9_]+'),
      |                      t -> t LIKE '0%')) > 0
      |ORDER BY c_custkey""".stripMargin

  /** PrefixQuery expansion: dictionary scan (term, df). */
  def qPrefixDf(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term").startsWith("sc"))
      .select(col("term"), col("df")).orderBy(col("term"))
  }
  val oPrefixDf: String =
    s"""$OracleCtes
       |SELECT term, count(*) AS df FROM tf WHERE term LIKE 'sc%'
       |GROUP BY term ORDER BY term""".stripMargin

  /** FuzzyQuery expansion: edit distance <= 1 (Levenshtein automaton
    * analog — both engines' levenshtein is plain edit distance). */
  def qFuzzyDf(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.termDict(dir))
      .where(levenshtein(col("term"), lit("merge")) <= 1)
      .select(col("term"), col("df")).orderBy(col("term"))
  }
  val oFuzzyDf: String =
    s"""$OracleCtes
       |SELECT term, count(*) AS df FROM tf WHERE levenshtein(term, 'merge') <= 1
       |GROUP BY term ORDER BY term""".stripMargin

  /** TermRangeQuery: dictionary range scan. */
  def qRangeDf(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term") >= "s" && col("term") < "t")
      .select(col("term"), col("df")).orderBy(col("term"))
  }
  val oRangeDf: String =
    s"""$OracleCtes
       |SELECT term, count(*) AS df FROM tf WHERE term >= 's' AND term < 't'
       |GROUP BY term ORDER BY term""".stripMargin

  /** WildcardQuery: dictionary regex scan. */
  def qWildcardDf(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term").rlike("^s.an$"))
      .select(col("term"), col("df")).orderBy(col("term"))
  }
  val oWildcardDf: String =
    s"""$OracleCtes
       |SELECT term, count(*) AS df FROM tf WHERE regexp_matches(term, '^s.an$$')
       |GROUP BY term ORDER BY term""".stripMargin

  /** Term vector of doc 7 (per-doc mini inverted index, recovered via
    * block docId-range pruning). */
  def qTermVector(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    new graft.search.IndexReader(spark, dir).termVector(7L)
      .select(col("term"), col("tf").cast("long").as("tf"))
      .orderBy(col("term"))
  }
  val oTermVector: String =
    s"""$OracleCtes
       |SELECT term, tf FROM tf WHERE doc_id = 7 ORDER BY term""".stripMargin

  /** Suggest/autocomplete: top-8 completions of 's' by df. */
  def qSuggest(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    graft.search.Suggest.complete(new graft.search.IndexReader(spark, dir), "s", 8)
      .orderBy(col("df").desc, col("term"))
  }
  val oSuggest: String =
    s"""$OracleCtes
       |SELECT term, count(*) AS df FROM tf WHERE term LIKE 's%'
       |GROUP BY term ORDER BY df DESC, term LIMIT 8""".stripMargin

  /** Fuzzy completion (FuzzySuggester analog, reference:
    * Suggest/Analyzing/FuzzySuggester.cs): the typed prefix carries a
    * typo ('nerge' for 'merge…'); completions whose prefix is within 1
    * edit rank by (prefix distance, df desc, term). The candidate
    * distance is the least over prefix lengths |input|±1 — identical
    * expression shape in DuckDB. */
  def qSuggestFuzzy(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    graft.search.Suggest.completeFuzzy(
      new graft.search.IndexReader(spark, dir), "nerge", 1, 8)
      .select(col("term"), col("df"), col("dist").cast("int").as("dist"))
      .orderBy(col("dist"), col("df").desc, col("term"))
  }
  val oSuggestFuzzy: String =
    s"""$OracleCtes, cand AS (
       |  SELECT term, df, CAST(least(
       |    levenshtein(substr(term, 1, 4), 'nerge'),
       |    levenshtein(substr(term, 1, 5), 'nerge'),
       |    levenshtein(substr(term, 1, 6), 'nerge')) AS INT) AS dist
       |  FROM df
       |)
       |SELECT term, df, dist FROM cand WHERE dist <= 1
       |ORDER BY dist, df DESC, term LIMIT 8""".stripMargin

  /** SpellChecker: 'did you mean' for a typo, distance then popularity. */
  def qSpell(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    graft.search.Suggest.didYouMean(new graft.search.IndexReader(spark, dir), "mergee", 2, 5)
      .orderBy(col("dist"), col("df").desc, col("term"))
  }
  val oSpell: String =
    s"""$OracleCtes, cand AS (
       |  SELECT term, count(*) AS df, levenshtein(term, 'mergee') AS dist
       |  FROM tf WHERE abs(length(term) - 6) <= 2 GROUP BY term
       |)
       |SELECT term, df, CAST(dist AS INT) AS dist FROM cand
       |WHERE dist <= 2 AND dist > 0
       |ORDER BY dist, df DESC, term LIMIT 5""".stripMargin

  /** Pluggable-StringDistance spellcheck (SpellChecker.StringDistance +
    * SuggestWordQueue ordering): the same banded candidates re-ranked by
    * the LevensteinDistance similarity 1 − d/max(len) — one float
    * division over integer inputs, so both engines reproduce it exactly.
    * (JaroWinkler/NGram/LuceneLevenshtein plug the same slot;
    * StringDistancesSpec pins those against hand-traced vectors.) */
  def qSpellRanked(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    graft.search.Suggest.didYouMeanRanked(
      new graft.search.IndexReader(spark, dir), "mergee", 2, 5)
  }
  val oSpellRanked: String =
    s"""$OracleCtes, cand AS (
       |  SELECT term, count(*) AS df, levenshtein(term, 'mergee') AS dist
       |  FROM tf WHERE abs(length(term) - 6) <= 2 GROUP BY term
       |)
       |SELECT term, df,
       |  round(1.0e0 - CAST(dist AS DOUBLE) / greatest(length(term), 6), 6) AS sim
       |FROM cand WHERE dist BETWEEN 1 AND 2
       |ORDER BY sim DESC, df DESC, term LIMIT 5""".stripMargin

  /** Infix completion (reference:
    * Suggest/Analyzing/AnalyzingInfixSuggester.cs): mid-word input 'erge'
    * completes to 'merge…', df-ranked. The engine side runs the SCALE
    * path — the suffix sidecar turning the infix probe into a
    * range-prunable prefix probe (SuggestSpec proves it equal to the
    * contains-scan); the oracle is the direct LIKE '%erge%' scan. */
  def qSuggestInfix(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    graft.search.Suggest.completeInfixIndexed(
      graft.search.Suggest.suffixTable(reader), "erge", 10)
      .orderBy(col("df").desc, col("term"))
  }
  val oSuggestInfix: String =
    s"""$OracleCtes
       |SELECT term, df FROM df WHERE term LIKE '%erge%'
       |ORDER BY df DESC, term LIMIT 10""".stripMargin

  /** BlendedInfixSuggester (reference: Suggest/Analyzing/
    * BlendedInfixSuggester.cs, POSITION_RECIPROCAL blender): infix
    * completions ranked by df × 1/position instead of raw df — an early
    * match of the fragment outranks an equally-popular late one. */
  def qSuggestBlended(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    graft.search.Suggest.completeBlended(
      new graft.search.IndexReader(spark, dir), "erge", 10)
      .orderBy(col("score").desc, col("term"))
  }
  val oSuggestBlended: String =
    s"""$OracleCtes
       |SELECT term, df, round(df * 1.0e0 / instr(term, 'erge'), 6) AS score
       |FROM df WHERE term LIKE '%erge%'
       |ORDER BY score DESC, term LIMIT 10""".stripMargin

  /** FreeTextSuggester (reference: Suggest/Analyzing/
    * FreeTextSuggester.cs): next-word completion from a bigram model
    * with stupid-backoff (ALPHA=0.4) to the unigram model; the oracle
    * rebuilds the identical model from the same token stream. */
  def qSuggestFreetext(spark: SparkSession, sf: String): DataFrame = {
    val tokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)").as("terms"))
    graft.search.Suggest.freeText(tokens, "hash", 10)
      .orderBy(col("score").desc, col("word"))
  }
  val oSuggestFreetext: String =
    s"""WITH pos AS (
       |  SELECT doc_id, CAST(generate_subscripts(ts, 1) AS BIGINT) AS p, unnest(ts) AS t
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts FROM documents)
       |), pairs AS (
       |  SELECT a.doc_id, a.t AS t1, b.t AS t2
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       |), big AS (
       |  SELECT t2 AS word, CAST(count(*) AS BIGINT) AS c12 FROM pairs
       |  WHERE t1 = 'hash' GROUP BY 1
       |), c1 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS c FROM pos WHERE t = 'hash'
       |), uni AS (
       |  SELECT t AS word, CAST(count(*) AS BIGINT) AS cw FROM pos GROUP BY 1
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM pos
       |)
       |SELECT word, round(CASE WHEN b.c12 IS NOT NULL
       |    THEN b.c12 * 1.0e0 / c1.c
       |    ELSE 0.4e0 * u.cw * 1.0e0 / tot.n END, 6) AS score
       |FROM uni u LEFT JOIN big b USING (word) CROSS JOIN c1 CROSS JOIN tot
       |ORDER BY score DESC, word LIMIT 10""".stripMargin

  /** Diacritic folding parity (reference: ICUFoldingFilter /
    * ASCIIFoldingFilter — the engine's [[graft.analysis.Folding]]): the
    * corpus is ASCII, so the query MAKES accented variants of dictionary
    * terms (the same `translate` on both sides) and folds them back —
    * the engine's NFKD+strip-marks fold against DuckDB's independent
    * strip_accents, term for term. */
  def qFoldTerm(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    import spark.implicits._
    val accMap = "aeiounc".zip("áéíóúñç").toMap
    spark.read.parquet(IndexPaths.termDict(dir))
      .select(col("term"), col("df")).as[(String, Long)]
      .map { case (t, df) =>
        val accented = t.map(c => accMap.getOrElse(c, c))
        (t, accented, graft.analysis.Folding.fold(accented), df)
      }
      .toDF("term", "accented", "folded", "df")
      .orderBy(col("df").desc, col("term")).limit(50)
  }
  val oFoldTerm: String =
    s"""$OracleCtes
       |SELECT term, translate(term, 'aeiounc', 'áéíóúñç') AS accented,
       |  strip_accents(translate(term, 'aeiounc', 'áéíóúñç')) AS folded, df
       |FROM df ORDER BY df DESC, term LIMIT 50""".stripMargin

  /** AllGroupsCollector (reference:
    * Lucene.Net.Grouping/Term/TermAllGroupsCollector.cs): the number of
    * distinct group values among a query's hits. */
  def qGroupDistinct(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select("doc_id")
    val langs = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"))
    graft.search.Grouping.allGroupsCount(
      h.join(broadcast(langs), Seq("doc_id")), "lang")
  }
  val oGroupDistinct: String =
    s"""$OracleCtes
       |SELECT count(DISTINCT d.lang) AS groups
       |FROM tf JOIN documents d USING (doc_id) WHERE tf.term = 'merge'""".stripMargin

  /** DistinctValuesCollector (reference:
    * Lucene.Net.Grouping/Term/TermDistinctValuesCollector.cs,
    * Function/FunctionDistinctValuesCollector.cs): per group among the
    * hits, the distinct values of a second field — rendered as a sorted
    * joined string so the hash compare is array-free. One combinable
    * aggregation ([[graft.search.Grouping.distinctValues]]). */
  def qGroupDistinctValues(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select("doc_id")
    val meta = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"))
    graft.search.Grouping.distinctValues(
        h.join(broadcast(meta), Seq("doc_id")), col("lang"), col("source"))
      .select(col("group").as("lang"),
        array_join(col("values"), ",").as("sources"),
        col("distinct_count"))
      .orderBy(col("lang"))
  }
  val oGroupDistinctValues: String =
    s"""$OracleCtes
       |SELECT d.lang AS lang,
       |       string_agg(DISTINCT d.source, ',' ORDER BY d.source) AS sources,
       |       CAST(count(DISTINCT d.source) AS BIGINT) AS distinct_count
       |FROM tf JOIN documents d USING (doc_id) WHERE tf.term = 'merge'
       |GROUP BY 1 ORDER BY lang""".stripMargin

  /** TermsFilter (reference: Lucene.Net.Queries/TermsFilter.cs) through
    * the Query ADT: constant-score any-of-terms set query — scores are
    * exactly the boost (1.0), ranking is docId. */
  def qTermsFilter(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val s = new graft.search.Searcher(new graft.search.IndexReader(spark, dir))
    val td: Array[graft.search.ScoreDoc] = s.search(
      graft.search.Filters.termsFilter(Seq("merge", "vector", "quantum")), 30)
    td.toSeq.map(d => (d.docId, d.score.toDouble)).toDF("doc_id", "score")
  }
  val oTermsFilter: String =
    s"""$OracleCtes
       |SELECT DISTINCT doc_id, 1.0e0 AS score FROM tf
       |WHERE term IN ('merge', 'vector', 'quantum')
       |ORDER BY doc_id LIMIT 30""".stripMargin

  /** AllGroupHeadsCollector (reference:
    * Lucene.Net.Grouping/AbstractAllGroupHeadsCollector.cs,
    * Term/TermAllGroupHeadsCollector.cs): for each group among the hits,
    * the ONE doc that wins the within-group sort — here (score desc,
    * docId asc) per lang, the reference's relevance-head default. One
    * combinable min(struct(-score, doc_id)) aggregation — no window. */
  def qGroupHeads(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val s = scoredHits(spark, sf, Seq("merge")).select(col("doc_id"), col("score"))
    val langs = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"))
    graft.search.Grouping.allGroupHeads(
      s.join(broadcast(langs), Seq("doc_id")), "lang", Seq(negate(col("score"))))
      .orderBy(col("lang"))
  }
  val oGroupHeads: String =
    s"""${oracleScored(Seq("merge"))}
       |SELECT lang, doc_id FROM (
       |  SELECT d.lang, s.doc_id,
       |    row_number() OVER (PARTITION BY d.lang
       |                       ORDER BY s.score DESC, s.doc_id) AS rn
       |  FROM scored s JOIN documents d USING (doc_id)
       |) WHERE rn = 1 ORDER BY lang""".stripMargin

  /** GroupFacetCollector (reference:
    * Lucene.Net.Grouping/AbstractGroupFacetCollector.cs): facet counts
    * WITHIN each group — hits of 'merge' grouped by lang, faceted by
    * source. */
  def qGroupFacet(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select("doc_id")
    val meta = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"))
    graft.search.Grouping.groupFacets(h.join(meta, Seq("doc_id")), "lang", "source")
      .orderBy(col("lang"), col("source"))
  }
  val oGroupFacet: String =
    s"""$OracleCtes
       |SELECT d.lang, d.source, count(*) AS hits
       |FROM tf JOIN documents d USING (doc_id) WHERE tf.term = 'merge'
       |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin

  /** Facet drill-down (FacetsCollector + DrillDownQuery analog): restrict
    * the term query to one lang, facet the OTHER dimension (doc-length
    * deciles) — the drill-down shape. */
  def qDrilldown(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val stats = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"),
        (col("tokenCount").cast("long") / 25).cast("long").as("dl_bucket"))
    h.join(broadcast(stats), Seq("doc_id"))
      .where(col("lang") === "en")
      .groupBy(col("dl_bucket")).agg(count("*").as("hits"))
      .orderBy(col("dl_bucket"))
  }
  val oDrilldown: String =
    s"""$OracleCtes
       |SELECT dl.dl // 25 AS dl_bucket, count(*) AS hits
       |FROM tf JOIN dl USING (doc_id) JOIN documents d USING (doc_id)
       |WHERE tf.term = 'merge' AND d.lang = 'en'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Drill-sideways facets (reference: Lucene.Net.Facet/DrillSideways.cs):
    * drilling on (lang='en', dl_bucket=1), each dimension's counts apply
    * every OTHER dimension's filter but ignore its own — the near-miss
    * counts a faceted UI shows next to the drill-down. */
  def qDrillSideways(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val stats = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"),
        (col("tokenCount").cast("long") / 25).cast("long").as("dl_bucket"))
    val base = h.join(broadcast(stats), Seq("doc_id"))
    val langSide = base.where(col("dl_bucket") === 1)
      .groupBy(col("lang").as("value")).agg(count("*").as("n"))
      .select(lit("lang").as("dim"), col("value"), col("n"))
    val bucketSide = base.where(col("lang") === "en")
      .groupBy(col("dl_bucket").cast("string").as("value")).agg(count("*").as("n"))
      .select(lit("dl_bucket").as("dim"), col("value"), col("n"))
    langSide.unionByName(bucketSide).orderBy(col("dim"), col("value"))
  }
  val oDrillSideways: String =
    s"""$OracleCtes
       |SELECT 'lang' AS dim, d.lang AS value, count(*) AS n
       |FROM tf JOIN dl USING (doc_id) JOIN documents d USING (doc_id)
       |WHERE tf.term = 'merge' AND dl.dl // 25 = 1
       |GROUP BY 2
       |UNION ALL
       |SELECT 'dl_bucket' AS dim, CAST(dl.dl // 25 AS VARCHAR) AS value, count(*) AS n
       |FROM tf JOIN dl USING (doc_id) JOIN documents d USING (doc_id)
       |WHERE tf.term = 'merge' AND d.lang = 'en'
       |GROUP BY 2
       |ORDER BY dim, value""".stripMargin

  /** Doc-length stats (norms source): the whole docstats table. */
  def qDocLengths(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("tokenCount").cast("long").as("dl"))
      .orderBy(col("doc_id"))
  }
  val oDocLengths: String =
    s"""$OracleCtes
       |SELECT doc_id, dl FROM dl ORDER BY doc_id""".stripMargin

  /** Collection stats (CollectionStatistics analog). */
  def qCollectionStats(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val cs = collectionStats(spark, dir)
    Seq((cs.maxDoc, cs.sumTotalTermFreq)).toDF("maxdoc", "sumttf")
  }
  val oCollectionStats: String =
    s"""$OracleCtes
       |SELECT maxdoc, sumttf FROM stats""".stripMargin

  /** Term dictionary: top-20 by df (facet/common-terms input). */
  def qDictTopDf(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.termDict(dir))
      .select(col("term"), col("df"), col("totalTf").as("ttf"))
      .orderBy(col("df").desc, col("term")).limit(20)
  }
  val oDictTopDf: String =
    s"""$OracleCtes
       |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tf
       |GROUP BY term ORDER BY df DESC, term LIMIT 20""".stripMargin

  /** HighFreqTerms, totalTermFreq mode (reference:
    * Lucene.Net.Misc/Misc/HighFreqTerms.cs:34-41,146-160 — the `-t` flag
    * sorts by ttf instead of df): top-20 terms by total term frequency.
    * Pure dictionary read — the stats are already aggregated at build. */
  def qHighFreqTtf(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.termDict(dir))
      .select(col("term"), col("totalTf").as("ttf"), col("df"))
      .orderBy(col("ttf").desc, col("term")).limit(20)
  }
  val oHighFreqTtf: String =
    s"""$OracleCtes
       |SELECT term, CAST(sum(tf) AS BIGINT) AS ttf, count(*) AS df FROM tf
       |GROUP BY term ORDER BY ttf DESC, term LIMIT 20""".stripMargin

  /** Dictionary decompounding (DictionaryCompoundWordTokenFilter,
    * reference: Analysis.Common/Compound/DictionaryCompoundWordTokenFilter
    * .cs:96-131): per-doc counts of SUBWORD emissions (originals
    * excluded) for a literal 6-word dictionary, running the real
    * TokenFilters.dictionaryCompound inside the distributed flatMap. The
    * oracle re-derives emission counts as substring-occurrence counts
    * ((len - len(replace))/len(w)) over len>=minWordSize tokens — exact
    * because the brute-force scan emits one subword per match START and
    * none of the dictionary words can self-overlap (no proper prefix =
    * suffix), so non-overlapping replace counting equals start counting. */
  def qDecompound(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dictWords = Seq("merge", "table", "index", "sort", "row", "vector")
    val dictSet = dictWords.toSet
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")).as("term"))
      .as[(Long, String)]
      .flatMap { case (d, t) =>
        val out = graft.analysis.TokenFilters.dictionaryCompound(
          Array(graft.analysis.Token(t, 0, 0, t.length)), dictSet)
        out.iterator.drop(1).map(s => (d, s.term)) // drop the original passthrough
      }.toDF("doc_id", "subword")
      .groupBy(col("doc_id"), col("subword")).agg(count("*").as("cnt"))
      .orderBy(col("doc_id"), col("subword"))
  }
  val oDecompound: String =
    s"""$OracleCtes, dict(w) AS (
       |  VALUES ('merge'),('table'),('index'),('sort'),('row'),('vector')
       |), occ AS (
       |  SELECT t.doc_id, d.w AS subword,
       |    (length(t.term) - length(replace(t.term, d.w, ''))) // length(d.w) AS n
       |  FROM tok t CROSS JOIN dict d
       |  WHERE length(t.term) >= 5
       |)
       |SELECT doc_id, subword, CAST(sum(n) AS BIGINT) AS cnt FROM occ
       |WHERE n > 0 GROUP BY doc_id, subword ORDER BY doc_id, subword""".stripMargin

  /** Hunspell affix stemming over a literal .aff/.dic pair (reference:
    * Analysis/Hunspell/Stemmer.cs + Dictionary.cs): per-doc counts of
    * every stem emission — direct lookups plus each matching SFX rule —
    * running the real parser + stemmer inside the distributed flatMap.
    * The oracle re-derives each of the three suffix rules and the direct
    * lookup as CASE expressions (affix endsWith + condition class on the
    * candidate base + base∈words-with-flag), sound because no two rules
    * can produce the same base for one token (different strip lengths /
    * mutually exclusive final characters). */
  def qHunspell(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dict = graft.analysis.Hunspell.parse(
      """SFX D Y 2
        |SFX D 0 d e
        |SFX D 0 ed [^ey]
        |SFX S Y 1
        |SFX S 0 s [^sxy]
        |""".stripMargin,
      """4
        |merge/D
        |sort/DS
        |index
        |row/S
        |""".stripMargin)
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")).as("term"))
      .as[(Long, String)]
      .flatMap { case (d, t) =>
        graft.analysis.Hunspell.stem(dict, t).map(s => (d, s)) }
      .toDF("doc_id", "stem")
      .groupBy(col("doc_id"), col("stem")).agg(count("*").as("cnt"))
      .orderBy(col("doc_id"), col("stem"))
  }
  val oHunspell: String =
    s"""$OracleCtes, em AS (
       |  SELECT doc_id,
       |    CASE WHEN term IN ('merge','sort','index','row') THEN term END AS s0,
       |    CASE WHEN term LIKE '%d' AND length(term) > 1
       |           AND substr(term, 1, length(term)-1) LIKE '%e'
       |           AND substr(term, 1, length(term)-1) IN ('merge','sort')
       |         THEN substr(term, 1, length(term)-1) END AS s1,
       |    CASE WHEN term LIKE '%ed' AND length(term) > 2
       |           AND substr(term, length(term)-2, 1) NOT IN ('e','y')
       |           AND substr(term, 1, length(term)-2) IN ('merge','sort')
       |         THEN substr(term, 1, length(term)-2) END AS s2,
       |    CASE WHEN term LIKE '%s' AND length(term) > 1
       |           AND substr(term, length(term)-1, 1) NOT IN ('s','x','y')
       |           AND substr(term, 1, length(term)-1) IN ('sort','row')
       |         THEN substr(term, 1, length(term)-1) END AS s3
       |  FROM tok
       |), un AS (
       |  SELECT doc_id, s0 AS stem FROM em WHERE s0 IS NOT NULL
       |  UNION ALL SELECT doc_id, s1 FROM em WHERE s1 IS NOT NULL
       |  UNION ALL SELECT doc_id, s2 FROM em WHERE s2 IS NOT NULL
       |  UNION ALL SELECT doc_id, s3 FROM em WHERE s3 IS NOT NULL
       |)
       |SELECT doc_id, stem, count(*) AS cnt FROM un
       |GROUP BY doc_id, stem ORDER BY doc_id, stem""".stripMargin

  /** KStem gate: 24 inflected forms, each assigned to docs by pure
    * doc_id arithmetic, stemmed through the distributed KStemmer against
    * a fixed 26-word lexicon. The form→stem truth table in the oracle is
    * HAND-TRACED through the reference rule cascade (Analysis/En/
    * KStemmer.cs — the same traces as KStemSpec), so the gate verifies
    * the distributed pipeline reproduces the reference-derived stems —
    * the Kuromoji/Hyphenation gate pattern. */
  private[graft] val kstemGateLexicon = Set(
    "merge", "sort", "index", "table", "row", "query", "happy", "plan",
    "commit", "big", "amplify", "immune", "capacity", "organize", "govern",
    "define", "oppose", "resign", "optimum", "military", "heuristic",
    "create", "cross", "aid", "backfill", "microcode")

  private[graft] val kstemGateForms: Array[(String, String)] = Array(
    "merges" -> "merge", "tables" -> "table", "queries" -> "query",
    "crosses" -> "cross", "indexes" -> "index", "sorted" -> "sort",
    "planned" -> "plan", "sorting" -> "sort", "committing" -> "commit",
    "bigger" -> "big", "happier" -> "happy", "happiness" -> "happy",
    "immunity" -> "immune", "organization" -> "organize",
    "amplification" -> "amplify", "definition" -> "define",
    "oppositions" -> "oppose", "resignation" -> "resign",
    "optimal" -> "optimum", "militarily" -> "military",
    "heuristically" -> "heuristic", "mergeability" -> "merge",
    "italians" -> "italy", "governs" -> "govern")

  def qKStem(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val forms = kstemGateForms.map(_._1)
    val lex = kstemGateLexicon
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", explode(lit((0 until 5).toArray)).as("i"))
      .withColumn("form",
        element_at(lit(forms), (($"doc_id" + $"i" * 5) % 24).cast("int") + 1))
      .select($"doc_id", $"form").as[(Long, String)]
      .mapPartitions { it =>
        val st = new graft.analysis.KStemmer(lex)
        it.map { case (d, f) => (d, st.stem(f)) }
      }
      .toDF("doc_id", "stem")
      .groupBy(col("stem")).agg(count("*").as("cnt"))
      .orderBy(col("stem"))
  }
  val oKStem: String = {
    val values = kstemGateForms.zipWithIndex
      .map { case ((f, s), i) => s"($i,'$f','$s')" }.mkString(", ")
    s"""WITH forms(idx, form, stem) AS (VALUES $values),
       |seq(i) AS (VALUES (0),(1),(2),(3),(4)),
       |sel AS (
       |  SELECT d.doc_id, f.stem FROM documents d CROSS JOIN seq s
       |  JOIN forms f ON f.idx = (d.doc_id + s.i * 5) % 24
       |)
       |SELECT stem, count(*) AS cnt FROM sel GROUP BY stem ORDER BY stem""".stripMargin
  }

  /** Beider–Morse gate: 8 surnames assigned by doc_id arithmetic, each
    * encoded by the distributed BMPM engine over a literal rule set in
    * the reference file grammar; every name→tokens row in the oracle's
    * truth table is HAND-TRACED through the reference engine semantics
    * (PhoneticEngine.cs — same traces as BeiderMorseSpec): language
    * guessing picks gen_rules_ger for schmidt (sch evidence) and
    * gen_rules_eng for smith (th evidence) so both land on 'smit' via
    * the approx dt→t final rule; ambiguous weber/wagner emit BOTH the
    * v[ger] and w[eng] renderings; 'van helsing' double-encodes with and
    * without the prefix. */
  private[graft] val bmBase = "abcdeghilmnorstvy"
    .map(c => s""""$c" "" "" "$c"""").mkString("\n")
  private[graft] val bmRes: Map[String, String] = Map(
    "base.txt" -> bmBase,
    "lang.txt" -> "sch ger true\nth eng true",
    "gen_languages.txt" -> "eng\nger",
    "gen_rules_any.txt" ->
      ("\"sch\" \"\" \"\" \"s\"\n\"th\" \"\" \"\" \"t\"\n" +
        "\"w\" \"\" \"\" \"(v[ger]|w[eng])\"\n#include base.txt"),
    "gen_rules_eng.txt" ->
      ("\"th\" \"\" \"\" \"t\"\n\"w\" \"\" \"\" \"w\"\n#include base.txt"),
    "gen_rules_ger.txt" ->
      ("\"sch\" \"\" \"\" \"s\"\n\"w\" \"\" \"\" \"v\"\n#include base.txt"),
    "gen_approx_common.txt" -> "\"dt\" \"\" \"\" \"t\"",
    "gen_approx_any.txt" -> "", "gen_approx_eng.txt" -> "",
    "gen_approx_ger.txt" -> "")

  private[graft] val bmTruth: Array[(String, Seq[String])] = Array(
    "schmidt" -> Seq("smit"),
    "smith" -> Seq("smit"),
    "weber" -> Seq("veber", "weber"),
    "wagner" -> Seq("vagner", "wagner"),
    "meyer" -> Seq("meyer"),
    "thiele" -> Seq("tiele"),
    "van helsing" -> Seq("helsing", "vanhelsing"),
    "schneider" -> Seq("sneider"))

  def qBeiderMorse(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val names = bmTruth.map(_._1)
    val res = bmRes
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", explode(lit((0 until 3).toArray)).as("i"))
      .withColumn("name",
        element_at(lit(names), (($"doc_id" + $"i" * 3) % 8).cast("int") + 1))
      .select($"doc_id", $"name").as[(Long, String)]
      .mapPartitions { it =>
        val bm = new graft.analysis.BeiderMorse(
          graft.analysis.BeiderMorse.Generic,
          graft.analysis.BeiderMorse.Approx, concat = true, res(_))
        it.flatMap { case (d, n) => bm.encodeTokens(n).map(t => (d, t)) }
      }
      .toDF("doc_id", "token")
      .groupBy(col("token")).agg(count("*").as("cnt"))
      .orderBy(col("token"))
  }
  val oBeiderMorse: String = {
    val values = bmTruth.zipWithIndex.flatMap { case ((n, ts), i) =>
      ts.map(t => s"($i,'$t')") }.mkString(", ")
    s"""WITH truth(idx, token) AS (VALUES $values),
       |seq(i) AS (VALUES (0),(1),(2)),
       |sel AS (
       |  SELECT d.doc_id, t.token FROM documents d CROSS JOIN seq s
       |  JOIN truth t ON t.idx = (d.doc_id + s.i * 3) % 8
       |)
       |SELECT token, count(*) AS cnt FROM sel GROUP BY token ORDER BY token""".stripMargin
  }

  /** Kuromoji lexicon for the morphological-segmentation gates: the ten
    * kanji digits as unigrams (cost 1000) plus 一二 (1500), 一二三
    * (2000) and 四五 (1500). Because no two multi-char entries can
    * overlap at different starts (shared-character check: 12/123 only
    * contain each other at the SAME start; 45 is char-disjoint) and the
    * cost structure makes every path cost 1000·len − 500·(#bi + 2·#tri),
    * the global Viterbi minimum takes EVERY trigram occurrence and every
    * non-contained bigram occurrence — so segment counts equal
    * substring-occurrence arithmetic the oracle can compute. */
  private def kuromojiDigits = {
    import graft.analysis.Kuromoji.JaEntry
    "零一二三四五六七八九".map(c => JaEntry(c.toString, 0, 0, 1000)) ++ Seq(
      JaEntry("一二", 0, 0, 1500), JaEntry("一二三", 0, 0, 2000),
      JaEntry("四五", 0, 0, 1500))
  }

  private def kuromojiCounts(spark: SparkSession, sf: String,
                             mode: graft.analysis.Kuromoji.Mode): DataFrame = {
    import spark.implicits._
    val tok = new graft.analysis.Kuromoji(kuromojiDigits, mode = mode)
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        translate(
          concat($"doc_id".cast("string"), lit("9"),
            when($"doc_id" % 3 === 0, lit("1234")).otherwise(lit("4321")),
            lit("9"), ($"doc_id" % 1000).cast("string")),
          "0123456789", "零一二三四五六七八九").as("s"))
      .as[(Long, String)]
      .flatMap { case (d, s) => tok.tokenize(s).iterator.map(t => (d, t.term)) }
      .toDF("doc_id", "term")
      .groupBy(col("doc_id"), col("term")).agg(count("*").as("cnt"))
      .orderBy(col("doc_id"), col("term"))
  }

  /** Morphological segmentation, NORMAL mode (reference:
    * Analysis.Kuromoji/JapaneseTokenizer.cs lattice Viterbi): per-doc
    * term counts of the least-cost segmentation over the synthetic kanji
    * corpus ([[DocIndex.cjkDocsAsCorpus]]'s string recipe). The oracle
    * re-derives every count as substring-occurrence arithmetic over the
    * digit string — exact by the [[kuromojiDigits]] non-overlap/cost
    * argument — so equality proves the lattice, the prefix-match arcs
    * and the min-cost backtrace end-to-end through the distributed
    * flatMap. */
  def qKuromoji(spark: SparkSession, sf: String): DataFrame =
    kuromojiCounts(spark, sf, graft.analysis.Kuromoji.Normal)
  private val oKuromojiCtes: String =
    """WITH s AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) || '9' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '1234' ELSE '4321' END) || '9' ||
      |    CAST(doc_id % 1000 AS VARCHAR) AS str
      |  FROM documents
      |), o AS (
      |  SELECT doc_id,
      |    (length(str) - length(replace(str, '123', ''))) // 3 AS t123,
      |    (length(str) - length(replace(str, '12', ''))) // 2 AS t12,
      |    (length(str) - length(replace(str, '45', ''))) // 2 AS t45,
      |    length(str) - length(replace(str, '0', '')) AS d0,
      |    length(str) - length(replace(str, '1', '')) AS d1,
      |    length(str) - length(replace(str, '2', '')) AS d2,
      |    length(str) - length(replace(str, '3', '')) AS d3,
      |    length(str) - length(replace(str, '4', '')) AS d4,
      |    length(str) - length(replace(str, '5', '')) AS d5,
      |    length(str) - length(replace(str, '6', '')) AS d6,
      |    length(str) - length(replace(str, '7', '')) AS d7,
      |    length(str) - length(replace(str, '8', '')) AS d8,
      |    length(str) - length(replace(str, '9', '')) AS d9
      |  FROM s
      |)""".stripMargin
  val oKuromoji: String =
    s"""$oKuromojiCtes, un AS (
       |  SELECT doc_id, '一二三' AS term, t123 AS cnt FROM o
       |  UNION ALL SELECT doc_id, '一二', t12 - t123 FROM o
       |  UNION ALL SELECT doc_id, '四五', t45 FROM o
       |  UNION ALL SELECT doc_id, '一', d1 - t12 FROM o
       |  UNION ALL SELECT doc_id, '二', d2 - t12 FROM o
       |  UNION ALL SELECT doc_id, '三', d3 - t123 FROM o
       |  UNION ALL SELECT doc_id, '四', d4 - t45 FROM o
       |  UNION ALL SELECT doc_id, '五', d5 - t45 FROM o
       |  UNION ALL SELECT doc_id, '零', d0 FROM o
       |  UNION ALL SELECT doc_id, '六', d6 FROM o
       |  UNION ALL SELECT doc_id, '七', d7 FROM o
       |  UNION ALL SELECT doc_id, '八', d8 FROM o
       |  UNION ALL SELECT doc_id, '九', d9 FROM o
       |)
       |SELECT doc_id, term, CAST(cnt AS BIGINT) AS cnt FROM un
       |WHERE cnt > 0 ORDER BY doc_id, term""".stripMargin

  /** SEARCH mode over the same corpus: the all-kanji trigram pays
    * (3-2)*3000 (JapaneseTokenizer.cs:284-300), so 一二三 decomposes to
    * [一二][三] everywhere — the oracle folds the trigram counts into
    * the bigram/unigram lines. The count DIFFERENCE between this gate
    * and [[qKuromoji]] is the search-mode penalty, proven end-to-end. */
  def qKuromojiSearch(spark: SparkSession, sf: String): DataFrame =
    kuromojiCounts(spark, sf, graft.analysis.Kuromoji.Search)
  val oKuromojiSearch: String =
    s"""$oKuromojiCtes, un AS (
       |  SELECT doc_id, '一二' AS term, t12 AS cnt FROM o
       |  UNION ALL SELECT doc_id, '四五', t45 FROM o
       |  UNION ALL SELECT doc_id, '一', d1 - t12 FROM o
       |  UNION ALL SELECT doc_id, '二', d2 - t12 FROM o
       |  UNION ALL SELECT doc_id, '三', d3 FROM o
       |  UNION ALL SELECT doc_id, '四', d4 - t45 FROM o
       |  UNION ALL SELECT doc_id, '五', d5 - t45 FROM o
       |  UNION ALL SELECT doc_id, '零', d0 FROM o
       |  UNION ALL SELECT doc_id, '六', d6 FROM o
       |  UNION ALL SELECT doc_id, '七', d7 FROM o
       |  UNION ALL SELECT doc_id, '八', d8 FROM o
       |  UNION ALL SELECT doc_id, '九', d9 FROM o
       |)
       |SELECT doc_id, term, CAST(cnt AS BIGINT) AS cnt FROM un
       |WHERE cnt > 0 ORDER BY doc_id, term""".stripMargin

  /** ParallelAtomicReader analog end-to-end (reference:
    * Index/ParallelAtomicReader.cs): the plain TEXT index and a
    * keyword-fields-ONLY index built over the same corpus (same docIds,
    * disjoint term spaces) read as ONE index — the add-fields-without-
    * re-indexing tool. A MUST(text term, keyword term) boolean runs
    * through the parallel reader's unioned dictionary/postings; the
    * oracle intersects the text hits with the metadata directly. */
  def qParallelFields(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val primary = ensure(spark, sf)
    val kw = DocIndex.ensureKeywordOnly(spark, sf)
    val reader = new graft.search.ParallelIndexReader(spark, primary, Seq(kw))
    val searcher = new graft.search.Searcher(reader)
    searcher.scored(graft.search.BoolQ(
      must = Seq(graft.search.TermQ("merge"), graft.search.TermQ("lang:en"))))
      .map(_.docId).distinct().toDF("doc_id").orderBy(col("doc_id"))
  }
  val oParallelFields: String =
    s"""$OracleCtes
       |SELECT DISTINCT tf.doc_id FROM tf
       |JOIN documents d ON tf.doc_id = d.doc_id
       |WHERE tf.term = 'merge' AND d.lang = 'en'
       |ORDER BY tf.doc_id""".stripMargin

  /** QueryAutoStopWordAnalyzer end-to-end (reference:
    * Analysis/Query/QueryAutoStopWordAnalyzer.cs): the stop set derived
    * from the index's OWN df at maxPercentDocs=0.2 (terms with df >
    * floor(0.2·maxDoc) are stopped, the reference's strict-greater
    * int-truncated contract), applied to a literal SHOULD list — hits of
    * the surviving terms. The oracle re-derives the threshold from its
    * own df/maxdoc CTEs, so neither side hard-codes which terms stop. */
  def qAutoStopwords(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    // double floor, SAME expression shape as the oracle's
    // floor(0.2 * maxdoc) — a float32 product would diverge by ±1 at
    // hundreds-of-millions maxDoc and silently split the gate
    val threshold = math.floor(0.2 * reader.collectionStats.maxDoc).toLong
    val stop = graft.search.AutoStopwords.stopWords(spark, dir, threshold)
    val terms = Seq("merge", "sort", "vector", "the", "hash")
      .filterNot(stop.contains)
    val searcher = new graft.search.Searcher(reader)
    searcher.scored(graft.search.BoolQ(should = terms.map(graft.search.TermQ(_))))
      .map(_.docId).distinct().toDF("doc_id").orderBy(col("doc_id"))
  }
  val oAutoStopwords: String =
    s"""$OracleCtes, sel AS (
       |  SELECT term FROM df
       |  WHERE term IN ('merge', 'sort', 'vector', 'the', 'hash')
       |    AND df <= CAST(floor(0.2 * (SELECT maxdoc FROM stats)) AS BIGINT)
       |)
       |SELECT DISTINCT doc_id FROM tf JOIN sel USING (term)
       |ORDER BY doc_id""".stripMargin

  /** Multi-word SynonymFilter end-to-end (reference:
    * Analysis/Synonym/SynonymFilter.cs): the contraction `hash table =>
    * hashtable` plus the expansion class `merge, combine` run inside the
    * distributed flatMap; per-doc term counts. The oracle re-derives the
    * greedy matcher as adjacency arithmetic — every (hash, table)
    * adjacency is consumed (a match's last token is never `hash`, so no
    * pair's head can be eaten by an earlier match), so
    * seg(hashtable) = occ(hashtable) + pairs, seg(hash/table) = occ −
    * pairs, and the expansion emits both class members per occurrence of
    * either. Equality proves greedy matching, contraction collapse and
    * expansion stacking end-to-end. */
  def qSynonymMulti(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val map = graft.analysis.Synonyms.parseSolr(
      """hash table => hashtable
        |merge, combine
        |""".stripMargin)
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)").as("ts"))
      .as[(Long, Seq[String])]
      .flatMap { case (d, ws) =>
        val toks = ws.zipWithIndex.map { case (w, i) =>
          graft.analysis.Token(w, i, 0, 0) }.toArray
        graft.analysis.Synonyms.filterTokens(toks, map).iterator.map(t => (d, t.term))
      }
      .toDF("doc_id", "term")
      .groupBy(col("doc_id"), col("term")).agg(count("*").as("cnt"))
      .orderBy(col("doc_id"), col("term"))
  }
  val oSynonymMulti: String =
    """WITH arr AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS a
      |  FROM documents
      |), tokp AS (
      |  SELECT doc_id, unnest(a) AS term,
      |         unnest(generate_series(1, len(a))) AS pos
      |  FROM arr
      |), tf2 AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tokp GROUP BY doc_id, term
      |), pairs AS (
      |  SELECT doc_id, count(*) AS p FROM (
      |    SELECT doc_id, term,
      |           lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |    FROM tokp
      |  ) WHERE term = 'hash' AND nxt = 'table' GROUP BY doc_id
      |), mc AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS m FROM tf2
      |  WHERE term IN ('merge', 'combine') GROUP BY doc_id
      |), un AS (
      |  SELECT doc_id, 'hashtable' AS term, p AS cnt FROM pairs
      |  UNION ALL SELECT doc_id, term, tf FROM tf2 WHERE term = 'hashtable'
      |  UNION ALL SELECT tf2.doc_id, tf2.term, tf2.tf - COALESCE(pairs.p, 0)
      |    FROM tf2 LEFT JOIN pairs USING (doc_id)
      |    WHERE tf2.term IN ('hash', 'table')
      |  UNION ALL SELECT doc_id, 'merge', m FROM mc
      |  UNION ALL SELECT doc_id, 'combine', m FROM mc
      |  UNION ALL SELECT doc_id, term, tf FROM tf2
      |    WHERE term NOT IN ('hash', 'table', 'merge', 'combine', 'hashtable')
      |)
      |SELECT doc_id, term, CAST(sum(cnt) AS BIGINT) AS cnt FROM un
      |GROUP BY doc_id, term HAVING sum(cnt) > 0
      |ORDER BY doc_id, term""".stripMargin

  /** PathHierarchyTokenizer end-to-end (reference:
    * Analysis/Path/PathHierarchyTokenizer.cs): prefix-path tokens over
    * source/lang/bucket paths, counted corpus-wide — the taxonomy-facet
    * building block as a tokenizer. The oracle derives each prefix
    * depth explicitly. */
  def qPathHierarchy(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(col("source"), lit("/"), col("lang"), lit("/"),
        (col("doc_id") % 10).cast("string")).as("p"))
      .as[String]
      .flatMap(p => graft.analysis.Tokenizers.pathHierarchy(p).iterator.map(_.term))
      .toDF("term")
      .groupBy(col("term")).agg(count("*").as("cnt"))
      .orderBy(col("term"))
  }
  val oPathHierarchy: String =
    """WITH p AS (
      |  SELECT source AS p1,
      |         source || '/' || lang AS p2,
      |         source || '/' || lang || '/' || CAST(doc_id % 10 AS VARCHAR) AS p3
      |  FROM documents
      |), un AS (
      |  SELECT p1 AS term FROM p
      |  UNION ALL SELECT p2 FROM p
      |  UNION ALL SELECT p3 FROM p
      |)
      |SELECT term, count(*) AS cnt FROM un GROUP BY term ORDER BY term""".stripMargin

  /** ICUTokenizer analog (reference: Analysis.ICU/Segmentation/
    * ICUTokenizer.cs + ScriptIterator.cs): script-run segmentation +
    * per-run UAX#29 with a ScriptAttribute, over synthetic mixed-script
    * strings 'x' + kanji(doc_id digits) + 'y'. The oracle re-derives the
    * counts directly: each latin sentinel is one LATIN token, each kanji
    * digit one HAN IDEOGRAPHIC token (UAX#29 emits ideographs per char),
    * occurrence counts by digit arithmetic — equality proves the run
    * splitting (no latin token straddles the han run), the per-run
    * tokenization and the script attribution end-to-end. */
  def qIcuTokenize(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        concat(lit("x"),
          translate($"doc_id".cast("string"),
            "0123456789", "零一二三四五六七八九"), lit("y")).as("s"))
      .as[(Long, String)]
      .flatMap { case (d, s) =>
        graft.analysis.Icu.tokenize(s).iterator.map(t => (d, t.script, t.term)) }
      .toDF("doc_id", "script", "term")
      .groupBy(col("doc_id"), col("script"), col("term")).agg(count("*").as("cnt"))
      .orderBy(col("doc_id"), col("script"), col("term"))
  }
  val oIcuTokenize: String =
    """WITH s AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS str FROM documents
      |), un AS (
      |  SELECT doc_id, 'HAN' AS script,
      |    translate(d.d, '0123456789', '零一二三四五六七八九') AS term,
      |    length(str) - length(replace(str, d.d, '')) AS cnt
      |  FROM s CROSS JOIN (VALUES ('0'),('1'),('2'),('3'),('4'),
      |    ('5'),('6'),('7'),('8'),('9')) d(d)
      |  UNION ALL SELECT doc_id, 'LATIN', 'x', 1 FROM s
      |  UNION ALL SELECT doc_id, 'LATIN', 'y', 1 FROM s
      |)
      |SELECT doc_id, script, term, CAST(cnt AS BIGINT) AS cnt FROM un
      |WHERE cnt > 0 ORDER BY doc_id, script, term""".stripMargin

  /** PatternTokenizer end-to-end (reference: Analysis/Pattern/
    * PatternTokenizer.cs, split mode): regex-split tokenization of the
    * corpus — top-50 terms by count. Map-only flatMap + one combinable
    * groupBy; the compiled pattern rides the closure. The oracle splits
    * with the same regex in DuckDB (empty tokens dropped both sides). */
  def qPatternTokenize(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val tok = graft.analysis.Tokenizers.patternTokenizer("[^A-Za-z0-9]+")
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").as[String]
      .flatMap(c => tok(c).iterator.map(_.term))
      .toDF("term").groupBy($"term").agg(count("*").as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(50)
  }
  val oPatternTokenize: String =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z0-9]+')) AS term
      |  FROM documents
      |)
      |SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks
      |WHERE term <> '' GROUP BY term ORDER BY cnt DESC, term LIMIT 50""".stripMargin

  /** MappingCharFilter end-to-end (reference: Analysis/CharFilter/
    * MappingCharFilter.cs): code-operator canonicalization — '->', '::',
    * '=>' rewritten to sentinel words ahead of tokenization (the
    * wrapTokenizer offset correction is proven in CharFilterSpec; the
    * gate checks the rewrite+tokenize term stream). A literal prefix
    * exercises every rule on every doc; content occurrences add on top.
    * Oracle = the equivalent replace chain (sound here: no key overlaps
    * another and no replacement contains a key, so sequential replace ≡
    * greedy longest-match). */
  def qMappingCharfilter(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val tok = graft.analysis.CharFilters.wrapTokenizer(
      graft.analysis.CharFilters.mapping(Map(
        "->" -> " ARROW ", "::" -> " SCOPE ", "=>" -> " FATARROW ")),
      graft.analysis.Tokenizers.patternTokenizer("\\s+"))
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", concat(lit("x->y::z=>w "), $"text").as("s"))
      .as[(Long, String)]
      .flatMap { case (d, s) => tok(s).iterator.map(t => (d, t.term)) }
      .toDF("doc_id", "term")
      .where($"term".isin("ARROW", "SCOPE", "FATARROW"))
      .groupBy($"doc_id", $"term").agg(count("*").as("cnt"))
      .orderBy($"doc_id", $"term")
  }
  val oMappingCharfilter: String =
    """WITH s AS (
      |  SELECT doc_id, 'x->y::z=>w ' || text AS str FROM documents
      |), m AS (
      |  SELECT doc_id, replace(replace(replace(str,
      |    '->', ' ARROW '), '::', ' SCOPE '), '=>', ' FATARROW ') AS str
      |  FROM s
      |), t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(str, '\s+')) AS term FROM m
      |)
      |SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt FROM t
      |WHERE term IN ('ARROW', 'SCOPE', 'FATARROW')
      |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin

  /** HTMLStripCharFilter end-to-end (reference: Analysis/CharFilter/
    * HTMLStripCharFilter.cs): each doc's text wrapped in synthetic
    * markup (block tag + comment + inline tag + entity BEFORE the first
    * token, so every offset is non-trivially shifted), stripped with
    * offset correction, tokenized — and the FIRST token's corrected
    * offsets slice the RAW markup back to the token text ("highlight
    * the original web page"). The oracle recomputes the constant prefix
    * arithmetic (39 markup chars before the text) and slices the same
    * markup string in SQL. */
  def qStripHtmlOffsets(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val tok = graft.analysis.CharFilters.wrapTokenizer(
      graft.analysis.CharFilters.htmlStrip(),
      graft.analysis.UAX29Tokenizer.tokenize)
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        concat(lit("<div class=\"d\"><!-- id --><b>&amp;</b> "),
          $"text", lit("</div>")).as("markup"))
      .as[(Long, String)]
      .flatMap { case (d, m) =>
        tok(m).headOption.map(t => (d, t.term.toLowerCase,
          t.startOff.toLong, t.endOff.toLong,
          m.substring(t.startOff, math.min(t.endOff, m.length))))
      }
      .toDF("doc_id", "term", "start_off", "end_off", "snip")
      .orderBy($"doc_id")
  }
  val oStripHtmlOffsets: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    '<div class="d"><!-- id --><b>&amp;</b> ' || text || '</div>' AS markup,
      |    length(text) - length(ltrim(text, ' ')) AS lead,
      |    regexp_extract(ltrim(text, ' '), '^[a-z0-9_]+') AS tok
      |  FROM documents
      |)
      |SELECT doc_id, tok AS term,
      |  CAST(39 + lead AS BIGINT) AS start_off,
      |  CAST(39 + lead + length(tok) AS BIGINT) AS end_off,
      |  substring(markup, 39 + lead + 1, length(tok)) AS snip
      |FROM m WHERE tok <> '' ORDER BY doc_id""".stripMargin

  /** HyphenationCompoundWordTokenFilter end-to-end (reference:
    * Analysis/Compound/HyphenationCompoundWordTokenFilter.cs + the Liang
    * pattern engine): per-doc synthetic compounds decompounded through a
    * literal pattern table + dictionary — exercising the pattern path,
    * the dictionary gate and the partLength-1 linking-morpheme fallback
    * (verkehrS). The oracle re-states each compound's hand-derived split
    * (HyphenationSpec proves the engine derives them from the patterns). */
  def qDecompoundHyph(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val h = new graft.analysis.Hyphenator(Seq("n1b", "k1s", "s1z", "k1h"))
    val dict = Set("daten", "bank", "system", "verkehr", "zeichen", "haus")
    val words = Array("datenbanksystem", "verkehrszeichen", "bankhaus")
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id").as[Long]
      .flatMap { d =>
        val w = words((d % 3).toInt)
        graft.analysis.Hyphenation.hyphenationCompound(
          Array(graft.analysis.Token(w, 0, 0, w.length)), h, Some(dict))
          .iterator.map(t => (d, t.term))
      }.toDF("doc_id", "term").orderBy($"doc_id", $"term")
  }
  val oDecompoundHyph: String =
    """WITH c AS (SELECT doc_id, doc_id % 3 AS r FROM documents),
      |e AS (
      |  SELECT doc_id, unnest(CASE
      |    WHEN r = 0 THEN ['datenbanksystem', 'daten', 'bank', 'system']
      |    WHEN r = 1 THEN ['verkehrszeichen', 'verkehr', 'zeichen']
      |    ELSE ['bankhaus', 'bank', 'haus'] END) AS term
      |  FROM c
      |)
      |SELECT doc_id, term FROM e ORDER BY doc_id, term""".stripMargin

  /** Stempel/Egothor patch-trie stemming (reference:
    * Analysis.Stempel/Egothor.Stemmer/ + Stempel/StempelFilter.cs) over
    * a literal 5-rule suffix table: per-doc stem counts with the real
    * reversed-key last-on-path lookup + end-first patch interpreter
    * running in the distributed flatMap. The oracle re-derives every
    * rule as a CASE over suffix tests — sound because last-on-path is
    * longest-suffix-wins ('ies' at depth 3 shadows 's'; the other rules'
    * final characters are mutually exclusive), minLength <= 3 keeps the
    * term, and no len>3 term can stem to empty under these patches. */
  def qStempel(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val trie = new graft.analysis.Stempel.Trie()
      .add("ing", "Dc").add("ies", "DcIy").add("ed", "Db")
      .add("s", "Da").add("y", "Ri")
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")).as("term"))
      .as[(Long, String)]
      .map { case (d, t) => (d, graft.analysis.Stempel.filterTerm(trie, t)) }
      .toDF("doc_id", "stem")
      .groupBy(col("doc_id"), col("stem")).agg(count("*").as("cnt"))
      .orderBy(col("doc_id"), col("stem"))
  }
  val oStempel: String =
    s"""$OracleCtes, st AS (
       |  SELECT doc_id, CASE
       |    WHEN length(term) <= 3 THEN term
       |    WHEN term LIKE '%ies' THEN substr(term, 1, length(term)-3) || 'y'
       |    WHEN term LIKE '%ing' THEN substr(term, 1, length(term)-3)
       |    WHEN term LIKE '%ed' THEN substr(term, 1, length(term)-2)
       |    WHEN term LIKE '%s' THEN substr(term, 1, length(term)-1)
       |    WHEN term LIKE '%y' THEN substr(term, 1, length(term)-1) || 'i'
       |    ELSE term END AS stem
       |  FROM tok
       |)
       |SELECT doc_id, stem, count(*) AS cnt FROM st
       |GROUP BY doc_id, stem ORDER BY doc_id, stem""".stripMargin

  /** Chinese HHMM segmentation (reference: Analysis.SmartCn/HHMM/ —
    * SegGraph + bigram-graph Viterbi over a user-supplied frequency
    * model): per-doc term counts over the same synthetic kanji corpus.
    * With zero bigram frequencies every path costs const + Σ per-token
    * out-weights (-log((0.1(1+f)+0.9)/MAX)), so unigram f=100 (≈12.19)
    * vs word f=2000000 (≈2.38) makes the shortest path provably the
    * same greedy-longest segmentation the [[qKuromoji]] argument proves
    * — one oracle, two INDEPENDENT segmentation algorithms (additive
    * integer lattice there, smoothed log-probability bigram graph here)
    * forced to agree end-to-end. */
  def qSmartcn(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dict: Map[String, Int] =
      "零一二三四五六七八九".map(c => c.toString -> 100).toMap ++
        Map("一二" -> 2000000, "一二三" -> 2000000, "四五" -> 2000000)
    val seg = new graft.analysis.SmartCn(dict)
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        translate(
          concat($"doc_id".cast("string"), lit("9"),
            when($"doc_id" % 3 === 0, lit("1234")).otherwise(lit("4321")),
            lit("9"), ($"doc_id" % 1000).cast("string")),
          "0123456789", "零一二三四五六七八九").as("s"))
      .as[(Long, String)]
      .flatMap { case (d, s) => seg.segment(s).iterator.map(t => (d, t.surface)) }
      .toDF("doc_id", "term")
      .groupBy(col("doc_id"), col("term")).agg(count("*").as("cnt"))
      .orderBy(col("doc_id"), col("term"))
  }
  val oSmartcn: String = oKuromoji

  /** NGramPhraseQuery over a CJK-bigram positions index (reference:
    * Search/NGramPhraseQuery.cs:63-105 + the CJKAnalyzer chain): the
    * needle 一二三四's three bigrams rewrite to the SPARSE phrase
    * (一二/0, 三四/2) — the skipped gram 二三 is implied by the n-1
    * character overlap — so the engine decodes 2 posting lists instead
    * of 3 and must still produce exactly the substring-occurrence
    * counts the oracle computes over the synthetic digit strings
    * ([[DocIndex.cjkDocsAsCorpus]]). Proves the rewrite's soundness
    * claim end-to-end, not just the rewrite shape. */
  def qNgramPhrase(spark: SparkSession, sf: String): DataFrame = {
    val dir = DocIndex.ensureCjk(spark, sf)
    val searcher = new graft.search.Searcher(new graft.search.IndexReader(spark, dir))
    val parts = graft.search.NGramPhraseQ(2, Seq("一二", "二三", "三四"))
      .optimized.asInstanceOf[graft.search.SparsePhraseQ].parts
    searcher.sparsePhraseFreqs(parts)
      .toDF("doc_id", "freq", "norm")
      .select(col("doc_id"), col("freq").cast("long").as("cnt"))
      .orderBy(col("doc_id"))
  }
  val oNgramPhrase: String =
    """WITH s AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) || '9' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '1234' ELSE '4321' END) || '9' ||
      |    CAST(doc_id % 1000 AS VARCHAR) AS str
      |  FROM documents
      |)
      |SELECT doc_id,
      |  (length(str) - length(replace(str, '1234', ''))) // 4 AS cnt
      |FROM s WHERE str LIKE '%1234%' ORDER BY doc_id""".stripMargin

  /** Pulsed postings read (Pulsing41PostingsFormat analog, reference:
    * Codecs/Pulsing/Pulsing41PostingsFormat.cs:30-44): hits for the 5
    * alphabetically-first hapax terms (served by the dictionary's INLINE
    * postings — the postings table no longer contains them) plus the 2
    * highest-df terms (served by the normal block path), both engines
    * deriving the term sets independently from the same deterministic
    * rule. Equality proves the inline/block routing, the inline tf
    * fidelity, and the union — the pulsed read is bit-equal to the
    * unpulsed one. */
  def qPulsing(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val pdir = DocIndex.ensurePulsed(spark, sf)
    val dict = spark.read.parquet(IndexPaths.termDict(pdir))
    val rare = dict.where(col("df") === 1)
      .orderBy(col("term")).limit(5).select(col("term")).as[String].collect()
    val common = dict.orderBy(col("df").desc, col("term")).limit(2)
      .select(col("term")).as[String].collect()
    graft.postings.Pulsing.hits(spark, pdir, (rare ++ common).toSeq)
      .select(col("term"), col("doc_id"), col("tf"))
      .orderBy(col("term"), col("doc_id"))
  }
  val oPulsing: String =
    s"""$OracleCtes, sel AS (
       |  SELECT term FROM (SELECT term FROM df WHERE df = 1 ORDER BY term LIMIT 5)
       |  UNION
       |  SELECT term FROM (SELECT term FROM df ORDER BY df DESC, term LIMIT 2)
       |)
       |SELECT tf.term, tf.doc_id, tf.tf FROM tf JOIN sel USING (term)
       |ORDER BY term, doc_id""".stripMargin

  /** Facets: hits of a term counted per lang (FacetsCollector analog). */
  def qFacetLang(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select("doc_id")
    val langs = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"))
    h.join(broadcast(langs), Seq("doc_id"))
      .groupBy(col("lang")).agg(count("*").as("hits")).orderBy(col("lang"))
  }
  val oFacetLang: String =
    s"""$OracleCtes
       |SELECT d.lang, count(*) AS hits FROM tf JOIN documents d USING (doc_id)
       |WHERE tf.term = 'merge' GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Range facets: doc-length histogram, bucket width 50. */
  def qFacetDlHist(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.docstats(dir))
      .select((col("tokenCount").cast("long") / 50).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count("*").as("docs")).orderBy(col("bucket"))
  }
  val oFacetDlHist: String =
    s"""$OracleCtes
       |SELECT dl // 50 AS bucket, count(*) AS docs FROM dl
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Hierarchical (taxonomy) facets (reference:
    * Facet/Taxonomy/TaxonomyFacetCounts.cs): hits of a term counted at
    * EVERY depth of the source/lang taxonomy path — `src3` and
    * `src3/en` both roll up. Engine side is the generic prefix-explode
    * rollup (graft.search.Facets.taxonomyCounts); the oracle unions the
    * per-depth counts explicitly. */
  def qFacetPath(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select("doc_id")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), concat_ws("/", col("source"), col("lang")).as("fpath"))
    graft.search.Facets.taxonomyCounts(h.join(docs, "doc_id"), "fpath")
      .orderBy(col("path"))
  }
  val oFacetPath: String =
    s"""$OracleCtes, hit AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term = 'merge'
       |), pth AS (
       |  SELECT d.source AS p1, d.source || '/' || d.lang AS p2
       |  FROM documents d JOIN hit USING (doc_id)
       |)
       |SELECT path, CAST(count(*) AS BIGINT) AS hits FROM (
       |  SELECT p1 AS path FROM pth UNION ALL SELECT p2 FROM pth
       |) GROUP BY path ORDER BY path""".stripMargin

  /** Grouping: top-2 docs per lang by score (two-pass grouping collector). */
  def qGroupTop2(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val langs = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id"))
    scoredHits(spark, sf, Seq("merge")).join(broadcast(langs), Seq("doc_id"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .select(col("lang"), col("doc_id"), col("rn")).orderBy(col("lang"), col("rn"))
  }
  val oGroupTop2: String =
    s"""${oracleScored(Seq("merge"))}
       |SELECT lang, doc_id, rn FROM (
       |  SELECT d.lang, s.doc_id,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id) AS rn
       |  FROM scored s JOIN documents d USING (doc_id))
       |WHERE rn <= 2 ORDER BY lang, rn""".stripMargin

  /** Within-group sort by a FIELD instead of relevance (reference:
    * Lucene.Net.Grouping/GroupingSearch.cs SetSortWithinGroup +
    * AbstractSecondPassGroupingCollector's withinGroupSort): each
    * source's top-2 'merge' hits ordered by the stored n_chars field —
    * the collector's Sort(SortField) path where q_group_top2 is its
    * relevance path. Window partitioned by group key (a partition is one
    * group's hits — never corpus-wide). */
  def qGroupSortField(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id")).distinct()
    val meta = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    h.join(meta, Seq("doc_id"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .select(col("source"), col("rn"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rn"))
  }
  val oGroupSortField: String =
    s"""$OracleCtes
       |SELECT source, rn, doc_id, n_chars FROM (
       |  SELECT d.source, d.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY d.source
       |                       ORDER BY d.n_chars, d.doc_id) AS rn
       |  FROM (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge') h
       |  JOIN documents d USING (doc_id))
       |WHERE rn <= 2 ORDER BY source, rn""".stripMargin

  /** Search-after WITHIN groups (reference:
    * Lucene.Net.Grouping/AbstractSecondPassGroupingCollector.cs +
    * GroupingSearch paging — the page after each group's top-2): rows
    * 3..4 per group in (score desc, doc_id) order, i.e. page 2 with the
    * page-1 cursor already consumed. Same window shape as q_group_top2 —
    * pagination is a predicate on the rank, not a re-sort. */
  def qGroupSearchAfter(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val langs = spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id"))
    scoredHits(spark, sf, Seq("merge")).join(broadcast(langs), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") > 2 && col("rn") <= 4)
      .select(col("lang"), col("doc_id"), col("rn")).orderBy(col("lang"), col("rn"))
  }
  val oGroupSearchAfter: String =
    s"""${oracleScored(Seq("merge"))}
       |SELECT lang, doc_id, rn FROM (
       |  SELECT d.lang, s.doc_id,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id) AS rn
       |  FROM scored s JOIN documents d USING (doc_id))
       |WHERE rn > 2 AND rn <= 4 ORDER BY lang, rn""".stripMargin

  /** MoreLikeThis: top-5 tf·idf terms of one doc → the OR-query seeds. */
  def qMltTerms(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val cs = collectionStats(spark, dir)
    // decode this doc's tf vector from flush-partition postings via docstats?
    // postings are term-major; per-doc tf comes from an index scan filtered
    // by docId range — cheap here because block metadata prunes.
    import spark.implicits._
    val docId = 7L
    val p = spark.read.parquet(IndexPaths.postings(dir))
      .where(col("firstDocId") <= docId && col("lastDocId") >= docId)
      .as[graft.build.PostingRow]
      .flatMap { r =>
        val (ids, tfs, _) = graft.postings.PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
        val i = java.util.Arrays.binarySearch(ids, docId)
        if (i >= 0) Iterator.single((r.term, tfs(i).toLong)) else Iterator.empty
      }.toDF("term", "tf")
    val dict = spark.read.parquet(IndexPaths.termDict(dir)).select(col("term"), col("df"))
    p.join(broadcast(dict), Seq("term"))
      .withColumn("w", round(col("tf") * log(lit(cs.maxDoc.toDouble) / col("df")), 6))
      .select(col("term"), col("w"))
      .orderBy(col("w").desc, col("term")).limit(5)
  }
  val oMltTerms: String =
    s"""$OracleCtes
       |SELECT term, round(tf * ln(stats.maxdoc * 1.0e0 / df.df), 6) AS w
       |FROM tf JOIN df USING (term) CROSS JOIN stats
       |WHERE doc_id = 7 ORDER BY w DESC, term LIMIT 5""".stripMargin

  /** TotalHitCountCollector: hit count of a term query. */
  def qCount(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sf)
    Seq(hits(spark, dir, Seq("merge")).count()).toDF("n")
  }
  val oCount: String =
    s"""$OracleCtes
       |SELECT CAST(count(*) AS BIGINT) AS n FROM tf WHERE term = 'merge'""".stripMargin

  /** TopFieldCollector: sort by (lang asc, doc length desc, docId). */
  def qSortFields(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    spark.read.parquet(IndexPaths.docstats(dir))
      .select(col("docId").as("doc_id"), col("lang"),
        col("tokenCount").cast("long").as("dl"))
      .orderBy(col("lang"), col("dl").desc, col("doc_id")).limit(20)
  }
  val oSortFields: String =
    s"""$OracleCtes
       |SELECT doc_id, d.lang, dl.dl FROM dl JOIN documents d USING (doc_id)
       |ORDER BY d.lang, dl.dl DESC, doc_id LIMIT 20""".stripMargin

  /** CommonTermsQuery df-threshold split: high-df (>=5% of maxDoc) vs
    * low-df terms among a clause list. */
  def qCommonTerms(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val cs = collectionStats(spark, dir)
    spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term").isin("merge", "vector", "scan", "the", "filter"))
      .select(col("term"), col("df"),
        when(col("df") * 20 >= cs.maxDoc, "high").otherwise("low").as("bucket"))
      .orderBy(col("term"))
  }
  val oCommonTerms: String =
    s"""$OracleCtes
       |SELECT term, df.df,
       |  CASE WHEN df.df * 20 >= stats.maxdoc THEN 'high' ELSE 'low' END AS bucket
       |FROM df CROSS JOIN stats
       |WHERE term IN ('merge', 'vector', 'scan', 'the', 'filter') ORDER BY term""".stripMargin

  /** QueryRescorer: re-rank the term query's hits with a second-pass
    * formula mixing relevance with a doc-length prior. */
  def qRescore(spark: SparkSession, sf: String): DataFrame = {
    scoredHits(spark, sf, Seq("merge"))
      .select(col("doc_id"),
        round(col("score") * lit(0.7) +
          lit(0.3) * (lit(1.0) / (lit(1.0) + col("dl").cast("double") / lit(100.0))), 6)
          .as("rescore"))
      .orderBy(col("rescore").desc, col("doc_id")).limit(20)
  }
  val oRescore: String =
    s"""${oracleScored(Seq("merge"))}
       |SELECT doc_id, round(score * 0.7e0 + 0.3e0 * (1.0e0 / (1.0e0 + dl / 100.0e0)), 6) AS rescore
       |FROM scored ORDER BY rescore DESC, doc_id LIMIT 20""".stripMargin

  /** Highlighter-lite (SQL-parity variant): snippet around the first
    * occurrence of the query term, for index-matched docs only. The
    * token-window Highlighter with offset-based markup is the library op
    * (graft.search.Highlighter, ScalaTest-covered). */
  def qHighlight(spark: SparkSession, sf: String): DataFrame = {
    val dir = ensure(spark, sf)
    val h = hits(spark, dir, Seq("merge")).select(col("doc_id"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    h.join(docs, "doc_id")
      .select(col("doc_id"),
        substring_index(lower(col("text")), "merge", 1).as("pre"))
      .select(col("doc_id"),
        expr("substring(pre, greatest(1, length(pre) - 9), 10)").as("ctx_before"))
      .orderBy(col("doc_id"))
  }
  val oHighlight: String =
    s"""$OracleCtes, m AS (
       |  SELECT doc_id, substr(lower(text), 1, strpos(lower(text), 'merge') - 1) AS pre
       |  FROM documents WHERE strpos(lower(text), 'merge') > 0
       |), idx AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'merge')
       |SELECT m.doc_id AS doc_id,
       |  substr(pre, greatest(1, length(pre) - 9), 10) AS ctx_before
       |FROM m JOIN idx USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Index-time highlighting over the OFFSETS-enabled index (the
    * PostingsHighlighter idea, reference:
    * PostingsHighlight/PostingsHighlighter.cs:74): the first whole-token
    * occurrence of the query term comes straight from the char-offset
    * sidecar — no re-analysis of stored content — and the snippet is cut
    * from the stored text at that offset. The oracle reconstructs token
    * offsets relationally: non-token chars map 1:1 to spaces, so
    * strpos(' '||norm||' ', ' merge ') finds the first whole-token
    * occurrence at the same character offset. */
  def qHighlightOffsets(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = DocIndex.ensureOffsets(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    val firstOff = reader.termOffsetRows(Seq("merge"))
      .map { case (docId, _, offs) => (docId, offs(0).toLong) }
      .toDF("doc_id", "off")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    firstOff.join(docs, "doc_id")
      .select(col("doc_id"), col("off"),
        expr("substr(lower(text), greatest(1, cast(off as int) - 9), least(cast(off as int), 10))")
          .as("ctx_before"))
      .orderBy(col("doc_id"))
  }
  val oHighlightOffsets: String =
    """WITH norm AS (
      |  SELECT doc_id, lower(text) AS lt,
      |         ' ' || regexp_replace(lower(text), '[^a-z0-9_]', ' ', 'g') || ' ' AS padded
      |  FROM documents
      |), hit AS (
      |  SELECT doc_id, lt, CAST(strpos(padded, ' merge ') AS BIGINT) AS p FROM norm
      |  WHERE strpos(padded, ' merge ') > 0
      |)
      |SELECT doc_id, p - 1 AS off,
      |  substr(lt, greatest(1, CAST(p - 1 AS INT) - 9), least(CAST(p - 1 AS INT), 10)) AS ctx_before
      |FROM hit ORDER BY doc_id""".stripMargin

  /** FastVectorHighlighter analog (reference: Highlighter/VectorHighlight/
    * FieldPhraseList.cs): phrase-aware highlight spans from the
    * positions+offsets sidecars — only occurrences participating in the
    * full exact phrase "table hash" are marked; the fragment is cut from
    * the stored text at the span. Oracle: the whole-token normalization
    * trick (non-token chars map 1:1 to spaces), so
    * strpos(padded, ' table hash ') is the same first match at the same
    * char offset. */
  def qHighlightPhrase(spark: SparkSession, sf: String): DataFrame = {
    val dir = DocIndex.ensureOffsets(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    val searcher = new graft.search.Searcher(reader,
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val spans = searcher.phraseHighlightSpans(Seq("table", "hash"))
      .toDF("doc_id", "s", "e")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    spans.join(docs, "doc_id")
      .select(col("doc_id"), col("s").cast("long").as("s"),
        col("e").cast("long").as("e"),
        expr("substr(lower(text), cast(s as int) + 1, cast(e - s as int))").as("frag"))
      .orderBy(col("doc_id"))
  }
  val oHighlightPhrase: String =
    """WITH norm AS (
      |  SELECT doc_id, lower(text) AS lt,
      |         ' ' || regexp_replace(lower(text), '[^a-z0-9_]', ' ', 'g') || ' ' AS padded
      |  FROM documents
      |), hit AS (
      |  SELECT doc_id, lt, CAST(strpos(padded, ' table hash ') AS BIGINT) AS p FROM norm
      |  WHERE strpos(padded, ' table hash ') > 0
      |)
      |SELECT doc_id, p - 1 AS s, p + 9 AS e, substr(lt, CAST(p AS INT), 10) AS frag
      |FROM hit ORDER BY doc_id""".stripMargin

  /** PostingsHighlighter passage ranking (reference: PostingsHighlight/
    * PostingsHighlighter.cs + PassageScorer.cs formulas): every
    * 10-token passage holding a hit for {merge, hash} is scored
    * norm·Σ weight·tf straight from the positions sidecar, the best
    * passage per doc survives, top-20 docs by passage score. The oracle
    * recomputes passages relationally: token positions from the zipped
    * unnest, passage = pos // 10, identical double expression shapes. */
  def qPassageTopk(spark: SparkSession, sf: String): DataFrame = {
    val dir = DocIndex.ensureOffsets(spark, sf)
    val reader = new graft.search.IndexReader(spark, dir)
    val searcher = new graft.search.Searcher(reader,
      analyzerFor = _ => graft.analysis.Analyzer.sqlParity)
    val ps = searcher.passageScores(Seq("merge", "hash"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("passage"))
    ps.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("doc_id"), col("passage"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }
  val oPassageTopk: String =
    """WITH tokp AS (
      |  SELECT doc_id,
      |         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term,
      |         unnest(range(0, len(regexp_extract_all(lower(text), '[a-z0-9_]+')))) AS pos
      |  FROM documents
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM tokp GROUP BY doc_id
      |), ttf AS (
      |  SELECT doc_id, term, count(*) AS ttf FROM tokp
      |  WHERE term IN ('merge', 'hash') GROUP BY doc_id, term
      |), pf AS (
      |  SELECT doc_id, term, pos // 10 AS passage, count(*) AS f
      |  FROM tokp WHERE term IN ('merge', 'hash') GROUP BY doc_id, term, passage
      |), sc AS (
      |  SELECT pf.doc_id, pf.passage,
      |    (1.0e0 + 1.0e0 / ln(16.0e0 + 10 * pf.passage)) * sum(
      |      2.2e0 * ln(1.0e0 + (1.5e0 + dl.dl / 16.0e0) / (ttf.ttf + 0.5e0))
      |      * (pf.f / (pf.f + 1.2e0 * (0.25e0 + 0.75e0 * least(10, dl.dl - 10 * pf.passage) / 16.0e0)))
      |    ) AS score
      |  FROM pf JOIN dl USING (doc_id) JOIN ttf USING (doc_id, term)
      |  GROUP BY pf.doc_id, pf.passage, dl.dl
      |), best AS (
      |  SELECT doc_id, passage, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, passage) AS rn
      |  FROM sc
      |)
      |SELECT doc_id, passage, round(score, 6) AS score FROM best WHERE rn = 1
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** MoreLikeThis end-to-end (reference: Queries/Mlt/MoreLikeThis.cs):
    * seed doc 7 → top-5 tf·idf terms → OR query → top-10 similar docs
    * (seed excluded). */
  def qMltQuery(spark: SparkSession, sf: String): DataFrame = {
    val terms = qMltTerms(spark, sf).collect().map(_.getString(0)).toSeq
    scoredHits(spark, sf, terms)
      .where(col("doc_id") =!= 7)
      .groupBy(col("doc_id")).agg(sum(col("score")).as("s"))
      .select(col("doc_id"), round(col("s"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
  }
  val oMltQuery: String =
    s"""$OracleCtes, mlt AS (
       |  SELECT term FROM tf JOIN df USING (term) CROSS JOIN stats
       |  WHERE doc_id = 7
       |  ORDER BY round(tf * ln(stats.maxdoc * 1.0e0 / df.df), 6) DESC, term LIMIT 5
       |), scored AS (
       |  SELECT tf.doc_id, $OracleScore AS score
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
       |  WHERE tf.term IN (SELECT term FROM mlt)
       |)
       |SELECT doc_id, round(sum(score), 6) AS score FROM scored
       |WHERE doc_id <> 7 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** ToParentBlockJoinQuery analog (reference: Join/ToParentBlockJoinQuery
    * .cs): children (lineitems over a predicate) score their parent order,
    * ScoreMode.Total = sum. */
  def qBlockJoin(spark: SparkSession, sf: String): DataFrame = {
    val orders = spark.read.parquet(s"$sf/orders.parquet").select(col("o_orderkey"))
    // integer cents x (100 - discount-percent): the sum is exact, so the
    // result is independent of aggregation order (a double sum would
    // diverge between engines in the last ulp and flip round(3) edges)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))).as("c"))
    orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(sum(col("c")) / lit(10000.0), 3).as("score"))
      .orderBy(col("score").desc, col("o_orderkey")).limit(10)
  }
  val oBlockJoin: String =
    """SELECT o_orderkey,
      |  round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0e0, 3) AS score
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_quantity > 45
      |GROUP BY 1 ORDER BY score DESC, o_orderkey LIMIT 10""".stripMargin

  /** Block-join ScoreMode.Max / ScoreMode.Avg (reference:
    * Join/ToParentBlockJoinQuery.cs ScoreMode enum — Total is
    * `q_block_join`, None ≙ the semi joins): the parent's score is the
    * max / mean of its matching children's scores. Exact integer cents
    * keep both aggregates order-independent; avg divides two exact longs
    * in double once, identically in both engines. */
  def qBlockJoinModes(spark: SparkSession, sf: String): DataFrame = {
    val orders = spark.read.parquet(s"$sf/orders.parquet").select(col("o_orderkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))).as("c"))
    orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(max(col("c")) / lit(10000.0), 3).as("max_score"),
        round(sum(col("c")) / (count(lit(1)) * lit(10000.0)), 3).as("avg_score"))
      .orderBy(col("max_score").desc, col("o_orderkey")).limit(10)
  }
  val oBlockJoinModes: String =
    """WITH c AS (
      |  SELECT o_orderkey,
      |    CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS c
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_quantity > 45
      |)
      |SELECT o_orderkey,
      |  round(max(c) / 10000.0e0, 3) AS max_score,
      |  round(CAST(sum(c) AS BIGINT) / (count(*) * 10000.0e0), 3) AS avg_score
      |FROM c GROUP BY 1 ORDER BY max_score DESC, o_orderkey LIMIT 10""".stripMargin

  /** ToParentBlockJoinSortField analog (reference:
    * Join/ToParentBlockJoinSortField.cs, Join/ToParentBlockJoinFieldComparer
    * .cs Lowest/Highest; Misc/Index/Sorter/BlockJoinComparerSource.cs):
    * parent ordering driven by a CHILD-level field — the Lowest comparer
    * ranks each parent by the minimum qualifying child value, the Highest
    * by the maximum (the childFilter selects which children participate).
    * One combinable min/max aggregation per parent + a bounded top-k: no
    * window, scales as a plain groupBy. Cents kept integer so both
    * engines order identically. */
  def qBlockJoinSort(spark: SparkSession, sf: String): DataFrame = {
    val orders = spark.read.parquet(s"$sf/orders.parquet").select(col("o_orderkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 48) // childFilter
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
    orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(min(col("c")) / lit(100.0), 2).as("lowest_child"),
        round(max(col("c")) / lit(100.0), 2).as("highest_child"))
      .orderBy(col("lowest_child"), col("o_orderkey")).limit(20)
  }
  val oBlockJoinSort: String =
    """WITH c AS (
      |  SELECT o_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_quantity > 48
      |)
      |SELECT o_orderkey,
      |  round(min(c) / 100.0e0, 2) AS lowest_child,
      |  round(max(c) / 100.0e0, 2) AS highest_child
      |FROM c GROUP BY 1 ORDER BY lowest_child, o_orderkey LIMIT 20""".stripMargin

  /** ToParentBlockJoinCollector analog (reference:
    * Join/ToParentBlockJoinCollector.cs GetTopGroups): the block-join
    * result as TopGroups — the top-N parents ranked by their
    * ScoreMode.Total child score, each carrying its top-k child hits in
    * child-sort order (score desc, position asc). Shape: one combinable
    * parent aggregation + bounded top-N, then a broadcast join back to
    * ONLY the winners' children and a rank window partitioned by parent
    * (a partition is one parent's children, never corpus-wide). */
  def qBlockJoinCollector(spark: SparkSession, sf: String): DataFrame = {
    val orders = spark.read.parquet(s"$sf/orders.parquet").select(col("o_orderkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"),
        (round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))).as("c"))
    val children = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("c"))
    val topParents = children.groupBy(col("o_orderkey"))
      .agg(sum(col("c")).as("ps"))
      .orderBy(col("ps").desc, col("o_orderkey")).limit(5)
    val w = Window.partitionBy(col("o_orderkey"))
      .orderBy(col("c").desc, col("l_linenumber"))
    children.join(broadcast(topParents.withColumnRenamed("o_orderkey", "pk")),
        col("o_orderkey") === col("pk"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 2)
      .select(col("o_orderkey"),
        round(col("ps") / lit(10000.0), 3).as("parent_score"),
        col("l_linenumber"),
        round(col("c") / lit(10000.0), 3).as("child_score"))
      .orderBy(col("parent_score").desc, col("o_orderkey"),
        col("child_score").desc, col("l_linenumber"))
  }
  val oBlockJoinCollector: String =
    """WITH c AS (
      |  SELECT o_orderkey, l_linenumber,
      |    CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS c
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_quantity > 45
      |), p AS (
      |  SELECT o_orderkey, CAST(sum(c) AS BIGINT) AS ps FROM c GROUP BY 1
      |  ORDER BY ps DESC, o_orderkey LIMIT 5
      |), r AS (
      |  SELECT c.o_orderkey, c.l_linenumber, c.c, p.ps,
      |    row_number() OVER (PARTITION BY c.o_orderkey
      |                       ORDER BY c.c DESC, c.l_linenumber) AS rk
      |  FROM c JOIN p ON c.o_orderkey = p.o_orderkey
      |)
      |SELECT o_orderkey,
      |  round(ps / 10000.0e0, 3) AS parent_score,
      |  l_linenumber,
      |  round(c / 10000.0e0, 3) AS child_score
      |FROM r WHERE rk <= 2
      |ORDER BY parent_score DESC, o_orderkey, child_score DESC, l_linenumber""".stripMargin

  // ------------------------------------------------------- relational ops

  /** Query-time semi-join (JoinUtil analog) on TPC-H tables. */
  def qJoinSemi(spark: SparkSession, sf: String): DataFrame = {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .where(col("c_mktsegment") === "BUILDING")
    orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority")).agg(count("*").as("n"))
      .orderBy(col("o_orderpriority"))
  }
  val oJoinSemi: String =
    """SELECT o_orderpriority, count(*) AS n FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Score-carrying query-time join (reference:
    * Lucene.Net.Join/TermsIncludingScoreQuery.cs, JoinUtil ScoreMode
    * Total): from-side scores (order totals) aggregate per join key and
    * ride onto the to-side docs (customers), ranked by the joined score.
    * Integer-cents aggregation keeps the sum order-independent. */
  def qJoinScores(spark: SparkSession, sf: String): DataFrame = {
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
    val s = o.groupBy(col("o_custkey")).agg(sum(col("c")).as("cs"))
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    cust.join(s, cust("c_custkey") === s("o_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("cs") / lit(100.0), 2).as("score"))
      .orderBy(col("score").desc, col("c_custkey")).limit(20)
  }
  val oJoinScores: String =
    """SELECT c_custkey, c_mktsegment,
      |  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0e0, 2) AS score
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY score DESC, c_custkey LIMIT 20""".stripMargin

  /** Query-time join score modes (reference: Lucene.Net.Join/JoinUtil.cs
    * + TermsWithScoreCollector.cs — ScoreMode.{Total, Avg, Max, None}):
    * Total is q_join_scores; here Avg and Max over the same exact-cents
    * frame (integer order-independence keeps both engines bit-equal; the
    * avg divides the exact sum by the count in one explicit double
    * division) plus the None-mode matched-child count. */
  def qJoinScoreModes(spark: SparkSession, sf: String): DataFrame = {
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
    val agg = o.groupBy(col("o_custkey")).agg(
      sum(col("c")).as("cs"), max(col("c")).as("cm"), count(lit(1)).as("n"))
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"))
    cust.join(agg, cust("c_custkey") === agg("o_custkey"))
      .select(col("c_custkey"),
        round(col("cs").cast("double") / col("n").cast("double") / 100.0, 2)
          .as("avg_score"),
        round(col("cm").cast("double") / 100.0, 2).as("max_score"),
        col("n").as("n_matched"))
      .orderBy(col("avg_score").desc, col("c_custkey")).limit(20)
  }
  val oJoinScoreModes: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders
      |), agg AS (
      |  SELECT o_custkey, CAST(sum(c) AS BIGINT) AS cs, max(c) AS cm,
      |         count(*) AS n
      |  FROM o GROUP BY o_custkey
      |)
      |SELECT c_custkey,
      |  round(cs * 1.0e0 / n / 100.0e0, 2) AS avg_score,
      |  round(cm * 1.0e0 / 100.0e0, 2) AS max_score,
      |  n AS n_matched
      |FROM customer JOIN agg ON o_custkey = c_custkey
      |ORDER BY avg_score DESC, c_custkey LIMIT 20""".stripMargin

  /** Parent→child block-join navigation (reference:
    * Lucene.Net.Join/ToChildBlockJoinQuery.cs): parents matching a
    * predicate return their CHILD docs. */
  def qChildJoin(spark: SparkSession, sf: String): DataFrame = {
    val parents = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
      .select(col("o_orderkey"))
    spark.read.parquet(s"$sf/lineitem.parquet")
      .join(broadcast(parents), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber")).limit(50)
  }
  val oChildJoin: String =
    """SELECT l_orderkey, l_linenumber FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
      |ORDER BY l_orderkey, l_linenumber LIMIT 50""".stripMargin

  /** Anti-join (customers without orders). */
  def qJoinAnti(spark: SparkSession, sf: String): DataFrame = {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count("*").as("n"))
      .orderBy(col("c_mktsegment"))
  }
  val oJoinAnti: String =
    """SELECT c_mktsegment, count(*) AS n FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Grouped aggregation (TPC-H Q1 shape). */
  def qAggQ1(spark: SparkSession, sf: String): DataFrame = {
    spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count("*").as("n"),
        round(sum(col("l_quantity")), 3).as("sum_qty"),
        // exact integer cents x (100 - disc%): aggregation-order-proof
        round(sum(round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))) / lit(10000.0), 3)
          .as("revenue"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  val oAggQ1: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 3) AS sum_qty,
      |  round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0e0, 3) AS revenue
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Windowed event aggregation (streaming-shaped, run as batch). */
  def qEventsWindow(spark: SparkSession, sf: String): DataFrame = {
    spark.read.parquet(s"$sf/events.parquet")
      .groupBy(date_trunc("minute", col("ts")).as("m"), col("event_type"))
      .agg(count("*").as("n"),
        // sum exact integer milli-units — aggregation-order-proof
        round(sum(round(col("value") * 1000, 0)) / lit(1000.0), 3).as("v"))
      .orderBy(col("m"), col("event_type"))
  }
  val oEventsWindow: String =
    """SELECT date_trunc('minute', ts) AS m, event_type, count(*) AS n,
      |  round(sum(round(value * 1000)) / 1000.0e0, 3) AS v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "q_term_topk" -> qTermTopk _,
    "q_nrt_topk" -> qNrtTopk _,
    "q_addindexes_topk" -> qAddIndexesTopk _,
    "q_phrase" -> qPhrase _,
    "q_phrase_pos" -> qPhrasePos _,
    "q_phrase_sloppy" -> qPhraseSloppy _,
    "q_phrase_sloppy_pos" -> qPhraseSloppyPos _,
    "q_multi_phrase" -> qMultiPhrase _,
    "q_multi_phrase_sloppy" -> qMultiPhraseSloppy _,
    "q_span_near" -> qSpanNear _,
    "q_span_or" -> qSpanOr _,
    "q_span_first" -> qSpanFirst _,
    "q_span_range" -> qSpanRange _,
    "q_parse_simple" -> qParseSimple _,
    "q_parse_xml" -> qParseXml _,
    "q_fuzzy_like_this" -> qFuzzyLikeThis _,
    "q_surround" -> qSurround _,
    "q_expr_sort" -> qExprSort _,
    "q_spatial_bbox" -> qSpatialBbox _,
    "q_spatial_indexed" -> qSpatialIndexed _,
    "q_spatial_distance" -> qSpatialDistance _,
    "q_spatial_cells" -> qSpatialCells _,
    "q_geohash_cells" -> qGeohashCells _,
    "q_spatial_args" -> qSpatialArgs _,
    "q_percolate" -> qPercolate _,
    "q_percolate_phrase" -> qPercolatePhrase _,
    "q_percolate_join" -> qPercolateJoin _,
    "q_duplicate_filter" -> qDuplicateFilter _,
    "q_slow_fuzzy" -> qSlowFuzzy _,
    "q_sortedset_sort" -> qSortedSetSort _,
    "q_ord_field" -> qOrdField _,
    "q_facet_sampled" -> qFacetSampled _,
    "q_facet_assoc" -> qFacetAssoc _,
    "q_facet_valuesource" -> qFacetValueSource _,
    "q_facet_range_overlap" -> qFacetRangeOverlap _,
    "q_facet_range_double" -> qFacetRangeDouble _,
    "q_chained_filter" -> qChainedFilter _,
    "q_split_pk" -> qSplitPk _,
    "q_word_breaks" -> qWordBreaks _,
    "q_word_combine" -> qWordCombine _,
    "q_shingle_df" -> qShingleDf _,
    "q_edge_ngram" -> qEdgeNgram _,
    "q_wildcard_leading" -> qWildcardLeading _,
    "q_split_search" -> qSplitSearch _,
    "q_sorted_early" -> qSortedEarly _,
    "q_field_term" -> qFieldTerm _,
    "q_bool_should" -> qBoolShould _,
    "q_bool_must" -> qBoolMust _,
    "q_bool_mustnot" -> qBoolMustNot _,
    "q_min_should_match" -> qMinShouldMatch _,
    "q_dismax" -> qDisMax _,
    "q_dismax_tiebreak" -> qDisMaxTieBreak _,
    "q_lmjm_topk" -> qLmjmTopk _,
    "q_dfr_topk" -> qDfrTopk _,
    "q_custom_score" -> qCustomScore _,
    "q_value_sources" -> qValueSources _,
    "q_boosting" -> qBoosting _,
    "q_suggest_infix" -> qSuggestInfix _,
    "q_suggest_blended" -> qSuggestBlended _,
    "q_suggest_freetext" -> qSuggestFreetext _,
    "q_fold_term" -> qFoldTerm _,
    "q_group_distinct" -> qGroupDistinct _,
    "q_group_distinct_values" -> qGroupDistinctValues _,
    "q_terms_filter" -> qTermsFilter _,
    "q_group_heads" -> qGroupHeads _,
    "q_group_searchafter" -> qGroupSearchAfter _,
    "q_group_facet" -> qGroupFacet _,
    "q_searchafter" -> qSearchAfter _,
    "q_prefix_df" -> qPrefixDf _,
    "q_prefix_wide" -> qPrefixWide _,
    "q_fuzzy_df" -> qFuzzyDf _,
    "q_fuzzy_topk" -> qFuzzyTopk _,
    "q_range_df" -> qRangeDf _,
    "q_wildcard_df" -> qWildcardDf _,
    "q_term_vector" -> qTermVector _,
    "q_suggest" -> qSuggest _,
    "q_suggest_fuzzy" -> qSuggestFuzzy _,
    "q_spell" -> qSpell _,
    "q_spell_ranked" -> qSpellRanked _,
    "q_drilldown" -> qDrilldown _,
    "q_drill_sideways" -> qDrillSideways _,
    "q_join_scores" -> qJoinScores _,
    "q_join_scoremodes" -> qJoinScoreModes _,
    "q_child_join" -> qChildJoin _,
    "q_doc_lengths" -> qDocLengths _,
    "q_collection_stats" -> qCollectionStats _,
    "q_dict_topdf" -> qDictTopDf _,
    "q_high_freq_ttf" -> qHighFreqTtf _,
    "q_pulsing" -> qPulsing _,
    "q_decompound" -> qDecompound _,
    "q_ngram_phrase" -> qNgramPhrase _,
    "q_hunspell" -> qHunspell _,
    "q_kuromoji" -> qKuromoji _,
    "q_kuromoji_search" -> qKuromojiSearch _,
    "q_smartcn" -> qSmartcn _,
    "q_stempel" -> qStempel _,
    "q_kstem" -> qKStem _,
    "q_beider_morse" -> qBeiderMorse _,
    "q_icu_tokenize" -> qIcuTokenize _,
    "q_pattern_tokenize" -> qPatternTokenize _,
    "q_mapping_charfilter" -> qMappingCharfilter _,
    "q_strip_html_offsets" -> qStripHtmlOffsets _,
    "q_decompound_hyph" -> qDecompoundHyph _,
    "q_parse_ext" -> qParseExt _,
    "q_path_hierarchy" -> qPathHierarchy _,
    "q_synonym_multi" -> qSynonymMulti _,
    "q_auto_stopwords" -> qAutoStopwords _,
    "q_parallel_fields" -> qParallelFields _,
    "q_facet_lang" -> qFacetLang _,
    "q_facet_dl_hist" -> qFacetDlHist _,
    "q_facet_path" -> qFacetPath _,
    "q_group_top2" -> qGroupTop2 _,
    "q_group_sortfield" -> qGroupSortField _,
    "q_mlt_terms" -> qMltTerms _,
    "q_mlt_query" -> qMltQuery _,
    "q_block_join" -> qBlockJoin _,
    "q_block_join_modes" -> qBlockJoinModes _,
    "q_block_join_sort" -> qBlockJoinSort _,
    "q_block_join_collector" -> qBlockJoinCollector _,
    "q_count" -> qCount _,
    "q_sort_fields" -> qSortFields _,
    "q_common_terms" -> qCommonTerms _,
    "q_rescore" -> qRescore _,
    "q_highlight" -> qHighlight _,
    "q_highlight_offsets" -> qHighlightOffsets _,
    "q_highlight_phrase" -> qHighlightPhrase _,
    "q_passage_topk" -> qPassageTopk _,
    "q_join_semi" -> qJoinSemi _,
    "q_join_anti" -> qJoinAnti _,
    "q_agg_q1" -> qAggQ1 _,
    "q_events_window" -> qEventsWindow _)

  val oracles: Map[String, String] = Map(
    "q_term_topk" -> oTermTopk,
    "q_nrt_topk" -> oNrtTopk,
    "q_addindexes_topk" -> oAddIndexesTopk,
    "q_phrase" -> oPhrase,
    "q_phrase_pos" -> oPhrasePos,
    "q_phrase_sloppy" -> oPhraseSloppy,
    "q_phrase_sloppy_pos" -> oPhraseSloppyPos,
    "q_multi_phrase" -> oMultiPhrase,
    "q_multi_phrase_sloppy" -> oMultiPhraseSloppy,
    "q_span_near" -> oSpanNear,
    "q_span_or" -> oSpanOr,
    "q_span_first" -> oSpanFirst,
    "q_span_range" -> oSpanRange,
    "q_parse_simple" -> oParseSimple,
    "q_parse_xml" -> oParseXml,
    "q_fuzzy_like_this" -> oFuzzyLikeThis,
    "q_surround" -> oSurround,
    "q_expr_sort" -> oExprSort,
    "q_spatial_bbox" -> oSpatialBbox,
    "q_spatial_indexed" -> oSpatialIndexed,
    "q_spatial_distance" -> oSpatialDistance,
    "q_spatial_cells" -> oSpatialCells,
    "q_geohash_cells" -> oGeohashCells,
    "q_spatial_args" -> oSpatialArgs,
    "q_percolate" -> oPercolate,
    "q_percolate_phrase" -> oPercolatePhrase,
    "q_percolate_join" -> oPercolatePhrase,
    "q_duplicate_filter" -> oDuplicateFilter,
    "q_slow_fuzzy" -> oSlowFuzzy,
    "q_sortedset_sort" -> oSortedSetSort,
    "q_ord_field" -> oOrdField,
    "q_facet_sampled" -> oFacetSampled,
    "q_facet_assoc" -> oFacetAssoc,
    "q_facet_valuesource" -> oFacetValueSource,
    "q_facet_range_overlap" -> oFacetRangeOverlap,
    "q_facet_range_double" -> oFacetRangeDouble,
    "q_chained_filter" -> oChainedFilter,
    "q_split_pk" -> oSplitPk,
    "q_word_breaks" -> oWordBreaks,
    "q_word_combine" -> oWordCombine,
    "q_shingle_df" -> oShingleDf,
    "q_edge_ngram" -> oEdgeNgram,
    "q_wildcard_leading" -> oWildcardLeading,
    "q_split_search" -> oSplitSearch,
    "q_sorted_early" -> oSortedEarly,
    "q_field_term" -> oFieldTerm,
    "q_bool_should" -> oBoolShould,
    "q_bool_must" -> oBoolMust,
    "q_bool_mustnot" -> oBoolMustNot,
    "q_min_should_match" -> oMinShouldMatch,
    "q_dismax" -> oDisMax,
    "q_dismax_tiebreak" -> oDisMaxTieBreak,
    "q_lmjm_topk" -> oLmjmTopk,
    "q_dfr_topk" -> oDfrTopk,
    "q_custom_score" -> oCustomScore,
    "q_value_sources" -> oValueSources,
    "q_boosting" -> oBoosting,
    "q_suggest_infix" -> oSuggestInfix,
    "q_suggest_blended" -> oSuggestBlended,
    "q_suggest_freetext" -> oSuggestFreetext,
    "q_fold_term" -> oFoldTerm,
    "q_group_distinct" -> oGroupDistinct,
    "q_group_distinct_values" -> oGroupDistinctValues,
    "q_terms_filter" -> oTermsFilter,
    "q_group_heads" -> oGroupHeads,
    "q_group_searchafter" -> oGroupSearchAfter,
    "q_group_facet" -> oGroupFacet,
    "q_searchafter" -> oSearchAfter,
    "q_prefix_df" -> oPrefixDf,
    "q_prefix_wide" -> oPrefixWide,
    "q_fuzzy_df" -> oFuzzyDf,
    "q_fuzzy_topk" -> oFuzzyTopk,
    "q_range_df" -> oRangeDf,
    "q_wildcard_df" -> oWildcardDf,
    "q_term_vector" -> oTermVector,
    "q_suggest" -> oSuggest,
    "q_suggest_fuzzy" -> oSuggestFuzzy,
    "q_spell" -> oSpell,
    "q_spell_ranked" -> oSpellRanked,
    "q_drilldown" -> oDrilldown,
    "q_drill_sideways" -> oDrillSideways,
    "q_join_scores" -> oJoinScores,
    "q_join_scoremodes" -> oJoinScoreModes,
    "q_child_join" -> oChildJoin,
    "q_doc_lengths" -> oDocLengths,
    "q_collection_stats" -> oCollectionStats,
    "q_dict_topdf" -> oDictTopDf,
    "q_high_freq_ttf" -> oHighFreqTtf,
    "q_pulsing" -> oPulsing,
    "q_decompound" -> oDecompound,
    "q_ngram_phrase" -> oNgramPhrase,
    "q_hunspell" -> oHunspell,
    "q_kuromoji" -> oKuromoji,
    "q_kuromoji_search" -> oKuromojiSearch,
    "q_smartcn" -> oSmartcn,
    "q_stempel" -> oStempel,
    "q_kstem" -> oKStem,
    "q_beider_morse" -> oBeiderMorse,
    "q_icu_tokenize" -> oIcuTokenize,
    "q_pattern_tokenize" -> oPatternTokenize,
    "q_mapping_charfilter" -> oMappingCharfilter,
    "q_strip_html_offsets" -> oStripHtmlOffsets,
    "q_decompound_hyph" -> oDecompoundHyph,
    "q_parse_ext" -> oParseExt,
    "q_path_hierarchy" -> oPathHierarchy,
    "q_synonym_multi" -> oSynonymMulti,
    "q_auto_stopwords" -> oAutoStopwords,
    "q_parallel_fields" -> oParallelFields,
    "q_facet_lang" -> oFacetLang,
    "q_facet_dl_hist" -> oFacetDlHist,
    "q_facet_path" -> oFacetPath,
    "q_group_top2" -> oGroupTop2,
    "q_group_sortfield" -> oGroupSortField,
    "q_mlt_terms" -> oMltTerms,
    "q_mlt_query" -> oMltQuery,
    "q_block_join" -> oBlockJoin,
    "q_block_join_modes" -> oBlockJoinModes,
    "q_block_join_sort" -> oBlockJoinSort,
    "q_block_join_collector" -> oBlockJoinCollector,
    "q_count" -> oCount,
    "q_sort_fields" -> oSortFields,
    "q_common_terms" -> oCommonTerms,
    "q_rescore" -> oRescore,
    "q_highlight" -> oHighlight,
    "q_highlight_offsets" -> oHighlightOffsets,
    "q_highlight_phrase" -> oHighlightPhrase,
    "q_passage_topk" -> oPassageTopk,
    "q_join_semi" -> oJoinSemi,
    "q_join_anti" -> oJoinAnti,
    "q_agg_q1" -> oAggQ1,
    "q_events_window" -> oEventsWindow)
}
