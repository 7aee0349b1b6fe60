package graft.ops

import graft.analysis.Analyzer
import graft.build.{IndexBuilder, IndexPaths, PostingRow, CollectionStatsRow}
import graft.corpus.SourceFile
import graft.postings.PostingsCodec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine index over the driver's `documents` testdata table, used by the
  * DuckDB-oracled verification queries.
  *
  * The documents table is mapped into the corpus shape with
  * `path = zero-padded doc_id`, so the engine's deterministic docId
  * assignment (global sort by repo/path/commit) reproduces `doc_id`
  * exactly — query outputs expose original ids without a join.
  *
  * Tokenization for these queries is the SQL-replicable regex analyzer
  * (Analyzer.sqlParity): `regexp_extract_all(lower(text), '[a-z0-9_]+')`
  * on both sides. Scoring for oracle parity is double-precision BM25 over
  * exact doc lengths (the float/byte315 reference path is covered by the
  * ScalaTest goldens instead, where bit-exactness is asserted against
  * closed-form math).
  */
object DocIndex {
  /** bump when the on-disk index format changes (invalidates caches) */
  private val FormatVersion = 6

  private def cacheDir(sfDir: String): String = {
    val key = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    s"/tmp/graft-index-v$FormatVersion-$key"
  }

  def documentsAsCorpus(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        lit("c").as("repo"),
        format_string("%010d", $"doc_id").as("path"),
        lit("0" * 40).as("commit"),
        $"lang",
        $"text".as("content"),
        sha2($"text", 256).as("sha256"))
      .as[SourceFile]
  }

  /** Build (or reuse) the index for a scale-factor dir; returns index dir. */
  def ensure(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir)
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      IndexBuilder.build(spark, documentsAsCorpus(spark, sfDir), dir,
        numPartitions = 8, resume = true, analyzerFor = _ => Analyzer.sqlParity)
    }
    dir
  }

  /** High-cardinality corpus (customer names → ~1 distinct numeric term
    * per row) for exercising the wide-expansion CONSTANT_SCORE_AUTO
    * fallback: at sf0.01 a '0' prefix matches ~1500 dictionary terms,
    * past the 1024-clause budget. */
  def customersAsCorpus(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select(
        lit("c").as("repo"),
        format_string("%010d", $"c_custkey").as("path"),
        lit("0" * 40).as("commit"),
        lit("txt").as("lang"),
        $"c_name".as("content"),
        sha2($"c_name", 256).as("sha256"))
      .as[SourceFile]
  }

  /** Multi-field documents index: content (analyzed) + lang/path keyword
    * fields (exact `"field:value"` terms — the FieldInfos analog). Kept
    * separate from the default cache so the single-field oracle queries'
    * dictionaries and stats stay byte-identical. */
  def ensureFielded(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-fielded"
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      IndexBuilder.build(spark, documentsAsCorpus(spark, sfDir), dir,
        numPartitions = 8, resume = true, analyzerFor = _ => Analyzer.sqlParity,
        keywordFields = Seq("lang", "path"))
    }
    dir
  }

  /** Keyword-fields-ONLY index over the same corpus (no text tokens —
    * the secondary side of a ParallelIndexReader: bolting metadata
    * fields onto an existing text index without re-indexing it). */
  def ensureKeywordOnly(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-kwonly"
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      IndexBuilder.build(spark, documentsAsCorpus(spark, sfDir), dir,
        numPartitions = 8, resume = true,
        analyzerFor = _ => new Analyzer(Set.empty, tokenizer = _ => Array.empty),
        keywordFields = Seq("lang", "path"))
    }
    dir
  }

  /** Documents index with the positions sidecar (indexPositions = true):
    * phrase/span queries on it read positions instead of re-analyzing. */
  def ensurePositions(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-pos"
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      IndexBuilder.build(spark, documentsAsCorpus(spark, sfDir), dir,
        numPartitions = 8, resume = true, analyzerFor = _ => Analyzer.sqlParity,
        indexPositions = true)
    }
    dir
  }

  /** Synthetic CJK corpus over the documents table's doc_ids: content =
    * a deterministic digit string rendered as Han ideographs
    * (translate 0-9 → 零一二三四五六七八九), so the CJK bigram analyzer
    * emits one ideograph-pair term per character position and an oracle
    * can re-derive phrase matches as plain substring counts over the
    * digit string. Every doc_id ≡ 0 (mod 3) embeds the needle '1234';
    * the rest embed its reversal; '9' separators stop cross-field spans. */
  def cjkDocsAsCorpus(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id",
        concat($"doc_id".cast("string"), lit("9"),
          when($"doc_id" % 3 === 0, lit("1234")).otherwise(lit("4321")),
          lit("9"), ($"doc_id" % 1000).cast("string")).as("s"))
      .select(
        lit("c").as("repo"),
        format_string("%010d", $"doc_id").as("path"),
        lit("0" * 40).as("commit"),
        lit("zh").as("lang"),
        translate($"s", "0123456789", "零一二三四五六七八九").as("content"),
        sha2(translate($"s", "0123456789", "零一二三四五六七八九"), 256).as("sha256"))
      .as[SourceFile]
  }

  /** CJK-bigram positions index over [[cjkDocsAsCorpus]] (the
    * NGramPhraseQuery gate's index: gram terms at consecutive
    * positions). */
  def ensureCjk(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-cjk"
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      IndexBuilder.build(spark, cjkDocsAsCorpus(spark, sfDir), dir,
        numPartitions = 4, resume = true, analyzerFor = _ => Analyzer.cjk,
        indexPositions = true)
    }
    dir
  }

  /** Documents index with positions AND char offsets (the full
    * ..._AND_OFFSETS IndexOptions level): highlighting reads offsets
    * from the index instead of re-analyzing stored content. */
  def ensureOffsets(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-off"
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      IndexBuilder.build(spark, documentsAsCorpus(spark, sfDir), dir,
        numPartitions = 8, resume = true, analyzerFor = _ => Analyzer.sqlParity,
        indexPositions = true, indexOffsets = true)
    }
    dir
  }

  /** Two INDEPENDENTLY built half-corpus indexes (docIds both starting at
    * 0) merged into one standalone index via
    * [[graft.build.AddIndexes.addIndexes]]. Because the halves split the
    * corpus in its global sort order (path == zero-padded doc_id) and the
    * merge renumbers densely in input order, the merged docIds equal the
    * single-index ids — so the merged index must reproduce single-index
    * answers bit for bit. */
  def ensureMerged(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-merged"
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      import spark.implicits._
      val corpus = documentsAsCorpus(spark, sfDir)
      val n = corpus.count()
      val cut = f"${n / 2}%010d"
      val dirA = dir + "-a"
      val dirB = dir + "-b"
      IndexBuilder.build(spark, corpus.filter($"path" < cut), dirA,
        numPartitions = 8, resume = true, analyzerFor = _ => Analyzer.sqlParity)
      IndexBuilder.build(spark, corpus.filter($"path" >= cut), dirB,
        numPartitions = 8, resume = true, analyzerFor = _ => Analyzer.sqlParity)
      graft.build.AddIndexes.addIndexes(spark, Seq(dirA, dirB), dir,
        numPartitions = 8)
    }
    dir
  }

  /** Two-generation STREAMING index over the documents table (NRT path):
    * the corpus split into two micro-batches by doc_id, each a committed
    * generation under `root/gen=NNNNNN`. Because the split respects the
    * global corpus sort order and generation 1 builds with docIdBase past
    * generation 0, the union view's docIds equal the single-index ids —
    * so the NRT reader must reproduce single-index answers exactly. */
  def ensureNrt(spark: SparkSession, sfDir: String): String = synchronized {
    val root = cacheDir(sfDir) + "-nrt"
    if (graft.streaming.StreamingIndexer.generations(spark, root).size < 2) {
      import spark.implicits._
      val corpus = documentsAsCorpus(spark, sfDir)
      val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
      val cut = format_string("%010d", lit(n / 2))
      graft.streaming.StreamingIndexer.appendBatch(spark,
        corpus.filter(col("path") < cut), root, batchId = 0,
        numPartitions = 4, analyzerFor = _ => Analyzer.sqlParity)
      graft.streaming.StreamingIndexer.appendBatch(spark,
        corpus.filter(col("path") >= cut), root, batchId = 1,
        numPartitions = 4, analyzerFor = _ => Analyzer.sqlParity)
    }
    root
  }

  /** 3-way contiguous-range split of the default documents index
    * (IndexSplitter — the Misc MultiPassIndexSplitter/PKIndexSplitter
    * analog); shards preserve docIds, so the multi-reader union must
    * reproduce single-index answers bit-for-bit. */
  def ensureSplit(spark: SparkSession, sfDir: String): Seq[String] = synchronized {
    val root = cacheDir(sfDir) + "-split"
    val dirs = (0 until 3).map(graft.build.IndexSplitter.shardDir(root, _))
    val done = dirs.forall(d => IndexBuilder.stageDone(spark, d, "stats"))
    if (done) dirs
    else graft.build.IndexSplitter.split(spark, ensure(spark, sfDir), root,
      numShards = 3, numPartitions = 4)
  }

  /** Documents index with the reversed-dictionary sidecar built
    * (leading-wildcard seek). Idempotent; the sidecar is
    * dictionary-sized. */
  def ensureReversed(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = ensure(spark, sfDir)
    val p = new org.apache.hadoop.fs.Path(IndexPaths.termDictRev(dir))
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      graft.build.ReversedDict.build(spark, dir, numPartitions = 4)
    dir
  }

  /** PK split of the documents index (PKIndexSplitter analog): docs with
    * lang == 'en' → shard 0, the rest → shard 1. Returns (en, rest). */
  def ensureSplitPk(spark: SparkSession, sfDir: String): (String, String) = synchronized {
    val root = cacheDir(sfDir) + "-pksplit"
    val dirs = (0 until 2).map(graft.build.IndexSplitter.shardDir(root, _))
    val done = dirs.forall(d => IndexBuilder.stageDone(spark, d, "stats"))
    if (done) (dirs(0), dirs(1))
    else graft.build.IndexSplitter.splitByFilter(spark, ensure(spark, sfDir), root,
      org.apache.spark.sql.functions.col("lang") === "en", numPartitions = 4)
  }

  /** Pulsed rewrite of the documents index (Pulsing41PostingsFormat
    * analog, freqCutoff=1): hapax terms' postings inlined into the term
    * dictionary, postings table holding only df>1 terms. Sidecars/stats
    * stay in the base index by design. */
  def ensurePulsed(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-pulsed"
    val done = new org.apache.hadoop.fs.Path(s"${IndexPaths.termDict(dir)}/_SUCCESS")
    if (!done.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(done))
      graft.postings.Pulsing.write(spark, ensure(spark, sfDir), dir,
        freqCutoff = 1, numPartitions = 4)
    dir
  }

  /** Documents index rewritten in (tokenCount, docId) sort order
    * (IndexSorter — the Misc SortingMergePolicy analog): shortest docs
    * first, so sort-matching queries early-terminate on leading blocks. */
  def ensureSorted(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-sorted"
    if (!IndexBuilder.stageDone(spark, dir, "stats"))
      graft.build.IndexSorter.sortBy(spark, ensure(spark, sfDir), dir,
        "tokenCount", numPartitions = 4)
    dir
  }

  def ensureWide(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = cacheDir(sfDir) + "-cust"
    if (!IndexBuilder.stageDone(spark, dir, "stats")) {
      IndexBuilder.build(spark, customersAsCorpus(spark, sfDir), dir,
        numPartitions = 4, resume = true, analyzerFor = _ => Analyzer.sqlParity)
    }
    dir
  }

  def collectionStats(spark: SparkSession, dir: String): CollectionStatsRow = {
    import spark.implicits._
    spark.read.parquet(IndexPaths.collectionStats(dir)).as[CollectionStatsRow].head()
  }

  /** Decoded hits (doc_id, term, tf) for a set of terms — one pruned
    * postings scan + block decode. */
  def hits(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.parquet(IndexPaths.postings(dir))
      .where($"term".isin(terms.distinct: _*))
      .select(PostingRow.columns: _*).as[PostingRow]
      .flatMap { r =>
        val (docIds, tfs, _) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
        docIds.indices.map(i => (docIds(i), r.term, tfs(i).toLong))
      }.toDF("doc_id", "term", "tf")
  }

  /** Double-precision BM25 score column, structured EXACTLY like the oracle
    * SQL expression so both engines compute bit-identical doubles:
    * ln(1 + (N - df + 0.5)/(df + 0.5)) * 2.2 * tf
    *   / (tf + 1.2*(0.25 + 0.75*(dl/avgdl))) */
  def bm25d(tf: Column, df: Column, dl: Column, maxDoc: Long, avgdl: Double): Column =
    log(lit(1.0) + (lit(maxDoc.toDouble) - df + lit(0.5)) / (df + lit(0.5))) *
      lit(2.2) * tf / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (dl / lit(avgdl))))

  /** Scored hits (doc_id, term, tf, dl, score) for terms — engine tables
    * only: postings decode + term_dict df + docstats doc length. */
  def scoredHits(spark: SparkSession, sfDir: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val dir = ensure(spark, sfDir)
    val cs = collectionStats(spark, dir)
    val avgdl = cs.sumTotalTermFreq * 1.0 / cs.maxDoc
    val h = hits(spark, dir, terms)
    val dict = spark.read.parquet(IndexPaths.termDict(dir))
      .where($"term".isin(terms.distinct: _*)).select($"term", $"df")
    val dl = spark.read.parquet(IndexPaths.docstats(dir))
      .select($"docId".as("doc_id"), $"tokenCount".cast("long").as("dl"))
    h.join(broadcast(dict), Seq("term"))
      .join(dl, Seq("doc_id")) // docstats join: exact dl for double scoring
      .withColumn("score",
        bm25d($"tf".cast("double"), $"df".cast("double"), $"dl".cast("double"),
          cs.maxDoc, avgdl))
  }

  // ----------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE prefix: tokenize documents + tf/dl/df/stats. All
    * constants in e-notation so DuckDB keeps the math in DOUBLE (its bare
    * decimals are DECIMAL-typed and would diverge). */
  val OracleCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
      |), stats AS (
      |  SELECT (SELECT count(*) FROM documents) AS maxdoc,
      |         (SELECT count(*) FROM tok) AS sumttf
      |), df AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |)""".stripMargin

  /** The oracle score expression (same shape as [[bm25d]]). */
  val OracleScore: String =
    "ln(1.0e0 + (stats.maxdoc * 1.0e0 - df.df + 0.5e0) / (df.df + 0.5e0))" +
      " * 2.2e0 * tf.tf / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 *" +
      " (dl.dl / (stats.sumttf * 1.0e0 / stats.maxdoc))))"

  /** Scored-hits oracle subquery for a term list. */
  def oracleScored(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""$OracleCtes, scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dl.dl, $OracleScore AS score
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
       |  WHERE tf.term IN ($inList)
       |)""".stripMargin
  }
}
