package graft.search

import graft.bm25.BM25
import graft.build.{CollectionStatsRow, DocStatRow, IndexPaths, PositionsRow, PostingRow, Tables, TermDictRow}
import graft.postings.PostingsCodec
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Point-in-time view over the index tables (≙ IndexReader/MultiFields,
  * reference: /root/reference/src/Lucene.Net/Index/IndexReader.cs). Pulls
  * global statistics once per query, like CreateNormalizedWeight
  * (IndexSearcher.cs:720-732). [[MultiIndexReader]] overrides the table
  * accessors to span several segment-generation indexes.
  *
  * A reader pins its table handles: each table is opened (file listing
  * and parquet schema read) on first use and reused by every later query,
  * and the handles are `@transient`, so a reader captured in a closure
  * never ships a DataFrame. Generation directories are immutable, so this
  * is the same point-in-time contract tombstones already follow (loaded
  * once per [[Searcher]]). After rebuilding a directory IN PLACE, open a
  * new reader (the DirectoryReader.openIfChanged contract). */
class IndexReader(val spark: SparkSession, val dir: String) extends Serializable {
  import spark.implicits._

  lazy val collectionStats: CollectionStatsRow =
    Tables.read[CollectionStatsRow](spark, IndexPaths.collectionStats(dir))
      .as[CollectionStatsRow].head()

  /** Directories whose data tables this view spans — every optional-
    * sidecar probe requires the sidecar in all of them. */
  def dataDirs: Seq[String] = Seq(dir)

  /** Opens one data table across [[dataDirs]] (one relation, one listing). */
  protected def open(path: String => String): DataFrame =
    spark.read.parquet(dataDirs.map(path): _*)

  /** [[open]] with the schema of the table's one row type `T`, so the
    * open runs no schema-inference job. term_dict is not opened this way:
    * a pulsed dictionary carries extra inline-postings columns. */
  protected def openAs[T <: Product : scala.reflect.runtime.universe.TypeTag](
      path: String => String): DataFrame =
    Tables.read[T](spark, dataDirs.map(path): _*)

  @transient lazy val postings: DataFrame = openAs[PostingRow](IndexPaths.postings)
  @transient lazy val docstats: DataFrame = openAs[DocStatRow](IndexPaths.docstats)
  @transient lazy val termDict: DataFrame = open(IndexPaths.termDict)
  /** The dictionary rows as stored, one per term per data dir — what
    * [[termStats]] reads; a multi-generation [[termDict]] re-aggregates
    * them relationally. */
  @transient protected lazy val storedTermDict: DataFrame = termDict
  /** Stored fields (≙ the compressed row store) — phrase verification
    * re-reads candidate docs' content from here. */
  @transient lazy val docsTable: DataFrame =
    dataDirs.map(d => graft.build.DocsTable.read(spark, d)).reduce(_ unionByName _)

  /** Typed postings blocks of `terms` — the one postings scan every
    * reader path shares; the term filter prunes parquet row groups on the
    * sorted term column, further `where`s push into the same scan. */
  def postingRows(terms: Seq[String]): Dataset[PostingRow] =
    allPostingRows.where($"term".isin(terms.distinct: _*))

  /** Every postings block, typed (narrowed by the caller's `where`/join). */
  private[search] def allPostingRows: Dataset[PostingRow] =
    postings.select(PostingRow.columns: _*).as[PostingRow]

  /** Per-doc term vector (reference: term vectors are a per-doc mini
    * inverted index, Codecs/Compressing/CompressingTermVectorsWriter.cs;
    * here recovered from the postings via block-metadata docId pruning —
    * only blocks whose [firstDocId, lastDocId] straddle the doc decode). */
  def termVector(docId: Long): DataFrame =
    allPostingRows
      .where($"firstDocId" <= docId && $"lastDocId" >= docId)
      .flatMap { r =>
        val (ids, tfs, _) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
        val i = java.util.Arrays.binarySearch(ids, docId)
        if (i >= 0) Iterator.single((r.term, tfs(i))) else Iterator.empty
      }.toDF("term", "tf")

  /** True when the index was built with `indexPositions = true` (the
    * DOCS_AND_FREQS_AND_POSITIONS option): phrase queries then read the
    * positions sidecar instead of re-analyzing stored content. */
  lazy val hasPositions: Boolean = allHave(dataDirs, IndexPaths.positions)
  @transient lazy val positions: DataFrame = openAs[PositionsRow](IndexPaths.positions)

  /** True when the index carries the char-offset sidecar (the
    * ..._AND_OFFSETS level, reference: Index/FieldInfo.cs:373-397) —
    * highlighting then reads offsets from the index instead of
    * re-analyzing stored content (the PostingsHighlighter idea,
    * reference: PostingsHighlight/PostingsHighlighter.cs:74). */
  lazy val hasOffsets: Boolean = allHave(dataDirs, IndexPaths.offsets)
  @transient lazy val offsets: DataFrame = openAs[PositionsRow](IndexPaths.offsets)

  /** True when the index carries the per-position payload sidecar (the
    * .pay stream analog — reference: Index/Payload semantics and the
    * Search/Payloads query family). */
  lazy val hasPayloads: Boolean = allHave(dataDirs, IndexPaths.payloads)
  @transient lazy val payloads: DataFrame = openAs[PositionsRow](IndexPaths.payloads)

  /** The postings blocks of `terms` joined to their aligned blocks in a
    * `sidecar` table (positions, offsets and payloads share the postings'
    * block boundaries), both scans parquet-pruned by the sorted term
    * column: (term, firstDocId, numDocs, postings bytes, sidecar bytes). */
  private[search] def sidecarBlocks(sidecar: DataFrame, terms: Seq[String])
      : Dataset[(String, Long, Int, Array[Byte], Array[Byte])] = {
    val distinct = terms.distinct
    val t = postings.where($"term".isin(distinct: _*))
      .select($"term", $"firstDocId", $"numDocs", $"bytes")
      .toDF("term", "firstDocId", "tn", "tbytes")
    val s = sidecar.where($"term".isin(distinct: _*))
      .select($"term", $"firstDocId", $"bytes").toDF("term", "firstDocId", "sbytes")
    t.join(s, Seq("term", "firstDocId"))
      .select($"term", $"firstDocId", $"tn", $"tbytes", $"sbytes")
      .as[(String, Long, Int, Array[Byte], Array[Byte])]
  }

  /** (docId, term, tf, normByte, per-position payloads) for a term set,
    * decoded from the aligned postings/payloads blocks. */
  def termPayloadRows(terms: Seq[String])
      : Dataset[(Long, String, Int, Int, Array[Array[Byte]])] =
    sidecarBlocks(payloads, terms)
      .flatMap { case (term, firstDocId, n, tbytes, ybytes) =>
        val (ids, tfs, norms) = PostingsCodec.decodeBlock(firstDocId, n, tbytes)
        val pays = PostingsCodec.decodePayloadsBlock(n, ybytes)
        ids.indices.iterator.map(i => (ids(i), term, tfs(i), norms(i), pays(i)))
      }

  /** (docId, term, flattened [s0,e0,s1,e1,…] char offsets) for a term
    * set, decoded from the aligned postings/offsets blocks. */
  def termOffsetRows(terms: Seq[String]): Dataset[(Long, String, Array[Int])] =
    sidecarBlocks(offsets, terms)
      .flatMap { case (term, firstDocId, n, tbytes, obytes) =>
        val (ids, _, _) = PostingsCodec.decodeBlock(firstDocId, n, tbytes)
        val offs = PostingsCodec.decodeOffsetsBlock(n, obytes)
        ids.indices.iterator.map(i => (ids(i), term, offs(i)))
      }

  /** True when the optional bloom sidecar exists for this index
    * (graft.build.BloomFilter.build — the BloomFilteringPostingsFormat
    * analog). Checked once per reader. Probed on [[tombstoneDirs]], not
    * [[dataDirs]]: [[termStats]] consults the filter of every dir whose
    * terms the dictionary holds, and a [[ParallelIndexReader]]'s dataDirs
    * is its primary alone while its dictionary unions every side. */
  private lazy val hasBloom: Boolean =
    allHave(tombstoneDirs, graft.build.BloomFilter.path)

  /** Stats pull for query terms — one tiny dictionary lookup job,
    * parquet-pruned by the sorted term column (≙ the FST term-index seek,
    * reference: Codecs/BlockTreeTermsReader.cs). A term's rows from
    * several generations merge on the driver ([[TermDictRow.merge]], the
    * same sums and maxes [[MultiIndexReader.termDict]] computes), so the
    * lookup never needs a shuffle. When the bloom sidecar
    * is present, definitely-absent terms are dropped FIRST (k point reads
    * each) so a miss never touches the dictionary — the
    * BloomFilteringPostingsFormat short circuit; at cross-shard fan-out
    * scale most shards lack most terms and this is the common case. */
  def termStats(terms: Seq[String]): Map[String, TermDictRow] = {
    val distinct = terms.distinct
    val candidates =
      if (hasBloom)
        distinct.filter(t => tombstoneDirs.exists(d =>
          graft.build.BloomFilter.mightContain(spark, d, t)))
      else distinct
    if (candidates.isEmpty) Map.empty
    else storedTermDict.where($"term".isin(candidates: _*)).as[TermDictRow]
      .collect().groupBy(_.term).map { case (t, rows) => t -> rows.reduce(TermDictRow.merge) }
  }

  /** Term-dictionary expansion for multi-term queries (MultiTermQuery
    * rewrite, reference: Search/MultiTermQuery.cs:69-160). Returns None
    * past maxExpansions (≙ BooleanQuery.MaxClauseCount, BooleanQuery.cs:
    * 71) — the caller then takes the CONSTANT_SCORE_AUTO fallback
    * (reference: ConstantScoreAutoRewrite.cs): a constant-score postings
    * semi-join against the matched dictionary range, instead of the
    * reference 4.8 throw or a 10^5-clause scoring union. */
  def expandTermsOpt(pred: org.apache.spark.sql.Column,
                     maxExpansions: Int = 1024): Option[Seq[String]] = {
    val ts = termDict.where(pred).select($"term").as[String]
      .limit(maxExpansions + 1).collect()
    if (ts.length > maxExpansions) None else Some(ts.toSeq)
  }

  def expandTerms(pred: org.apache.spark.sql.Column, maxExpansions: Int = 1024): Seq[String] =
    expandTermsOpt(pred, maxExpansions).getOrElse(
      throw new IllegalArgumentException(
        s"multi-term query expands to more than $maxExpansions terms"))

  /** True when every listed dir carries the sidecar at `path` — the
    * presence gate every optional-sidecar feature shares (single,
    * multi-generation and parallel readers alike). */
  protected def allHave(ds: Seq[String], path: String => String): Boolean =
    ds.forall { d =>
      val p = new org.apache.hadoop.fs.Path(path(d))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

  /** The dictionary alphabet across `ds`: union of the build-time
    * first-chars sidecars when all present, else derived once from this
    * reader's (possibly unioned/re-aggregated) termDict. */
  protected def firstCharsAcross(ds: Seq[String]): Seq[Char] = {
    import spark.implicits._
    if (allHave(ds, graft.build.IndexPaths.termFirstChars))
      spark.read.parquet(ds.map(graft.build.IndexPaths.termFirstChars): _*)
        .distinct().as[String]
        .collect().toSeq.filter(_.nonEmpty).map(_.charAt(0)).distinct.sorted
    else
      termDict.select(substring($"term", 1, 1).as("c"))
        .where(length($"c") > 0).distinct().as[String]
        .collect().toSeq.filter(_.nonEmpty).map(_.charAt(0)).sorted
  }

  /** True when the reversed-dictionary sidecar exists
    * ([[graft.build.ReversedDict]]) — leading wildcards then SEEK a
    * reversed-prefix range instead of scanning the whole dictionary. On a
    * multi-generation view EVERY generation must carry it: a head-only
    * check would silently drop matches living in newer generations, so
    * otherwise the multi-term path scans the dictionary (correct, slower). */
  lazy val hasReversedDict: Boolean = allHave(dataDirs, IndexPaths.termDictRev)
  @transient lazy val termDictRev: DataFrame = open(IndexPaths.termDictRev)

  /** Expand a pure-suffix pattern (`*literal`) on the reversed
    * dictionary: a prefix range on rterm, parquet min/max-pruned like
    * any forward prefix seek; terms come back in their forward form. */
  def expandSuffixOpt(suffix: String,
      maxExpansions: Int = 1024): Option[Seq[String]] = {
    val rp = graft.analysis.TokenFilters.reverse(suffix)
    val pred =
      if (rp.isEmpty) lit(true)
      else DictSeek.succ(rp) match {
        case hi if hi == null => $"rterm" >= rp
        case hi => $"rterm" >= rp && $"rterm" < hi
      }
    val ts = termDictRev.where(pred).select($"term").as[String]
      .limit(maxExpansions + 1).collect()
    if (ts.length > maxExpansions) None else Some(ts.toSeq)
  }

  /** The dictionary's alphabet (distinct first characters) — read from the
    * tiny build-time sidecar when present, else derived once per reader.
    * Feeds the fuzzy range banding ([[DictSeek.fuzzyRanges]]). */
  lazy val termFirstChars: Seq[Char] = firstCharsAcross(dataDirs)

  /** Directories whose tombstone tables apply to this view. */
  def tombstoneDirs: Seq[String] = Seq(dir)
}

object IndexReader {
  /** NRT view over multiple segment-generation indexes WITHOUT compaction
    * (≙ DirectoryReader over uncommitted DWPT segments — reference:
    * Index/DirectoryReader.cs:113 `Open(writer, …)` + MultiFields): the
    * streaming indexer's generations are searchable as one index the
    * moment each commits. */
  def multi(spark: SparkSession, dirs: Seq[String]): IndexReader =
    new MultiIndexReader(spark, dirs)

  /** Point-in-time reader pinned to a snapshot
    * ([[graft.build.Snapshots]], the SnapshotDeletionPolicy analog):
    * liveDocs resolve from the snapshot's pinned tombstone set, so
    * deletes issued after the pin don't change this reader's results.
    * All data tables are immutable and shared with the live reader. */
  def atSnapshot(spark: SparkSession, dir: String, snapshotId: Long): IndexReader =
    new IndexReader(spark, dir) {
      override def tombstoneDirs: Seq[String] =
        Seq(graft.build.Snapshots.snapDir(dir, snapshotId))
    }
}

/** Union view over generation indexes: docId spaces are disjoint ascending
  * by construction (each generation built with `docIdBase` past its
  * predecessors), so postings/docstats/sidecar tables simply union (one
  * multi-path relation each, via [[dataDirs]]), while the dictionary and
  * collection stats re-aggregate on the fly — exactly what
  * [[graft.streaming.StreamingIndexer.compact]] materializes, read
  * virtually. Scores equal the compacted index's bit-for-bit because the
  * aggregated statistics are the same sums. */
final class MultiIndexReader(spark0: SparkSession, dirs: Seq[String])
    extends IndexReader(spark0, dirs.head) {
  require(dirs.nonEmpty, "no generation dirs")
  import spark.implicits._

  override def dataDirs: Seq[String] = dirs

  /** One read over every generation's stats row, summed driver-side. */
  override lazy val collectionStats: CollectionStatsRow = {
    val all = openAs[CollectionStatsRow](IndexPaths.collectionStats).as[CollectionStatsRow].collect()
    CollectionStatsRow(
      maxDoc = all.map(_.maxDoc).sum,
      docCount = all.map(_.docCount).sum,
      sumTotalTermFreq = all.map(_.sumTotalTermFreq).sum,
      sumDocFreq = all.map(_.sumDocFreq).sum)
  }

  @transient override protected lazy val storedTermDict: DataFrame =
    open(IndexPaths.termDict)

  /** Per-term stats re-aggregate across generations (df/ttf sum, bounds
    * max) — the MultiFields.Terms merge, done relationally. */
  @transient override lazy val termDict: DataFrame =
    storedTermDict
      .groupBy($"term")
      .agg(sum($"df").as("df"), sum($"totalTf").as("totalTf"),
        max($"maxTf").as("maxTf"), max($"maxNorm").as("maxNorm"))

  // distinct: the same (rterm, term) row can appear in several
  // generations and would otherwise count against maxExpansions twice
  @transient override lazy val termDictRev: DataFrame =
    open(IndexPaths.termDictRev).distinct()

  override def tombstoneDirs: Seq[String] = dirs
}

private final case class ClauseHit(docId: Long, idx: Int, score: Float)

object Searcher {
  /** FuzzyQuery's TOP_TERMS budget (reference: FuzzyQuery
    * defaultMaxExpansions = 50). */
  val FuzzyMaxExpansions = 50
}

/** BM25 top-k search over the index tables (≙ IndexSearcher, reference:
  * Search/IndexSearcher.cs:282-500, restated in SURVEY.md §3.2).
  *
  * Physical shape per query:
  *   - dictionary stats lookup (tiny job) → weights computed driver-side;
  *   - postings scan filtered to the query terms (parquet min/max pruning
  *     on the sorted term column), block decode behind block-max WAND
  *     pruning (public literature: Broder et al.; Ding & Suel BMW — the
  *     reference predates WAND, SURVEY.md §2.4 note);
  *   - conjunction candidates pre-pruned by the rarest term's block
  *     intervals (≙ leapfrog skipping, ConjunctionScorer.cs:84-124);
  *   - per-partition bounded HitQueue heaps, merged on the driver in
  *     the same job ([[TopK]] ≙ TopDocs.Merge).
  *
  * Float determinism: clause scores are summed in clause-declaration order
  * per doc (the reference's in-order sum, DisjunctionSumScorer.cs:59-85);
  * coord = queryNorm = 1 under BM25 (Similarity.cs:122-143).
  */
final class Searcher(val reader: IndexReader, pruneMinBlocks: Int = 64,
    analyzerFor: String => graft.analysis.Analyzer = graft.analysis.Analyzer.forLang,
    maxClauseCount: Int = 1024)
    extends Serializable with Explains {
  private val spark = reader.spark
  import spark.implicits._

  private lazy val cs = reader.collectionStats
  private lazy val cache: Array[Float] =
    BM25.normCache(BM25.avgFieldLength(cs.sumTotalTermFreq, cs.maxDoc))

  /** liveDocs analog: tombstoned docIds are filtered out of every result
    * (stats intentionally unchanged until Deletes.expunge, like the
    * reference's deleted-docs-still-count-in-idf behavior). A multi-
    * generation reader unions every generation's tombstones. */
  private lazy val tombstones: Option[DataFrame] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val paths = reader.tombstoneDirs.map(graft.build.Deletes.tombstonesPath)
      .filter { s =>
        val p = new org.apache.hadoop.fs.Path(s)
        p.getFileSystem(hconf).exists(p)
      }
    if (paths.isEmpty) None
    else Some(spark.read.parquet(paths: _*)
      .select($"docId".as("exDocId")).distinct())
  }

  private def liveOnly(ds: Dataset[ScoreDoc]): Dataset[ScoreDoc] = tombstones match {
    case None => ds
    case Some(t) => ds.join(t, ds("docId") === t("exDocId"), "left_anti").as[ScoreDoc]
  }

  // ------------------------------------------------------------- rewrite

  /** Term range [lo, hi) as a parquet-prunable predicate. */
  private def rangePred(lo: String, hi: String): org.apache.spark.sql.Column =
    if (hi == null) $"term" >= lo else $"term" >= lo && $"term" < hi

  /** SEEK-shaped conjunct for a literal prefix: empty prefix → no
    * narrowing (full scan unavoidable). */
  private def prefixRangePred(p: String): org.apache.spark.sql.Column =
    if (p.isEmpty) lit(true) else rangePred(p, DictSeek.succ(p))

  /** Dictionary predicate of a multi-term query node, or None. Every
    * branch leads with a term-RANGE conjunct parquet min/max stats can
    * prune on the sorted dictionary (the seek), then the exact residual
    * match (rlike/levenshtein) — the relational restatement of the
    * reference's automaton ∩ term dictionary walk
    * (Index/AutomatonTermsEnum.cs, Search/FuzzyTermsEnum.cs). */
  private[search] def multiTermPred(q: Query): Option[org.apache.spark.sql.Column] = q match {
    case PrefixQ(p, _) => Some($"term".startsWith(p))
    case WildcardQ(pat, _) =>
      val rx = "^" + pat.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
        case c => c.toString
      } + "$"
      Some(prefixRangePred(DictSeek.wildcardPrefix(pat)) && $"term".rlike(rx))
    case RegexpQ(rx, _) =>
      Some(prefixRangePred(DictSeek.regexpPrefix(rx)) &&
        $"term".rlike("^(?:" + rx + ")$"))
    case FuzzyQ(t, maxEdits, _) =>
      val exact = levenshtein($"term", lit(t)) <= maxEdits &&
        abs(length($"term") - lit(t.length)) <= maxEdits
      Some(DictSeek.fuzzyRanges(t, maxEdits, reader.termFirstChars) match {
        case Some(ranges) if ranges.nonEmpty =>
          ranges.map(r => rangePred(r._1, r._2)).reduce(_ || _) && exact
        case Some(_) => lit(false) // empty alphabet → nothing can match
        case None => exact // banding not applicable: full scan
      })
    case TermRangeQ(lo, hi, inclLo, inclHi, _) =>
      val loP = if (lo == null) lit(true) else if (inclLo) $"term" >= lo else $"term" > lo
      val hiP = if (hi == null) lit(true) else if (inclHi) $"term" <= hi else $"term" < hi
      Some(loP && hiP)
    case _ => None
  }

  private def multiTermBoost(q: Query): Float = q match {
    case PrefixQ(_, b) => b
    case WildcardQ(_, b) => b
    case RegexpQ(_, b) => b
    case FuzzyQ(_, _, b) => b
    case TermRangeQ(_, _, _, _, b) => b
    case _ => 1f
  }

  /** Fixpoint rewrite (≙ IndexSearcher.Rewrite, :667-670): multi-term
    * expansion (CONSTANT_SCORE_AUTO: the node survives un-expanded past
    * the 1024-clause budget and scores constant via a postings semi-join,
    * reference: MultiTermQuery.cs:69, ConstantScoreAutoRewrite.cs) +
    * boolean simplification. */
  def rewrite(q: Query): Query = q match {
    case FuzzyQ(t, maxEdits, b) =>
      // reference FuzzyQuery default rewrite: TOP_TERMS(50) with per-term
      // boost = similarity = 1 - edits/min(|candidate|, |query|)
      // (FuzzyQuery.cs:108, FuzzyTermsEnum.cs:436,
      // TopTermsRewrite ranking: boost desc, then term). Ranking and
      // truncation happen INSIDE the Spark job (TakeOrdered over the
      // banded dictionary scan) — only the surviving 50 rows reach the
      // driver. Sort key d/min(len,|q|) asc is order-equivalent to the
      // float similarity desc (distinct small-integer ratios are spaced
      // far wider than float epsilon), with the same term-asc tie-break.
      // `length` here counts CODEPOINTS, same as the boost's
      // codePointCount below: Spark strings are UTF8String and
      // Length → UTF8String.numChars() walks UTF-8 lead bytes, so a
      // supplementary-plane char is 1 — asserted by SearchSpec
      // ("fuzzy ranking key counts codepoints").
      val qLen = t.codePointCount(0, t.length)
      val cand = reader.termDict
        .where(multiTermPred(q).get)
        .select($"term", levenshtein($"term", lit(t)).as("d"))
        .orderBy((col("d").cast("double") /
          least(length($"term"), lit(qLen)).cast("double")).asc, $"term".asc)
        .limit(Searcher.FuzzyMaxExpansions)
        .collect().map(r => (r.getString(0), r.getInt(1)))
      val scored = cand.map { case (term, d) =>
        val sim = 1f - d.toFloat /
          math.min(term.codePointCount(0, term.length), qLen).toFloat
        (term, sim)
      }.sortBy { case (term, sim) => (-sim, term) }
      scored.toSeq match {
        case Seq() => BoolQ() // matches nothing
        case Seq((one, sim)) => TermQ(one, b * sim)
        case many => BoolQ(should = many.map { case (term, sim) =>
          TermQ(term, b * sim) })
      }
    // leading wildcard `*suffix` with the reversed-dictionary sidecar
    // present: a PREFIX seek over rterm (ReverseStringFilter's
    // documented purpose) replaces the full dictionary scan; wide
    // expansions fall through to the generic constant-score path
    case WildcardQ(pat, b) if pat.length > 1 && pat.head == '*' &&
        !pat.substring(1).exists(c => c == '*' || c == '?') &&
        reader.hasReversedDict =>
      reader.expandSuffixOpt(pat.substring(1), maxClauseCount) match {
        case Some(ts) => orOf(ts, b)
        case None => WildcardQ(pat, b) // wide: semi-join in scoredRaw
      }
    case mt if multiTermPred(mt).isDefined =>
      reader.expandTermsOpt(multiTermPred(mt).get, maxClauseCount) match {
        case Some(ts) => orOf(ts, multiTermBoost(mt))
        case None => mt // wide: constant-score semi-join in scoredRaw
      }
    // ComplexPhraseQueryParser semantics: each part expands to a
    // MultiPhraseQ slot (a multi-term part → its dictionary matches); an
    // empty expansion means the phrase can never match
    case ComplexPhraseQ(parts, slop, b) =>
      val slots = parts.map {
        case TermQ(t, _) => Seq(t)
        case PhraseQ(Seq(t), _, _, _) => Seq(t)
        case mt if multiTermPred(mt).isDefined =>
          reader.expandTerms(multiTermPred(mt).get, maxClauseCount)
        case other => throw new IllegalArgumentException(
          s"complex-phrase part must be a term or multi-term query: $other")
      }
      if (slots.exists(_.isEmpty)) BoolQ() // matches nothing
      else MultiPhraseQ(slots, slop, b)
    // minNrShouldMatch above the SHOULD-clause count can never be
    // satisfied — the reference matches nothing (BooleanQuery.cs
    // minimumNumberShouldMatch contract); without this guard the
    // single-MUST collapse below would silently drop the constraint
    case bq: BoolQ if bq.minShouldMatch > bq.should.size => BoolQ()
    case BoolQ(Seq(single), Nil, Nil, _, boost) if boost == 1f => rewrite(single)
    case bq: BoolQ => bq.copy(must = bq.must.map(rewrite),
      should = bq.should.map(rewrite), mustNot = bq.mustNot.map(rewrite))
    case ng: NGramPhraseQ => rewrite(ng.optimized)
    case ConstantScoreQ(sub, b) => ConstantScoreQ(rewrite(sub), b)
    case DisMaxQ(qs, tb) => DisMaxQ(qs.map(rewrite), tb)
    case FunctionScoreQ(sub, e) => FunctionScoreQ(rewrite(sub), e)
    case BoostingQ(pos, ctx, b) => BoostingQ(rewrite(pos), rewrite(ctx), b)
    case other => other
  }

  private def orOf(terms: Seq[String], boost: Float): Query = terms match {
    case Seq() => BoolQ() // matches nothing
    case Seq(one) => TermQ(one, boost)
    case many => BoolQ(should = many.map(TermQ(_)), boost = boost)
  }

  // ------------------------------------------------------------- scoring

  /** Full scored Dataset for a query — the composable scorer tree. Exact
    * scores, no pruning (also the brute-force oracle path for tests). */
  def scored(q: Query): Dataset[ScoreDoc] = {
    val rq = rewrite(q)
    liveOnly(scoredRaw(rq, reader.termStats(leafTerms(rq))))
  }

  /** Every term whose dictionary stats scoring a rewritten tree reads —
    * term, phrase and multi-phrase leaves under any composite. Entry
    * points look them all up in ONE [[IndexReader.termStats]] call and
    * thread the map through every scorer (absent terms are absent keys). */
  private def leafTerms(q: Query): Seq[String] = q match {
    case TermQ(t, _) => Seq(t)
    case PhraseQ(ts, _, _, _) => ts
    case SparsePhraseQ(parts, _) => parts.map(_._1)
    case MultiPhraseQ(slots, _, _) => slots.flatten
    case BoolQ(must, should, mustNot, _, _) => (must ++ should ++ mustNot).flatMap(leafTerms)
    case DisMaxQ(qs, _) => qs.flatMap(leafTerms)
    case ConstantScoreQ(sub, _) => leafTerms(sub)
    case FunctionScoreQ(sub, _) => leafTerms(sub)
    case BoostingQ(pos, ctx, _) => leafTerms(pos) ++ leafTerms(ctx)
    case _ => Nil
  }

  /** Scores an ALREADY-REWRITTEN tree — every entry point calls
    * [[rewrite]] exactly once, so the dictionary probes a multi-term
    * rewrite needs are never repeated (the reference caches its rewrite
    * the same way, IndexSearcher.cs:667-670); `stats` covers the
    * [[leafTerms]] of the whole tree. */
  private def scoredRaw(q: Query, stats: Map[String, TermDictRow]): Dataset[ScoreDoc] = q match {
    case TermQ(t, boost) =>
      scoredTerms(Seq(t -> boost), theta = 0f, stats).map(h => ScoreDoc(h.docId, h.score))
    case MatchAllQ(boost) =>
      reader.docstats.select($"docId").as[Long].map(ScoreDoc(_, boost))
    case ConstantScoreQ(sub, boost) =>
      scoredRaw(sub, stats).map(sd => ScoreDoc(sd.docId, boost))
    case dm @ DisMaxQ(qs, tieBreak) =>
      val hits = unionClauses(qs, stats)
      hits.groupByKey(_.docId).mapGroups { (docId, it) =>
        // the reference sums sub-scorer scores in clause order
        // (DisjunctionMaxScorer.cs) — buffer and sort by clause idx so the
        // float sum under tieBreak > 0 is shuffle-arrival-order independent
        val buf = it.toArray
        java.util.Arrays.sort(buf, Ordering.by((h: ClauseHit) => h.idx))
        var max = Float.NegativeInfinity
        var sum = 0f
        buf.foreach { h => sum += h.score; if (h.score > max) max = h.score }
        ScoreDoc(docId, max + tieBreak * (sum - max))
      }
    case FunctionScoreQ(subQ, expr) =>
      // hits = the sub-query's hits; score = expr(subScore, doc values).
      // The doc-length value source reads the EXACT docstats tokenCount
      // (a stored numeric, like the reference's ValueSource), not the
      // lossy norm byte; evaluated per hit inside the join, no driver hop.
      val dl = reader.docstats
        .select($"docId", $"tokenCount".cast("float").as("dl")).as[(Long, Float)]
      val subScores = scoredRaw(subQ, stats)
      subScores.joinWith(dl, subScores("docId") === dl("docId"))
        .map { case (sd, (_, len)) =>
          ScoreDoc(sd.docId, ScoreExpr.eval(expr, sd.score, len)) }
    case BoostingQ(pos, ctx, b) =>
      // reference BoostingQuery: context matches multiply the positive
      // score by contextBoost; context alone never matches — a left outer
      // join against the context's docId set (tuple-typed so an unmatched
      // row decodes as a null tuple, not a primitive default)
      val posScores = scoredRaw(pos, stats)
      val ctxDocs = scoredRaw(ctx, stats).map(_.docId).distinct().map(id => (id, true))
      posScores.joinWith(ctxDocs, posScores("docId") === ctxDocs("_1"), "left_outer")
        .map { case (sd, matched) =>
          if (matched == null) sd else ScoreDoc(sd.docId, sd.score * b)
        }
    case bq: BoolQ => scoredBool(bq, stats)
    case PhraseQ(terms, slop, boost, _) => scoredPhrase(terms, slop, boost, stats)
    case SparsePhraseQ(parts, boost) => scoredSparsePhrase(parts, boost, stats)
    case MultiPhraseQ(slots, slop, boost) => scoredMultiPhrase(slots, slop, boost, stats)
    case mt if multiTermPred(mt).isDefined =>
      // CONSTANT_SCORE_AUTO fallback: a wide multi-term query (dictionary
      // match past the clause budget) scores constant over the docs of
      // ANY matched term — postings ⋈ dict-range semi-join, block decode,
      // per-doc dedup; no driver-side term enumeration at all
      constantScoreMultiTerm(multiTermPred(mt).get, multiTermBoost(mt))
    case other => throw new IllegalStateException(s"unrewritten query: $other")
  }

  private def constantScoreMultiTerm(pred: org.apache.spark.sql.Column,
                                     boost: Float): Dataset[ScoreDoc] = {
    val matchedTerms = reader.termDict.where(pred).select($"term")
    reader.allPostingRows
      .join(matchedTerms, Seq("term"), "left_semi").as[PostingRow]
      .flatMap(r => PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)._1)
      .distinct()
      .map(ScoreDoc(_, boost))
  }

  // ------------------------------------------------------------- phrase

  /** Phrase scoring without a positions index — the FilteredQuery
    * QUERY_FIRST strategy (reference: Search/FilteredQuery.cs:536-575)
    * restated for Spark: the inverted index prunes to docs containing ALL
    * phrase terms (a docId conjunction join, usually a vanishing fraction
    * of the corpus), then ONLY those docs' stored content is re-analyzed
    * to verify positions and count phrase occurrences. At 100 TB the
    * candidate set after an AND of 2+ terms is small enough that
    * re-analysis is cheaper than carrying (and shuffling) a positions
    * column on every posting.
    *
    * Scoring matches the reference's ExactPhraseScorer: phraseFreq plays
    * tf in BM25, weight = Σ idf over phrase terms (BM25Similarity.cs:
    * 210-225), same norm byte as term scoring. Single-term phrases
    * rewrite to TermQuery (PhraseQuery.cs:175). slop > 0 runs the
    * reference-exact SloppyPhraseScorer traversal ([[SloppyPhrase]]):
    * out-of-order matches within slop, slop-factor-weighted float freq,
    * repeat-group collision handling. */
  private def scoredPhrase(terms: Seq[String], slop: Int, boost: Float,
                           stats: Map[String, TermDictRow]): Dataset[ScoreDoc] = {
    require(terms.nonEmpty, "empty phrase")
    if (terms.size == 1) return scoredRaw(TermQ(terms.head, boost), stats)
    if (!terms.forall(stats.contains)) return spark.emptyDataset[ScoreDoc]
    // idf sum over phrase terms in query order, duplicates included
    val weight = BM25.weightValue(
      terms.map(t => BM25.idf(stats(t).df, cs.maxDoc)).sum, boost)
    val localCache = cache
    val freqs: Dataset[(Long, Float, Int)] =
      if (reader.hasPositions) phraseFreqsFromIndex(terms, slop)
      else if (slop == 0)
        phraseFreqs(terms).map(t => (t._1, t._2.toFloat, t._3))
      else sloppyPhraseFreqs(terms, slop)
    freqs.map { case (docId, freq, norm) =>
      ScoreDoc(docId, BM25.score(freq, norm.toByte, weight, localCache))
    }
  }

  /** Exact phrase at EXPLICIT positions (PhraseQuery.Add(term, position)
    * / the NGramPhraseQuery rewrite target): anchor = a match of the
    * first part; every later part must sit exactly at anchor + its
    * relative position. Same BM25 framing as the dense exact phrase
    * (weight = Σ idf over the parts actually queried — the reference's
    * optimized PhraseQuery carries only the kept terms, so its weight
    * drops the skipped grams' idf the same way). Positions index
    * required — the positionless re-analysis fallback can't see gaps. */
  private def scoredSparsePhrase(parts: Seq[(String, Int)], boost: Float,
                                 stats: Map[String, TermDictRow]): Dataset[ScoreDoc] = {
    require(parts.nonEmpty, "empty sparse phrase")
    if (parts.size == 1) return scoredRaw(TermQ(parts.head._1, boost), stats)
    require(reader.hasPositions, "SparsePhraseQ requires a positions-enabled index")
    if (!parts.forall(p => stats.contains(p._1))) return spark.emptyDataset[ScoreDoc]
    val weight = BM25.weightValue(
      parts.map(p => BM25.idf(stats(p._1).df, cs.maxDoc)).sum, boost)
    val localCache = cache
    sparsePhraseFreqs(parts).map { case (docId, freq, norm) =>
      ScoreDoc(docId, BM25.score(freq, norm.toByte, weight, localCache))
    }
  }

  /** (docId, anchorCount, normByte) for a sparse phrase — the pruned
    * aligned postings+positions scans and the one docId shuffle of
    * [[phraseFreqsFromIndex]], with the binary-search walk offset by each
    * part's explicit relative position instead of `i`. */
  def sparsePhraseFreqs(parts: Seq[(String, Int)]): Dataset[(Long, Float, Int)] = {
    val sorted = parts.sortBy(_._2).toIndexedSeq
    val rels = sorted.map(p => p._2 - sorted.head._2)
    val termArr = sorted.map(_._1)
    val distinct = termArr.distinct
    val nDistinct = distinct.length
    val rows = termPositionRows(distinct)
    rows.groupByKey(_._1).flatMapGroups { (docId, it) =>
      val posBy = scala.collection.mutable.HashMap.empty[String, Array[Int]]
      var norm = 0
      it.foreach { case (_, term, ps, n) => posBy(term) = ps; norm = n }
      if (posBy.size < nDistinct) Iterator.empty
      else {
        var f = 0
        posBy(termArr.head).foreach { p =>
          var i = 1
          while (i < termArr.length &&
            java.util.Arrays.binarySearch(posBy(termArr(i)), p + rels(i)) >= 0) i += 1
          if (i == termArr.length) f += 1
        }
        if (f > 0) Iterator.single((docId, f.toFloat, norm)) else Iterator.empty
      }
    }
  }

  /** Phrase freqs straight from the positions sidecar — no content
    * re-analysis: pruned scans of the aligned postings + positions blocks
    * joined on (term, firstDocId), decoded to (docId, term, positions,
    * norm) rows, one docId shuffle, then the same exact/sloppy matching
    * the re-analysis path runs (bit-identical freqs — PositionsSpec).
    * This is the plan for the re-analysis worst case: phrases of very
    * common terms whose candidate set after conjunction is large. No
    * dictionary lookup: an unindexed term fails every doc's conjunction,
    * and the scoring caller has already checked its stats. */
  def phraseFreqsFromIndex(terms: Seq[String], slop: Int): Dataset[(Long, Float, Int)] = {
    val distinct = terms.distinct
    val phraseArr = terms.toIndexedSeq
    val nDistinct = distinct.length
    val rows = termPositionRows(distinct)
    rows.groupByKey(_._1).flatMapGroups { (docId, it) =>
      val posBy = scala.collection.mutable.HashMap.empty[String, Array[Int]]
      var norm = 0
      it.foreach { case (_, term, ps, n) => posBy(term) = ps; norm = n }
      if (posBy.size < nDistinct) Iterator.empty // conjunction fails
      else {
        val freq: Float =
          if (slop == 0) {
            var f = 0
            posBy(phraseArr.head).foreach { p =>
              var i = 1
              while (i < phraseArr.length &&
                java.util.Arrays.binarySearch(posBy(phraseArr(i)), p + i) >= 0) i += 1
              if (i == phraseArr.length) f += 1
            }
            f.toFloat
          } else SloppyPhrase.freq(phraseArr,
            t => posBy.getOrElse(t, Array.empty), slop)
        if (freq > 0f) Iterator.single((docId, freq, norm)) else Iterator.empty
      }
    }
  }

  /** (docId, term, positions, normByte) rows for a term set, decoded from
    * the aligned postings/positions blocks. */
  private def termPositionRows(distinct: Seq[String]): Dataset[(Long, String, Array[Int], Int)] =
    reader.sidecarBlocks(reader.positions, distinct)
      .flatMap { case (term, firstDocId, n, tbytes, pbytes) =>
        val (ids, _, norms) = PostingsCodec.decodeBlock(firstDocId, n, tbytes)
        val poss = PostingsCodec.decodePositionsBlock(n, pbytes)
        ids.indices.iterator.map(i => (ids(i), term, poss(i), norms(i)))
      }

  /** FastVectorHighlighter analog (reference: Highlighter/VectorHighlight/
    * FieldTermStack.cs + FieldPhraseList.cs): phrase-aware highlight spans
    * straight from the positions + offsets sidecars — our term-vector-
    * with-positions-and-offsets — so ONLY term occurrences that
    * participate in a full exact-phrase match are marked, and nothing is
    * re-analyzed. Returns the FIRST match per doc as
    * (docId, startOffset of the head term's matched occurrence,
    * endOffset of the tail term's matched occurrence).
    *
    * Shape: two parquet-pruned sidecar scans (terms pushed into the
    * sorted `term` column), one (docId, term) equi-join to align
    * positions with their occurrence-ordered offsets, one docId shuffle,
    * then the same binary-search phrase walk [[phraseFreqsFromIndex]]
    * runs. */
  def phraseHighlightSpans(terms: Seq[String]): Dataset[(Long, Int, Int)] = {
    val distinct = terms.distinct
    val stats = reader.termStats(distinct)
    if (!distinct.forall(stats.contains)) return spark.emptyDataset[(Long, Int, Int)]
    val phraseArr = terms.toIndexedSeq
    val n = phraseArr.length
    val nDistinct = distinct.length
    val pos = termPositionRows(distinct)
      .map { case (d, t, ps, _) => (d, t, ps) }.toDF("docId", "term", "ps")
    val off = reader.termOffsetRows(distinct).toDF("docId", "term", "offs")
    pos.join(off, Seq("docId", "term"))
      .as[(Long, String, Array[Int], Array[Int])]
      .groupByKey(_._1).flatMapGroups { (docId, it) =>
        val psBy = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        val offBy = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        it.foreach { case (_, t, ps, os) => psBy(t) = ps; offBy(t) = os }
        if (psBy.size < nDistinct) Iterator.empty
        else {
          val head = psBy(phraseArr.head)
          var out: Iterator[(Long, Int, Int)] = Iterator.empty
          var hi = 0
          while (out.isEmpty && hi < head.length) {
            val p = head(hi)
            var i = 1
            var tailIdx = hi // occurrence index of the LAST phrase term
            var ok = true
            while (ok && i < n) {
              val idx = java.util.Arrays.binarySearch(psBy(phraseArr(i)), p + i)
              if (idx < 0) ok = false else tailIdx = idx
              i += 1
            }
            if (ok) {
              val s = offBy(phraseArr.head)(2 * hi)
              val e = offBy(phraseArr(n - 1))(2 * tailIdx + 1)
              out = Iterator.single((docId, s, e))
            }
            hi += 1
          }
          out
        }
      }
  }

  /** PostingsHighlighter passage RANKING analog (reference:
    * PostingsHighlight/PostingsHighlighter.cs:74 scoring loop +
    * PassageScorer.cs:79-117): passages are fixed `window`-token slices
    * of the doc — the BreakIterator sentence segmentation re-imagined in
    * token space, because our passage geometry comes from the POSITIONS
    * sidecar, not re-analysis — and each passage is scored as a
    * miniature document with the reference's exact formulas (k1=1.2,
    * b=0.75; the 87-char sentence pivot re-based to `pivot` tokens):
    *   weight(dl, ttf) = (k1+1) · ln(1 + (1 + dl/pivot + 0.5)/(ttf + 0.5))
    *   tf(f, plen)     = f / (f + k1·((1−b) + b·plen/pivot))
    *   norm(start)     = 1 + 1/ln(pivot + start)
    *   score(passage)  = norm · Σ_t weight_t · tf_t
    * Returns one row per (doc, passage) containing ≥1 query-term hit:
    * (doc_id, passage, score), score a raw double.
    *
    * Shape: ONE parquet-pruned positions scan (terms pushed into the
    * sorted term column); the per-passage frequency histogram folds
    * inside each (doc, term) row — no per-position explode; then one
    * docstats join + one (doc, passage) map-side-combinable groupBy.
    * Highlighters only ever touch retrieved top-k docs, and every step
    * here is an equi-join or combinable agg — the 100 TB plan. */
  def passageScores(terms: Seq[String], window: Int = 10,
                    pivot: Double = 16.0): DataFrame = {
    val distinct = terms.distinct
    val perPassage = termPositionRows(distinct)
      .flatMap { case (docId, term, ps, _) =>
        val ttf = ps.length.toLong
        ps.groupBy(_ / window).iterator.map { case (pass, occ) =>
          (docId, term, ttf, pass.toLong, occ.length.toLong)
        }
      }.toDF("doc_id", "term", "ttf", "passage", "f")
    val dl = reader.docstats
      .select($"docId".as("doc_id"), $"tokenCount".cast("long").as("dl"))
    val k1 = 1.2
    val b = 0.75
    // expression shapes mirror the DuckDB oracle exactly (see
    // VerifyQueries.oPassageTopk) so the doubles are bit-identical
    val plen = least(lit(window.toLong), $"dl" - lit(window) * $"passage")
    val weight = lit(k1 + 1.0) *
      log(lit(1.0) + (lit(1.5) + $"dl" / lit(pivot)) / ($"ttf" + lit(0.5)))
    val tfw = $"f" / ($"f" + lit(k1) * (lit(1.0 - b) + lit(b) * plen / lit(pivot)))
    perPassage.join(dl, Seq("doc_id"))
      .select($"doc_id", $"passage", (weight * tfw).as("wt"))
      .groupBy($"doc_id", $"passage")
      .agg(sum($"wt").as("ws"))
      .select($"doc_id", $"passage",
        ((lit(1.0) + lit(1.0) / log(lit(pivot) + lit(window) * $"passage")) * $"ws")
          .as("score"))
  }

  /** (docId, sloppy phraseFreq, normByte) under the reference's
    * SloppyPhraseScorer semantics — same QUERY_FIRST frame as
    * [[phraseFreqs]], per-candidate matching delegated to
    * [[SloppyPhrase.freq]]. */
  def sloppyPhraseFreqs(terms: Seq[String], slop: Int): Dataset[(Long, Float, Int)] = {
    val distinct = terms.distinct
    val candidates = distinct.map(termDocIds).reduce(_.intersect(_))
    val phraseArr = terms.toIndexedSeq
    val termSet = distinct.toSet
    val analyzers = analyzerFor
    val docs = reader.docsTable
      .join(candidates.toDF("cDocId"), $"docId" === $"cDocId")
      .join(reader.docstats.select($"docId".as("nDocId"), $"norm"),
        $"docId" === $"nDocId")
      .select($"docId", $"lang", $"content", $"norm")
      .as[(Long, String, String, Int)]
    docs.mapPartitions { it =>
      val analyzerCache = scala.collection.mutable.HashMap.empty[String, graft.analysis.Analyzer]
      it.flatMap { case (docId, lang, content, norm) =>
        val analyzer = analyzerCache.getOrElseUpdate(lang, analyzers(lang))
        val toks = analyzer.analyze(content).tokens
        val posByTerm = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        toks.foreach { t =>
          if (termSet.contains(t.term))
            posByTerm.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty) += t.position
        }
        val posOf: String => Array[Int] =
          t => posByTerm.get(t).map(_.toArray).getOrElse(Array.empty)
        val freq = SloppyPhrase.freq(phraseArr, posOf, slop)
        if (freq > 0f) Iterator.single((docId, freq, norm)) else Iterator.empty
      }
    }
  }

  /** (docId, exact phraseFreq, normByte) for docs containing the phrase
    * verbatim — the verification surface of the exact-phrase machinery
    * (sloppy matching lives in [[sloppyPhraseFreqs]]). Like
    * [[phraseFreqsFromIndex]] it takes no dictionary lookup: an unindexed
    * term empties the candidate conjunction. */
  def phraseFreqs(terms: Seq[String]): Dataset[(Long, Int, Int)] = {
    val distinct = terms.distinct
    // index prune: docs containing every phrase term (conjunction)
    val candidates = distinct.map(termDocIds).reduce(_.intersect(_))
    val phraseArr = terms.toArray
    val nTerms = phraseArr.length
    val analyzers = analyzerFor
    val docs = reader.docsTable
      .join(candidates.toDF("cDocId"), $"docId" === $"cDocId")
      .join(reader.docstats.select($"docId".as("nDocId"), $"norm"),
        $"docId" === $"nDocId")
      .select($"docId", $"lang", $"content", $"norm")
      .as[(Long, String, String, Int)]
    docs.mapPartitions { it =>
      val analyzerCache = scala.collection.mutable.HashMap.empty[String, graft.analysis.Analyzer]
      it.flatMap { case (docId, lang, content, norm) =>
        val analyzer = analyzerCache.getOrElseUpdate(lang, analyzers(lang))
        val toks = analyzer.analyze(content).tokens
        // a position may hold several tokens (synonym injection, posIncr
        // 0) — a phrase slot matches if ANY token at that position does
        val byPos = new java.util.HashMap[Int, List[String]](toks.length * 2)
        toks.foreach(t =>
          byPos.merge(t.position, List(t.term), (a, b) => b ::: a))
        var freq = 0
        var anchorPos = -1
        toks.foreach { t =>
          if (t.term == phraseArr(0) && t.position != anchorPos) {
            var i = 1
            while (i < nTerms && {
              val ts = byPos.get(t.position + i); ts != null && ts.contains(phraseArr(i))
            }) i += 1
            if (i == nTerms) { freq += 1; anchorPos = t.position }
          }
        }
        if (freq > 0) Iterator.single((docId, freq, norm)) else Iterator.empty
      }
    }
  }

  /** Scored MultiPhraseQuery (reference: MultiPhraseQuery.cs
    * MultiPhraseWeight): phrase freq plays tf; the weight's idf is the
    * sum over EVERY term in every slot, unindexed alternatives included
    * with df = 0 (the reference's TermContext behavior); the norm byte
    * joins in from docstats (the multi-phrase freq paths don't carry
    * it). */
  private def scoredMultiPhrase(slots: Seq[Seq[String]], slop: Int, boost: Float,
                                stats: Map[String, TermDictRow]): Dataset[ScoreDoc] = {
    require(slots.nonEmpty && slots.forall(_.nonEmpty), "empty slot")
    val flat = slots.flatten
    val liveSlots = slots.map(_.filter(stats.contains))
    if (liveSlots.exists(_.isEmpty)) return spark.emptyDataset[ScoreDoc]
    val weight = BM25.weightValue(
      flat.map(t => BM25.idf(stats.get(t).map(_.df).getOrElse(0L), cs.maxDoc)).sum,
      boost)
    val freqs: Dataset[(Long, Float)] =
      if (slop == 0) multiPhraseFreqsWith(liveSlots, stats).map(t => (t._1, t._2.toFloat))
      else multiPhraseFreqsSloppyWith(liveSlots, slop, stats)
    val localCache = cache
    freqs.toDF("docId", "freq")
      .join(reader.docstats.select($"docId", $"norm"), Seq("docId"))
      .as[(Long, Float, Int)]
      .map { case (docId, freq, norm) =>
        ScoreDoc(docId, BM25.score(freq, norm.toByte, weight, localCache))
      }
  }

  /** MultiPhraseQuery analog (reference: Search/MultiPhraseQuery.cs):
    * a phrase whose slot i accepts any of `slots(i)`. Candidates = docs
    * containing >= 1 alternative of EVERY slot (intersection of per-slot
    * unions); match = consecutive positions with per-slot membership.
    * On a positions-enabled index the match runs over decoded position
    * lists instead of re-analysis. */
  def multiPhraseFreqs(slots: Seq[Seq[String]]): Dataset[(Long, Int)] =
    multiPhraseFreqsWith(slots, reader.termStats(slots.flatten.distinct))

  /** As [[multiPhraseFreqs]] with the dictionary stats already pulled —
    * scoring paths that need the stats themselves pass them through
    * instead of paying a second dictionary job. */
  private[search] def multiPhraseFreqsWith(slots: Seq[Seq[String]],
      stats: Map[String, graft.build.TermDictRow]): Dataset[(Long, Int)] = {
    require(slots.nonEmpty && slots.forall(_.nonEmpty), "empty slot")
    val liveSlots = slots.map(_.filter(stats.contains))
    if (liveSlots.exists(_.isEmpty)) return spark.emptyDataset[(Long, Int)]
    if (reader.hasPositions) {
      val slotSets = liveSlots.map(_.toSet).toArray
      val n = slotSets.length
      val allTerms = liveSlots.flatten.distinct
      return termPositionRows(allTerms).groupByKey(_._1).flatMapGroups { (docId, it) =>
        val posBy = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        it.foreach { case (_, term, ps, _) => posBy(term) = ps }
        // positions present per slot = union over its alternatives
        val slotPos: Array[java.util.HashSet[Integer]] = slotSets.map { alts =>
          val s = new java.util.HashSet[Integer]()
          alts.foreach(t => posBy.get(t).foreach(_.foreach(p => s.add(p))))
          s
        }
        if (slotPos.exists(_.isEmpty)) Iterator.empty
        else {
          var freq = 0
          val it0 = slotPos(0).iterator()
          while (it0.hasNext) {
            val p = it0.next().intValue()
            var i = 1
            while (i < n && slotPos(i).contains(p + i)) i += 1
            if (i == n) freq += 1
          }
          if (freq > 0) Iterator.single((docId, freq)) else Iterator.empty
        }
      }
    }
    val candidates = liveSlots
      .map(alts => alts.map(termDocIds).reduce(_ union _).distinct())
      .reduce(_.intersect(_))
    val slotSets = liveSlots.map(_.toSet).toArray
    val n = slotSets.length
    val analyzers = analyzerFor
    val docs = reader.docsTable
      .join(candidates.toDF("cDocId"), $"docId" === $"cDocId")
      .select($"docId", $"lang", $"content").as[(Long, String, String)]
    docs.mapPartitions { it =>
      val analyzerCache = scala.collection.mutable.HashMap.empty[String, graft.analysis.Analyzer]
      it.flatMap { case (docId, lang, content) =>
        val toks = analyzerCache.getOrElseUpdate(lang, analyzers(lang)).analyze(content).tokens
        val byPos = new java.util.HashMap[Int, List[String]](toks.length * 2)
        toks.foreach(t =>
          byPos.merge(t.position, List(t.term), (a, b) => b ::: a))
        var freq = 0
        var anchorPos = -1
        toks.foreach { t =>
          if (slotSets(0).contains(t.term) && t.position != anchorPos) {
            var i = 1
            while (i < n && {
              val s = byPos.get(t.position + i)
              s != null && s.exists(slotSets(i).contains)
            }) i += 1
            if (i == n) { freq += 1; anchorPos = t.position }
          }
        }
        if (freq > 0) Iterator.single((docId, freq)) else Iterator.empty
      }
    }
  }

  /** MultiPhraseQuery WITH slop (reference: Search/MultiPhraseQuery.cs
    * SetSlop — the sloppy scorer runs over union postings,
    * UnionDocsAndPositionsEnum): slot i's position list is the sorted
    * union over its alternatives, then the reference-exact SloppyPhrase
    * traversal runs with slots as phrase terms. Slots with identical
    * alternative sets share a key and therefore form repeat groups,
    * matching the reference's repeat handling for repeated union terms.
    * Same QUERY_FIRST frame as the exact multi-phrase; positions-enabled
    * indexes decode the sidecar instead of re-analyzing. */
  def multiPhraseFreqsSloppy(slots: Seq[Seq[String]], slop: Int): Dataset[(Long, Float)] =
    multiPhraseFreqsSloppyWith(slots, slop, reader.termStats(slots.flatten.distinct))

  private[search] def multiPhraseFreqsSloppyWith(slots: Seq[Seq[String]], slop: Int,
      stats: Map[String, graft.build.TermDictRow]): Dataset[(Long, Float)] = {
    require(slots.nonEmpty && slots.forall(_.nonEmpty), "empty slot")
    val liveSlots = slots.map(_.filter(stats.contains))
    if (liveSlots.exists(_.isEmpty)) return spark.emptyDataset[(Long, Float)]
    val slotKeys: IndexedSeq[String] =
      liveSlots.map(_.distinct.sorted.mkString("|")).toIndexedSeq
    val altsByKey: Map[String, Seq[String]] =
      slotKeys.zip(liveSlots.map(_.distinct)).toMap
    def unionFreq(posBy: scala.collection.Map[String, Array[Int]]): Float = {
      val posOf: String => Array[Int] = key =>
        altsByKey(key).iterator
          .flatMap(t => posBy.getOrElse(t, Array.empty[Int]).iterator)
          .toArray.distinct.sorted
      SloppyPhrase.freq(slotKeys, posOf, slop)
    }
    if (reader.hasPositions) {
      val allTerms = liveSlots.flatten.distinct
      termPositionRows(allTerms).groupByKey(_._1).flatMapGroups { (docId, it) =>
        val posBy = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        it.foreach { case (_, term, ps, _) => posBy(term) = ps }
        val f = unionFreq(posBy)
        if (f > 0f) Iterator.single((docId, f)) else Iterator.empty
      }
    } else {
      val candidates = liveSlots
        .map(alts => alts.map(termDocIds).reduce(_ union _).distinct())
        .reduce(_.intersect(_))
      val termSet = liveSlots.flatten.toSet
      val analyzers = analyzerFor
      val docs = reader.docsTable
        .join(candidates.toDF("cDocId"), $"docId" === $"cDocId")
        .select($"docId", $"lang", $"content").as[(Long, String, String)]
      docs.mapPartitions { it =>
        val analyzerCache = scala.collection.mutable.HashMap.empty[String, graft.analysis.Analyzer]
        it.flatMap { case (docId, lang, content) =>
          val toks = analyzerCache.getOrElseUpdate(lang, analyzers(lang)).analyze(content).tokens
          val posBy = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
          toks.foreach { t =>
            if (termSet.contains(t.term))
              posBy.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty) += t.position
          }
          val f = unionFreq(posBy.view.mapValues(_.toArray).toMap)
          if (f > 0f) Iterator.single((docId, f)) else Iterator.empty
        }
      }
    }
  }

  /** Proximity pair count (SpanNearQuery analog for two terms, reference:
    * Search/Spans/SpanNearQuery.cs semantics restated relationally):
    * number of occurrence pairs (pa, pb) with |pa - pb| <= maxGap
    * (unordered) or 0 < pb - pa <= maxGap (ordered). Same QUERY_FIRST
    * shape as phrases: index-pruned conjunction + re-analysis. */
  def spanNearFreqs(termA: String, termB: String, maxGap: Int,
                    ordered: Boolean = false): Dataset[(Long, Int)] = {
    val stats = reader.termStats(Seq(termA, termB))
    if (!stats.contains(termA) || !stats.contains(termB))
      return spark.emptyDataset[(Long, Int)]
    val candidates = termDocIds(termA).intersect(termDocIds(termB))
    val analyzers = analyzerFor
    val docs = reader.docsTable
      .join(candidates.toDF("cDocId"), $"docId" === $"cDocId")
      .select($"docId", $"lang", $"content").as[(Long, String, String)]
    docs.mapPartitions { it =>
      val analyzerCache = scala.collection.mutable.HashMap.empty[String, graft.analysis.Analyzer]
      it.flatMap { case (docId, lang, content) =>
        val toks = analyzerCache.getOrElseUpdate(lang, analyzers(lang)).analyze(content).tokens
        val pa = toks.filter(_.term == termA).map(_.position)
        val pb = toks.filter(_.term == termB).map(_.position)
        var n = 0
        pa.foreach(a => pb.foreach { b =>
          val d = b - a
          if (if (ordered) d > 0 && d <= maxGap else d != 0 && math.abs(d) <= maxGap)
            n += 1
        })
        if (n > 0) Iterator.single((docId, n)) else Iterator.empty
      }
    }
  }

  /** Span-algebra evaluation (reference: Search/Spans/, SURVEY §2.3):
    * per-doc span count of an arbitrary [[SpanQuery]] tree. Candidate
    * pruning follows the tree's structure — OR unions its children's doc
    * sets, NEAR intersects them, NOT/FIRST prune on the positive branch —
    * then candidates are re-analyzed and [[Spans.eval]] runs the interval
    * algebra per doc (the QUERY_FIRST frame phrases use). */
  def spanCount(q0: SpanQuery): Dataset[(Long, Int)] = {
    // SpanMultiTermQueryWrapper analog: expand wildcard/prefix/fuzzy
    // nodes against the dictionary into a SpanOr of term spans BEFORE
    // evaluation (reference: Spans/SpanMultiTermQueryWrapper.cs — the
    // wrapped query's rewrite feeds the span algebra)
    def expandMulti(sq: SpanQuery): SpanQuery = sq match {
      case SpanMultiTermQ(mq) => multiTermPred(mq) match {
        case Some(pred) =>
          SpanOrQ(reader.expandTerms(pred, maxClauseCount).map(SpanTermQ))
        case None =>
          throw new IllegalArgumentException(s"not a multi-term query: $mq")
      }
      case SpanOrQ(cs) => SpanOrQ(cs.map(expandMulti))
      case sn @ SpanNotQ(i, e, _, _) =>
        sn.copy(include = expandMulti(i), exclude = expandMulti(e))
      case SpanFirstQ(s, e) => SpanFirstQ(expandMulti(s), e)
      case SpanPositionRangeQ(s, a, b) => SpanPositionRangeQ(expandMulti(s), a, b)
      case SpanNearQ(cs, sl, o) => SpanNearQ(cs.map(expandMulti), sl, o)
      case t: SpanTermQ => t
    }
    val q = expandMulti(q0)
    val allTerms = Spans.terms(q).toSeq
    val stats = reader.termStats(allTerms)
    val live = allTerms.filter(stats.contains).toSet
    def cands(sq: SpanQuery): Option[Dataset[Long]] = sq match {
      case SpanTermQ(t) => if (live(t)) Some(termDocIds(t)) else None
      case SpanOrQ(cs) =>
        val subs = cs.flatMap(cands)
        if (subs.isEmpty) None else Some(subs.reduce(_ union _).distinct())
      case SpanNearQ(cs, _, _) =>
        val subs = cs.map(cands)
        if (subs.exists(_.isEmpty)) None
        else Some(subs.flatten.reduce(_ intersect _))
      case SpanNotQ(inc, _, _, _) => cands(inc)
      case SpanFirstQ(sub, _) => cands(sub)
      case SpanPositionRangeQ(sub, _, _) => cands(sub)
      case SpanMultiTermQ(_) => None // unreachable after expandMulti
    }
    val query = q
    if (reader.hasPositions) {
      // positions sidecar: skip re-analysis entirely — one docId grouping
      // of the query terms' decoded position rows drives the algebra
      // (structural candidate pruning is implicit: eval of a NEAR with a
      // missing clause list is empty)
      if (live.isEmpty) return spark.emptyDataset[(Long, Int)]
      return termPositionRows(live.toSeq)
        .groupByKey(_._1).flatMapGroups { (docId, it) =>
          val posBy = scala.collection.mutable.HashMap.empty[String, Array[Int]]
          it.foreach { case (_, term, ps, _) => posBy(term) = ps }
          val posOf: String => Array[Int] = t => posBy.getOrElse(t, Array.empty)
          val n = Spans.eval(query, posOf).length
          if (n > 0) Iterator.single((docId, n)) else Iterator.empty
        }
    }
    cands(q) match {
      case None => spark.emptyDataset[(Long, Int)]
      case Some(candidates) =>
        val analyzers = analyzerFor
        val liveTerms = live
        val docs = reader.docsTable
          .join(candidates.toDF("cDocId"), $"docId" === $"cDocId")
          .select($"docId", $"lang", $"content").as[(Long, String, String)]
        docs.mapPartitions { it =>
          val analyzerCache = scala.collection.mutable.HashMap.empty[String, graft.analysis.Analyzer]
          it.flatMap { case (docId, lang, content) =>
            val toks = analyzerCache.getOrElseUpdate(lang, analyzers(lang)).analyze(content).tokens
            val posByTerm = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
            toks.foreach { t =>
              if (liveTerms.contains(t.term))
                posByTerm.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty) += t.position
            }
            val posOf: String => Array[Int] =
              t => posByTerm.get(t).map(_.toArray).getOrElse(Array.empty)
            val n = Spans.eval(query, posOf).length
            if (n > 0) Iterator.single((docId, n)) else Iterator.empty
          }
        }
    }
  }

  /** PayloadTermQuery analog (reference:
    * Search/Payloads/PayloadTermQuery.cs with
    * AveragePayloadFunction/Min/MaxPayloadFunction and PayloadHelper
    * float decoding; includeSpanScore = true): score = the term's BM25
    * score × the aggregate of its per-occurrence payload floats in the
    * doc (docs whose occurrences carry no payloads keep factor 1, the
    * reference's scorePayload-default behavior). */
  def payloadTermScores(t: String, agg: String = "avg",
                        boost: Float = 1f): Dataset[ScoreDoc] = {
    require(reader.hasPayloads, "index has no payloads sidecar")
    val stats = reader.termStats(Seq(t))
    if (!stats.contains(t)) return spark.emptyDataset[ScoreDoc]
    val w = BM25.weightValue(BM25.idf(stats(t).df, cs.maxDoc), boost)
    val localCache = cache
    val aggKind = agg
    liveOnly(reader.termPayloadRows(Seq(t)).map { case (docId, _, tf, norm, pays) =>
      val vals = pays.iterator.filter(p => p != null && p.length >= 4)
        .map(graft.analysis.DelimitedPayload.decodeFloat).toArray
      val pf =
        if (vals.isEmpty) 1f
        else aggKind match {
          case "min" => vals.min
          case "max" => vals.max
          case _ => vals.sum / vals.length
        }
      ScoreDoc(docId, BM25.score(tf.toFloat, norm.toByte, w, localCache) * pf)
    })
  }

  def payloadTermTopK(t: String, k: Int, agg: String = "avg",
                      boost: Float = 1f): Array[ScoreDoc] =
    TopK(payloadTermScores(t, agg, boost), k)

  /** PayloadNearQuery analog (reference:
    * Search/Payloads/PayloadNearQuery.cs, includeSpanScore = true):
    * evaluate the span-near over the positions sidecar, collect the
    * payloads of every term occurrence INSIDE a matching span
    * (PayloadNearSpanScorer.ProcessPayloads), and score each doc as the
    * span score — BM25 over (span freq, Σ idf of the near's terms), the
    * engine's phrase-weight shape — times the payload aggregate
    * (avg/min/max; docs whose in-span occurrences carry no payloads keep
    * factor 1). One aligned positions⋈payloads scan; the span algebra and
    * payload collection run per doc inside the group, no driver hop. */
  def payloadNearScores(q: SpanNearQ, agg: String = "avg",
                        boost: Float = 1f): Dataset[ScoreDoc] = {
    require(reader.hasPositions, "index has no positions sidecar")
    require(reader.hasPayloads, "index has no payloads sidecar")
    val terms = Spans.terms(q).toSeq.sorted
    val stats = reader.termStats(terms)
    val live = terms.filter(stats.contains)
    if (live.isEmpty) return spark.emptyDataset[ScoreDoc]
    val idfSum = live.map(t => BM25.idf(stats(t).df, cs.maxDoc)).sum
    val w = BM25.weightValue(idfSum, boost)
    val localCache = cache
    val aggKind = agg
    val query = q
    val pos = termPositionRows(live).toDF("docId", "term", "ps", "norm")
    val pay = reader.termPayloadRows(live).toDF("docId", "term", "tf", "norm2", "pays")
    val joined = pos.join(pay, Seq("docId", "term"))
      .select($"docId", $"term", $"ps", $"norm", $"pays")
      .as[(Long, String, Array[Int], Int, Array[Array[Byte]])]
    liveOnly(joined.groupByKey(_._1).flatMapGroups { (docId, it) =>
      val rows = it.toArray
      val posOf: String => Array[Int] = {
        val m = rows.map(r => r._2 -> r._3).toMap
        t => m.getOrElse(t, Array.empty)
      }
      val spans = Spans.eval(query, posOf)
      if (spans.isEmpty) Iterator.empty
      else {
        // collect payloads of occurrences inside ANY matching span, in
        // (term asc, occurrence) order — a fixed order so the float avg
        // is run-stable (the reference collects in span-walk order; the
        // aggregate families used here are order-insensitive up to float
        // association)
        val vals = scala.collection.mutable.ArrayBuffer.empty[Float]
        rows.sortBy(_._2).foreach { case (_, _, ps, _, pays) =>
          var i = 0
          while (i < ps.length) {
            val p = ps(i)
            if (i < pays.length && pays(i) != null && pays(i).length >= 4 &&
                spans.exists(s => p >= s._1 && p < s._2))
              vals += graft.analysis.DelimitedPayload.decodeFloat(pays(i))
            i += 1
          }
        }
        val pf =
          if (vals.isEmpty) 1f
          else aggKind match {
            case "min" => vals.min
            case "max" => vals.max
            case _ => vals.sum / vals.length
          }
        val norm = rows.head._4
        Iterator.single(ScoreDoc(docId,
          BM25.score(spans.length.toFloat, norm.toByte, w, localCache) * pf))
      }
    })
  }

  /** SpanPayloadCheckQuery analog (reference:
    * Search/Spans/SpanPayloadCheckQuery.cs over SpanPositionCheckQuery):
    * a span match is ACCEPTED only when the payload sequence of the
    * occurrences inside it (position order) equals `toMatch` exactly —
    * same count, each byte array equal; spans carrying NO payloads are
    * accepted (the reference's IsPayloadAvailable==false → YES). SpanNear
    * sub-queries are rejected like the reference (its near variant
    * compares unordered). Returns (docId, accepted span count) for docs
    * with ≥1 accepted span — the same aligned positions⋈payloads scan and
    * in-group span walk as [[payloadNearScores]]. */
  def spanPayloadCheckFreqs(q: SpanQuery,
                            toMatch: Seq[Array[Byte]]): Dataset[(Long, Int)] = {
    require(!q.isInstanceOf[SpanNearQ], "SpanNearQuery not allowed")
    spanPayloadFreqs(q, toMatch, ordered = true)
  }

  /** SpanNearPayloadCheckQuery analog (reference:
    * Search/Spans/SpanNearPayloadCheckQuery.cs): same acceptance frame as
    * [[spanPayloadCheckFreqs]] but over a SpanNear match, and the payload
    * comparison is UNORDERED — every in-span payload must equal some
    * required payload (count must match; the near's sub-spans surface
    * payloads in arbitrary walk order, so order can't be required). */
  def spanNearPayloadCheckFreqs(q: SpanNearQ,
                                toMatch: Seq[Array[Byte]]): Dataset[(Long, Int)] =
    spanPayloadFreqs(q, toMatch, ordered = false)

  private def spanPayloadFreqs(q: SpanQuery, toMatch: Seq[Array[Byte]],
                               ordered: Boolean): Dataset[(Long, Int)] = {
    require(reader.hasPositions, "index has no positions sidecar")
    require(reader.hasPayloads, "index has no payloads sidecar")
    val terms = Spans.terms(q).toSeq.sorted
    val stats = reader.termStats(terms)
    val live = terms.filter(stats.contains)
    if (live.isEmpty) return spark.emptyDataset[(Long, Int)]
    val query = q
    val want = toMatch.map(_.clone())
    val pos = termPositionRows(live).toDF("docId", "term", "ps", "norm")
    val pay = reader.termPayloadRows(live).toDF("docId", "term", "tf", "norm2", "pays")
    val joined = pos.join(pay, Seq("docId", "term"))
      .select($"docId", $"term", $"ps", $"pays")
      .as[(Long, String, Array[Int], Array[Array[Byte]])]
    liveOnly2(joined.groupByKey(_._1).flatMapGroups { (docId, it) =>
      val rows = it.toArray
      val posOf: String => Array[Int] = {
        val m = rows.map(r => r._2 -> r._3).toMap
        t => m.getOrElse(t, Array.empty)
      }
      // position -> payload for every live-term occurrence in the doc
      val payAt = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
      rows.foreach { case (_, _, ps, pays) =>
        var i = 0
        while (i < ps.length) {
          // empty byte[] = occurrence carries no payload (same contract as
          // the scoring paths' length filter)
          if (i < pays.length && pays(i) != null && pays(i).nonEmpty)
            payAt(ps(i)) = pays(i)
          i += 1
        }
      }
      val accepted = Spans.eval(query, posOf).count { case (s, e) =>
        val seq = (s until e).flatMap(payAt.get)
        seq.isEmpty || // no payloads available -> accept
          (seq.length == want.length && {
            if (ordered)
              seq.zip(want).forall { case (a, b) => java.util.Arrays.equals(a, b) }
            else // near variant: each in-span payload equals SOME required one
              seq.forall(a => want.exists(b => java.util.Arrays.equals(a, b)))
          })
      }
      if (accepted > 0) Iterator.single((docId, accepted)) else Iterator.empty
    })
  }

  /** Tombstone filter for non-ScoreDoc keyed-by-docId datasets. */
  private def liveOnly2(ds: Dataset[(Long, Int)]): Dataset[(Long, Int)] =
    tombstones match {
      case None => ds
      case Some(t) =>
        ds.join(t, ds("_1") === t("exDocId"), "left_anti").as[(Long, Int)]
    }

  /** DocIds of one term, decoded from the pruned postings scan. */
  private def termDocIds(t: String): Dataset[Long] =
    reader.postingRows(Seq(t))
      .flatMap(r => PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)._1)

  // ------------------------------------------- pluggable-similarity path

  /** The default engine similarity: BM25 over this index's stats. */
  lazy val defaultSimilarity: SimilarityLike =
    new BM25Similarity(BM25.avgFieldLength(cs.sumTotalTermFreq, cs.maxDoc))

  /** Top-k under a caller-chosen similarity: BM25 keeps the specialized
    * WAND path (proven bit-equal to the generic path in SimilaritySpec);
    * every other family rides [[searchWith]]. */
  def search(q: Query, k: Int, sim: SimilarityLike): Array[ScoreDoc] =
    searchAfter(null, q, k, sim)

  def searchAfter(after: ScoreDoc, q: Query, k: Int, sim: SimilarityLike): Array[ScoreDoc] =
    sim match {
      case _: BM25Similarity => searchAfter(after, q, k)
      case s => searchAfterWith(s, after, q, k)
    }

  /** Generic top-k under any [[SimilarityLike]] — term, phrase (exact and
    * sloppy) and flat boolean queries: the reference's
    * CreateNormalizedWeight pipeline — weights from ALL clauses jointly
    * (queryNorm coupling), per-hit scores, clause-order sum × coord. The
    * BM25-specialized WAND path remains [[search]]; this path trades
    * pruning for total generality. */
  def searchWith(sim: SimilarityLike, q: Query, k: Int): Array[ScoreDoc] =
    searchAfterWith(sim, null, q, k)

  def searchAfterWith(sim: SimilarityLike, after: ScoreDoc, q: Query,
                      k: Int): Array[ScoreDoc] = {
    val live = liveOnly(scoredWith(sim, q))
    val filtered = if (after == null) live else {
      val aScore = after.score
      val aDoc = after.docId
      live.filter(sd => sd.score < aScore || (sd.score == aScore && sd.docId > aDoc))
    }
    TopK(filtered, k)
  }

  /** One scoring clause of the generic path: a term (`terms.size == 1`,
    * `phrase = false`) or a phrase with slop. */
  private case class SimClause(terms: Seq[String], slop: Int, boost: Float,
                               phrase: Boolean)

  private def toSimClause(q: Query): SimClause = q match {
    case TermQ(t, b) => SimClause(Seq(t), 0, b, phrase = false)
    case PhraseQ(Seq(t), _, b, _) => SimClause(Seq(t), 0, b, phrase = false)
    case PhraseQ(ts, slop, b, _) => SimClause(ts, slop, b, phrase = true)
    case other => throw new UnsupportedOperationException(
      s"searchWith clause must be a term or phrase, got $other")
  }

  /** Full scored Dataset under an arbitrary similarity. */
  def scoredWith(sim: SimilarityLike, q: Query): Dataset[ScoreDoc] = {
    val (mustC, shouldC, boost) = rewrite(q) match {
      case BoolQ(m, s, Nil, msm, b) if msm <= 1 =>
        (m.map(toSimClause), s.map(toSimClause), b)
      case leaf => (Nil, Seq(toSimClause(leaf)), 1f)
    }
    val clauses = (mustC ++ shouldC).toIndexedSeq
    if (clauses.isEmpty) return spark.emptyDataset[ScoreDoc]
    val stats = reader.termStats(clauses.flatMap(_.terms).distinct)
    val wts = sim.clauseWeights(clauses.map(c => (c.terms, c.boost)),
      stats, cs.maxDoc, cs.sumTotalTermFreq).toArray
    val nMust = mustC.length
    val total = clauses.length
    def liveClause(c: SimClause): Boolean = c.terms.forall(stats.contains)
    // a MUST clause on an unindexed term can never be satisfied
    if (mustC.exists(c => !liveClause(c))) return spark.emptyDataset[ScoreDoc]

    // every clause scores independently (reference: one Weight per
    // BooleanClause) — term clauses batch into ONE postings scan, a term
    // shared by several clauses fans each decoded posting out to every
    // clause index, so duplicates keep their own boost, slot in
    // present[], and coord contribution
    val liveByTerm: Map[String, Array[(Int, Array[Float])]] = clauses.zipWithIndex
      .collect { case (c, i) if !c.phrase && liveClause(c) => (c.terms.head, i) }
      .groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(x => (x._2, wts(x._2))).toArray }
    val bSim = sim
    val termHits: Seq[Dataset[ClauseHit]] =
      if (liveByTerm.isEmpty) Nil
      else Seq(reader.postingRows(liveByTerm.keys.toSeq)
        .flatMap { r =>
          val entries = liveByTerm(r.term)
          val (ids, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
          ids.indices.iterator.flatMap(i => entries.iterator.map { case (ci, w) =>
            ClauseHit(ids(i), ci, bSim.score(tfs(i).toFloat, norms(i).toByte, w))
          })
        })
    // phrase clauses: phraseFreq plugs in where tf does (reference:
    // PhraseWeight → SimScorer.Score(doc, phraseFreq))
    val phraseHits: Seq[Dataset[ClauseHit]] = clauses.zipWithIndex.collect {
      case (c, ci) if c.phrase && liveClause(c) =>
        val w = wts(ci)
        val freqs: Dataset[(Long, Float, Int)] =
          if (c.slop == 0) phraseFreqs(c.terms).map(t => (t._1, t._2.toFloat, t._3))
          else sloppyPhraseFreqs(c.terms, c.slop)
        freqs.map { case (docId, f, norm) =>
          ClauseHit(docId, ci, bSim.score(f, norm.toByte, w))
        }
    }
    val all = termHits ++ phraseHits
    if (all.isEmpty) return spark.emptyDataset[ScoreDoc]
    val hits = all.reduce(_ union _)
    hits.groupByKey(_.docId).flatMapGroups { (docId, it) =>
      val scores = new Array[Float](total)
      val present = new Array[Boolean](total)
      it.foreach { h => scores(h.idx) = h.score; present(h.idx) = true }
      var mustOk = true
      var i = 0
      while (i < nMust) { if (!present(i)) mustOk = false; i += 1 }
      if (!mustOk) Iterator.empty
      else {
        var sum = 0f
        var matched = 0
        i = 0
        while (i < total) {
          if (present(i)) { sum += scores(i); matched += 1 }
          i += 1
        }
        Iterator.single(ScoreDoc(docId, sum * bSim.coord(matched, total) * boost))
      }
    }
  }

  // ------------------------------------------------------ explain support

  private[search] def readerTermStats(ts: Seq[String]) = reader.termStats(ts)

  /** Exact token count of one doc (the Explain-side doc-length value
    * source; one-row lookup, driver-sized). */
  private[search] def docLenOf(docId: Long): Float =
    reader.docstats.where($"docId" === docId)
      .select($"tokenCount".cast("float")).head().getFloat(0)
  private[search] def maxDocStat: Long = cs.maxDoc
  private[search] def normCacheStat: Array[Float] = cache

  /** Norm byte of one doc — docstats point lookup (explain support). */
  private[search] def docNorm(docId: Long): Option[Int] =
    reader.docstats.where($"docId" === docId).select($"norm")
      .as[Int].collect().headOption

  /** (tf, normByte) of one (term, doc) — block-pruned point lookup. */
  private[search] def termHit(t: String, docId: Long): Option[(Int, Int)] = {
    val rows = reader.postingRows(Seq(t))
      .where($"firstDocId" <= docId && $"lastDocId" >= docId).collect()
    rows.iterator.flatMap { r =>
      val (ids, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
      val i = java.util.Arrays.binarySearch(ids, docId)
      if (i >= 0) Iterator.single((tfs(i), norms(i))) else Iterator.empty
    }.nextOption()
  }

  private def unionClauses(qs: Seq[Query],
                           stats: Map[String, TermDictRow]): Dataset[ClauseHit] = {
    // batch TermQ leaves into ONE postings scan; recurse for the rest
    val indexed = qs.zipWithIndex
    val termLeaves = indexed.collect { case (TermQ(t, b), i) => (t, b, i) }
    val complex = indexed.filterNot(_._1.isInstanceOf[TermQ])
    val parts =
      (if (termLeaves.nonEmpty)
        Seq(scoredTermsIndexed(termLeaves.map(t => (t._1, t._2, t._3)), 0f, stats))
      else Nil) ++
      complex.map { case (q, i) =>
        scoredRaw(q, stats).map(sd => ClauseHit(sd.docId, i, sd.score))
      }
    if (parts.isEmpty) spark.emptyDataset[ClauseHit]
    else parts.reduce(_ union _)
  }

  /** Boolean composition: one shuffle by docId; musts enforced by presence
    * bitmask, minShouldMatch by count, score = in-clause-order float sum
    * (BooleanScorer2 semantics under BM25). */
  private def scoredBool(q: BoolQ, stats: Map[String, TermDictRow]): Dataset[ScoreDoc] = {
    val scoring = q.must ++ q.should
    if (scoring.isEmpty) return spark.emptyDataset[ScoreDoc]
    val nMust = q.must.size
    val n = scoring.size
    val msm = math.max(q.minShouldMatch, if (nMust == 0) 1 else 0)
    val boost = q.boost
    val hits = unionClauses(scoring, stats)
    val combined = hits.groupByKey(_.docId).flatMapGroups { (docId, it) =>
      val scores = new Array[Float](n)
      val present = new Array[Boolean](n)
      it.foreach { h => scores(h.idx) = h.score; present(h.idx) = true }
      var mustOk = true
      var i = 0
      while (i < nMust) { if (!present(i)) mustOk = false; i += 1 }
      var shouldCount = 0
      i = nMust
      while (i < n) { if (present(i)) shouldCount += 1; i += 1 }
      if (mustOk && shouldCount >= msm) {
        var sum = 0f // fixed clause order — float-exact vs the reference
        i = 0
        while (i < n) { if (present(i)) sum += scores(i); i += 1 }
        Iterator.single(ScoreDoc(docId, sum * boost))
      } else Iterator.empty
    }
    if (q.mustNot.isEmpty) combined
    else {
      val excluded = q.mustNot.map(mq => scoredRaw(mq, stats).map(_.docId))
        .reduce(_ union _).distinct().toDF("docId_ex")
      // ReqExclScorer ≙ anti-join (reference: ReqExclScorer.cs)
      combined.join(excluded, combined("docId") === excluded("docId_ex"), "left_anti")
        .as[ScoreDoc]
    }
  }

  // ---------------------------------------------------- term-leaf scanning

  /** Score a batch of terms in one postings scan. `theta` is the block-max
    * WAND threshold: blocks whose own upper bound plus every OTHER term's
    * whole-list upper bound stays below theta cannot contain a top-k doc
    * and are skipped before decoding. */
  private def scoredTerms(terms: Seq[(String, Float)], theta: Float,
                          stats: Map[String, TermDictRow]): Dataset[ClauseHit] =
    scoredTermsIndexed(terms.zipWithIndex.map { case ((t, b), i) => (t, b, i) }, theta, stats)

  private def scoredTermsIndexed(terms: Seq[(String, Float, Int)], theta: Float,
                                 stats: Map[String, TermDictRow]): Dataset[ClauseHit] = {
    if (terms.isEmpty) return spark.emptyDataset[ClauseHit]
    val live = terms.filter(t => stats.contains(t._1)) // df=0 → no hits, no NaN
    if (live.isEmpty) return spark.emptyDataset[ClauseHit]
    // per-term ARRAY of (weightValue, clauseIdx): a term shared by several
    // clauses fans each decoded posting out to every clause entry, so
    // duplicates keep their own boost and slot (same rule as scoredBool's
    // liveByTerm — one Weight per BooleanClause in the reference)
    val weights: Map[String, Array[(Float, Int)]] =
      live.groupBy(_._1).map { case (t, xs) =>
        t -> xs.map { case (_, b, i) =>
          (BM25.weightValue(BM25.idf(stats(t).df, cs.maxDoc), b), i)
        }.toArray
      }
    val termUB: Map[String, Float] = weights.map { case (t, entries) =>
      val s = stats(t)
      // duplicate clauses each contribute; the union's UB for this term
      // is the sum over its clause entries
      t -> entries.map(e => BM25.blockMaxScore(s.maxTf, cache(s.maxNorm & 0xff), e._1)).sum
    }
    val sumUB = termUB.values.sum
    val localCache = cache
    reader.postingRows(live.map(_._1)).mapPartitions { it =>
      it.flatMap { r =>
        val entries = weights(r.term)
        var blockUB = 0f
        entries.foreach(e =>
          blockUB += BM25.blockMaxScore(r.maxTf, localCache(r.maxNorm & 0xff), e._1))
        val othersUB = sumUB - termUB(r.term)
        if (theta > 0f && blockUB + othersUB < theta) Iterator.empty
        else {
          val (docIds, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
          val out = new Array[ClauseHit](docIds.length * entries.length)
          var i = 0
          var o = 0
          while (i < docIds.length) {
            var e = 0
            while (e < entries.length) {
              val (w, idx) = entries(e)
              out(o) = ClauseHit(docIds(i),
                idx, BM25.score(tfs(i).toFloat, norms(i).toByte, w, localCache))
              o += 1
              e += 1
            }
            i += 1
          }
          out.iterator
        }
      }
    }
  }

  // ------------------------------------------------------------- top-k

  /** IndexWriter.DeleteDocuments(Query) analog (reference:
    * Index/IndexWriter.cs:1626-1650 — delete-by-query buffered deletes):
    * every LIVE doc currently matching `q` (any query the engine
    * rewrites/executes: terms, booleans, phrases, multi-term expansions)
    * is appended to the index's tombstone table. Nothing is rewritten
    * until expunge/compaction folds the tombstones — exactly the
    * reference's buffered-deletes-then-merge model. The match runs as the
    * ordinary distributed search plan (dictionary-pruned scans, no
    * driver-side id collection). Readers opened BEFORE the call keep
    * their point-in-time view (tombstones load once per reader — the
    * reference's reader-reopen semantics). */
  def deleteMatching(q: Query): Unit = {
    val ids = scored(q).map(_.docId)
    graft.build.Deletes.deleteDocs(spark, reader.dir, ids)
  }

  /** Top-k search: score desc, docId asc (≙ IndexSearcher.Search(q, n)). */
  def search(q: Query, k: Int): Array[ScoreDoc] = searchAfter(null, q, k)

  /** Pagination (≙ IndexSearcher.SearchAfter, reference:
    * Search/IndexSearcher.cs:255-273): only hits strictly after `after` in
    * (score desc, docId asc) order compete. */
  def searchAfter(after: ScoreDoc, q: Query, k: Int): Array[ScoreDoc] = {
    val rq = rewrite(q)
    val stats = reader.termStats(leafTerms(rq))
    val base: Dataset[ScoreDoc] = rq match {
      // WAND fast path: single term / pure disjunction of terms, msm<=1
      case TermQ(t, b) =>
        scoredTerms(Seq(t -> b), bootstrapTheta(Seq(t -> b), k, after, stats), stats)
          .map(h => ScoreDoc(h.docId, h.score))
      case BoolQ(Nil, should, Nil, msm, boost)
          if msm <= 1 && boost == 1f && should.forall(_.isInstanceOf[TermQ]) =>
        val ts = should.map { case TermQ(t, b) => (t, b) }
        val theta = bootstrapTheta(ts, k, after, stats)
        scoredTerms(ts, theta, stats).groupByKey(_.docId).mapGroups { (docId, it) =>
          val buf = it.toArray.sortBy(_.idx)
          var sum = 0f
          buf.foreach(h => sum += h.score)
          ScoreDoc(docId, sum)
        }
      case other => scoredRaw(other, stats)
    }
    val live = liveOnly(base)
    val filtered = if (after == null) live else {
      val aScore = after.score
      val aDoc = after.docId
      live.filter(sd => sd.score < aScore || (sd.score == aScore && sd.docId > aDoc))
    }
    TopK(filtered, k)
  }

  /** Exact-but-cheap WAND threshold bootstrap: decode the single best block
    * of the highest-upper-bound term; its hits' single-term scores are
    * lower bounds of their true scores, so the kth best is a sound
    * threshold. Returns 0 (no pruning) when the index is too small to
    * bother. */
  private def bootstrapTheta(terms: Seq[(String, Float)], k: Int, after: ScoreDoc,
                             stats: Map[String, TermDictRow]): Float = {
    if (after != null) return 0f // pagination: correctness over speed
    val live = terms.filter(t => stats.contains(t._1))
    if (live.isEmpty) return 0f
    val totalBlocks = live.map(t => (stats(t._1).df / PostingsCodec.BlockSize) + 1).sum
    if (totalBlocks < pruneMinBlocks) return 0f // pruning overhead not worth it
    val best = live.maxBy { case (t, b) =>
      val s = stats(t)
      BM25.blockMaxScore(s.maxTf, cache(s.maxNorm & 0xff),
        BM25.weightValue(BM25.idf(s.df, cs.maxDoc), b))
    }
    val (t, b) = best
    val w = BM25.weightValue(BM25.idf(stats(t).df, cs.maxDoc), b)
    val localCache = cache
    val bestBlock = reader.postingRows(Seq(t))
      .map(r => (BM25.blockMaxScore(r.maxTf, localCache(r.maxNorm & 0xff), w), r))
      .orderBy($"_1".desc).limit(1).collect()
    if (bestBlock.isEmpty) return 0f
    val r = bestBlock(0)._2
    val (_, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
    val scores = Array.tabulate(tfs.length)(i =>
      BM25.score(tfs(i).toFloat, norms(i).toByte, w, localCache))
    if (scores.length < k) 0f
    else {
      java.util.Arrays.sort(scores)
      scores(scores.length - k) // kth best single-term score
    }
  }

  /** Brute-force oracle: full sort (Catalyst TakeOrderedAndProject) —
    * correctness baseline for the heap/WAND path (SURVEY.md §5). */
  def searchOracle(q: Query, k: Int): Array[ScoreDoc] =
    scored(q).orderBy($"score".desc, $"docId".asc).limit(k).collect()
}
