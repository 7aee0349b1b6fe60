package graft.search

import graft.bm25.BM25
import graft.build.{CollectionStatsRow, DocStatRow, IndexPaths, Posting, PostingRow, PostingsTableRow, Tables, TermDictRow}
import graft.postings.PostingsCodec
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

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

  /** Directories whose data tables this view spans. */
  def dataDirs: Seq[String] = Seq(dir)

  /** Opens one data table across [[dataDirs]] (one relation, one
    * listing) with the schema of the table's one row type `T`, so the
    * open runs no schema-inference job. term_dict is not opened this way:
    * a pulsed dictionary carries extra inline-postings columns, which
    * [[termDict]] keeps. */
  protected def openAs[T <: Product : scala.reflect.runtime.universe.TypeTag](
      path: String => String): DataFrame =
    Tables.read[T](spark, dataDirs.map(path): _*)

  /** Directories whose postings tables make up this view's postings. */
  protected def postingsDirs: Seq[String] = dataDirs

  /** Directories whose term_dict tables make up this view's dictionary. */
  protected def termDictDirs: Seq[String] = dataDirs

  /** The postings table of [[postingsDirs]], blob columns included; the
    * Dataset scoring scans select [[PostingRow.columns]]
    * ([[allPostingRows]]), every other Dataset read decodes through
    * [[Posting.decode]] ([[decoded]], [[docPostings]]). */
  @transient lazy val postings: DataFrame =
    Tables.read[PostingsTableRow](spark, postingsDirs.map(IndexPaths.postings): _*)
  @transient lazy val docstats: DataFrame = openAs[DocStatRow](IndexPaths.docstats)
  @transient lazy val termDict: DataFrame =
    spark.read.parquet(termDictDirs.map(IndexPaths.termDict): _*)

  /** The files of [[postings]], each with its term range: the map the
    * flat scorer picks the files of a query's terms from
    * ([[PostingsFile.holding]]). Read from the parquet footers on the
    * driver on first use, with no Spark job, and pinned like the table
    * handles. */
  @transient private[search] lazy val postingsFiles: Seq[PostingsFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    postingsDirs.flatMap(d => PostingsFile.list(conf, IndexPaths.postings(d)))
  }

  /** The Hadoop configuration of the tasks that read [[postingsFiles]],
    * broadcast once per reader. */
  @transient private[search] lazy val hadoopConf: Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** The dictionary on the driver, loaded on first use by one job over
    * the five [[TermDictRow]] columns of every [[termDictDirs]] table
    * (a pulsed dictionary's inline postings are not read); rows of one
    * term merge, so generations sum and parallel term spaces union. */
  @transient private lazy val dictionary: TermDictionary =
    graft.build.IndexBuilder.labelled(spark, "search.dict", dir) {
      TermDictionary(Tables.read[TermDictRow](spark, termDictDirs.map(IndexPaths.termDict): _*)
        .as[TermDictRow].collect())
    }
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

  /** The decoded postings of `terms` with the lists of `blobs`
    * ([[Posting.decode]]) — one scan: the term filter prunes parquet row
    * groups on the sorted term column, and the blocks lacking a requested
    * blob (keyword, DOCS_ONLY, terms) drop out in it. */
  def decoded(terms: Seq[String], blobs: String*): Dataset[Posting] =
    Posting.decode(postings.where(blobs.map(col(_).isNotNull)
      .foldLeft($"term".isin(terms.distinct: _*))(_ && _)), blobs)

  /** One doc's postings, of `terms` or of every term when `terms` is
    * empty, without blob lists: the point lookup of term vectors, MLT and
    * explain. Block metadata prunes the scan to the blocks whose
    * [firstDocId, lastDocId] straddle the doc; each decodes and a binary
    * search finds the doc. */
  def docPostings(docId: Long, terms: Seq[String] = Nil): Dataset[Posting] = {
    val straddling = allPostingRows.where($"firstDocId" <= docId && $"lastDocId" >= docId)
    (if (terms.isEmpty) straddling else straddling.where($"term".isin(terms.distinct: _*)))
      .flatMap { r =>
        val (ids, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
        val i = java.util.Arrays.binarySearch(ids, docId)
        if (i < 0) Iterator.empty
        else Iterator.single(Posting(r.term, docId, tfs(i), norms(i), null, null, null))
      }
  }

  /** Per-doc term vector (reference: term vectors are a per-doc mini
    * inverted index, Codecs/Compressing/CompressingTermVectorsWriter.cs;
    * here recovered from the postings by [[docPostings]]): (term, tf). */
  def termVector(docId: Long): DataFrame = docPostings(docId).select($"term", $"tf")

  /** True when the index carries positions (the
    * DOCS_AND_FREQS_AND_POSITIONS option, recorded in collection_stats):
    * phrase queries then read the postings rows' positions instead of
    * re-analyzing stored content. */
  lazy val hasPositions: Boolean = collectionStats.hasPositions

  /** True when the index carries char offsets (the ..._AND_OFFSETS
    * level, reference: Index/FieldInfo.cs:373-397) — highlighting then
    * reads offsets from the index instead of re-analyzing stored content
    * (the PostingsHighlighter idea, reference:
    * PostingsHighlight/PostingsHighlighter.cs:74). */
  lazy val hasOffsets: Boolean = collectionStats.hasOffsets

  /** True when the index carries per-position payloads (the .pay stream
    * analog — reference: Index/Payload semantics and the Search/Payloads
    * query family). */
  lazy val hasPayloads: Boolean = collectionStats.hasPayloads

  /** Stats of the query terms that are in the dictionary (≙ the
    * terms-index seek, reference: Codecs/BlockTreeTermsReader.cs): a
    * binary search per term on the driver-held dictionary, no Spark job.
    * A multi-generation term's stats are the merged sums and maxes
    * [[MultiIndexReader.termDict]] computes. */
  def termStats(terms: Seq[String]): Map[String, TermDictRow] =
    terms.distinct.flatMap(t => dictionary.get(t).map(t -> _)).toMap

  /** The dictionary terms a multi-term node matches, in seek order. */
  private[search] def matchingTerms(m: TermMatch): Iterator[String] = dictionary.matching(m)

  /** Term-dictionary expansion for multi-term queries (MultiTermQuery
    * rewrite, reference: Search/MultiTermQuery.cs:69-160), on the driver.
    * Returns None past maxExpansions (≙ BooleanQuery.MaxClauseCount,
    * BooleanQuery.cs:71) — the caller then takes the CONSTANT_SCORE_AUTO
    * fallback (reference: ConstantScoreAutoRewrite.cs): a constant-score
    * postings semi-join against the matched terms, instead of the
    * reference 4.8 throw or a 10^5-clause scoring union. */
  def expandTermsOpt(m: TermMatch, maxExpansions: Int = 1024): Option[Seq[String]] = {
    val ts = matchingTerms(m).take(maxExpansions + 1).toSeq
    if (ts.length > maxExpansions) None else Some(ts)
  }

  def expandTerms(m: TermMatch, maxExpansions: Int = 1024): Seq[String] =
    expandTermsOpt(m, maxExpansions).getOrElse(
      throw new IllegalArgumentException(
        s"multi-term query expands to more than $maxExpansions terms"))

  /** The dictionary's alphabet (distinct first characters), from the
    * driver-held dictionary. Feeds the fuzzy range banding
    * ([[DictSeek.fuzzyRanges]]). */
  lazy val termFirstChars: Seq[Char] = dictionary.firstChars

  /** The dictionary rows within `maxEdits` edits of `q`, each with its
    * edit distance ([[FuzzyMatch]]), in seek order: the one candidate
    * source of the fuzzy rewrite, the spell checkers, fuzzy completion
    * and FuzzyLikeThis. */
  private[search] def fuzzyTerms(q: String, maxEdits: Int,
      prefixMode: Boolean = false): Seq[(TermDictRow, Int)] = {
    val m = new FuzzyMatch(q, maxEdits, termFirstChars, prefixMode)
    dictionary.rows(m.seeks).flatMap(r => m.distance(r.term).map(r -> _)).toSeq
  }

  /** Directories whose tombstone tables apply to this view. */
  def tombstoneDirs: Seq[String] = Seq(dir)

  /** The docIds tombstoned in any of [[tombstoneDirs]], sorted ascending
    * and distinct (the liveDocs bits, inverted): one job, labelled
    * `search.tombstones`, over the tombstone tables that exist, and none
    * when no table does. */
  private[search] def deletedDocIds(): Array[Long] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val paths = tombstoneDirs.map(graft.build.Deletes.tombstonesPath).filter { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(hconf).exists(p)
    }
    if (paths.isEmpty) Array.emptyLongArray
    else graft.build.IndexBuilder.labelled(spark, "search.tombstones", dir) {
      val ids = spark.read.schema("docId LONG").parquet(paths: _*).as[Long].collect()
      java.util.Arrays.sort(ids)
      ids.distinct
    }
  }

  /** The live docs (≙ IndexReader.NumDocs): maxDoc minus the distinct
    * docIds tombstoned in any of [[tombstoneDirs]], read now — a delete
    * made after this reader opened counts. */
  def numDocs: Long = collectionStats.maxDoc - deletedDocIds().length
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
  * predecessors), so postings/docstats tables simply union (one
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

  /** One read over every generation's stats row, summed driver-side; a
    * level is carried when every generation carries it (the FieldInfos
    * downgrade to the lowest). */
  override lazy val collectionStats: CollectionStatsRow = {
    val all = openAs[CollectionStatsRow](IndexPaths.collectionStats).as[CollectionStatsRow].collect()
    CollectionStatsRow(
      maxDoc = all.map(_.maxDoc).sum,
      docCount = all.map(_.docCount).sum,
      sumTotalTermFreq = all.map(_.sumTotalTermFreq).sum,
      sumDocFreq = all.map(_.sumDocFreq).sum,
      hasPositions = all.forall(_.hasPositions),
      hasOffsets = all.forall(_.hasOffsets),
      hasPayloads = all.forall(_.hasPayloads))
  }

  /** Per-term stats re-aggregate across generations (df/ttf sum, bounds
    * max) — the MultiFields.Terms merge, done relationally. */
  @transient override lazy val termDict: DataFrame =
    spark.read.parquet(termDictDirs.map(IndexPaths.termDict): _*)
      .groupBy($"term")
      .agg(sum($"df").as("df"), sum($"totalTf").as("totalTf"),
        max($"maxTf").as("maxTf"), max($"maxNorm").as("maxNorm"))

  override def tombstoneDirs: Seq[String] = dirs
}

private final case class ClauseHit(docId: Long, idx: Int, score: Float)

/** One doc as a positional matcher sees it ([[Searcher.docPositions]],
  * [[Searcher.indexedDocs]]): its docId, norm byte and the [[Posting]] of
  * each query term it holds. */
private final case class DocPostings(docId: Long, norm: Int, byTerm: Map[String, Posting]) {
  /** The sorted positions of `t` in the doc, empty when it is absent. */
  def positions(t: String): Array[Int] =
    byTerm.get(t).fold(Array.emptyIntArray)(_.positions)
}

/** What scoring one rewritten tree reads: the similarity, the dictionary
  * stats of its leaf terms, and each scoring leaf's weight vector from
  * the one [[SimilarityLike.clauseWeights]] call over its leaf clauses.
  * A leaf's weight depends only on its terms, its boost and that list,
  * so equal leaves share an entry; the boost is keyed by its bits. */
private final case class Scoring(sim: SimilarityLike, stats: Map[String, TermDictRow],
    weights: Map[(Seq[String], Int), Array[Float]]) {
  def weight(terms: Seq[String], boost: Float): Array[Float] =
    weights((terms, java.lang.Float.floatToRawIntBits(boost)))
}

object Searcher {
  /** FuzzyQuery's TOP_TERMS budget (reference: FuzzyQuery
    * defaultMaxExpansions = 50). */
  val FuzzyMaxExpansions = 50

  /** Fuzzy candidates (term, edits, edits / min length) in TOP_TERMS
    * order: the ratio ascending, then the term in dictionary order. */
  private val FuzzyRank: Ordering[(String, Int, Double)] =
    Ordering.by[(String, Int, Double), Double](_._3)(Ordering.Double.TotalOrdering)
      .orElse(Ordering.by[(String, Int, Double), String](_._1)(TermDictionary.Order))

  /** Spark's `rlike` test for a compiled pattern: a match found from the
    * start of the term (`find(0)`, so `$` also matches before a final
    * line terminator). */
  private def rlike(rx: java.util.regex.Pattern): String => Boolean =
    term => rx.matcher(term).find(0)

  /** One doc's phrase freq over its term positions, for slot i accepting
    * any of `slots(i)` at `offsets(i)` past slot 0 (`offsets(0) == 0`).
    * slop 0: the number of distinct anchor positions of slot 0 at which
    * every slot matches. slop > 0: the [[SloppyPhrase]] traversal over
    * each slot's union positions; slots with identical alternative sets
    * share a key and so form a repeat group. */
  private[search] def slotFreq(slots: IndexedSeq[Seq[String]], offsets: IndexedSeq[Int],
                               slop: Int): (String => Array[Int]) => Float =
    if (slop == 0) { posOf =>
      val pos = slots.map(slotPositions(_, posOf))
      var f = 0
      var last = Int.MinValue
      pos(0).foreach { p =>
        if (p != last) {
          var i = 1
          while (i < pos.length &&
            java.util.Arrays.binarySearch(pos(i), p + offsets(i)) >= 0) i += 1
          if (i == pos.length) f += 1
          last = p
        }
      }
      f.toFloat
    } else {
      val keys = slots.map(_.distinct.sorted.mkString("|"))
      val altsOf = keys.zip(slots).toMap
      posOf => SloppyPhrase.freq(keys, k => slotPositions(altsOf(k), posOf), slop)
    }

  /** The PayloadFunction `agg` ("avg", "min" or "max", reference:
    * Search/Payloads/AveragePayloadFunction.cs and siblings) as the factor
    * a payload query multiplies its score by: the aggregate of the floats
    * (PayloadHelper decoding) of the given payloads that carry one (at
    * least 4 bytes), 1 when none does. Any other `agg` throws. */
  private[search] def payloadFactor(agg: String): Iterator[Array[Byte]] => Float = {
    val pick: Array[Float] => Float = agg match {
      case "avg" => vs => vs.sum / vs.length
      case "min" => _.min
      case "max" => _.max
      case other => throw new IllegalArgumentException(
        s"unknown payload function '$other': expected avg, min or max")
    }
    pays => {
      val vs = pays.filter(p => p != null && p.length >= 4)
        .map(graft.analysis.DelimitedPayload.decodeFloat).toArray
      if (vs.isEmpty) 1f else pick(vs)
    }
  }

  /** A slot's sorted positions: its one term's, or the distinct union of
    * its alternatives' (UnionDocsAndPositionsEnum). */
  private def slotPositions(alts: Seq[String], posOf: String => Array[Int]): Array[Int] =
    if (alts.size == 1) posOf(alts.head)
    else alts.iterator.flatMap(posOf(_).iterator).toArray.distinct.sorted
}

/** Top-k search over the index tables (≙ IndexSearcher, reference:
  * Search/IndexSearcher.cs:282-500, restated in SURVEY.md §3.2), under
  * the index's BM25 or a caller's [[SimilarityLike]].
  *
  * Physical shape per query, the same for every similarity:
  *   - rewrite and dictionary stats (binary searches of the reader's
  *     driver-held dictionary, no job) → weights computed driver-side;
  *     the similarity weighs every clause in one call over the query;
  *   - a flat query (a TermQ, or a BoolQ of TermQ clauses only, any
  *     minShouldMatch and boost) runs ONE job of ONE task with no
  *     shuffle: the postings blocks of its scoring and excluded terms
  *     (parquet min/max pruning on the sorted term column), gathered by
  *     `coalesce(1)`, scored document-at-a-time by [[FlatScorer]] behind
  *     a block-max WAND threshold kept live from its own top-k heap
  *     (public literature: Broder et al.; Ding & Suel BMW — the
  *     reference predates WAND, SURVEY.md §2.4 note), tombstoned docs
  *     skipped in the task. Only a similarity that bounds its block
  *     scores (BM25) skips blocks. One task per query gives up
  *     intra-query read parallelism: a query's postings are small next
  *     to a job's cost;
  *   - every other tree (phrases, nested bools, DisMax, function and
  *     boosting queries, the constant-score wide expansion) scores its
  *     leaves with Dataset scorers and its composite nodes per doc
  *     ([[ScoreTree]]) after ONE docId shuffle ([[scoredRaw]]), drops
  *     tombstoned docs ([[liveOnly]]) and merges per-partition bounded
  *     HitQueue heaps on the driver in the same job ([[TopK]] ≙
  *     TopDocs.Merge).
  *
  * A similarity that does not score every tree
  * ([[SimilarityLike.scoresAnyTree]]) takes a term, a phrase, or a bool
  * of those with minShouldMatch ≤ 1 and no mustNot.
  *
  * Float determinism: clause scores are summed in clause-declaration order
  * per doc (the reference's in-order sum, DisjunctionSumScorer.cs:59-85),
  * times coord per bool; coord = queryNorm = 1 under BM25
  * (Similarity.cs:122-143).
  */
final class Searcher(val reader: IndexReader,
    analyzerFor: String => graft.analysis.Analyzer = graft.analysis.Analyzer.forLang,
    maxClauseCount: Int = 1024)
    extends Serializable with Explains {
  private val spark = reader.spark
  import spark.implicits._

  private lazy val cs = reader.collectionStats

  /** The default engine similarity: BM25 over this index's stats. */
  lazy val defaultSimilarity: BM25Similarity =
    new BM25Similarity(BM25.avgFieldLength(cs.sumTotalTermFreq, cs.maxDoc))
  private lazy val cache: Array[Float] = defaultSimilarity.cache

  /** liveDocs analog: the tombstoned docIds, loaded once per Searcher
    * into a sorted driver-side array (8 B per deleted doc) and broadcast.
    * Every result leaves them out (stats intentionally unchanged until
    * Deletes.expunge, like the reference's deleted-docs-still-count-in-idf
    * behavior): the flat scorer skips them inside its task, every other
    * plan through [[liveOnly]]. A multi-generation reader unions every
    * generation's tombstones. */
  @transient private lazy val deleted: Broadcast[Array[Long]] =
    spark.sparkContext.broadcast(reader.deletedDocIds())

  /** The one tombstone filter of the Dataset plans: drops the rows of a
    * docId-keyed dataset (its first column is the docId) whose doc is
    * deleted, by a binary search of the broadcast array; no join. */
  private def liveOnly[T](ds: Dataset[T]): Dataset[T] =
    if (deleted.value.isEmpty) ds
    else {
      val dead = deleted
      val live = udf((id: Long) => java.util.Arrays.binarySearch(dead.value, id) < 0)
      ds.where(live(ds(ds.columns.head)))
    }

  // ------------------------------------------------------------- rewrite

  /** Dictionary match of a multi-term query node, or None. Every branch
    * seeks term spans of the sorted dictionary ([[DictSeek]]), then runs
    * the exact residual test with the code Spark's `rlike`, `levenshtein`
    * and `length` run — the driver-side restatement of the reference's
    * automaton ∩ term dictionary walk (Index/AutomatonTermsEnum.cs,
    * Search/FuzzyTermsEnum.cs). */
  private[search] def multiTermMatch(q: Query): Option[TermMatch] = q match {
    case PrefixQ(p, _) => Some(TermMatch(Seq(DictSeek.Prefix(p)), _ => true))
    case WildcardQ(pat, _) =>
      Some(TermMatch(Seq(DictSeek.Prefix(DictSeek.wildcardPrefix(pat))),
        Searcher.rlike(MemoryIndex.wildcardRegex(pat))))
    case RegexpQ(rx, _) =>
      Some(TermMatch(Seq(DictSeek.Prefix(DictSeek.regexpPrefix(rx))),
        Searcher.rlike(java.util.regex.Pattern.compile("^(?:" + rx + ")$"))))
    case FuzzyQ(t, maxEdits, _) =>
      Some(new FuzzyMatch(t, maxEdits, reader.termFirstChars).termMatch)
    case TermRangeQ(lo, hi, inclLo, inclHi, _) =>
      // "\u0000" appended: the least string above the bound
      val from = if (lo == null) "" else if (inclLo) lo else lo + "\u0000"
      val until = if (hi == null) null else if (inclHi) hi + "\u0000" else hi
      Some(TermMatch(Seq(DictSeek.Range(from, until)), _ => true))
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
      // TopTermsRewrite ranking: boost desc, then term). Candidates rank by
      // d/min(len,|q|) asc, then term in dictionary order, and the first 50
      // survive; the key is order-equivalent to the float similarity desc
      // (distinct small-integer ratios are spaced far wider than float
      // epsilon), with the same term-asc tie-break. Lengths count CODE
      // POINTS (as Spark's `length`), the same as the boost's
      // codePointCount below — asserted by SearchSpec ("fuzzy ranking key
      // counts codepoints").
      val qLen = t.codePointCount(0, t.length)
      val cand = reader.fuzzyTerms(t, maxEdits).map { case (row, d) =>
        val term = row.term
        (term, d, d.toDouble / math.min(term.codePointCount(0, term.length), qLen).toDouble)
      }.sorted(Searcher.FuzzyRank).take(Searcher.FuzzyMaxExpansions)
        .map(c => (c._1, c._2))
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
    case mt if multiTermMatch(mt).isDefined =>
      reader.expandTermsOpt(multiTermMatch(mt).get, maxClauseCount) match {
        case Some(ts) => orOf(ts, multiTermBoost(mt))
        case None => mt // wide: constant-score semi-join in leafHits
      }
    // ComplexPhraseQueryParser semantics: each part expands to a
    // MultiPhraseQ slot (a multi-term part → its dictionary matches); an
    // empty expansion means the phrase can never match
    case ComplexPhraseQ(parts, slop, b) =>
      val slots = parts.map {
        case TermQ(t, _) => Seq(t)
        case PhraseQ(Seq(t), _, _, _) => Seq(t)
        case mt if multiTermMatch(mt).isDefined =>
          reader.expandTerms(multiTermMatch(mt).get, maxClauseCount)
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

  /** Runs `f` with its Spark jobs labelled `search.scan`. */
  private def scan[A](f: => A): A =
    graft.build.IndexBuilder.labelled(spark, "search.scan", reader.dir)(f)

  /** Runs a positional matcher with its Spark jobs labelled
    * `search.positions`. */
  private def positional[A](f: => A): A =
    graft.build.IndexBuilder.labelled(spark, "search.positions", reader.dir)(f)

  /** Full BM25-scored Dataset for a query — the composable scorer tree.
    * Exact scores, no pruning (also the brute-force oracle path for
    * tests). */
  def scored(q: Query): Dataset[ScoreDoc] = scan {
    val rq = rewrite(q)
    liveOnly(scoredRaw(rq, scoring(rq, defaultSimilarity)))
  }

  /** The (terms, boost) of every scoring leaf of a rewritten tree — its
    * term, phrase and multi-phrase leaves in [[ScoreTree.compile]] order
    * (must then should then mustNot clauses, in clause order),
    * duplicates included. A flat bool's list is its clause list, which
    * TF-IDF's queryNorm sums. */
  private def leafClauses(q: Query): Seq[(Seq[String], Float)] = ScoreTree.compile(q).leaves.collect {
    case TermQ(t, b) => (Seq(t), b)
    case PhraseQ(ts, _, b, _) => (ts, b)
    case SparsePhraseQ(parts, b) => (parts.map(_._1), b)
    case MultiPhraseQ(slots, _, b) => (slots.flatten, b)
  }

  /** The [[Scoring]] of a rewritten tree under `sim`: ONE
    * [[IndexReader.termStats]] call over its leaf terms (absent terms are
    * absent keys) and one clause-weights call over [[leafClauses]]. */
  private def scoring(q: Query, sim: SimilarityLike): Scoring = {
    val clauses = leafClauses(q)
    val stats = reader.termStats(clauses.flatMap(_._1))
    val ws = sim.clauseWeights(clauses, stats, cs.maxDoc, cs.sumTotalTermFreq)
    Scoring(sim, stats, clauses.map { case (ts, b) =>
      (ts, java.lang.Float.floatToRawIntBits(b)) }.zip(ws).toMap)
  }

  /** Scores an ALREADY-REWRITTEN tree — every entry point calls
    * [[rewrite]] exactly once, so the dictionary probes a multi-term
    * rewrite needs are never repeated (the reference caches its rewrite
    * the same way, IndexSearcher.cs:667-670); `ctx` is the whole tree's
    * [[scoring]]. [[ScoreTree.Compiled.eval]] scores each doc from its
    * leaf hits, grouped by docId once; with one leaf, a doc has one row. */
  private def scoredRaw(q: Query, ctx: Scoring): Dataset[ScoreDoc] = {
    val tree = ScoreTree.compile(q)
    val sim = ctx.sim
    tree.root match {
      case _: ScoreTree.Leaf => leafHits(q, ctx)
      case _ if tree.leaves.isEmpty => spark.emptyDataset[ScoreDoc] // no leaf, no hit
      case _ if tree.leaves.size == 1 && !tree.readsDocLen =>
        leafHits(tree.leaves.head, ctx).flatMap(h =>
          tree.eval(_ => Some(h.score), sim).map(ScoreDoc(h.docId, _)))
      case _ =>
        clauseHits(tree, ctx).groupByKey(_.docId).flatMapGroups { (docId, it) =>
          val hits = Array.fill[Option[Float]](tree.leaves.size + 1)(None)
          it.foreach(h => hits(h.idx) = Some(h.score))
          tree.eval(hits(_), sim).map(ScoreDoc(docId, _))
        }
    }
  }

  /** A compiled tree's leaf hits keyed by leaf index, every TermQ leaf in
    * ONE [[scoredTerms]] scan; the doc-length leaf is the EXACT docstats
    * tokenCount (a stored numeric, like the reference's ValueSource). */
  private def clauseHits(tree: ScoreTree.Compiled, ctx: Scoring): Dataset[ClauseHit] = {
    val indexed = tree.leaves.zipWithIndex
    val terms = indexed.collect { case (TermQ(t, b), i) => (t, b, i) }
    val others = indexed.collect { case (q, i) if !q.isInstanceOf[TermQ] =>
      leafHits(q, ctx).map(sd => ClauseHit(sd.docId, i, sd.score))
    }
    val docLen = if (!tree.readsDocLen) None else Some(reader.docstats
      .select($"docId", lit(tree.docLen).as("idx"), $"tokenCount".cast("float").as("score"))
      .as[ClauseHit])
    ((if (terms.isEmpty) None else Some(scoredTerms(terms, ctx))) ++ others ++ docLen)
      .reduce(_ union _)
  }

  /** The hits of one leaf of a rewritten tree. */
  private def leafHits(q: Query, ctx: Scoring): Dataset[ScoreDoc] = q match {
    case TermQ(t, boost) =>
      scoredTerms(Seq((t, boost, 0)), ctx).map(h => ScoreDoc(h.docId, h.score))
    case MatchAllQ(boost) =>
      reader.docstats.select($"docId").as[Long].map(ScoreDoc(_, boost))
    // single-term phrases rewrite to TermQuery (PhraseQuery.cs:175)
    case PhraseQ(Seq(t), _, boost, _) => leafHits(TermQ(t, boost), ctx)
    case SparsePhraseQ(Seq((t, _)), boost) => leafHits(TermQ(t, boost), ctx)
    case PhraseQ(terms, slop, boost, _) => leafHits(MultiPhraseQ(terms.map(Seq(_)), slop, boost), ctx)
    case MultiPhraseQ(slots, slop, boost) =>
      phraseScored(multiPhraseFreqs(slots, slop), ctx.sim, ctx.weight(slots.flatten, boost))
    case SparsePhraseQ(parts, boost) =>
      if (!parts.forall(p => ctx.stats.contains(p._1))) spark.emptyDataset[ScoreDoc]
      else phraseScored(sparsePhraseFreqs(parts), ctx.sim, ctx.weight(parts.map(_._1), boost))
    case mt if multiTermMatch(mt).isDefined =>
      // CONSTANT_SCORE_AUTO fallback: a wide multi-term query (dictionary
      // match past the clause budget) scores constant over the docs of
      // ANY matched term — postings ⋈ matched-terms semi-join, block
      // decode, per-doc dedup
      constantScoreMultiTerm(multiTermMatch(mt).get, multiTermBoost(mt))
    case other => throw new IllegalStateException(s"unrewritten query: $other")
  }

  private def constantScoreMultiTerm(m: TermMatch, boost: Float): Dataset[ScoreDoc] = {
    val matchedTerms = reader.matchingTerms(m).toSeq.toDF("term")
    Posting.decode(reader.allPostingRows.join(matchedTerms, Seq("term"), "left_semi"))
      .map(_.docId)
      .distinct()
      .map(ScoreDoc(_, boost))
  }

  // ------------------------------------------------------------- phrase

  /** Phrase scoring (reference: ExactPhraseScorer / SloppyPhraseScorer,
    * MultiPhraseQuery.cs MultiPhraseWeight; a [[PhraseQ]] is a phrase of
    * one-term slots): phraseFreq plays tf under the clause weight over
    * EVERY term in every slot (BM25: Σ idf, BM25Similarity.cs:210-225),
    * unindexed alternatives included with df = 0 (the reference's
    * TermContext behavior), and the same norm byte as term scoring. A
    * sparse phrase's weight is over the parts queried: the reference's
    * optimized NGramPhraseQuery drops the skipped grams' idf the same way. */
  private def phraseScored(freqs: Dataset[(Long, Float, Int)], sim: SimilarityLike,
                           weight: Array[Float]): Dataset[ScoreDoc] =
    freqs.map { case (docId, freq, norm) => ScoreDoc(docId, sim.score(freq, norm.toByte, weight)) }

  /** (docId, phraseFreq, normByte) for docs containing the phrase: exact
    * occurrences at slop 0, else the SloppyPhraseScorer freq
    * (out-of-order matches within slop, slop-factor-weighted, repeat
    * groups). No dictionary lookup: an unindexed term fails every doc's
    * match. Like the other public positional matchers, it returns a lazy
    * Dataset: the jobs that evaluate it run under the caller's job label,
    * not `search.positions`. */
  def phraseFreqs(terms: Seq[String], slop: Int = 0): Dataset[(Long, Float, Int)] =
    positional(slotFreqs(terms.map(Seq(_)), terms.indices, slop))

  /** MultiPhraseQuery analog (reference: Search/MultiPhraseQuery.cs): a
    * phrase whose slot i accepts any of `slots(i)`; with slop, the sloppy
    * traversal runs over each slot's union positions
    * (UnionDocsAndPositionsEnum). Unindexed alternatives are dropped; a
    * slot left empty matches nothing. (docId, phraseFreq, normByte), as a
    * lazy Dataset whose evaluating jobs run under the caller's job label. */
  def multiPhraseFreqs(slots: Seq[Seq[String]], slop: Int = 0): Dataset[(Long, Float, Int)] =
      positional {
    require(slots.nonEmpty && slots.forall(_.nonEmpty), "empty slot")
    val stats = reader.termStats(slots.flatten.distinct)
    val liveSlots = slots.map(_.filter(stats.contains))
    if (liveSlots.exists(_.isEmpty)) spark.emptyDataset[(Long, Float, Int)]
    else slotFreqs(liveSlots, liveSlots.indices, slop)
  }

  /** (docId, anchorCount, normByte) for a sparse phrase: the exact walk
    * with each part at its explicit position relative to the first, as a
    * lazy Dataset whose evaluating jobs run under the caller's job label. */
  def sparsePhraseFreqs(parts: Seq[(String, Int)]): Dataset[(Long, Float, Int)] = positional {
    require(parts.nonEmpty, "empty sparse phrase")
    val sorted = parts.sortBy(_._2)
    slotFreqs(sorted.map(p => Seq(p._1)), sorted.map(_._2 - sorted.head._2), 0)
  }

  /** The phrase family's one matcher: per-slot alternatives at per-slot
    * offsets, counted by [[Searcher.slotFreq]] over [[docPositions]]. */
  private def slotFreqs(slots: Seq[Seq[String]], offsets: Seq[Int],
                        slop: Int): Dataset[(Long, Float, Int)] = {
    val freq = Searcher.slotFreq(slots.toIndexedSeq, offsets.toIndexedSeq, slop)
    docPositions(slots.flatten, conjunction(slots)) { d =>
      val f = freq(d.positions)
      if (f > 0f) Some((d.docId, f, d.norm)) else None
    }
  }

  /** DocIds holding at least one alternative of every slot. */
  private def conjunction(slots: Seq[Seq[String]]): Dataset[Long] =
    slots.distinct.map {
      case Seq(t) => termDocIds(t)
      case alts => alts.map(termDocIds).reduce(_ union _).distinct()
    }.reduce(_ intersect _)

  /** The one positions source of every positional matcher: `matcher`
    * sees each live doc's [[DocPostings]] — its docId, norm byte and the
    * posting of each of `terms` it holds, with positions — and returns a
    * row keyed by that docId. With indexed positions this is
    * [[indexedDocs]]. Without them — the FilteredQuery QUERY_FIRST
    * strategy (reference: Search/FilteredQuery.cs:536-575) — only the
    * live `candidates` docs (an index-pruned conjunction, usually a
    * vanishing fraction of the corpus) have their stored content
    * re-analyzed, with the same positions (PositionsSpec). */
  private def docPositions[T: org.apache.spark.sql.Encoder](terms: Seq[String],
      candidates: => Dataset[Long])(matcher: DocPostings => Option[T]): Dataset[T] =
    if (reader.hasPositions) indexedDocs(terms)(matcher)
    else {
      val termSet = terms.toSet
      val analyzers = analyzerFor
      reader.docsTable
        .join(liveOnly(candidates).toDF("cDocId"), $"docId" === $"cDocId")
        .join(reader.docstats.select($"docId".as("nDocId"), $"norm"), $"docId" === $"nDocId")
        .select($"docId", $"lang", $"content", $"norm")
        .as[(Long, String, String, Int)]
        .mapPartitions { it =>
          val analyzerCache = scala.collection.mutable.HashMap.empty[String, graft.analysis.Analyzer]
          it.flatMap { case (docId, lang, content, norm) =>
            val byTerm = analyzerCache.getOrElseUpdate(lang, analyzers(lang)).analyze(content)
              .tokens.filter(t => termSet.contains(t.term)).groupMap(_.term)(_.position)
              .map { case (t, ps) => t -> Posting(t, docId, ps.length, norm, ps, null, null) }
            matcher(DocPostings(docId, norm, byTerm))
          }
        }
    }

  /** The one per-doc grouping of the indexed postings (≙ one
    * DocsAndPositionsEnum per term, advanced doc by doc): one pruned
    * postings scan through [[IndexReader.decoded]] reading positions and
    * the lists of `blobs` (each block's blobs ride in its row; blocks
    * lacking a requested blob drop out), one docId shuffle, no content
    * read. The matcher's rows are keyed by docId, and [[liveOnly]] drops
    * the tombstoned ones. Payload and highlight matchers call it
    * directly: re-analysis recovers positions only. */
  private def indexedDocs[T: org.apache.spark.sql.Encoder](terms: Seq[String], blobs: String*)(
      matcher: DocPostings => Option[T]): Dataset[T] =
    liveOnly(reader.decoded(terms, "posBytes" +: blobs: _*)
      .groupByKey(_.docId).flatMapGroups { (docId, it) =>
        val byTerm = it.map(p => p.term -> p).toMap
        matcher(DocPostings(docId, byTerm.head._2.norm, byTerm))
      })

  /** FastVectorHighlighter analog (reference: Highlighter/VectorHighlight/
    * FieldTermStack.cs + FieldPhraseList.cs): phrase-aware highlight spans
    * straight from the indexed positions + offsets — our term-vector-
    * with-positions-and-offsets — so ONLY term occurrences that
    * participate in a full exact-phrase match are marked, and nothing is
    * re-analyzed. Returns the FIRST match per doc as
    * (docId, startOffset of the head term's matched occurrence,
    * endOffset of the tail term's matched occurrence).
    *
    * Shape: one parquet-pruned postings scan (terms pushed into the
    * sorted `term` column) decoding each block's positions with their
    * occurrence-ordered offsets from its row, one docId shuffle, then the
    * exact binary-search phrase walk. */
  def phraseHighlightSpans(terms: Seq[String]): Dataset[(Long, Int, Int)] = positional {
    val distinct = terms.distinct
    val stats = reader.termStats(distinct)
    if (!reader.hasPositions || !distinct.forall(stats.contains)) spark.emptyDataset[(Long, Int, Int)]
    else {
      val phraseArr = terms.toIndexedSeq
      val n = phraseArr.length
      val nDistinct = distinct.length
      indexedDocs(distinct, "offBytes") { d =>
        if (d.byTerm.size < nDistinct) None
        else {
          val head = d.positions(phraseArr.head)
          var out: Option[(Long, Int, Int)] = None
          var hi = 0
          while (out.isEmpty && hi < head.length) {
            val p = head(hi)
            var i = 1
            var tailIdx = hi // occurrence index of the LAST phrase term
            var ok = true
            while (ok && i < n) {
              val idx = java.util.Arrays.binarySearch(d.positions(phraseArr(i)), p + i)
              if (idx < 0) ok = false else tailIdx = idx
              i += 1
            }
            if (ok) {
              val s = d.byTerm(phraseArr.head).offsets(2 * hi)
              val e = d.byTerm(phraseArr(n - 1)).offsets(2 * tailIdx + 1)
              out = Some((d.docId, s, e))
            }
            hi += 1
          }
          out
        }
      }
    }
  }

  /** PostingsHighlighter passage RANKING analog (reference:
    * PostingsHighlight/PostingsHighlighter.cs:74 scoring loop +
    * PassageScorer.cs:79-117): passages are fixed `window`-token slices
    * of the doc — the BreakIterator sentence segmentation re-imagined in
    * token space, because our passage geometry comes from the indexed
    * POSITIONS, not re-analysis — and each passage is scored as a
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
                    pivot: Double = 16.0): DataFrame = positional {
    val distinct = terms.distinct
    val perPassage = reader.decoded(distinct, "posBytes")
      .flatMap { p =>
        val ttf = p.positions.length.toLong
        p.positions.groupBy(_ / window).iterator.map { case (pass, occ) =>
          (p.docId, p.term, ttf, pass.toLong, occ.length.toLong)
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
    liveOnly(perPassage.join(dl, Seq("doc_id"))
      .select($"doc_id", $"passage", (weight * tfw).as("wt"))
      .groupBy($"doc_id", $"passage")
      .agg(sum($"wt").as("ws"))
      .select($"doc_id", $"passage",
        ((lit(1.0) + lit(1.0) / log(lit(pivot) + lit(window) * $"passage")) * $"ws")
          .as("score")))
  }

  /** Proximity pair count (SpanNearQuery analog for two terms, reference:
    * Search/Spans/SpanNearQuery.cs semantics restated relationally):
    * number of occurrence pairs (pa, pb) with |pa - pb| <= maxGap
    * (unordered) or 0 < pb - pa <= maxGap (ordered), over
    * [[docPositions]]. A lazy Dataset: the jobs that evaluate it run
    * under the caller's job label, not `search.positions`. */
  def spanNearFreqs(termA: String, termB: String, maxGap: Int,
                    ordered: Boolean = false): Dataset[(Long, Int)] = positional {
    val stats = reader.termStats(Seq(termA, termB))
    val terms = Seq(termA, termB)
    if (!terms.forall(stats.contains)) spark.emptyDataset[(Long, Int)]
    else docPositions(terms, conjunction(terms.map(Seq(_)))) { d =>
      val pb = d.positions(termB)
      var n = 0
      d.positions(termA).foreach(a => pb.foreach { b =>
        val gap = b - a
        if (if (ordered) gap > 0 && gap <= maxGap else gap != 0 && math.abs(gap) <= maxGap)
          n += 1
      })
      if (n > 0) Some((d.docId, n)) else None
    }
  }

  /** Span-algebra evaluation (reference: Search/Spans/, SURVEY §2.3):
    * per-doc span count of an arbitrary [[SpanQuery]] tree, [[Spans.eval]]
    * running the interval algebra per doc over [[docPositions]]. The
    * re-analysis candidates follow the tree's structure — OR unions its
    * children's doc sets, NEAR intersects them, NOT/FIRST prune on the
    * positive branch. A lazy Dataset: the jobs that evaluate it run under
    * the caller's job label, not `search.positions`. */
  def spanCount(q0: SpanQuery): Dataset[(Long, Int)] = positional {
    // SpanMultiTermQueryWrapper analog: expand wildcard/prefix/fuzzy
    // nodes against the dictionary into a SpanOr of term spans BEFORE
    // evaluation (reference: Spans/SpanMultiTermQueryWrapper.cs — the
    // wrapped query's rewrite feeds the span algebra)
    def expandMulti(sq: SpanQuery): SpanQuery = sq match {
      case SpanMultiTermQ(mq) => multiTermMatch(mq) match {
        case Some(m) =>
          SpanOrQ(reader.expandTerms(m, maxClauseCount).map(SpanTermQ))
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
    cands(q) match {
      case None => spark.emptyDataset[(Long, Int)]
      case Some(candidates) =>
        docPositions(live.toSeq, candidates) { d =>
          val n = Spans.eval(q, d.positions).length
          if (n > 0) Some((d.docId, n)) else None
        }
    }
  }

  /** PayloadTermQuery analog (reference:
    * Search/Payloads/PayloadTermQuery.cs with
    * AveragePayloadFunction/Min/MaxPayloadFunction and PayloadHelper
    * float decoding; includeSpanScore = true): score = the term's BM25
    * score × the aggregate of its per-occurrence payload floats in the
    * doc (docs whose occurrences carry no payloads keep factor 1, the
    * reference's scorePayload-default behavior). `agg` is "avg", "min"
    * or "max"; anything else throws [[IllegalArgumentException]]. */
  def payloadTermScores(t: String, agg: String = "avg",
                        boost: Float = 1f): Dataset[ScoreDoc] = positional {
    val factor = Searcher.payloadFactor(agg)
    require(reader.hasPayloads, "index has no payloads")
    val stats = reader.termStats(Seq(t))
    if (!stats.contains(t)) spark.emptyDataset[ScoreDoc]
    else {
      val w = BM25.weightValue(BM25.idf(stats(t).df, cs.maxDoc), boost)
      val localCache = cache
      liveOnly(reader.decoded(Seq(t), "payBytes").map { p =>
        ScoreDoc(p.docId, BM25.score(p.tf.toFloat, p.norm.toByte, w, localCache) *
          factor(p.payloads.iterator))
      })
    }
  }

  def payloadTermTopK(t: String, k: Int, agg: String = "avg",
                      boost: Float = 1f): Array[ScoreDoc] =
    positional(TopK(payloadTermScores(t, agg, boost), k))

  /** PayloadNearQuery analog (reference:
    * Search/Payloads/PayloadNearQuery.cs, includeSpanScore = true):
    * evaluate the span-near over the indexed positions, collect the
    * payloads of every term occurrence INSIDE a matching span
    * (PayloadNearSpanScorer.ProcessPayloads), and score each doc as the
    * span score — BM25 over (span freq, Σ idf of the near's terms), the
    * engine's phrase-weight shape — times the payload aggregate
    * (avg/min/max; docs whose in-span occurrences carry no payloads keep
    * factor 1). One postings scan reads each block's positions and
    * payloads from its row; the span algebra and payload collection run
    * per doc inside the group, no driver hop. `agg` is "avg", "min" or
    * "max"; anything else throws [[IllegalArgumentException]]. */
  def payloadNearScores(q: SpanNearQ, agg: String = "avg",
                        boost: Float = 1f): Dataset[ScoreDoc] = positional {
    val factor = Searcher.payloadFactor(agg)
    require(reader.hasPositions, "index has no positions")
    require(reader.hasPayloads, "index has no payloads")
    val terms = Spans.terms(q).toSeq.sorted
    val stats = reader.termStats(terms)
    val live = terms.filter(stats.contains)
    if (live.isEmpty) spark.emptyDataset[ScoreDoc]
    else {
      val idfSum = live.map(t => BM25.idf(stats(t).df, cs.maxDoc)).sum
      val w = BM25.weightValue(idfSum, boost)
      val localCache = cache
      val query = q
      indexedDocs(live, "payBytes") { d =>
        val spans = Spans.eval(query, d.positions)
        if (spans.isEmpty) None
        else {
          // the payloads of occurrences inside ANY matching span, in
          // (term asc, occurrence) order — a fixed order so the float avg
          // is run-stable (the reference collects in span-walk order; the
          // aggregate families used here are order-insensitive up to float
          // association)
          val inSpans = d.byTerm.toSeq.sortBy(_._1).iterator.flatMap { case (_, p) =>
            p.positions.indices.iterator.collect {
              case i if i < p.payloads.length &&
                  spans.exists(s => p.positions(i) >= s._1 && p.positions(i) < s._2) =>
                p.payloads(i)
            }
          }
          Some(ScoreDoc(d.docId,
            BM25.score(spans.length.toFloat, d.norm.toByte, w, localCache) * factor(inSpans)))
        }
      }
    }
  }

  /** SpanPayloadCheckQuery analog (reference:
    * Search/Spans/SpanPayloadCheckQuery.cs over SpanPositionCheckQuery):
    * a span match is ACCEPTED only when the payload sequence of the
    * occurrences inside it (position order) equals `toMatch` exactly —
    * same count, each byte array equal; spans carrying NO payloads are
    * accepted (the reference's IsPayloadAvailable==false → YES). SpanNear
    * sub-queries are rejected like the reference (its near variant
    * compares unordered). Returns (docId, accepted span count) for docs
    * with ≥1 accepted span — the same positions+payloads scan and
    * in-group span walk as [[payloadNearScores]]. */
  def spanPayloadCheckFreqs(q: SpanQuery,
                            toMatch: Seq[Array[Byte]]): Dataset[(Long, Int)] = {
    require(!q.isInstanceOf[SpanNearQ], "SpanNearQuery not allowed")
    positional(spanPayloadFreqs(q, toMatch, ordered = true))
  }

  /** SpanNearPayloadCheckQuery analog (reference:
    * Search/Spans/SpanNearPayloadCheckQuery.cs): same acceptance frame as
    * [[spanPayloadCheckFreqs]] but over a SpanNear match, and the payload
    * comparison is UNORDERED — every in-span payload must equal some
    * required payload (count must match; the near's sub-spans surface
    * payloads in arbitrary walk order, so order can't be required). */
  def spanNearPayloadCheckFreqs(q: SpanNearQ,
                                toMatch: Seq[Array[Byte]]): Dataset[(Long, Int)] =
    positional(spanPayloadFreqs(q, toMatch, ordered = false))

  private def spanPayloadFreqs(q: SpanQuery, toMatch: Seq[Array[Byte]],
                               ordered: Boolean): Dataset[(Long, Int)] = {
    require(reader.hasPositions, "index has no positions")
    require(reader.hasPayloads, "index has no payloads")
    val terms = Spans.terms(q).toSeq.sorted
    val stats = reader.termStats(terms)
    val live = terms.filter(stats.contains)
    if (live.isEmpty) return spark.emptyDataset[(Long, Int)]
    val query = q
    val want = toMatch.map(_.clone())
    indexedDocs(live, "payBytes") { d =>
      // position -> payload for every live-term occurrence in the doc
      val payAt = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
      d.byTerm.valuesIterator.foreach { p =>
        var i = 0
        while (i < p.positions.length) {
          // empty byte[] = occurrence carries no payload (same contract as
          // the scoring paths' length filter)
          if (i < p.payloads.length && p.payloads(i) != null && p.payloads(i).nonEmpty)
            payAt(p.positions(i)) = p.payloads(i)
          i += 1
        }
      }
      val accepted = Spans.eval(query, d.positions).count { case (s, e) =>
        val seq = (s until e).flatMap(payAt.get)
        seq.isEmpty || // no payloads available -> accept
          (seq.length == want.length && {
            if (ordered)
              seq.zip(want).forall { case (a, b) => java.util.Arrays.equals(a, b) }
            else // near variant: each in-span payload equals SOME required one
              seq.forall(a => want.exists(b => java.util.Arrays.equals(a, b)))
          })
      }
      if (accepted > 0) Some((d.docId, accepted)) else None
    }
  }

  /** DocIds of one term, decoded from the pruned postings scan. */
  private def termDocIds(t: String): Dataset[Long] = reader.decoded(Seq(t)).map(_.docId)

  // ---------------------------------------------------- term-leaf scanning

  /** Score a batch of (term, boost, clause index) in one postings scan. */
  private def scoredTerms(terms: Seq[(String, Float, Int)], ctx: Scoring): Dataset[ClauseHit] = {
    val live = terms.filter(t => ctx.stats.contains(t._1)) // df=0 → no hits, no NaN
    if (live.isEmpty) return spark.emptyDataset[ClauseHit]
    // per-term ARRAY of (weight, clauseIdx): a term shared by several
    // clauses fans each decoded posting out to every clause entry, so
    // duplicates keep their own boost and slot (one Weight per
    // BooleanClause in the reference)
    val weights: Map[String, Array[(Array[Float], Int)]] =
      live.groupBy(_._1).map { case (t, xs) =>
        t -> xs.map { case (_, b, i) => (ctx.weight(Seq(t), b), i) }.toArray
      }
    val sim = ctx.sim
    reader.postingRows(live.map(_._1)).flatMap { r =>
      val entries = weights(r.term)
      val (docIds, tfs, norms) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
      val out = new Array[ClauseHit](docIds.length * entries.length)
      var i = 0
      var o = 0
      while (i < docIds.length) {
        var e = 0
        while (e < entries.length) {
          val (w, idx) = entries(e)
          out(o) = ClauseHit(docIds(i), idx, sim.score(tfs(i).toFloat, norms(i).toByte, w))
          o += 1
          e += 1
        }
        i += 1
      }
      out.iterator
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

  /** Top-k search under the index's BM25: score desc, docId asc
    * (≙ IndexSearcher.Search(q, n)). */
  def search(q: Query, k: Int): Array[ScoreDoc] = searchAfter(null, q, k)

  /** Pagination (≙ IndexSearcher.SearchAfter, reference:
    * Search/IndexSearcher.cs:255-273): only hits strictly after `after` in
    * (score desc, docId asc) order compete. */
  def searchAfter(after: ScoreDoc, q: Query, k: Int): Array[ScoreDoc] =
    topK(after, q, k, defaultSimilarity)

  /** Top-k under a caller-chosen similarity. */
  def search(q: Query, k: Int, sim: SimilarityLike): Array[ScoreDoc] = topK(null, q, k, sim)

  def searchAfter(after: ScoreDoc, q: Query, k: Int, sim: SimilarityLike): Array[ScoreDoc] =
    topK(after, q, k, sim)

  def searchWith(sim: SimilarityLike, q: Query, k: Int): Array[ScoreDoc] = topK(null, q, k, sim)

  /** The one top-k path: the rewritten query's clause weights under
    * `sim`, then the flat scorer or the Dataset scorer tree. `sim` is
    * evaluated under the scan label: the default similarity's first use
    * reads the collection stats. */
  private def topK(after: ScoreDoc, q: Query, k: Int, sim: => SimilarityLike): Array[ScoreDoc] =
      scan {
    val s = sim
    val rq = rewrite(q)
    if (!s.scoresAnyTree) requireFlat(rq)
    val ctx = scoring(rq, s)
    flatSpec(rq, ctx) match {
      case Some(spec) => flatTopK(spec, ctx, after, k)
      case None => TopK(pageAfter(liveOnly(scoredRaw(rq, ctx)), after), k)
    }
  }

  /** The shapes a similarity that does not score every tree takes: a
    * term, a phrase, or a bool of those with minShouldMatch ≤ 1 and no
    * mustNot — one clause list holds every weight its normalization
    * sees. */
  private def requireFlat(q: Query): Unit = {
    def leaf(c: Query): Unit = c match {
      case _: TermQ | _: PhraseQ =>
      case other => throw new UnsupportedOperationException(
        s"searchWith clause must be a term or phrase, got $other")
    }
    q match {
      case BoolQ(m, s, Nil, msm, _) if msm <= 1 => (m ++ s).foreach(leaf)
      case other => leaf(other)
    }
  }

  /** The hits strictly after `after` in (score desc, docId asc) order
    * (all of them when `after` is null). */
  private def pageAfter(hits: Dataset[ScoreDoc], after: ScoreDoc): Dataset[ScoreDoc] =
    if (after == null) hits
    else {
      val aScore = after.score
      val aDoc = after.docId
      hits.filter(sd => sd.score < aScore || (sd.score == aScore && sd.docId > aDoc))
    }

  /** A rewritten query as a [[FlatScorer.Spec]] when it is flat: a TermQ,
    * or a BoolQ whose must, should and mustNot clauses are all TermQs.
    * A clause on a term the dictionary lacks keeps its slot and weight
    * and is never present. */
  private def flatSpec(q: Query, ctx: Scoring): Option[FlatScorer.Spec] = {
    def clause(t: TermQ) = FlatScorer.Clause(t.term, ctx.weight(Seq(t.term), t.boost))
    def terms(qs: Seq[Query]) = {
      val ts = qs.collect { case t: TermQ => t }
      if (ts.size == qs.size) Some(ts) else None
    }
    q match {
      case t: TermQ => Some(FlatScorer.Spec(IndexedSeq(clause(t)), 0, 0, 1f, Set.empty))
      case BoolQ(must, should, mustNot, msm, boost) =>
        for (m <- terms(must); s <- terms(should); n <- terms(mustNot))
          yield FlatScorer.Spec((m ++ s).map(clause).toIndexedSeq, m.size, msm, boost,
            n.map(_.term).toSet)
      case _ => None
    }
  }

  /** Top-k of a flat query in one Spark job of one task, with no shuffle
    * and no Spark SQL plan: the task reads the posting blocks of its
    * scoring and excluded terms from the postings files whose term range
    * holds one of them ([[PostingsFile.read]]) and feeds them to
    * [[FlatScorer.topK]], which returns at most k hits. The job's
    * description counts the files opened out of the reader's. */
  private def flatTopK(spec: FlatScorer.Spec, ctx: Scoring,
                       after: ScoreDoc, k: Int): Array[ScoreDoc] = {
    val stats = ctx.stats
    val mustLive = spec.clauses.take(spec.nMust).forall(c => stats.contains(c.term))
    if (k <= 0 || !mustLive || !spec.clauses.exists(c => stats.contains(c.term)))
      return Array.empty
    val sim = ctx.sim
    val dead = deleted
    val conf = reader.hadoopConf
    val terms = spec.terms.filter(stats.contains)
    val all = reader.postingsFiles
    val files = PostingsFile.holding(all, terms)
    spark.sparkContext.setJobDescription(
      s"search.scan ${reader.dir}: ${files.size}/${all.size} postings files")
    spark.sparkContext.parallelize(Seq(files), 1).mapPartitions { fs =>
      val rows = PostingsFile.read(conf.value.value, fs.next(), terms)
      FlatScorer.topK(rows, spec, sim, dead.value, after, k).hits.iterator
    }.collect()
  }

  /** Brute-force oracle: full sort (Catalyst TakeOrderedAndProject) —
    * correctness baseline for the heap/WAND path (SURVEY.md §5). */
  def searchOracle(q: Query, k: Int): Array[ScoreDoc] =
    scan(scored(q).orderBy($"score".desc, $"docId".asc).limit(k).collect())
}
