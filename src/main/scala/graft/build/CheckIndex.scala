package graft.build

import graft.bm25.BM25
import graft.corpus.SourceFile
import graft.postings.PostingsCodec
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Index-integrity verification job (≙ CheckIndex, reference:
  * /root/reference/src/Lucene.Net/Index/CheckIndex.cs:870-881,968,1690):
  * postings decode cleanly and cross-check against the dictionary stats,
  * doc space is dense, norms re-derive from token counts, and the
  * sha256(content) per-row invariant holds against the source corpus. */
object CheckIndex {

  final case class Report(problems: Seq[String]) {
    def ok: Boolean = problems.isEmpty
  }

  def check(spark: SparkSession, dir: String,
            corpus: Option[Dataset[SourceFile]] = None): Report = {
    import spark.implicits._
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]

    val docstats = Tables.read[DocStatRow](spark, IndexPaths.docstats(dir))
    val postings = Tables.read[PostingsTableRow](spark, IndexPaths.postings(dir))
      .as[PostingsTableRow]
    val dict = Tables.read[TermDictRow](spark, IndexPaths.termDict(dir)).as[TermDictRow]
    val cs = Tables.read[CollectionStatsRow](spark, IndexPaths.collectionStats(dir))
      .as[CollectionStatsRow].head()

    // 1. doc space dense: a contiguous run of maxDoc ids starting at a
    //    per-index docBase (0 for a fresh build; splitter shards and
    //    streaming generations carry a non-zero base — the reference's
    //    per-segment docBase model, Index/SegmentReader.cs)
    val d = docstats.agg(count("*"), countDistinct($"docId"), min($"docId"),
      max($"docId")).collect()(0)
    if (d.getLong(0) != cs.maxDoc) problems += s"docstats rows ${d.getLong(0)} != maxDoc ${cs.maxDoc}"
    if (d.getLong(1) != cs.maxDoc) problems += "docIds not distinct"
    val docBase = if (cs.maxDoc > 0) d.getLong(2) else 0L
    if (cs.maxDoc > 0 && d.getLong(3) - docBase + 1 != cs.maxDoc)
      problems += s"docId range [${d.getLong(2)}, ${d.getLong(3)}] not dense (maxDoc ${cs.maxDoc})"

    // 2. norms re-derive from token counts (byte315 encode is deterministic)
    val badNorms = docstats
      .filter(r => (BM25.encodeNorm(r.getAs[Int]("tokenCount")) & 0xff) != r.getAs[Int]("norm"))
      .count()
    if (badNorms > 0) problems += s"$badNorms docs with norm != byte315(1/sqrt(len))"

    // 3. sumTotalTermFreq == Σ tokenCount
    val sumTtf = docstats.agg(coalesce(sum($"tokenCount"), lit(0L))).collect()(0).getLong(0)
    if (sumTtf != cs.sumTotalTermFreq)
      problems += s"sumTotalTermFreq ${cs.sumTotalTermFreq} != Σ tokenCount $sumTtf"

    // 4. every block decodes; docIds ascending, in range; per-term stats
    //    re-aggregated from decoded postings == term_dict (df, totalTf).
    // 4b. the blobs of each level the index records: per-posting entry
    //    counts == tf. A term may legitimately have NO blobs at all —
    //    keyword (StringField) terms are DOCS_ONLY even in a positions-
    //    enabled index (reference: FieldInfo.IndexOptions per field). NOT
    //    legal: counts != tf, or a term with blobs on SOME of its blocks
    //    but not others (mixed).
    val levels = Seq[(String, Boolean, (Int, Array[Byte]) => Array[Int])](
      ("positions", cs.hasPositions,
        (n, bytes) => PostingsCodec.decodePositionsBlock(n, bytes).map(_.length)),
      ("offsets", cs.hasOffsets,
        (n, bytes) => PostingsCodec.decodeOffsetsBlock(n, bytes).map(_.length / 2)),
      ("payloads", cs.hasPayloads,
        (n, bytes) => PostingsCodec.decodePayloadsBlock(n, bytes).map(_.length)))
    val entryCounts = levels.map { case (_, recorded, f) => if (recorded) Some(f) else None }
    val idLo = docBase
    val idHi = docBase + cs.maxDoc
    val perTerm = postings.map { r =>
      val (docIds, tfs, _) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
      var asc = true
      var inRange = true
      var i = 1
      while (i < docIds.length) { if (docIds(i) <= docIds(i - 1)) asc = false; i += 1 }
      docIds.foreach(id => if (id < idLo || id >= idHi) inRange = false)
      // per level: 1 with blob, 2 without, 4 counts != tf (bit flags)
      val blobs = Seq(r.posBytes, r.offBytes, r.payBytes).zip(entryCounts).map {
        case (_, None) => 0
        case (null, Some(_)) => 2
        case (b, Some(f)) =>
          val cts = f(r.numDocs, b)
          if (cts.length == tfs.length && cts.indices.forall(i => cts(i) == tfs(i))) 1 else 4
      }
      (r.term, docIds.length.toLong, tfs.map(_.toLong).sum,
        if (asc) 0L else 1L, if (inRange) 0L else 1L,
        if (docIds.length == r.numDocs && docIds.last == r.lastDocId) 0L else 1L,
        blobs(0), blobs(1), blobs(2))
    }.groupByKey(_._1).mapGroups { (term, it) =>
      var df = 0L; var ttf = 0L; var bad = 0L
      val seen = new Array[Int](3)
      it.foreach { t =>
        df += t._2; ttf += t._3; bad += t._4 + t._5 + t._6
        seen(0) |= t._7; seen(1) |= t._8; seen(2) |= t._9
      }
      // a level is bad for the term when counts differ or blocks mix
      def badLevel(s: Int): Int = if ((s & 4) != 0 || s == 3) 1 else 0
      (term, df, ttf, bad, badLevel(seen(0)), badLevel(seen(1)), badLevel(seen(2)))
    }.toDF("term", "df2", "ttf2", "bad", "badPos", "badOff", "badPay")
    val joined = perTerm.join(dict.toDF(), Seq("term"), "full_outer")
    val counts = joined.agg(
      count(when($"df2".isNull || $"df".isNull || $"df2" =!= $"df" ||
        $"ttf2" =!= $"totalTf" || $"bad" > 0, 1)),
      count(when($"badPos" > 0, 1)), count(when($"badOff" > 0, 1)),
      count(when($"badPay" > 0, 1))).head()
    if (counts.getLong(0) > 0) problems += s"${counts.getLong(0)} terms with postings/dict mismatch"
    levels.indices.foreach { i =>
      val bad = counts.getLong(i + 1)
      if (bad > 0) problems += s"$bad terms with miscounted/mixed ${levels(i)._1} blobs"
    }

    // 5. sumDocFreq cross-check
    val sumDf = dict.agg(coalesce(sum($"df"), lit(0L))).collect()(0).getLong(0)
    if (sumDf != cs.sumDocFreq) problems += s"sumDocFreq ${cs.sumDocFreq} != Σ df $sumDf"

    // 6. sha256 per-row invariant vs the source corpus
    corpus.foreach { c =>
      val mismatch = c.toDF().select($"repo", $"path", $"commit", $"sha256".as("sha_src"))
        .join(docstats.select($"repo", $"path", $"commit", $"sha256"),
          Seq("repo", "path", "commit"), "full_outer")
        .filter($"sha_src".isNull || $"sha256".isNull || $"sha_src" =!= $"sha256")
        .count()
      if (mismatch > 0) problems += s"$mismatch docs violate the sha256 invariant"
    }

    Report(problems.toSeq)
  }
}
