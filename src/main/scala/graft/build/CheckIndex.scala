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
    val postings = Tables.read[PostingRow](spark, IndexPaths.postings(dir)).as[PostingRow]
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
    //    re-aggregated from decoded postings == term_dict (df, totalTf)
    val idLo = docBase
    val idHi = docBase + cs.maxDoc
    val perTerm = postings.map { r =>
      val (docIds, tfs, _) = PostingsCodec.decodeBlock(r.firstDocId, r.numDocs, r.bytes)
      var asc = true
      var inRange = true
      var i = 1
      while (i < docIds.length) { if (docIds(i) <= docIds(i - 1)) asc = false; i += 1 }
      docIds.foreach(id => if (id < idLo || id >= idHi) inRange = false)
      (r.term, docIds.length.toLong, tfs.map(_.toLong).sum,
        if (asc) 0L else 1L, if (inRange) 0L else 1L,
        if (docIds.length == r.numDocs && docIds.last == r.lastDocId) 0L else 1L)
    }.groupByKey(_._1).mapGroups { (term, it) =>
      var df = 0L; var ttf = 0L; var bad = 0L
      it.foreach { t => df += t._2; ttf += t._3; bad += t._4 + t._5 + t._6 }
      (term, df, ttf, bad)
    }.toDF("term", "df2", "ttf2", "bad")
    val joined = perTerm.join(dict.toDF(), Seq("term"), "full_outer")
      .select($"term", $"df2", $"ttf2", $"bad", $"df", $"totalTf")
    val badTerms = joined.filter(
      $"df2".isNull || $"df".isNull || $"df2" =!= $"df" ||
      $"ttf2" =!= $"totalTf" || $"bad" > 0).count()
    if (badTerms > 0) problems += s"$badTerms terms with postings/dict mismatch"

    // 5. sumDocFreq cross-check
    val sumDf = dict.agg(coalesce(sum($"df"), lit(0L))).collect()(0).getLong(0)
    if (sumDf != cs.sumDocFreq) problems += s"sumDocFreq ${cs.sumDocFreq} != Σ df $sumDf"

    // 6b. sidecars (positions / char offsets, when present): every blob
    //     aligns with its posting block and per-posting entry counts ==
    //     tf. A term may legitimately have NO sidecar at all — keyword
    //     (StringField) terms are DOCS_ONLY even in a positions-enabled
    //     index (reference: FieldInfo.IndexOptions per field). NOT legal:
    //     a blob without its posting block (orphan), counts != tf, or a
    //     term with blobs for SOME of its blocks but not others (mixed).
    val sidecars: Seq[(String, String, (Int, Array[Byte]) => Array[Int])] = Seq(
      (IndexPaths.positions(dir), "positions",
        (n, bytes) => PostingsCodec.decodePositionsBlock(n, bytes).map(_.length)),
      (IndexPaths.offsets(dir), "offsets",
        (n, bytes) => PostingsCodec.decodeOffsetsBlock(n, bytes).map(_.length / 2)),
      (IndexPaths.payloads(dir), "payloads",
        (n, bytes) => PostingsCodec.decodePayloadsBlock(n, bytes).map(_.length)))
    for ((pathStr, label, entryCounts) <- sidecars) {
      val scPath = new org.apache.hadoop.fs.Path(pathStr)
      if (scPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(scPath)) {
        val t = postings.toDF().select($"term", $"firstDocId", $"numDocs", $"bytes")
          .toDF("term", "firstDocId", "tn", "tbytes")
        val p = Tables.read[PositionsRow](spark, pathStr)
          .select($"term", $"firstDocId", $"bytes").toDF("term", "firstDocId", "scbytes")
        val joined = t.join(p, Seq("term", "firstDocId"), "full_outer")
        val counted = entryCounts
        val perBlock = joined.select($"term", $"firstDocId", $"tn", $"tbytes", $"scbytes")
          .as[(String, Option[Long], Option[Int], Array[Byte], Array[Byte])]
          .map { case (term, first, tn, tbytes, scbytes) =>
            if (first.isEmpty || tn.isEmpty || tbytes == null) (term, 0L, 0L, 1L) // orphan blob
            else if (scbytes == null) (term, 0L, 1L, 0L) // block without sidecar
            else {
              val (_, tfs, _) = PostingsCodec.decodeBlock(first.get, tn.get, tbytes)
              val cts = counted(tn.get, scbytes)
              if (cts.indices.forall(i => cts(i) == tfs(i))) (term, 1L, 0L, 0L)
              else (term, 0L, 0L, 1L) // counts != tf
            }
          }.toDF("term", "withSc", "noSc", "bad")
        val bad = perBlock.groupBy($"term")
          .agg(sum($"withSc").as("w"), sum($"noSc").as("n"), sum($"bad").as("b"))
          .filter($"b" > 0 || ($"w" > 0 && $"n" > 0)).count()
        if (bad > 0) problems += s"$bad terms with misaligned/mixed $label sidecars"
      }
    }

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
