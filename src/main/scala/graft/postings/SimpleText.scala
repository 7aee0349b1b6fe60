package graft.postings

import graft.build.{CollectionStatsRow, IndexPaths, Posting, PostingsTableRow, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** SimpleText postings — the reference's human-readable debugging codec
  * (reference: Codecs/SimpleText/SimpleTextFieldsWriter.cs:36-44 line
  * grammar, SimpleTextFieldsReader.cs): the index dumped as plain text
  * you can `cat`, and read back losslessly. Line grammar preserved
  * verbatim (prefix indentation included):
  *
  * {{{
  * field content
  *   term merge
  *     doc 0
  *       freq 2
  *       pos 5        (positions level, when the index carries it)
  * END
  * }}}
  *
  * Spark restatement: the body renders from one postings scan (each
  * block's positions ride in its row), term-sorted; like the reference,
  * this codec trades everything for
  * inspectability — debugging and tests only, never production (their
  * own warning), so the single-file framing is deliberate.
  */
object SimpleText {

  /** Render the index's postings (and positions, when the index carries
    * them) as SimpleText lines at `outDir`. Single `content` field —
    * this engine's positioned field. */
  def dump(spark: SparkSession, indexDir: String, outDir: String): Unit = {
    import spark.implicits._
    val blocks = Tables.read[PostingsTableRow](spark, IndexPaths.postings(indexDir))
    val lines = Posting.decode(blocks, Seq("posBytes"))
      .map { p =>
        val sb = new StringBuilder
        sb.append("    doc ").append(p.docId).append('\n')
        sb.append("      freq ").append(p.tf)
        if (p.positions != null)
          p.positions.foreach(pos => sb.append('\n').append("      pos ").append(pos))
        (p.term, p.docId, sb.toString)
      }.toDF("term", "docId", "body")
      // range-partition by TERM ALONE: with docId in the partitioning key
      // a high-df term could straddle a partition boundary and the
      // per-partition lastTerm state would re-emit its header, breaking
      // the reference grammar's one-header-per-term invariant (a skewed
      // term then fills one partition — fine for a debugging codec)
      .repartitionByRange(4, $"term")
      .sortWithinPartitions($"term", $"docId")
      .as[(String, Long, String)]
      .mapPartitions { it =>
        var lastTerm: String = null
        it.map { case (term, _, body) =>
          val head =
            if (term != lastTerm) { lastTerm = term; s"  term $term\n" } else ""
          head + body
        }
      }
    // distributed body, then one-file framing: the driver STREAMS the
    // term-ordered part files (lexical name order = range order) between
    // the field header and END — the reference's single .pst file. Bytes
    // never accumulate on the driver; the single file is the debugging
    // codec's own contract.
    val bodyDir = s"$outDir/_body"
    lines.write.mode(SaveMode.Overwrite).text(bodyDir)
    val outFs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(s"$outDir/simpletext.pst")
    val os = outFs.create(target, true)
    try {
      os.write("field content\n".getBytes("UTF-8"))
      outFs.listStatus(new org.apache.hadoop.fs.Path(bodyDir))
        .filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
        .foreach { st =>
          val in = outFs.open(st.getPath)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, os, 64 * 1024, false)
          finally in.close()
        }
      os.write("END\n".getBytes("UTF-8"))
    } finally os.close()
    outFs.delete(new org.apache.hadoop.fs.Path(bodyDir), true)
  }

  /** Parse a SimpleText dump back to (term, docId, tf, positions) rows —
    * SimpleTextFieldsReader's grammar walk, one pass in line order. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(dir).coalesce(1).mapPartitions { it =>
      var term: String = null
      var docId = -1L
      var tf = -1
      var ps = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Seq[Int])]
      def flush(): Unit = {
        if (docId >= 0) out += ((term, docId, tf, ps.toSeq))
        docId = -1L; tf = -1; ps = scala.collection.mutable.ArrayBuffer.empty[Int]
      }
      it.foreach { row =>
        row.split('\n').foreach { line =>
          if (line.startsWith("      pos ")) ps += line.substring(10).toInt
          else if (line.startsWith("      freq ")) tf = line.substring(11).toInt
          else if (line.startsWith("    doc ")) { flush(); docId = line.substring(8).toLong }
          else if (line.startsWith("  term ")) { flush(); term = line.substring(7) }
          else if (line == "END" || line.startsWith("field ")) flush()
        }
      }
      flush()
      out.iterator
    }.toDF("term", "docId", "tf", "positions")
  }


  // --- the other SimpleText family members -----------------------------

  private def writeFramed(spark: SparkSession, outDir: String, name: String,
      header: Option[String], bodyLines: DataFrame, footer: String = "END\n"): Unit = {
    val bodyDir = s"$outDir/_body_$name"
    bodyLines.write.mode(SaveMode.Overwrite).text(bodyDir)
    val outFs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = outFs.create(new org.apache.hadoop.fs.Path(s"$outDir/$name"), true)
    try {
      header.foreach(h => os.write(h.getBytes("UTF-8")))
      outFs.listStatus(new org.apache.hadoop.fs.Path(bodyDir))
        .filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
        .foreach { st =>
          val in = outFs.open(st.getPath)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, os, 64 * 1024, false)
          finally in.close()
        }
      os.write(footer.getBytes("UTF-8"))
    } finally os.close()
    outFs.delete(new org.apache.hadoop.fs.Path(bodyDir), true)
  }

  private val StoredFieldNames =
    Seq("repo", "path", "commit", "lang", "content", "sha256")

  /** SimpleTextStoredFieldsWriter (reference:
    * Codecs/SimpleText/SimpleTextStoredFieldsWriter.cs:49-120 grammar):
    * per doc `doc <n>` / `  numfields <k>` / per field `  field <num>` /
    * `    name <name>` / `    type string` / `    value <v>`, closed by
    * END — this engine's stored fields are the docs table's six string
    * columns. Values with embedded newlines are escaped (\n) so the
    * line grammar stays parseable; [[readStoredFields]] unescapes. */
  def dumpStoredFields(spark: SparkSession, indexDir: String, outDir: String): Unit = {
    import spark.implicits._
    val docs = graft.build.DocsTable.read(spark, indexDir)
    val lines = docs
      .repartitionByRange(4, $"docId").sortWithinPartitions($"docId")
      .select($"docId", $"repo", $"path", $"commit", $"lang", $"content", $"sha256")
      .as[(Long, String, String, String, String, String, String)]
      .map { case (id, repo, path, commitV, lang, content, sha) =>
        val vals = Seq(repo, path, commitV, lang, content, sha)
        val sb = new StringBuilder
        sb.append("doc ").append(id).append('\n')
        sb.append("  numfields ").append(vals.length)
        vals.zipWithIndex.foreach { case (v, i) =>
          sb.append('\n').append("  field ").append(i)
          sb.append('\n').append("    name ").append(StoredFieldNames(i))
          sb.append('\n').append("    type string")
          sb.append('\n').append("    value ")
            .append(if (v == null) "" else v.replace("\\", "\\\\").replace("\n", "\\n"))
        }
        sb.toString
      }.toDF("value")
    writeFramed(spark, outDir, "simpletext.fld", None, lines)
  }

  // single left-to-right pass: sequential replace("\\n"→NL, then
  // "\\\\"→"\\") corrupts a literal backslash-n ("\\\\n" would decode to
  // backslash+NL instead of backslash+n)
  private def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case _ => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The lossless inverse of [[dumpStoredFields]]: (docId, field, value)
    * rows. */
  def readStoredFields(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(dir).coalesce(1).mapPartitions { it =>
      var docId = -1L
      var name: String = null
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
      it.foreach { row =>
        row.split('\n').foreach { line =>
          if (line.startsWith("doc ")) docId = line.substring(4).toLong
          else if (line.startsWith("    name ")) name = line.substring(9)
          else if (line.startsWith("    value "))
            out += ((docId, name, unescape(line.substring(10))))
        }
      }
      out.iterator
    }.toDF("docId", "field", "value")
  }

  /** SimpleTextLiveDocsFormat (reference:
    * Codecs/SimpleText/SimpleTextLiveDocsFormat.cs:53-150): `size <n>`
    * then one `  doc <i>` line per LIVE doc, then END. */
  def dumpLiveDocs(spark: SparkSession, indexDir: String, outDir: String): Unit = {
    import spark.implicits._
    val docs = graft.build.DocsTable.read(spark, indexDir).select($"docId")
    val dead = graft.build.Deletes.tombstones(spark, indexDir).toDF("deadId")
    val size = docs.count()
    val lines = docs.join(dead, $"docId" === $"deadId", "left_anti")
      .repartitionByRange(4, $"docId").sortWithinPartitions($"docId")
      .select($"docId").as[Long]
      .map(id => s"  doc $id").toDF("value")
    writeFramed(spark, outDir, "simpletext.liv", Some(s"size $size\n"), lines)
  }

  /** SimpleTextFieldInfosWriter (reference:
    * Codecs/SimpleText/SimpleTextFieldInfosWriter.cs:47-140): the field
    * schema rendered with the engine's real per-field capabilities —
    * `content` positioned/normed with the index's recorded levels,
    * keyword fields indexed-only with norms omitted (DOCS_ONLY). Driver-sized (a
    * handful of fields), written directly. */
  def dumpFieldInfos(spark: SparkSession, indexDir: String, outDir: String,
      keywordFields: Seq[String] = Seq("repo", "path", "commit", "lang")): Unit = {
    import spark.implicits._
    val cs = Tables.read[CollectionStatsRow](spark, IndexPaths.collectionStats(indexDir))
      .as[CollectionStatsRow].head()
    val (hasPos, hasOff, hasPay) = (cs.hasPositions, cs.hasOffsets, cs.hasPayloads)
    val fields = ("content", true) +: keywordFields.map((_, false))
    val sb = new StringBuilder
    sb.append("number of fields ").append(fields.length).append('\n')
    fields.zipWithIndex.foreach { case ((name, positioned), num) =>
      sb.append("  name ").append(name).append('\n')
      sb.append("  number ").append(num).append('\n')
      sb.append("  indexed true\n")
      sb.append("  term vectors false\n")
      sb.append("  payloads ").append(positioned && hasPay).append('\n')
      sb.append("  norms ").append(positioned).append('\n')
      sb.append("  doc values null\n")
      val opts =
        if (!positioned) "DOCS_ONLY"
        else if (hasOff) "DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS"
        else if (hasPos) "DOCS_AND_FREQS_AND_POSITIONS"
        else "DOCS_AND_FREQS"
      sb.append("  index options ").append(opts).append('\n')
      sb.append("  attributes 0\n")
    }
    val outFs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = outFs.create(new org.apache.hadoop.fs.Path(s"$outDir/simpletext.inf"), true)
    try os.write(sb.toString.getBytes("UTF-8")) finally os.close()
  }
}
