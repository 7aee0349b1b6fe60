package graft.search

import graft.build.{PostingRow, Tables}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{MessageType, PrimitiveComparator}
import org.apache.spark.TaskInputBytes

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One postings file as a reader's file map holds it (≙ a segment's
  * terms index, reference: Codecs/BlockTreeTermsReader.cs): its path and
  * length, its number of row groups, and the min and max of its `term`
  * column over them, or None when a row group has no term statistics
  * (parquet drops binary statistics above its size cap). */
final case class PostingsFile(path: String, length: Long, rowGroups: Int,
                              termRange: Option[(Binary, Binary)]) {
  /** Whether the file can hold one of `terms` (UTF-8 encoded): never
    * with no row groups, always without a range, and otherwise when a
    * term falls in the range in parquet's binary order. */
  def mayHold(terms: Seq[Binary]): Boolean =
    rowGroups > 0 && termRange.forall { case (lo, hi) =>
      terms.exists(t => PostingsFile.Order.compare(lo, t) <= 0 && PostingsFile.Order.compare(t, hi) <= 0)
    }
}

object PostingsFile {
  /** The `term` column's sort order: unsigned bytes, Spark's `UTF8String`
    * order. Java's `String.compareTo` disagrees with it on supplementary
    * characters. */
  private[search] val Order: PrimitiveComparator[Binary] =
    PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR

  /** A file from its row groups' `term` statistics (null: none). */
  def of(path: String, length: Long, termStats: Seq[Statistics[_]]): PostingsFile = {
    val ranges = termStats.map(s =>
      if (s == null || !s.hasNonNullValue) None
      else Some((s.genericGetMin.asInstanceOf[Binary], s.genericGetMax.asInstanceOf[Binary])))
    val range =
      if (ranges.isEmpty || ranges.contains(None)) None
      else Some(ranges.flatten.reduce((a, b) =>
        (if (Order.compare(a._1, b._1) <= 0) a._1 else b._1,
          if (Order.compare(a._2, b._2) >= 0) a._2 else b._2)))
    PostingsFile(path, length, termStats.size, range)
  }

  /** The postings files of the table directory `dir`, from their footers
    * on the driver ([[Tables.footers]]). */
  def list(conf: Configuration, dir: String): Seq[PostingsFile] =
    Tables.footers(conf, dir).map { case (f, blocks) =>
      of(f.getPath.toString, f.getLen, blocks.map(b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "term").map(_.getStatistics).orNull))
    }

  /** The files of `files` that can hold one of `terms`. */
  def holding(files: Seq[PostingsFile], terms: Seq[String]): Seq[PostingsFile] = {
    val keys = terms.map(Binary.fromString)
    files.filter(_.mayHold(keys))
  }

  /** The posting blocks of `terms` in `files`, read with parquet-mr in
    * the calling task: the nine [[PostingRow]]
    * columns, the row groups and pages that `term IN (terms)` cannot
    * rule out by statistics, dictionary or column index, and of those
    * the rows of the terms. The bytes read are charged to the task's
    * input metrics. */
  def read(conf: Configuration, files: Seq[PostingsFile], terms: Seq[String]): Iterator[PostingRow] =
    TaskInputBytes.charged {
      val keys = terms.map(Binary.fromString).toSet
      val options = HadoopReadOptions.builder(conf).withRecordFilter(
        FilterCompat.get(FilterApi.in(FilterApi.binaryColumn("term"), keys.asJava))).build()
      val out = ArrayBuffer.empty[PostingRow]
      for (f <- files) {
        val status = new FileStatus(f.length, false, 1, 0L, 0L, new Path(f.path))
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf), options)
        try {
          val fileSchema = reader.getFileMetaData.getSchema
          val schema = new MessageType(fileSchema.getName,
            PostingRow.names.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
          reader.setRequestedSchema(schema)
          val io = new ColumnIOFactory().getColumnIO(schema, fileSchema)
          val rows = new BlockMaterializer(keys)
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            val records = io.getRecordReader(pages, rows)
            var i = 0L
            while (i < pages.getRowCount) {
              val r = records.read()
              if (r != null) out += r
              i += 1
            }
            pages = reader.readNextFilteredRowGroup()
          }
        } finally reader.close()
      }
      out.iterator
    }

  /** Turns a record of the [[PostingRow.names]] columns into a
    * [[PostingRow]] when its term is one of `terms`, and into null
    * otherwise, copying no block bytes. */
  private final class BlockMaterializer(terms: Set[Binary]) extends RecordMaterializer[PostingRow] {
    private var term: Binary = _
    private var firstDocId, lastDocId, sumTf = 0L
    private var numDocs, maxTf, maxNorm, segId = 0
    private var bytes: Binary = _

    private def long(set: Long => Unit) = new PrimitiveConverter {
      override def addLong(v: Long): Unit = set(v)
    }
    private def int(set: Int => Unit) = new PrimitiveConverter {
      override def addInt(v: Int): Unit = set(v)
    }
    private def binary(set: Binary => Unit) = new PrimitiveConverter {
      override def addBinary(v: Binary): Unit = set(v)
    }

    private val root = new GroupConverter {
      private val fields: Array[Converter] = Array(binary(term = _), long(firstDocId = _),
        long(lastDocId = _), int(numDocs = _), int(maxTf = _), int(maxNorm = _), long(sumTf = _),
        int(segId = _), binary(bytes = _))
      override def getConverter(i: Int): Converter = fields(i)
      override def start(): Unit = { term = null; bytes = null }
      override def end(): Unit = ()
    }

    override def getRootConverter: GroupConverter = root

    override def getCurrentRecord: PostingRow =
      if (term == null || !terms(term)) null
      else PostingRow(term.toStringUsingUTF8, firstDocId, lastDocId, numDocs, maxTf, maxNorm,
        sumTf, segId, if (bytes == null) null else bytes.getBytes)
  }
}
