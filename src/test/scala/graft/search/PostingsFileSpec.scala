package graft.search

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
import org.scalatest.funsuite.AnyFunSuite

/** The file selection of the flat scorer's direct read, without Spark:
  * which postings files [[PostingsFile.holding]] keeps for a query's
  * terms, given the `term` statistics of each file's row groups. */
class PostingsFileSpec extends AnyFunSuite {
  private val termType = Types.required(PrimitiveType.PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("term")

  /** A row group's `term` statistics with min `lo` and max `hi`. */
  private def stats(lo: String, hi: String): Statistics[_] =
    Statistics.getBuilderForReading(termType).withMin(Binary.fromString(lo).getBytes)
      .withMax(Binary.fromString(hi).getBytes).withNumNulls(0L).build()

  /** A row group whose min and max parquet dropped (over its size cap):
    * only the null count is left. */
  private val noMinMax: Statistics[_] =
    Statistics.getBuilderForReading(termType).withNumNulls(0L).build()

  private def file(name: String, rowGroups: Statistics[_]*) =
    PostingsFile.of(name, 100L, rowGroups)

  private def picked(files: Seq[PostingsFile], terms: String*): Seq[String] =
    PostingsFile.holding(files, terms).map(_.path)

  private val replacement = "�" // U+FFFD: UTF-8 EF BF BD
  private val emoji = "😀" // U+1F600: UTF-8 F0 9F 98 80

  test("ranges compare in UTF-8 byte order, not Java String order") {
    // Java String order puts the emoji (a surrogate pair, D83D…) before
    // U+FFFD; the term column, parquet's statistics and Spark sort it after
    assert(emoji.compareTo(replacement) < 0)
    val low = file("low", stats("a", replacement))
    val high = file("high", stats(emoji, emoji))
    assert(picked(Seq(low, high), emoji) === Seq("high"))
    assert(picked(Seq(low, high), replacement) === Seq("low"))
    assert(picked(Seq(low, high), "b", emoji) === Seq("low", "high"))
    // a file's range is the union of its row groups' ranges in that order:
    // [a, emoji], which holds U+FFFD
    val spread = file("spread", stats(emoji, emoji), stats("a", "b"))
    assert(spread.termRange.map { case (lo, hi) => (lo.toStringUsingUTF8, hi.toStringUsingUTF8) } ===
      Some(("a", emoji)))
    assert(picked(Seq(spread), replacement) === Seq("spread"))
    assert(picked(Seq(spread), "c") === Seq("spread"))
    assert(picked(Seq(spread), "0", "😁") === Nil)
  }

  test("a file with a row group without term statistics is always read") {
    val partial = file("partial", stats("m", "n"), noMinMax)
    assert(partial.termRange === None)
    assert(picked(Seq(partial), "a") === Seq("partial"))
    assert(picked(Seq(file("missing", stats("m", "n"), null)), "z") === Seq("missing"))
    // the range of the other row group alone would skip it
    assert(picked(Seq(file("whole", stats("m", "n"))), "a") === Nil)
  }

  test("a file with no row groups is never read") {
    val empty = file("empty")
    assert(empty.rowGroups === 0)
    assert(picked(Seq(empty, file("full", stats("a", "z"))), "a", "m") === Seq("full"))
  }

  test("bounds are inclusive, and any one query term selects a file") {
    val f = file("f", stats("def", "int"))
    assert(picked(Seq(f), "def") === Seq("f"))
    assert(picked(Seq(f), "int") === Seq("f"))
    assert(picked(Seq(f), "de", "inta") === Nil)
    assert(picked(Seq(f), "de", "for", "inta") === Seq("f"))
  }
}
