package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

/** Double Metaphone validated against the reference's FULL vector table:
  * every (word, primary, alternate) triple from the reference test module
  * (Lucene.Net.Tests.Analysis.Phonetic/Language/DoubleMetaphone2Test.cs,
  * ~1,200 rows) is parsed at test time and both codes asserted. */
class DoubleMetaphoneSpec extends AnyFunSuite with graft.ReferenceData {

  private val TestFile = new java.io.File(
    "/root/reference/src/Lucene.Net.Tests.Analysis.Phonetic/Language/" +
      "DoubleMetaphone2Test.cs")

  private lazy val vectors: Seq[(String, String, String)] = {
    val src = scala.io.Source.fromFile(TestFile, "UTF-8")
    val text = try src.mkString finally src.close()
    val row = """new string\[\] \{"([^"]*)", "([^"]*)", "([^"]*)"\}""".r
    row.findAllMatchIn(text).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
  }

  test("full reference vector table: primary AND alternate (~1200 words)") {
    referenceFile(TestFile)
    assert(vectors.length > 1000, s"parsed only ${vectors.length} vectors")
    val bad = vectors.flatMap { case (w, p, a) =>
      val (gp, ga) = DoubleMetaphone.encode(w)
      if (gp != p || ga != a) Some(s"$w: got ($gp,$ga) want ($p,$a)") else None
    }
    assert(bad.isEmpty, s"${bad.length} mismatches, first 10:\n${bad.take(10).mkString("\n")}")
  }

  test("published examples: dual pronunciations and max code length") {
    assert(DoubleMetaphone.encode("jumped") === (("JMPT", "AMPT")))
    assert(DoubleMetaphone.encode("jumped", maxLen = 3) === (("JMP", "AMP")))
    // Germanic/English split pairs from the published paper
    assert(DoubleMetaphone.encode("wechsler") === (("AKSL", "FKSL")))
    assert(DoubleMetaphone.encode("zhao") === (("J", "J")))
    assert(DoubleMetaphone.encode("Angier") === (("ANJ", "ANJR")))
    // either-code match rule
    assert(DoubleMetaphone.matches("Smith", "Schmidt"))
    assert(DoubleMetaphone.matches("Jablonski", "Yablonsky"))
    assert(!DoubleMetaphone.matches("Washington", "Jefferson"))
    // empty / whitespace input
    assert(DoubleMetaphone.encode("") === (("", "")))
    assert(DoubleMetaphone.encode("   ") === (("", "")))
  }
}
