package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

/** Validates the per-language packs ([[LanguagePacks]]) against the
  * reference's own public test vectors, parsed out of the reference test
  * sources at test time (same pattern as StemmerSpec's voc.txt archives —
  * behavior data, no code). When the reference tree is absent the vector
  * tests cancel and the suite reports them NOT RUN ([[graft.ReferenceData]]). */
class LanguagePackSpec extends AnyFunSuite with graft.ReferenceData {

  private val TestRoot = "/root/reference/src/Lucene.Net.Tests.Analysis.Common/Analysis"

  /** Parse `Check...("input", "expected")` style pairs out of a C# test
    * source, decoding \uXXXX escapes. `call` anchors which helper/analyzer
    * variant the pair exercises. */
  private def vectors(file: String, call: String): Seq[(String, String)] = {
    val f = referenceFile(new java.io.File(s"$TestRoot/$file"))
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val text = try src.mkString finally src.close()
    val lit = "\"((?:[^\"\\\\]|\\\\.)*)\""
    val re = (java.util.regex.Pattern.quote(call) + "\\s*" + lit +
      "\\s*,\\s*(?:new string\\[\\]\\s*\\{\\s*)?" + lit).r
    re.findAllMatchIn(text).map(m => (unescape(m.group(1)), unescape(m.group(2)))).toSeq
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case '\\' => sb.append('\\'); i += 2
          case '"' => sb.append('"'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def check(pairs: Seq[(String, String)], fn: String => String, what: String,
      minVectors: Int): Unit = {
    assert(pairs.length >= minVectors, s"$what: expected ≥$minVectors vectors, parsed ${pairs.length}")
    val bad = pairs.collect { case (in, out) if fn(in) != out => s"$in -> ${fn(in)} (want $out)" }
    assert(bad.isEmpty, s"$what: ${bad.length}/${pairs.length} mismatches; first 10:\n${bad.take(10).mkString("\n")}")
  }

  test("arabic normalizer: reference vectors") {
    check(vectors("Ar/TestArabicNormalizationFilter.cs", "Check("), ArabicStem.normalize,
      "arabic-normalize", 10)
  }

  test("arabic stemmer: reference vectors") {
    check(vectors("Ar/TestArabicStemFilter.cs", "Check("), ArabicStem.stem, "arabic-stem", 15)
  }

  test("persian normalizer: reference vectors") {
    check(vectors("Fa/TestPersianNormalizationFilter.cs", "Check("), PersianStem.normalize,
      "persian-normalize", 5)
  }

  test("sorani normalizer: reference vectors") {
    check(vectors("Ckb/TestSoraniNormalizationFilter.cs", "CheckOneTerm(a,"),
      SoraniStem.normalize, "sorani-normalize", 15)
  }

  test("sorani stemmer: reference vectors") {
    // the vectors run through the full SoraniAnalyzer, whose chain
    // normalizes before stemming
    check(vectors("Ckb/TestSoraniStemFilter.cs", "CheckOneTerm(a,"), SoraniStem.normStem,
      "sorani-stem", 15)
  }

  test("hindi normalizer: reference vectors") {
    check(vectors("Hi/TestHindiNormalizer.cs", "Check("), HindiStem.normalize,
      "hindi-normalize", 10)
  }

  test("hindi stemmer: reference vectors") {
    check(vectors("Hi/TestHindiStemmer.cs", "Check("), HindiStem.stem, "hindi-stem", 15)
  }

  test("bulgarian stemmer: reference vectors") {
    check(vectors("Bg/TestBulgarianStemmer.cs", "AssertAnalyzesTo(a,"), BulgarianStem.stem,
      "bulgarian-stem", 60)
  }

  test("czech stemmer: reference vectors") {
    // CzechAnalyzer lowercases before the stem filter
    check(vectors("Cz/TestCzechStemmer.cs", "AssertAnalyzesTo(cz,"),
      w => CzechStem.stem(Analyzer.lowerCase(w)), "czech-stem", 100)
  }

  test("latvian stemmer: reference vectors") {
    // two vectors carry a literal trailing space the whitespace tokenizer eats
    check(vectors("Lv/TestLatvianStemmer.cs", "CheckOneTerm(a,").map { case (i, o) => (i.trim, o) },
      LatvianStem.stem, "latvian-stem", 100)
  }

  test("indonesian stemmer: derivational + inflectional reference vectors") {
    check(vectors("Id/TestIndonesianStemmer.cs", "CheckOneTerm(a,"), IndonesianStem.stem,
      "indonesian-derivational", 40)
    check(vectors("Id/TestIndonesianStemmer.cs", "CheckOneTerm(b,"),
      IndonesianStem.stem(_, stemDerivational = false), "indonesian-inflectional", 4)
  }

  test("greek stemmer: reference vectors (accented inputs through the fold+stem chain)") {
    check(vectors("El/TestGreekStemmer.cs", "CheckOneTerm(a,"), GreekStem.foldStem,
      "greek-stem", 300)
  }

  test("greek lowercase fold: final sigma and tonos") {
    assert(GreekStem.lowerFold("Άνθρωπος") === "ανθρωποσ")
    assert(GreekStem.lowerFold("ΜΑΪΟΣ") === "μαιοσ")
    assert(GreekStem.lowerFold("ΰϊ") === "υι")
  }

  test("irish lowercase: prothesis hyphenation") {
    assert(IrishLowerCase("nAthair") === "n-athair")
    assert(IrishLowerCase("tUISCE") === "t-uisce")
    assert(IrishLowerCase("hARD") === "hard")
    assert(IrishLowerCase("Baile") === "baile")
    assert(IrishLowerCase("n") === "n")
  }

  test("stemming chains wire the packs end to end") {
    // Arabic chain: normalize + stem behind one function
    assert(ArabicStem.normStem("والحسن") === ArabicStem.stem(ArabicStem.normalize("والحسن")))
    // analyzer wiring: ar/hi/id/bg/cs/lv/ckb/fa resolve to a stemming chain
    for (lang <- Seq("ar", "hi", "id", "bg", "cs", "lv", "ckb", "fa"))
      assert(LightStemmers.byLang.contains(lang), s"byLang missing $lang")
    val terms = Analyzer.stemmingForLang("id").analyzeTerms("bukunya")
    assert(terms.toSeq === Seq("buku"))
  }
}
