package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

/** Porter stemmer vs Martin Porter's published test corpus (the same
  * voc.txt/output.txt pair the reference's TestPorterStemFilter uses),
  * plus the analyzer-chain integration. */
class StemmerSpec extends AnyFunSuite with graft.ReferenceData {

  test("inline golden pairs from the published algorithm") {
    val pairs = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing", "conflated" -> "conflat",
      "troubled" -> "troubl", "sized" -> "size", "hopping" -> "hop",
      "tanned" -> "tan", "falling" -> "fall", "hissing" -> "hiss",
      "fizzed" -> "fizz", "failing" -> "fail", "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky", "relational" -> "relat",
      "conditional" -> "condit", "rational" -> "ration",
      "valenci" -> "valenc", "hesitanci" -> "hesit", "digitizer" -> "digit",
      "conformabli" -> "conform", "radicalli" -> "radic",
      "differentli" -> "differ", "vileli" -> "vile", "analogousli" -> "analog",
      "vietnamization" -> "vietnam", "predication" -> "predic",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "callousness" -> "callous", "formaliti" -> "formal",
      "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form", "formalize" -> "formal",
      "electriciti" -> "electr", "electrical" -> "electr", "hopeful" -> "hope",
      "goodness" -> "good", "revival" -> "reviv", "allowance" -> "allow",
      "inference" -> "infer", "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens", "irritant" -> "irrit",
      "replacement" -> "replac", "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "homologou" -> "homolog", "communism" -> "commun",
      "activate" -> "activ", "angulariti" -> "angular", "homologous" -> "homolog",
      "effective" -> "effect", "bowdlerize" -> "bowdler",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll")
    pairs.foreach { case (in, out) =>
      assert(PorterStemmer.stem(in) === out, s"stem($in)")
    }
  }

  test("full published vocabulary (23k words) when the archive is present") {
    val zipPath = new java.io.File("/root/reference/src/" +
      "Lucene.Net.Tests.Analysis.Common/Analysis/En/porterTestData.zip")
    val zf = new java.util.zip.ZipFile(referenceFile(zipPath))
    def lines(name: String): Seq[String] = {
      val e = zf.getEntry(name)
      val src = scala.io.Source.fromInputStream(zf.getInputStream(e), "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val voc = lines("voc.txt")
    val out = lines("output.txt")
    zf.close()
    assert(voc.length === out.length)
    val bad = voc.zip(out).collect {
      case (v, o) if PorterStemmer.stem(v) != o => s"$v -> ${PorterStemmer.stem(v)} (want $o)"
    }
    assert(bad.isEmpty, s"${bad.length} mismatches; first 10:\n${bad.take(10).mkString("\n")}")
  }

  test("snowball ru/pt/it/nl: full official vocabularies when the archive is present") {
    val zipPath = new java.io.File("/root/reference/src/" +
      "Lucene.Net.Tests.Analysis.Common/Analysis/Snowball/TestSnowballVocabData.zip")
    val zf = new java.util.zip.ZipFile(referenceFile(zipPath))
    def lines(name: String): Seq[String] = {
      val e = zf.getEntry(name)
      val src = scala.io.Source.fromInputStream(zf.getInputStream(e), "UTF-8")
      // no nonEmpty filter: four Turkish words stem to the EMPTY string
      // ("ları" is all suffix) and their output lines must stay aligned
      try src.getLines().map(_.trim).toList finally src.close()
    }
    val langs: Seq[(String, String => String)] = Seq(
      "russian" -> SnowballRussian.stem,
      "portuguese" -> SnowballPortuguese.stem,
      "italian" -> SnowballItalian.stem,
      "dutch" -> SnowballDutch.stem,
      "danish" -> SnowballDanish.stem,
      "norwegian" -> SnowballNorwegian.stem,
      "swedish" -> SnowballSwedish.stem,
      "spanish" -> SnowballSpanish.stem,
      "german" -> SnowballGerman.stem,
      "romanian" -> SnowballRomanian.stem,
      "french" -> SnowballFrench.stem,
      "english" -> SnowballEnglish.stem,
      "hungarian" -> SnowballHungarian.stem,
      "finnish" -> SnowballFinnish.stem,
      "turkish" -> SnowballTurkish.stem,
      "german2" -> SnowballGerman2.stem,
      "lovins" -> SnowballLovins.stem,
      "kraaij_pohlmann" -> SnowballKp.stem,
      "porter" -> PorterStemmer.stemStrict)
    val report = langs.map { case (lang, stem) =>
      val voc = lines(s"$lang/voc.txt")
      val out = lines(s"$lang/output.txt")
      assert(voc.length === out.length, s"$lang vector count")
      val bad = voc.zip(out).collect {
        case (v, o) if stem(v) != o => s"$v -> ${stem(v)} (want $o)"
      }
      (lang, voc.length, bad)
    }
    zf.close()
    val failing = report.filter(_._3.nonEmpty)
    assert(failing.isEmpty, failing.map { case (l, n, bad) =>
      s"$l: ${bad.length}/$n mismatches; first 10:\n${bad.take(10).mkString("\n")}"
    }.mkString("\n\n"))
  }

  test("stemmed index build: morphological variants unify for recall") {
    import graft.build.IndexBuilder
    import graft.search.{IndexReader, Searcher, TermQ, PhraseQ}
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    def mk(i: Int, text: String) = graft.corpus.SourceFile(
      "r", f"f$i%02d", "0" * 40, "txt", text, graft.corpus.CorpusGen.sha256Hex(text))
    val docs = Seq(
      mk(0, "the dogs were running fast"),
      mk(1, "a dog runs"),
      mk(2, "he ran yesterday"),      // irregular: 'ran' does NOT stem to 'run'
      mk(3, "nothing related"))
    val stemming: String => graft.analysis.Analyzer = _ => Analyzer.englishStemming
    val d = graft.SparkTestSession.tmpDir("graft-stem-idx-")
    IndexBuilder.build(spark, spark.createDataset(docs), d, numPartitions = 2,
      analyzerFor = stemming)
    val s = new Searcher(new IndexReader(spark, d), analyzerFor = stemming)
    // query text runs through the same analyzer: 'running' → 'run'
    val p = new graft.search.QueryParser(Analyzer.englishStemming)
    val hits = s.search(p.parse("running"), 10)
    assert(hits.map(_.docId).toSet === Set(0L, 1L), "running/runs unify via 'run'")
    assert(s.search(TermQ("dog"), 10).map(_.docId).toSet === Set(0L, 1L))
    // phrase matching through stems ('dogs were running' ≡ 'dog were run')
    assert(s.search(PhraseQ(Seq("dog", "were", "run")), 10).map(_.docId).toSeq === Seq(0L))
  }

  test("stemming analyzer: opt-in stage after the stop filter") {
    val a = Analyzer.englishStemming
    assert(a.analyze("the dogs were running happily").tokens.map(_.term).toSeq ===
      Seq("dog", "were", "run", "happili"))
    // positions still reflect stop gaps
    assert(a.analyze("running the dogs").tokens.map(_.position).toSeq === Seq(0, 2))
    // default analyzer untouched
    assert(Analyzer.standard.analyze("running dogs").tokens.map(_.term).toSeq ===
      Seq("running", "dogs"))
  }

  test("light stemmers (fr/es/de): vectors derived from the stated Savoy-style rules") {
    // French: -aux plural, -s plural, mute -e/-é, final undoubling
    val fr = Seq(
      "chevaux" -> "cheval", "journaux" -> "journal", "maisons" -> "maison",
      "portes" -> "port", "porte" -> "port", "belle" -> "bel",
      "belles" -> "bel", "générales" -> "général", "française" -> "français",
      "livres" -> "livr", "livre" -> "livr", "chats" -> "chat",
      "voix" -> "voix", "actualités" -> "actualit")
    fr.foreach { case (in, out) =>
      assert(LightStemmers.french(in) === out, s"fr: $in") }

    // Spanish: accent folding, -ces→z, -es/-os/-as, final gender vowel
    val es = Seq(
      "luces" -> "luz", "veces" -> "vez", "canciones" -> "cancion",
      "canción" -> "cancion", "libros" -> "libr", "libro" -> "libr",
      "casas" -> "cas", "casa" -> "cas", "papeles" -> "papel",
      "papel" -> "papel", "rápido" -> "rapid", "rápida" -> "rapid")
    es.foreach { case (in, out) =>
      assert(LightStemmers.spanish(in) === out, s"es: $in") }

    // German: umlaut/ß fold, -ern/-em/-er/-en/-es, mute -e; stem-final
    // s/n NEVER stripped (haus stays haus)
    val de = Seq(
      "häuser" -> "haus", "hauses" -> "haus", "haus" -> "haus",
      "kindern" -> "kind", "kinder" -> "kind", "kindes" -> "kind",
      "kind" -> "kind", "frauen" -> "frau", "blumen" -> "blum",
      "blume" -> "blum", "straße" -> "strass", "straßen" -> "strass",
      "schönem" -> "schon", "schöner" -> "schon", "schöne" -> "schon")
    de.foreach { case (in, out) =>
      assert(LightStemmers.german(in) === out, s"de: $in") }
  }

  test("stemmingForLang wires the right stemmer into the chain") {
    val fr = Analyzer.stemmingForLang("fr")
    assert(fr.analyzeTerms("les maisons belles").toSeq === Seq("maison", "bel"))
    val de = Analyzer.stemmingForLang("de")
    assert(de.analyzeTerms("die Häuser").toSeq === Seq("haus"))
    val en = Analyzer.stemmingForLang("en")
    assert(en.analyzeTerms("merging branches").toSeq === Seq("merg", "branch"))
    // Snowball languages: stop filter drops function words, stemmer
    // conflates inflection (outputs match the official vocab pairs)
    val ru = Analyzer.stemmingForLang("ru")
    assert(ru.analyzeTerms("не авторы книги").toSeq === Seq("автор", "книг"))
    val pt = Analyzer.stemmingForLang("pt")
    assert(pt.analyzeTerms("as bibliotecas digitais").toSeq === Seq("bibliotec", "digit"))
    val it = Analyzer.stemmingForLang("it")
    assert(it.analyzeTerms("le abbandonate").toSeq === Seq("abbandon"))
    val nl = Analyzer.stemmingForLang("nl")
    assert(nl.analyzeTerms("de lichamelijke").toSeq === Seq("licham"))
    val sv = Analyzer.stemmingForLang("sv")
    assert(sv.analyzeTerms("och klockorna").toSeq === Seq("klock"))
    // full-Snowball chain where the default is light: es strips verb
    // morphology the light stemmer leaves
    assert(Analyzer.snowballForLang("es").analyzeTerms("buscaremos").toSeq
      === Seq("busc"))
    assert(Analyzer.snowballForLang("de").analyzeTerms("aufeinanderfolgender")
      .toSeq === Seq("aufeinanderfolg"))
    // unknown language: stop-only fallback, no stemmer
    val zz = Analyzer.stemmingForLang("zz")
    assert(zz.analyzeTerms("running dogs").toSeq === Seq("running", "dogs"))
  }
}
