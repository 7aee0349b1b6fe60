package graft.search

import graft.SparkTestSession
import graft.build.{IndexBuilder, IndexPaths, TermDictRow}
import graft.corpus.CorpusGen
import graft.postings.Pulsing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The driver-held dictionary answers every stats lookup and multi-term
  * expansion exactly as the relational lookups it replaced. The reference
  * below is those lookups, kept verbatim: Spark predicates evaluated over
  * `reader.termDict`. Each reader kind (single, 2-generation multi,
  * parallel, pulsed) gets the same checks, over a dictionary that also
  * holds terms whose UTF-8 and UTF-16 orders disagree. */
class TermDictionarySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val root = SparkTestSession.tmpDir("graft-dict-")

  /** U+FF5A sorts before U+1D4B3 in UTF-8 (and Spark), after it in UTF-16. */
  private val Z = "ｚ"
  private val X = "𝒳"
  /** 64 terms within two edits of "abcd", to exercise the fuzzy cut at 50. */
  private val near = for (c <- 'a' to 'h'; d <- 'a' to 'h') yield s"ab$c$d"
  /** No special term starts with a surrogate, so the fuzzy banding still
    * applies to queries without one. */
  private val special = Seq(Z, Z + Z, "a" + Z, "a" + X, Z + X, "b" + X + "c", "a" + X + X) ++ near

  /** Appends dictionary rows for the special terms to `dir`'s term_dict
    * (the dictionary checks need no postings behind them). */
  private def addSpecial(dir: String, df: Long): Unit = {
    import spark.implicits._
    spark.createDataset(special.zipWithIndex.map { case (t, i) =>
      TermDictRow(t, df + i, 2 * (df + i), 1 + i % 3, 100 + i) })
      .coalesce(1).write.mode("append").parquet(IndexPaths.termDict(dir))
  }

  private lazy val readers: Seq[(String, IndexReader)] = {
    import spark.implicits._
    val g0 = s"$root/gen0"
    val g1 = s"$root/gen1"
    val kw = s"$root/kw"
    val pulsed = s"$root/pulsed"
    val docs = (0L until 200L).map(CorpusGen.doc)
    IndexBuilder.build(spark, spark.createDataset(docs), g0, numPartitions = 2)
    IndexBuilder.build(spark, spark.createDataset((200L until 260L).map(CorpusGen.doc)), g1,
      numPartitions = 2, docIdBase = 200L)
    IndexBuilder.build(spark, spark.createDataset(docs), kw, numPartitions = 2,
      analyzerFor = ParallelReaderSpec.noTokFor, keywordFields = Seq("lang", "path"))
    addSpecial(g0, 1L)
    addSpecial(g1, 7L)
    Pulsing.write(spark, g0, pulsed, freqCutoff = 2, numPartitions = 2)
    Seq(
      "single" -> new IndexReader(spark, g0),
      "2-generation multi" -> IndexReader.multi(spark, Seq(g0, g1)),
      "parallel" -> new ParallelIndexReader(spark, g0, Seq(kw)),
      "pulsed" -> new IndexReader(spark, pulsed))
  }

  // ------------------------------------------- the relational reference

  private def refTermStats(r: IndexReader, terms: Seq[String]): Map[String, TermDictRow] = {
    import spark.implicits._
    r.termDict.where($"term".isin(terms.distinct: _*))
      .select($"term", $"df", $"totalTf", $"maxTf", $"maxNorm").as[TermDictRow]
      .collect().map(row => row.term -> row).toMap
  }

  private def refFirstChars(r: IndexReader): Seq[Char] = {
    import spark.implicits._
    r.termDict.select(substring($"term", 1, 1).as("c"))
      .where(length($"c") > 0).distinct().as[String]
      .collect().toSeq.filter(_.nonEmpty).map(_.charAt(0)).sorted
  }

  private def rangePred(lo: String, hi: String): Column =
    if (hi == null) col("term") >= lo else col("term") >= lo && col("term") < hi

  private def prefixRangePred(p: String): Column =
    if (p.isEmpty) lit(true) else rangePred(p, DictSeek.succ(p))

  private def refPred(q: Query, firstChars: Seq[Char]): Column = q match {
    case PrefixQ(p, _) => col("term").startsWith(p)
    case WildcardQ(pat, _) =>
      val rx = "^" + pat.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
        case c => c.toString
      } + "$"
      prefixRangePred(DictSeek.wildcardPrefix(pat)) && col("term").rlike(rx)
    case RegexpQ(rx, _) =>
      prefixRangePred(DictSeek.regexpPrefix(rx)) && col("term").rlike("^(?:" + rx + ")$")
    case FuzzyQ(t, maxEdits, _) =>
      val exact = levenshtein(col("term"), lit(t)) <= maxEdits &&
        abs(length(col("term")) - lit(t.length)) <= maxEdits
      DictSeek.fuzzyRanges(t, maxEdits, firstChars) match {
        case Some(ranges) if ranges.nonEmpty =>
          ranges.map(r => rangePred(r._1, r._2)).reduce(_ || _) && exact
        case Some(_) => lit(false)
        case None => exact
      }
    case TermRangeQ(lo, hi, inclLo, inclHi, _) =>
      val loP = if (lo == null) lit(true) else if (inclLo) col("term") >= lo else col("term") > lo
      val hiP = if (hi == null) lit(true) else if (inclHi) col("term") <= hi else col("term") < hi
      loP && hiP
  }

  private def refExpansion(r: IndexReader, q: Query): Seq[String] = {
    import spark.implicits._
    r.termDict.where(refPred(q, refFirstChars(r))).select($"term").as[String].collect().toSeq
  }

  /** The fuzzy TOP_TERMS(50) rewrite as the ranking job ran it. */
  private def refFuzzyRewrite(r: IndexReader, q: FuzzyQ): Query = {
    val FuzzyQ(t, _, b) = q
    val qLen = t.codePointCount(0, t.length)
    val cand = r.termDict.where(refPred(q, refFirstChars(r)))
      .select(col("term"), levenshtein(col("term"), lit(t)).as("d"))
      .orderBy((col("d").cast("double") /
        least(length(col("term")), lit(qLen)).cast("double")).asc, col("term").asc)
      .limit(Searcher.FuzzyMaxExpansions)
      .collect().map(row => (row.getString(0), row.getInt(1)))
    val scored = cand.map { case (term, d) =>
      (term, 1f - d.toFloat / math.min(term.codePointCount(0, term.length), qLen).toFloat)
    }.sortBy { case (term, sim) => (-sim, term) }
    scored.toSeq match {
      case Seq() => BoolQ()
      case Seq((one, sim)) => TermQ(one, b * sim)
      case many => BoolQ(should = many.map { case (term, sim) => TermQ(term, b * sim) })
    }
  }

  // The spell, suggest and FuzzyLikeThis candidate scans as they ran in
  // Spark over `reader.termDict`, before they took their candidates from
  // the driver-held dictionary.

  private def refFuzzyBand(reader: IndexReader, term: String,
                           maxEdits: Int): org.apache.spark.sql.Column =
    DictSeek.fuzzyRanges(term, maxEdits, reader.termFirstChars) match {
      case Some(rs) if rs.nonEmpty => rs.map { case (lo, hi) =>
        if (hi == null) col("term") >= lo else col("term") >= lo && col("term") < hi
      }.reduce(_ || _)
      case Some(_) => lit(false) // empty alphabet: nothing can match
      case None => lit(true)
    }

  private def refCompleteFuzzy(reader: IndexReader, input: String, maxEdits: Int,
                               k: Int): DataFrame = {
    val l = input.length
    val dist = (math.max(1, l - maxEdits) to (l + maxEdits))
      .map(n => levenshtein(substring(col("term"), 1, n), lit(input)))
      .reduce(least(_, _))
    val band = DictSeek.fuzzyRanges(input, maxEdits, reader.termFirstChars,
      prefixMode = true) match {
      case Some(rs) if rs.nonEmpty => rs.map { case (lo, hi) =>
        if (hi == null) col("term") >= lo else col("term") >= lo && col("term") < hi
      }.reduce(_ || _)
      case Some(_) => lit(false)
      case None => lit(true)
    }
    reader.termDict
      .where(band)
      .select(col("term"), col("df"), dist.as("dist"))
      .where(col("dist") <= maxEdits)
      .orderBy(col("dist"), col("df").desc, col("term")).limit(k)
  }

  private def refDidYouMean(reader: IndexReader, term: String, maxEdits: Int,
                            k: Int): DataFrame =
    reader.termDict
      .where(refFuzzyBand(reader, term, maxEdits) &&
        abs(length(col("term")) - lit(term.length)) <= maxEdits)
      .select(col("term"), col("df"),
        levenshtein(col("term"), lit(term)).as("dist"))
      .where(col("dist") <= maxEdits && col("dist") > 0)
      .orderBy(col("dist"), col("df").desc, col("term")).limit(k)

  private def refDidYouMeanRanked(reader: IndexReader, term: String, maxEdits: Int,
      k: Int, dist: (String, String) => Double): DataFrame = {
    val spark = reader.termDict.sparkSession
    import spark.implicits._
    reader.termDict
      .where(refFuzzyBand(reader, term, maxEdits) &&
        abs(length(col("term")) - lit(term.length)) <= maxEdits &&
        levenshtein(col("term"), lit(term)).between(1, maxEdits))
      .select(col("term"), col("df"))
      .as[(String, Long)]
      .map { case (t, df) => (t, df, dist(term, t)) }
      .toDF("term", "df", "sim")
      .select(col("term"), col("df"), round(col("sim"), 6).as("sim"))
      .orderBy(col("sim").desc, col("df").desc, col("term")).limit(k)
  }

  private def refRewrittenQuery(reader: IndexReader, text: String,
      analyzer: graft.analysis.Analyzer, maxEdits: Int, maxNumTerms: Int,
      maxVariantsPerTerm: Int): Query = {
    val spark = reader.spark
    import spark.implicits._
    val numDocs = reader.collectionStats.maxDoc
    val source = analyzer.analyzeTerms(text).distinct.toSeq
    final case class Variant(src: String, term: String, df: Long, sim: Double)
    val variants: Seq[Variant] = source.flatMap { t =>
      reader.termDict
        .where(refFuzzyBand(reader, t, maxEdits) &&
          abs(length(col("term")) - lit(t.length)) <= maxEdits)
        .select(col("term"), col("df"),
          (lit(1.0) - levenshtein(col("term"), lit(t)).cast("double") /
            least(length(col("term")), lit(t.length))).as("sim"),
          levenshtein(col("term"), lit(t)).as("d"))
        .where(col("d") <= maxEdits)
        .orderBy(col("sim").desc, col("df").desc, col("term"))
        .limit(maxVariantsPerTerm)
        .select(col("term"), col("df"), col("sim"))
        .as[(String, Long, Double)].collect()
        .map { case (v, df, sim) => Variant(t, v, df, sim) }
    }
    val bySrc = variants.groupBy(_.src)
    val scored = variants.map { v =>
      val group = bySrc(v.src)
      val srcDf = group.find(_.term == v.src).map(_.df)
        .getOrElse(group.map(_.df).sum / group.size)
      val idf = math.log(numDocs.toDouble / (srcDf + 1.0)) + 1.0
      (v, v.sim * v.sim * idf)
    }
    val kept = scored.sortBy { case (v, s) => (-s, v.term) }.take(maxNumTerms)
    val groups = kept.groupBy(_._1.src).toSeq.sortBy(_._1).map { case (_, vs) =>
      BoolQ(should = vs.sortBy(_._1.term).map { case (v, s) =>
        TermQ(v.term, s.toFloat)
      })
    }
    BoolQ(should = groups)
  }

  // --------------------------------------------------------- the checks

  /** Queries over a term the dictionary holds, plus the special terms. */
  private def queries(r: IndexReader): Seq[Query] = {
    import spark.implicits._
    val t = r.termDict.where(length($"term") >= 5 && $"term".rlike("^[a-z]+$"))
      .orderBy($"df".desc, $"term").select($"term").as[String].head()
    Seq(
      PrefixQ(t.take(2)), PrefixQ("a"), PrefixQ(Z), PrefixQ("a" + X), PrefixQ("lang:"),
      WildcardQ(t.take(1) + "?" + t.slice(2, 3) + "*"), WildcardQ("*" + t.takeRight(2)),
      WildcardQ("?" + X), WildcardQ("ab?*"),
      RegexpQ(t.take(2) + "(?:" + t.slice(2, 3) + "|q).*"), RegexpQ("a[b" + Z + "].*|" + Z + X + ".*"),
      RegexpQ("ab(c|d)[a-h]"),
      FuzzyQ(t, 1), FuzzyQ(t, 2), FuzzyQ("abcd", 1), FuzzyQ("abcd", 2), FuzzyQ("a" + X, 1),
      FuzzyQ(Z + X, 2), FuzzyQ("a" + Z, 1), FuzzyQ("zqzqzq", 1),
      TermRangeQ(t.take(1), t.take(2), true, true),
      TermRangeQ(t.take(1), t.take(2), false, false),
      TermRangeQ(t, null, false, false), TermRangeQ(null, t, true, false),
      TermRangeQ(Z, X, true, true), TermRangeQ("a" + Z, "a" + X, false, true),
      TermRangeQ(X, Z, true, true), TermRangeQ("b", null, true, true))
  }

  test("the code point order is Spark's binary string order") {
    val rnd = new scala.util.Random(7)
    val alphabet = Seq("a", "z", Z, X, "", "￿", "퟿", "é", "😀", "")
    val strs = Seq.fill(400)(Seq.fill(rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    for (a <- strs; b <- strs.take(40))
      assert(Integer.signum(TermDictionary.Order.compare(a, b)) ===
        Integer.signum(UTF8String.fromString(a).compareTo(UTF8String.fromString(b))), s"$a vs $b")
  }

  for (kind <- Seq("single", "2-generation multi", "parallel", "pulsed"))
    test(s"$kind reader: termStats, expansions and the fuzzy rewrite equal the relational lookups") {
      val r = readers.toMap.apply(kind)
      val s = new Searcher(r)
      val present = refTermStats(r, special ++ Seq("lang:go", "def")).keys.toSeq
      val probe = present ++ Seq("zz_absent", "", X + X + X, "lang:")
      assert(r.termStats(probe) === refTermStats(r, probe))
      assert(present.size >= special.size)
      assert(r.termFirstChars === refFirstChars(r))
      for (q <- queries(r)) {
        val m = s.multiTermMatch(q).get
        val expected = refExpansion(r, q)
        assert(r.matchingTerms(m).toSeq.sorted === expected.sorted, q)
        assert(r.expandTermsOpt(m, expected.size).map(_.sorted) === Some(expected.sorted), q)
        if (expected.nonEmpty) assert(r.expandTermsOpt(m, expected.size - 1) === None, q)
        q match {
          case fq: FuzzyQ => assert(s.rewrite(fq) === refFuzzyRewrite(r, fq), fq)
          case _ =>
        }
      }
      // the cut at 50: "abcd"~2 has 64 candidates among the special terms
      assert(refExpansion(r, FuzzyQ("abcd", 2)).size > Searcher.FuzzyMaxExpansions)
      assert(s.rewrite(FuzzyQ("abcd", 2)).asInstanceOf[BoolQ].should.size ===
        Searcher.FuzzyMaxExpansions)
    }

  /** Rows and column types of a result, in order. */
  private def table(df: DataFrame) =
    (df.schema.map(f => f.name -> f.dataType), df.collect().toSeq)

  for (kind <- Seq("single", "2-generation multi", "parallel"))
    test(s"$kind reader: spell, suggest and FuzzyLikeThis candidates equal the Spark scans") {
      import spark.implicits._
      val r = readers.toMap.apply(kind)
      val t = r.termDict.where(length($"term") >= 5 && $"term".rlike("^[a-z]+$"))
        .orderBy($"df".desc, $"term").select($"term").as[String].head()
      // a supplementary-plane term ("a" + X) and words the banding skips
      val words = Seq(t, t.take(3) + "x" + t.drop(3), "abcd", "abdc", "a" + X, Z + X, "a" + Z,
        "zqzqzq")
      for (w <- words; e <- Seq(1, 2); k <- Seq(3, 100)) {
        val at = s"$w~$e k=$k"
        assert(table(Suggest.didYouMean(r, w, e, k)) === table(refDidYouMean(r, w, e, k)), at)
        for (d <- Seq[(String, String) => Double](StringDistances.levenshteinSim,
            StringDistances.jaroWinkler(_, _)))
          assert(table(Suggest.didYouMeanRanked(r, w, e, k, d)) ===
            table(refDidYouMeanRanked(r, w, e, k, d)), at)
      }
      for (w <- Seq(t.take(3), "ab", "abx", "a" + X, Z, Z + Z + "q"); e <- Seq(1, 2); k <- Seq(3, 100))
        assert(table(Suggest.completeFuzzy(r, w, e, k)) === table(refCompleteFuzzy(r, w, e, k)),
          s"$w~$e k=$k")
      val ws = new graft.analysis.Analyzer(Set.empty,
        tokenizer = graft.analysis.Tokenizers.whitespaceTokenize, lowerCaser = identity)
      for (text <- Seq(s"$t abcd", s"abdc a$X $Z$X zqzqzq", s"$t ${t.take(3)}x${t.drop(3)}");
           (e, numTerms, perTerm) <- Seq((1, 50, 50), (2, 50, 50), (2, 20, 8)))
        assert(FuzzyLikeThis.rewrittenQuery(r, text, ws, e, numTerms, perTerm) ===
          refRewrittenQuery(r, text, ws, e, numTerms, perTerm), s"$text ~$e")
    }
}
