package graft.search

import graft.SparkTestSession
import graft.build.{IndexBuilder, IndexPaths, TermDictRow}
import graft.corpus.CorpusGen
import graft.postings.Pulsing
import org.apache.spark.sql.Column
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
}
