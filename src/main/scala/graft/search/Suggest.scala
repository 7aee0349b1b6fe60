package graft.search

import graft.build.TermDictRow
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Autocomplete + spell correction over the term dictionary (reference:
  * Lucene.Net.Suggest — FST-based suggesters — and Lucene.Net.Suggest/
  * Spell/SpellChecker.cs; re-thought on the engine's term_dict table:
  * the dictionary is term-sorted parquet, so a prefix probe is a
  * min/max-pruned scan — the same seek the FST gives the reference,
  * provided by the storage layer instead of a custom automaton). */
object Suggest {

  /** Prefix autocomplete: top-k dictionary terms by document frequency
    * (popularity-weighted completion). */
  def complete(reader: IndexReader, prefix: String, k: Int): DataFrame =
    reader.termDict
      .where(col("term").startsWith(prefix))
      .select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term")).limit(k)

  /** Analyzing completion (reference:
    * Suggest/Analyzing/AnalyzingSuggester.cs:88): the input runs through
    * the SAME analyzer as the index (lowercase/stop/stem parity), and the
    * last surviving token is the completion prefix — so "The Merg" with a
    * stemming analyzer completes over the stemmed dictionary the way the
    * index stored it, where raw-prefix completion would miss. */
  def completeAnalyzed(reader: IndexReader, analyzer: graft.analysis.Analyzer,
                       input: String, k: Int): DataFrame = {
    val terms = analyzer.analyzeTerms(input)
    if (terms.isEmpty) reader.termDict.select(col("term"), col("df")).limit(0)
    else complete(reader, terms.last, k)
  }

  /** Fuzzy completion (reference: Suggest/Analyzing/FuzzySuggester.cs):
    * completions whose PREFIX is within `maxEdits` of the typed input,
    * ranked by (prefix edit distance, df desc, term). A prefix p of term
    * t with lev(p, input) <= e must have |p| within e of |input|, so the
    * candidate distance is the least over the 2e+1 prefix lengths —
    * expressible identically in SQL for the oracle. The candidates come
    * from the driver-held dictionary, banded by [[DictSeek.fuzzyRanges]]
    * in prefix mode (the FuzzySuggester automaton walk as term ranges). */
  def completeFuzzy(reader: IndexReader, input: String, maxEdits: Int = 1,
                    k: Int = 8): DataFrame =
    nearest(reader, reader.fuzzyTerms(input, maxEdits, prefixMode = true), k)

  /** The first `k` candidates by (distance, df desc, term) as a
    * (term, df, dist) table. */
  private def nearest(reader: IndexReader, cands: Seq[(TermDictRow, Int)],
      k: Int): DataFrame = {
    val spark = reader.spark
    import spark.implicits._
    cands.map { case (r, d) => (r.term, r.df, d) }
      .sortBy { case (t, df, d) => (d, df, t) }(
        Ordering.Tuple3(Ordering.Int, Ordering.Long.reverse, TermDictionary.Order))
      .take(k).toDF("term", "df", "dist")
  }

  /** Infix completion (reference:
    * Suggest/Analyzing/AnalyzingInfixSuggester.cs — completions may match
    * mid-word: "erge" → "merge…"), ranked by popularity (df desc) like
    * the reference's weight-sorted hits. Toy-scale path: a df-ranked
    * contains-scan of the dictionary (one column, parquet-pruned to the
    * term+df projection); at dictionary scale use the suffix sidecar
    * ([[suffixTable]] + [[completeInfixIndexed]]), which turns the infix
    * probe into a range-prunable PREFIX probe. */
  def completeInfix(reader: IndexReader, fragment: String, k: Int): DataFrame =
    reader.termDict
      .where(col("term").contains(fragment))
      .select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term")).limit(k)

  /** The infix scale path's index: every suffix of every dictionary term
    * as a (suffix, term, df) table — the relational form of the
    * reference suggester's substring index. Σ|term| rows (suffix-array
    * size, not Σ|term|²: each row HOLDS a suffix, it doesn't expand it);
    * persisted sorted by suffix, a parquet min/max prune answers an
    * infix query as a prefix range — the same seek shape term_dict gives
    * prefix queries. Pure column expressions, no UDF. */
  def suffixTable(reader: IndexReader): DataFrame =
    reader.termDict
      .select(col("term"), col("df"),
        explode(sequence(lit(1), length(col("term")))).as("p"))
      .select(col("term").substr(col("p"), length(col("term"))).as("suffix"),
        col("term"), col("df"))

  /** Infix completion over a [[suffixTable]] (optionally persisted +
    * sorted): suffix-prefix probe → distinct terms → df ranking. */
  def completeInfixIndexed(suffixes: DataFrame, fragment: String, k: Int): DataFrame =
    suffixes
      .where(col("suffix").startsWith(fragment))
      .select(col("term"), col("df")).distinct()
      .orderBy(col("df").desc, col("term")).limit(k)

  /** Blended infix completion (reference: Suggest/Analyzing/
    * BlendedInfixSuggester.cs — the hit weight is blended with a
    * position coefficient so early matches of the fragment outrank
    * equally-popular later ones; POSITION_RECIPROCAL: coef = 1/(p+1)).
    * `instr` is 1-based, so df/instr IS df × 1/(position+1) — one pure
    * column expression, same contains-scan (or [[suffixTable]] probe at
    * dictionary scale) as [[completeInfix]]. */
  def completeBlended(reader: IndexReader, fragment: String, k: Int): DataFrame =
    reader.termDict
      .where(col("term").contains(fragment))
      .select(col("term"), col("df"),
        round(col("df").cast("double") / instr(col("term"), fragment), 6)
          .as("score"))
      .orderBy(col("score").desc, col("term")).limit(k)

  /** "Did you mean": nearest dictionary terms by edit distance, ties by
    * higher df then term (SpellChecker's distance-then-popularity
    * ranking). The candidates are length-banded (|len(t)-len(q)| <=
    * maxEdits) — the dictionary analog of the reference's n-gram
    * candidate pre-filter — and exclude the term itself. */
  def didYouMean(reader: IndexReader, term: String, maxEdits: Int = 2,
                 k: Int = 5): DataFrame =
    nearest(reader, spellCandidates(reader, term, maxEdits), k)

  /** The spell checkers' candidates: the fuzzy matches of `term` other
    * than the term itself, each with its edit distance. */
  private def spellCandidates(reader: IndexReader, term: String,
      maxEdits: Int): Seq[(TermDictRow, Int)] =
    reader.fuzzyTerms(term, maxEdits).filter(_._2 > 0)

  /** [[didYouMean]] with a pluggable string distance — the
    * `SpellChecker.StringDistance` property (reference:
    * `Suggest/Spell/SpellChecker.cs`, ranked via `SuggestWordQueue` by
    * (score desc, freq desc, term)): the SAME banded candidate
    * generation, re-ranked by a [[StringDistances]] similarity instead
    * of the raw edit distance. The distance runs on the driver, per
    * candidate of the seek-bounded band (maxEdits² + alphabet pruning). */
  def didYouMeanRanked(reader: IndexReader, term: String, maxEdits: Int = 2,
                       k: Int = 5,
                       dist: (String, String) => Double =
                         StringDistances.levenshteinSim): DataFrame = {
    val spark = reader.spark
    import spark.implicits._
    spellCandidates(reader, term, maxEdits)
      .map { case (r, _) => (r.term, r.df, dist(term, r.term)) }
      .toDF("term", "df", "sim")
      .select(col("term"), col("df"), round(col("sim"), 6).as("sim"))
      .orderBy(col("sim").desc, col("df").desc, col("term")).limit(k)
  }

  /** Free-text (n-gram language model) suggestion (reference:
    * Suggest/Analyzing/FreeTextSuggester.cs — an n-gram model over the
    * corpus token stream ranks next-word continuations, backing off to
    * lower orders with ALPHA=0.4 "stupid backoff", Brants et al. 2007;
    * documents are separate n-gram streams, no cross-doc grams).
    *
    * Spark-first shape: the model is two map-side-combinable aggregates
    * over the analyzed token stream — bigram counts (doc-local `lead`
    * window: partitions are doc-sized, no global window) and unigram
    * counts — and scoring one context is an equi-join of the vocabulary
    * against that context's bigram row-group plus two scalar broadcasts.
    * Every stage is a pure column expression; scales like any
    * count-aggregation over the corpus.
    *
    * @param tokens (doc_id, terms array&lt;string&gt;) — the analyzed
    *               token stream, any analyzer
    * @return (word, score) — P(word|context) where the bigram exists,
    *         else ALPHA × P(word); top-k by (score desc, word)
    */
  def freeText(tokens: DataFrame, context: String, k: Int,
               alpha: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = tokens.select(col("doc_id"),
      posexplode(col("terms")).as(Seq("p", "t")))
    val pairs = pos
      .withColumn("next", lead(col("t"), 1)
        .over(Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      .where(col("next").isNotNull)
    val ctx = pairs.where(col("t") === context)
    val big = ctx.groupBy(col("next").as("word")).agg(count(lit(1)).as("c12"))
    // backoff denominator = the context's FULL unigram count (the
    // reference divides by the context gram's model weight,
    // FreeTextSuggester.cs:684-697) — counting only pair-occurrences
    // would inflate P(w|ctx) whenever the context ends documents
    val c1 = pos.where(col("t") === context).agg(count(lit(1)).as("c1"))
    val uni = pos.groupBy(col("t").as("word")).agg(count(lit(1)).as("cw"))
    val tot = pos.agg(count(lit(1)).as("n"))
    uni.join(big, Seq("word"), "left")
      .crossJoin(broadcast(c1)).crossJoin(broadcast(tot))
      .select(col("word"),
        round(when(col("c12").isNotNull,
            col("c12").cast("double") / col("c1"))
          .otherwise(lit(alpha) * col("cw").cast("double") / col("n")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("word")).limit(k)
  }

  /** WordBreakSpellChecker — breaks (reference: Lucene.Net.Suggest/
    * Spell/WordBreakSpellChecker.cs, GenerateBreakUpSuggestions
    * :260-316): propose splitting a run-together word into dictionary
    * words. The reference recurses over split points, probing
    * `ir.DocFreq` per part and keeping a bounded queue ranked
    * NUM_CHANGES_THEN_MAX_FREQUENCY; here the candidate compositions of
    * the word into ≤ maxChanges+1 parts (each ≥ minBreakWordLength
    * codepoints) are a DRIVER-SIDE literal table — O(len^maxChanges)
    * strings for a single typed word — and the per-part df probes become
    * ONE equi-join of the exploded parts against the dictionary
    * (broadcast-able: candidates are tiny; the dictionary side is
    * parquet min/max point reads). A candidate survives iff EVERY part
    * is a dictionary term with df >= minFreq — the all-parts check is a
    * count == numParts after the inner join, no per-part driver probe.
    *
    * @return (suggestion: parts space-joined, num_breaks, max_freq),
    *         ranked num_breaks asc, max_freq desc, suggestion asc —
    *         LengthThenMaxFreqComparer made total for oracle parity
    */
  def suggestWordBreaks(termDict: DataFrame, word: String,
      maxSuggestions: Int = 5, maxChanges: Int = 1,
      minBreakWordLength: Int = 1, minFreq: Long = 1L): DataFrame = {
    val spark = termDict.sparkSession
    import spark.implicits._
    val minLen = math.max(minBreakWordLength, 1)
    // all compositions of `word` into 2..maxChanges+1 parts of >= minLen
    // CODEPOINTS, split only on codepoint boundaries — the reference
    // measures with CodePointCount/OffsetByCodePoints
    // (WordBreakSpellChecker.cs:281-287); UTF-16 splitting would cut
    // surrogate pairs into undictionariable lone halves
    def compositions(s: String, partsLeft: Int): Seq[Seq[String]] = {
      val cps = s.codePointCount(0, s.length)
      if (partsLeft == 1) { if (cps >= minLen) Seq(Seq(s)) else Nil }
      else (minLen to cps - minLen).flatMap { i =>
        val cut = s.offsetByCodePoints(0, i)
        compositions(s.substring(cut), partsLeft - 1).map(s.substring(0, cut) +: _)
      }
    }
    val cands = (2 to maxChanges + 1)
      .flatMap(k => compositions(word, k))
      .zipWithIndex
      .map { case (parts, id) => (id.toLong, parts, parts.size) }
    if (cands.isEmpty)
      return termDict.sparkSession.emptyDataFrame
        .withColumn("suggestion", lit("")).withColumn("num_breaks", lit(0))
        .withColumn("max_freq", lit(0L)).limit(0)
    val parts = cands
      .flatMap { case (id, ps, n) => ps.zipWithIndex.map { case (p, i) => (id, i, p, n) } }
      .toDF("cand_id", "part_idx", "term", "n_parts")
    parts.join(termDict.select(col("term"), col("df")), "term")
      .where(col("df") >= minFreq)
      .groupBy(col("cand_id"), col("n_parts"))
      .agg(count(lit(1)).as("matched"), max(col("df")).as("max_freq"),
        array_join(transform(array_sort(collect_list(struct(col("part_idx"), col("term")))),
          x => x("term")), " ").as("suggestion"))
      .where(col("matched") === col("n_parts"))
      .select(col("suggestion"), (col("n_parts") - 1).as("num_breaks"), col("max_freq"))
      .orderBy(col("num_breaks"), col("max_freq").desc, col("suggestion"))
      .limit(maxSuggestions)
  }

  /** WordBreakSpellChecker — combinations (reference:
    * WordBreakSpellChecker.cs, SuggestWordCombinations:152-258): propose
    * joining adjacent query terms into one dictionary word. Candidate
    * runs terms(i..j) with j-i <= maxChanges and combined length <=
    * maxCombineWordLength are driver-generated (the query is one typed
    * phrase); ONE dictionary equi-join supplies the combined term's df.
    * Ranked NUMBER OF COMBINATIONS asc, then freq desc, then first
    * index — CombinationsThenFreqComparer (WordBreakSpellChecker.cs:
    * 482-502: fewer changes beat higher frequency) made total.
    * Returns (start_idx, end_idx, combined, freq). */
  def suggestWordCombinations(termDict: DataFrame, terms: Seq[String],
      maxSuggestions: Int = 5, maxChanges: Int = 1,
      maxCombineWordLength: Int = 20, minFreq: Long = 1L): DataFrame = {
    val spark = termDict.sparkSession
    import spark.implicits._
    val cands = for {
      i <- terms.indices
      j <- (i + 1) until terms.length
      if j - i <= maxChanges
      combined = terms.slice(i, j + 1).mkString
      // codepoints, like the reference's CodePointCount cap
      if combined.codePointCount(0, combined.length) <= maxCombineWordLength
    } yield (i, j, combined)
    val candDf = cands.toDF("start_idx", "end_idx", "term")
    candDf.join(termDict.select(col("term"), col("df")), "term")
      .where(col("df") >= minFreq)
      .select(col("start_idx"), col("end_idx"), col("term").as("combined"),
        col("df").as("freq"))
      .orderBy(col("end_idx") - col("start_idx"), col("freq").desc, col("start_idx"))
      .limit(maxSuggestions)
  }


  // --- dictionary adapters (the reference's IDictionary family) --------

  /** HighFrequencyDictionary (reference: Lucene.Net.Suggest/Spell/
    * HighFrequencyDictionary.cs:34-60): the dictionary is the index's own
    * terms ABOVE a document-frequency threshold — `thresh` is the
    * fraction of live docs a term must appear in (the reference's float
    * constructor arg; minDf = (int)(thresh × numDocs) — TRUNCATED, as
    * HighFrequencyDictionary.cs does, so terms with df between floor and
    * ceil of the product are still included). Feed the result to
    * [[completeFromDictionary]] / spell checking. */
  def highFrequencyDictionary(reader: IndexReader, thresh: Float): DataFrame = {
    val minDf = (thresh.toDouble * reader.numDocs).toLong
    reader.termDict.where(col("df") >= lit(minDf)).select(col("term"), col("df"))
  }

  /** LuceneDictionary (Spell/LuceneDictionary.cs): every index term,
    * weightless (df carried for ranking parity with [[complete]]). */
  def luceneDictionary(reader: IndexReader): DataFrame =
    reader.termDict.select(col("term"), col("df"))

  /** PlainTextDictionary / FileDictionary (Spell/PlainTextDictionary.cs,
    * Suggest/FileDictionary.cs): caller-supplied entries — one term per
    * row, FileDictionary's optional weight (default 1). At corpus scale
    * the entries would arrive as a DataFrame already; this adapter is for
    * driver-side lists (suggester bootstrapping). */
  def plainTextDictionary(spark: org.apache.spark.sql.SparkSession,
      entries: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    entries.toDF("term", "df")
  }

  /** DocumentDictionary (Suggest/DocumentDictionary.cs:38-60): terms and
    * weights drawn from document FIELDS — `termCol` supplies the
    * suggestion text, `weightCol` its weight (the reference's weight
    * field / DocumentValueSourceDictionary's computed value — pass any
    * Column expression, the ValueSource analog). */
  def documentDictionary(docs: DataFrame, termCol: Column,
      weightCol: Column): DataFrame =
    docs.select(termCol.as("term"), weightCol.cast("long").as("df"))
      .where(col("term").isNotNull)

  /** Prefix completion over ANY dictionary DataFrame (term, df) — the
    * Lookup.Build + Lookup(prefix) pair for the adapters above. */
  def completeFromDictionary(dict: DataFrame, prefix: String, k: Int): DataFrame =
    dict.where(col("term").startsWith(prefix))
      .orderBy(col("df").desc, col("term")).limit(k)

  /** SuggestStopFilter (reference: Suggest/Analyzing/SuggestStopFilter.cs
    * :30-100): query-side stop filter that KEEPS a trailing stopword the
    * user may still be typing — "find the" keeps "the" (it reads as a
    * prefix) while "the find" drops it. The reference keeps the trailing
    * stopword only when its END OFFSET touches the end of the input
    * (:79-84 — "find the " with a trailing space means the word is
    * finished, so it stops out like any other); pass `textLen` to get
    * that check, omit it for the last-token-only approximation. */
  def suggestStopFilter(tokens: Array[graft.analysis.Token],
      stopWords: Set[String], textLen: Int = -1): Array[graft.analysis.Token] =
    tokens.zipWithIndex.filter { case (t, i) =>
      !stopWords.contains(t.term) ||
        (i == tokens.length - 1 && (textLen < 0 || t.endOff == textLen))
    }.map(_._1)
}
