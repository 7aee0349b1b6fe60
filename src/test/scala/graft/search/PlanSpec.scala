package graft.search

import graft.SparkTestSession
import graft.build.{IndexBuilder, IndexPaths}
import graft.corpus.CorpusGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale contract, checked like any
  * other behavior: term predicates must reach the parquet scan (min/max
  * row-group pruning on the term-sorted postings/term_dict tables — our
  * BlockTree/FST analog), dictionary lookups must broadcast, and scans
  * must prune columns. `.explain` output is the evidence the 100 TB plan
  * stands on; a regression here is a performance bug even when results
  * stay correct. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val dir: String = {
    import spark.implicits._
    val d = SparkTestSession.tmpDir("graft-plan-")
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.local(200)), d, numPartitions = 2)
    d
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("postings term filter is pushed to the parquet scan") {
    val df = spark.read.parquet(IndexPaths.postings(dir)).where(col("term") === "def")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(term), EqualTo(term,def)]"),
      s"term EqualTo must reach the scan:\n$plan")
  }

  test("term_dict range predicate is pushed (prefix seek analog)") {
    val df = spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term") >= "s" && col("term") < "t")
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(term,s)") && plan.contains("LessThan(term,t)"),
      s"range must reach the scan:\n$plan")
  }

  test("postings scan prunes to selected columns") {
    val df = spark.read.parquet(IndexPaths.postings(dir))
      .where(col("term") === "def").select("term", "numDocs")
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<term:string,numDocs:int>"),
      s"column pruning must reach the scan:\n$plan")
  }

  test("scoring scans read no blob column of a positions+offsets+payloads index") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val d = SparkTestSession.tmpDir("graft-plan-blobs-")
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.local(100)), d, numPartitions = 2,
      indexPositions = true, indexOffsets = true, indexPayloads = true)
    val reader = new IndexReader(spark, d)
    assert(reader.hasPositions && reader.hasOffsets && reader.hasPayloads)
    // the columns each postings scan of a query reads
    def postingsReads(qe: org.apache.spark.sql.execution.QueryExecution): Seq[Seq[String]] =
      qe.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.getName == "postings") =>
          f.requiredSchema.fieldNames.toSeq
      }
    def blobFree(reads: Seq[Seq[String]]): Boolean = reads.nonEmpty && reads.forall(r =>
      r.contains("bytes") && graft.build.PostingsTableRow.blobColumns.forall(b => !r.contains(b)))
    val direct = postingsReads(reader.postingRows(Seq("def", "int")).queryExecution)
    assert(blobFree(direct), direct)
    // every query a TermQ search executes
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        postingsReads(qe).foreach(reads.add)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    def readsOf(run: => Unit): Seq[Seq[String]] = {
      reads.clear()
      spark.listenerManager.register(listener)
      try {
        run
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      reads.asScala.toSeq
    }
    // a flat query reads its blocks in its task, through no Dataset
    // scan ([[PostingsFile.read]] reads the PostingRow columns); the
    // Dataset scorers' term scan is the one a DisMax of terms runs
    val flatReads = readsOf(assert(new Searcher(reader).search(TermQ("def"), 10).nonEmpty))
    assert(flatReads.isEmpty, flatReads)
    val termReads = readsOf(assert(
      new Searcher(reader).search(DisMaxQ(Seq(TermQ("def"), TermQ("int"))), 10).nonEmpty))
    assert(blobFree(termReads), termReads)
    // the positional plans read the blobs they decode and no other
    def readsBlobs(rs: Seq[Seq[String]], blobs: Set[String]): Boolean =
      rs.exists(_.contains("posBytes")) && rs.forall(r =>
        graft.build.PostingsTableRow.blobColumns.forall(b => blobs(b) || !r.contains(b)))
    val phraseReads = readsOf(new Searcher(reader).search(PhraseQ(Seq("def", "int")), 10))
    assert(readsBlobs(phraseReads, Set("posBytes")), phraseReads)
    val spans = new Searcher(reader).phraseHighlightSpans(Seq("def", "int"))
    val spanReads = postingsReads(spans.queryExecution)
    assert(readsBlobs(spanReads, Set("posBytes", "offBytes")) &&
      spanReads.exists(_.contains("offBytes")), spanReads)
  }

  test("searcher's postings scan stays whole-stage-codegen'd up to the decode") {
    val reader = new IndexReader(spark, dir)
    val df = reader.postings.where(col("term").isin("def", "int"))
      .select("term", "numDocs")
    // '*(n)' prefixes mark WholeStageCodegen stages in executedPlan output
    val plan = planOf(df)
    assert(plan.contains("*(1)"), s"expected a codegen stage:\n$plan")
  }

  test("small dictionary join broadcasts (no shuffle of the big side)") {
    val dict = spark.read.parquet(IndexPaths.termDict(dir))
      .where(col("term") === "def").select("term", "df")
    val post = spark.read.parquet(IndexPaths.postings(dir))
    val joined = post.join(broadcast(dict), "term")
    assert(planOf(joined).contains("BroadcastHashJoin"))
  }

  test("multi-term dictionary scans carry pushed term ranges (seek, not scan)") {
    // the AutomatonTermsEnum analog on the driver-held dictionary:
    // wildcard/regexp seek their literal prefix, fuzzy a union of banded
    // ranges — never the whole dictionary
    val reader = new IndexReader(spark, dir)
    val searcher = new Searcher(reader)
    def seeks(q: Query): Seq[DictSeek.Seek] = searcher.multiTermMatch(q).get.seeks
    assert(seeks(WildcardQ("ana*")) === Seq(DictSeek.Prefix("ana")))
    assert(seeks(RegexpQ("ve.tor")) === Seq(DictSeek.Prefix("ve")))
    // fuzzy: the exact ranges depend on the dictionary's alphabet, so
    // assert the shape, not the literals
    val fz = seeks(FuzzyQ("merge", 1))
    assert(fz.nonEmpty && fz.forall(_.isInstanceOf[DictSeek.Range]), fz)
  }

  /** Terms the driver-side matcher of `q` returns, sorted. */
  private def matched(searcher: Searcher, q: Query): Seq[String] =
    searcher.reader.matchingTerms(searcher.multiTermMatch(q).get).toSeq.sorted

  /** Terms a Spark predicate selects from the stored dictionary, sorted. */
  private def scanned(pred: org.apache.spark.sql.Column): Seq[String] =
    spark.read.parquet(IndexPaths.termDict(dir)).where(pred)
      .select("term").collect().map(_.getString(0)).sorted.toSeq

  test("fuzzy banding returns exactly the full-scan match set") {
    val searcher = new Searcher(new IndexReader(spark, dir))
    for ((t, e) <- Seq(("merge", 1), ("def", 1), ("intt", 2), ("qzqzq", 1))) {
      val full = scanned(levenshtein(col("term"), lit(t)) <= e &&
        abs(length(col("term")) - lit(t.length)) <= e)
      assert(matched(searcher, FuzzyQ(t, e)) === full, s"banded != full for $t~$e")
    }
  }

  test("regexp alternation keeps both branches (no unsound prefix range)") {
    val searcher = new Searcher(new IndexReader(spark, dir))
    val banded = matched(searcher, RegexpQ("def|int"))
    assert(banded === scanned(col("term").rlike("^(?:def|int)$")))
    assert(banded.nonEmpty)
  }

  test("no single-partition window anywhere in the gated query plans") {
    // the parity dictionaries and the pagination oracle used to run a
    // global Window.orderBy (one task owns everything at scale); they are
    // now term_dict-shaped (denseIds) / limit-anti-join — assert the
    // WindowExec never comes back
    import graft.ops.{PipelineQueries, VerifyQueries}
    val sf = "/root/testdata/sf0.001"
    for (name <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_fingerprint",
      "q_searchafter", "q_dedup_ngram", "q_facet_path", "q_multi_phrase_sloppy",
      "q_suggest_fuzzy", "q_highlight_offsets", "q_dfr_topk", "q_pack_windows",
      "q_span_dups", "q_decontaminate", "q_dedup_incremental",
      "q_sample_mixture", "q_highlight_phrase", "q_passage_topk",
      "q_lm_score", "q_chunk_windows")) {
      val df = (VerifyQueries.queries ++ PipelineQueries.queries)(name)(spark, sf)
      val windows = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name still plans a no-partition WindowExec")
    }
  }

  test("mixture sampling is map-only: the residue filter reaches the scan side") {
    // no shuffle anywhere — the whole op must be Filter over the scan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.pipeline.Packing.mixtureSample(docs, "source",
      Map("src0" -> 200000L), defaultPpm = 800000L)
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"mixtureSample must not shuffle:\n$plan")
  }

  test("no cartesian product in the new dedup/decontam plans") {
    import graft.ops.PipelineQueries
    val sf = "/root/testdata/sf0.001"
    for (name <- Seq("q_dedup_incremental", "q_span_dups", "q_decontaminate",
      "q_lm_score")) {
      val df = PipelineQueries.queries(name)(spark, sf)
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans an all-pairs join:\n$plan")
    }
  }

  test("chunkStats is map-only: the window walk folds inside the row") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Packing.chunkStats(docs)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"chunkStats must not shuffle:\n$plan")
  }

  test("session-2 pipeline ops keep their scale shapes") {
    import graft.ops.PipelineQueries
    val sf = "/root/testdata/sf0.001"
    // no cartesian/nested-loop join and no no-partition window anywhere
    for (name <- Seq("q_keywords", "q_heavy_hitters", "q_boilerplate",
      "q_sample_balance", "q_ann_int8")) {
      val df = PipelineQueries.queries(name)(spark, sf)
      val plan = df.queryExecution.sparkPlan
      val planStr = plan.toString
      assert(!planStr.contains("CartesianProduct") &&
        !planStr.contains("BroadcastNestedLoopJoin"),
        s"$name plans an all-pairs join:\n$planStr")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name plans a no-partition WindowExec")
    }
    // balanced sampling: the rate table broadcasts, the corpus is never shuffled
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bsPlan = graft.pipeline.TextAnalysis.balancedSample(docs, cap = 10L)
      .queryExecution.executedPlan.toString
    assert(bsPlan.contains("BroadcastHashJoin"),
      s"balancedSample must broadcast the rate table:\n$bsPlan")
    // int8 top-k: one map-shaped scan into a bounded TakeOrdered — no exchange
    val q = Seq.fill(graft.pipeline.Similarity.Dims)(0.1f)
    val i8 = graft.pipeline.Similarity.int8TopK(
      spark.read.parquet(s"$sf/embeddings.parquet"), q, k = 5)
    val i8ex = i8.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(i8ex.isEmpty, "int8TopK must be map-only + TakeOrdered (no shuffle)")
    // CMS cell build: exactly ONE shuffle (the combinable groupBy on (d, c))
    val cms = graft.pipeline.Sketches.cmsCells(
      docs.select(col("source").as("k")), "k", depth = 4, width = 1024)
    val cmsEx = cms.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(cmsEx.length <= 1, "cmsCells must shuffle exactly once (cell groupBy)")
  }

  test("session-3 pipeline ops keep their scale shapes (SemDeDup, DSIR)") {
    import graft.ops.PipelineQueries
    val sf = "/root/testdata/sf0.001"
    // SemDeDup: the pair join must be an equi-join on the cell id — never
    // cartesian / nested-loop (the within-cluster candidate bound is the
    // whole point of the method); DSIR: the B-row log-ratio model joins
    // onto per-doc counts by broadcast, no no-partition window anywhere.
    for (name <- Seq("q_semdedup", "q_dsir")) {
      val df = PipelineQueries.queries(name)(spark, sf)
      val plan = df.queryExecution.sparkPlan
      val planStr = plan.toString
      assert(!planStr.contains("CartesianProduct") &&
        !planStr.contains("BroadcastNestedLoopJoin"),
        s"$name plans an all-pairs join:\n$planStr")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name plans a no-partition WindowExec")
    }
    val dsirPlan = PipelineQueries.queries("q_dsir")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(dsirPlan.contains("BroadcastHashJoin"),
      s"DSIR must broadcast the bucket-model table:\n$dsirPlan")
  }

  test("session-4 text ops keep their scale shapes (url canon, rule packs, unigram seed)") {
    import graft.ops.PipelineQueries
    val sf = "/root/testdata/sf0.001"
    // url canon / gopher / c4: pure column expressions — no join of any
    // kind, no window, ONE aggregation exchange at most (the dup-group /
    // count rollup). unigram seed: map-only expansion + one combinable
    // groupBy — no join, no window.
    for (name <- Seq("q_url_canon", "q_gopher_rules", "q_c4_rules", "q_unigram_seed")) {
      val plan = PipelineQueries.queries(name)(spark, sf).queryExecution.sparkPlan
      val planStr = plan.toString
      if (name != "q_url_canon") // url canon groups; rules are pure row ops
        assert(!planStr.contains("CartesianProduct") &&
          !planStr.contains("BroadcastNestedLoopJoin"), s"$name all-pairs:\n$planStr")
      assert(!planStr.toLowerCase.contains("sortmergejoin") &&
        !planStr.contains("BroadcastHashJoin"), s"$name plans a join:\n$planStr")
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$name plans a window:\n$planStr")
    }
    // span removal: equi-joins only (first-owner join-back), windows none
    val srPlan = PipelineQueries.queries("q_span_removal")(spark, sf)
      .queryExecution.sparkPlan
    assert(!srPlan.toString.contains("CartesianProduct") &&
      !srPlan.toString.contains("BroadcastNestedLoopJoin"),
      s"span removal all-pairs:\n$srPlan")
    assert(srPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "span removal plans a window")
  }

  test("session-5 ops keep their scale shapes (pulsing, sparse phrase, decompound)") {
    import graft.ops.VerifyQueries
    val sf = "/root/testdata/sf0.001"
    // pulsed read: a union of a pruned dictionary read (inline explode)
    // and a pruned postings decode — no join of any kind, no window
    val pulsePlan = VerifyQueries.queries("q_pulsing")(spark, sf)
      .queryExecution.sparkPlan
    assert(!pulsePlan.toString.toLowerCase.contains("join"),
      s"pulsed read plans a join:\n$pulsePlan")
    assert(pulsePlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "pulsed read plans a window")
    // sparse/ngram phrase: the aligned postings+positions equi-join and
    // the one docId aggregation — no cartesian, no window
    val ngPlan = VerifyQueries.queries("q_ngram_phrase")(spark, sf)
      .queryExecution.sparkPlan
    assert(!ngPlan.toString.contains("CartesianProduct") &&
      !ngPlan.toString.contains("BroadcastNestedLoopJoin"),
      s"ngram phrase all-pairs:\n$ngPlan")
    assert(ngPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "ngram phrase plans a window")
    // decompound: one map-side flatMap + ONE combinable groupBy — no join
    val dcPlan = VerifyQueries.queries("q_decompound")(spark, sf)
      .queryExecution.sparkPlan
    assert(!dcPlan.toString.toLowerCase.contains("join"),
      s"decompound plans a join:\n$dcPlan")
    assert(dcPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "decompound plans a window")
  }

  test("embedding pair-JOIN expressions stay OUT of interpreted higher-order functions") {
    import graft.ops.PipelineQueries
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Project}
    // zip_with/aggregate never enter whole-stage codegen — the sf1 gate
    // measured the interpreted form at ~36 CPU-minutes per task in the
    // bucket pair joins. The HOT PATH — everything evaluated per
    // candidate PAIR (join conditions, post-join filters/projections) —
    // must be the unrolled codegen-able arithmetic. Map-side stages
    // (bucket assignment, IVF distances) deliberately KEEP the compact
    // HOF form: unrolling them overflows the whole-stage method limit
    // (no expression splitting inside WSCG) and degrades the whole
    // stage to interpreted — they are O(N) work, not O(pairs).
    val sf = "/root/testdata/sf0.001"
    def hofFree(exprs: Seq[String], ctx: String): Unit = exprs.foreach { e =>
      assert(!e.contains("zip_with") && !e.contains("aggregate("),
        s"$ctx evaluates a higher-order function PER PAIR: ${e.take(400)}")
    }
    for (name <- Seq("q_dedup_embedding_lsh", "q_semdedup")) {
      val plan = PipelineQueries.queries(name)(spark, sf)
        .queryExecution.optimizedPlan
      plan.foreach {
        case j: Join =>
          hofFree(j.condition.map(_.sql).toSeq, s"$name join condition")
        case p @ Project(list, _: Join) =>
          hofFree(list.map(_.sql), s"$name post-join projection")
        case f @ Filter(cond, _: Join) =>
          hofFree(Seq(cond.sql), s"$name post-join filter")
        case _ =>
      }
    }
    // brute-force scoring (no bucket stage) stays HOF-free end-to-end
    val brute = PipelineQueries.queries("q_ann_brute")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!brute.contains("zip_with(") && !brute.contains("aggregate("),
      "q_ann_brute plans a higher-order function")
  }

  test("PQ ADC scan is join-free and map-only down to the bounded top-k") {
    import graft.ops.PipelineQueries
    // Codebooks and the query LUT are literal-inlined: the scoring scan
    // must contain NO join of any kind and NO window — just a scan, a
    // projection, and TakeOrderedAndProject. That is the plan that reads
    // a 10^9-row code table without touching the float matrix.
    val plan = PipelineQueries.queries("q_ann_pq")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val planStr = plan.toString
    assert(!planStr.toLowerCase.contains("join"), s"PQ scan plans a join:\n$planStr")
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"PQ scan plans a window:\n$planStr")
    assert(planStr.contains("TakeOrderedAndProject"),
      s"PQ top-k must be the bounded TakeOrderedAndProject:\n$planStr")
  }

  test("session-7 ops keep their scale shapes (CJK segmentation, synonyms, " +
       "ICU/path tokenizers, wiki strip)") {
    import graft.ops.{PipelineQueries, VerifyQueries}
    val sf = "/root/testdata/sf0.001"
    // every segmentation/tokenization gate is a map-only flatMap over the
    // corpus + ONE combinable groupBy: no join of ANY kind, no window —
    // the 100 TB shape (the dictionary/model is a broadcast-free closure
    // constant)
    for (name <- Seq("q_kuromoji", "q_kuromoji_search", "q_smartcn",
        "q_stempel", "q_icu_tokenize", "q_path_hierarchy", "q_synonym_multi")) {
      val plan = VerifyQueries.queries(name)(spark, sf).queryExecution.sparkPlan
      val planStr = plan.toString
      assert(!planStr.toLowerCase.contains("join"),
        s"$name plans a join:\n$planStr")
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$name plans a window:\n$planStr")
    }
    // wiki strip: pure row-level column expressions — no exchange beyond
    // the output sort, no join, no window
    val wPlan = PipelineQueries.queries("q_strip_wiki")(spark, sf)
      .queryExecution.sparkPlan
    assert(!wPlan.toString.toLowerCase.contains("join"),
      s"wiki strip plans a join:\n$wPlan")
    assert(wPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "wiki strip plans a window")
  }

  test("char-filter / pattern-tokenizer / hyphenation gates keep the " +
       "map-only-plus-one-groupBy shape") {
    import graft.ops.VerifyQueries
    val sf = "/root/testdata/sf0.001"
    // rules, patterns and the Liang table all ride the task closure as
    // constants: no join of any kind, no window — the 100 TB shape
    for (name <- Seq("q_pattern_tokenize", "q_mapping_charfilter",
        "q_decompound_hyph")) {
      val plan = VerifyQueries.queries(name)(spark, sf).queryExecution.sparkPlan
      val planStr = plan.toString
      assert(!planStr.toLowerCase.contains("join"),
        s"$name plans a join:\n$planStr")
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$name plans a window:\n$planStr")
    }
    // the top-50 term census must end in the bounded TakeOrderedAndProject,
    // never a global sort
    val tPlan = VerifyQueries.queries("q_pattern_tokenize")(
      spark, sf).queryExecution.sparkPlan.toString
    assert(tPlan.contains("TakeOrderedAndProject"),
      s"pattern-tokenize top-k must be TakeOrderedAndProject:\n$tPlan")
  }

  test("session-9 ops keep their scale shapes (KStem, Beider–Morse, group heads)") {
    import graft.ops.VerifyQueries
    val sf = "/root/testdata/sf0.001"
    // q_kstem / q_beider_morse: lexicon and rule set ride the task
    // closure — map-only encode + ONE combinable groupBy; no join, no window
    for (name <- Seq("q_kstem", "q_beider_morse")) {
      val kPlan = VerifyQueries.queries(name)(spark, sf)
        .queryExecution.sparkPlan
      assert(!kPlan.toString.toLowerCase.contains("join"),
        s"$name plans a join:\n$kPlan")
      assert(kPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$name plans a window")
    }
    // q_group_heads: the head is a combinable struct-min aggregation —
    // NO window may appear (a window would single-thread each group's
    // full hit list through one task; the aggregate form partial-combines
    // map-side)
    val gPlan = VerifyQueries.queries("q_group_heads")(spark, sf)
      .queryExecution.sparkPlan
    assert(gPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"q_group_heads must aggregate, not window:\n$gPlan")
    assert(gPlan.toString.contains("HashAggregate") ||
      gPlan.toString.contains("SortAggregate"),
      s"q_group_heads must be an aggregation:\n$gPlan")
  }


  test("session-11 ops keep their scale shapes (geohash cells, spatial args)") {
    import graft.ops.VerifyQueries
    val sf = "/root/testdata/sf0.001"
    // q_geohash_cells: the unrolled interleave is pure column arithmetic —
    // scan → project → ONE combinable hash aggregate; no join, no window,
    // and the whole pre-shuffle stage is codegen'd
    val gdf = VerifyQueries.queries("q_geohash_cells")(spark, sf)
    val gp = gdf.queryExecution.sparkPlan
    assert(!gp.toString.toLowerCase.contains("join"), s"geohash cells joins:\n$gp")
    assert(gp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "geohash cells plans a window")
    // AQE renders only the header until the plan runs — execute THIS
    // instance, then the final plan's '*(n)' markers prove the interleave
    // stayed inside whole-stage codegen (the per-char extraction form
    // regressed exactly here: 3x-inlined interleave -> no codegen stage)
    gdf.collect()
    val gs = gdf.queryExecution.executedPlan.toString
    assert(gs.contains("*(") || gs.contains("WholeStageCodegen"),
      s"geohash interleave fell out of codegen:\n$gs")
    // q_spatial_args (circle): ONE filter stage carrying the haversine
    // refine — no join, no window
    val a = VerifyQueries.queries("q_spatial_args")(spark, sf).queryExecution.sparkPlan
    assert(!a.toString.toLowerCase.contains("join"), s"spatial args joins:\n$a")
    assert(a.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "spatial args plans a window")
  }
}
