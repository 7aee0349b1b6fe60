package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline ops: dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard / embedding-cosine), ANN search, text analysis,
  * multimodal plumbing. Fixture-based; the DuckDB-oracle parity of the
  * same ops is covered by the driver gate (SparkEntry.queries). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Fixture: 8 base docs; doc 100 is an exact copy of doc 0; doc 101 is a
    * near-copy of doc 1 (one token changed); doc 102 is unrelated. */
  private lazy val docs: DataFrame = {
    val base = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again",
      1L -> "spark builds inverted index postings with delta encoded blocks",
      2L -> "bm25 scoring ranks documents by term frequency and length",
      3L -> "merge segments into a global dictionary with salted keys",
      4L -> "checkpoint resume skips committed partitions via the manifest",
      5L -> "tokenize lowercase stop filter then count token frequencies",
      6L -> "range partition the term keys to defuse zipfian skew",
      7L -> "broadcast tiny dimension tables instead of shuffling them")
    val dup = Seq(
      100L -> base(0)._2,
      101L -> "spark builds inverted index postings with gamma encoded blocks",
      102L -> "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo")
    (base ++ dup).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length($"text").cast("long"))
  }

  test("exact dedup: hash groups collapse identical content, keeper = min id") {
    val groups = Dedup.exactGroups(docs).where($"n" > 1).collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("n") === 2)
    assert(groups(0).getAs[Long]("keeper") === 0L)
  }

  test("minhash LSH finds the exact duplicate and the near duplicate") {
    val pairs = Dedup.minhashNearDups(docs, minJaccard = 0.3)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100L)), "exact copy must collide in every band")
    assert(pairs.contains((1L, 101L)), "near copy (1 token changed) should collide")
    assert(!pairs.exists(p => p._1 == 102L || p._2 == 102L), "unrelated doc must not pair")
  }

  test("span removal: the copying doc loses exactly its copied span, the original keeps all") {
    // doc 1 embeds doc 0's full 12 tokens inside its own 16: every one of
    // doc 1's windows overlapping the copy is duplicated; hand-trace the
    // covered positions
    val a = "the quick brown fox jumps over the lazy dog again and again" // 12 tokens
    val d2 = ("alpha beta " + a + " gamma delta").split(" ").mkString(" ") // 16 tokens
    val fixture = Seq(0L -> a, 1L -> d2).toDF("doc_id", "text")
    val r = Dedup.spanRemovalStats(fixture, w = 10)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_removed"), x.getAs[Long]("n_kept"))).toMap
    assert(r(0L) === ((12L, 0L, 12L)), "the first owner loses nothing")
    // doc 1 windows (w=10) at pos 0..6; duplicated ones are those fully
    // inside the copied block: pos 2..4 (tokens 2..13 of doc1 = doc0's
    // 0..11). Covered positions = 2..13 → 12 removed, 4 kept.
    assert(r(1L) === ((16L, 12L, 4L)), "exactly the copied span is removed")
  }

  test("b-bit minwise: exact copy agrees on all 16 bits (jhat = 1), estimator bounded") {
    val r = Dedup.minhashBbitPairs(docs)
      .collect().map(x => (x.getAs[Long]("a"), x.getAs[Long]("b")) ->
        (x.getAs[Int]("agree"), x.getAs[Double]("jhat"))).toMap
    assert(r.contains((0L, 100L)), "the exact-copy candidate pair is scored")
    assert(r((0L, 100L)) === ((16, 1.0)), "identical signatures agree on every low bit")
    // every estimate lies in the estimator's range [-1, 1]
    assert(r.values.forall { case (a, j) => a >= 0 && a <= 16 && j >= -1.0 && j <= 1.0 })
    // the near-copy should score high (most components' low bits agree)
    assert(r.get((1L, 101L)).forall(_._2 >= 0.5), "near copy estimates high")
  }

  test("simhash pigeonhole-bucketed pairs == all-pairs (lossless for the radius)") {
    val sh = Dedup.simhashProd(docs)
    for (maxHamming <- Seq(0, 3, 7)) {
      val allPairs = Dedup.simhashPairs(sh, maxHamming)
        .select($"a", $"b", $"hamming").as[(Long, Long, Long)].collect().toSet
      val bucketed = Dedup.simhashPairsBucketed(sh, maxHamming)
        .select($"a", $"b", $"hamming").as[(Long, Long, Long)].collect().toSet
      assert(bucketed === allPairs, s"maxHamming=$maxHamming")
    }
    // the duplicate pair appears at hamming 0 through the bucketed path
    assert(Dedup.simhashPairsBucketed(sh, 0).select($"a", $"b")
      .as[(Long, Long)].collect().toSet.contains((0L, 100L)))
  }

  test("simhash/fingerprint production (xxhash64) paths group duplicates like parity") {
    // duplicate docs collapse to equal signatures under BOTH hash
    // families; distinct contents get distinct fingerprints
    def groupsOf(df: DataFrame, valueCol: String): Set[Set[Long]] =
      df.groupBy(col(valueCol)).agg(collect_set($"doc_id").as("g"))
        .select($"g").as[Seq[Long]].collect().map(_.toSet).toSet
    val shParity = groupsOf(Dedup.simhash(docs), "simhash")
    val shProd = groupsOf(Dedup.simhashProd(docs), "simhash")
    assert(shParity.exists(_.intersect(Set(0L, 100L)) == Set(0L, 100L)))
    assert(shProd.exists(_.intersect(Set(0L, 100L)) == Set(0L, 100L)))
    val fpParity = groupsOf(TextAnalysis.fingerprints(docs), "fingerprint")
    val fpProd = groupsOf(TextAnalysis.fingerprintsProd(docs), "fingerprint")
    assert(fpParity === fpProd, "fingerprint equality classes must agree")
    assert(fpProd.contains(Set(0L, 100L)), "exact ordered copy shares a fingerprint")
  }

  test("minhash production (xxhash64) path agrees with the parity path") {
    val parity = Dedup.minhashNearDups(docs, 0.3)
      .select($"a", $"b", round($"jac", 6).as("j")).as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val prod = Dedup.minhashNearDupsProd(docs, 0.3)
      .select($"a", $"b", round($"jac", 6).as("j")).as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // an exact copy collides in every band under ANY hash family; border
    // pairs may differ between families (probabilistic recall), but any
    // pair both report must carry the same exact Jaccard
    assert(parity.contains((0L, 100L)) && prod.contains((0L, 100L)))
    assert(parity((0L, 100L)) === 1.0 && prod((0L, 100L)) === 1.0)
    parity.keySet.intersect(prod.keySet).foreach { k =>
      assert(parity(k) === prod(k))
    }
  }

  test("exact-copy pair has jaccard 1.0; near-copy strictly below") {
    val jac = Dedup.ngramJaccardPairs(docs, 3, 0.3)
      .select($"a", $"b", $"jac").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(jac((0L, 100L)) === 1.0)
    assert(jac((1L, 101L)) > 0.3 && jac((1L, 101L)) < 1.0)
  }

  test("simhash: identical docs get identical signatures; near-dup is close, unrelated far") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh(0L) === sh(100L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(101L)) < hamming(sh(1L), sh(102L)))
  }

  test("simhashPairs surfaces the duplicate at hamming 0") {
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs), maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 100L && p._3 == 0L))
  }

  // --------------------------------------------------------- similarity

  /** 20 deterministic unit-ish vectors; vec 10 = vec 0 scaled (cos = 1). */
  private lazy val vecs: DataFrame = {
    def v(seed: Int): Seq[Float] =
      (0 until Similarity.Dims).map(i => math.sin(seed * 31 + i * 7).toFloat)
    ((0 until 10).map(s => (s.toLong, v(s))) :+ (10L, v(0).map(_ * 2f)))
      .toDF("vec_id", "embedding")
  }

  test("brute-force ANN: scaled copy of the query vector ranks first with cos 1") {
    val q = vecs.where($"vec_id" === 0).select($"embedding")
      .as[Seq[Float]].head()
    val top = Similarity.bruteForceTopK(vecs.where($"vec_id" =!= 0), q, 3).collect()
    assert(top(0).getAs[Long]("vec_id") === 10L)
    assert(math.abs(top(0).getAs[Double]("cos") - 1.0) < 1e-9)
  }

  test("dot, l2norm and cosine raise an error for a vector whose size is not Dims") {
    val ok = (1 to Similarity.Dims).map(_.toFloat)
    val df = Seq((ok, ok)).toDF("a", "b")
    assert(df.select(Similarity.dot($"a", $"b")).head().getDouble(0) ===
      ok.map(x => x.toDouble * x).sum)
    assert(df.select(Similarity.dot($"a", lit(null).cast("array<float>"))).head().isNullAt(0))
    for (bad <- Seq(ok.take(Similarity.Dims - 1), ok :+ 1f, Seq.empty[Float])) {
      val d = Seq((ok, bad)).toDF("a", "b")
      for (c <- Seq(Similarity.dot($"a", $"b"), Similarity.dot($"b", $"a"),
          Similarity.l2norm($"b"), Similarity.cosine($"a", $"b"))) {
        val e = intercept[Exception](d.select(c).collect())
        assert(e.getMessage.contains(s"embedding must have ${Similarity.Dims} elements"),
          s"size ${bad.size}: ${e.getMessage}")
      }
    }
  }

  test("LSH bucket assignment is scale-invariant and query's bucket contains its copy") {
    val b = vecs.select($"vec_id", Similarity.lshBucket($"embedding").as("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) === b(10L), "sign-LSH is scale-invariant")
    val q = vecs.where($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()
    val top = Similarity.lshTopK(vecs.where($"vec_id" =!= 0), q, 5).collect()
    assert(top.map(_.getAs[Long]("vec_id")).contains(10L))
  }

  test("bucketed cosine pairs find the near-identical pair") {
    val pairs = Similarity.cosinePairsBucketed(vecs, minCos = 0.99)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 10L)))
  }

  test("hyperplane family is FULL-RANK: every requested plane is distinct") {
    // regression for the (i*37 + b*61) % 5 fixture, where 61 ≡ 1 (mod 5)
    // made planes b and b+5 coefficient-identical — only 5 distinct
    // hyperplanes existed, capping the bucket space at 2^5 and leaving a
    // 2.45-billion-row pair space at the sf1 gate.
    def pattern(b: Int): Seq[Double] =
      (1 to Similarity.Dims).map(i =>
        if ((i * 37 + b * 89) % 103 % 2 == 0) 1.0 else -1.0)
    val pats = (0 until 32).map(pattern)
    assert(pats.distinct.size === 32, "duplicate hyperplanes in the family")
    // roughly unbiased: each plane's +1 fraction within [0.3, 0.7]
    pats.foreach { p =>
      val pos = p.count(_ > 0).toDouble / p.size
      assert(pos > 0.3 && pos < 0.7, s"biased plane: $pos")
    }
  }

  test("semDedup: the perturbed twin is dropped, its lower-id twin kept, clusters from the trainer") {
    // vec 10 = vec 0 with one component nudged: cos ~ 1 AND L2-near, so
    // k-means (an L2 clusterer — a SCALED copy would land elsewhere) puts
    // both in one cell, the within-cell pair (0, 10) fires, and 10 (the
    // higher id) is dropped.
    def v(seed: Int): Seq[Float] =
      (0 until Similarity.Dims).map(i => math.sin(seed * 31 + i * 7).toFloat)
    val local = ((0 until 10).map(s => (s.toLong, v(s))) :+
      (10L, v(0).updated(0, v(0).head + 0.01f))).toDF("vec_id", "embedding")
    val r = Similarity.semDedup(local, k = 4, iters = 2, minCos = 0.99)
      .collect().map(x => x.getAs[Long]("vec_id") ->
        (x.getAs[Long]("cluster"), x.getAs[Boolean]("kept"))).toMap
    assert(r.size === 11, "every input vector appears exactly once")
    assert(!r(10L)._2, "near-identical twin dropped")
    assert(r(0L)._2, "lower-id twin kept")
    assert(r(0L)._1 === r(10L)._1, "twins share a cluster")
    assert((0 to 9).forall(i => r(i.toLong)._2), "no other vector is near-dup at 0.99")
  }

  test("PQ: an exact copy shares the twin's codes and ties it at ADC rank 1") {
    def v(seed: Int): Seq[Float] =
      (0 until Similarity.Dims).map(i => math.sin(seed * 31 + i * 7).toFloat)
    val local = ((0 until 10).map(s => (s.toLong, v(s))) :+ (10L, v(0)))
      .toDF("vec_id", "embedding")
    val cbs = Similarity.pqTrain(local, m = 2, k = 4, iters = 2)
    assert(cbs.length === 2 && cbs.forall(_.length === 4))
    val codes = Similarity.pqEncode(local, cbs).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Int]("c0"), r.getAs[Int]("c1"))).toMap
    assert(codes(10L) === codes(0L), "identical vectors quantize to identical codes")
    assert(codes.values.forall { case (a, b) => a >= 0 && a < 4 && b >= 0 && b < 4 })
    val top = Similarity.pqTopK(local, v(0), m = 2, k = 4, iters = 2, topK = 3)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("adc"))
    assert(top(0)._1 === 0L && top(1)._1 === 10L, "the copy pair ranks first (id tie-break)")
    assert(top(0)._2 === top(1)._2, "identical codes give identical ADC distance")
    assert(top(2)._2 >= top(1)._2, "ascending distance order")
  }

  test("PQ serving path: pre-encoded codes + pqAdcTopK ≡ the train-inside wrapper") {
    // the production shape: train once, encode once (store the codes),
    // serve many queries from the code table alone
    def v(seed: Int): Seq[Float] =
      (0 until Similarity.Dims).map(i => math.sin(seed * 31 + i * 7).toFloat)
    val local = (0 until 12).map(s => (s.toLong, v(s))).toDF("vec_id", "embedding")
    val cbs = Similarity.pqTrain(local, m = 2, k = 4, iters = 2)
    val codes = Similarity.pqEncode(local, cbs)
      .localCheckpoint() // "stored": scoring below must touch codes only
      .drop("embedding")
    for (qseed <- Seq(0, 5, 9)) {
      val served = Similarity.pqAdcTopK(codes, cbs, v(qseed), topK = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val wrapped = Similarity.pqTopK(local, v(qseed), m = 2, k = 4, iters = 2, topK = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served === wrapped, s"query seed $qseed")
    }
  }

  test("IVF-PQ: survivors come only from probed cells; ADC agrees with the pure-PQ scan") {
    val vecsL = vecs.withColumn("label", (col("vec_id") % 3).cast("int"))
    val q = vecsL.where($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()
    val r = Similarity.ivfPqTopK(vecsL, q, m = 2, k = 4, iters = 2, nProbe = 2, topK = 10)
      .collect()
    assert(r.nonEmpty && r.map(_.getAs[Int]("cell")).distinct.length <= 2,
      "results confined to the 2 probed cells")
    assert(r.map(_.getAs[Long]("vec_id")).contains(0L),
      "the query's own vector survives its own cell")
    // ADC distances equal the pure PQ scan's for the same ids (same
    // codebooks, same LUT — the coarse stage only prunes)
    val pq = Similarity.pqTopK(vecsL, q, m = 2, k = 4, iters = 2, topK = 100)
      .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[Double]("adc")).toMap
    r.foreach(x => assert(pq(x.getAs[Long]("vec_id")) === x.getAs[Double]("adc"),
      s"ADC mismatch for ${x.getAs[Long]("vec_id")}"))
  }

  test("IVF: probing all cells == brute force; fewer cells is a subset-ranked result") {
    val vecsL = vecs.withColumn("label", (col("vec_id") % 3).cast("int"))
    val q = vecsL.where($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()
    val brute = Similarity.bruteForceTopK(vecsL, q, 5).collect().map(_.getLong(0)).toSeq
    val ivfAll = Similarity.ivfTopK(vecsL, q, 5, nProbe = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ivfAll === brute, "probing every cell must equal brute force")
    val ivf1 = Similarity.ivfTopK(vecsL, q, 5, nProbe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(ivf1.subsetOf(brute.toSet ++ ivfAll.toSet ++ ivf1)) // probe-limited recall
    assert(ivf1.contains(0L), "query's own cell contains the query vector")
  }

  test("DSIR: docs sharing the target sample's vocabulary outweigh off-target docs") {
    // targets (ids 0,3 under the %3 rule) speak "alpha beta"; doc 1 speaks
    // the same vocabulary, doc 2 a disjoint one. The log-ratio model must
    // put doc 1 above doc 2, and the targets above both-of-raw average.
    val d = Seq(
      0L -> "alpha beta alpha beta alpha beta",
      1L -> "alpha beta alpha beta",
      2L -> "gamma delta gamma delta",
      3L -> "beta alpha beta alpha beta alpha")
      .toDF("doc_id", "text")
    val w = Dsir.importanceWeights(d, $"doc_id" % 3 === 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_w")).toMap
    assert(w.size === 4, "every doc scored")
    assert(w(1L) > w(2L), "target-vocabulary doc outweighs the off-target doc")
    assert(w(0L) > w(2L) && w(3L) > w(2L), "targets themselves score above off-target")
  }

  test("URL canonicalization: case, ports, slashes, tracking params, fragment, ordering") {
    val cases = Seq(
      "HTTP://WWW.Example.COM:80//a//b/?utm_source=x&b=2&a=1#frag"
        -> "http://www.example.com/a/b?a=1&b=2",
      "https://Host.com:443/" -> "https://host.com/",
      "https://host.com:8443/x" -> "https://host.com:8443/x", // non-default port kept
      "http://h.com/p/?utm_a=1&gclid=z&fbclid=y&ref=r" -> "http://h.com/p", // tracking-only query drops
      "http://h.com" -> "http://h.com/", // empty path becomes root
      "http://h.com/a?b=2&a=1" -> "http://h.com/a?a=1&b=2")
    val got = cases.map(_._1).toDF("u")
      .select(TextAnalysis.canonicalUrl($"u").as("c")).as[String].collect()
    cases.map(_._2).zip(got).foreach { case (exp, g) => assert(g === exp) }
  }

  test("Gopher rules: each published threshold fires on its engineered violation") {
    // filler keeps mean word length in [3, 10]: 34-36 chars per 10 words
    val goodWords = (1 to 30).map(i => s"the and of have with that be to word$i here$i").mkString(" ")
    val cases = Seq(
      0L -> goodWords, // all rules pass
      1L -> "the and of short", // < 50 words
      2L -> ((1 to 60).map(_ => "a").mkString(" ") + " the and"), // mean len < 3
      3L -> (goodWords + " " + (1 to 40).map(_ => "#").mkString(" ")), // symbols > 10%
      4L -> (goodWords.split(" ").map(w => s"$w...").mkString("\n")), // ellipsis lines > 30%
      5L -> (goodWords + " " + (1 to 100).map(_ => "123").mkString(" ")), // alpha < 80%
      6L -> (1 to 60).map(i => s"word$i here$i").mkString(" "), // < 2 stop words
      // bullet rule is "more than 90% of lines", NOT 10%: a 50%-bullet doc
      // must PASS (regression: the threshold was inverted) ...
      7L -> (goodWords + "\n- the and of have with"),
      // ... and 19 of 20 bullet lines (95%) must fire it
      8L -> (goodWords + "\n" +
        (1 to 19).map(_ => "- the and of have with").mkString("\n")),
      // symbol ratio is per-symbol ("either the hash symbol or the
      // ellipsis"): 20 '#' + 20 '...' over 341 words = 5.9% each (pass)
      // though 11.7% combined (the old fused rule wrongly fired)
      9L -> (goodWords + " " + (1 to 20).map(_ => "...").mkString(" ") +
        " " + (1 to 20).map(_ => "#").mkString(" ") + " tail"))
    val r = TextAnalysis.gopherRules(cases.toDF("doc_id", "text"), $"text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("keep"), "clean doc passes all rules")
    assert(!r(1L).getAs[Boolean]("r_word_count"))
    assert(!r(2L).getAs[Boolean]("r_mean_len"))
    assert(!r(3L).getAs[Boolean]("r_symbol"))
    assert(!r(4L).getAs[Boolean]("r_ellipsis"))
    assert(!r(5L).getAs[Boolean]("r_alpha"))
    assert(!r(6L).getAs[Boolean]("r_stops"))
    assert((1L to 6L).forall(i => !r(i).getAs[Boolean]("keep")))
    assert(r(7L).getAs[Boolean]("r_bullet") && r(7L).getAs[Boolean]("keep"),
      "50% bullet lines is under the paper's 90% removal threshold")
    assert(!r(8L).getAs[Boolean]("r_bullet") && !r(8L).getAs[Boolean]("keep"),
      "95% bullet lines fires the rule")
    assert(r(9L).getAs[Boolean]("r_symbol") && r(9L).getAs[Boolean]("keep"),
      "hash and ellipsis ratios are judged individually, not combined")
  }

  test("C4 rules: line retention + page filters") {
    val page = "Good long sentence here today.\nshort.\nuses javascript sadly here.\n" +
      "Another full sentence lands! Third one? Fourth now. Fifth done."
    val cases = Seq(
      0L -> page, // keeps 2 lines (first + last), 5+ sentences
      1L -> (page + "\nlorem ipsum dolor"),
      2L -> (page + "\nhas { brace"),
      3L -> "One. Two.") // < 5 sentences
    val r = TextAnalysis.c4Rules(cases.toDF("doc_id", "text"), $"text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("keep"))
    assert(r(0L).getAs[Long]("n_kept_lines") === 2L,
      "terminal-punct + >=3 words + no javascript keeps exactly 2 of 4 lines")
    assert(!r(1L).getAs[Boolean]("keep") && r(1L).getAs[Boolean]("has_lorem"))
    assert(!r(2L).getAs[Boolean]("keep") && r(2L).getAs[Boolean]("has_curly"))
    assert(!r(3L).getAs[Boolean]("keep") && r(3L).getAs[Long]("n_sentences") === 2L)
  }

  // ------------------------------------------------------- text analysis

  test("token counts: three tokenizations on a known string") {
    val d = Seq((1L, "Hello world, 42 foo_bar!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(d).head()
    assert(r.getAs[Long]("ws_tokens") === 4) // Hello | world, | 42 | foo_bar!
    assert(r.getAs[Long]("word_tokens") === 4) // hello world 42 foo_bar
    // hello | world | , | 42 | foo | _ | bar | !
    assert(r.getAs[Long]("bpeish_tokens") === 8)
  }

  test("quality score: natural text scores above junk") {
    val d = Seq(
      (1L, "the quick brown fox is a good dog and it will run to the park."),
      (2L, "000 111 222 333 444 555 666 777 888 999 000 111")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    assert(q(1L) > q(2L))
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("fingerprints: equal token sequences collide, reordering does not") {
    val d = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "gamma beta alpha")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d).as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("langId: marker-dense text is classified, markerless text is 'und'") {
    val d = Seq(
      (1L, "the cat and the dog of the house", "en"),
      (2L, "el perro y la casa de la luna que", "es"),
      (3L, "zzz qqq www", "xx")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted")).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "es")
    assert(out(3L) === "und")
  }

  // ---------------------------------------------------------- multimodal

  test("multimodal: asset schema, meta extraction, batched stub features") {
    val assets = Multimodal.assets(docs)
    assert(assets.schema.fieldNames.toSeq ===
      Seq("doc_id", "modality", "bytes", "byte_len", "meta_lang"))
    assert(assets.schema("bytes").dataType.typeName === "binary")

    val meta = Multimodal.assetMeta(assets)
    val m0 = meta.where($"doc_id" === 0).head()
    // payload is UTF-8 of the text; magic = first 8 bytes hex
    assert(m0.getAs[String]("magic") === "746865207175696375".take(16))
    assert(m0.getAs[String]("sample").length === 8)

    val feats = Multimodal.extractFeatures(spark, assets).collect()
    assert(feats.length === docs.count())
    assert(feats.forall(_.features.length === Multimodal.FeatureDims))
    // deterministic: same payload → same features (doc 0 vs its copy 100)
    val byId = feats.map(f => f.doc_id -> f).toMap
    assert(byId(0L).features.toSeq === byId(100L).features.toSeq)
    assert(byId(0L).n_frames === byId(100L).n_frames)
  }

  test("multimodal: modality stats aggregate is stable") {
    val stats = Multimodal.modalityStats(spark, docs).collect()
    assert(stats.map(_.getAs[String]("modality")).toSeq ===
      stats.map(_.getAs[String]("modality")).toSeq.sorted)
    assert(stats.map(_.getAs[Long]("n")).sum === docs.count())
  }

  test("packing: exclusive-prefix windows in doc order; split is content-deterministic") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "d e"), (2L, "f g h i"), (3L, "j"))
      .toDF("doc_id", "text")
    // token counts 3,2,4,1 -> exclusive prefixes 0,3,5,9 -> budget 4 ->
    // windows 0,0,1,2 (a doc belongs to the window it STARTS in)
    val packed = Packing.packIntoWindows(docs, budgetTokens = 4, numPartitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(packed === Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L))
    // identical content always lands on the same split side
    val twice = Seq((10L, "same words here"), (11L, "same words here"),
      (12L, "other content"))
      .toDF("doc_id", "text")
    val split = Packing.deterministicSplit(twice)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split(10L) === split(11L))
  }

  test("chunkStats: window starts every stride, last window short, overlap counted") {
    import spark.implicits._
    val d = Seq((0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"), // dl=13
      (1L, "a b c"), // dl=3 < w -> one short chunk
      (2L, "")) // empty -> dropped
      .toDF("doc_id", "text")
    val got = Packing.chunkStats(d, w = 8, stride = 6).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // dl=13: starts 0,6,12 -> lengths 8, 7, 1 -> covered 16
    assert(got(0L) === ((13L, 3L, 16L)))
    assert(got(1L) === ((3L, 1L, 3L)))
    assert(!got.contains(2L))
  }

  test("bigram cross-entropy: closed-form add-k model on a tiny corpus") {
    import spark.implicits._
    val d = Seq((0L, "a b a b"), (1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    // bigrams: doc0 = (a,b),(b,a),(a,b); doc1 = (a,b),(b,c); doc2 none (dl<2)
    // C(a,b)=3, C(b,a)=1, C(b,c)=1; C(a)=3, C(b)=2; V=4 (a,b,c,x); k=0.5
    val pAB = (3 + 0.5) / (3 + 0.5 * 4)
    val pBA = (1 + 0.5) / (2 + 0.5 * 4)
    val pBC = (1 + 0.5) / (2 + 0.5 * 4)
    val got = TextAnalysis.bigramCrossEntropy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L)._1 === 3L)
    assert(math.abs(got(0L)._2 - (-(2 * math.log(pAB) + math.log(pBA)) / 3)) < 1e-12)
    assert(got(1L)._1 === 2L)
    assert(math.abs(got(1L)._2 - (-(math.log(pAB) + math.log(pBC)) / 2)) < 1e-12)
  }

  test("kmeans: separated blobs recover their clusters; ids deterministic") {
    import spark.implicits._
    // vec_ids 0 and 1 seed the two blobs; members sit near their seed
    val pts = Seq(
      (0L, Array(0f, 0f), 0), (2L, Array(0.1f, 0f), 0), (4L, Array(0f, 0.1f), 0),
      (1L, Array(5f, 5f), 1), (3L, Array(5.1f, 5f), 1), (5L, Array(5f, 5.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Similarity.kmeansCodebook(pts, k = 2, iters = 2)
    assert(cb.map(_._1) === Seq(0, 1))
    // centroids converge to the blob means
    assert(math.abs(cb(0)._2(0) - (0.0 + 0.1 + 0.0) / 3) < 1e-6)
    assert(math.abs(cb(1)._2(1) - (5.0 + 5.0 + 5.1) / 3) < 1e-6)
    val assigned = Similarity.ivfAssign(pts, cb).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(assigned === Map(0L -> 0, 2L -> 0, 4L -> 0, 1L -> 1, 3L -> 1, 5L -> 1))
    // iters=0 returns the raw seeds
    val seeds = Similarity.kmeansCodebook(pts, k = 2, iters = 0)
    assert(seeds(0)._2.toSeq === Seq(0.0, 0.0))
    assert(seeds(1)._2.toSeq.map(x => math.rint(x * 10) / 10) === Seq(5.0, 5.0))
  }

  test("stripHtml: blocks, tags, entities, single-pass decode, whitespace") {
    import spark.implicits._
    val cases = Seq(
      ("<p>hello <b>world</b></p>", "hello world"),
      ("<script>if (a < b) alert('x');</script>body", "body"),
      ("<style type=\"text/css\">p { color: red }</style>text", "text"),
      ("before<!-- a\ncomment -->after", "before after"),
      ("a&amp;b &lt;tag&gt; &quot;q&quot; &nbsp;", "a&b <tag> \"q\""),
      ("&amp;lt; stays encoded once", "&lt; stays encoded once"), // single decode
      ("multi\n\nline\t text", "multi line text"))
    val got = cases.map(_._1).toDF("text")
      .select(TextAnalysis.stripHtml($"text").as("s")).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g === e) }
  }

  test("tfidf keywords: corpus-common terms rank below doc-specific ones") {
    import spark.implicits._
    // "shared" appears in every doc (idf = 0); each doc has one unique term
    val kd = Seq(
      0L -> "shared alpha alpha beta",
      1L -> "shared gamma gamma beta",
      2L -> "shared delta delta delta beta").toDF("doc_id", "text")
    val kw = TextAnalysis.tfidfKeywords(kd, k = 2)
      .as[(Long, Long, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(kw(0L).head === "alpha") // tf 2, df 1 beats beta (tf 1, df 2)
    assert(kw(1L).head === "gamma")
    assert(kw(2L).head === "delta")
    // 'shared' (df == N -> tfidf 0) never makes top-2 while positives exist
    assert(!kw.values.exists(_.contains("shared")))
  }

  test("heavy-hitter bigrams: exact census matches hand count") {
    import spark.implicits._
    val hd = Seq(
      0L -> "a b a b a b",  // 'a b' x3, 'b a' x2
      1L -> "a b c",        // 'a b', 'b c'
      2L -> "c").toDF("doc_id", "text")
    val hh = TextAnalysis.heavyHitterBigrams(hd, minCount = 2L)
      .as[(String, Long)].collect().toMap
    assert(hh === Map("a b" -> 4L, "b a" -> 2L))
  }

  test("boilerplate segments: repeated window flagged within source only") {
    import spark.implicits._
    val bd = Seq(
      (0L, "copy right footer unique zero text", "s1"),
      (1L, "copy right footer unique one words", "s1"),
      (2L, "copy right footer unique two lines", "s2"), // other source: no partner
      (3L, "fresh body only", "s1"))
      .toDF("doc_id", "text", "source")
    val bp = TextAnalysis.boilerplateSegments(bd, segLen = 3, minDocs = 2)
      .select($"doc_id", $"n_segments", $"n_boiler").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(bp(0L) === ((2L, 1L))) // 'copy right footer' shared with doc 1 in s1
    assert(bp(1L) === ((2L, 1L)))
    assert(bp(2L) === ((2L, 0L))) // same text but lone in its source
    assert(bp(3L) === ((1L, 0L))) // short doc: one partial segment, unique
  }

  test("balanced sample: capped sources thin deterministically, small ones survive") {
    import spark.implicits._
    val rows = (0L until 100L).map(i => (i, s"t$i", if (i < 80) "big" else "small"))
    val sd = rows.toDF("doc_id", "text", "source")
    val kept = TextAnalysis.balancedSample(sd, cap = 10L)
      .as[(Long, String)].collect()
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // small source: rate 10/20 = 0.5; big: 10/80 = 0.125 — thinned hard
    assert(bySrc("big") < 30 && bySrc("big") > 0)
    assert(bySrc.getOrElse("small", 0) > 0)
    // determinism: a second run keeps exactly the same ids
    val again = TextAnalysis.balancedSample(sd, cap = 10L)
      .as[(Long, String)].collect()
    assert(kept.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("int8 quantization: codes bounded, exact copy of query still ranks first") {
    import spark.implicits._
    val vd = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f), 0),
      (2L, Array(1.0f, -2.0f, 0.5f), 0),   // same direction as 1 (scaled)
      (3L, Array(-0.5f, 1.0f, -0.25f), 0), // opposite direction
      (4L, Array(0f, 0f, 0f), 0))          // zero vector: dropped by quantizer
      .toDF("vec_id", "embedding", "label")
    val codes = Similarity.quantizeInt8(vd)
      .select($"vec_id", $"q").as[(Long, Seq[Long])].collect().toMap
    assert(!codes.contains(4L))
    codes.values.foreach(c => assert(c.forall(v => v >= -127 && v <= 127)))
    assert(codes(1L).max === 127 || codes(1L).min === -127) // max dim saturates
    val top = Similarity.int8TopK(vd, Seq(0.5f, -1.0f, 0.25f), k = 3)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 1L && math.abs(top.head._2 - 1.0) < 1e-9)
    assert(top(1)._1 === 2L) // same-direction scaled vector ~cos 1
    assert(top.last._1 === 3L && top.last._2 < 0) // anti-parallel
  }
}
