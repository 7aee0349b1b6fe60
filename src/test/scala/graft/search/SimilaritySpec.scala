package graft.search

import graft.SparkTestSession
import graft.bm25.{BM25, TfIdf}
import graft.build.IndexBuilder
import graft.corpus.CorpusGen
import org.scalatest.funsuite.AnyFunSuite

/** Pluggable Similarity on the generic path: BM25 via searchWith equals
  * the specialized WAND path bit-for-bit; TF-IDF reproduces the
  * reference's DefaultSimilarity semantics (queryNorm coupling across
  * clauses, coord = matched/total) on the TestTermScorer fixture. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val (searcher, avgdl) = {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("graft-sim-")
    IndexBuilder.build(spark, spark.createDataset(CorpusGen.microFixture), dir, 2)
    val r = new IndexReader(spark, dir)
    (new Searcher(r),
      BM25.avgFieldLength(r.collectionStats.sumTotalTermFreq, r.collectionStats.maxDoc))
  }

  test("searchWith(BM25Similarity) == the specialized search path, exactly") {
    val sim = new BM25Similarity(avgdl)
    for (q <- Seq[Query](TermQ("all"), TermQ("dogs"),
      BoolQ(should = Seq(TermQ("all"), TermQ("dogs"))),
      BoolQ(must = Seq(TermQ("dogs"))))) {
      assert(searcher.searchWith(sim, q, 10).toSeq === searcher.search(q, 10).toSeq,
        s"mismatch for $q")
    }
  }

  test("searchWith(TfIdfSimilarity): single term reproduces the 1.6931472f golden") {
    val hits = searcher.searchWith(new TfIdfSimilarity, TermQ("all"), 10)
    assert(hits.map(_.docId).toSeq === Seq(0L, 5L))
    assert(hits(0).score === 1.6931472f)
    assert(hits(0).score === hits(1).score)
  }

  test("LM-Dirichlet: ranks by query likelihood, matches the closed form") {
    val hits = searcher.searchWith(new LMDirichletSimilarity(), TermQ("dogs"), 10)
    assert(hits.map(_.docId).toSeq === Seq(1L))
    // closed form: p(dogs|C) = (ttf+1)/(sumTtf+1) = 3/8 (the reference's
    // add-one-smoothed DefaultCollectionModel, LMSimilarity.cs:174-177),
    // dl decoded from norm byte for dl=2
    val p = 2000f * ((2L + 1f) / (7L + 1f))
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val expected = (math.log(1 + 2f / p) + math.log(2000f / (dl + 2000f))).toFloat
    assert(hits(0).score === expected)
    // a corpus-dominant term scores near zero (log(1+tf/(mu p)) small)
    val common = searcher.searchWith(new LMDirichletSimilarity(), TermQ("all"), 10)
    assert(common.forall(_.score >= 0f))
  }

  test("LM-Jelinek-Mercer: closed form (lambda=0.1)") {
    val hits = searcher.searchWith(new LMJelinekMercerSimilarity(0.1f), TermQ("dogs"), 10)
    assert(hits.map(_.docId).toSeq === Seq(1L))
    val p = (2L + 1f) / (7L + 1f)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val expected = math.log(1 + ((1 - 0.1f) * 2f / dl) / (0.1f * p)).toFloat
    assert(hits(0).score === expected)
  }

  test("IB LL/D(f)/H2: closed form (c=1)") {
    val hits = searcher.searchWith(new IBLLSimilarity(avgdl), TermQ("dogs"), 10)
    assert(hits.map(_.docId).toSeq === Seq(1L))
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val tfn = (2f * log2(1 + avgdl / dl)).toFloat
    val lambda = (1L + 1f) / (6L + 1f)
    assert(hits(0).score === (-math.log(lambda / (tfn + lambda))).toFloat)
  }

  test("DFR I(n)L2: closed form (c=1)") {
    val hits = searcher.searchWith(new DFRSimilarity(DFR.ModelIn, DFR.AfterEffectL, DFR.NormalizationH2(), avgdl), TermQ("dogs"), 10)
    assert(hits.map(_.docId).toSeq === Seq(1L))
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val tfn = (2f * log2(1 + avgdl / dl)).toFloat
    val in = log2((6L + 1) / (1L + 0.5)).toFloat
    assert(hits(0).score === tfn * in * (1f / (tfn + 1f)))
  }

  test("searchWith(BM25) phrase clause == the specialized phrase path, exactly") {
    val sim = new BM25Similarity(avgdl)
    val q = PhraseQ(Seq("dogs", "dogs"))
    assert(searcher.searchWith(sim, q, 10).toSeq === searcher.search(q, 10).toSeq)
    // phrase inside a boolean, mixed with a term clause
    val bq = BoolQ(should = Seq(TermQ("all"), PhraseQ(Seq("dogs", "dogs"))))
    assert(searcher.searchWith(sim, bq, 10).toSeq === searcher.search(bq, 10).toSeq)
    // sim-parametric search() under the index's BM25 equals search()
    assert(searcher.search(bq, 10, sim).toSeq === searcher.search(bq, 10).toSeq)
    assert(searcher.search(TermQ("dogs"), 10, new TfIdfSimilarity).toSeq ===
      searcher.searchWith(new TfIdfSimilarity, TermQ("dogs"), 10).toSeq)
  }

  test("search(q, k, sim) scores with the caller's BM25Similarity") {
    // twice the index's avgdl: a different length norm for every doc
    val sim = new BM25Similarity(2 * avgdl)
    val q = BoolQ(should = Seq(TermQ("all"), TermQ("dogs")))
    assert(searcher.search(q, 10, sim).toSeq === searcher.searchWith(sim, q, 10).toSeq)
    assert(searcher.search(q, 10, sim).toSeq !== searcher.search(q, 10).toSeq)
  }

  test("duplicate clauses score independently (per-BooleanClause weights)") {
    // 'all all' (default-OR parse of a repeated term): both clauses score
    val twice = searcher.searchWith(new BM25Similarity(avgdl),
      BoolQ(should = Seq(TermQ("all"), TermQ("all"))), 10)
    val once = searcher.searchWith(new BM25Similarity(avgdl), TermQ("all"), 10)
    assert(twice.map(_.docId).toSeq === once.map(_.docId).toSeq)
    twice.zip(once).foreach { case (t, o) => assert(t.score === o.score * 2) }
    // '+all +all': the duplicated MUST must not drop matching docs
    val mustDup = searcher.searchWith(new BM25Similarity(avgdl),
      BoolQ(must = Seq(TermQ("all"), TermQ("all"))), 10)
    assert(mustDup.map(_.docId).toSeq === once.map(_.docId).toSeq)
    // TF-IDF: 'all all' has ssw = 2·(idfA)² and coord 2/2; check closed form
    val dup = searcher.searchWith(new TfIdfSimilarity,
      BoolQ(should = Seq(TermQ("all"), TermQ("all"))), 10)
    val idfA = TfIdf.idf(2, 6)
    val qn = TfIdf.queryNorm(2 * idfA * idfA)
    val wA = idfA * qn * idfA
    val exp0 = {
      var s = 0f
      s += TfIdf.score(1f, BM25.encodeNorm(1), wA)
      s += TfIdf.score(1f, BM25.encodeNorm(1), wA)
      s
    }
    assert(dup.map(h => h.docId -> h.score).toMap.apply(0L) === exp0)
  }

  test("unindexed term still contributes idf(0) to TF-IDF queryNorm") {
    // reference: TermWeight via TermStatistics(docFreq=0) joins ssw
    val hits = searcher.searchWith(new TfIdfSimilarity,
      BoolQ(should = Seq(TermQ("all"), TermQ("zzz_not_indexed"))), 10)
    val idfA = TfIdf.idf(2, 6)
    val idfMissing = TfIdf.idf(0, 6)
    val qn = TfIdf.queryNorm(idfA * idfA + idfMissing * idfMissing)
    val wA = idfA * qn * idfA
    val exp0 = TfIdf.score(1f, BM25.encodeNorm(1), wA) * (1f / 2)
    assert(hits.map(h => h.docId -> h.score).toMap.apply(0L) === exp0)
  }

  test("TF-IDF boolean: queryNorm couples clauses, coord penalizes partial matches") {
    val hits = searcher.searchWith(new TfIdfSimilarity,
      BoolQ(should = Seq(TermQ("all"), TermQ("dogs"))), 10)
    // expected by hand: idf over df(all)=2, df(dogs)=1, maxDoc=6
    val idfA = TfIdf.idf(2, 6)
    val idfD = TfIdf.idf(1, 6)
    val ssw = idfA * idfA + idfD * idfD
    val qn = TfIdf.queryNorm(ssw)
    val wA = idfA * qn * idfA
    val wD = idfD * qn * idfD
    // doc1 "dogs dogs": matches 1 of 2 clauses -> coord 1/2
    val d1 = TfIdf.score(2f, BM25.encodeNorm(2), wD) * (1f / 2)
    // doc0 "all": coord 1/2
    val d0 = TfIdf.score(1f, BM25.encodeNorm(1), wA) * (1f / 2)
    val byDoc = hits.map(h => h.docId -> h.score).toMap
    assert(byDoc(1L) === d1)
    assert(byDoc(0L) === d0)
    assert(byDoc.keySet === Set(0L, 1L, 5L))
  }

  test("IB SPL/D(f)/H2: closed form (c=1)") {
    val hits = searcher.searchWith(new IBSPLSimilarity(avgdl), TermQ("dogs"), 10)
    assert(hits.map(_.docId).toSeq === Seq(1L))
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val tfn = (2f * log2(1 + avgdl / dl)).toFloat
    val lambda = (1L + 1f) / (6L + 1f)
    val expected = (-math.log(
      (math.pow(lambda, tfn / (tfn + 1)) - lambda) / (1 - lambda))).toFloat
    assert(hits(0).score === expected)
  }

  test("IB SPL clamps lambda==1 like the reference: ubiquitous term scores finite") {
    // df == maxDoc gives lambda = (df+1)/(maxDoc+1) = 1 → 0/0 = NaN
    // without DistributionSPL.cs:43-46's lambda = 0.99f clamp
    val sim = new IBSPLSimilarity(avgdl)
    val w = Array(1f, 1f) // (boost, lambda) for a term in every doc
    val s = sim.score(2f, BM25.encodeNorm(2), w)
    assert(!s.isNaN && !s.isInfinite)
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val tfn = (2f * log2(1 + avgdl / dl)).toFloat
    val lam = 0.99f
    assert(s === (-math.log(
      (math.pow(lam, tfn / (tfn + 1)) - lam) / (1 - lam))).toFloat)
  }

  test("DFR I(F)L2: closed form (c=1, F = totalTermFreq)") {
    val hits = searcher.searchWith(new DFRSimilarity(DFR.ModelIF, DFR.AfterEffectL, DFR.NormalizationH2(), avgdl), TermQ("dogs"), 10)
    assert(hits.map(_.docId).toSeq === Seq(1L))
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val tfn = (2f * log2(1 + avgdl / dl)).toFloat
    val iff = log2(1 + (6L + 1.0) / (2L + 0.5)).toFloat // ttf(dogs) = 2
    assert(hits(0).score === tfn * iff * (1f / (tfn + 1f)))
  }

  test("per-field similarity routes clauses by field prefix") {
    // content clause under BM25, a (hypothetical) keyword-style clause
    // under TF-IDF — mixed in one boolean, each scored by its own sim
    val bm25 = new BM25Similarity(avgdl)
    val perField = new PerFieldSimilarity(bm25, Map("lang" -> new TfIdfSimilarity))
    // no keyword fields in this index: content terms route to default ==
    // plain BM25, bit-for-bit
    for (q <- Seq[Query](TermQ("all"),
      BoolQ(should = Seq(TermQ("all"), TermQ("dogs"))))) {
      assert(searcher.searchWith(perField, q, 10).toSeq ===
        searcher.searchWith(bm25, q, 10).toSeq, s"default routing for $q")
    }
    // a clause with the mapped field prefix scores under ITS similarity:
    // weights computed per clause; verify via the weight vectors directly
    val stats = Map.empty[String, graft.build.TermDictRow]
    val ws = perField.clauseWeights(
      Seq((Seq("lang:en"), 1f), (Seq("dogs"), 1f)), stats, 6L, 7L)
    val tfidfIdx = ws(0)(0).toInt
    val bm25Idx = ws(1)(0).toInt
    assert(tfidfIdx != bm25Idx)
    // routed score == the field sim's own score on the same inner weights
    val inner = java.util.Arrays.copyOfRange(ws(0), 1, ws(0).length)
    assert(perField.score(1f, BM25.encodeNorm(1), ws(0)) ===
      new TfIdfSimilarity().score(1f, BM25.encodeNorm(1), inner))
  }

  test("DFR G·L·H2 and I(n)·L·H1: closed forms (reference op order)") {
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    // G model (BasicModelG.cs): λ = F/(N+F) with F = ttf+1 kept double
    val g = searcher.searchWith(
      new DFRSimilarity(DFR.ModelG, DFR.AfterEffectL, DFR.NormalizationH2(), avgdl),
      TermQ("dogs"), 10)
    assert(g.map(_.docId).toSeq === Seq(1L))
    val tfn2 = (2f * log2(1 + avgdl / dl)).toFloat
    val lam = (2L + 1.0) / (6L + (2L + 1.0))
    val modelG = (log2(lam + 1) + tfn2 * log2((1 + lam) / lam)).toFloat
    assert(g(0).score === modelG * (1f / (tfn2 + 1f)))
    // H1 normalization (NormalizationH1.cs:58): tfn = tf·avgdl/dl —
    // the reference ignores c entirely, and the op order matters
    val h1 = searcher.searchWith(
      new DFRSimilarity(DFR.ModelIn, DFR.AfterEffectL, DFR.NormalizationH1(), avgdl),
      TermQ("dogs"), 10)
    val tfnH1 = 2f * avgdl / dl
    val in = tfnH1 * log2((6L + 1) / (1L + 0.5)).toFloat
    assert(h1(0).score === in * (1f / (tfnH1 + 1f)))
  }

  test("composable DFR: P/D/BE/Ine models, AfterEffectB, H3/Z/None norms") {
    // 'dogs': df=1, ttf=2, N=6, sumTtf=7, tf=2 — every golden mirrors the
    // reference model class's op order (BasicModel*.cs, AfterEffectB.cs,
    // NormalizationH3/Z.cs) by hand
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val tfn = (2f * log2(1 + avgdl / dl)).toFloat
    val aeL = 1f / (tfn + 1f)
    def run(m: DFR.BasicModel, ae: DFR.AfterEffect = DFR.AfterEffectL,
        n: DFR.Normalization = DFR.NormalizationH2()): Float =
      searcher.searchWith(new DFRSimilarity(m, ae, n, avgdl), TermQ("dogs"), 10)(0).score
    // P (Poisson): λ = (F+1)/(N+1) float
    val lambdaP = (2.0 + 1).toFloat / (6.0 + 1).toFloat
    val modelP = (tfn * log2(tfn / lambdaP) +
      (lambdaP + 1f / (12f * tfn) - tfn) * log2(math.E) +
      0.5 * log2(2 * math.Pi * tfn)).toFloat
    assert(run(DFR.ModelP) === modelP * aeL)
    // D (binomial divergence)
    val fD = 2.0 + 1 + tfn
    val phi = tfn / fD
    val dTerm = phi * log2(phi / (1.0 / 7)) + (1 - phi) * log2((1 - phi) / (1 - 1.0 / 7))
    val modelD = (dTerm * fD + 0.5 * log2(1 + 2 * math.Pi * tfn)).toFloat
    assert(run(DFR.ModelD) === modelD * aeL)
    // BE (Bose-Einstein limiting form)
    def fBE(n: Double, m: Double) = (m + 0.5) * log2(n / m) + (n - m) * log2(n)
    val fBe = 2.0 + 1 + tfn
    val nBe = fBe + 6
    val modelBE = (-log2((nBe - 1) * math.E) +
      fBE(nBe + fBe - 1, nBe + fBe - tfn - 2) - fBE(fBe, fBe - tfn)).toFloat
    assert(run(DFR.ModelBE) === modelBE * aeL)
    // Ine: ne = N·(1 − ((N−1)/N)^F)
    val ne = 6.0 * (1 - math.pow(5.0 / 6.0, 2))
    val modelIne = tfn * log2((6.0 + 1) / (ne + 0.5)).toFloat
    assert(run(DFR.ModelIne) === modelIne * aeL)
    // AfterEffectB: (F+1)/(n·(tfn+1)) over F = ttf+1, n = df+1
    val modelIn = tfn * log2((6.0 + 1) / (1.0 + 0.5)).toFloat
    val aeB = (2.0 + 2).toFloat / ((1.0 + 1).toFloat * (tfn + 1f))
    assert(run(DFR.ModelIn, ae = DFR.AfterEffectB) === modelIn * aeB)
    // NoAfterEffect
    assert(run(DFR.ModelIn, ae = DFR.NoAfterEffect) === modelIn)
    // H3 (Dirichlet prior, mu=800): mixes the collection model in
    val tfnH3 = (2f + 800f * ((2f + 1f) / (7f + 1f))) / (dl + 800f) * 800f
    val inH3 = tfnH3 * log2((6.0 + 1) / (1.0 + 0.5)).toFloat
    assert(run(DFR.ModelIn, n = DFR.NormalizationH3()) === inH3 * (1f / (tfnH3 + 1f)))
    // Z (Pareto-Zipf, z=0.30)
    val r = avgdl / dl
    val tfnZ = (2f * math.pow(r, 0.30f)).toFloat
    val inZ = tfnZ * log2((6.0 + 1) / (1.0 + 0.5)).toFloat
    assert(run(DFR.ModelIn, n = DFR.NormalizationZ()) === inZ * (1f / (tfnZ + 1f)))
    // NoNormalization: tfn = tf
    val inNo = 2f * log2((6.0 + 1) / (1.0 + 0.5)).toFloat
    assert(run(DFR.ModelIn, n = DFR.NoNormalization) === inNo * (1f / (2f + 1f)))
  }

  test("IB LambdaTTF variant and MultiSimilarity sum") {
    def log2(x: Double) = math.log(x) / math.log(2)
    val dl = BM25.NormTable(BM25.encodeNorm(2) & 0xff)
    val tfn = (2f * log2(1 + avgdl / dl)).toFloat
    // LambdaTTF: λ = (ttf+1)/(N+1) = 3/7 for 'dogs'
    val ll = searcher.searchWith(new IBLLSimilarity(avgdl, useTtfLambda = true),
      TermQ("dogs"), 10)
    val lamT = (2L + 1f) / (6L + 1f)
    assert(ll(0).score === (-math.log(lamT / (tfn + lamT))).toFloat)
    // MultiSimilarity: per-hit score = SUM over sub-scorers
    val bm25 = new BM25Similarity(avgdl)
    val dfr = new DFRSimilarity(DFR.ModelIn, DFR.AfterEffectL, DFR.NormalizationH2(), avgdl)
    val multi = searcher.searchWith(new MultiSimilarity(Seq(bm25, dfr)),
      TermQ("dogs"), 10)
    val sBm = searcher.searchWith(bm25, TermQ("dogs"), 10)(0).score
    val sDfr = searcher.searchWith(dfr, TermQ("dogs"), 10)(0).score
    assert(multi(0).score === sBm + sDfr)
  }

  test("SweetSpot: plateau length norm + baseline/hyperbolic tf closed forms") {
    // defaults (lnMin=lnMax=1, tfBase=tfMin=0) degenerate to
    // DefaultSimilarity exactly — same golden as TfIdfSimilarity
    val degenerate = searcher.searchWith(new SweetSpotSimilarity(), TermQ("all"), 10)
    assert(degenerate(0).score === 1.6931472f)

    val sim = new SweetSpotSimilarity(lnMin = 2, lnMax = 4, lnSteep = 0.5f,
      tfBase = 1.5f, tfMin = 5f)
    // ComputeLengthNorm closed form (SweetSpotSimilarity.cs:128-136):
    // inside the plateau it is exactly 1
    for (l <- 2 to 4) assert(sim.computeLengthNorm(l) === 1.0f)
    assert(sim.computeLengthNorm(1) ===
      (1.0f / math.sqrt(0.5f * ((1 + 3) - 2).toFloat + 1.0f)).toFloat)
    assert(sim.computeLengthNorm(10) ===
      (1.0f / math.sqrt(0.5f * ((8 + 6) - 2).toFloat + 1.0f)).toFloat)
    // BaselineTf: floor below tfMin, shifted sqrt above
    assert(sim.baselineTf(0f) === 0f)
    assert(sim.baselineTf(3f) === 1.5f)
    assert(sim.baselineTf(9f) === math.sqrt(9f + 2.25f - 5f).toFloat)
    // HyperbolicTf: midpoint at xoffset, saturates to [min, max]
    val hyper = new SweetSpotSimilarity(useHyperbolicTf = true)
    assert(hyper.hyperbolicTf(10f) === 1.0f) // x = 0 → min + (max-min)/2
    assert(math.abs(hyper.hyperbolicTf(100f) - 2f) < 1e-4f)
    // end-to-end on the fixture: doc0 ("all", tf=1, dl=1) — tf floor
    // applies (1 <= tfMin) and dl=1 sits BELOW the [2,4] plateau
    val hits = searcher.searchWith(sim, TermQ("all"), 10)
    val idf = TfIdf.idf(2, 6)
    assert(hits(0).score === 1.5f * idf * sim.computeLengthNorm(1))
  }
}
