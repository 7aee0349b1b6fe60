package graft.search

import graft.bm25.{BM25, TfIdf}
import graft.build.TermDictRow

/** Pluggable per-query scoring contract (reference:
  * Search/Similarities/Similarity.cs — a Similarity turns collection +
  * term statistics into per-clause weights, then per-(doc,clause) scores,
  * plus the boolean combination factors coord and queryNorm).
  *
  * A similarity is a parameter of [[Searcher]]'s one scoring pipeline,
  * as it is of the reference's CreateNormalizedWeight → GetScorer:
  * [[FlatScorer]] and the Dataset scorer tree both take it, and
  * [[Searcher.search]] without one uses the index's BM25. Scoring:
  *
  *   1. weights are created from ALL query clauses jointly (TF-IDF's
  *      queryNorm couples them: 1/sqrt(Σ (idfSum·boost)²)); unindexed
  *      terms still participate with df=0, like the reference's
  *      TermWeight over empty TermStatistics;
  *   2. each matching (doc, clause) scores independently — a clause is
  *      one term (TermQ) or a term sequence (PhraseQ, scored on its
  *      phrase freq);
  *   3. clause scores sum in clause order, times coord(matched, total).
  *
  * Block-max WAND skips a block only under a similarity that bounds its
  * scores ([[SimilarityLike.blockMaxScore]]): BM25 does, every other
  * family scores each posting.
  *
  * A clause weight is an opaque `Array[Float]` whose layout each
  * similarity defines for itself (a single normalized value for
  * BM25/TF-IDF; boost + per-term parameters for the SimilarityBase
  * families, whose phrase scoring is the reference's MultiSimScorer sum
  * of per-term scores at the shared phrase freq).
  */
trait SimilarityLike extends Serializable {
  /** One weight vector per clause, aligned index-for-index with
    * `clauses` — duplicate clauses each get their own weight, exactly
    * like the reference's independent per-BooleanClause Weights. */
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]]
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float
  /** coord(matched, total) — 1 for BM25, matched/total for TF-IDF
    * (reference: Similarity.cs:122-143 vs TFIDFSimilarity.Coord). */
  def coord(matched: Int, total: Int): Float
  /** An upper bound of `score(tf, norm, w)` over a posting block whose
    * largest tf is `maxTf` and whose largest norm byte is `maxNorm`, for
    * block-max WAND. +∞, the default, skips no block. A finite bound
    * presumes coord ≤ 1. */
  def blockMaxScore(maxTf: Int, maxNorm: Int, w: Array[Float]): Float =
    Float.PositiveInfinity
  /** Whether [[Searcher]] scores any query tree under this similarity.
    * Only one whose weights couple no clauses and whose coord is 1 may
    * say so, since nesting then changes no score. The default, false,
    * limits it to a term, a phrase, or a bool of those with
    * minShouldMatch ≤ 1 and no mustNot. */
  def scoresAnyTree: Boolean = false

  protected final def dfOf(stats: Map[String, TermDictRow], t: String): Long =
    stats.get(t).map(_.df).getOrElse(0L)
  protected final def ttfOf(stats: Map[String, TermDictRow], t: String): Long =
    stats.get(t).map(_.totalTf).getOrElse(0L)
}

/** BM25 (k1=1.2, b=0.75): queryNorm = coord = 1; a phrase clause's
  * weight is weightValue(Σ idf) (BM25Similarity.cs:210-225).
  * Layout: w = [weightValue]. */
final class BM25Similarity(avgdl: Float) extends SimilarityLike {
  private[search] val cache = BM25.normCache(avgdl)
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] =
    clauses.map { case (ts, boost) =>
      Array(BM25.weightValue(ts.map(t => BM25.idf(dfOf(stats, t), maxDoc)).sum, boost))
    }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float =
    BM25.score(tf, normByte, w(0), cache)
  def coord(matched: Int, total: Int): Float = 1f
  /** [[BM25.blockMaxScore]] at the block's smallest cache entry; a
    * negative weight makes the score fall as tf rises, so it has no
    * bound there. */
  override def blockMaxScore(maxTf: Int, maxNorm: Int, w: Array[Float]): Float =
    if (w(0) < 0f) Float.PositiveInfinity
    else BM25.blockMaxScore(maxTf, cache(maxNorm & 0xff), w(0))
  override def scoresAnyTree: Boolean = true
}

/** Classic TF-IDF (DefaultSimilarity): shared queryNorm across clauses,
  * coord = matched/total; a phrase clause's idf is the float sum over its
  * terms (TFIDFSimilarity.IdfExplain over TermStatistics[]). Layout:
  * w = [normalized weight value]. */
final class TfIdfSimilarity extends SimilarityLike {
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] = {
    // sumOfSquaredWeights over ALL clauses in clause order (reference:
    // BooleanWeight.GetValueForNormalization) — unindexed terms included,
    // their TermWeight still carries idf(df=0) into queryNorm
    var ssw = 0f
    val qw = clauses.map { case (ts, boost) =>
      var idfSum = 0f
      ts.foreach(t => idfSum += TfIdf.idf(dfOf(stats, t), maxDoc))
      val w = idfSum * boost
      ssw += w * w
      (idfSum, w)
    }
    val qn = TfIdf.queryNorm(ssw)
    qw.map { case (idfSum, w) => Array(w * qn * idfSum) }
  }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float =
    TfIdf.score(tf, normByte, w(0))
  def coord(matched: Int, total: Int): Float = matched.toFloat / total
}

/** Query-likelihood with Dirichlet smoothing (reference:
  * Search/Similarities/LMDirichletSimilarity.cs, default mu = 2000):
  *
  *   score = Σ_terms max(0, boost·(log(1 + tf/(mu·p(t|C))) + log(mu/(dl + mu))))
  *
  * p(t|C) = (totalTermFreq+1)/(sumTotalTermFreq+1), the reference's
  * DefaultCollectionModel (LMSimilarity.cs:174-177 — add-one smoothed,
  * float division); dl decodes from the shared lossy norm byte. Multi-term
  * clauses sum per-term scores at the shared freq (MultiSimScorer).
  * Layout: w = [boost, mu·p(t1|C), mu·p(t2|C), …]. */
final class LMDirichletSimilarity(mu: Float = 2000f) extends SimilarityLike {
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] =
    clauses.map { case (ts, boost) =>
      (boost +: ts.map(t =>
        mu * ((ttfOf(stats, t) + 1f) / (sumTotalTermFreq + 1f)))).toArray
    }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float = {
    val dl = BM25.docLen(normByte)
    val boost = w(0)
    var sum = 0f
    var i = 1
    while (i < w.length) {
      val s = boost *
        (math.log(1 + tf / w(i)) + math.log(mu / (dl + mu))).toFloat
      if (s > 0f) sum += s
      i += 1
    }
    sum
  }
  def coord(matched: Int, total: Int): Float = 1f
}

/** Query-likelihood with Jelinek-Mercer smoothing (reference:
  * Search/Similarities/LMJelinekMercerSimilarity.cs:60-63, default
  * lambda = 0.1 per the reference test matrix):
  *
  *   score = Σ_terms boost·log(1 + ((1-λ)·tf/dl) / (λ·p(t|C)))
  *
  * Layout: w = [boost, p(t1|C), p(t2|C), …]. */
final class LMJelinekMercerSimilarity(lambda: Float = 0.1f) extends SimilarityLike {
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] =
    clauses.map { case (ts, boost) =>
      (boost +: ts.map(t =>
        (ttfOf(stats, t) + 1f) / (sumTotalTermFreq + 1f))).toArray
    }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float = {
    val dl = BM25.docLen(normByte)
    val boost = w(0)
    var sum = 0f
    var i = 1
    while (i < w.length) {
      sum += boost *
        math.log(1 + ((1 - lambda) * tf / dl) / (lambda * w(i))).toFloat
      i += 1
    }
    sum
  }
  def coord(matched: Int, total: Int): Float = 1f
}

/** Information-based LL/D(f)/H2 model (reference: IBSimilarity.cs:117-120
  * with DistributionLL.cs:40-43 — score = -log(λ/(tfn+λ)) —
  * LambdaDF.cs:38-41 — λ = (df+1)/(N+1) — and the same H2 normalization
  * DFR uses, c = 1):
  *
  *   tfn   = tf · log2(1 + avgdl/dl)
  *   score = Σ_terms boost · (-log(λ / (tfn + λ)))
  *
  * Layout: w = [boost, λ(t1), λ(t2), …]. */
final class IBLLSimilarity(avgdl: Float, c: Float = 1f,
                           useTtfLambda: Boolean = false) extends SimilarityLike {
  private def log2(x: Double): Double = math.log(x) / math.log(2)
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] =
    clauses.map { case (ts, boost) =>
      // LambdaDF (df-based) or LambdaTTF (reference: LambdaTTF.cs —
      // λ = (ttf+1)/(N+1))
      (boost +: ts.map(t =>
        ((if (useTtfLambda) ttfOf(stats, t) else dfOf(stats, t)) + 1f) /
          (maxDoc + 1f))).toArray
    }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float = {
    val dl = BM25.docLen(normByte)
    val tfn = (tf * log2(1 + c * avgdl / dl)).toFloat
    val boost = w(0)
    var sum = 0f
    var i = 1
    while (i < w.length) {
      sum += boost * (-math.log(w(i) / (tfn + w(i)))).toFloat
      i += 1
    }
    sum
  }
  def coord(matched: Int, total: Int): Float = 1f
}

/** Information-based SPL/D(f)/H2 model (reference: IBSimilarity.cs:117-120
  * with DistributionSPL.cs:38-42 —
  * score = -log((λ^(tfn/(tfn+1)) - λ)/(1 - λ)) — LambdaDF.cs:38-41 —
  * λ = (df+1)/(N+1) — and the H2 normalization, c = 1):
  *
  *   tfn   = tf · log2(1 + avgdl/dl)
  *   score = Σ_terms boost · (-log((λ^(tfn/(tfn+1)) - λ)/(1 - λ)))
  *
  * Layout: w = [boost, λ(t1), λ(t2), …]. */
final class IBSPLSimilarity(avgdl: Float, c: Float = 1f,
                            useTtfLambda: Boolean = false) extends SimilarityLike {
  private def log2(x: Double): Double = math.log(x) / math.log(2)
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] =
    clauses.map { case (ts, boost) =>
      (boost +: ts.map(t =>
        ((if (useTtfLambda) ttfOf(stats, t) else dfOf(stats, t)) + 1f) /
          (maxDoc + 1f))).toArray
    }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float = {
    val dl = BM25.docLen(normByte)
    val tfn = (tf * log2(1 + c * avgdl / dl)).toFloat
    val boost = w(0)
    var sum = 0f
    var i = 1
    while (i < w.length) {
      // DistributionSPL.cs:43-46 — a ubiquitous term (df == maxDoc)
      // yields lambda == 1 and 0/0 = NaN without the reference's clamp
      val lambda = if (w(i) == 1f) 0.99f else w(i)
      sum += boost * (-math.log(
        (math.pow(lambda, tfn / (tfn + 1)) - lambda) / (1 - lambda))).toFloat
      i += 1
    }
    sum
  }
  def coord(matched: Int, total: Int): Float = 1f
}

/** Composable divergence-from-randomness framework (reference:
  * Search/Similarities/DFRSimilarity.cs:125-129 — score =
  * boost · basicModel(tfn) · afterEffect(tfn), with the basic model,
  * after-effect, and tf normalization each a pluggable strategy exactly
  * as the reference constructor takes them). Every model follows the
  * reference class's own op order and float casts, so a combination that
  * the old per-combination classes covered (In·L·H2, IF·L·H2, In·L·H1)
  * scores bit-identically to them. */
object DFR {
  private[search] def log2(x: Double): Double = math.log(x) / math.log(2)
  private val Log2E: Double = log2(math.E)

  /** −log2 Prob1(tfn) (reference: BasicModel.cs subclasses; df/ttf/N
    * arrive as exact small integers carried in doubles). */
  sealed trait BasicModel extends Serializable {
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float
  }

  /** Poisson approximation (BasicModelP.cs:42-48). */
  case object ModelP extends BasicModel {
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float = {
      val lambda = (ttf + 1).toFloat / (nDocs + 1).toFloat
      (tfn * log2(tfn / lambda) +
        (lambda + 1f / (12f * tfn) - tfn) * Log2E +
        0.5 * log2(2 * math.Pi * tfn)).toFloat
    }
  }

  /** Divergence approximation of the binomial (BasicModelD.cs:45-52). */
  case object ModelD extends BasicModel {
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float = {
      // tfn smoothed into F so the approximation stays finite (reference
      // comment: "tfn + 1" and "F + 1" keep the log arguments positive)
      val F = ttf + 1 + tfn
      val phi = tfn / F
      val nphi = 1 - phi
      val p = 1.0 / (nDocs + 1)
      val d = phi * log2(phi / p) + nphi * log2(nphi / (1 - p))
      (d * F + 0.5 * log2(1 + 2 * math.Pi * tfn)).toFloat
    }
  }

  /** Bose-Einstein, limiting form (BasicModelBE.cs:46-55; the reference
    * inflates N by F because the approximation needs F ≪ N). */
  case object ModelBE extends BasicModel {
    private def f(n: Double, m: Double): Double =
      (m + 0.5) * log2(n / m) + (n - m) * log2(n)
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float = {
      val F = ttf + 1 + tfn
      val n = F + nDocs
      (-log2((n - 1) * math.E) +
        f(n + F - 1, n + F - tfn - 2) - f(F, F - tfn)).toFloat
    }
  }

  /** Geometric (Bose-Einstein limit) (BasicModelG.cs:43-49). */
  case object ModelG extends BasicModel {
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float = {
      val F = ttf + 1
      val lambda = F / (nDocs + F)
      (log2(lambda + 1) + tfn * log2((1 + lambda) / lambda)).toFloat
    }
  }

  /** Inverse document frequency (BasicModelIn.cs:38-41). */
  case object ModelIn extends BasicModel {
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float =
      tfn * log2((nDocs + 1) / (df + 0.5)).toFloat
  }

  /** Inverse term frequency, approximation of I(ne)
    * (BasicModelIF.cs:38-41). */
  case object ModelIF extends BasicModel {
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float =
      tfn * log2(1 + (nDocs + 1) / (ttf + 0.5)).toFloat
  }

  /** Inverse expected document frequency (BasicModelIne.cs:38-43):
    * ne = N·(1 − ((N−1)/N)^F). */
  case object ModelIne extends BasicModel {
    def score(nDocs: Double, df: Double, ttf: Double, tfn: Float): Float = {
      val ne = nDocs * (1 - math.pow((nDocs - 1) / nDocs, ttf))
      tfn * log2((nDocs + 1) / (ne + 0.5)).toFloat
    }
  }

  /** First normalization: information-gain factor (AfterEffect.cs). */
  sealed trait AfterEffect extends Serializable {
    def score(df: Double, ttf: Double, tfn: Float): Float
  }

  /** Laplace law of succession (AfterEffectL.cs:36-39). */
  case object AfterEffectL extends AfterEffect {
    def score(df: Double, ttf: Double, tfn: Float): Float = 1f / (tfn + 1f)
  }

  /** Ratio of two Bernoulli processes (AfterEffectB.cs:38-43:
    * (F+1)/(n·(tfn+1)) over the +1-smoothed F = ttf+1, n = df+1). */
  case object AfterEffectB extends AfterEffect {
    def score(df: Double, ttf: Double, tfn: Float): Float =
      (ttf + 2).toFloat / ((df + 1).toFloat * (tfn + 1f))
  }

  /** No first normalization (AfterEffect.NoAfterEffect). */
  case object NoAfterEffect extends AfterEffect {
    def score(df: Double, ttf: Double, tfn: Float): Float = 1f
  }

  /** Second (length) normalization: tf → tfn (Normalization.cs). */
  sealed trait Normalization extends Serializable {
    def tfn(tf: Float, dl: Float, ttf: Double, sumTtf: Double, avgdl: Float): Float
  }

  /** Uniform distribution of frequency (NormalizationH1.cs:56-59).
    * NOTE: the reference stores `c` but never uses it — Tfn is
    * `tf * avgFieldLength / len`, c-invariant; the parameter is kept
    * for constructor parity only, and the float op ORDER matches the
    * reference exactly (multiply first, then divide). */
  final case class NormalizationH1(c: Float = 1f) extends Normalization {
    def tfn(tf: Float, dl: Float, ttf: Double, sumTtf: Double, avgdl: Float): Float =
      tf * avgdl / dl
  }

  /** Logarithmic density decay (NormalizationH2.cs:56-59). */
  final case class NormalizationH2(c: Float = 1f) extends Normalization {
    def tfn(tf: Float, dl: Float, ttf: Double, sumTtf: Double, avgdl: Float): Float =
      (tf * DFR.log2(1 + c * avgdl / dl)).toFloat
  }

  /** Dirichlet-prior normalization (NormalizationH3.cs:45-48, default
    * mu = 800; mixes the collection model (ttf+1)/(sumTtf+1) in). */
  final case class NormalizationH3(mu: Float = 800f) extends Normalization {
    def tfn(tf: Float, dl: Float, ttf: Double, sumTtf: Double, avgdl: Float): Float =
      (tf + mu * ((ttf.toFloat + 1f) / (sumTtf.toFloat + 1f))) / (dl + mu) * mu
  }

  /** Pareto-Zipf normalization (NormalizationZ.cs:46-49, default
    * z = 0.30). */
  final case class NormalizationZ(z: Float = 0.30f) extends Normalization {
    def tfn(tf: Float, dl: Float, ttf: Double, sumTtf: Double, avgdl: Float): Float = {
      val r = avgdl / dl
      (tf * math.pow(r, z)).toFloat
    }
  }

  /** No length normalization (Normalization.NoNormalization). */
  case object NoNormalization extends Normalization {
    def tfn(tf: Float, dl: Float, ttf: Double, sumTtf: Double, avgdl: Float): Float = tf
  }
}

/** DFR similarity over any (basicModel, afterEffect, normalization)
  * combination (reference: DFRSimilarity.cs:125-129 — Score =
  * TotalBoost · BasicModel.Score · AfterEffect.Score at
  * tfn = Normalization.Tfn). Per-term stats ride the weight vector so
  * BE/D (which need raw F at score time), AfterEffectB (raw df) and H3
  * (collection model) all compose. Layout:
  * w = [boost, N, sumTtf, df1, ttf1, df2, ttf2, …] — exact for stats
  * < 2²⁴ (the float mantissa); past that the formulas are already
  * double-rounded in the reference, so the drift is ulp-class. */
final class DFRSimilarity(model: DFR.BasicModel, afterEffect: DFR.AfterEffect,
    normalization: DFR.Normalization, avgdl: Float) extends SimilarityLike {
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] =
    clauses.map { case (ts, boost) =>
      (Seq(boost, maxDoc.toFloat, sumTotalTermFreq.toFloat) ++
        ts.flatMap(t => Seq(dfOf(stats, t).toFloat, ttfOf(stats, t).toFloat))).toArray
    }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float = {
    val dl = BM25.docLen(normByte)
    val boost = w(0)
    val nDocs = w(1).toDouble
    val sumTtf = w(2).toDouble
    var sum = 0f
    var i = 3
    while (i < w.length) {
      val df = w(i).toDouble
      val ttf = w(i + 1).toDouble
      val tfn = normalization.tfn(tf, dl, ttf, sumTtf, avgdl)
      sum += boost * model.score(nDocs, df, ttf, tfn) *
        afterEffect.score(df, ttf, tfn)
      i += 2
    }
    sum
  }
  def coord(matched: Int, total: Int): Float = 1f
}

/** Average-of-similarities wrapper (reference: MultiSimilarity.cs —
  * per-hit score is the SUM over the sub-scorers, MultiSimilarity.cs
  * MultiSimScorer.Score). Weight layout concatenates each sub-sim's
  * clause weight behind its length: w = [len1, w1…, len2, w2…]. */
final class MultiSimilarity(sims: Seq[SimilarityLike]) extends SimilarityLike {
  require(sims.nonEmpty, "no sub-similarities")
  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] = {
    val per = sims.map(_.clauseWeights(clauses, stats, maxDoc, sumTotalTermFreq))
    clauses.indices.map { ci =>
      per.flatMap(ws => ws(ci).length.toFloat +: ws(ci).toSeq).toArray
    }
  }
  def score(tf: Float, normByte: Byte, w: Array[Float]): Float = {
    var sum = 0f
    var i = 0
    var s = 0
    while (s < sims.length) {
      val len = w(i).toInt
      sum += sims(s).score(tf, normByte,
        java.util.Arrays.copyOfRange(w, i + 1, i + 1 + len))
      i += 1 + len
      s += 1
    }
    sum
  }
  def coord(matched: Int, total: Int): Float = sims.head.coord(matched, total)
}

/** Per-field similarity routing (reference:
  * Search/Similarities/PerFieldSimilarityWrapper.cs): each clause scores
  * under the similarity of ITS field — keyword clauses carry their field
  * as the `"field:value"` term prefix, content clauses have none. Clause
  * weights delegate clause-by-clause (each inner similarity sees a
  * singleton clause list, so cross-clause couplings like TF-IDF's
  * queryNorm stay within a field — the wrapper contract: coord/queryNorm
  * come from the wrapper, per-clause scoring from the field similarity).
  * Weight layout: w = [simIndex, …inner weight…]. */
final class PerFieldSimilarity(default: SimilarityLike,
    byField: Map[String, SimilarityLike]) extends SimilarityLike {
  private val sims: IndexedSeq[SimilarityLike] =
    (default +: byField.values.toSeq).distinct.toIndexedSeq

  private def fieldOf(terms: Seq[String]): String = {
    val t = terms.head
    val i = t.indexOf(':')
    if (i > 0) t.substring(0, i) else ""
  }

  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] =
    clauses.map { c =>
      val sim = byField.getOrElse(fieldOf(c._1), default)
      val inner = sim.clauseWeights(Seq(c), stats, maxDoc, sumTotalTermFreq).head
      sims.indexOf(sim).toFloat +: inner
    }

  def score(tf: Float, normByte: Byte, w: Array[Float]): Float =
    sims(w(0).toInt).score(tf, normByte,
      java.util.Arrays.copyOfRange(w, 1, w.length))

  def coord(matched: Int, total: Int): Float = default.coord(matched, total)
}


/** Sweet-spot TF-IDF variant (reference:
  * Lucene.Net.Misc/Misc/SweetSpotSimilarity.cs): DefaultSimilarity with a
  * plateau length norm — flat (= 1) for doc lengths inside
  * [lnMin, lnMax], falling off as 1/sqrt(steep·(|l−min|+|l−max|−(max−min))+1)
  * outside — and a baseline tf with a floor: freq ≤ tfMin scores tfBase,
  * above it sqrt(freq + tfBase² − tfMin); the hyperbolic tf alternative
  * (SweetSpotSimilarity.cs HyperbolicTf) is selectable. The reference
  * bakes ComputeLengthNorm into the norm byte at index time; this index's
  * shared norm byte stores byte315(1/sqrt(len)), so doc length is
  * recovered from the byte (BM25.docLen — the same lossy class as the
  * reference's encode) and the sweet-spot norm is applied at score time.
  * Weight pipeline (queryNorm/idf/coord) is DefaultSimilarity's. */
final class SweetSpotSimilarity(
    lnMin: Int = 1, lnMax: Int = 1, lnSteep: Float = 0.5f,
    tfBase: Float = 0f, tfMin: Float = 0f,
    useHyperbolicTf: Boolean = false,
    tfHyperMin: Float = 0f, tfHyperMax: Float = 2f,
    tfHyperBase: Double = 1.3d, tfHyperXoffset: Float = 10f)
    extends SimilarityLike {

  def clauseWeights(clauses: Seq[(Seq[String], Float)],
                    stats: Map[String, TermDictRow],
                    maxDoc: Long, sumTotalTermFreq: Long): Seq[Array[Float]] = {
    var ssw = 0f
    val qw = clauses.map { case (ts, boost) =>
      var idfSum = 0f
      ts.foreach(t => idfSum += TfIdf.idf(dfOf(stats, t), maxDoc))
      val w = idfSum * boost
      ssw += w * w
      (idfSum, w)
    }
    val qn = TfIdf.queryNorm(ssw)
    qw.map { case (idfSum, w) => Array(w * qn * idfSum) }
  }

  /** BaselineTf (SweetSpotSimilarity.cs:146-158). */
  def baselineTf(freq: Float): Float =
    if (freq == 0f) 0f
    else if (freq <= tfMin) tfBase
    else math.sqrt(freq + tfBase * tfBase - tfMin).toFloat

  /** HyperbolicTf (SweetSpotSimilarity.cs:167-183). */
  def hyperbolicTf(freq: Float): Float = {
    if (freq == 0f) return 0f
    val x = (freq - tfHyperXoffset).toDouble
    val r = tfHyperMin + ((tfHyperMax - tfHyperMin) / 2.0f *
      (((math.pow(tfHyperBase, x) - math.pow(tfHyperBase, -x)) /
        (math.pow(tfHyperBase, x) + math.pow(tfHyperBase, -x))) + 1.0d)).toFloat
    if (r.isNaN) tfHyperMax else r
  }

  /** ComputeLengthNorm (SweetSpotSimilarity.cs:128-136). */
  def computeLengthNorm(numTerms: Int): Float =
    (1.0f / math.sqrt(
      lnSteep * (math.abs(numTerms - lnMin) + math.abs(numTerms - lnMax) -
        (lnMax - lnMin)).toFloat + 1.0f)).toFloat

  def score(tf: Float, normByte: Byte, w: Array[Float]): Float = {
    val t = if (useHyperbolicTf) hyperbolicTf(tf) else baselineTf(tf)
    val ln =
      if ((normByte & 0xff) == BM25.OmitNormsByte) 1f
      else computeLengthNorm(math.round(BM25.docLen(normByte)))
    t * w(0) * ln
  }

  def coord(matched: Int, total: Int): Float = matched.toFloat / total
}
