package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`embeddings` table:
  * `vec_id: long, embedding: array<float>, label: int`).
  *
  * All vector math stays inside Catalyst expressions (`aggregate` /
  * `element_at` lambdas — whole-stage-codegen'd, no UDF, no explode of the
  * dimension axis), so a 10^9-vector brute-force scan is one map-shaped
  * stage: broadcast the query vector, score, bounded top-k.
  *
  * The scale path is sign-LSH bucketing (Charikar hyperplane LSH):
  * vectors are pre-bucketed by the sign pattern of `NumPlanes` fixed
  * pseudo-hyperplanes; a query probes only its own bucket — the same
  * dictionary-prune idea the inverted index uses for terms. Hyperplane
  * coefficients are a fixed deterministic ±1 pattern so an independent
  * engine reproduces bucket assignment exactly.
  */
object Similarity {

  val Dims = 64
  val NumPlanes = 8

  /** Double-precision dot product of two [[Dims]]-length array columns —
    * UNROLLED into a plain arithmetic expression tree (64 multiply-adds)
    * so it runs inside whole-stage codegen. The tempting
    * `aggregate(zip_with(...))` form is evaluated by the INTERPRETER per
    * row (Spark higher-order functions never enter codegen); at the sf1
    * gate that overhead alone burned ~36 CPU-minutes per task in the
    * bucket pair joins. Same summation order as the old HOF form
    * (ascending element index, left fold), so values are IEEE-identical
    * and every DuckDB oracle is unchanged. Contract: both arrays are
    * exactly [[Dims]] long (the embeddings table shape); a non-null
    * array of another size raises an error instead of a NULL or
    * truncated score. */
  def dot(a: Column, b: Column): Column =
    dimsChecked(Seq(a, b), (1 to Dims).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _))

  def l2norm(a: Column): Column =
    dimsChecked(Seq(a), sqrt((1 to Dims).map { i =>
      val v = element_at(a, i).cast("double"); v * v
    }.reduce(_ + _)))

  /** `value`, after asserting every non-null vector in `vs` has [[Dims]]
    * elements (`assert_true` is NULL when it holds, and throws otherwise). */
  private def dimsChecked(vs: Seq[Column], value: Column): Column =
    coalesce(assert_true(vs.map(v => v.isNull || size(v) === Dims).reduce(_ && _),
      lit(s"embedding must have $Dims elements")).cast("double"), value)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic ±1 hyperplane coefficient for (plane b, 1-based dim i):
    * +1 iff ((i*37 + b*89) mod 103) mod 2 == 0. Public fixture —
    * reproducible in plain SQL by any engine. The previous
    * `(i*37 + b*61) mod 5 < 2` form was FULL-RANK-DEFICIENT in b:
    * 61 ≡ 1 (mod 5), so planes b and b+5 had IDENTICAL coefficients —
    * only 5 distinct hyperplanes existed no matter how many were
    * requested, capping the bucket space at 2^5 = 32 forever (the sf1
    * gate measured 32 occupied buckets with a 15,630-vector hot bucket
    * and a 2.45-billion-row pair space). mod 103 (odd prime, coprime to
    * the strides) gives pairwise-distinct, ~unbiased patterns for the
    * whole b < 32 family (mod 97 left two chance collisions):
    * the same 200k vectors spread over 8,229 buckets at 16 planes. */
  def planeSign(b: Int, i: Column): Column =
    when((i * 37 + lit(b * 89)) % 103 % 2 === 0, lit(1.0)).otherwise(lit(-1.0))

  /** Sign-LSH bucket id (0..2^NumPlanes-1) of an embedding column. The
    * per-plane projections stay in the compact aggregate/zip_with form
    * ON PURPOSE: unrolling nPlanes × Dims multiply-adds into one
    * expression overflows Janino's method limit inside whole-stage
    * codegen (where expression splitting is disabled) and the WHOLE
    * stage silently degrades to interpreted execution — worse than the
    * HOF interpreter loop. Bucketing is O(N·planes·d) map work run once
    * per corpus; the pair-JOIN hot path is where the unrolled [[dot]]
    * matters and fits codegen. */
  def lshBucket(v: Column, nPlanes: Int = NumPlanes): Column = {
    val bits = (0 until nPlanes).map { b =>
      val d = aggregate(zip_with(v, sequence(lit(1), lit(Dims)),
        (x, i) => x.cast("double") * planeSign(b, i)),
        lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Brute-force cosine top-k against a literal query vector: one scan,
    * no shuffle before the final `TakeOrderedAndProject`. */
  def bruteForceTopK(vecs: DataFrame, query: Seq[Float], k: Int): DataFrame = {
    val q = typedLit(query.map(_.toDouble))
    vecs.select(col("vec_id"), cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** LSH-bucketed top-k: prune the scan to the query's bucket, then score.
    * At scale the bucket column is a partition/bucketing key of the stored
    * table, so the scan prunes at the source (partition pruning), not as a
    * post-filter. */
  def lshTopK(vecs: DataFrame, query: Seq[Float], k: Int): DataFrame = {
    val q = typedLit(query.map(_.toDouble))
    val qBucket = lshBucket(q)
    vecs.select(col("vec_id"), col("embedding"), lshBucket(col("embedding")).as("bucket"))
      .where(col("bucket") === qBucket)
      .select(col("vec_id"), cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs scored by
    * cosine, top pairs returned.
    *
    * Physical shape: the vector set is broadcast as a primitive matrix
    * and each task scores the pair-block of its own id range with tight
    * double loops — higher-order-function lambdas (`aggregate`) are not
    * whole-stage-codegen'd in Spark, so at n^2 pairs the interpreted
    * overhead dominates; the broadcast-block loop is ~20× faster and
    * keeps the identical summation order (ascending dim index) for
    * oracle parity. All-pairs is verification-scale; at corpus scale
    * compose with [[lshBucket]] (join on bucket equality) to keep the
    * candidate set near-linear, exactly like Dedup.candidatePairs. */
  def cosinePairs(vecs: DataFrame, topN: Int, numBlocks: Int = 8,
                  maxRowsPerBlock: Int = 1 << 16): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // block-pair decomposition: B blocks → B*(B+1)/2 block-pair tasks,
    // each scoring its tile with tight primitive loops. No driver
    // materialization; tile size bounds executor memory. A block is one
    // Dataset row, so oversized inputs would hit the 2 GB row ceiling —
    // fail fast with direction instead (this op is verification-scale by
    // contract; the corpus-scale path is the LSH-bucketed join).
    val cap = maxRowsPerBlock
    val blocks = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => (id % numBlocks).toInt }
      .mapGroups { (bid, it) =>
        val arr = it.toArray.sortBy(_._1)
        require(arr.length <= cap,
          s"cosinePairs block $bid holds ${arr.length} vectors (> $cap): " +
            "all-pairs is verification-scale — raise numBlocks or use the " +
            "sign-LSH bucketed path (Similarity.lshBucket) at corpus scale")
        (bid, arr)
      }
    val bdf = blocks.toDF("bid", "rows")
    val tiles = bdf.as("x").join(bdf.as("y"), col("x.bid") <= col("y.bid"))
      .select(col("x.bid"), col("x.rows"), col("y.bid"), col("y.rows"))
      .toDF("_1", "_2", "_3", "_4")
      .as[(Int, Array[(Long, Array[Float])], Int, Array[(Long, Array[Float])])]
    tiles.flatMap { case (bidA, rowsA, bidB, rowsB) =>
      def nrm(v: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      val nrmB = rowsB.map(r => nrm(r._2))
      val diagonal = bidA == bidB
      rowsA.iterator.flatMap { case (ida, va) =>
        val na = nrm(va)
        rowsB.indices.iterator
          // diagonal tile: upper triangle only; cross tile: every (A,B)
          // combination is one distinct unordered pair — keep all,
          // normalized to (min, max) below
          .filter(j => !diagonal || ida < rowsB(j)._1)
          .map { j =>
            val idb = rowsB(j)._1
            val vb = rowsB(j)._2
            var dot = 0.0; var i = 0
            while (i < va.length) { dot += va(i).toDouble * vb(i).toDouble; i += 1 }
            (math.min(ida, idb), math.max(ida, idb), dot / (na * nrmB(j)))
          }
      }
    }.toDF("a", "b", "c")
      .select(col("a"), col("b"), round(col("c"), 6).as("cos"))
      .orderBy(col("cos").desc, col("a"), col("b")).limit(topN)
  }

  // ------------------------------------------------------------- IVF

  /** IVF coarse quantizer: centroids = per-`label` mean vectors (a stand-in
    * "trained" codebook — with real data this is k-means; the assign/probe
    * plumbing is identical). Returns (label, centroid) with the centroid as
    * a dense double array. Elementwise mean via posexplode + groupBy — one
    * shuffle over n·d rows, fine for codebook-sized k. */
  def ivfCentroids(vecs: DataFrame): DataFrame =
    vecs.select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("s"))
      .select(col("label"), expr("transform(s, e -> e.m)").as("centroid"))

  /** Assign every vector to its nearest centroid (L2) with the codebook
    * inlined as literal vectors: one map-only codegen'd projection —
    * per-cell squared distances, `least` for the min, a first-match
    * `when` chain (ascending cell id — the deterministic tie-break) for
    * the argmin. No crossJoin, no per-vector window, no shuffle: the plan
    * you'd run at 10^9 vectors. */
  def ivfAssign(vecs: DataFrame, codebook: Seq[(Int, Array[Double])]): DataFrame = {
    require(codebook.nonEmpty, "empty codebook")
    val d2s = codebook.sortBy(_._1).map { case (cell, cent) =>
      // compact HOF distance (centroid inlined as a literal array): at
      // production k, unrolling k × d subtract-squares overflows the
      // whole-stage method limit (no expression splitting inside WSCG)
      // and the stage falls back to interpreted anyway — the HOF form is
      // the smaller interpreted program. Assignment is O(N·k·d) map
      // work; the argmin below is what must avoid re-inlining it.
      val c = typedLit(cent.toSeq)
      cell -> aggregate(
        zip_with(col("embedding"), c,
          (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
        lit(0.0), (acc, v) => acc + v)
    }
    // array-based argmin: each per-cell distance expression appears
    // EXACTLY ONCE (CreateArray codegen splits elements into sub-methods)
    // — the least(...) + per-cell when-chain form re-inlined every
    // distance k+2 times and overflowed Janino's method limit at k=4,
    // silently degrading the whole stage to interpreted execution.
    // array_position's first-match is the same ascending-cell tie-break
    // the when-chain had; cell ids are dense 0..k-1 after sortBy.
    val cellIds = d2s.map(_._1)
    require(cellIds == cellIds.indices.toSeq,
      s"cells must be dense 0..k-1, got $cellIds")
    val dArr = array(d2s.map(_._2): _*)
    // the distances appear ONCE, in an array (CreateArray codegen splits
    // its elements across methods); the argmin is array_min +
    // array_position over the materialized COLUMN — first match =
    // ascending-cell tie-break, exactly the old when-chain's. The former
    // least(...) + per-cell when-chain re-inlined every distance k+2
    // times: at k=4 it overflowed Janino's method limit (silent
    // interpreted fallback), at k≈45 the expression tree OOM'd the
    // driver outright.
    vecs.select(col("vec_id"), col("embedding"), dArr.as("_d2s"))
      .select(col("vec_id"), col("embedding"),
        (array_position(col("_d2s"), array_min(col("_d2s"))) - 1)
          .cast("int").as("cell"),
        array_min(col("_d2s")).as("d2"))
  }

  /** Lloyd's k-means codebook trainer — the real trainer behind the IVF
    * coarse quantizer ([[ivfCentroids]]'s label stand-in): deterministic
    * seeds (the k lowest vec_ids), then `iters` rounds of
    *   assign  — [[ivfAssign]], a map-only codegen'd projection with the
    *             codebook inlined as literals (no crossJoin, no window);
    *   update  — element-wise member mean via posexplode + groupBy, one
    *             n·d-row combinable shuffle.
    * Centroids sync through the driver between rounds (k·d doubles — the
    * standard distributed-k-means shape; the data never leaves the
    * cluster). A cell that loses all members keeps its previous centroid.
    * Besides IVF training this is the "semantic cluster the corpus"
    * curation op: cluster ids feed mixture sampling / dedup-within-topic. */
  def kmeansCodebook(vecs: DataFrame, k: Int, iters: Int): Seq[(Int, Array[Double])] = {
    require(k > 0 && iters >= 0, "k > 0, iters >= 0")
    var cents: Seq[(Int, Array[Double])] = vecs.where(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"),
        expr("transform(embedding, x -> cast(x as double))").as("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toSeq.sortBy(_._1)
    require(cents.length == k, s"need vec_ids 0..${k - 1} as seeds")
    // each round re-reads the vectors: persist for the training window,
    // unpersist deterministically on every exit path (no cache leak)
    val cached = if (iters > 0) vecs.persist() else vecs
    try {
      for (_ <- 0 until iters) {
        val means = ivfAssign(cached, cents)
          .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy(col("cell"), col("i"))
          .agg(avg(col("x").cast("double")).as("m"))
          .groupBy(col("cell"))
          .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("s"))
          .select(col("cell"), expr("transform(s, e -> e.m)").as("centroid"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        cents = cents.map { case (c, old) => c -> means.getOrElse(c, old) }
      }
      cents
    } finally if (iters > 0) { cached.unpersist(); () }
  }

  /** Collect the (tiny) codebook once. */
  def ivfCodebook(vecs: DataFrame): Seq[(Int, Array[Double])] =
    ivfCentroids(vecs).collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Double](1).toArray).toSeq

  /** IVF top-k: probe only the query's nearest `nProbe` cells. The
    * codebook is computed ONCE and inlined; at corpus scale `cell` is the
    * table's partition key → partition-pruned scan. */
  def ivfTopK(vecs: DataFrame, query: Seq[Float], k: Int, nProbe: Int = 2): DataFrame = {
    val cents = ivfCodebook(vecs)
    val qd = query.map(_.toDouble).toArray
    val probed = cents.sortBy { case (_, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { val d = qd(i) - c(i); s += d * d; i += 1 }
      s
    }.take(nProbe).map(_._1)
    val assigned = ivfAssign(vecs, cents)
    assigned.where(col("cell").isInCollection(probed))
      .select(col("vec_id"), col("cell"),
        round(cosine(col("embedding"), typedLit(query.map(_.toDouble))), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  // ------------------------------------------- int8 scalar quantization

  /** Int8 scalar quantization of an embedding column: per-vector scale
    * s = max|v_i| / 127, code q_i = floor(v_i/s + 0.5) ∈ [−127, 127]
    * (half-up via floor so every IEEE-double engine reproduces the codes
    * bit-for-bit — no round-half-even ambiguity). 4× smaller vectors and
    * integer dot products: the standard memory-bound ANN trade (the
    * faiss SQ8 idea) — at 10^9×1536 dims the fp32 matrix is 6 TB, the
    * int8 one 1.5 TB, and scan throughput is what brute-force ANN buys
    * with it. Returns (vec_id, scale, q). */
  def quantizeInt8(vecs: DataFrame): DataFrame = {
    val s = (aggregate(col("embedding"), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0).as("scale")
    vecs.select(col("vec_id"), s, col("embedding"))
      .where(col("scale") > 0)
      .select(col("vec_id"), col("scale"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) / scale + 0.5d) as long))")
          .as("q"))
  }

  /** Quantized brute-force cosine top-k: scores from the INTEGER dot of
    * the int8 codes (exact int64 arithmetic — deterministic, orderable,
    * oracle-reproducible), cosine reconstructed from the quantized norms.
    * Same map-only scan + bounded top-k shape as [[bruteForceTopK]];
    * the scales cancel in the cosine so only the codes matter. */
  def int8TopK(vecs: DataFrame, query: Seq[Float], k: Int): DataFrame = {
    val qd = query.map(_.toDouble)
    val qs = qd.map(math.abs).max / 127.0
    require(qs > 0, "zero query vector")
    val qq = qd.map(v => math.floor(v / qs + 0.5).toLong)
    val qlit = typedLit(qq)
    val qnorm = math.sqrt(qq.map(v => (v * v).toDouble).sum)
    val idot = aggregate(zip_with(col("q"), qlit, (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    val vnorm = sqrt(aggregate(col("q"), lit(0L), (acc, x) => acc + x * x)
      .cast("double"))
    quantizeInt8(vecs)
      .select(col("vec_id"),
        round(idot.cast("double") / (vnorm * qnorm), 6).as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id")).limit(k)
  }

  // ------------------------------------------- product quantization (PQ)

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI): the
    * embedding splits into `m` contiguous subspaces and each sub-vector
    * trains its own k-means codebook — n·d·32 bits of floats compress to
    * n·m·log2(k) bits of codes while distances stay computable from the
    * codes alone. Training = m independent [[kmeansCodebook]] runs over
    * sliced columns (each the gated Lloyd's trainer; m·k·(d/m) doubles
    * total through the driver — the codebook is tiny by construction). */
  def pqTrain(vecs: DataFrame, m: Int, k: Int, iters: Int): Seq[Seq[(Int, Array[Double])]] = {
    require(m > 0 && Dims % m == 0, s"m must divide Dims=$Dims")
    val sub = Dims / m
    (0 until m).map { j =>
      kmeansCodebook(vecs.select(col("vec_id"),
        slice(col("embedding"), j * sub + 1, sub).as("embedding")), k, iters)
    }
  }

  /** PQ codes: per-subspace nearest-centroid assignment with every
    * codebook inlined as literals — all m argmins in ONE map-only
    * codegen'd projection (no join, no window, no shuffle; the encode
    * pass you run once over 10^9 vectors and store as m tiny ints).
    * Ties break to the lowest cell id, same as [[ivfAssign]]. */
  def pqEncode(vecs: DataFrame, codebooks: Seq[Seq[(Int, Array[Double])]],
               extraCols: Seq[String] = Nil): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebook")
    val sub = Dims / codebooks.length
    val codeCols = codebooks.zipWithIndex.map { case (cb, j) =>
      val sv = slice(col("embedding"), j * sub + 1, sub)
      val d2s = cb.sortBy(_._1).map { case (cell, cent) =>
        cell -> aggregate(
          zip_with(sv, typedLit(cent.toSeq),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (acc, v) => acc + v)
      }
      val minD = if (d2s.length == 1) d2s.head._2 else least(d2s.map(_._2): _*)
      d2s.foldRight(lit(null).cast("int"): Column) {
        case ((cell, d2), els) => when(d2 === minD, lit(cell)).otherwise(els)
      }.as(s"c$j")
    }
    vecs.select(col("vec_id") +: extraCols.map(col) ++: codeCols: _*)
  }

  /** Per-subspace ADC lookup columns over a CODE table: LUT[j][c] =
    * ‖q_j − centroid_{j,c}‖², computed once on the driver (m·k doubles,
    * summed in ascending dim order so any engine reproduces it); each
    * stored vector's distance contribution is one `element_at` on its
    * `c{j}` code column. */
  private def adcCols(codebooks: Seq[Seq[(Int, Array[Double])]],
                      qd: Array[Double]): Seq[Column] = {
    val sub = Dims / codebooks.length
    codebooks.zipWithIndex.map { case (cb, j) =>
      val lut = cb.sortBy(_._1).map { case (_, cent) =>
        var s = 0.0; var i = 0
        while (i < sub) { val d = qd(j * sub + i) - cent(i); s += d * d; i += 1 }
        s
      }
      element_at(typedLit(lut), col(s"c$j") + 1)
    }
  }

  /** PQ asymmetric-distance top-k over a PRE-ENCODED code table (ADC —
    * the paper's Fig. 2 right): the query stays un-quantized and each
    * stored vector's approximate squared L2 distance is the sum of m
    * LUT lookups on its codes — a map-only scan over the code table +
    * bounded top-k, never touching the float matrix. THIS is the
    * serving entry: train once ([[pqTrain]]), encode once ([[pqEncode]],
    * store the codes), then every query is this scan. At 10^9×1536 fp32
    * (6 TB) the m=96/k=256 code table is 96 GB: THE memory-bound
    * brute-force-ANN trade. */
  def pqAdcTopK(codes: DataFrame, codebooks: Seq[Seq[(Int, Array[Double])]],
                query: Seq[Float], topK: Int): DataFrame = {
    val dists = adcCols(codebooks, query.map(_.toDouble).toArray)
    codes.select(col("vec_id"), round(dists.reduce(_ + _), 6).as("adc"))
      .orderBy(col("adc"), col("vec_id")).limit(topK)
  }

  /** Train + encode + [[pqAdcTopK]] in one call — the gate/toy-scale
    * convenience. A production deployment never uses this: it re-trains
    * the codebooks (m·iters corpus passes) per query; serve from stored
    * codes via [[pqAdcTopK]] instead. */
  def pqTopK(vecs: DataFrame, query: Seq[Float], m: Int, k: Int,
             iters: Int, topK: Int): DataFrame = {
    val cbs = pqTrain(vecs, m, k, iters)
    pqAdcTopK(pqEncode(vecs, cbs), cbs, query, topK)
  }

  /** IVF-PQ top-k (Jégou et al. 2011 §IV, the faiss IVFADC structure in
    * its `by_residual=false` form — PQ codes over raw vectors, not
    * centroid residuals, so the two gated parts compose exactly): the
    * coarse quantizer prunes the scan to the query's `nProbe` nearest
    * cells (at corpus scale `cell` is the table's partition key →
    * partition-pruned source scan), and within the probed cells every
    * vector is scored by the PQ ADC lookup — codes + LUT only, the float
    * matrix untouched. This variant TRAINS per call — gate/toy-scale
    * convenience; production serves stored codes via [[ivfPqAdcTopK]]. */
  def ivfPqTopK(vecs: DataFrame, query: Seq[Float], m: Int, k: Int,
                iters: Int, nProbe: Int, topK: Int): DataFrame = {
    val cents = ivfCodebook(vecs)
    val cbs = pqTrain(vecs, m, k, iters)
    val qd = query.map(_.toDouble).toArray
    val probed = probeCells(cents, qd, nProbe)
    // gate-scale shortcut: only the probed cells are even encoded (the
    // serving path instead reads stored codes — see [[ivfPqAdcTopK]])
    val probedVecs = ivfAssign(vecs, cents)
      .where(col("cell").isInCollection(probed))
      .select(col("vec_id"), col("embedding"), col("cell"))
    ivfPqAdcTopK(pqEncode(probedVecs, cbs, extraCols = Seq("cell")),
      cents, cbs, query, nProbe, topK)
  }

  /** The `nProbe` coarse cells nearest the query (squared L2 on the
    * driver — the centroid table is tiny by construction). */
  private def probeCells(cents: Seq[(Int, Array[Double])], qd: Array[Double],
                         nProbe: Int): Seq[Int] =
    cents.sortBy { case (_, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { val d = qd(i) - c(i); s += d * d; i += 1 }
      s
    }.take(nProbe).map(_._1)

  /** IVF-PQ serving entry over a PRE-ENCODED code table carrying its
    * coarse `cell` column ([[ivfAssign]] + [[pqEncode]] output, stored
    * partitioned by cell): prune to the query's `nProbe` nearest cells
    * (partition-pruned scan at corpus scale), then ADC-score codes only
    * — the float matrix untouched, training amortized across every
    * query. Memory = codes, I/O = probed cells, compute = m adds per
    * candidate: the 10^9-vector serving plan. */
  def ivfPqAdcTopK(codes: DataFrame, cents: Seq[(Int, Array[Double])],
                   codebooks: Seq[Seq[(Int, Array[Double])]],
                   query: Seq[Float], nProbe: Int, topK: Int): DataFrame = {
    val qd = query.map(_.toDouble).toArray
    val probed = probeCells(cents, qd, nProbe)
    val dists = adcCols(codebooks, qd)
    codes.where(col("cell").isInCollection(probed))
      .select(col("vec_id"), col("cell"), round(dists.reduce(_ + _), 6).as("adc"))
      .orderBy(col("adc"), col("vec_id")).limit(topK)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering the embedding space with k-means and
    * dropping, within each cluster, every vector that has a
    * higher-priority semantic duplicate (pairwise cosine >= `minCos`).
    * The paper's scale argument is exactly this plan's shape: candidate
    * pairs are generated ONLY within a cluster (one equi-join on the
    * cell id — at 10^9 vectors k is chosen ~sqrt(N) so cells stay small
    * and AQE splits any skewed cell), never corpus-wide. Priority is the
    * deterministic lowest-vec_id rule shared with the other dedup
    * keepers (the paper keeps the cluster's lowest-centroid-similarity
    * member; the keep-one-per-dup-group semantics are identical).
    * Returns (vec_id, cluster, kept) for every input vector. */
  def semDedup(vecs: DataFrame, k: Int, iters: Int, minCos: Double): DataFrame = {
    val cb = kmeansCodebook(vecs, k, iters)
    val assigned = ivfAssign(vecs, cb)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val withN = assigned.withColumn("nrm", l2norm(col("embedding")))
    val a = withN.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withN.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, "cell").where(col("a") < col("b"))
      .where(dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= minCos)
      .select(col("b").as("vec_id")).distinct()
      .withColumn("dropFlag", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell").cast("long").as("cluster"),
        col("dropFlag").isNull.as("kept"))
  }

  /** Bucketed near-duplicate pairs — the scale path: candidates only
    * within a bucket. */
  def cosinePairsBucketed(vecs: DataFrame, minCos: Double,
      nPlanes: Int = NumPlanes): DataFrame = {
    // nPlanes is the corpus-size knob: bucket count must outgrow the
    // corpus's directional clustering or hot buckets turn the pair join
    // quadratic — 8 planes is the gate fixture; the 200k-vector sf1 run
    // uses 16 (8,229 buckets, pair space 2.45B → 426M rows).
    // norms computed ONCE per vector on the map side: the join predicate
    // is then only the 64-term dot — the full unrolled cosine (192 terms
    // + null checks) overflows Janino's method limit inside the join's
    // doConsume and silently falls back to interpreted execution
    val withB = vecs.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), nPlanes).as("bucket"),
      l2norm(col("embedding")).as("nrm"))
    val a = withB.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withB.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, "bucket").where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= minCos)
  }
}
