package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication over a `documents`-shaped table
  * (`doc_id: long, text: string, ...`).
  *
  * Two hashing modes coexist, same algorithms:
  *
  *   - '''production''': shingles/tokens are hashed with `xxhash64`
  *     (codegen'd Catalyst expression, no global state) — the path you run
  *     at 10^12 docs; nothing in it needs a driver-side pass or a global
  *     sort.
  *   - '''parity''': shingles/tokens are first mapped to dense ids through
  *     a dictionary (`dense_rank` over the distinct set — the same
  *     structure as the engine's term dictionary) and then through integer
  *     affine hashes. Every step is plain integer SQL, so an independent
  *     engine (the DuckDB oracle) reproduces results bit-for-bit. The
  *     dictionary is shingle-cardinality-sized (term-dict scale, not
  *     corpus scale); at 100 TB it would be built with the same
  *     range-partitioned sort the index's term_dict already uses.
  *
  * MinHash/LSH per Broder (1997) and Leskovec-Rajaraman-Ullman ch. 3;
  * SimHash per Charikar (2002). Reference has no dedup surface — these are
  * the pipeline ops a training-data corpus needs on top of it.
  */
object Dedup {

  /** Oracle-parity tokenizer: `[a-z0-9_]+` over lowercased text (the same
    * regex the engine's `Analyzer.sqlParity` uses). */
  def tokensCol(textCol: String): Column =
    expr(s"regexp_extract_all(lower($textCol), '[a-z0-9_]+', 0)")

  /** Dense 1-based ids for a distinct key set in global sort order —
    * value-identical to `dense_rank() OVER (ORDER BY key)` (what the
    * DuckDB oracles compute) but built the way the engine's term_dict is:
    * range-partition + in-partition sort + per-partition offset rebase.
    * No single-partition WindowExec anywhere, so the build scales like
    * any other shuffle instead of serializing on one task. */
  def denseIds(keys: DataFrame, keyCol: String, idCol: String,
               numPartitions: Int = 32): DataFrame =
    graft.build.DenseIds.assign(keys, keyCol, idCol, numPartitions)

  /** Distinct w-token shingles, space-joined, document order. */
  def shinglesCol(ts: String, w: Int): Column = {
    val mk = (0 until w).map(j => s"$ts[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    expr(
      s"CASE WHEN size($ts) >= $w THEN " +
        s"array_distinct(transform(sequence(0, size($ts)-$w), i -> $mk)) " +
        "ELSE cast(array() AS array<string>) END")
  }

  // ------------------------------------------------------------ exact

  /** Exact dedup: hash-groupBy on content. Emits one row per distinct
    * content hash with the group size and the keeper (min doc_id) — a
    * map-side-combinable aggregation, no skew risk (hash keys are
    * uniform). Filter `n > 1` for the duplicate groups. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count("*").as("n"), min(col("doc_id")).as("keeper"))

  // ---------------------------------------------------------- minhash/LSH

  /** Affine-hash coefficients for the K minhash functions (fixed, public). */
  val MinHashA: Array[Long] = Array(7, 31, 59, 83, 107, 131, 163, 191,
    223, 251, 283, 311, 347, 379, 409, 439)
  val MinHashB: Array[Long] = Array(3, 11, 19, 29, 37, 43, 53, 61,
    71, 79, 89, 97, 101, 109, 113, 127)
  val MinHashP: Long = 1000003L // prime > any dictionary id at test scale
  val NumBands = 4
  val RowsPerBand = 4 // K = 16

  /** (doc_id, shingle) pairs, shingles distinct per doc. */
  def docShingles(docs: DataFrame, w: Int = 3): DataFrame =
    docs.select(col("doc_id"), tokensCol("text").as("ts"))
      .select(col("doc_id"), explode(shinglesCol("ts", w)).as("s"))

  /** Parity path: shingle dictionary (dense ids by shingle order), built
    * term_dict-style via [[denseIds]] — scale-shaped, same ids. */
  def shingleDict(ds: DataFrame): DataFrame = denseIds(ds, "s", "sid")

  /** MinHash signatures: K min-hash columns h0..h15 per doc (parity path:
    * affine hashes of dictionary ids). One shuffle: groupBy(doc_id) with
    * map-side partial mins. */
  def minhashSignatures(ds: DataFrame, dict: DataFrame): DataFrame = {
    val withIds = ds.join(dict, "s").select(col("doc_id"), col("sid"))
    val aggs = (0 until NumBands * RowsPerBand).map { k =>
      min((col("sid") * MinHashA(k) + MinHashB(k)) % MinHashP).as(s"h$k")
    }
    withIds.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band buckets: (doc_id, band, key). Docs sharing a bucket in any
    * band are candidate near-duplicates. ONE pass over the signatures —
    * an explode of per-band structs, NOT a band-count union: a union of
    * N selects re-evaluates the whole signature lineage N times (the
    * sf1 gate measured the union form at ~16x the work). */
  def lshBuckets(sigs: DataFrame): DataFrame = {
    val bands = (0 until NumBands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws(",", cols: _*).as("key"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs (a < b) sharing any LSH bucket. The bucket join is
    * the scale move: instead of all-pairs O(n^2), only docs agreeing on a
    * full band collide. Hot buckets (giant duplicate clusters) are the
    * skew risk — AQE skew-join handles the join; the group explosion is
    * bounded by cluster size, which is what dedup is looking for anyway. */
  def candidatePairs(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("band"), col("key"), col("doc_id").as("a"))
    val b = buckets.select(col("band"), col("key"), col("doc_id").as("b"))
    a.join(b, Seq("band", "key")).where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Exact shingle-set Jaccard for given pairs. */
  def pairJaccard(pairs: DataFrame, ds: DataFrame): DataFrame = {
    // `pairs` is referenced twice below (intersection expansion + final
    // join): materialize it once so candidate GENERATION (the bucket
    // self-join upstream) doesn't run twice
    val p = pairs.localCheckpoint(true)
    val sizes = ds.groupBy(col("doc_id")).agg(count("*").as("sz"))
    // candidate-restricted intersection: expand each pair by its a-side
    // shingles, then equi-join the b side on (b, s). Cost is
    // |pairs| x shingles-per-doc. The tempting alternative — aggregate
    // the ds-on-ds self-join by (a, b) FIRST and join pairs after — is
    // O(sum df^2) over shingle document frequencies, quadratic in
    // cluster size for every common shingle whether or not any
    // candidate needs it (measured 38 GB of spill at the sf1 gate).
    val common = p
      .join(ds.select(col("doc_id").as("a"), col("s")), "a")
      .join(ds.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b")).agg(count("*").as("common"))
    p.join(common, Seq("a", "b"))
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "nb"), "b")
      .select(col("a"), col("b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jac"))
  }

  /** Full parity MinHash-LSH near-dup pipeline: doc pairs with
    * LSH-candidate status AND exact Jaccard >= minJaccard. */
  def minhashNearDups(docs: DataFrame, minJaccard: Double = 0.35): DataFrame = {
    // ds feeds the dictionary, the signatures AND the exact-Jaccard
    // confirm; sigs feeds both sides of the candidate self-join —
    // materialize each once (signatures are 16 longs/doc; shingles one
    // row per doc-shingle) instead of re-running the explode/dict/agg
    // lineage per consumer (the sf1 gate measured the unchecked form at
    // ~30x the single-pass cost).
    val ds = docShingles(docs).localCheckpoint(true)
    val dict = shingleDict(ds)
    val sigs = minhashSignatures(ds, dict).localCheckpoint(true)
    val cands = candidatePairs(lshBuckets(sigs))
    pairJaccard(cands, ds).where(col("jac") >= minJaccard)
  }

  /** ExactSubstr REMOVAL (Lee et al. 2021 §3.2 — the action the measure
    * above feeds: delete the duplicated spans and KEEP the rest of the
    * document, rather than dropping docs whole): a token position is
    * removed iff at least one w-token window covering it first occurs in
    * an EARLIER doc. Returns per doc (n_tokens, n_removed, n_kept).
    *
    * Shape at scale: the [[docWindows]] explode + first-owner combinable
    * min + join-back as in [[spanDupStats]], then each duplicated window
    * expands to its ≤ w covered positions (bounded by w× the DUP windows
    * only, not the corpus), distinct, one combinable per-doc count. */
  def spanRemovalStats(docs: DataFrame, w: Int = 10): DataFrame = {
    val base = docs.select(col("doc_id"), tokensCol("text").as("ts"))
    val win = docWindows(docs, w)
    val firstOwner = win.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    val covered = win.join(firstOwner, "s")
      .where(col("first_doc") < col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    base.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_tokens") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
  }

  /** b-bit minwise hashing (Li & König, "b-Bit Minwise Hashing",
    * WWW 2010), b = 1: keep only the LOWEST BIT of each minhash
    * component — the signature store shrinks 64× (16 bits/doc instead of
    * 16 longs), the decisive trade when 10^11 signatures must stay
    * resident for candidate verification. Jaccard is estimated from the
    * per-pair bit-agreement fraction A with the paper's sparse-set
    * (r → 0) estimator Ĵ = (A − 2^−b)/(1 − 2^−b), i.e. 2A − 1 at b=1 —
    * unbiased because non-identical minhash components agree on their
    * low bit with probability exactly 1/2. Returns (a, b, agree, jhat)
    * for the given candidate pairs; the full-width exact-Jaccard confirm
    * ([[pairJaccard]]) stays the precision backstop, exactly as the
    * paper prescribes b-bit for the filtering tier. */
  def bbitAgreement(pairs: DataFrame, sigs: DataFrame): DataFrame = {
    val K = NumBands * RowsPerBand
    def parities(idAs: String, p: String) = sigs.select(
      col("doc_id").as(idAs) +:
        (0 until K).map(k => pmod(col(s"h$k"), lit(2L)).as(s"$p$k")): _*)
    val agree = (0 until K)
      .map(k => when(col(s"pa$k") === col(s"pb$k"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(parities("a", "pa"), "a").join(parities("b", "pb"), "b")
      .select(col("a"), col("b"), agree.as("agree"))
      .select(col("a"), col("b"), col("agree"),
        round(col("agree") * lit(2.0) / lit(K.toDouble) - lit(1.0), 6).as("jhat"))
  }

  /** LSH candidates scored by the 1-bit estimator (parity dictionary
    * path — the gated form; prod swaps in [[minhashSignaturesProd]]). */
  def minhashBbitPairs(docs: DataFrame): DataFrame = {
    val ds = docShingles(docs).localCheckpoint(true)
    val sigs = minhashSignatures(ds, shingleDict(ds)).localCheckpoint(true)
    bbitAgreement(candidatePairs(lshBuckets(sigs)), sigs)
  }

  /** Production-path signatures: xxhash64 straight on the shingle string —
    * no dictionary, no window, embarrassingly parallel. Same banding. */
  def minhashSignaturesProd(ds: DataFrame): DataFrame = {
    val aggs = (0 until NumBands * RowsPerBand).map { k =>
      min(pmod(xxhash64(col("s"), lit(k)), lit(MinHashP))).as(s"h$k")
    }
    ds.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  def minhashNearDupsProd(docs: DataFrame, minJaccard: Double = 0.35): DataFrame = {
    val ds = docShingles(docs).localCheckpoint(true)
    val sigs = minhashSignaturesProd(ds).localCheckpoint(true)
    val cands = candidatePairs(lshBuckets(sigs))
    pairJaccard(cands, ds).where(col("jac") >= minJaccard)
  }

  /** Incremental MinHash near-dup: match a NEW batch against an existing
    * corpus + itself WITHOUT re-pairing the old corpus (the pipeline's
    * NRT analog — at 10^12 docs the old×old pair space is the cost that
    * must never be re-paid). Candidate generation joins the full bucket
    * table against ONLY the new batch's buckets, so collisions are
    * old×new and new×new; old×old never leaves the map side. Result ≡
    * the full run's pairs filtered to those touching the new batch
    * (dictionary parity over the union keeps hashes identical).
    * At production scale the old side's signatures/buckets are a
    * persisted table keyed by (band, key) — only the new batch is
    * re-shingled and re-hashed. */
  def minhashNearDupsIncremental(oldDocs: DataFrame, newDocs: DataFrame,
                                 minJaccard: Double = 0.35): DataFrame = {
    val ds = docShingles(oldDocs.union(newDocs)).localCheckpoint(true)
    val dict = shingleDict(ds)
    val buckets = lshBuckets(minhashSignatures(ds, dict)).localCheckpoint(true)
    val newBuckets = buckets
      .join(newDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val x = buckets.select(col("band"), col("key"), col("doc_id").as("u"))
    val y = newBuckets.select(col("band"), col("key"), col("doc_id").as("v"))
    val cands = x.join(y, Seq("band", "key")).where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b")).distinct()
    pairJaccard(cands, ds).where(col("jac") >= minJaccard)
  }

  // ------------------------------------------------------------- simhash

  /** Signature from mixed (doc_id, tf, m) rows in ONE aggregation: 32
    * conditional sums per doc (bit b's tf-weighted ±1 tally) — all inside
    * whole-stage codegen with map-side partial aggregation, instead of a
    * 32× row explosion through a bit-index cross join and two shuffles.
    * Bit b of the signature is set iff its tally is positive. */
  private def signatureOf(mixed: DataFrame): DataFrame = {
    val sums = (0 until 32).map(b =>
      sum(col("tf") * (expr(s"shiftright(m, $b) & 1") * 2 - 1)).as(s"s$b"))
    val bitVal = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    mixed.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bitVal.as("simhash"))
  }

  /** 32-bit SimHash per doc (parity path): token dictionary ids mixed by a
    * Knuth multiplicative constant; bit b of the signature is the sign of
    * the tf-weighted sum of (2*bit_b(mix)-1) over the doc's tokens. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokensCol("text")).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t")).agg(count("*").as("tf"))
    val dict = denseIds(toks, "t", "tid")
    val mixed = tf.join(dict, "t")
      .select(col("doc_id"), col("tf"), ((col("tid") * 2654435761L) % 4294967296L).as("m"))
    signatureOf(mixed)
  }

  /** Production-path SimHash: token mix = xxhash64 folded to 32 bits —
    * no dictionary, no shuffle beyond the tf aggregation, the
    * 10^12-doc shape (independent engines can't reproduce xxhash64 seeds,
    * hence rows-only in the driver gate). */
  def simhashProd(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokensCol("text")).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t")).agg(count("*").as("tf"))
    val mixed = tf.select(col("doc_id"), col("tf"),
      pmod(xxhash64(col("t")), lit(4294967296L)).as("m"))
    signatureOf(mixed)
  }

  /** Top near pairs by SimHash Hamming distance (ascending). All-pairs —
    * verification scale only; [[simhashPairsBucketed]] is the corpus-scale
    * path. */
  def simhashPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    val a = sh.select(col("doc_id").as("a"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("b"), col("simhash").as("hb"))
    a.crossJoin(b).where(col("a") < col("b"))
      .select(col("a"), col("b"), expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Corpus-scale SimHash pair search by the pigeonhole chunk trick
    * (Charikar '02 / the standard near-dup sharding): split the 32-bit
    * signature into `maxHamming + 1` disjoint chunks — any pair within
    * Hamming distance `maxHamming` differs in at most `maxHamming` chunks,
    * so it agrees EXACTLY on at least one → an equi-join on
    * (chunkIndex, chunkValue) finds every such pair with no cross join;
    * candidates are then confirmed with the exact bit_count. Result set
    * is identical to [[simhashPairs]] (the bucketing is lossless for the
    * given radius). */
  def simhashPairsBucketed(sh: DataFrame, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    val bits = 32
    val base = bits / nChunks
    val rem = bits % nChunks
    // chunk c covers [off(c), off(c)+len(c)): first `rem` chunks get an
    // extra bit so the 32 bits partition exactly
    val offs = (0 until nChunks).scanLeft(0)((o, c) => o + base + (if (c < rem) 1 else 0))
    val chunks = (0 until nChunks).map { c =>
      val len = base + (if (c < rem) 1 else 0)
      val mask = (1L << len) - 1
      sh.select(col("doc_id"), col("simhash"),
        lit(c).as("chunk"),
        expr(s"shiftright(simhash, ${offs(c)})").bitwiseAND(lit(mask)).as("key"))
    }
    val keyed = chunks.reduce(_ union _)
    val a = keyed.select(col("chunk"), col("key"), col("doc_id").as("a"), col("simhash").as("ha"))
    val b = keyed.select(col("chunk"), col("key"), col("doc_id").as("b"), col("simhash").as("hb"))
    a.join(b, Seq("chunk", "key")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  // ----------------------------------------------------- n-gram jaccard

  /** Direct n-gram Jaccard near-dups: candidates = pairs sharing >= 1
    * CANDIDATE-ELIGIBLE shingle (inverted-shingle join — exactly the
    * engine's posting-list idea applied to shingles), scored by exact
    * Jaccard over the full shingle sets.
    *
    * `maxShingleDf` is the hot-shingle cap (the CommonTermsQuery idea
    * applied to shingles): a stop-shingle shared by f docs would emit
    * O(f²) candidate rows — one ubiquitous boilerplate line makes the
    * join quadratic at corpus scale. Shingles with df above the cap are
    * excluded from candidate GENERATION only (Jaccard confirmation still
    * counts them), so near-dup pairs sharing at least one sub-cap shingle
    * are found exactly; pairs overlapping ONLY on stop-shingles are below
    * any useful Jaccard threshold anyway (they disagree on every rare
    * shingle). Default cap is far above verification-fixture dfs. */
  def ngramJaccardPairs(docs: DataFrame, w: Int = 3, minJaccard: Double = 0.35,
                        maxShingleDf: Long = 10000L): DataFrame = {
    // ds feeds the df count, both sides of the candidate self-join and the
    // Jaccard confirm: materialize it once, as minhashNearDups does
    val ds = docShingles(docs, w).localCheckpoint(true)
    val eligible = ds.groupBy(col("s")).agg(count("*").as("df"))
      .where(col("df") <= maxShingleDf).select(col("s"))
    val dsCand = ds.join(eligible, Seq("s"), "left_semi")
    val cands = dsCand.select(col("doc_id").as("a"), col("s"))
      .join(dsCand.select(col("doc_id").as("b"), col("s")), "s")
      .where(col("a") < col("b")).select(col("a"), col("b")).distinct()
    pairJaccard(cands, ds).where(col("jac") >= minJaccard)
  }

  // --------------------------------------- duplicate clusters (components)

  /** Connected components over an undirected pair list `(a, b)` —
    * the step every real dedup pipeline runs AFTER pair generation:
    * near-dup pairs are rarely disjoint (A~B, B~C), and dropping one doc
    * per PAIR either over-deletes or leaves duplicates, so docs must be
    * grouped into clusters and one keeper chosen per cluster.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014, Alg. 2/3): each round rewires every node's
    * larger-neighbors (large-star) then its smaller-neighbors
    * (small-star) to the minimum of its closed neighborhood. Both steps
    * are ONE symmetric-edge groupBy-min plus one equi-join — no
    * driver-side graph, no windows — and the composition converges in
    * O(log n) rounds on ANY graph shape, including the adversarial long
    * chains where plain min-label propagation needs diameter rounds
    * (the reason the previous implementation threw after 30 rounds on
    * path graphs). Near-dup clusters are near-cliques, which still
    * finish in 2-3 rounds.
    *
    * Convergence: edge endpoints only ever move DOWN (every rewire
    * targets a closed-neighborhood minimum), so (count, sum(u), sum(v))
    * over the oriented edge set is monotone until the fixpoint; when the
    * cheap decimal aggregates repeat, one definitive `except` pass
    * (count already equal, so one direction suffices) confirms set
    * equality. At the fixpoint the edges form stars centered at each
    * component's minimum id — the labels are read straight off the edge
    * list. Each round is localCheckpoint'd to truncate lineage (an
    * iterative plan would otherwise double in depth every round).
    *
    * Returns `(node, cluster)` — cluster = min node id of the component.
    * Throws if `maxIter` rounds don't converge (honest failure beats a
    * silently wrong partition of the corpus; at O(log n) rounds the
    * default 50 covers any practical corpus). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val nodes = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct().localCheckpoint(true)
    // canonical orientation u > v; self-loops carry no connectivity
    var edges = pairs.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)

    // large-star: for each node, larger neighbors attach to the closed-
    // neighborhood min; emitted edges stay (larger, smaller)-oriented
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u").as("c"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, sym("u") === col("c"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    // small-star: each node's smaller neighbors (plus itself) attach to
    // their min; input/output both (larger, smaller)-oriented
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val rewired = e.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      rewired.union(self).distinct()
    }

    def stat(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(col("u").cast("decimal(38,0)")), sum(col("v").cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1),
        if (r.isNullAt(2)) java.math.BigDecimal.ZERO else r.getDecimal(2))
    }
    var prev = stat(edges)
    var converged = prev._1 == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val s = stat(next)
      if (s._1 == prev._1 && s._2.compareTo(prev._2) == 0 &&
          s._3.compareTo(prev._3) == 0 &&
          next.except(edges).isEmpty) converged = true
      edges = next
      prev = s
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    val labels = edges.select(col("u").as("node"), col("v").as("lab"))
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("lab"), col("node")).as("lab"))
  }

  /** MinHash near-dup clusters with keeper selection: every doc that
    * appears in a near-dup pair, labeled with its cluster (the min doc_id
    * of its connected component); `is_keeper` marks the one doc per
    * cluster a dedup pass would retain. Docs in no pair are implicitly
    * their own keepers (excluded here — at corpus scale materializing
    * them would dwarf the interesting rows). */
  def minhashClusters(docs: DataFrame, minJaccard: Double = 0.35): DataFrame =
    connectedComponents(minhashNearDups(docs, minJaccard).select(col("a"), col("b")))
      .select(col("node").as("doc_id"), col("lab").as("cluster"),
        (col("node") === col("lab")).as("is_keeper"))

  // ----------------------------------------- exact span (substring) dedup

  /** Positional w-token windows per doc: `(doc_id, pos, w-gram)` — NOT
    * distinct (unlike [[docShingles]]): span dedup is about how much of a
    * document's surface is copied, so every occurrence counts. */
  def docWindows(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), tokensCol("text").as("ts"))
      .where(expr(s"size(ts) >= $w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ts)-$w), i -> " +
          (0 until w).map(j => s"ts[i+$j]").mkString("concat_ws(' ', ", ", ", ")") + ")")))
      .toDF("doc_id", "pos", "s")

  /** Exact duplicated-span measurement (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" ExactSubstr idea, as the
    * equi-join analog of their suffix array): for each doc, the fraction
    * of its w-token windows whose exact text also occurs in some EARLIER
    * doc (smaller doc_id). A doc with high `dup_frac` is mostly copied
    * surface and gets dropped or trimmed by the pipeline.
    *
    * Shape at scale: one explode (corpus length × 1 rows), one map-side-
    * combinable min-per-window aggregation (the "first owner" table, the
    * same cardinality class as the shingle dictionary), one equi-join
    * back, one per-doc count aggregation. The production variant would
    * join on xxhash64(window) to keep shuffle rows narrow; the parity
    * path joins on the window text so DuckDB reproduces it bit-for-bit. */
  def spanDupStats(docs: DataFrame, w: Int = 10): DataFrame = {
    val win = docWindows(docs, w)
    val firstOwner = win.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    win.join(firstOwner, "s")
      .groupBy(col("doc_id"))
      .agg(count("*").as("n_windows"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_dup"))
      .where(col("n_dup") > 0)
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_windows").cast("double")).as("dup_frac"))
  }
}
