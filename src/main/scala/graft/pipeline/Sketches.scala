package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over a key column (Cormode & Muthukrishnan 2005):
  * the sublinear frequency summary that makes corpus-scale heavy-hitter
  * queries cheap — `depth` hash rows of `width` counters; estimate(x) =
  * min over rows of cell(d, h_d(x)), always an OVER-estimate, within εN
  * (ε = e/width) with probability 1 − δ (δ = e^−depth).
  *
  * Spark-first shape: the sketch is BUILT as one map-only projection of
  * each key occurrence to its `depth` cells + ONE map-side-combinable
  * groupBy(d, c) — the shuffle carries at most width×depth distinct keys
  * regardless of corpus size, which is the entire point versus the exact
  * census ([[TextAnalysis.heavyHitterBigrams]]) whose shuffle carries
  * every distinct n-gram. The materialized sketch is a ≤ width×depth-row
  * cell table: broadcastable by construction, or driver-collectable.
  *
  * Hashing: Kirsch–Mitzenmacher double hashing h_d = (h1 + d·h2) mod
  * width over two seeded xxhash64 columns, with a driver-side XXH64 twin
  * of the Column hashes. Engine-internal: the gate-facing
  * heavy-hitter query stays the exact census; the sketch is the
  * documented scale path, spec-verified against the exact counts
  * (never-undercount + εN bound + candidate-superset). */
object Sketches {

  /** Driver-side materialized sketch (width×depth longs — sublinear). */
  final case class Cms(depth: Int, width: Int, cells: Array[Array[Long]], n: Long) {
    /** Point estimate — min over rows; ≥ true count, ≤ true + εN w.h.p. */
    def estimate(key: String): Long = {
      val (h1r, h2r) = Cms.hashes(key)
      // reduce BEFORE combining so d·h2 never
      // overflows int64 under ANSI arithmetic; h2 forced nonzero
      val h1 = math.floorMod(h1r, width.toLong)
      val h2 = math.floorMod(h2r, width.toLong - 1) + 1
      (0 until depth).map { d =>
        cells(d)(math.floorMod(h1 + d.toLong * h2, width.toLong).toInt)
      }.min
    }
  }

  object Cms {
    /** Driver-side twin of the Column hashes (xxhash64(lit(seed), key)
      * chains seed 42 → hashLong(lit) → string bytes — exactly what
      * XxHash64's codegen emits). */
    private[Sketches] def hashes(key: String): (Long, Long) = {
      def xx(litSeed: Long, s: String): Long = {
        val bytes = s.getBytes("UTF-8")
        val chained = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(litSeed, 42L)
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length, chained)
      }
      (xx(131L, key), xx(241L, key))
    }
  }

  private def h1c(k: Column, width: Int): Column =
    pmod(xxhash64(lit(131L), k), lit(width.toLong))
  private def h2c(k: Column, width: Int): Column =
    pmod(xxhash64(lit(241L), k), lit(width.toLong - 1)) + 1L

  /** The distributed (d, c, n) cell table over `keys` (one input row per
    * occurrence), ≤ depth×width rows. */
  def cmsCells(keys: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth >= 1, width >= 2 (got $depth x $width)")
    val k = col(keyCol)
    keys.select(h1c(k, width).as("h1"), h2c(k, width).as("h2"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("d"), col("h1"), col("h2"))
      .select(col("d"),
        pmod(col("h1") + col("d").cast("long") * col("h2"), lit(width.toLong))
          .cast("int").as("c"))
      .groupBy(col("d"), col("c")).agg(count(lit(1)).as("n"))
  }

  /** Collect the cell table into a driver-side probe-able sketch. */
  def cmsBuild(keys: DataFrame, keyCol: String,
               depth: Int = 4, width: Int = 8192): Cms = {
    val cells = Array.fill(depth)(Array.fill(width)(0L))
    var n = 0L
    cmsCells(keys, keyCol, depth, width).collect().foreach { r =>
      cells(r.getInt(0))(r.getInt(1)) = r.getLong(2)
      n += r.getLong(2)
    }
    Cms(depth, width, cells, n / math.max(1, depth))
  }

  // ------------------------------------------------------- HyperLogLog

  /** HyperLogLog registers over a key column (Flajolet, Fusy, Gandouet &
    * Meunier 2007): the distinct-count twin of the CMS — m = 2^p
    * registers, register j = low p bits of the 64-bit key hash, value =
    * max over keys of ρ(remaining bits) (position of the lowest set bit,
    * computed EXACTLY as bit_count((w & −w) − 1) + 1 — pure integer ops,
    * no float log). Shape: ONE map-only projection + ONE combinable
    * groupBy(j).max — the shuffle carries ≤ m rows regardless of corpus
    * size (vs `countDistinct`, whose exact shuffle carries every distinct
    * key). Registers are a ≤ m-row table: broadcastable, driver-tiny,
    * and MERGEABLE by element-wise max ([[hllMerge]]) — the property that
    * makes per-partition/per-day sketches unionable without re-scanning.
    * Engine-internal hashing (the same seeded-xxhash64 family as the CMS,
    * with a driver twin spec-proven equal); accuracy
    * σ ≈ 1.04/√m is SketchSpec-verified against exact counts. */
  def hllRegisters(keys: DataFrame, keyCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 18, s"p in [4, 18] (got $p)")
    val m = 1L << p
    val h = xxhash64(lit(HllSeed), col(keyCol))
    val j = h.bitwiseAND(lit(m - 1))
    val w = shiftrightunsigned(h, p)
    val rho = when(w === 0L, lit(64 - p + 1))
      .otherwise(bit_count(w.bitwiseAND(-w) - 1L) + 1)
    keys.select(j.as("j"), rho.cast("int").as("r"))
      .groupBy(col("j")).agg(max(col("r")).as("r"))
  }

  private val HllSeed = 733L

  /** Element-wise max of two register tables — sketch union. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("j")).agg(max(col("r")).as("r"))

  /** Classic HLL estimator over a collected register table: raw
    * E = α_m·m²/Σ2^(−M_j) with the linear-counting small-range branch
    * (E ≤ 2.5m and empty registers exist → m·ln(m/V)). 64-bit hashes
    * make the large-range correction unnecessary. */
  def hllEstimate(registers: DataFrame, p: Int): Double = {
    val m = 1 << p
    val regs = new Array[Int](m)
    registers.collect().foreach(r => regs(r.getLong(0).toInt) = r.getInt(1))
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val z = regs.map(r => math.pow(2.0, -r)).sum
    val e = alpha * m * m / z
    val zeros = regs.count(_ == 0)
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  def hllCountDistinct(keys: DataFrame, keyCol: String, p: Int = 12): Double =
    hllEstimate(hllRegisters(keys, keyCol, p), p)

  /** Driver-side register twin (same hash chain as the Column form) —
    * the parity witness SketchSpec pins the distributed build against. */
  def hllRegistersDriver(keys: Seq[String], p: Int): Map[Long, Int] = {
    val m = 1L << p
    keys.foldLeft(Map.empty[Long, Int]) { (acc, key) =>
      val bytes = key.getBytes("UTF-8")
      val chained = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(HllSeed, 42L)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, chained)
      val j = h & (m - 1)
      val w = h >>> p
      val rho = if (w == 0L) 64 - p + 1 else java.lang.Long.numberOfTrailingZeros(w) + 1
      acc.updated(j, math.max(acc.getOrElse(j, 0), rho))
    }
  }

  /** Sketch-filtered heavy-hitter candidates: estimate every distinct key
    * IN the job (probe cells via a broadcast equi-join on (d, c), min
    * over rows) and keep keys whose estimate ≥ `minCount`. CMS never
    * under-counts, so this is a SUPERSET of the true heavy hitters; the
    * exact census then confirms over a candidate set that is
    * heavy-hitter-sized, not vocabulary-sized. */
  def cmsHeavyCandidates(keys: DataFrame, keyCol: String, minCount: Long,
                         depth: Int = 4, width: Int = 8192): DataFrame = {
    val cellTable = cmsCells(keys, keyCol, depth, width)
    val probes = keys.select(col(keyCol).as("key")).distinct()
      .select(col("key"), h1c(col("key"), width).as("h1"), h2c(col("key"), width).as("h2"))
      .select(col("key"), explode(sequence(lit(0), lit(depth - 1))).as("d"),
        col("h1"), col("h2"))
      .select(col("key"), col("d"),
        pmod(col("h1") + col("d").cast("long") * col("h2"), lit(width.toLong))
          .cast("int").as("c"))
    probes.join(broadcast(cellTable), Seq("d", "c"))
      .groupBy(col("key")).agg(min(col("n")).as("est"))
      .where(col("est") >= minCount)
  }
}
