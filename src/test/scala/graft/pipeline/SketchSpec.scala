package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count-min sketch: the CMS invariants against exact counts — never an
  * under-count, εN-bounded over-count at fixture scale, heavy-hitter
  * candidates a superset of the true heavy hitters, and the driver-side
  * hash twin equal to the Column hashes. */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Skewed key stream: key k_i with frequency ~ i² over 40 keys — a few
    * heavy hitters, a long-ish tail, 22,140 occurrences total. */
  private lazy val keys = {
    val rows = (1 to 40).flatMap(i => Seq.fill(i * i)(s"key_$i"))
    rows.toDF("k")
  }

  private lazy val exact: Map[String, Long] =
    keys.groupBy($"k").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap

  test("CMS never under-counts and over-counts within eps*N at width 2048") {
    val cms = Sketches.cmsBuild(keys, "k", depth = 4, width = 2048)
    assert(cms.n === exact.values.sum)
    val eps = math.E / 2048
    exact.foreach { case (k, n) =>
      val est = cms.estimate(k)
      assert(est >= n, s"$k under-counted: $est < $n")
      assert(est <= n + (eps * cms.n * 4).toLong + 1,
        s"$k over-counted far past the bound: $est vs $n (N=${cms.n})")
    }
  }

  test("tiny width forces collisions but still never under-counts") {
    val cms = Sketches.cmsBuild(keys, "k", depth = 3, width = 16)
    exact.foreach { case (k, n) =>
      assert(cms.estimate(k) >= n)
    }
    // with 40 keys in 16 cells, at least one estimate must be inflated
    assert(exact.exists { case (k, n) => cms.estimate(k) > n })
  }

  test("in-job heavy-hitter candidates are a superset of the true heavy hitters") {
    val minCount = 400L // keys 20..40 qualify exactly (i*i >= 400)
    val trueHeavy = exact.filter(_._2 >= minCount).keySet
    val cand = Sketches.cmsHeavyCandidates(keys, "k", minCount, depth = 4, width = 2048)
      .select($"key").as[String].collect().toSet
    assert(trueHeavy.subsetOf(cand),
      s"missing true heavy hitters: ${trueHeavy diff cand}")
    // at this width the candidate set should also be close to exact
    assert(cand.size <= trueHeavy.size + 5, s"too many false candidates: $cand")
  }

  test("driver-side estimate equals the in-job estimate (hash twins agree)") {
    val cms = Sketches.cmsBuild(keys, "k", depth = 4, width = 2048)
    val inJob = Sketches.cmsHeavyCandidates(keys, "k", minCount = 1L,
        depth = 4, width = 2048)
      .as[(String, Long)].collect().toMap
    exact.keys.foreach { k =>
      assert(cms.estimate(k) === inJob(k), s"hash twin mismatch on $k")
    }
  }

  // ------------------------------------------------------- HyperLogLog

  test("HLL registers: distributed build == driver twin; duplicates are free") {
    val p = 8
    val distinct = (1 to 500).map(i => s"item_$i")
    val dup = (distinct ++ distinct ++ distinct.take(100)).toDF("k")
    val engine = Sketches.hllRegisters(dup, "k", p)
      .as[(Long, Int)].collect().toMap
    val twin = Sketches.hllRegistersDriver(distinct, p)
    assert(engine === twin, "register tables must match the driver hash twin")
    // registers are a pure function of the distinct key SET
    val once = Sketches.hllRegisters(distinct.toDF("k"), "k", p)
      .as[(Long, Int)].collect().toMap
    assert(once === engine, "duplicate occurrences must not move any register")
  }

  test("HLL merge == rebuild over the union") {
    val p = 8
    val a = (1 to 400).map(i => s"a_$i").toDF("k")
    val b = (1 to 400).map(i => if (i <= 150) s"a_$i" else s"b_$i").toDF("k")
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(a, "k", p), Sketches.hllRegisters(b, "k", p))
      .as[(Long, Int)].collect().toMap
    val rebuilt = Sketches.hllRegisters(a.unionByName(b), "k", p)
      .as[(Long, Int)].collect().toMap
    assert(merged === rebuilt, "element-wise max must equal the one-pass build")
  }

  test("HLL accuracy: within 5 sigma of exact at p=12, linear-counting branch at small n") {
    val p = 12 // sigma = 1.04/sqrt(4096) ~ 1.63%
    val n = 20000
    val est = Sketches.hllCountDistinct(
      (1 to n).map(i => s"key_$i").toDF("k"), "k", p)
    val sigma = 1.04 / math.sqrt(1 << p)
    assert(math.abs(est - n) / n <= 5 * sigma,
      s"estimate $est too far from $n (tolerance ${5 * sigma * n})")
    // small cardinality: the m*ln(m/V) branch is near-exact
    val small = Sketches.hllCountDistinct(
      (1 to 100).map(i => s"s_$i").toDF("k"), "k", p)
    assert(math.abs(small - 100) <= 3, s"linear-counting estimate $small")
  }
}
