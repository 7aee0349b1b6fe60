package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench times every query, keeps going past a failing one and
  * reports it: `Bench.main` exits 1 with the names `timeQueries` returns. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("timeQueries times every good query and returns the failing query names") {
    import spark.implicits._
    val (times, failed) = Bench.timeQueries(spark, "unused-sf-dir", Seq(
      "q_ok" -> ((s, _) => Seq(1, 2, 3).toDF("x")),
      "q_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_ok_too" -> ((s, _) => Seq("a").toDF("y"))))
    assert(failed === Seq("q_throws"))
    assert(times.map(_._1) === Seq("q_ok", "q_throws", "q_ok_too"))
    assert(times.toMap.apply("q_throws") === -1.0)
    assert(times.filter(_._1 != "q_throws").forall(_._2 >= 0.0))
  }
}
