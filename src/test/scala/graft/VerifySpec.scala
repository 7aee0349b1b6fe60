package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump keeps going past a failing query but reports it:
  * `Verify.main` exits 1 with the names `dump` returns. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("dump writes every good query and returns the failing query names") {
    import spark.implicits._
    val out = SparkTestSession.tmpDir("graft-verify-")
    val failed = Verify.dump(spark, "unused-sf-dir", out, Seq(
      "q_ok" -> ((s, _) => Seq(1, 2, 3).toDF("x")),
      "q_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_bad_plan" -> ((s, _) => Seq(1).toDF("x").select("no_such_column")),
      "q_ok_too" -> ((s, _) => Seq("a").toDF("y"))))
    assert(failed === Seq("q_throws", "q_bad_plan"))
    assert(spark.read.parquet(s"$out/q_ok").count() === 3)
    assert(spark.read.parquet(s"$out/q_ok_too").count() === 1)
  }
}
