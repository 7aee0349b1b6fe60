package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. Exits 1 naming every
  * query that failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-list of query names to run (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = MainSupport.session("graft-verify", cpus,
      Seq("spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Runs each query and writes its result to `outDir/<name>` as parquet.
    * A query that throws is logged and the run moves on (one bad query
    * must not hide the others' results); the names of the failed queries
    * are returned, in run order, so the caller can fail loudly. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      try {
        System.err.println(s"[verify] $name start")
        val t0 = System.nanoTime()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.2fs")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
  }
}
