package graft

import graft.build.{CheckIndex, IndexBuilder}
import graft.corpus.SourceFile
import graft.search.{IndexReader, QueryParser, Searcher}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit front doors.
  *
  * Build:  spark-submit --class graft.BuildMain <jar> <corpusParquet> <indexDir> [partitions] [--resume]
  * Search: spark-submit --class graft.SearchMain <jar> <indexDir> "<classic query>" [k]
  * Check:  spark-submit --class graft.CheckMain <jar> <indexDir>
  *
  * Under spark-submit the session inherits the cluster master/conf; the
  * local[] fallback only applies when launched bare (tests, sandbox). */
object MainSupport {
  /** The session of every main: adaptive execution on, then the main's
    * own `conf`. An existing master (spark-submit's `spark.master`, or
    * `MASTER`) is kept; launched bare, the session runs `local[cores]`
    * with `cores` shuffle partitions. */
  def session(app: String, cores: Int = 32,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().appName(app)
      .config("spark.sql.adaptive.enabled", "true")
    if (!sys.props.contains("spark.master") && sys.env.get("MASTER").isEmpty)
      b.master(s"local[$cores]").config("spark.sql.shuffle.partitions", cores)
    conf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}

object BuildMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BuildMain <corpusParquet> <indexDir> " +
      "[partitions] [--resume] [--positions] [--offsets] [--keyword-fields=f1,f2]")
    val corpusPath = args(0)
    val indexDir = args(1)
    val partitions = args.drop(2).find(!_.startsWith("--")).map(_.toInt).getOrElse(32)
    val resume = args.contains("--resume")
    val positions = args.contains("--positions")
    val offsets = args.contains("--offsets")
    val keywordFields = args.find(_.startsWith("--keyword-fields="))
      .map(_.split("=", 2)(1).split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val spark = MainSupport.session("graft-build")
    import spark.implicits._
    val raw = spark.read.parquet(corpusPath)
    // input_hint shape; sha256 invariant computed here if absent upstream
    val corpus = (if (raw.columns.contains("sha256")) raw
      else raw.withColumn("sha256", sha2(col("content"), 256)))
      .select("repo", "path", "commit", "lang", "content", "sha256")
      .as[SourceFile]
    IndexBuilder.build(spark, corpus, indexDir, partitions, resume = resume,
      keywordFields = keywordFields, indexPositions = positions,
      indexOffsets = offsets)
    println(s"""{"built":"$indexDir","partitions":$partitions,"resume":$resume,""" +
      s""""positions":${positions || offsets},"offsets":$offsets}""")
    spark.stop()
  }
}

object SearchMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SearchMain <indexDir> <query...> [k]")
    val indexDir = args(0)
    // launchers (sbt runMain, some spark-submit wrappers) split on spaces:
    // everything between the index dir and a trailing integer is the query
    val (queryParts, k) =
      if (args.length > 2 && args.last.forall(_.isDigit))
        (args.slice(1, args.length - 1), args.last.toInt)
      else (args.drop(1), 10)
    val queryText = queryParts.mkString(" ")
    val spark = MainSupport.session("graft-search")
    val searcher = new Searcher(new IndexReader(spark, indexDir))
    val query = new QueryParser().parse(queryText)
    val hits = searcher.search(query, k)
    // top-k is tiny: broadcast it against the docId-sorted stored fields
    // (parquet min/max pruning fetches just the hit row groups)
    import spark.implicits._
    val hitsDf = hits.toSeq.toDF("docId", "score")
    val rows = spark.read.parquet(s"$indexDir/docs")
      .select($"docId", $"repo", $"path")
      .join(broadcast(hitsDf), "docId")
      .orderBy($"score".desc, $"docId")
      .collect()
    rows.foreach { r =>
      println(f"""{"docId":${r.getLong(0)},"score":${r.getFloat(3)}%.6f,""" +
        s""""repo":"${r.getString(1)}","path":"${r.getString(2)}"}""")
    }
    spark.stop()
  }
}

object CheckMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: CheckMain <indexDir>")
    val spark = MainSupport.session("graft-check")
    val report = CheckIndex.check(spark, args(0))
    println(s"""{"ok":${report.ok},"problems":${report.problems.size}}""")
    report.problems.foreach(p => System.err.println(s"[check] $p"))
    spark.stop()
    if (!report.ok) sys.exit(1)
  }
}
