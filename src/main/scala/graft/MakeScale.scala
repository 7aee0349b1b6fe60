package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver's sf0.1 tables to the next
  * notch ("sf1") for the scale gate — the engine's thesis is 100×, and
  * everything oracled so far ran at ≤5k documents. No external data and
  * no randomness: each output row is a pure function of an sf0.1 row and
  * its copy index, so the gate is reproducible bit-for-bit.
  *
  *   - `documents` × `docsMult` (default 100 → 500k docs): copy c gets
  *     doc_id shifted into its own id space and its text ROTATED by c
  *     words (same token multiset per doc — collection stats scale
  *     exactly — but distinct phrase/position structure, so
  *     positions/phrases/dedup don't collapse into trivial duplicates).
  *   - `embeddings` × `docsMult`: vec_id shifted, embedding rotated by c
  *     positions (norms preserved; distinct vectors).
  *   - every other table is copied through unchanged (the relational
  *     side is not what the search gate scales).
  *
  * Usage: `runMain graft.MakeScale /root/testdata/sf0.1 /tmp/graft-sf1 100`
  */
object MakeScale {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val docsMult = if (args.length > 2) args(2).toInt else 100
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = MainSupport.session("graft-makescale", cpus, Seq("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dst, docsMult)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, dst: String, docsMult: Int): Unit = {
    import spark.implicits._
    new java.io.File(dst).mkdirs()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val copies = spark.range(0, docsMult).toDF("copy")
    docs.crossJoin(copies)
      .select(($"copy" * nDocs + $"doc_id").as("doc_id"),
        rotateWords($"text", $"copy").as("text"),
        $"lang", $"source")
      .withColumn("n_chars", length($"text").cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.count()
    emb.crossJoin(copies)
      .select(($"copy" * nVec + $"vec_id").as("vec_id"),
        decorrelate(rotateArray($"embedding", $"copy"), $"copy").as("embedding"),
        $"label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  /** Rotate a space-separated text left by `k mod nWords` words, then
    * substitute every 4th word (by a copy-dependent stride) with a
    * copy-tagged token from a 50-token synthetic vocabulary — one
    * codegen'd Column (split/slice/transform/concat), no UDF.
    *
    * The substitution is what keeps the scaled corpus dedup-realistic:
    * rotation alone leaves every copy a NEAR-DUP of its original
    * (3-shingle Jaccard ≈ 0.9), so at ×100 every doc has 99 near-dups
    * and any pair-generating dedup family is forced quadratic by the
    * DATA — the pair list itself is the output. With ~25% of words
    * replaced, shingle survival is 0.75³ ≈ 0.42 → Jaccard ≈ 0.27,
    * below the 0.35 gate threshold, so dup density stays realistic and
    * dedup scales linearly. Copy 0 is the original text unchanged. */
  private def rotateWords(text: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val words = split(text, " ")
    val n = size(words)
    val r = (k % greatest(n, lit(1))).cast("int")
    val rotated =
      when(r === 0, words).otherwise(
        concat(slice(words, r + 1, n - r), slice(words, lit(1), r)))
    val substituted = when(k === 0, rotated).otherwise(
      zip_with(rotated, sequence(lit(0), n - 1),
        (w, i) => when((i * 31 + k * 17) % 4 === 0,
          concat(lit("w"), ((k * 13 + i) % 50).cast("string")))
          .otherwise(w)))
    concat_ws(" ", substituted)
  }

  /** Rotate an array left by `k mod len` positions (norm-preserving). */
  private def rotateArray(arr: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = size(arr)
    val r = (k % greatest(n, lit(1))).cast("int")
    when(r === 0, arr).otherwise(
      concat(slice(arr, r + 1, n - r), slice(arr, lit(1), r)))
  }

  /** Per-copy deterministic SIGN FLIPS (norm-preserving): rotation alone
    * repeats every `dim` copies — copies c and c+dim would be EXACT
    * duplicate vectors, giving every vector ~copies/dim exact twins and
    * collapsing whole LSH/IVF cells into duplicate clusters (the first
    * sf1 run burned 36 CPU-minutes per task in the resulting pair join).
    * Flipping signs by a per-(copy, position) pseudo-random parity makes
    * distinct copies ~orthogonal in expectation while copy 0 stays the
    * original exactly. */
  private def decorrelate(arr: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(k === 0, arr).otherwise(
      zip_with(arr, sequence(lit(0), size(arr) - 1),
        (x, i) => when((k * 37 + i * 61) % 97 % 2 === 0, x).otherwise(-x)))
}
