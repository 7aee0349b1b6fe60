package graft.postings

import graft.build.{IndexPaths, Posting, PostingRow, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Pulsing postings: terms with `df <= freqCutoff` have their postings
  * inlined into the term DICTIONARY and removed from the postings table,
  * so a rare-term query is served by the dictionary read alone — no
  * second table, no block decode.
  *
  * Reference: `Lucene.Net.Codecs/Pulsing/Pulsing41PostingsFormat.cs:30-44`
  * (inlines docFreq<=freqCutoff terms, wraps the normal Lucene41 format
  * for the rest; default cutoff 1) and `PulsingPostingsWriter.cs` (the
  * wrapped-format delegation). The reference motivates it as "one less
  * seek" for hapax terms; the Spark restatement is stronger: in a web
  * corpus roughly half the DISTINCT dictionary terms are hapax
  * (Zipf/Heaps), so pulsing removes ~half the postings table's ROWS (not
  * bytes — blocks are df-weighted) and turns the long tail of rare-term
  * lookups into ONE range-pruned parquet read of a table the query
  * planner already touches for df stats. The inline columns ride the
  * term-sorted dictionary, so parquet min/max term pruning (the engine's
  * FST-seek analog, see DictSeek) applies to them for free.
  *
  * Like the reference (a PostingsFormat wrapping only the docs+freqs
  * stream), pulsing here rewrites ONLY term_dict + postings, and the
  * pulsed postings keep only the docs+freqs columns
  * ([[PostingRow.columns]]); positions / offsets / payloads blobs and
  * docstats remain in the base index — phrase/span queries read the base
  * tables unchanged.
  *
  * Scale shape: one equi-join of postings against the (term, df)
  * dictionary projection (both sides term-range partitioned — a
  * co-located sort-merge join, no broadcast of a corpus-sized side), one
  * bounded per-term collect_list (<= cutoff rows by construction), two
  * term-range-partitioned writes. No window, no all-pairs, nothing
  * corpus-sized on the driver.
  */
object Pulsing {

  /** Rewrite `indexDir`'s dictionary + postings into `outDir` with
    * df<=freqCutoff terms inlined. Emits:
    *   outDir/term_dict  — TermDictRow columns + `inlineDocIds`/`inlineTfs`
    *                       arrays (non-null iff the term is pulsed)
    *   outDir/postings   — only blocks of terms with df > freqCutoff
    */
  def write(spark: SparkSession, indexDir: String, outDir: String,
            freqCutoff: Int = 1, numPartitions: Int = 8): Unit = {
    import spark.implicits._
    val dict = spark.read.parquet(IndexPaths.termDict(indexDir))
    val posts = Tables.read[PostingRow](spark, IndexPaths.postings(indexDir))
    val dfByTerm = dict.select($"term", $"df")

    // Route blocks by the TERM-level df (a term's blocks can span
    // segments, so block-local numDocs alone cannot decide membership).
    val routed = posts.join(dfByTerm, Seq("term"))

    routed.where($"df" > freqCutoff).drop("df")
      .repartitionByRange(numPartitions, $"term", $"firstDocId")
      .sortWithinPartitions($"term", $"firstDocId")
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.postings(outDir))

    // Pulsed terms: decode their (<= cutoff) postings and fold them into
    // per-term arrays, docId-ascending — the dictionary's inline payload.
    val inlined = Posting.decode(routed.where($"df" <= freqCutoff))
      .select($"term", $"docId".as("doc_id"), $"tf")
      .groupBy($"term")
      .agg(sort_array(collect_list(struct($"doc_id", $"tf"))).as("ps"))
      .select($"term",
        $"ps.doc_id".as("inlineDocIds"), $"ps.tf".as("inlineTfs"))

    dict.join(inlined, Seq("term"), "left_outer")
      .repartitionByRange(math.max(1, numPartitions / 8), $"term")
      .sortWithinPartitions($"term")
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths.termDict(outDir))
  }

  /** Decoded hits (doc_id, term, tf) for a set of terms over a pulsed
    * index — the union of the dictionary's inline postings (no decode, no
    * postings table) and the normal pruned block scan for df>cutoff
    * terms. Bit-equal to the unpulsed read of the same terms. */
  def hits(spark: SparkSession, pulsedDir: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val t = terms.distinct
    val inline = spark.read.parquet(IndexPaths.termDict(pulsedDir))
      .where($"term".isin(t: _*) && $"inlineDocIds".isNotNull)
      .select($"term",
        explode(arrays_zip($"inlineDocIds", $"inlineTfs")).as("p"))
      .select($"p.inlineDocIds".as("doc_id"), $"term",
        $"p.inlineTfs".cast("long").as("tf"))
    val blocks = Posting.decode(spark.read.parquet(IndexPaths.postings(pulsedDir))
      .where($"term".isin(t: _*)))
      .select($"docId".as("doc_id"), $"term", $"tf".cast("long").as("tf"))
    inline.unionByName(blocks)
  }
}
