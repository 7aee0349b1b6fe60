package perfbench

import graft.corpus.{CorpusGen, SourceFile}

import java.util.SplittableRandom

/** Seeded input generator. Everything the engine receives — the corpus
  * rows and the query strings — is a pure function of the seed.
  *
  * Corpus: `SourceFile` rows in the input_hint shape. Identifiers come
  * from a Zipfian vocabulary (s = 1.07), so the built dictionary has a
  * few head terms in most files and a long tail of terms in a handful;
  * file lengths are log-normal (long right tail, capped). */
final class Gen(seed: Long) {
  import Gen._

  /** The identifier vocabulary, rank 0 = most frequent. Syllable-built
    * words with a rank-unique suffix, so every rank is a distinct term and
    * prefixes and edit-distance neighbours exist in the dictionary. */
  val vocab: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Array.tabulate(VocabSize) { i =>
      val sb = new StringBuilder
      val n = 2 + i % 3 // by rank, so head words are not longer for some seeds
      var j = 0
      while (j < n) {
        sb ++= Onsets(r.nextInt(Onsets.length))
        sb ++= Vowels(r.nextInt(Vowels.length))
        j += 1
      }
      sb ++= base26(i)
      sb.toString
    }
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1.0, 1.07))
    val out = new Array[Double](VocabSize)
    var acc = 0.0
    var i = 0
    while (i < VocabSize) { acc += w(i); out(i) = acc; i += 1 }
    i = 0
    while (i < VocabSize) { out(i) /= acc; i += 1 }
    out
  }

  def zipf(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0
    var hi = VocabSize - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    vocab(lo)
  }

  /** Log-normal statement count: median ~12 lines, capped at 400. */
  private def lines(r: SplittableRandom): Int = {
    val g = r.nextGaussian()
    math.min(400, math.max(1, math.exp(2.5 + 0.9 * g).toInt))
  }

  /** File `i` of stream `stream` (0 = base corpus, others = NRT batches).
    * `version` > 0 gives new content for the same path (an update);
    * `marker`, when set, is a token no generated identifier can equal,
    * so a term query for it finds exactly the files written with it. */
  def file(stream: Int, i: Int, version: Int = 0, marker: String = null): SourceFile = {
    val r = new SplittableRandom(seed * 1000003L + stream * 7919L + i * 31L + version)
    val lang = Langs(i % Langs.length)
    val sb = new StringBuilder
    sb ++= s"// ${zipf(r)} ${zipf(r)}\n"
    if (marker != null) sb ++= s"// $marker\n"
    val n = lines(r)
    var j = 0
    while (j < n) {
      Keywords(r.nextInt(Keywords.length)) match {
        case "def" => sb ++= s"def ${zipf(r)}(${zipf(r)}: ${zipf(r)}) = ${zipf(r)}(${zipf(r)})\n"
        case "val" => sb ++= s"val ${zipf(r)} = ${zipf(r)}.${zipf(r)}(${zipf(r)}, ${zipf(r)})\n"
        case "if" => sb ++= s"if (${zipf(r)} > ${zipf(r)}) return ${zipf(r)}\n"
        case kw => sb ++= s"$kw ${zipf(r)} ${zipf(r)} ${zipf(r)}\n"
      }
      j += 1
    }
    val c = sb.toString
    SourceFile(
      repo = s"repo-${i % Repos}",
      path = f"src/$lang/m${i % 97}%02d/s${stream}f$i%06d.$lang",
      commit = f"${(seed * 31 + stream * 7 + version) & 0xffffffffL}%040x",
      lang = lang,
      content = c,
      sha256 = CorpusGen.sha256Hex(c))
  }

  def corpus(stream: Int, n: Int, marker: String = null): IndexedSeq[SourceFile] =
    (0 until n).map(file(stream, _, 0, marker))
}

object Gen {
  val VocabSize = 24000
  val Langs: Array[String] = Array("scala", "java", "py", "go", "rs", "txt")
  val Repos = 7
  /** Batch marker tokens: `q` starts no vocabulary syllable. */
  def marker(batch: Int): String = "qqbatch" + base26(batch)
  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n",
    "p", "r", "s", "t", "v", "w", "st", "tr", "pl", "ch")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou")
  private val Keywords = Array("def", "val", "if", "class", "import", "case",
    "while", "match", "new", "yield")

  private def base26(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb += ('a' + x % 26).toChar; x /= 26 } while (x > 0)
    sb.toString
  }
}

/** One generated query: classic-syntax text, its class, the df stratum
  * its terms were drawn from, and k. */
final case class QuerySpec(text: String, cls: String, stratum: String, k: Int) {
  /** The measured group the query's latency is reported under. */
  def group: String = cls match {
    case "term" | "or" => "wand"
    case "and" | "not" => "bool"
    case "phrase" => "phrase"
    case _ => "multiterm"
  }
}

/** Seeded query generator over the BUILT dictionary: terms are drawn by df
  * stratum (head: df >= 5% of docs; torso: 0.3%..5%; tail: df <= 0.05% of
  * docs, at least 2), so WAND pruning, tail lookups and dictionary
  * expansion all occur. OR queries of stratum `top` join highest-df words
  * until their posting blocks reach [[QueryGen.PruneMinBlocks]], so they
  * take the pruning WAND path. Phrases are adjacent token pairs of a real
  * file. */
final class QueryGen(seed: Long, dict: Array[(String, Long)], maxDoc: Long,
                     files: IndexedSeq[graft.corpus.SourceFile]) {
  private val r = new SplittableRandom(seed * 7L + 3L)
  private val words = dict.filter(_._1.forall(c => c >= 'a' && c <= 'z'))
  private def band(lo: Double, hi: Double) =
    words.filter { case (_, df) => df >= lo * maxDoc && df < hi * maxDoc }.map(_._1)
  private val strata: Map[String, Array[String]] = {
    val sorted = words.sortBy(-_._2).map(_._1)
    def orTop(a: Array[String], n: Int) = if (a.nonEmpty) a else sorted.take(n)
    Map(
      "head" -> orTop(band(0.05, 2.0), 20),
      "torso" -> orTop(band(0.003, 0.05), 200),
      "tail" -> orTop(words.filter(w => w._2 >= 2 && w._2 <= math.max(2L, maxDoc / 2000))
        .map(_._1), 200))
  }
  def pick(stratum: String): String = {
    val a = strata(stratum)
    a(r.nextInt(a.length))
  }
  def stratumSizes: Map[String, Int] = strata.map { case (k, v) => k -> v.length }

  private val top = words.sortBy(-_._2).take(8)
  private def topOr(): String = {
    val left = top.toBuffer
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def blocks = picked.map(_._2 / graft.postings.PostingsCodec.BlockSize + 1).sum
    while (left.nonEmpty && (picked.size < 2 || blocks < QueryGen.PruneMinBlocks))
      picked += left.remove(r.nextInt(left.size))
    picked.map(_._1).mkString(" ")
  }

  private def phrase(): String = {
    var tries = 0
    while (tries < 100) {
      val f = files(r.nextInt(files.size))
      val toks = graft.analysis.Analyzer.forLang(f.lang).analyze(f.content).tokens
      if (toks.length >= 2) {
        val i = r.nextInt(toks.length - 1)
        val (a, b) = (toks(i), toks(i + 1))
        if (b.position == a.position + 1 && a.term.forall(_.isLetter) && b.term.forall(_.isLetter))
          return s"\"${a.term} ${b.term}\""
      }
      tries += 1
    }
    s"\"${pick("head")} ${pick("head")}\""
  }

  def make(cls: String, stratum: String, k: Int): QuerySpec = {
    val text = cls match {
      case "term" => pick(stratum)
      case "or" if stratum == "top" => topOr()
      case "or" =>
        val n = 2 + r.nextInt(3)
        (pick("head") +: Seq.fill(n - 1)(pick(stratum))).mkString(" ")
      case "and" => s"+${pick("head")} +${pick(stratum)}"
      case "not" => s"${pick(stratum)} -${pick("head")}"
      case "phrase" => phrase()
      case "prefix" => pick(stratum).take(4) + "*"
      case "wildcard" =>
        val t = pick(stratum)
        t.take(2) + "?" + t.slice(3, 5) + "*"
      case "fuzzy" => s"${pick(stratum)}~${1 + r.nextInt(2)}"
    }
    QuerySpec(text, cls, stratum, k)
  }

  /** The serve mix: every class, terms from every stratum, k in {10, 100}. */
  def serveMix: IndexedSeq[QuerySpec] = {
    val plan = Seq("term" -> "head", "term" -> "torso", "term" -> "tail",
      "or" -> "top", "or" -> "top", "or" -> "tail",
      "and" -> "torso", "and" -> "tail", "not" -> "torso", "not" -> "tail",
      "phrase" -> "corpus", "phrase" -> "corpus",
      "prefix" -> "torso", "wildcard" -> "torso", "fuzzy" -> "torso", "fuzzy" -> "tail")
    plan.zipWithIndex.map { case ((c, s), i) => make(c, s, if (i % 2 == 0) 10 else 100) }
      .toIndexedSeq
  }

  /** The NRT mix: `n` distinct queries of classes whose plans do not need
    * positions (updated generations are written without them), k in
    * {10, 100}. Distinct draws, so the median read of a run is not set by a
    * few terms. */
  def nrtMix(n: Int): IndexedSeq[QuerySpec] = {
    val plan = IndexedSeq("term" -> "head", "or" -> "torso", "and" -> "torso",
      "not" -> "tail", "prefix" -> "torso", "term" -> "tail")
    (0 until n).map { i =>
      val (c, s) = plan(i % plan.size)
      make(c, s, if (i % 2 == 0) 10 else 100)
    }
  }
}

object QueryGen {
  /** Searcher's default pruneMinBlocks: a term or OR query whose terms hold
    * fewer posting blocks in all is scored without WAND pruning. */
  val PruneMinBlocks = 64
}
