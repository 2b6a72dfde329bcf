package psibench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.corpus.CorpusGen
import graft.index.Tokenize

/** One benchmark operation: a query class plus its arguments. `text` is the
  * query string (or the expansion pattern / range low end); `arg` and
  * `arg2` carry the class-specific extras (range high end, filter column
  * and value, group/sort/facet column); `window`/`ordered` are NEAR's.
  */
final case class Query(cls: String, text: String, k: Int,
                       arg: String = "", arg2: String = "",
                       window: Int = 0, ordered: Boolean = false) {
  def render: String =
    Seq(cls, text, k.toString, arg, arg2, window.toString, ordered.toString)
      .mkString("|")
}

/** A workload: the query mix it draws from and whether its traced runs end
  * with the write path (micro-batch ingest, deletes, compaction). Both serve
  * the same kind of corpus and positional index.
  */
final case class Workload(name: String, mix: Seq[(String, Int)], writePath: Boolean)

object Workloads {

  /** Sizes are set by the run budget: every run (set-up included) has to
    * fit well inside a minute on a 4-core host, so the corpus is small and
    * Spark's per-job floor is a large share of each query. The layer
    * metrics still separate planning, scan, exchange and kernel work.
    * Shards are narrower than the engine default so the corpus still
    * spreads over more shards than cores.
    */
  val ServeDocs = 4000L
  val DocsPerShard = 1024

  /** Mixes are slot counts per cycle of 20 queries. Each cycle is shuffled
    * by the seed, so every seed runs the same class composition and the
    * seed varies only the query arguments and the order.
    */
  val hotMix: Seq[(String, Int)] = Seq(
    "and" -> 5, "or" -> 4, "bool" -> 2, "msm" -> 2, "dismax" -> 2,
    "phrase" -> 3, "near" -> 2)

  val coldMix: Seq[(String, Int)] = Seq(
    "rare_and" -> 4, "no_hit" -> 1, "prefix" -> 2, "wildcard" -> 2,
    "regex" -> 2, "fuzzy" -> 2, "trange" -> 2, "filtered" -> 2,
    "collapse" -> 1, "sortby" -> 1, "facets" -> 1)

  val all: Seq[Workload] = Seq(
    Workload("serve_hot", hotMix, writePath = false),
    Workload("serve_cold", coldMix, writePath = true))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Fixed vocabulary of the hot classes: the generator's 40 keywords and its
    * 500 mid-frequency `util_` identifiers, Zipf-ranked in that order.
    */
  val hotVocab: Array[String] =
    CorpusGen.keywords ++ (0 until 500).map(i => s"util_$i")

  val zipfCdf: Array[Double] = {
    val w = hotVocab.indices.map(r => 1.0 / (r + 1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  val langs = Seq("scala", "java", "py", "cpp", "go", "rs")
}

/** Seeded query stream of one workload. Everything derives from
  * (seed, salt) and the corpus's own pure row function, so the same seed
  * gives the same stream and the engine only ever sees generated inputs.
  */
final class QueryStream(wl: Workload, seed: Long, salt: Long) {
  import Workloads._

  private val rng = new SplittableRandom(CorpusGen.mix64(seed ^ (salt * 0x632be59bd9b4e019L)))
  private val corpusCfg = CorpusGen.Config(ServeDocs, seed = seed)
  private val cycle = mutable.ArrayBuffer.empty[String]

  private def hot(): String = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    hotVocab(math.min(i, hotVocab.length - 1))
  }

  private def hotTerms(n: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += hot()
    out.toSeq
  }

  /** Occurrences of each class so far. A class's k and its structural
    * variant (template, util_ or sym_ pattern, filter column, ...) cycle
    * with this count, so every seed runs the same variants in the same
    * proportions; the seed picks the terms.
    */
  private val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val ks = Array(10, 1, 10, 100, 10)

  private def docTokens(): Array[String] =
    Tokenize.tokenize(CorpusGen.rowFor(rng.nextLong(ServeDocs), corpusCfg).content)

  private def hex(n: Int): String = (0 until n).map(_ => "0123456789abcdef"(rng.nextInt(16))).mkString
  private def symPrefix(): String = s"sym_00${rng.nextInt(4)}${hex(2)}"
  private def digit(): Int = rng.nextInt(10)

  /** A rare token and a common token of the same seeded document, so their
    * conjunction has at least that document as a hit.
    */
  private def rareAndCommon(): (String, String) = {
    var q: (String, String) = null
    while (q == null) {
      val toks = docTokens()
      val rare = toks.filter(_.startsWith("sym_"))
      val common = toks.filterNot(_.startsWith("sym_"))
      if (rare.nonEmpty && common.nonEmpty)
        q = (rare(rng.nextInt(rare.length)), common(rng.nextInt(common.length)))
    }
    q
  }

  /** Adjacent non-rare tokens of a seeded document (a phrase that matches). */
  private def docPhrase(len: Int): String = {
    var q: String = null
    while (q == null) {
      val toks = docTokens()
      val start = rng.nextInt(math.max(1, toks.length - len))
      val win = toks.slice(start, start + len)
      if (win.length == len && !win.exists(_.startsWith("sym_"))) q = win.mkString(" ")
    }
    q
  }

  private def nextClass(): String = {
    if (cycle.isEmpty) {
      cycle ++= wl.mix.flatMap { case (c, n) => Seq.fill(n)(c) }
      for (i <- cycle.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = cycle(i); cycle(i) = cycle(j); cycle(j) = t
      }
    }
    cycle.remove(cycle.size - 1)
  }

  def next(): Query = {
    val cls = nextClass()
    val n = seen(cls)
    seen(cls) = n + 1
    val k = ks(n % ks.length)
    val even = n % 2 == 0
    cls match {
      case "and" => Query(cls, hotTerms(2 + n % 3).mkString(" "), k)
      case "or" => Query(cls, hotTerms(3 + n % 3).mkString(" "), k)
      case "bool" =>
        val t = hotTerms(5)
        val q = n % 3 match {
          case 0 => s"(${t(0)} ${t(1)}) OR (${t(2)} -${t(3)})"
          case 1 => s"${t(0)} (${t(1)} OR ${t(2)})"
          case _ => s"(${t(0)} OR ${t(1)}) (${t(2)} OR ${t(3)}) -${t(4)}"
        }
        Query(cls, q, k)
      case "msm" =>
        val size = if (even) 3 else 4
        Query(cls, s"MSM ${2 + (n / 2) % (size - 2)} (${hotTerms(size).mkString(" ")})", k)
      case "dismax" =>
        val t = hotTerms(4)
        val q = if (even) s"DISMAX 0.3 (${t(0)} (${t(1)} ${t(2)}) ${t(3)})"
                else s"DISMAX (${t(0)} ${t(1)})"
        Query(cls, q, k)
      case "phrase" => Query(cls, docPhrase(if (even) 2 else 3), k)
      case "near" =>
        val t = hotTerms(if (even) 2 else 3)
        Query(cls, t.mkString(" "), k, window = t.size + 2 + rng.nextInt(6),
          ordered = (n / 2) % 2 == 0)
      case "rare_and" =>
        val (rare, common) = rareAndCommon()
        Query(cls, s"$rare $common", k)
      case "no_hit" => Query(cls, s"zzq_${hex(6)} ${hot()}", k)
      case "prefix" =>
        Query(cls, if (even) s"util_${digit()}${digit()}" else symPrefix(), k)
      case "wildcard" =>
        Query(cls, if (even) s"util_${digit()}*${digit()}" else s"${symPrefix()}?${hex(1)}*", k)
      case "regex" =>
        Query(cls, if (even) s"util_${digit()}[0-9]" else s"${symPrefix()}[0-9a-f]${hex(1)}.*", k)
      case "fuzzy" =>
        Query(cls, if (even) s"util_${rng.nextInt(500)}" else rareAndCommon()._1, k)
      case "trange" =>
        val lo = rng.nextInt(1 << 22)
        Query(cls, f"sym_$lo%08x", k, arg = f"sym_${lo + 256}%08x")
      case "filtered" =>
        val (c, v) = if (even) ("lang", langs(rng.nextInt(langs.size)))
                     else ("repo", f"repo-${rng.nextInt(40)}%04d")
        Query(cls, hotTerms(2).mkString(" "), k, arg = c, arg2 = v)
      case "collapse" =>
        Query(cls, s"${hot()} util_${rng.nextInt(500)}", k, arg = if (even) "repo" else "lang")
      case "sortby" =>
        Query(cls, s"util_${rng.nextInt(500)} util_${rng.nextInt(500)}", k, arg = "path")
      case "facets" =>
        Query(cls, s"util_${rng.nextInt(500)} ${hot()}", k, arg = "lang")
    }
  }
}
