package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{IndexBuilder, IndexConfig, IndexMeta}
import graft.psi.PsiJoin
import graft.query.Searcher

/** Embedded API facade — the analog of the reference's `api::PsiExecute`
  * (psi/apps/psi_launcher/launch.h:56-77): one entry point a user of the
  * reference can switch to, next to the spark-submit `graft.Main`.
  *
  * {{{
  * val handle = PsiSpark.buildIndex(spark, corpusDir, indexDir)
  * handle.query("import def util_7", k = 10)            // AND top-k
  * handle.queryOr("import zzz", k = 10)                 // OR top-k
  * handle.queryBatch(Seq(("q1", "import val", 10)))     // one job, many queries
  *
  * PsiSpark.psiExecute(left, right, Seq("key"), PsiJoin.Inner)
  * }}}
  */
object PsiSpark {

  /** Build (resumable per artifact — a kill mid-build restarts from the
    * last committed artifact) and open the index.
    */
  def buildIndex(spark: SparkSession, corpusDir: String, indexDir: String,
                 cfg: IndexConfig = IndexConfig()): IndexHandle = {
    IndexBuilder.buildFast(spark, corpusDir, indexDir, cfg)
    openIndex(spark, indexDir)
  }

  /** Open a previously-built index, optionally with streaming deltas and a
    * tombstone file (`Tombstones.applyDeletes`) excluding deleted docs.
    */
  def openIndex(spark: SparkSession, indexDir: String,
                deltaDirs: Seq[String] = Nil,
                tombstones: Option[String] = None): IndexHandle =
    new IndexHandle(spark, indexDir, deltaDirs, tombstones)

  /** The reference's PSI execution as one call: duplicate-aware join of two
    * tables on equal-named key columns, plus the result report.
    */
  def psiExecute(left: DataFrame, right: DataFrame, keys: Seq[String],
                 kind: PsiJoin.JoinKind = PsiJoin.Inner,
                 nullRep: String = "NULL",
                 strategy: PsiJoin.Strategy = PsiJoin.Auto,
                 align: Boolean = false): PsiResult = {
    val out = PsiJoin.join(left, right, keys, kind, nullRep, strategy, align)
    PsiResult(out, PsiJoin.report(left, right, keys))
  }

  case class PsiResult(output: DataFrame, report: PsiJoin.Report)
}

/** A built index: metadata + query methods (the reference's UB-PSI online
  * phase — query against the prebuilt cache, psi/interface.cc:281-312).
  */
class IndexHandle(spark: SparkSession, val indexDir: String,
                  deltaDirs: Seq[String] = Nil,
                  tombstones: Option[String] = None) {
  val searcher = new Searcher(spark, indexDir, deltaDirs,
    tombstones = tombstones)
  def meta: IndexMeta = searcher.meta

  /** Conjunctive top-k (docId, score), hydrated with document keys. */
  def query(q: String, k: Int): DataFrame = searcher.searchDocs(q, k)

  /** Conjunctive top-k (docId, score) only. */
  def queryIds(q: String, k: Int) = searcher.search(q, k)

  /** Disjunctive top-k. */
  def queryOr(q: String, k: Int) = searcher.searchOr(q, k)

  /** Exact-phrase top-k (requires IndexConfig(positions = true) at build). */
  def queryPhrase(q: String, k: Int) = searcher.searchPhrase(q, k)

  /** Span-first top-k: the phrase must end within the first `end` token
    * positions (Lucene SpanFirstQuery rule, 0-based, end exclusive).
    */
  def querySpanFirst(q: String, k: Int, end: Int) =
    searcher.searchSpanFirst(q, k, end)

  /** Wildcard `prefix*` top-k (dictionary expansion → OR scoring). */
  def queryPrefix(prefix: String, k: Int) = searcher.searchPrefix(prefix, k)

  /** Facet counts over the full conjunctive match set. */
  def queryFacets(q: String, facetCol: String) = searcher.searchFacets(q, facetCol)

  /** Numeric range facets (bucket counts) over the match set. */
  def queryFacetRanges(q: String, facetCol: String, bounds: Seq[Double]) =
    searcher.searchFacetRanges(q, facetCol, bounds)

  /** Stats facet (count/min/max/sum/mean) over the match set. */
  def queryFacetStats(q: String, facetCol: String) =
    searcher.searchFacetStats(q, facetCol)

  /** Top-k with ±window-token snippets from the given corpus table. */
  def querySnippets(q: String, k: Int, files: DataFrame, window: Int = 8) =
    searcher.searchSnippets(q, k, files, window)

  /** Conjunctive top-k restricted by a docs-table metadata predicate. */
  def queryWhere(q: String, k: Int, predicate: org.apache.spark.sql.Column) =
    searcher.searchWhere(q, k, predicate)

  /** Many queries in one Spark job → (query_name, docId, score, rank). */
  def queryBatch(queries: Seq[(String, String, Int)],
                 conjunctive: Boolean = true): DataFrame =
    searcher.searchBatch(queries, conjunctive)

  /** Boolean-tree top-k (`(a b) OR (c -d)`, boosts `a^2`). */
  def queryBool(q: String, k: Int) = searcher.searchBool(q, k)

  /** Fuzzy top-k (Levenshtein-≤maxEdits dictionary expansion → OR). */
  def queryFuzzy(term: String, k: Int, maxEdits: Int = 1) =
    searcher.searchFuzzy(term, k, maxEdits)

  /** Proximity top-k: all terms within a `window`-token span. */
  def queryNear(q: String, k: Int, window: Int, ordered: Boolean = false) =
    searcher.searchNear(q, k, window, ordered)

  /** Negated conjunctive top-k (`q` AND NOT any of `notTerms`). */
  def queryNot(q: String, notTerms: String, k: Int) =
    searcher.searchNot(q, notTerms, k)

  /** Regex term top-k (anchored full-term dictionary match → OR). */
  def queryRegex(pattern: String, k: Int) = searcher.searchRegex(pattern, k)

  /** Wildcard (glob) term query: `?` = one char, `*` = any run. */
  def queryWildcard(glob: String, k: Int) = searcher.searchWildcard(glob, k)

  /** Ranks `from .. from+k-1` of the exact conjunctive ranking. */
  def queryPage(q: String, k: Int, from: Int) = searcher.searchPage(q, k, from)

  /** Cursor pagination: the next k hits strictly after `after` — constant
    * cost per page at any depth (vs queryPage's offset-linear cost).
    */
  def queryAfter(q: String, k: Int, after: Hit) = searcher.searchAfter(q, k, after)

  /** Total conjunctive hit count. */
  def queryCount(q: String): Long = searcher.searchCount(q)

  /** Per-term tf/df/idf/contribution breakdown for the top-k hits. */
  def queryExplain(q: String, k: Int): DataFrame = searcher.explainHits(q, k)

  /** Documents most similar to a seed doc (tf·idf term selection → OR). */
  def queryMoreLikeThis(files: DataFrame, docId: Long, k: Int) =
    searcher.moreLikeThis(files, docId, k)

  /** Did-you-mean: per-token nearest dictionary term. */
  def querySuggest(q: String, maxEdits: Int = 2) = searcher.suggest(q, maxEdits)

  /** Term range top-k (Lucene TermRangeQuery `[lo TO hi]`): lexicographic
    * dictionary expansion → OR scoring. Open ends via None.
    */
  def queryTermRange(lo: Option[String], hi: Option[String], k: Int,
                     includeLo: Boolean = true, includeHi: Boolean = true) =
    searcher.searchTermRange(lo, hi, k, includeLo, includeHi)

  /** Field-sorted match set (Lucene Sort(SortField)): top-k by a docs
    * column, docId tiebreak.
    */
  def querySortBy(q: String, k: Int, sortCol: String, asc: Boolean = true) =
    searcher.searchSortBy(q, k, sortCol, asc)

  /** Field collapse (Lucene grouping): the best-scoring doc per value of
    * a docs column, groups ranked by their best hit.
    */
  def queryCollapse(q: String, k: Int, groupCol: String) =
    searcher.searchCollapse(q, k, groupCol)

  /** Synonym query (Lucene SynonymQuery): the variants score as ONE term —
    * tf summed per doc, idf from the blended (max) df.
    */
  def querySynonym(variants: Seq[String], k: Int) =
    searcher.searchSynonym(variants, k)

  /** Multi-phrase query (Lucene MultiPhraseQuery): each position holds a
    * set of alternative terms; adjacency over slot unions, synonym-blended
    * scoring per distinct slot. Requires a positional index.
    */
  def queryMultiPhrase(slots: Seq[Seq[String]], k: Int) =
    searcher.searchMultiPhrase(slots, k)

  /** Phrase-prefix query (Elasticsearch `match_phrase_prefix`): the last
    * token is an open prefix, dictionary-expanded (df desc, cap) into the
    * final multi-phrase slot — the search-as-you-type shape.
    */
  def queryPhrasePrefix(q: String, k: Int, maxExpand: Int = 64) =
    searcher.searchPhrasePrefix(q, k, maxExpand)

  /** Significant terms (Elasticsearch `significant_terms`, JLH heuristic):
    * the top-n terms unusually frequent in `q`'s conjunctive match set
    * relative to the whole corpus — (term, fg_df, bg_df, score) rows.
    */
  def querySignificantTerms(q: String, n: Int, minFgDf: Int = 1) =
    searcher.significantTerms(q, n, minFgDf)

  /** Span-not query (Lucene SpanNotQuery): phrase occurrences overlapping
    * (± pre/post slack) the exclude term are dropped; docs with a
    * surviving occurrence keep the phrase query's scores.
    */
  def querySpanNot(phrase: String, exclude: String, k: Int,
                   pre: Int = 0, post: Int = 0) =
    searcher.searchSpanNot(phrase, exclude, k, pre, post)
}
