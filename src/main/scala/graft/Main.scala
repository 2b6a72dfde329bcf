package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.oracle.OracleBm25
import graft.query.Searcher

/** spark-submit entry point — the analog of the reference launcher
  * (`main --config`, psi/apps/psi_launcher/main.cc:59-105).
  *
  * Subcommands:
  *   gen    --docs N [--seed S] [--offset M] --out DIR   synthesize corpus
  *   build  --corpus DIR --index DIR [--docsPerShard N] [--stopAfter STAGE]
  *          [--positions true]  (positional index for phrase queries)
  *          [--partResume true] (per-partition postings commit/resume)
  *   query  --index DIR --q "TERMS" [--k K] [--or true] [--phrase true]
  *          [--near W]       (proximity: all terms within a W-token span)
  *          [--prefix true]  (wildcard: dictionary-expand q* then OR-score)
  *          [--regex true]   (anchored regex term query: dict-expand, OR-score)
  *          [--wildcard true] (glob term query `util_1?`/`ut*l`: ? = one char,
  *                            * = any run; dict-expand via regex, OR-score)
  *          [--bool true]    (boolean tree: `(a b) OR (c -d)`, `term^2` boosts,
  *                            DISMAX groups, MSM m (...) minimum-should-match,
  *                            CONST v (...) constant-score/filter clauses,
  *                            quoted phrases `"a b" OR c`)
  *          [--trange true]  (term range: --q "lo,hi", empty side = open end)
  *          [--synonym true] (Lucene SynonymQuery: --q's tokens score as ONE
  *                            term — tf summed, idf from the blended max df)
  *          [--mphrase true] (Lucene MultiPhraseQuery: --q "import def|class"
  *                            — slots split on spaces, alternatives on '|';
  *                            adjacency over slot unions, synonym scoring)
  *          [--pphrase true] (match_phrase_prefix: --q's LAST token is an
  *                            open prefix, dictionary-expanded into the
  *                            final multi-phrase slot — search-as-you-type)
  *          [--exclude T [--pre N] [--post N]] (with --phrase true: Lucene
  *                            SpanNotQuery — phrase occurrences with T
  *                            inside [start−N, end−1+N] are dropped)
  *          [--sortBy COL[:desc]] (field-sorted match set, Lucene Sort)
  *          [--collapse COL] (best-scoring doc per COL value, Lucene grouping)
  *          [--fuzzy E]      (Levenshtein-E term expansion, OR-score;
  *          [--fuzzyPrefix P] exact-prefix pushdown for the dict scan)
  *          [--from N]       (offset pagination of the conjunctive ranking)
  *          [--after N]      (cursor pagination: searchAfter past rank N)
  *          [--facet COL]    (facet counts over the full match set)
  *          [--facetRanges COL:B1,B2,..] (numeric range-bucket counts)
  *          [--facetStats COL] (count/min/max/sum/mean over the match set)
  *          [--sigterms N]   (ES significant_terms: top-N JLH-scored terms
  *                            of the match set vs the corpus)
  *          [--inOrder true] (with --near W: chain must follow query order)
  *          [--count true]   (total conjunctive hit count, no ranking)
  *          [--explain true] (per-term tf/df/idf/contribution for the top-k)
  *          [--where "lang = 'scala'"] [--deltas D1,D2] [--oracle CORPUS_DIR]
  *          [--tombstones PATH]  (exclude deleted docs)
  *          [--snippets CORPUS_DIR]  (print ±8-token context per hit)
  *   check  --index DIR   (index fsck: decode every segment, verify
  *          dict/dlens/docs/meta invariants; exit 4 on corruption)
  *   suggest --index DIR --q "TERMS" [--maxEdits E]
  *          (did-you-mean: nearest dictionary term per query token)
  *   mlt    --index DIR --corpus DIR --doc DOCID [--k K] [--oracle true]
  *          (more-like-this: tf*idf representative terms of the seed doc,
  *          OR-scored with the seed excluded)
  *   delete --index DIR [--deltas D1,D2] --keys PARQUET --tombstones PATH
  *          (tombstone docs by (repo, path, commit) keys — Lucene-style
  *          logical delete; `compact --tombstones` applies physically)
  *   ingest --watch DIR --base DIR --deltas DIR [--docsPerShard N]
  *          (drain-available-then-stop incremental delta indexing)
  *   convert --in PARQUET --out PARQUET --key K --labels a,b [--mode merge|extract]
  *          (APSI KV converter, psi/utils/csv_converter.h:31-80)
  *   stats  --index DIR   (meta, compression ratio, per-partition lineage
  *          distributions from the build manifests)
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def session(name: String): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")
    val b = SparkSession.builder().appName(name)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // under spark-submit the master comes from the submit command; standalone
    // runs (sbt run) fall back to local
    val withMaster = if (sys.props.contains("spark.master")) b else b.master(master)
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: gen|build|query [--flag value ...]")
    val opts = parseArgs(args)
    args(0) match {
      case "gen" =>
        val spark = session("psispark-gen")
        val cfg = CorpusGen.Config(
          numDocs = opts("docs").toLong,
          seed = opts.getOrElse("seed", "42").toLong,
          idOffset = opts.getOrElse("offset", "0").toLong)
        val t0 = System.nanoTime()
        CorpusGen.writeCorpus(spark, cfg, opts("out"))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"generated ${cfg.numDocs} docs in $sec%.1f s -> ${opts("out")}")
        spark.stop()

      case "build" =>
        val spark = session("psispark-build")
        // the build checkpoints/resumes at docs/dlens/postings/dict
        // (--stopAfter STAGE simulates a kill after that stage)
        val cfg = IndexConfig(
          docsPerShard = opts.getOrElse("docsPerShard", s"${1 << 12}").toInt,
          stopAfterStage = opts.getOrElse("stopAfter", ""),
          positions = opts.getOrElse("positions", "false").toBoolean,
          partitionedResume = opts.getOrElse("partResume", "false").toBoolean)
        val reporter =
          if (opts.getOrElse("progress", "true").toBoolean)
            Some(ProgressReporter.attach(spark, "build"))
          else None
        val t0 = System.nanoTime()
        val meta = IndexBuilder.buildFast(spark, opts("corpus"), opts("index"), cfg)
        val sec = (System.nanoTime() - t0) / 1e9
        reporter.foreach(ProgressReporter.detach(spark, _))
        if (meta == null)
          println(s"stopped after stage '${cfg.stopAfterStage}' (checkpoint test mode)")
        else {
          val tput = meta.numDocs / sec
          println(f"built index: ${meta.numDocs} docs, ${meta.numTerms} terms, " +
            f"${meta.numSegments} segments, ${meta.totalTokens} postings " +
            f"in $sec%.1f s ($tput%.0f files/sec)")
        }
        spark.stop()

      case "ingest" =>
        val spark = session("psispark-ingest")
        val cfg = IndexConfig(
          docsPerShard = opts.getOrElse("docsPerShard", s"${1 << 12}").toInt,
          positions = opts.getOrElse("positions", "false").toBoolean)
        val sq = graft.streaming.IncrementalIndexer.start(
          spark, opts("watch"), opts("base"), opts("deltas"), cfg)
        sq.processAllAvailable()
        sq.stop()
        val dirs = graft.streaming.IncrementalIndexer.deltaDirs(opts("deltas"))
        val docs = dirs.map(d => graft.index.IndexBuilder.readMeta(d).numDocs).sum
        println(s"ingested: ${dirs.size} delta batches, $docs docs total -> ${opts("deltas")}")
        spark.stop()

      case "compact" =>
        val spark = session("psispark-compact")
        val deltas = opts.get("deltas")
          .map(graft.streaming.IncrementalIndexer.deltaDirs).getOrElse(Nil)
        val t0 = System.nanoTime()
        val meta = IndexBuilder.compact(spark, opts("base"), deltas, opts("out"),
          opts.get("tombstones"))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"compacted ${deltas.size} deltas into ${opts("out")}: " +
          f"${meta.numDocs} docs, ${meta.numSegments} segments in $sec%.1f s" +
          opts.get("tombstones").map(_ => " (tombstones applied)").getOrElse(""))
        spark.stop()

      case "delete" =>
        val spark = session("psispark-delete")
        val deltas = opts.get("deltas").map(_.split(",").toSeq).getOrElse(Nil)
        val keys = spark.read.parquet(opts("keys"))
        val n = graft.index.Tombstones.applyDeletes(spark, keys,
          opts("index") +: deltas, opts("tombstones"))
        println(s"tombstoned: $n docs total -> ${opts("tombstones")}")
        spark.stop()

      case "stats" =>
        // index + lineage inspection (the reference prints PsiResultReport
        // counters at run end, psi/utils/table_utils.proto:21-27): meta
        // fields, physical footprint, compression ratio, and — when the
        // build wrote per-partition manifests — encode-throughput and
        // merge-fan-in distributions
        val spark = session("psispark-stats")
        import spark.implicits._
        import org.apache.spark.sql.functions._
        val dir = opts("index")
        val meta = IndexBuilder.readMeta(dir)
        println(s"index $dir")
        println(f"  docs=${meta.numDocs} terms=${meta.numTerms} " +
          f"segments=${meta.numSegments} postings=${meta.totalTokens} " +
          f"avgdl=${meta.avgdl}%.2f docsPerShard=${meta.docsPerShard}")
        println(s"  fingerprint=${meta.fingerprint}")
        val post = spark.read.parquet(s"$dir/postings.parquet")
        val hasPos = post.columns.contains("posBytes")
        val bytesCols = Seq(length($"docBytes"), length($"tfBytes")) ++
          (if (hasPos) Seq(coalesce(length($"posBytes"), lit(0))) else Nil)
        val row = post.agg(
          sum($"n".cast("long")).as("pairs"),
          sum(bytesCols.reduce(_ + _).cast("long")).as("bytes")).head()
        val (pairs, bytes) = (row.getLong(0), row.getLong(1))
        println(f"  postings pairs=$pairs compressedBytes=$bytes " +
          f"(${bytes.toDouble / pairs}%.2f B/posting; positional=$hasPos)")
        for (stage <- Seq("postings", "publish");
             p = s"$dir/manifests/$stage.parquet"
             if java.nio.file.Files.exists(java.nio.file.Paths.get(p))) {
          val m = spark.read.parquet(p)
            .withColumn("postingsPerSec",
              when($"elapsedMs" > 0, $"postings" * 1000.0 / $"elapsedMs"))
          val s = m.agg(count(lit(1)), sum($"postings"), sum($"bytesOut"),
            min($"postingsPerSec"), expr("percentile(postingsPerSec, 0.5)"),
            max($"postingsPerSec"), max($"fanIn")).head()
          // an empty/partial manifest (e.g. crash between last part commit
          // and the manifest write) aggregates to nulls — report what exists
          def gl(i: Int) = if (s.isNullAt(i)) 0L else s.getLong(i)
          val dist =
            if (s.isNullAt(3)) "postings/sec n/a"
            else f"postings/sec min=${s.getDouble(3)}%.0f " +
              f"p50=${s.getDouble(4)}%.0f max=${s.getDouble(5)}%.0f"
          println(f"  lineage[$stage]: partitions=${gl(0)} " +
            f"postings=${gl(1)} bytes=${gl(2)} $dist maxFanIn=${gl(6)}")
        }
        spark.stop()

      case "convert" =>
        // APSI KV conversion at the launcher surface (the reference ships
        // ApsiCsvConverter as tooling around its PIR flow,
        // psi/utils/csv_converter.h:31-80): merge a parquet table's label
        // columns per key into (key, value, key_count), or invert a merged
        // table back into rows.
        val spark = session("psispark-convert")
        val labels = opts("labels").split(",").toSeq
        val df = spark.read.parquet(opts("in"))
        val out = opts.getOrElse("mode", "merge") match {
          case "merge" => graft.ops.KvConverter.mergeLabels(df, opts("key"), labels)
          case "extract" => graft.ops.KvConverter.extractResult(df, opts("key"), labels)
          case m => sys.error(s"unknown convert mode '$m' (merge|extract)")
        }
        out.write.mode("overwrite").parquet(opts("out"))
        println(s"converted ${opts("in")} -> ${opts("out")} (${out.columns.mkString(",")})")
        spark.stop()

      case "check" =>
        // index fsck: re-verify every kernel invariant from the published
        // files; exit 4 on corruption so ops scripting can gate on it
        val spark = session("psispark-check")
        val report = graft.index.IndexCheck.check(spark, opts("index"))
        println(report.render)
        spark.stop()
        if (!report.ok) sys.exit(4)

      case "suggest" =>
        // did-you-mean: nearest dictionary term per query token
        val spark = session("psispark-suggest")
        val deltas = opts.get("deltas").map(_.split(",").toSeq).getOrElse(Nil)
        val searcher = new Searcher(spark, opts("index"), deltas,
          tombstones = opts.get("tombstones"))
        val maxEdits = opts.getOrElse("maxEdits", "2").toInt
        searcher.suggest(opts("q"), maxEdits).foreach {
          case (t, Some(s)) if s == t => println(s"  $t -> ok")
          case (t, Some(s)) => println(s"  $t -> did you mean '$s'?")
          case (t, None) => println(s"  $t -> no suggestion within $maxEdits edits")
        }
        spark.stop()

      case "mlt" =>
        // more-like-this: documents most similar to a seed doc
        val spark = session("psispark-mlt")
        val deltas = opts.get("deltas").map(_.split(",").toSeq).getOrElse(Nil)
        val searcher = new Searcher(spark, opts("index"), deltas,
          tombstones = opts.get("tombstones"))
        val docId = opts("doc").toLong
        val k = opts.getOrElse("k", "10").toInt
        val files = spark.read.parquet(s"${opts("corpus")}/files.parquet")
        val t0 = System.nanoTime()
        val terms = searcher.mltTerms(files, docId)
        val hits = searcher.moreLikeThis(files, docId, k).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"mlt doc=$docId top-$k in $ms%.0f ms; " +
          s"terms=${terms.mkString(" ")}")
        hits.foreach(h => println(f"  doc=${h.docId}%-8d score=${h.score}%.6f"))
        if (opts.get("oracle").exists(_.toBoolean)) {
          val want = OracleBm25.topKMlt(files, docId, k).collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
          val got = hits.map(h => (h.docId, h.score))
          val ok = got.sameElements(want)
          println(if (ok) s"ORACLE MATCH: rank-identical (${got.length} hits)"
                  else s"ORACLE MISMATCH:\n  got  ${got.toSeq}\n  want ${want.toSeq}")
          if (!ok) sys.exit(3)
        }
        spark.stop()

      case "query" =>
        val spark = session("psispark-query")
        val deltas = opts.get("deltas").map(_.split(",").toSeq).getOrElse(Nil)
        val searcher = new Searcher(spark, opts("index"), deltas,
          tombstones = opts.get("tombstones"))
        val q = opts("q")
        val k = opts.getOrElse("k", "10").toInt
        val orMode = opts.getOrElse("or", "false").toBoolean
        val phraseMode = opts.getOrElse("phrase", "false").toBoolean
        val prefixMode = opts.getOrElse("prefix", "false").toBoolean
        val regexMode = opts.getOrElse("regex", "false").toBoolean
        val wildcardMode = opts.getOrElse("wildcard", "false").toBoolean
        val boolMode = opts.getOrElse("bool", "false").toBoolean // e.g. --q "(a b) OR (c -d)" --bool true
        // --trange true: --q is "lo,hi" (either side empty = open end),
        // inclusive — Lucene TermRangeQuery `[lo TO hi]`
        val trangeMode = opts.getOrElse("trange", "false").toBoolean
        // --synonym true: --q's tokens are spelling variants of ONE word —
        // Lucene SynonymQuery (tf summed, idf from the blended max df)
        val synMode = opts.getOrElse("synonym", "false").toBoolean
        // --mphrase true: --q is a multi-phrase "import def|class" — slots
        // split on whitespace, per-slot alternatives on '|' (Lucene
        // MultiPhraseQuery: adjacency over slot unions, synonym scoring)
        val mphraseMode = opts.getOrElse("mphrase", "false").toBoolean
        // --pphrase true: --q's last token is an open prefix (Elasticsearch
        // match_phrase_prefix / Lucene MultiPhrasePrefixQuery)
        val pphraseMode = opts.getOrElse("pphrase", "false").toBoolean
        lazy val mphraseSlots: Seq[Seq[String]] =
          q.split("\\s+").toSeq.filter(_.nonEmpty)
            .map(_.split("\\|").toSeq.filter(_.nonEmpty))
        val whereExpr = opts.get("where") // e.g. --where "lang = 'scala'"
        val notExpr = opts.get("not").filter(_.nonEmpty) // e.g. --not "deprecated"
        val nearWin = opts.get("near").map(_.toInt) // e.g. --near 8 (proximity window)
        // --inOrder true: Lucene inOrder SpanNear (chain follows query order)
        val inOrder = opts.getOrElse("inOrder", "false").toBoolean
        // --first N modifies --phrase: the occurrence must END within the
        // first N token positions (Lucene SpanFirstQuery, end exclusive)
        val spanFirstEnd = opts.get("first").map(_.toInt)
        // --exclude T [--pre N] [--post N] modifies --phrase: Lucene
        // SpanNotQuery — occurrences overlapping (± slack) T are dropped
        val spanNotEx = opts.get("exclude").filter(_.nonEmpty)
        val spanPre = opts.getOrElse("pre", "0").toInt
        val spanPost = opts.getOrElse("post", "0").toInt
        val fuzzyEdits = opts.get("fuzzy").map(_.toInt) // e.g. --fuzzy 1 (Levenshtein edits)
        val fuzzyPrefix = opts.getOrElse("fuzzyPrefix", "0").toInt
        val fromRank = opts.getOrElse("from", "0").toInt // offset pagination
        // cursor pagination: skip the first N ranks via a searchAfter cursor
        // (page 1 of size N fetched once, its last hit becomes the cursor) —
        // same result contract as --from N, constant per-shard heap cost
        val afterRank = opts.getOrElse("after", "0").toInt
        // query modes are mutually exclusive — a second mode flag would be
        // SILENTLY dropped by dispatch precedence (mis-answering), so reject
        // any combination up front; check the PARSED value, not flag
        // presence (`--or false` is not a conflicting mode)
        val activeModes = Seq(
          "or" -> orMode, "phrase" -> phraseMode, "prefix" -> prefixMode,
          "regex" -> regexMode, "wildcard" -> wildcardMode,
          "bool" -> boolMode, "trange" -> trangeMode, "synonym" -> synMode,
          "mphrase" -> mphraseMode, "pphrase" -> pphraseMode,
          "where" -> whereExpr.exists(_.nonEmpty),
          "not" -> notExpr.nonEmpty,
          "near" -> nearWin.nonEmpty,
          "fuzzy" -> fuzzyEdits.nonEmpty).collect { case (m, true) => m }
        if (activeModes.length > 1)
          sys.error(s"query modes are mutually exclusive — got " +
            activeModes.map("--" + _).mkString(", "))
        if (inOrder && nearWin.isEmpty)
          sys.error("--inOrder modifies --near and cannot be used without it")
        if (spanFirstEnd.nonEmpty && !phraseMode)
          sys.error("--first modifies --phrase and cannot be used without it")
        if (spanNotEx.nonEmpty && !phraseMode)
          sys.error("--exclude modifies --phrase and cannot be used without it")
        if (spanNotEx.nonEmpty && spanFirstEnd.nonEmpty)
          sys.error("--exclude and --first cannot be combined")
        if ((spanPre != 0 || spanPost != 0) && spanNotEx.isEmpty)
          sys.error("--pre/--post modify --exclude and cannot be used without it")
        // --from pages the plain conjunctive ranking only (a paged variant
        // of every other mode would silently change its contract)
        if (fromRank > 0 && activeModes.nonEmpty)
          sys.error(s"--from paginates the default conjunctive ranking and " +
            s"cannot be combined with --${activeModes.head}")
        if (afterRank > 0 && (activeModes.nonEmpty || fromRank > 0))
          sys.error("--after paginates the default conjunctive ranking and " +
            "cannot be combined with " +
            (if (fromRank > 0) "--from" else s"--${activeModes.head}"))
        // snippets/facets/explain/count internally use conjunctive (AND)
        // matching — reject mode flags they would silently ignore too
        for (out <- Seq("snippets", "facet", "facetRanges", "facetStats",
               "explain", "count", "sortBy", "collapse", "sigterms")
               if opts.get(out).exists(v => v.nonEmpty && v != "false");
             mode <- activeModes)
          sys.error(s"--$out uses conjunctive (AND) matching and cannot be " +
            s"combined with --$mode")
        opts.get("snippets").foreach { corpusDir =>
          val files = spark.read.parquet(s"$corpusDir/files.parquet")
          val t0 = System.nanoTime()
          val rows = searcher.searchSnippets(q, k, files).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"query '$q' top-$k with snippets in $ms%.0f ms")
          rows.foreach(r => println(
            f"  doc=${r.getLong(0)}%-8d score=${r.getDouble(1)}%.6f  …${r.getString(2)}…"))
          spark.stop(); return
        }
        // --sigterms N — ES significant_terms (JLH) over the match set
        opts.get("sigterms").foreach { nStr =>
          val t0 = System.nanoTime()
          val rows = searcher.significantTerms(q, nStr.toInt).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"significant terms of '$q' in $ms%.0f ms")
          rows.foreach(r => println(
            f"  ${r.getString(0)}%-16s fg=${r.getLong(1)}%-6d bg=${r.getLong(2)}%-8d jlh=${r.getDouble(3)}%.6f"))
          spark.stop(); return
        }
        opts.get("facet").foreach { fc =>
          val t0 = System.nanoTime()
          val counts = searcher.searchFacets(q, fc).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"facets of '$q' by $fc in $ms%.0f ms")
          counts.foreach(r => println(f"  ${r.get(0)}%-12s ${r.getLong(1)}"))
          spark.stop(); return
        }
        // --facetStats COL — exact count/min/max/sum + mean over the match set
        opts.get("facetStats").foreach { fc =>
          val t0 = System.nanoTime()
          val r = searcher.searchFacetStats(q, fc).collect().head
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"stats facet of '$q' by $fc in $ms%.0f ms")
          println(s"  n=${r.getLong(0)} min=${r.getLong(1)} max=${r.getLong(2)} " +
            s"sum=${r.getLong(3)} mean=${r.getDouble(4)}")
          spark.stop(); return
        }
        // --facetRanges "dlen:250,300,350" — numeric bucket counts over the
        // conjunctive match set (Solr range facets)
        opts.get("facetRanges").foreach { spec =>
          val Array(fc, bstr) = spec.split(":", 2)
          val bounds = bstr.split(",").toSeq.map(_.trim.toDouble)
          val t0 = System.nanoTime()
          val rows = searcher.searchFacetRanges(q, fc, bounds).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"range facets of '$q' by $fc in $ms%.0f ms")
          rows.foreach(r => println(
            f"  [${Option(r.get(1)).getOrElse("-inf")}%-8s, " +
            f"${Option(r.get(2)).getOrElse("+inf")}%-8s)  n=${r.getLong(3)}"))
          spark.stop(); return
        }
        // --sortBy COL[:desc] — field-ordered match set (Lucene Sort)
        opts.get("sortBy").foreach { spec =>
          val (fc, asc) = spec.split(":", 2) match {
            case Array(c, "desc") => (c, false)
            case Array(c) => (c, true)
            case Array(c, o) => sys.error(s"--sortBy order must be 'desc', got '$o'")
          }
          val t0 = System.nanoTime()
          val rows = searcher.searchSortBy(q, k, fc, asc).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"query '$q' top-$k by $fc ${if (asc) "asc" else "desc"} in $ms%.0f ms")
          rows.foreach(r => println(f"  doc=${r.getLong(0)}%-8d $fc=${r.get(1)}"))
          spark.stop(); return
        }
        // --collapse COL — best-scoring doc per COL value (Lucene grouping)
        opts.get("collapse").foreach { fc =>
          val t0 = System.nanoTime()
          val rows = searcher.searchCollapse(q, k, fc).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"query '$q' collapsed by $fc (top-$k groups) in $ms%.0f ms")
          rows.foreach(r => println(
            f"  ${r.get(0)}%-12s doc=${r.getLong(1)}%-8d score=${r.getDouble(2)}%.6f"))
          spark.stop(); return
        }
        if (opts.getOrElse("count", "false").toBoolean) {
          val (n, ms) = { val t0 = System.nanoTime(); val c = searcher.searchCount(q)
            (c, (System.nanoTime() - t0) / 1e6) }
          println(f"count '$q': $n matching docs in $ms%.0f ms")
          spark.stop(); return
        }
        if (opts.getOrElse("explain", "false").toBoolean) {
          val t0 = System.nanoTime()
          val rows = searcher.explainHits(q, k).collect()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"explain '$q' top-$k in $ms%.0f ms")
          rows.foreach(r => println(
            f"  doc=${r.getLong(0)}%-8d score=${r.getDouble(1)}%.6f  " +
            f"${r.getString(2)}%-12s tf=${r.getInt(3)}%-4d df=${r.getLong(4)}%-6d " +
            f"idf=${r.getDouble(5)}%.4f  contrib=${r.getDouble(6)}%.6f"))
          spark.stop(); return
        }
        // --trange: q = "lo,hi", an empty side is an open end
        lazy val trangeBounds: (Option[String], Option[String]) =
          q.split(",", -1) match {
            case Array(lo, hi) =>
              (Some(lo.trim).filter(_.nonEmpty), Some(hi.trim).filter(_.nonEmpty))
            case _ => sys.error(s"--trange expects --q \"lo,hi\", got '$q'")
          }
        val t0 = System.nanoTime()
        val hits = (if (phraseMode) spanNotEx
                      .map(searcher.searchSpanNot(q, _, k, spanPre, spanPost))
                      .orElse(spanFirstEnd.map(searcher.searchSpanFirst(q, k, _)))
                      .getOrElse(searcher.searchPhrase(q, k))
                    else if (prefixMode) searcher.searchPrefix(q, k)
                    else if (regexMode) searcher.searchRegex(q, k)
                    else if (trangeMode)
                      searcher.searchTermRange(trangeBounds._1, trangeBounds._2, k)
                    else if (synMode)
                      searcher.searchSynonym(q.split("\\s+").toSeq, k)
                    else if (mphraseMode)
                      searcher.searchMultiPhrase(mphraseSlots, k)
                    else if (pphraseMode)
                      searcher.searchPhrasePrefix(q, k)
                    else if (wildcardMode) searcher.searchWildcard(q, k)
                    else if (boolMode) searcher.searchBool(q, k)
                    else if (orMode) searcher.searchOr(q, k)
                    else if (fuzzyEdits.nonEmpty)
                      searcher.searchFuzzy(q, k, fuzzyEdits.get, fuzzyPrefix)
                    else (nearWin, notExpr, whereExpr) match {
                      case (Some(w), _, _) => searcher.searchNear(q, k, w, inOrder)
                      case (None, Some(ne), _) => searcher.searchNot(q, ne, k)
                      case (None, None, Some(w)) => searcher.searchWhere(q, k,
                        org.apache.spark.sql.functions.expr(w))
                      case (None, None, None) =>
                        if (fromRank > 0) searcher.searchPage(q, k, fromRank)
                        else if (afterRank > 0) searcher.searchAfter(q, k,
                          searcher.search(q, afterRank).collect().last)
                        else searcher.search(q, k)
                    }).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"query '$q' top-$k in $ms%.0f ms " +
          s"(scored=${searcher.candidatesScored.value} pruned=${searcher.candidatesPruned.value} " +
          s"shards=${searcher.shardsTouched.value})")
        hits.foreach(h => println(f"  doc=${h.docId}%-8d score=${h.score}%.6f"))
        opts.get("oracle").foreach { corpusDir =>
          val files = spark.read.parquet(s"$corpusDir/files.parquet")
          val oracleDf =
            if (phraseMode) spanNotEx
              .map(OracleBm25.topKSpanNot(files, q, _, k, spanPre, spanPost))
              .getOrElse(OracleBm25.topKPhrase(files, q, k,
                maxEnd = spanFirstEnd.getOrElse(Int.MaxValue)))
            // prefix/regex rewrite to OR over the dictionary expansion; the
            // expansion rule itself is deterministic (df desc, term asc, cap)
            // and spec-tested — the CLI oracle checks the SCORING of it
            else if (prefixMode) OracleBm25.topKOr(files,
              searcher.expandPrefix(q).mkString(" "), k)
            else if (regexMode) OracleBm25.topKOr(files,
              searcher.expandRegex(q).mkString(" "), k)
            else if (trangeMode) OracleBm25.topKOr(files,
              searcher.expandTermRange(trangeBounds._1, trangeBounds._2)
                .mkString(" "), k)
            else if (synMode)
              OracleBm25.topKSynonym(files, q.split("\\s+").toSeq, k)
            else if (mphraseMode)
              OracleBm25.topKMultiPhrase(files, mphraseSlots, k)
            // phrase-prefix: the expansion rule is deterministic and
            // spec-tested — the CLI oracle checks the multi-phrase
            // contract over the engine's expansion
            else if (pphraseMode) {
              val toks = graft.index.Tokenize.tokenize(q)
              // expansion cap passed EXPLICITLY so this oracle can never
              // silently diverge from searchPhrasePrefix's default
              OracleBm25.topKMultiPhrase(files,
                toks.init.map(Seq(_)).toSeq :+
                  searcher.expandPrefix(toks.last,
                    maxExpand = graft.query.Searcher.DefaultMaxExpand), k)
            }
            else if (wildcardMode) OracleBm25.topKOr(files,
              searcher.expandWildcard(q).mkString(" "), k)
            // multi-term leaves (util_1*, util_7~1) are rewritten with the
            // engine's dictionary expansion (rule spec-tested) — the CLI
            // oracle checks the boolean scoring of the rewritten tree
            else if (boolMode)
              searcher.rewriteBoolTree(graft.query.BoolQuery.parse(q)) match {
                case Some(t) => OracleBm25.topKBool(files, t, k)
                case None =>
                  import spark.implicits._
                  Seq.empty[(Long, Double)].toDF("docId", "score")
              }
            else if (orMode) OracleBm25.topKOr(files, q, k)
            else if (fuzzyEdits.nonEmpty) OracleBm25.topKOr(files,
              searcher.expandFuzzy(q, fuzzyEdits.get, fuzzyPrefix).mkString(" "), k)
            else (nearWin, notExpr, whereExpr) match {
              case (Some(w), _, _) =>
                if (inOrder) OracleBm25.topKNearOrdered(files, q, w, k)
                else OracleBm25.topKNear(files, q, w, k)
              case (None, Some(ne), _) => OracleBm25.topKNot(files, q, ne, k)
              case (None, None, Some(w)) => OracleBm25.topKWhere(files, q, k,
                org.apache.spark.sql.functions.expr(w))
              // paged oracle: top-(skip+k) minus the first `skip` ranks
              // (skip = --from or --after; both page the same exact ranking)
              case (None, None, None) =>
                OracleBm25.topK(files, q, math.max(fromRank, afterRank) + k)
            }
          val want = oracleDf.collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
            .drop(math.max(fromRank, afterRank))
          val got = hits.map(h => (h.docId, h.score))
          val ok = got.sameElements(want)
          println(if (ok) s"ORACLE MATCH: rank-identical (${got.length} hits)"
                  else s"ORACLE MISMATCH:\n  got  ${got.toSeq}\n  want ${want.toSeq}")
          if (!ok) sys.exit(3)
        }
        spark.stop()

      case other => sys.error(s"unknown subcommand: $other")
    }
  }
}
