package psibench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Hit
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexCheck, IndexConfig, Tombstones}
import graft.oracle.OracleBm25
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** Benchmark of record for the engine's serving and write paths.
  *
  * One JVM runs one workload: set-up (corpus generation, index build,
  * Searcher open, warm-up) several times, a closed-loop timed window with
  * one client, then the answer checks. It drives the engine only through
  * public entry points and writes one JSON run record (plus, when traced,
  * the span file); `benchmark/run.py` turns the record into metrics.
  *
  * Usage: RepoBench --workload W --seed N --seconds S --trace 0|1
  *                  --cpus C --work DIR --out FILE [--trace-out FILE]
  *        RepoBench selftest
  */
object RepoBench {

  /** Set-ups per run; `setup_s` is their median. One: a set-up in a fresh
    * JVM is what a user pays, and a second one would cost a quarter of the
    * run budget.
    */
  val Setups = 1
  /** Docs per ingest micro-batch and micro-batches per run (write path). */
  val BatchDocs = 1000
  val Batches = 2
  val DeletesPerBatch = 3
  /** Warm-up queries per set-up: enough for the JIT to settle, so the
    * window measures steady state rather than the warm-up trajectory.
    */
  val WarmQueries = 12
  /** Answers re-checked against the brute-force oracle after the window. */
  val OracleSample = 1

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { sys.exit(SelfTest.run()) }
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(Workloads.byName(opt("workload")), opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1", opt("cpus").toInt, opt("work"))
    val record = run.execute()
    Files.write(Paths.get(opt("out")), Json.write(record).getBytes("UTF-8"))
    opt.get("trace-out").filter(_ => run.traced).foreach { p =>
      Files.createDirectories(Paths.get(p).getParent)
      Files.write(Paths.get(p), Json.write(run.spanRecords).getBytes("UTF-8"))
    }
    sys.exit(0)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("psispark-repobench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Spark keeps a history of finished jobs and SQL executions for its UI;
      // a short history keeps the live heap a measure of the engine's own
      // state (term cache, broadcasts) rather than of how many queries ran
      .config("spark.ui.retainedJobs", 20)
      .config("spark.ui.retainedStages", 20)
      .config("spark.ui.retainedTasks", 1000)
      .config("spark.sql.ui.retainedExecutions", 10)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Bytes of the data files under `dir` (checksums and markers excluded). */
  def dataBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }.map(Files.size).sum
    finally s.close()
  }

  /** (host busy, host steal, own process) CPU ticks from /proc; zeros where
    * absent. Busy excludes idle, iowait and steal.
    */
  def cpuTicks(): (Long, Long, Long) = {
    def read(p: String): Option[String] =
      scala.util.Try(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).toOption
    val host = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong))
    val busy = host.map(f => f.take(7).sum - f(3) - f(4)).getOrElse(0L)
    val steal = host.map(_(7)).getOrElse(0L)
    val own = read("/proc/self/stat").map { l =>
      val f = l.substring(l.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    }.getOrElse(0L)
    (busy, steal, own)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Heap used after full GCs. The pauses let Spark's ContextCleaner drop the
    * blocks of broadcasts the first GC found unreachable, before the last GC.
    */
  def heapLiveMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}

/** The outcome of one operation. */
final case class OpRecord(id: String, q: Query, planMs: Double, execMs: Double,
                          traced: Boolean, error: Option[String],
                          hits: Array[Hit], acc: Seq[Long])

final class Run(wl: Workload, seed: Long, seconds: Double, val traced: Boolean,
                cpus: Int, work: String) {
  import RepoBench._

  private val spark = session(cpus, work)
  private val sc = spark.sparkContext
  import spark.implicits._

  private val listener = if (traced) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)
  private val tracer = new Tracer(traced)
  private val untraced = new Tracer(false)

  private val docs = Workloads.ServeDocs
  private val cfg = CorpusGen.Config(docs, seed = seed)
  private val indexConfig = IndexConfig(docsPerShard = Workloads.DocsPerShard, positions = true)
  private val corpusDir = s"$work/corpus"
  private val indexDir = s"$work/index"
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var opCount = 0

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[repobench] FAILED: $what")
  }

  /** Plans one query (the call that returns a Dataset: tokenize, term lookup,
    * dictionary expansion) — the execution is the `collect()` after it.
    */
  private def plan(s: Searcher, q: Query): Either[Dataset[Hit], DataFrame] = q.cls match {
    case "and" | "rare_and" | "no_hit" | "delta_and" => Left(s.search(q.text, q.k))
    case "or" => Left(s.searchOr(q.text, q.k))
    case "bool" | "msm" | "dismax" => Left(s.searchBool(q.text, q.k))
    case "phrase" => Left(s.searchPhrase(q.text, q.k))
    case "near" => Left(s.searchNear(q.text, q.k, q.window, q.ordered))
    case "prefix" => Left(s.searchPrefix(q.text, q.k))
    case "wildcard" => Left(s.searchWildcard(q.text, q.k))
    case "regex" => Left(s.searchRegex(q.text, q.k))
    case "fuzzy" => Left(s.searchFuzzy(q.text, q.k))
    case "trange" => Left(s.searchTermRange(Some(q.text), Some(q.arg), q.k))
    case "filtered" => Left(s.searchWhere(q.text, q.k, col(q.arg) === q.arg2))
    case "collapse" => Right(s.searchCollapse(q.text, q.k, q.arg))
    case "sortby" => Right(s.searchSortBy(q.text, q.k, q.arg))
    case "facets" => Right(s.searchFacets(q.text, q.arg))
  }

  /** Runs, times and checks one query; a throw or a broken invariant is a
    * failed operation.
    */
  private def runOp(s: Searcher, q: Query, docIdBound: Long, tr: Tracer): OpRecord = {
    val id = s"op$opCount"
    opCount += 1
    attempted += 1
    val accs = Seq(s.candidatesScored, s.candidatesPruned, s.shardsTouched)
    val acc0 = if (tr.on) accs.map(_.value.longValue) else Nil
    var planMs, execMs = 0.0
    var hits = Array.empty[Hit]
    val err = try {
      tr.span(sc, "query", id) { root =>
        val t0 = System.nanoTime()
        val planned = tr.span(sc, "query.plan", id, root)(_ => plan(s, q))
        val t1 = System.nanoTime()
        val problem = tr.span(sc, "query.exec", id, root) { _ =>
          planned match {
            case Left(ds) => hits = ds.collect(); Check.hits(hits, q.k, docIdBound)
            case Right(df) => Check.rows(q.cls, df.collect(), q.k, docIdBound)
          }
        }
        val t2 = System.nanoTime()
        planMs = ms(t0, t1); execMs = ms(t1, t2)
        problem
      }
    } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach(e => fail(s"$id ${q.render}: $e"))
    val acc = if (tr.on) accs.map(_.value.longValue).zip(acc0).map { case (a, b) => a - b } else Nil
    OpRecord(id, q, planMs, execMs, tr.on, err, hits, acc)
  }

  private def opJson(r: OpRecord): Map[String, Any] = Map(
    "id" -> r.id, "cls" -> r.q.cls, "k" -> r.q.k, "query" -> r.q.render,
    "plan_ms" -> r.planMs, "exec_ms" -> r.execMs, "ok" -> r.error.isEmpty,
    "traced" -> r.traced, "acc" -> r.acc)

  /** Fills the term cache with the whole hot vocabulary (one OR over all of
    * it) for the hot mix, then runs a few queries of a stream disjoint from
    * the timed one.
    */
  private def warmUp(s: Searcher): Unit = {
    if (wl.mix == Workloads.hotMix) s.searchOr(Workloads.hotVocab.mkString(" "), 1).collect()
    val warm = new QueryStream(wl, seed, salt = 2)
    (0 until WarmQueries).foreach { _ => runOp(s, warm.next(), docs, untraced) }
  }

  private val setups = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def setUp(r: Int): Searcher = {
    deleteTree(corpusDir); deleteTree(indexDir)
    val op = s"setup$r"
    val t0 = System.nanoTime()
    tracer.span(sc, "corpus.gen", op)(_ => CorpusGen.writeCorpus(spark, cfg, corpusDir))
    val t1 = System.nanoTime()
    tracer.span(sc, "index.build", op)(_ =>
      IndexBuilder.buildFast(spark, corpusDir, indexDir, indexConfig))
    val t2 = System.nanoTime()
    val s = tracer.span(sc, "query.open", op)(_ => new Searcher(spark, indexDir))
    val t3 = System.nanoTime()
    tracer.span(sc, "query.first", op)(_ => s.search("import def", 10).collect())
    val t4 = System.nanoTime()
    tracer.span(sc, "warmup", op)(_ => warmUp(s))
    val t5 = System.nanoTime()
    setups += Map("total_s" -> ms(t0, t5) / 1e3, "gen_s" -> ms(t0, t1) / 1e3,
      "build_s" -> ms(t1, t2) / 1e3, "open_ms" -> ms(t2, t3), "first_ms" -> ms(t3, t4),
      "warm_s" -> ms(t4, t5) / 1e3, "group" -> op)
    s
  }

  /** The docs table of the published index joined back to the raw corpus —
    * the docId-carrying input the scalable oracle needs.
    */
  private lazy val filesWithId: DataFrame = {
    val df = spark.read.parquet(s"$indexDir/docs.parquet").select("docId", "repo", "path", "commit")
      .join(spark.read.parquet(s"$corpusDir/files.parquet"), Seq("repo", "path", "commit"))
      .select("docId", "content").persist()
    df.count()
    df
  }

  private def oracle(q: Query): Option[Array[Hit]] = {
    val df = q.cls match {
      case "and" | "rare_and" => Some(OracleBm25.topKScalable(filesWithId, q.text, q.k))
      case "or" => Some(OracleBm25.topKScalable(filesWithId, q.text, q.k, conjunctive = false))
      case _ => None
    }
    df.map(_.as[(Long, Double)].collect().map { case (d, s) => Hit(d, s) })
  }

  /** A seeded sample of the window's answers, re-checked against the oracle. */
  private def oracleCheck(ops: Seq[OpRecord]): Seq[Map[String, Any]] = {
    val rng = new java.util.SplittableRandom(CorpusGen.mix64(seed ^ 0x5eedL))
    val pool = mutable.ArrayBuffer.from(ops.filter(o => o.error.isEmpty &&
      Set("and", "rare_and", "or").contains(o.q.cls)))
    val picked = (0 until math.min(OracleSample, pool.size)).map(_ => pool.remove(rng.nextInt(pool.size)))
    picked.map { o =>
      val t0 = System.nanoTime()
      val problem = try oracle(o.q).flatMap(Check.sameAsOracle(o.hits, _))
        catch { case e: Exception => Some(s"oracle: ${e.getMessage}") }
      problem.foreach(p => fail(s"${o.id} ${o.q.render} vs oracle: $p"))
      Map("id" -> o.id, "cls" -> o.q.cls, "ok" -> problem.isEmpty,
        "ms" -> ms(t0, System.nanoTime()))
    }
  }

  private def docIdOf(dirs: Seq[String], path: String): Long =
    spark.read.parquet(dirs.map(d => s"$d/docs.parquet"): _*)
      .filter($"path" === path).select($"docId").as[Long].collect().headOption.getOrElse(-1L)

  private def rareTokens(id: Long): Seq[String] =
    graft.index.Tokenize.tokenize(CorpusGen.rowFor(id, cfg).content)
      .filter(_.startsWith("sym_")).distinct.take(2).toSeq

  /** Two rare tokens of one document: a conjunction that finds just it. */
  private def rareQuery(id: Long): String = rareTokens(id).mkString(" ")

  /** A seeded doc id in [lo, lo + n) whose doc has two rare tokens. */
  private def pickDoc(rng: java.util.SplittableRandom, lo: Long, n: Long): Long =
    Iterator.continually(lo + rng.nextLong(n)).find(rareTokens(_).size == 2).get

  /** Micro-batch ingest beside the served index: per batch `indexBatch` of new
    * docs, `applyDeletes` of seeded base docs, a Searcher reopen and the first
    * query that must find a new doc; then `compact` with the tombstones and
    * `IndexCheck` of the result. Fresh docs must be found and deleted docs
    * must stay hidden, before and after compaction.
    */
  private def writePath(): Map[String, Any] = {
    val deltasDir = s"$work/deltas"
    val tomb = s"$work/tombstones.parquet"
    val compacted = s"$work/compacted"
    val rng = new java.util.SplittableRandom(CorpusGen.mix64(seed ^ 0xde17aL))
    val deleted = (0 until Batches * DeletesPerBatch).map(_ => pickDoc(rng, 0, docs)).distinct
    val deltas = mutable.ArrayBuffer.empty[String]
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val fresh = mutable.ArrayBuffer.empty[Long]
    val hot = new QueryStream(Workloads.byName("serve_hot"), seed, salt = 3)
    val deltaOps = mutable.ArrayBuffer.empty[OpRecord]
    var searcher: Searcher = null
    for (b <- 0 until Batches) {
      val op = s"write$b"
      val first = docs + b.toLong * BatchDocs
      val dir = f"$deltasDir/batch_$b%05d"
      val batch = CorpusGen.generate(spark, cfg.copy(numDocs = BatchDocs, idOffset = first)).toDF()
      val freshId = pickDoc(rng, first, BatchDocs)
      fresh += freshId
      val dels = deleted.slice(b * DeletesPerBatch, (b + 1) * DeletesPerBatch)
      val keys = dels.map(CorpusGen.rowFor(_, cfg)).map(r => (r.repo, r.path, r.commit))
        .toDF("repo", "path", "commit")
      attempted += 1
      val t0 = System.nanoTime()
      tracer.span(sc, "streaming.index_batch", op)(_ =>
        IncrementalIndexer.indexBatch(spark, batch, dir, first, indexConfig))
      deltas += dir
      val t1 = System.nanoTime()
      tracer.span(sc, "index.apply_deletes", op)(_ =>
        Tombstones.applyDeletes(spark, keys, indexDir +: deltas.toSeq, tomb))
      val t2 = System.nanoTime()
      searcher = tracer.span(sc, "query.open", op)(_ =>
        new Searcher(spark, indexDir, deltas.toSeq, tombstones = Some(tomb)))
      val t3 = System.nanoTime()
      val got = tracer.span(sc, "query.first", op)(_ => searcher.search(rareQuery(freshId), 10).collect())
      val t4 = System.nanoTime()
      val want = docIdOf(Seq(dir), CorpusGen.rowFor(freshId, cfg).path)
      if (!got.exists(_.docId == want)) fail(s"$op: fresh doc $freshId (docId $want) not found")
      cycles += Map("index_batch_ms" -> ms(t0, t1), "apply_deletes_ms" -> ms(t1, t2),
        "open_ms" -> ms(t2, t3), "first_ms" -> ms(t3, t4), "freshness_ms" -> ms(t0, t4),
        "group" -> op)
      (0 until 2).foreach { _ =>
        val q = hot.next()
        deltaOps += runOp(searcher, Query("delta_and", q.text, q.k), docs + deltas.size * BatchDocs, tracer)
      }
    }
    val deletedIds = deleted.map(d => docIdOf(Seq(indexDir), CorpusGen.rowFor(d, cfg).path))
    def visibility(s: Searcher, where: String): Unit = {
      deleted.zip(deletedIds).foreach { case (d, docId) =>
        attempted += 1
        if (s.search(rareQuery(d), 10).collect().exists(_.docId == docId))
          fail(s"$where: deleted doc $d (docId $docId) still visible")
      }
    }
    visibility(searcher, "after deletes")
    attempted += 1
    val t0 = System.nanoTime()
    tracer.span(sc, "index.compact", "compact")(_ =>
      IndexBuilder.compact(spark, indexDir, deltas.toSeq, compacted, Some(tomb)))
    val t1 = System.nanoTime()
    attempted += 1
    val report = tracer.span(sc, "check", "check")(_ => IndexCheck.check(spark, compacted))
    if (!report.ok) fail(s"IndexCheck of the compacted index: ${report.render}")
    val s2 = new Searcher(spark, compacted)
    visibility(s2, "after compaction")
    fresh.zipWithIndex.foreach { case (f, b) =>
      attempted += 1
      val want = docIdOf(Seq(f"$deltasDir/batch_$b%05d"), CorpusGen.rowFor(f, cfg).path)
      if (!s2.search(rareQuery(f), 10).collect().exists(_.docId == want))
        fail(s"after compaction: fresh doc $f (docId $want) not found")
    }
    Map("cycles" -> cycles, "compact_s" -> ms(t0, t1) / 1e3,
      "delta_ops" -> deltaOps.map(opJson))
  }

  private def indexStats(): Map[String, Any] = {
    val meta = IndexBuilder.readMeta(indexDir)
    val postings = spark.read.parquet(s"$indexDir/postings.parquet")
      .agg(sum($"n".cast("long"))).as[Long].head()
    val contentBytes = spark.read.parquet(s"$corpusDir/files.parquet")
      .agg(sum(octet_length($"content").cast("long"))).as[Long].head()
    val bytes = Seq("postings", "dict", "docs", "dlens")
      .map(a => a -> dataBytes(s"$indexDir/$a.parquet")).toMap
    Map("postings" -> postings, "terms" -> meta.numTerms, "segments" -> meta.numSegments,
      "bytes" -> bytes, "content_bytes" -> contentBytes)
  }

  def execute(): scala.collection.Map[String, Any] = {
    val t0 = System.nanoTime()
    var searcher: Searcher = null
    (0 until Setups).foreach(r => searcher = setUp(r))

    // timed window: closed loop, one client, no think time. In a traced run
    // every fourth query runs untraced, for the tracing overhead.
    val stream = new QueryStream(wl, seed, salt = 1)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val gc0 = gcMs()
    val (busy0, steal0, own0) = cpuTicks()
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < seconds * 1e9) {
      val tr = if (traced && ops.size % 4 != 3) tracer else untraced
      ops += runOp(searcher, stream.next(), docs, tr)
    }
    val w1 = System.nanoTime()
    val (busy1, steal1, own1) = cpuTicks()
    val gcWindow = gcMs() - gc0
    val heap = heapLiveMb()
    val windowS = ms(w0, w1) / 1e3

    val c0 = System.nanoTime()
    val oracleRes = oracleCheck(ops.toSeq)
    val checkS = ms(c0, System.nanoTime()) / 1e3
    // the write path feeds only per-layer metrics, so it runs in traced runs
    val write = if (!(wl.writePath && traced)) None
      else try Some(writePath())
      catch { case e: Exception =>
        attempted += 1
        fail(s"write path: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    val index = indexStats()

    listener.foreach(_.awaitQuiet())
    val hostCores = scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).asScala
      .count(_.matches("cpu\\d+ .*"))).getOrElse(0)
    val ticksPerS = 100.0 // USER_HZ
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "cpus" -> cpus, "docs" -> docs,
      "traced" -> traced, "seconds" -> seconds, "window_s" -> windowS,
      "setups" -> setups, "ops" -> ops.map(opJson), "gc_window_ms" -> gcWindow,
      "heap_live_mb" -> heap, "oracle" -> oracleRes, "check_s" -> checkS,
      "index" -> index, "write" -> write,
      "host" -> Map("cores" -> hostCores,
        "external_busy_cores" -> ((busy1 - busy0) - (own1 - own0)).max(0L) / ticksPerS / windowS,
        "steal_cores" -> (steal1 - steal0) / ticksPerS / windowS,
        "own_cores" -> (own1 - own0) / ticksPerS / windowS),
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.take(20),
      "run_s" -> ms(t0, System.nanoTime()) / 1e3)
    listener.foreach(l => rec("groups") = l.synchronized(l.groups.map {
      case (g, s) => g -> groupJson(s) }.toMap))
    spark.stop()
    rec
  }

  private def groupJson(s: GroupStats): Map[String, Any] = Map(
    "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks, "task_ms" -> s.taskMs,
    "cpu_ms" -> s.cpuMs, "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
    "input_rows" -> s.inputRows, "output_bytes" -> s.outputBytes,
    "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
    "map_task_ms" -> s.mapTaskMs, "reduce_task_ms" -> s.reduceTaskMs,
    "task_skew" -> s.taskSkew)

  /** Spans with the Spark totals of their own job group attached. */
  def spanRecords: Seq[Map[String, Any]] = tracer.spans.toSeq.map { s =>
    val g = listener.map(_.get(s"${s.op}.${s.name}")).map(groupJson).getOrElse(Map.empty)
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counts" -> g)
  }
}
