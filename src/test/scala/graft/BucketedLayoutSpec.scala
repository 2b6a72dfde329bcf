package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig}
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** Plan shape of the shard-bucketed postings layout: on a bucketed index
  * every scoring path groups the scan by shard where it reads it (no
  * Exchange), `shard IN` prunes bucket files, and the unbucketed read of the
  * same files — old meta.json, base+delta unions — returns bit-identical
  * hits through the exchange Catalyst inserts instead.
  */
class BucketedLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val cfg = IndexConfig(docsPerShard = 256, positions = true)

  /** A fresh positional buildFast index over the shared corpus. */
  lazy val (corpusDir, indexDir) = {
    val (c, _) = TestSpark.builtIndex
    val d = s"${TestSpark.workDir}/index_bucketed"
    IndexBuilder.buildFast(spark, c, d, cfg)
    (c, d)
  }

  /** One query per kernel family the hot workload exercises. */
  private val queries: Seq[(String, Searcher => Dataset[Hit])] = Seq(
    "search" -> (_.search("import def", 10)),
    "searchOr" -> (_.searchOr("import util_7", 10)),
    "searchBool" -> (_.searchBool("(import def) OR (class -val)", 10)),
    "searchPhrase" -> (_.searchPhrase("import def", 10)),
    "searchNear" -> (_.searchNear("import util_7", 10, 8)))

  /** Runs `ds` and returns its hits plus the executed (final AQE) plan. */
  private def run(ds: Dataset[Hit]): (Seq[Hit], SparkPlan) = {
    val hits = ds.collect().toSeq
    (hits, ds.queryExecution.executedPlan)
  }
  private def exchanges(p: SparkPlan) = collect(p) { case e: Exchange => e }
  private def scans(p: SparkPlan) = collect(p) { case s: FileSourceScanExec => s }

  private def assertBucketedNoExchange(s: Searcher, where: String): Unit =
    queries.foreach { case (name, q) =>
      val (hits, plan) = run(q(s))
      assert(hits.nonEmpty, s"$where $name: no hits — the plan check would be vacuous")
      assert(exchanges(plan).isEmpty, s"$where $name: Exchange in\n$plan")
      val ss = scans(plan)
      assert(ss.nonEmpty && ss.forall(_.bucketedScan),
        s"$where $name: postings scan not bucketed in\n$plan")
    }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { (p: Path) =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  test("a fresh index publishes bucket files and records the count in meta.json") {
    val meta = IndexBuilder.readMeta(indexDir)
    assert(meta.buckets == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val files = new java.io.File(s"$indexDir/postings.parquet").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(f =>
      BucketingUtils.getBucketId(f).exists(id => id >= 0 && id < meta.buckets)),
      s"unbucketed file names: ${files.mkString(", ")}")
  }

  test("scoring paths on a bucketed index plan no Exchange over a bucketed scan") {
    val s = new Searcher(spark, indexDir)
    try assertBucketedNoExchange(s, "fresh index") finally s.close()
  }

  test("a rare-term AND selects fewer bucket files than the bucket count") {
    val buckets = IndexBuilder.readMeta(indexDir).buckets
    val rare = spark.read.parquet(s"$indexDir/postings.parquet")
      .groupBy("term").agg(countDistinct("shard").as("shards"))
      .filter(col("shards") === 1).orderBy("term").head().getString(0)
    val s = new Searcher(spark, indexDir)
    try {
      val (hits, plan) = run(s.search(rare, 10))
      assert(hits.nonEmpty)
      val selected = scans(plan).flatMap(_.optionalBucketSet).map(_.cardinality())
      assert(selected.nonEmpty && selected.forall(_ < buckets),
        s"'$rare' selected $selected of $buckets buckets in\n$plan")
    } finally s.close()
  }

  test("old-layout meta.json and a base+delta Searcher return bit-identical hits") {
    val oldDir = s"${TestSpark.workDir}/index_bucketed_oldmeta"
    copyTree(indexDir, oldDir)
    val metaPath = Paths.get(oldDir, "meta.json")
    val json = new String(Files.readAllBytes(metaPath), StandardCharsets.UTF_8)
    Files.write(metaPath, json.replaceAll(",\"buckets\":\\d+", "")
      .getBytes(StandardCharsets.UTF_8))
    assert(IndexBuilder.readMeta(oldDir).buckets == 0)

    val bucketed = new Searcher(spark, indexDir)
    val old = new Searcher(spark, oldDir)
    try queries.foreach { case (name, q) =>
      val (want, _) = run(q(bucketed))
      val (got, plan) = run(q(old))
      assert(got == want, s"old layout $name")
      assert(exchanges(plan).nonEmpty, s"old layout $name did not take the exchange path")
    } finally { bucketed.close(); old.close() }

    // base+delta (a union read, the old-layout path) vs the compaction of
    // the same parts, which publishes bucketed again
    val files = spark.read.parquet(s"$corpusDir/files.parquet")
    val delta = s"${TestSpark.workDir}/index_bucketed_delta"
    IncrementalIndexer.indexBatch(spark,
      files.orderBy("repo", "path", "commit").limit(300), delta,
      IndexBuilder.readMeta(indexDir).numDocs, cfg)
    val compacted = s"${TestSpark.workDir}/index_bucketed_compacted"
    val cMeta = IndexBuilder.compact(spark, indexDir, Seq(delta), compacted)
    assert(cMeta.buckets > 0 && IndexBuilder.readMeta(compacted).buckets == cMeta.buckets)
    val union = new Searcher(spark, indexDir, Seq(delta))
    val merged = new Searcher(spark, compacted)
    try {
      queries.foreach { case (name, q) =>
        val (want, plan) = run(q(union))
        assert(exchanges(plan).nonEmpty, s"base+delta $name did not take the exchange path")
        assert(run(q(merged))._1 == want, s"base+delta vs compacted $name")
      }
      assertBucketedNoExchange(merged, "compacted index")
    } finally { union.close(); merged.close() }
  }

  test("partitionedResume publishes the same bucketed layout as the direct build") {
    val partDir = s"${TestSpark.workDir}/index_bucketed_parts"
    val meta = IndexBuilder.buildFast(spark, corpusDir, partDir,
      cfg.copy(partitionedResume = true))
    assert(meta.buckets == IndexBuilder.readMeta(indexDir).buckets)
    def segs(dir: String) = spark.read.parquet(s"$dir/postings.parquet")
      .select("term", "shard", "n", "docBytes", "tfBytes", "posBytes")
    assert(segs(partDir).exceptAll(segs(indexDir)).isEmpty)
    assert(segs(indexDir).exceptAll(segs(partDir)).isEmpty)
    val s = new Searcher(spark, partDir)
    try assertBucketedNoExchange(s, "partitionedResume index") finally s.close()
  }

  test("close() destroys the norms broadcast, is idempotent, and refuses queries") {
    val s = new Searcher(spark, indexDir)
    assert(s.normsBroadcast.isEmpty) // nothing broadcast before a query
    s.search("import def", 5).collect()
    val bc = s.normsBroadcast.getOrElse(fail("no norms broadcast after a query"))
    assert(bc.value.nonEmpty)
    s.close()
    s.close()
    intercept[SparkException](bc.value)
    intercept[IllegalArgumentException](s.search("import def", 5))
  }
}
