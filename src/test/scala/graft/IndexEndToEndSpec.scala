package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.oracle.OracleBm25
import graft.query.Searcher

/** Golden end-to-end suite: deterministic corpus → build index → run the
  * fixed reference query set → compare (docId, score) lists RANK-IDENTICALLY
  * (same ids, same order, bit-equal scores) against the brute-force oracle —
  * the analog of the reference's golden-table protocol tests
  * (psi/apps/psi_launcher/psi_test.cc:153-282).
  */
class IndexEndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val (corpusDir, indexDir) = TestSpark.builtIndex
  lazy val files = spark.read.parquet(s"$corpusDir/files.parquet")
  lazy val searcher = new Searcher(spark, indexDir)

  test("index meta is sane") {
    val m = searcher.meta
    assert(m.numDocs == TestSpark.corpusCfg.numDocs)
    assert(m.avgdl > 30 && m.avgdl < 500)
    assert(m.numTerms > 100)
  }

  for ((name, query, k) <- CorpusGen.referenceQuerySet(TestSpark.corpusCfg)) {
    test(s"rank identity vs oracle: $name ('$query', k=$k)") {
      val got = searcher.search(query, k).collect().map(h => (h.docId, h.score))
      val want = OracleBm25.topK(files, query, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == want.length,
        s"size mismatch: got ${got.length}, want ${want.length}")
      got.zip(want).zipWithIndex.foreach { case (((gd, gs), (wd, ws)), i) =>
        assert(gd == wd, s"docId mismatch at rank $i: got $gd want $wd")
        assert(gs == ws, s"score mismatch at rank $i (doc $gd): got $gs want $ws")
      }
    }
  }

  test("no-hit query returns empty") {
    assert(searcher.search("zzqx_not_in_pool", 10).isEmpty)
  }

  test("searchDocs hydrates keys deterministically") {
    val rows = searcher.searchDocs("import val", 5).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("repo").startsWith("repo-")))
  }

  test("per-row sha256 invariant holds on the corpus") {
    import org.apache.spark.sql.functions._
    val bad = files
      .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256).as("s"))
      .join(spark.read.parquet(s"$corpusDir/ref_sha.parquet"),
        Seq("repo", "path", "commit"))
      .filter(col("s") =!= col("ref_sha256")).count()
    assert(bad == 0)
  }

  test("segment lineage manifests cover every build partition with metrics") {
    val m = spark.read.parquet(s"$indexDir/manifests/postings.parquet")
    assert(m.count() > 0)
    import spark.implicits._
    val total = m.agg(org.apache.spark.sql.functions.sum("postings")).as[Long].head()
    // total postings == the oracle's (term, docId) pairs
    val pairs = PostingsOracle.postings(spark, corpusDir, indexDir,
      searcher.meta.docsPerShard).count()
    assert(total == pairs, s"manifest postings $total != oracle (term, docId) pairs $pairs")
  }
}
