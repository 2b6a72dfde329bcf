package psibench

import graft.Hit
import graft.corpus.CorpusGen

/** Checks of the benchmark's own machinery that need no Spark: the answer
  * checker must flag a one-ulp score change, and the seed must fix the
  * corpus and the query stream. Returns the process exit code.
  */
object SelfTest {

  def corpusFingerprint(seed: Long, docs: Int = 2000): String =
    CorpusGen.sha256Hex((0 until docs).map(i => CorpusGen.rowFor(i, CorpusGen.Config(docs, seed = seed)))
      .map(r => s"${r.repo}|${r.path}|${r.commit}|${r.content}").mkString("\n"))

  def streamFingerprint(wl: Workload, seed: Long, n: Int = 300): String = {
    val s = new QueryStream(wl, seed, salt = 1)
    CorpusGen.sha256Hex((0 until n).map(_ => s.next().render).mkString("\n"))
  }

  def run(): Int = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) problems += what
    }

    val hits = Array(Hit(4, 3.25), Hit(1, 2.5), Hit(7, 2.5), Hit(0, 1.0))
    expect(Check.sameAsOracle(hits, hits.clone()).isEmpty, "identical answers pass the oracle check")
    for (i <- hits.indices) {
      val bumped = hits.clone()
      bumped(i) = Hit(hits(i).docId, Math.nextUp(hits(i).score))
      expect(Check.sameAsOracle(bumped, hits).nonEmpty, s"a 1-ulp change of score $i is flagged")
    }
    expect(Check.sameAsOracle(hits.reverse, hits).nonEmpty, "a reordered answer is flagged")
    expect(Check.hits(hits, 10, 8).isEmpty, "a well-formed answer passes the invariants")
    expect(Check.hits(hits, 3, 8).nonEmpty, "more than k hits is flagged")
    expect(Check.hits(hits, 10, 5).nonEmpty, "a docId out of range is flagged")
    expect(Check.hits(Array(hits(2), hits(1)), 10, 8).nonEmpty, "a docId tie out of order is flagged")

    expect(corpusFingerprint(11) == corpusFingerprint(11), "the same seed gives the same corpus")
    expect(corpusFingerprint(11) != corpusFingerprint(12), "another seed gives another corpus")
    for (wl <- Workloads.all) {
      expect(streamFingerprint(wl, 11) == streamFingerprint(wl, 11),
        s"${wl.name}: the same seed gives the same query stream")
      expect(streamFingerprint(wl, 11) != streamFingerprint(wl, 12),
        s"${wl.name}: another seed gives another query stream")
    }
    val hot = new QueryStream(Workloads.byName("serve_hot"), 11, salt = 1)
    val warm = new QueryStream(Workloads.byName("serve_hot"), 11, salt = 2)
    expect((0 until 50).map(_ => hot.next()) != (0 until 50).map(_ => warm.next()),
      "the warm-up stream differs from the timed stream")

    println(if (problems.isEmpty) "SELFTEST OK" else s"SELFTEST FAILED: ${problems.size}")
    if (problems.isEmpty) 0 else 1
  }
}
