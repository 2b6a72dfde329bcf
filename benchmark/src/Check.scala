package psibench

import org.apache.spark.sql.Row

import graft.Hit

/** Answer checks. Every answer passes the cheap invariants; a seeded sample
  * is also compared with the brute-force oracle, rank for rank and bit for
  * bit. Each function returns the first problem found, or None.
  */
object Check {

  private def ranked(a: Hit, b: Hit): Boolean =
    a.score > b.score || (a.score == b.score && a.docId < b.docId)

  /** At most k hits, docIds in [0, docIdBound), finite scores, ordered by
    * (score desc, docId asc) with no repeated docId.
    */
  def hits(hs: Array[Hit], k: Int, docIdBound: Long): Option[String] = {
    if (hs.length > k) return Some(s"${hs.length} hits for k=$k")
    hs.find(h => h.docId < 0 || h.docId >= docIdBound)
      .foreach(h => return Some(s"docId ${h.docId} outside [0, $docIdBound)"))
    hs.find(h => h.score.isNaN || h.score.isInfinite)
      .foreach(h => return Some(s"non-finite score for docId ${h.docId}"))
    hs.indices.drop(1).find(i => !ranked(hs(i - 1), hs(i)))
      .map(i => s"rank ${i - 1} -> $i out of (score desc, docId asc) order")
  }

  /** Rank- and score-identical: same docIds in the same order, scores equal
    * to the last bit.
    */
  def sameAsOracle(engine: Array[Hit], oracle: Array[Hit]): Option[String] = {
    if (engine.length != oracle.length)
      return Some(s"engine has ${engine.length} hits, oracle ${oracle.length}")
    engine.indices.find { i =>
      engine(i).docId != oracle(i).docId ||
        java.lang.Double.doubleToRawLongBits(engine(i).score) !=
          java.lang.Double.doubleToRawLongBits(oracle(i).score)
    }.map(i => s"rank $i: engine ${engine(i)} vs oracle ${oracle(i)}")
  }

  /** Rows of the DataFrame-returning classes. */
  def rows(cls: String, rs: Array[Row], k: Int, docIdBound: Long): Option[String] =
    cls match {
      case "collapse" =>
        // (group, docId, score): one row per group, ranked like hits
        val hs = rs.map(r => Hit(r.getLong(1), r.getDouble(2)))
        if (rs.map(_.get(0)).distinct.length != rs.length) Some("repeated collapse group")
        else hits(hs, k, docIdBound)
      case "sortby" =>
        // (docId, key): ascending key, then docId
        if (rs.length > k) return Some(s"${rs.length} rows for k=$k")
        rs.find(r => r.getLong(0) < 0 || r.getLong(0) >= docIdBound)
          .foreach(r => return Some(s"docId ${r.getLong(0)} out of range"))
        rs.indices.drop(1).find { i =>
          val c = rs(i - 1).getString(1).compareTo(rs(i).getString(1))
          c > 0 || (c == 0 && rs(i - 1).getLong(0) >= rs(i).getLong(0))
        }.map(i => s"sort order broken at row $i")
      case "facets" =>
        // (value, n): ascending distinct values, positive counts
        rs.find(_.getLong(1) <= 0).map(r => s"facet count ${r.getLong(1)}")
          .orElse(rs.indices.drop(1)
            .find(i => rs(i - 1).getString(0).compareTo(rs(i).getString(0)) >= 0)
            .map(i => s"facet values out of order at row $i"))
      case other => Some(s"no row check for class $other")
    }
}
