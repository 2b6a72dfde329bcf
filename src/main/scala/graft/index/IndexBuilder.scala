package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft._
import graft.sources.CorpusSource

/** Build configuration — the analog of the reference's declarative
  * `PsiConfig` (psi/proto/psi_v2.proto:320-397).
  *
  * @param docsPerShard docId-range shard width. The shard IS the hot-term
  *   salt: a term with df >> docsPerShard is split across ceil(N/docsPerShard)
  *   shards, bounding every (term, shard) posting run — the same job the
  *   reference's bucket-count negotiation does
  *   (`NegotiateBucketNum`, psi/utils/bucket.cc:141-168, bucket_size 2^20).
  * @param buildPartitions width of the wide shuffles (0 = negotiated from
  *   input data volume, see IndexBuilder.negotiatePartitions; never from
  *   core count).
  * @param verifySha enforce the per-row `sha256(content)` invariant against
  *   the corpus sidecar (input_hint; reference analog
  *   psi/utils/csv_checker.cc:104).
  */
case class IndexConfig(docsPerShard: Int = 1 << 12,
                       buildPartitions: Int = 0,
                       k1: Double = 1.2,
                       b: Double = 0.75,
                       verifySha: Boolean = true,
                       stopAfterStage: String = "",
                       positions: Boolean = false,
                       partitionedResume: Boolean = false) {
  // partitionedResume is NOT part of the fingerprint: it changes only the
  // recovery granularity of the postings stage (per reduce partition vs per
  // artifact), never the published index content, so artifacts from the two
  // modes compose across resume attempts.
  // v3 (r5): postings schema gained the avgdl-free per-block stats
  // (blockMaxTf/blockMinDlen) — the version bump makes every pre-r5 index
  // fail the freshness/fingerprint checks loudly instead of crashing the
  // reader on missing columns. v4: postings are published shard-bucketed
  // (IndexBuilder.writeBucketed), so a resume never composes artifacts or
  // committed parts of the (term, shard)-hashed v3 layout with v4 ones
  def fingerprint: String =
    CorpusFp.sha(s"v4|$docsPerShard|$k1|$b|$verifySha|$positions")
}

private object CorpusFp {
  def sha(s: String): String = graft.corpus.CorpusGen.sha256Hex(s)
}

/** Index metadata persisted as `meta.json`; written last = publish marker.
  *
  * @param buckets bucket count of the shard-bucketed `postings.parquet`
  *   (see [[IndexBuilder.writeBucketed]]); 0 = absent from meta.json, i.e.
  *   an unbucketed layout (streaming deltas, indexes written before v4).
  */
case class IndexMeta(numDocs: Long, totalTokens: Long, avgdl: Double,
                     k1: Double, b: Double, docsPerShard: Int,
                     numTerms: Long, numSegments: Long, fingerprint: String,
                     buckets: Int = 0)

/** Resumable inverted-index build (SURVEY.md §3.1 build-job trace); the one
  * entry point is [[IndexBuilder.buildFast]].
  *
  * Stages (each materialized, committed by a `_stage_<name>.json` marker; a
  * rerun skips stages whose marker carries the same config fingerprint — the
  * analog of the reference's `RecoveryCheckpoint` stage enum + safe-point
  * resume, psi/checkpoint/recovery.h:37-121):
  *
  *   docs      corpus → sha256 verify + deterministic dense docId assignment
  *             (total order of (repo,path,commit), one range sort + partition
  *             offsets — no global window, no RDD) → docs table with dlen
  *   dlens     per-shard packed dlen arrays (map-side packed, [[packDlens]])
  *   postings  dup-key reject, map-side tokenize + draft encode, one shard
  *             hash exchange (= hash bucket spill analog,
  *             psi/utils/hash_bucket_cache.cc:49-61), reduce-side finalize
  *             into the shard-bucketed query layout (writeBucketed) +
  *             per-partition lineage
  *   dict      term dictionary (df, cf) derived from the posting segments
  *
  * meta.json is written last and is the publish marker.
  */
object IndexBuilder {

  /** Wide-shuffle width when the config leaves it unset (0): derived from
    * the INPUT DATA VOLUME, never from core count — the analog of the
    * reference's bucket-count negotiation `bucket_count = ceil(n /
    * bucket_size)` (psi/utils/bucket.cc:141-168). ~64 MB of on-disk corpus
    * parquet per partition keeps each reduce task's sort + encode working
    * set bounded regardless of cluster size; the session's
    * spark.sql.shuffle.partitions acts as the floor so tiny inputs still
    * use every executor.
    */
  private def negotiatePartitions(spark: SparkSession, corpusDir: String): Int = {
    val floor = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // the volume probe below is parquet-layout-specific; an iceberg corpus
    // is addressed by table identifier, so there is no files.parquet to
    // stat — use the session floor (an iceberg deployment sizes the wide
    // shuffles explicitly via IndexConfig.buildPartitions, or extends this
    // probe to the table's snapshot summary stats)
    if (CorpusSource.format(spark) != "parquet") return floor
    val p = try {
      val path = new org.apache.hadoop.fs.Path(s"$corpusDir/files.parquet")
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      val bytes = fs.getContentSummary(path).getLength
      math.ceil(bytes / (64L << 20).toDouble).toInt
    } catch {
      case e: Exception =>
        // fall back to the session floor, but say so — a silently-small
        // partition count on a big input means giant reduce tasks
        System.err.println(s"[psispark] WARN partition negotiation failed for " +
          s"$corpusDir (${e.getClass.getSimpleName}: ${e.getMessage}); " +
          s"falling back to spark.sql.shuffle.partitions = $floor")
        0
    }
    math.max(floor, p)
  }

  /** Per-row `sha256(content)` invariant vs the corpus sidecar (input_hint;
    * reference analog psi/utils/csv_checker.cc:104), over an ALREADY-HASHED
    * (repo, path, commit, got_sha) projection — buildFast verifies from the
    * persisted docId sort pass, which computes sha256 anyway. One LEFT join
    * over keys+hash (~100 B/row through the exchange): a row with no sidecar
    * entry is an UNCOVERED failure — silent partial verification is exactly
    * the vacuous-pass mode an inner join would hide — and a covered row with
    * a differing hash is a MISMATCH failure.
    */
  private def verifyShaKeyed(spark: SparkSession, keyed: DataFrame,
                             corpusDir: String, keyCols: Seq[String]): Unit = {
    val checked = keyed
      .join(CorpusSource.readRefSha(spark, corpusDir), keyCols, "left")
      .agg(
        count(lit(1)).as("total"),
        count(when(col("ref_sha256").isNull, 1)).as("uncovered"),
        count(when(col("ref_sha256").isNotNull &&
          col("got_sha") =!= col("ref_sha256"), 1)).as("mismatched"))
      .head()
    val (total, uncovered, mismatched) =
      (checked.getLong(0), checked.getLong(1), checked.getLong(2))
    require(uncovered == 0,
      s"$uncovered of $total rows have no ref_sha.parquet sidecar entry — " +
        "sha256 coverage is incomplete, refusing to index unverified rows")
    require(mismatched == 0,
      s"$mismatched of $total rows fail the sha256(content) invariant")
  }

  /** Per-shard packed dlen arrays of a docs table (docId, dlen). Packed
    * MAP-SIDE — one partial zero-filled array per scan-partition × shard —
    * and overlay-merged per shard, so the exchange carries a few hundred
    * array rows instead of one row per document. Order-independent: a docId
    * writes its own slot, zeros elsewhere, and mergeLens overlays non-zero
    * slots. `bound` is the exclusive docId bound that caps the last shard's
    * array (numDocs for a build, the batch's end for a streaming delta, max
    * docId + 1 for a compaction with holes).
    */
  private[graft] def packDlens(docs: DataFrame, dps: Int, bound: Long): Dataset[ShardLens] = {
    import docs.sparkSession.implicits._
    docs.select($"docId", $"dlen").as[(Long, Int)]
      .mapPartitions { it =>
        val m = new java.util.HashMap[Int, Array[Int]]()
        it.foreach { case (docId, dlen) =>
          val shard = (docId / dps).toInt
          val first = shard.toLong * dps
          var arr = m.get(shard)
          if (arr == null) {
            arr = new Array[Int](math.min(dps.toLong, bound - first).toInt)
            m.put(shard, arr)
          }
          arr((docId - first).toInt) = dlen
        }
        import scala.jdk.CollectionConverters._
        m.entrySet().iterator().asScala.map(e =>
          ShardLens(e.getKey, e.getKey.toLong * dps, e.getValue))
      }
      .groupByKey(_.shard)
      .mapGroups((_, it) => graft.query.Searcher.mergeLens(it))
  }

  def readMeta(indexDir: String): IndexMeta = Metrics.readMetaJson(s"$indexDir/meta.json")

  /** Compact a base index plus streaming delta mini-indexes into one fresh
    * standalone index: per-(term, shard) posting runs are merged in docId
    * order and re-encoded, block-max metadata is recomputed against the
    * COMBINED corpus avgdl (so query-time pruning is admissible again), the
    * dictionary and per-shard dlens are re-aggregated. The analog of the
    * reference regenerating its server cache after appends
    * (UB-PSI OFFLINE_GEN_CACHE, psi/interface.cc:281-312).
    *
    * With `tombstonePath` set, compaction additionally APPLIES DELETES
    * physically (the Lucene merge analog): tombstoned docs are dropped from
    * the docs table, dlens and every posting run; corpus statistics
    * (numDocs, totalTokens, avgdl) are recomputed over the survivors, so
    * idf/norms — and the recomputed block-max bounds, hence pruning —
    * reflect the post-delete corpus. Surviving docIds are NOT renumbered
    * (holes are fine: docIds are opaque identities and the shard geometry
    * keys off ranges).
    */
  def compact(spark: SparkSession, baseDir: String, deltaDirs: Seq[String],
              outDir: String, tombstonePath: Option[String] = None): IndexMeta = {
    import spark.implicits._
    Files.createDirectories(Paths.get(outDir))
    val dirs = baseDir +: deltaDirs
    val metas = dirs.map(readMeta)
    val base = metas.head
    require(metas.forall(m => m.k1 == base.k1 && m.b == base.b &&
      m.docsPerShard == base.docsPerShard),
      "all parts must share k1/b/docsPerShard")
    val (k1, b) = (base.k1, base.b)
    val dps = base.docsPerShard
    val P = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val tombstoneDf = tombstonePath.map(p => Tombstones.read(spark, p).persist())

    val docsAll = spark.read.parquet(dirs.map(d => s"$d/docs.parquet"): _*)
    val docsOut = tombstoneDf match {
      case Some(ts) => docsAll.join(ts.select("docId"), Seq("docId"), "left_anti")
      case None => docsAll
    }
    docsOut.write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs.parquet")

    // corpus stats over the SURVIVORS (with deletes, the parts' meta sums
    // overstate the corpus; one narrow agg over the written docs table)
    val (numDocs, totalTokens) =
      if (tombstoneDf.isEmpty) (metas.map(_.numDocs).sum, metas.map(_.totalTokens).sum)
      else {
        val r = spark.read.parquet(s"$outDir/docs.parquet")
          .agg(count(lit(1)), sum($"dlen".cast("long"))).head()
        // sum() over zero rows is NULL — guard before getLong
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    require(numDocs > 0, "all documents are deleted — compaction would " +
      "produce an empty index (avgdl undefined); drop the index instead " +
      "of compacting it")
    val avgdl = totalTokens.toDouble / numDocs

    if (tombstoneDf.isEmpty) {
      spark.read.parquet(dirs.map(d => s"$d/dlens.parquet"): _*).as[ShardLens]
        .groupByKey(_.shard)
        .mapGroups((_, it) => graft.query.Searcher.mergeLens(it))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/dlens.parquet")
    } else {
      // rebuild dlens from the filtered docs table: deleted slots stay 0
      // (never dereferenced — the docs are gone from every posting run too).
      // Shard extents span the ORIGINAL docId range (ids are not renumbered).
      val docs = spark.read.parquet(s"$outDir/docs.parquet")
      val bound = docs.agg(max($"docId")).as[Long].head() + 1
      packDlens(docs, dps, bound)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/dlens.parquet")
    }

    // tombstones ride the same cogroup as the posting segments, one
    // exclusion row per shard under DeletedTerm (same trick as query time)
    def exclusionSegs: Dataset[PostingSeg] = tombstoneDf match {
      case None => spark.emptyDataset[PostingSeg]
      case Some(ts) =>
        ts.select($"docId", $"shard").as[(Long, Int)]
          .groupByKey(_._2)
          .mapGroups { (shard, it) =>
            val ids = it.map(_._1).toArray.sorted
            PostingSeg(graft.query.Searcher.DeletedTerm, shard, ids.length, 0L,
              Codec.encodeDeltas(ids),
              Codec.encodeInts(Array.fill(ids.length)(1)),
              Array(ids.head), Array(0.0f), Array(0), Array(0))
          }
    }

    val mergedLens = spark.read.parquet(s"$outDir/dlens.parquet").as[ShardLens]
    val partSchemas = dirs.map(d =>
      spark.read.parquet(s"$d/postings.parquet").columns.contains("posBytes"))
    require(partSchemas.distinct.size == 1,
      "cannot compact a mix of positional and non-positional parts")
    val positional = partSchemas.head
    val merged: DataFrame = if (!positional) {
      spark.read.parquet(dirs.map(d => s"$d/postings.parquet"): _*).as[PostingSeg]
        .unionByName(exclusionSegs)
        .groupByKey(_.shard)
        .cogroup(mergedLens.groupByKey(_.shard)) { (shard, segIt, lenIt) =>
          if (!lenIt.hasNext) Iterator.empty
          else {
            val lens = lenIt.next()
            val (del, rest) = segIt.toArray
              .partition(_.term == graft.query.Searcher.DeletedTerm)
            val deleted = graft.query.Searcher.decodeDeleted(del)
            rest.groupBy(_.term).iterator.flatMap { case (term, ss) =>
              val tl = graft.query.Searcher.withoutDeleted(
                graft.query.Searcher.decodeTermList(term, ss, 0.0), deleted)
              if (tl.docs.isEmpty) Iterator.empty // every posting deleted
              else {
                val dls = tl.docs.map(d => lens.lens((d - lens.firstDocId).toInt))
                Iterator.single(
                  Codec.makeSeg(term, shard, tl.docs, tl.tfs, dls, k1, b, avgdl))
              }
            }
          }
        }
        .toDF()
    } else {
      // positional merge: per-doc position lists are self-contained, so
      // posBytes concatenates in the same first-docId order the doc/tf
      // arrays are merged in (deletes force a decode→filter→re-encode of
      // the position stream instead of the byte concat)
      spark.read.parquet(dirs.map(d => s"$d/postings.parquet"): _*).as[PostingSegP]
        .unionByName(exclusionSegs
          .withColumn("posBytes", lit(null).cast("binary")).as[PostingSegP])
        .groupByKey(_.shard)
        .cogroup(mergedLens.groupByKey(_.shard)) { (shard, segIt, lenIt) =>
          if (!lenIt.hasNext) Iterator.empty
          else {
            val lens = lenIt.next()
            val (del, rest) = segIt.toArray
              .partition(_.term == graft.query.Searcher.DeletedTerm)
            val deleted = graft.query.Searcher.decodeDeleted(del.map(s =>
              PostingSeg(s.term, s.shard, s.n, s.sumTf, s.docBytes, s.tfBytes,
                s.blockFirst, s.blockMaxTfn, s.blockMaxTf, s.blockMinDlen)))
            rest.groupBy(_.term).iterator.flatMap { case (term, ss) =>
              val parts = ss.map(s => (Codec.decodeDeltas(s.docBytes, s.n),
                Codec.decodeInts(s.tfBytes, s.n), s.posBytes)).sortBy(_._1.head)
              var i = 1
              while (i < parts.length) {
                require(parts(i - 1)._1.last < parts(i)._1.head,
                  s"overlapping posting segments for term '$term'")
                i += 1
              }
              if (deleted.isEmpty) {
                val da = parts.flatMap(_._1)
                val fa = parts.flatMap(_._2)
                val pb = {
                  val total = parts.map(_._3.length).sum
                  val out = new Array[Byte](total)
                  var o = 0
                  parts.foreach { p =>
                    System.arraycopy(p._3, 0, out, o, p._3.length); o += p._3.length
                  }
                  out
                }
                val dls = da.map(d => lens.lens((d - lens.firstDocId).toInt))
                Iterator.single(
                  Codec.makeSegP(term, shard, da, fa, dls, k1, b, avgdl, pb))
              } else {
                // parts are disjoint ascending ranges, so one shared cursor
                // over the sorted deleted array survives across parts
                val docsB = Array.newBuilder[Long]
                val tfsB = Array.newBuilder[Int]
                val posB = Array.newBuilder[Array[Int]]
                var dj = 0
                parts.foreach { case (da, fa, pb) =>
                  val flat = Codec.decodePositions(pb, fa)
                  val off = Codec.prefixSums(fa)
                  var x = 0
                  while (x < da.length) {
                    val d = da(x)
                    while (dj < deleted.length && deleted(dj) < d) dj += 1
                    if (dj >= deleted.length || deleted(dj) != d) {
                      docsB += d; tfsB += fa(x)
                      posB += java.util.Arrays.copyOfRange(flat, off(x), off(x + 1))
                    }
                    x += 1
                  }
                }
                val da2 = docsB.result()
                if (da2.isEmpty) Iterator.empty
                else {
                  val fa2 = tfsB.result()
                  val dls = da2.map(d => lens.lens((d - lens.firstDocId).toInt))
                  Iterator.single(Codec.makeSegP(term, shard, da2, fa2, dls,
                    k1, b, avgdl, Codec.encodePositions(posB.result())))
                }
              }
            }
          }
        }
        .toDF()
    }
    writeBucketed(merged.repartition(P, $"shard"), s"$outDir/postings.parquet", P)

    val dictObs = new org.apache.spark.sql.Observation("compactDict")
    spark.read.parquet(s"$outDir/postings.parquet")
      .groupBy("term").agg(sum($"n".cast("long")).as("df"), sum($"sumTf").as("cf"))
      .observe(dictObs, count(lit(1)).as("numTerms"))
      .as[TermStat]
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/dict.parquet")
    val numTerms = dictObs.get("numTerms").asInstanceOf[Long]

    // a plain count of the published artifact (a metadata-only scan)
    val numSegments = spark.read.parquet(s"$outDir/postings.parquet").count()
    tombstoneDf.foreach(_.unpersist())
    val meta = IndexMeta(numDocs, totalTokens, avgdl, k1, b, base.docsPerShard,
      numTerms, numSegments, base.fingerprint, P)
    Metrics.writeMetaJson(s"$outDir/meta.json", meta)
    // the tombstones are now physically applied in outDir — retire the file
    // (rename aside, never silently reused against the compacted index where
    // the docIds it names no longer exist in any posting run); the .applied
    // generation is kept for audit. Only after meta.json: a crash before the
    // publish marker leaves the tombstones live for the still-current base.
    tombstonePath.foreach { p =>
      val dst = new org.apache.hadoop.fs.Path(p)
      val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
      val applied = new org.apache.hadoop.fs.Path(p + ".applied")
      if (fs.exists(applied)) fs.delete(applied, true)
      if (fs.exists(dst)) require(fs.rename(dst, applied),
        s"tombstone retirement: $dst -> $applied failed")
      val bak = new org.apache.hadoop.fs.Path(p + ".bak")
      if (fs.exists(bak)) fs.delete(bak, true)
    }
    meta
  }

  /** Wrap a posting-segment iterator so its partition emits one
    * [[PartitionManifest]] lineage record at exhaustion: segments out,
    * postings encoded, compressed bytes, a content sha256 and elapsed ms
    * (postings/sec = postings / elapsedMs·1000), per the north star's
    * "per-partition metrics logged for lineage". `fanIn` records how many
    * committed part files a publish task merged (1 for an encode task).
    */
  private def manifested[S <: Product](
      acc: CollectionAccumulator[PartitionManifest], stage: String,
      fanIn: Long)(segs: Iterator[S]): Iterator[S] = {
    val t0 = System.nanoTime()
    var nSegs = 0L; var postings = 0L; var bytes = 0L
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    val counted = segs.map { s =>
      nSegs += 1
      s match {
        case p: PostingSeg =>
          postings += p.n; bytes += p.docBytes.length + p.tfBytes.length
          digest.update(p.term.getBytes(StandardCharsets.UTF_8))
          digest.update(p.docBytes); digest.update(p.tfBytes)
        case p: PostingSegP =>
          postings += p.n
          bytes += p.docBytes.length + p.tfBytes.length +
            (if (p.posBytes != null) p.posBytes.length else 0)
          digest.update(p.term.getBytes(StandardCharsets.UTF_8))
          digest.update(p.docBytes); digest.update(p.tfBytes)
          if (p.posBytes != null) digest.update(p.posBytes)
        case _ => ()
      }
      s
    }
    new Iterator[S] {
      private var emitted = false
      def hasNext: Boolean = {
        val h = counted.hasNext
        if (!h && !emitted) {
          emitted = true
          acc.add(PartitionManifest(stage, TaskContext.getPartitionId(),
            nSegs, postings, bytes,
            digest.digest().map(x => f"$x%02x").mkString,
            // clamp to >= 1 ms: a sub-ms partition would truncate to 0 and
            // make derived postings/sec undefined (null) downstream
            math.max(1L, (System.nanoTime() - t0) / 1000000), fanIn))
        }
        h
      }
      def next(): S = counted.next()
    }
  }

  /** Growable (docId, tf, dlen[, positions]) run for one (term, shard) pair
    * inside the map-side draft encoder. `add` is called once per token
    * occurrence: a repeat docId increments the last tf (occurrences of a doc
    * arrive consecutively — the corpus iterator is docId-ascending), a new
    * docId appends a posting. Positions accumulate FLAT (segmented by the
    * tfs at encode time) to avoid one array per (term, doc).
    */
  private final class RunBuilder(positional: Boolean) {
    var docs = new Array[Long](4)
    var tfs = new Array[Int](4)
    var dls = new Array[Int](4)
    var n = 0
    val pos: scala.collection.mutable.ArrayBuilder.ofInt =
      if (positional) new scala.collection.mutable.ArrayBuilder.ofInt else null

    /** One token occurrence. Returns true when a NEW posting was appended
      * (first occurrence of the term in this doc) — the caller patches its
      * dlen at doc end via [[patchDlen]], because the doc's token count is
      * unknown until the whole doc is scanned (single-pass tokenize).
      */
    def addOcc(docId: Long, p: Int): Boolean = {
      if (pos != null) pos += p
      if (n > 0 && docs(n - 1) == docId) { tfs(n - 1) += 1; false }
      else {
        if (n == docs.length) {
          val cap = n << 1
          docs = java.util.Arrays.copyOf(docs, cap)
          tfs = java.util.Arrays.copyOf(tfs, cap)
          dls = java.util.Arrays.copyOf(dls, cap)
        }
        docs(n) = docId; tfs(n) = 1; n += 1
        true
      }
    }

    def patchDlen(dl: Int): Unit = dls(n - 1) = dl
  }

  /** Open-addressed (term → RunBuilder) table for one shard: tokens probe by
    * their lowercased CHARS straight out of the content string, so the
    * per-token String materialization of `Tokenize.tokenize` (~123M
    * allocations per bench build) collapses to one String per DISTINCT
    * (term, shard) (~18M). Power-of-2 capacity, linear probing, 31-poly
    * hash over lowercased chars (the tokenizer's ASCII contract: lowercasing
    * is 1:1 and never moves a char across the class boundary).
    */
  private final class TokenTable(positional: Boolean) {
    private var cap = 1 << 12
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var vals = new Array[RunBuilder](cap)
    private var size = 0

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1
      keys = new Array[String](cap)
      vals = new Array[RunBuilder](cap)
      var i = 0
      while (i < ok.length) {
        val k = ok(i)
        if (k != null) {
          var j = k.hashCode & mask
          while (keys(j) != null) j = (j + 1) & mask
          keys(j) = k; vals(j) = ov(i)
        }
        i += 1
      }
    }

    /** Probe by the lowercased run s[start, end) without allocating. The
      * 31-poly hash over lowercased chars IS String.hashCode of the
      * lowercased token, so `grow`'s rehash by key.hashCode agrees.
      */
    def lookupRun(s: String, start: Int, end: Int): RunBuilder = {
      var h = 0
      var i = start
      while (i < end) { h = 31 * h + Tokenize.lowerAscii(s.charAt(i)); i += 1 }
      var j = h & mask
      val len = end - start
      while (true) {
        val k = keys(j)
        if (k == null) {
          val buf = new Array[Char](len)
          var x = 0
          while (x < len) { buf(x) = Tokenize.lowerAscii(s.charAt(start + x)); x += 1 }
          val key = new String(buf)
          keys(j) = key
          val b = new RunBuilder(positional)
          vals(j) = b
          size += 1
          if (size > (cap >> 2) * 3) grow()
          return b
        }
        if (k.length == len) {
          var x = 0
          while (x < len && k.charAt(x) == Tokenize.lowerAscii(s.charAt(start + x))) x += 1
          if (x == len) return vals(j)
        }
        j = (j + 1) & mask
      }
      null // unreachable
    }

    /** Probe by an already-materialized (lowercased) token — the non-ASCII
      * regex-fallback path.
      */
    def lookupToken(t: String): RunBuilder = {
      var j = t.hashCode & mask
      while (true) {
        val k = keys(j)
        if (k == null) {
          keys(j) = t
          val b = new RunBuilder(positional)
          vals(j) = b
          size += 1
          if (size > (cap >> 2) * 3) grow()
          return b
        }
        if (k == t || (k.length == t.length && k.equals(t))) return vals(j)
        j = (j + 1) & mask
      }
      null // unreachable
    }

    def foreachEntry(f: (String, RunBuilder) => Unit): Unit = {
      var i = 0
      while (i < keys.length) {
        if (keys(i) != null) f(keys(i), vals(i))
        i += 1
      }
    }
  }

  /** MAP-SIDE draft encoder (see [[graft.SegDraft]]): tokenizes its
    * partition's contiguous ascending docId run and emits one compressed
    * draft per (term, shard) — whole posting runs for every shard fully
    * contained in the partition, partial runs only where a shard straddles
    * the partition boundary (merged reduce-side). Shards arrive
    * consecutively because shard = docId / dps is monotone in docId, so the
    * working map holds ONE shard's terms at a time (bounded by shard
    * geometry, not partition size).
    */
  private def draftSegments(rows: Iterator[(Long, String)], dps: Int,
                            positional: Boolean): Iterator[Product] = {
    val in = rows.buffered
    new Iterator[Product] {
      private var out: Iterator[Product] = Iterator.empty
      private var prevId = Long.MinValue
      def hasNext: Boolean = {
        while (!out.hasNext && in.hasNext) out = nextShard()
        out.hasNext
      }
      def next(): Product = {
        if (!hasNext) throw new NoSuchElementException
        out.next()
      }
      // builders appended-to by the CURRENT doc (patched with its dlen once
      // the doc's token count is known) — reused across docs
      private val touched = new java.util.ArrayList[RunBuilder](256)

      private def nextShard(): Iterator[Product] = {
        val shard = (in.head._1 / dps).toInt
        val m = new TokenTable(positional)
        while (in.hasNext && (in.head._1 / dps).toInt == shard) {
          val (docId, content) = in.next()
          // the draft design REQUIRES ascending docIds (posting runs must be
          // sorted and one shard must form one consecutive slice) — the
          // range-sorted persisted corpus guarantees it; fail loud otherwise
          require(docId > prevId,
            s"corpus rows out of docId order: $docId after $prevId")
          prevId = docId
          touched.clear()
          val n = content.length
          // Tokenize.tokenize's fast-path gate and char class, inlined so
          // tokens probe the table by chars instead of as Strings
          var dlen = 0
          if (Tokenize.isAscii(content)) {
            var i = 0
            while (i < n) {
              if (Tokenize.isTokChar(content.charAt(i))) {
                val start = i
                i += 1
                while (i < n && Tokenize.isTokChar(content.charAt(i))) i += 1
                val b = m.lookupRun(content, start, i)
                if (b.addOcc(docId, dlen)) touched.add(b)
                dlen += 1
              } else i += 1
            }
          } else {
            val toks = Tokenize.tokenizeRegex(content)
            dlen = toks.length
            var j = 0
            while (j < toks.length) {
              val b = m.lookupToken(toks(j))
              if (b.addOcc(docId, j)) touched.add(b)
              j += 1
            }
          }
          var t = 0
          while (t < touched.size()) { touched.get(t).patchDlen(dlen); t += 1 }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Product]
        m.foreachEntry { (term, b) =>
          val da = java.util.Arrays.copyOf(b.docs, b.n)
          val fa = java.util.Arrays.copyOf(b.tfs, b.n)
          val la = java.util.Arrays.copyOf(b.dls, b.n)
          var sumTf = 0L
          var i = 0
          while (i < b.n) { sumTf += fa(i); i += 1 }
          out += (if (!positional)
            SegDraft(term, shard, b.n, sumTf, Codec.encodeDeltas(da),
              Codec.encodeInts(fa), Codec.encodeInts(la))
          else
            SegDraftP(term, shard, b.n, sumTf, Codec.encodeDeltas(da),
              Codec.encodeInts(fa), Codec.encodeInts(la),
              Codec.encodePositionsFlat(b.pos.result(), fa)))
        }
        out.iterator
      }
    }
  }

  /** REDUCE-SIDE finalize over (term, shard)-sorted drafts: a single draft
    * keeps its encoded bytes verbatim (decode only to derive block-max
    * metadata); boundary straddlers — several drafts of one (term, shard) —
    * are merged in first-docId order and re-encoded. The published segments
    * are bit-identical to the old row-wise reduce encode (same arrays into
    * the same [[Codec.makeSeg]] math).
    */
  private def finalizeSegments(it: Iterator[SegDraft], k1: Double, b: Double,
      avgdl: Double,
      counter: LongAccumulator): Iterator[PostingSeg] = {
    val buf = it.buffered
    new Iterator[PostingSeg] {
      def hasNext: Boolean = buf.hasNext
      def next(): PostingSeg = {
        if (counter != null) counter.add(1)
        val h = buf.next()
        if (!buf.hasNext || buf.head.term != h.term || buf.head.shard != h.shard) {
          val da = Codec.decodeDeltas(h.docBytes, h.n)
          val fa = Codec.decodeInts(h.tfBytes, h.n)
          val la = Codec.decodeInts(h.dlenBytes, h.n)
          val (firsts, maxes, maxTfs, minDls) =
            Codec.blockMeta(da, fa, la, k1, b, avgdl)
          PostingSeg(h.term, h.shard, h.n, h.sumTf, h.docBytes, h.tfBytes,
            firsts, maxes, maxTfs, minDls)
        } else {
          val parts = scala.collection.mutable.ArrayBuffer(h)
          while (buf.hasNext && buf.head.term == h.term && buf.head.shard == h.shard)
            parts += buf.next()
          val dec = parts.map(p => (Codec.decodeDeltas(p.docBytes, p.n),
            Codec.decodeInts(p.tfBytes, p.n),
            Codec.decodeInts(p.dlenBytes, p.n))).sortBy(_._1.head)
          var i = 1
          while (i < dec.length) {
            require(dec(i - 1)._1.last < dec(i)._1.head,
              s"overlapping boundary drafts for term '${h.term}' shard ${h.shard}")
            i += 1
          }
          Codec.makeSeg(h.term, h.shard, Array.concat(dec.map(_._1).toSeq: _*),
            Array.concat(dec.map(_._2).toSeq: _*),
            Array.concat(dec.map(_._3).toSeq: _*), k1, b, avgdl)
        }
      }
    }
  }

  /** Positional twin of [[finalizeSegments]]: per-doc position lists are
    * self-contained, so merged posBytes is the concatenation in the same
    * first-docId order.
    */
  private def finalizeSegmentsP(it: Iterator[SegDraftP], k1: Double, b: Double,
      avgdl: Double,
      counter: LongAccumulator): Iterator[PostingSegP] = {
    val buf = it.buffered
    new Iterator[PostingSegP] {
      def hasNext: Boolean = buf.hasNext
      def next(): PostingSegP = {
        if (counter != null) counter.add(1)
        val h = buf.next()
        if (!buf.hasNext || buf.head.term != h.term || buf.head.shard != h.shard) {
          val da = Codec.decodeDeltas(h.docBytes, h.n)
          val fa = Codec.decodeInts(h.tfBytes, h.n)
          val la = Codec.decodeInts(h.dlenBytes, h.n)
          val (firsts, maxes, maxTfs, minDls) =
            Codec.blockMeta(da, fa, la, k1, b, avgdl)
          PostingSegP(h.term, h.shard, h.n, h.sumTf, h.docBytes, h.tfBytes,
            firsts, maxes, maxTfs, minDls, h.posBytes)
        } else {
          val parts = scala.collection.mutable.ArrayBuffer(h)
          while (buf.hasNext && buf.head.term == h.term && buf.head.shard == h.shard)
            parts += buf.next()
          val dec = parts.map(p => (Codec.decodeDeltas(p.docBytes, p.n),
            Codec.decodeInts(p.tfBytes, p.n),
            Codec.decodeInts(p.dlenBytes, p.n), p.posBytes)).sortBy(_._1.head)
          var i = 1
          while (i < dec.length) {
            require(dec(i - 1)._1.last < dec(i)._1.head,
              s"overlapping boundary drafts for term '${h.term}' shard ${h.shard}")
            i += 1
          }
          val pb = {
            val total = dec.map(_._4.length).sum
            val out = new Array[Byte](total)
            var o = 0
            dec.foreach { p =>
              System.arraycopy(p._4, 0, out, o, p._4.length); o += p._4.length
            }
            out
          }
          Codec.makeSegP(h.term, h.shard, Array.concat(dec.map(_._1).toSeq: _*),
            Array.concat(dec.map(_._2).toSeq: _*),
            Array.concat(dec.map(_._3).toSeq: _*), k1, b, avgdl, pb)
        }
      }
    }
  }

  /** Name of the bucket-count sidecar inside a published postings.parquet
    * (leading `_`: hidden from every parquet reader).
    */
  private val BucketsFile = "_buckets"

  /** The shard-bucketed postings layout: bucket column, then the sort
    * order inside each bucket file.
    */
  private val BucketColumn = "shard"
  private val BucketSortColumns = Seq("term", "shard")

  /** Publish posting segments as `path` (a postings.parquet) in the
    * shard-bucketed query layout: `buckets` Spark bucket files keyed on
    * `shard`, each sorted by (term, shard). The bucket id is
    * pmod(murmur3(shard), buckets) — the partition id of
    * `repartition(buckets, shard)`, which every caller applies first, so
    * each write task produces one bucket file. A Searcher opens the files
    * with this BucketSpec ([[openBucketed]]): Catalyst then knows the
    * scan is already clustered by shard, so the per-shard kernel runs
    * with no exchange, and `shard IN (...)` prunes whole bucket files.
    *
    * Spark names files by bucket id only when writing a catalog table, so
    * the write goes through a uniquely named EXTERNAL session-catalog table
    * that is dropped right after (metadata only; the files stay). The bucket
    * count is committed next to the files, so a resumed build that skips
    * the publish records the count that was written, not its own partition
    * count ([[publishedBuckets]]).
    */
  private def writeBucketed(segs: DataFrame, path: String,
                            buckets: Int): Unit = {
    val table = "psispark_publish_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      segs.write.format("parquet").mode(SaveMode.Overwrite)
        .bucketBy(buckets, BucketColumn)
        .sortBy(BucketSortColumns.head, BucketSortColumns.tail: _*)
        .option("path", path).saveAsTable(table)
    } finally segs.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    Files.write(Paths.get(path, BucketsFile),
      buckets.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Open a postings.parquet published by [[writeBucketed]] as a file
    * relation carrying its BucketSpec. Spark keeps bucket specs only in its
    * catalog, so the relation is built here from the bucket count the
    * index's meta.json records.
    */
  private[graft] def openBucketed(spark: SparkSession, path: String,
                                  buckets: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val schema = spark.read.parquet(path).schema
    val files = new InMemoryFileIndex(spark,
      Seq(new org.apache.hadoop.fs.Path(path)), Map.empty, Some(schema))
    spark.baseRelationToDataFrame(HadoopFsRelation(files,
      new org.apache.spark.sql.types.StructType(), schema,
      Some(BucketSpec(buckets, Seq(BucketColumn), BucketSortColumns)),
      new ParquetFileFormat(), Map.empty)(spark))
  }

  /** Bucket count of a postings.parquet published by [[writeBucketed]]. */
  private def publishedBuckets(path: String): Int =
    new String(Files.readAllBytes(Paths.get(path, BucketsFile)),
      StandardCharsets.UTF_8).trim.toInt

  /** Convert the committed per-partition part files into the published
    * shard-bucketed postings.parquet. One part file per task (range
    * partition of n part ids into n partitions), and part pid is exactly
    * bucket pid of the published layout. Parts are deleted after the publish
    * (transient recovery artifacts; a crash in the tiny window between
    * publish and the stage marker just re-encodes once — still correct).
    */
  private def publishFromParts[S <: Product : Encoder](spark: SparkSession,
      indexDir: String, partsDir: String, numParts: Int,
      readPart: String => Iterator[S]): Unit = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val committed = PartStore.listCommitted(partsDir, conf)
    require(committed == (0 until numParts).toSet,
      s"postings parts incomplete: ${committed.size} of $numParts committed")
    val files = (0 until numParts).map(pid =>
      (pid, PartStore.partPath(partsDir, pid)))
    // range-partition on the part id: n distinct ids into n partitions give
    // a 1:1 (worst case contiguous-range) task→file mapping, so each output
    // parquet file holds whole, ADJACENT hash-partitions — round-robin
    // repartition(n) starts at a random offset and can double-book a task
    val ds = spark.createDataset(files)
      .repartitionByRange(files.size, $"_1")
      .map(_._2)
    // merge fan-in lineage: each publish task records how many committed
    // part files it merged (usually 1 by the 1:1 mapping above, >1 only in
    // the contiguous-range worst case) plus segments/postings/bytes — this
    // manifest re-derives from the parts themselves, so it is COMPLETE even
    // when the encode manifest is partial after a mid-stage crash+resume
    val pubAcc: CollectionAccumulator[PartitionManifest] =
      spark.sparkContext.collectionAccumulator[PartitionManifest]("publishManifests")
    val segs = ds.mapPartitions { pathIt =>
      val paths = pathIt.toArray
      manifested(pubAcc, "publish", paths.length.toLong)(
        paths.iterator.flatMap(readPart))
    }.toDF()
    // part pid holds exactly bucket pid, so each task still writes the
    // bucket files of the parts it merged
    writeBucketed(segs, s"$indexDir/postings.parquet", numParts)
    locally {
      import scala.jdk.CollectionConverters._
      val pub = pubAcc.value.asScala.toSeq.groupBy(_.partition)
        .map(_._2.head).toSeq.sortBy(_.partition)
      spark.createDataset(pub).coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$indexDir/manifests/publish.parquet")
      Metrics.writeJson(s"$indexDir/manifests/publish.json", pub)
    }
    val p = new org.apache.hadoop.fs.Path(partsDir)
    p.getFileSystem(conf).delete(p, true)
  }

  /** The index build: fused stages with the minimum data movement, resumable
  * per artifact. Each published artifact (docs, dlens, postings, dict)
  * commits a `_stage_<name>.json` marker after its write completes, and a
  * rerun skips committed artifacts — so a kill mid-build (including the
  * positional variant, the engine's flagship path) restarts from the last
  * finished artifact instead of zero (reference mid-stream resume analog:
  * psi/algorithm/rr22/receiver.cc:106-109; checkpoint stages,
  * psi/checkpoint/checkpoint.proto:8-43).
  *
  * `partitionedResume = true` refines the granularity INSIDE the postings
  * stage (60-80% of build wall time at scale): each reduce partition's
  * encoded segments commit independently (PartStore, atomic rename), a
  * resumed attempt re-encodes only missing partitions, and a publish pass
  * converts the parts to the final parquet — the reference's bucket-index
  * resume, at the cost of one extra write+read of the compressed postings
  * (why it is opt-in; the direct path stays the throughput default).
  *
  * Resume correctness: docIds are the rank in the TOTAL order of the unique
  * composite key (repo, path, commit) — partition offsets + local position
  * after a range sort. The range partitioner's sampled boundaries may
  * differ between JVMs, but the global rank (and hence every docId and every
  * downstream artifact) is invariant, so artifacts written by different
  * attempts compose into one consistent index (asserted byte-identical in
  * ResumeSpec).
  *
  * Data-movement budget (the thing that decides 100 TB behavior):
  *   - content moves through exactly ONE exchange: the global key range
  *     sort that defines docIds (the sha-verify join moves only keys+hash,
  *     ~100 B/row, in a separate narrow pass)
  *   - token-level rows are created map-side (a document lives in one
  *     partition, so per-doc tf needs no exchange) and cross exactly ONE
  *     exchange: the hash repartition by shard, each reduce partition
  *     then sorted (term, shard) and written as one bucket file of the
  *     published shard-bucketed layout (writeBucketed)
  *   - dlen rides WITH each posting row (computed at tokenize time), so
  *     there is no per-doc length join; the dictionary is derived from the
  *     compressed segments, so there is no second tokenize pass
  *
  * The published postings equal the DataFrame definition explode(termsCol)
  * → groupBy(term, docId) (asserted against that oracle in ResumeSpec).
  */
  def buildFast(spark: SparkSession, corpusDir: String, indexDir: String,
                cfg: IndexConfig = IndexConfig()): IndexMeta = {
    import spark.implicits._
    var tPhase = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[buildFast] $name: ${(now - tPhase) / 1e9}%.2f s")
      tPhase = now
    }
    Files.createDirectories(Paths.get(indexDir))
    val P = if (cfg.buildPartitions > 0) cfg.buildPartitions
            else negotiatePartitions(spark, corpusDir)
    val files = CorpusSource.readFiles(spark, corpusDir)
    val keyCols = Seq("repo", "path", "commit")
    val stages = new StageTracker(indexDir, cfg.fingerprint, cfg.stopAfterStage)

    // sha256 invariant, verified by a KEYS+HASH join — not by joining the
    // content rows themselves: the reference sidecar check moves ~100 B/row
    // through the exchange instead of the full content (~KBs/row), so the
    // content crosses exactly ONE exchange total (the docId range sort
    // below). r6: the hashes come from the SAME persisted sort pass that
    // defines docIds (fullSorted carries sha256 anyway), so the corpus is
    // read ONCE and sha256 computed ONCE instead of twice each — the
    // verify join runs inside `withId`, i.e. still before any artifact is
    // written (the docs write forces withId first). The corpus is assumed
    // immutable for the duration of the build — the same contract the
    // reference's pre-flight CsvChecker pass makes before its protocol run.
    // Re-verified on every (re)attempt that will still READ the corpus:
    // only the docs and postings stages consume content (dlens/dict derive
    // from committed artifacts), so a dict-only resume — which never forces
    // withId — pays no sha scan either.
    val corpusStagesDone = Seq("docs", "postings").forall(stages.isDone)

    // ONE global range sort of the full rows defines the docId order; docIds
    // are partition offsets + local position (no window, no join-back).
    // Built LAZILY: a resume whose remaining stages don't touch the corpus
    // (e.g. only `dict` left) never pays the sort.
    var sortedMaterialized: Option[Dataset[(String, String, String, String, String, String)]] = None
    var numDocsFromSort = -1L
    lazy val withId: DataFrame = {
      val fullSorted = files.withColumn("sha256", sha2(col("content"), 256))
        .repartitionByRange(P, col("repo"), col("path"), col("commit"))
        .sortWithinPartitions("repo", "path", "commit")
        .select("repo", "path", "commit", "lang", "sha256", "content")
        .as[(String, String, String, String, String, String)]
        // DISK_ONLY, deliberately: this caches the FULL corpus (incl.
        // content) to freeze the docId-defining sort for its two consumers
        // (docs write, postings tokenize). In-memory caching would let 100 TB
        // of content evict every other block and starve the shuffle sorters;
        // executor-local disk is the same media the shuffle itself uses.
        // A/B at 160k docs / 16 cores: min-of-2 12.2 s (MEMORY_AND_DISK) vs
        // 13.8 s (DISK_ONLY) — within host noise (±3 s run-to-run).
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      sortedMaterialized = Some(fullSorted)
      val counts = fullSorted.mapPartitions { it =>
        Iterator.single((TaskContext.getPartitionId(), it.size.toLong))
      }.collect().toMap
      val offsets = {
        var acc = 0L
        (0 until P).map { pid => val o = pid -> acc; acc += counts.getOrElse(pid, 0L); o }.toMap
      }
      numDocsFromSort = counts.values.sum
      // verify from the persisted sort (sha256 already computed there): the
      // counts job above materialized the cache, so this join re-reads the
      // cached blocks instead of re-scanning + re-hashing the corpus
      if (cfg.verifySha && !corpusStagesDone) {
        verifyShaKeyed(spark, fullSorted.toDF()
          .select(col("repo"), col("path"), col("commit"),
            col("sha256").as("got_sha")), corpusDir, keyCols)
        phase("sha-verify")
      }
      val df = fullSorted.mapPartitions { it =>
        var next = offsets(TaskContext.getPartitionId())
        it.map { case (r, p, c, lang, sha, content) =>
          val id = next; next += 1; (id, r, p, c, lang, sha, content)
        }
      }.toDF("docId", "repo", "path", "commit", "lang", "sha256", "content")
      phase("docid-offsets")
      df
    }
    def unpersistSorted(): Unit = sortedMaterialized.foreach(_.unpersist())

    val dps = cfg.docsPerShard

    // docs meta (dlen computed inline from the tokenizer — no length join;
    // token_count is the codegen'd zero-allocation twin of
    // size(termsCol(content)), graft.functions.TokenCount);
    // totalTokens is collected as an observed metric of the same write
    graft.functions.VByteFunctions.register(spark)
    var totalTokensObserved = -1L
    stages.run("docs") {
      val docsObs = new org.apache.spark.sql.Observation("docstats")
      withId
        .select($"docId", $"repo", $"path", $"commit", $"lang",
          expr("token_count(content)").as("dlen"), $"sha256")
        .observe(docsObs, sum($"dlen".cast("long")).as("totalTokens"))
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/docs.parquet")
      totalTokensObserved = docsObs.get("totalTokens").asInstanceOf[Long]
      phase("docs-write")
    }
    if (stages.stopped) { unpersistSorted(); return null }
    def docsDf = spark.read.parquet(s"$indexDir/docs.parquet")
    // corpus stats: from this attempt's sort/observation when the stage ran,
    // else re-aggregated from the committed docs artifact (narrow scans)
    val numDocs = if (numDocsFromSort >= 0) numDocsFromSort else docsDf.count()

    // the docId order is "the TOTAL order of the unique composite key" — a
    // duplicate key makes tie order attempt-dependent, so a kill+resume
    // could bind docIds to different rows than the committed docs artifact.
    // Rejected here from the committed (narrow, content-free) docs table,
    // before postings publish.
    if (!stages.isDone("postings")) {
      val dups = docsDf.groupBy($"repo", $"path", $"commit")
        .count().filter($"count" > 1).limit(1).count()
      require(dups == 0,
        "duplicate (repo, path, commit) composite keys in corpus — docId " +
          "assignment would not be stable across resume attempts")
    }

    stages.run("dlens") {
      packDlens(docsDf, dps, numDocs)
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/dlens.parquet")
      phase("dlens-write")
    }
    if (stages.stopped) { unpersistSorted(); return null }

    val totalTokens =
      if (totalTokensObserved >= 0) totalTokensObserved
      else docsDf.agg(sum($"dlen".cast("long"))).as[Long].head()
    val avgdl = totalTokens.toDouble / numDocs
    val (k1, b) = (cfg.k1, cfg.b)
    val segCounter = spark.sparkContext.longAccumulator("segments")

    // tf + publish: a document lives in exactly one partition, so (term,
    // docId) term frequencies are FULLY computable map-side — a typed
    // per-partition tokenize+count replaces the explode→groupBy exchange.
    // Token-level rows then cross exactly ONE exchange: the shard hash
    // partition that is also the published bucket layout.
    stages.run("postings") {
      // resume consistency: a resumed postings stage re-derives docIds from a
      // fresh sort of the CURRENT corpus while composing with the COMMITTED
      // docs artifact — if the corpus gained or lost rows between attempts
      // (verifySha off, or sidecar rewritten in lockstep) the two would
      // silently disagree. The sort is materialized either way, so comparing
      // its row count against the committed docs.parquet count is free.
      if (stages.skippedStages.contains("docs")) {
        withId // force the sort so numDocsFromSort is populated
        require(numDocsFromSort == numDocs,
          s"corpus changed between build attempts: committed docs.parquet " +
            s"has $numDocs rows but this attempt's corpus sort yields " +
            s"$numDocsFromSort — delete the index dir (or restore the " +
            "original corpus) and rebuild")
      }
      val mAcc: CollectionAccumulator[PartitionManifest] =
        spark.sparkContext.collectionAccumulator[PartitionManifest]("postingsManifests")
      // r6: drafts are encoded MAP-SIDE (see SegDraft / draftSegments) — the
      // exchange carries ~18M compressed runs instead of ~60M raw (term,
      // docId, tf, dlen, shard) rows (≈2× fewer shuffle bytes, ≈3× fewer
      // rows through the reduce sort at bench geometry; guide §2.3 "shuffle
      // keys and metadata instead of payloads"). Hash partition on `shard`
      // (the reference's hash-bucket spill,
      // psi/utils/hash_bucket_cache.cc:56-57) rather than range: a range
      // partitioner would SAMPLE its child, re-running the tokenize pass.
      // Reduce partition i holds exactly bucket i of the published layout
      // (writeBucketed), so each task writes one bucket file; a term's
      // segments spread over every bucket holding one of its shards, and
      // only `shard IN (...)` prunes whole files — `term IN (...)` prunes
      // row groups inside a (term, shard)-sorted file.
      // one body for both layouts: only the draft/segment types, the
      // finalize kernel and the part reader differ
      def encode[D <: Product : Encoder, S <: Product : Encoder](
          finish: (Iterator[D], LongAccumulator) => Iterator[S],
          readPart: String => Iterator[S]): Unit = {
        val positional = cfg.positions
        val sortedDrafts = withId
          .select($"docId", $"content")
          .as[(Long, String)]
          .mapPartitions(it =>
            draftSegments(it, dps, positional).asInstanceOf[Iterator[D]])
          .repartition(P, $"shard")
          .sortWithinPartitions($"term", $"shard")
        if (!cfg.partitionedResume) {
          writeBucketed(sortedDrafts
            .mapPartitions(it => manifested(mAcc, "postings", 1L)(
              finish(it, segCounter))).toDF(),
            s"$indexDir/postings.parquet", P)
        } else {
          // per-partition committed parts + publish — see PartStore; the
          // hash partitioning is attempt-deterministic, so a resumed reduce
          // task for a committed pid skips encoding entirely
          val partsDir = s"$indexDir/_postings_parts"
          PartStore.pinScheme(partsDir, P, positional, cfg.fingerprint)
          val committed = spark.sparkContext.broadcast(
            PartStore.listCommitted(partsDir, spark.sessionState.newHadoopConf()))
          if (committed.value.nonEmpty)
            System.err.println(s"[buildFast] partitioned resume: " +
              s"${committed.value.size}/$P postings partitions already " +
              "committed — re-encoding only the rest")
          sortedDrafts.foreachPartition { (it: Iterator[D]) =>
            val tc = TaskContext.get()
            if (!committed.value.contains(tc.partitionId()))
              PartStore.writePart(partsDir, tc.partitionId(), tc.taskAttemptId(),
                manifested(mAcc, "postings", 1L)(finish(it, null)), positional)
          }
          if (cfg.stopAfterStage == "postings_parts") stages.abort()
          else publishFromParts(spark, indexDir, partsDir, P, readPart)
        }
      }
      // the positional variant's drafts additionally carry posBytes
      // (PostingSegP), enabling phrase queries (Searcher.searchPhrase)
      if (!cfg.positions)
        encode[SegDraft, PostingSeg](finalizeSegments(_, k1, b, avgdl, _),
          PartStore.readPart)
      else
        encode[SegDraftP, PostingSegP](finalizeSegmentsP(_, k1, b, avgdl, _),
          PartStore.readPartP)

      // per-partition lineage manifest of the encode (segments, postings,
      // compressed bytes, content sha, elapsed ms → postings/sec). On a
      // partitioned resume, partitions whose parts were committed by an
      // earlier attempt keep that attempt's entries (merged from the prior
      // manifest file when it exists; an attempt killed INSIDE the postings
      // stage wrote no manifest — the publish manifest below is then the
      // complete per-partition record, since publish re-reads every part).
      {
        import scala.jdk.CollectionConverters._
        val newMs = mAcc.value.asScala.toSeq.groupBy(_.partition)
          .map(_._2.head).toSeq // speculative dup attempts: keep one
        val mPath = s"$indexDir/manifests/postings.parquet"
        val prior =
          if (cfg.partitionedResume && Files.exists(Paths.get(mPath)))
            scala.util.Try(spark.read.parquet(mPath).as[PartitionManifest]
              .collect().toSeq).getOrElse(Nil)
          else Nil
        val newPids = newMs.map(_.partition).toSet
        val merged = (prior.filterNot(m => newPids(m.partition)) ++ newMs)
          .sortBy(_.partition)
        spark.createDataset(merged).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(mPath)
        Metrics.writeJson(s"$indexDir/manifests/postings.json", merged)
      }
      phase("publish-write")
    }
    unpersistSorted()
    if (stages.stopped) return null

    // dictionary derived from the compressed segments (no second tokenize);
    // numTerms observed during the same write
    var numTermsObserved = -1L
    stages.run("dict") {
      val dictObs = new org.apache.spark.sql.Observation("dictstats")
      spark.read.parquet(s"$indexDir/postings.parquet")
        .groupBy("term")
        .agg(sum($"n".cast("long")).as("df"), sum($"sumTf").as("cf"))
        // r6: term-RANGE-sorted dictionary files — every expansion path
        // (prefix/wildcard/regex-literal-prefix/term-range) filters the dict
        // with `startsWith`/range predicates, and parquet min/max row-group
        // stats only prune when files cover disjoint term ranges (guide §6).
        // The range sampler re-executes the aggregate subtree once — a small
        // build-side cost paid back on every expansion query. `observe`
        // sits ABOVE the sort so the sampling pass cannot double-count it.
        .repartitionByRange(P, $"term")
        .sortWithinPartitions("term")
        .observe(dictObs, count(lit(1)).as("numTerms"))
        .as[TermStat]
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/dict.parquet")
      numTermsObserved = dictObs.get("numTerms").asInstanceOf[Long]
      phase("dict-write")
    }
    if (stages.stopped) return null

    val numTerms =
      if (numTermsObserved >= 0) numTermsObserved
      else spark.read.parquet(s"$indexDir/dict.parquet").count()
    val numSegments =
      // partitionedResume: the accumulator misses partitions skipped on a
      // resume, so count the published artifact (a metadata-only scan)
      if (stages.ranStages.contains("postings") && !cfg.partitionedResume)
        segCounter.value.longValue()
      else spark.read.parquet(s"$indexDir/postings.parquet").count()
    val meta = IndexMeta(numDocs, totalTokens, avgdl, cfg.k1, cfg.b,
      cfg.docsPerShard, numTerms, numSegments, cfg.fingerprint,
      publishedBuckets(s"$indexDir/postings.parquet"))
    Metrics.writeMetaJson(s"$indexDir/meta.json", meta)
    meta
  }
}

/** Stage markers: `_stage_<name>.json` committed after the stage's output is
  * fully written; rerun skips stages whose marker matches the config
  * fingerprint. Partial stage output without a marker is invisible (it gets
  * overwritten) — the write-to-temp / manifest-commit discipline of
  * SURVEY.md §7.4 (4).
  */
class StageTracker(indexDir: String, fingerprint: String, stopAfter: String) {
  var stopped = false
  var skippedStages: List[String] = Nil
  var ranStages: List[String] = Nil
  private var abortRequested = false

  private def markerPath(name: String) = Paths.get(s"$indexDir/_stage_$name.json")

  def isDone(name: String): Boolean = {
    val p = markerPath(name)
    Files.exists(p) &&
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).contains(fingerprint)
  }

  /** Called from INSIDE a stage body to simulate/handle a mid-stage stop:
    * the stage's marker is NOT written (its sub-artifacts keep their own
    * commits) and the build stops — used by the `postings_parts` sub-stage
    * stop hook that exercises per-partition resume.
    */
  def abort(): Unit = { abortRequested = true }

  def run(name: String)(body: => Unit): Unit = {
    if (stopped) return
    if (isDone(name)) { skippedStages ::= name }
    else {
      val t0 = System.nanoTime()
      body
      if (abortRequested) { stopped = true; return }
      val ms = (System.nanoTime() - t0) / 1000000
      Files.write(markerPath(name),
        s"""{"stage":"$name","fingerprint":"$fingerprint","elapsedMs":$ms}"""
          .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      ranStages ::= name
    }
    if (name == stopAfter) stopped = true
  }
}

/** Tiny hand-rolled JSON IO for meta + manifests (no extra deps allowed). */
object Metrics {
  def writeJson(path: String, ms: Seq[PartitionManifest]): Unit = {
    val body = ms.map { m =>
      s"""{"stage":"${m.stage}","partition":${m.partition},"rows":${m.rows},""" +
        s""""postings":${m.postings},"bytesOut":${m.bytesOut},""" +
        s""""sha256":"${m.sha256}","elapsedMs":${m.elapsedMs},"fanIn":${m.fanIn}}"""
    }.mkString("[", ",", "]")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }

  def writeMetaJson(path: String, m: IndexMeta): Unit = {
    val body =
      s"""{"numDocs":${m.numDocs},"totalTokens":${m.totalTokens},"avgdl":${m.avgdl},""" +
        s""""k1":${m.k1},"b":${m.b},"docsPerShard":${m.docsPerShard},""" +
        s""""numTerms":${m.numTerms},"numSegments":${m.numSegments},""" +
        s""""fingerprint":"${m.fingerprint}"""" +
        (if (m.buckets > 0) s""","buckets":${m.buckets}}""" else "}")
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }

  def readMetaJson(path: String): IndexMeta = {
    val s = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    def opt(k: String): Option[String] = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":\"?([^,}\"]+)").matcher(s)
      if (m.find()) Some(m.group(1)) else None
    }
    def f(k: String): String = {
      val v = opt(k); require(v.isDefined, s"missing $k in $path"); v.get
    }
    IndexMeta(f("numDocs").toLong, f("totalTokens").toLong, f("avgdl").toDouble,
      f("k1").toDouble, f("b").toDouble, f("docsPerShard").toInt,
      f("numTerms").toLong, f("numSegments").toLong, f("fingerprint"),
      opt("buckets").fold(0)(_.toInt))
  }
}
