package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * All operators are pure DataFrame/Column pipelines (codegen'd built-ins,
  * no UDFs) so filters/projections push down and aggregations keep map-side
  * partial combine. Pair-generating joins are equi-joins on
  * shingle/band/bucket keys — shuffle-partitioned exactly like the engine's
  * posting build, with df-based frequency caps defusing hot-key skew.
  */
object Dedup {

  /** Tokens column: lowercase [a-z0-9_] runs (shared with TextAnalysis;
    * same positive-class extraction as graft.index.Tokenize — see there for
    * why extraction beats splitting on the negated class).
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9_]+"), lit(0))

  // ---------------------------------------------------------------- exact

  /** All exact-dedup operators key on `sha2(text, 256)` — NOT on the text
    * itself: at 100 TB a full-text group/join key would move the corpus
    * through the exchange just to compare equality, whereas the hash key
    * moves 64 B/row (the same keys+hash discipline as the index build's
    * sha-verify join, IndexBuilder.verifyShaKeyed). A sha256 collision
    * would conflate two distinct documents; at 2^128 collision resistance
    * that is the standard content-addressing assumption (git, the reference's
    * own sha256 row invariant).
    */
  private def textKey(textCol: String): Column = sha2(col(textCol), 256)

  /** Exact dedup summary over a text column. */
  def exactStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
      countDistinct(textKey(textCol)).as("n_distinct"))

  /** Exact duplicate groups: canonical (min id) representative + group size;
    * keys by content-hash equality via hash-groupBy.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(textKey(textCol).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("keep_id"), col("n_copies"))

  /** Rows surviving exact dedup (keep the min id per distinct text). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.withColumn("__text_sha", textKey(textCol))
    keyed.join(
      keyed.groupBy(col("__text_sha")).agg(min(col(idCol)).as(idCol)),
      Seq("__text_sha", idCol), "left_semi")
      .drop("__text_sha")
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Distinct word k-shingles per doc. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), explode(
        transform(sequence(lit(0), size(col("toks")) - k),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(k))))).as("shingle"))
      .filter(size(split(col("shingle"), " ")) === k)
      .distinct()

  /** Near-duplicate pairs by exact k-shingle Jaccard ≥ minJaccard.
    *
    * Scale shape: shingle-keyed equi-join with a document-frequency cap on
    * shingles (a shingle in > maxShingleDf docs is dropped from pairing —
    * the hot-term salting analog: it bounds every join key's fan-out, and
    * ubiquitous shingles carry no near-dup signal).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, minJaccard: Double = 0.8,
                        maxShingleDf: Int = 100): DataFrame = {
    val sh = shingles(df, idCol, textCol, k)
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") <= maxShingleDf)
    val shR = sh.join(rare.select("shingle"), Seq("shingle"), "left_semi")
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val inter = shR.as("a").join(shR.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ------------------------------------------------------------- MinHash

  /** Deterministic 64-bit hash of a shingle for permutation `i`:
    * xxhash64(shingle, i) — Spark's codegen'd xxhash64 with the permutation
    * index as a seed column. MinHash signature = per-doc min over shingles,
    * computed as one groupBy with `min` per permutation (map-side combine).
    */
  def minhashSignatures(sh: DataFrame, numPerms: Int): DataFrame = {
    val aggs = (0 until numPerms).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"mh_$i"))
    sh.groupBy("doc").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: docs sharing any band of `rowsPerBand`
    * consecutive signature components become a candidate pair
    * (shingle→minhash→band→bucket-join). Candidates are then verified with
    * exact shingle Jaccard — the classic two-phase near-dup pipeline.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
                      minJaccard: Double = 0.5): DataFrame = {
    val sh = shingles(df, idCol, textCol, k)
    val sig = minhashSignatures(sh, numPerms)
    val numBands = numPerms / rowsPerBand
    val bands = sig.select(col("doc"), explode(array((0 until numBands).map { bnd =>
      struct(lit(bnd).as("band"),
        hash((bnd * rowsPerBand until (bnd + 1) * rowsPerBand).map(i => col(s"mh_$i")): _*)
          .as("bucket"))
    }: _*)).as("bb"))
      .select(col("doc"), col("bb.band"), col("bb.bucket"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // verify candidates with exact Jaccard
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val pairShingleHits = cand
      .join(sh.select(col("doc").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    pairShingleHits
      .join(sizes.select(col("doc").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  // -------------------------------------------------------------- SimHash

  /** Oracle-recomputable 60-bit token hash: the first 15 hex chars of md5,
    * parsed base-16 — md5 is the one cryptographic hash Spark and DuckDB
    * share, so the DuckDB oracle recomputes this value bit-identically as
    * `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)` (15 hex chars = 60 bits
    * keeps the value inside a signed 64-bit range on both engines). Used by
    * the correctness gates to make hash-dependent pipelines (simhash) fully
    * value-checkable; the scale default stays xxhash64 (codegen'd, no
    * string materialization).
    */
  val md5Hash60: Column => Column = c =>
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash per doc: sign-sum of token-hash bits over tokens,
    * expressed as 64 per-bit aggregations (codegen'd, no UDF). `tokenHash`
    * defaults to xxhash64 (the scale path); the correctness gate plugs in
    * [[md5Hash60]] so the DuckDB oracle can recompute every simhash value —
    * the pipeline under test (tokenize → per-bit sign sums → bit assembly)
    * is identical either way.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$i")
    }
    val agg = toks.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { i =>
      when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist, candidate-generated
    * by Manku'07-style block blocking sized for WEB scale: the 64 bits split
    * into 6 blocks (11,11,11,11,10,10), and every 3-block combination
    * (C(6,3) = 20 bands) becomes a bucket key of ~32 bits. Guarantee: a pair
    * at distance ≤ 3 differs in ≤ 3 blocks, so ≥ 3 blocks are equal and some
    * 3-combination matches exactly — recall 1, like the naive 4×16 scheme,
    * but the expected bucket population is N/2^32 instead of N/2^16, so the
    * within-bucket pair join stays linear at 10⁹+ docs (the r1 verdict's
    * quadratic-blowup fix). Cost: 20 bucket rows/doc instead of 4 — rows of
    * ~24 B, far cheaper than quadratic candidate pairs.
    *
    * `maxBucket > 0` additionally drops buckets holding more docs (hash-
    * degenerate boilerplate, e.g. empty docs all mapping to simhash 0) —
    * the hot-key cap analog of `maxShingleDf`; it trades recall ONLY on
    * those degenerate clusters and is off by default.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val sh = simhash(df, idCol, textCol)
    // b blocks, keys of c = b - maxDist blocks: a pair at distance ≤ maxDist
    // differs in ≤ maxDist blocks, so ≥ c blocks are equal and some
    // c-combination matches. b = 6 gives the widest keys that keep the band
    // count (C(b, c)) reasonable at the default maxDist = 3; a larger
    // maxDist degrades gracefully to fewer/narrower keys.
    val numBlocks = math.max(6, maxDist + 1)
    val comboSize = numBlocks - maxDist
    val blockBits = {
      val base = 64 / numBlocks; val extra = 64 % numBlocks
      (0 until numBlocks).map(i => if (i < extra) base + 1 else base)
    }
    val offsets = blockBits.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftrightunsigned(col("simhash"), offsets(i))
        .bitwiseAND(lit((1L << blockBits(i)) - 1))
    val combos = (0 until numBlocks).combinations(comboSize).toSeq
    val bandCols = combos.zipWithIndex.map { case (c, ci) =>
      // concatenated block bits, ≤ 33 bits — one long key per band
      val key = c.foldLeft(lit(0L): Column)((acc, i) =>
        shiftleft(acc, blockBits(i)).bitwiseOR(block(i)))
      struct(lit(ci).as("band"), key.as("chunk"))
    }
    val bands = sh.select(col("doc"), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc"), col("simhash"), col("bb.band"), col("bb.chunk"))
    val kept =
      if (maxBucket <= 0) bands
      else bands.join(
        bands.groupBy("band", "chunk").agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= maxBucket).select("band", "chunk"),
        Seq("band", "chunk"), "left_semi")
    val cand = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.simhash").as("h_a"), col("b.simhash").as("h_b"))
      .distinct()
    cand.withColumn("dist", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
  }

  // ------------------------------------------------- embedding near-dup

  /** Cosine similarity of two float-array columns via zip_with + aggregate
    * (codegen'd higher-order functions — no UDF).
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Embedding near-duplicate pairs: cosine ≥ minCos over all id-ordered
    * pairs. Brute-force O(n²) baseline — the oracle path; the scale path is
    * `Similarity.lshNearDupPairs`.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            minCos: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Connected-component cluster ids over a near-duplicate PAIR set — the
    * keep-one step every dedup pipeline runs after pair finding: each doc in
    * a pair gets `cluster` = the minimum id reachable through the pair graph,
    * so `filter(id === cluster)` keeps exactly one canonical doc per group.
    *
    * Min-label propagation (HashMin) PLUS a pointer-jumping step per round:
    * propagation moves the min one hop (join on edges + min-agg), then
    * `label(id) := min(label(id), label(label(id)))` doubles the reach —
    * so rounds scale with log2(diameter), not diameter, and the default
    * `maxIters = 25` covers any component up to ~2^24 hops across (web-scale
    * boilerplate chains included). Labels are always ids of REACHABLE
    * vertices and only decrease, so the fixed point is exactly min-reachable.
    * 3 shuffles per round; each generation is persisted and its predecessor
    * unpersisted, so the working set per round is the (id, cluster) frame —
    * never the documents.
    *
    * Fails LOUDLY if the loop exits without convergence: silently returning
    * partially-propagated labels would split one near-dup cluster across
    * several — and a `leakFreeSplit` built on it would leak near-copies
    * across train/eval, the exact contamination it exists to prevent.
    *
    * Each generation is CHECKPOINTED (reliable `checkpoint` when the session
    * has a checkpoint dir, else `localCheckpoint`): an iterative self-joining
    * plan otherwise doubles its logical tree every round — by ~round 7 the
    * plan alone OOMs the driver. Checkpointing re-roots the plan on the
    * materialized generation, the standard treatment for iterative graph
    * algorithms on Spark (GraphX/GraphFrames do the same internally).
    */
  def clusterAssignments(pairs: DataFrame, aCol: String = "doc_a",
                         bCol: String = "doc_b",
                         maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    def snapshot(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist()
    var labels = snapshot(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster")))
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("cluster"))
      val hashMin = labels.unionByName(prop)
        .groupBy("id").agg(min(col("cluster")).as("cluster"))
        .persist()
      // pointer jump: a label is itself a reachable vertex id, so its own
      // label is reachable too — taking the min squares the horizon
      val next = snapshot(hashMin.as("a")
        .join(hashMin.as("b"), col("a.cluster") === col("b.id"), "left")
        .select(col("a.id").as("id"),
          least(col("a.cluster"),
            coalesce(col("b.cluster"), col("a.cluster"))).as("cluster")))
      converged = next.as("n")
        .join(labels.as("l"), col("n.id") === col("l.id"))
        .filter(col("n.cluster") =!= col("l.cluster"))
        .isEmpty
      hashMin.unpersist()
      labels.unpersist()
      labels = next
      it += 1
    }
    edges.unpersist()
    require(converged,
      s"cluster label propagation did not converge within $maxIters rounds " +
        "(component diameter > ~2^" + (maxIters - 1) + ") — refusing to " +
        "return partially-merged clusters; raise maxIters")
    labels
  }

  /** Leakage-free train/val/test split: every member of a near-dup cluster
    * lands in the SAME split (assigning by raw doc id would leak near-copies
    * of training docs into eval — the canonical contamination bug in
    * training-data pipelines). Docs outside any pair are their own cluster.
    *
    * The split is a pure function of the CLUSTER id — first hex byte of
    * sha256(cluster): < 'cc' (204/256 ≈ 80%) → train, < 'e6' (230/256 ≈ 90%)
    * → val, else test — so it is deterministic, engine-independent (the
    * DuckDB oracle computes the identical sha256 string), and adding docs
    * never reshuffles existing assignments. One broadcast-or-shuffle left
    * join against the (small) cluster table; no other data movement.
    */
  def leakFreeSplit(docs: DataFrame, idCol: String,
                    pairs: DataFrame): DataFrame = {
    val clusters = clusterAssignments(pairs)
    val byte0 = substring(sha2(col("cluster").cast("string"), 256), 1, 2)
    docs.select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
      .withColumn("split",
        when(byte0 < "cc", "train").when(byte0 < "e6", "val").otherwise("test"))
  }
}
