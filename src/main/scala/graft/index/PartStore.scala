package graft.index

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.{PostingSeg, PostingSegP}

/** Per-partition committed posting-segment files — the mid-stream resume
  * granularity of `IndexBuilder.buildFast(partitionedResume = true)`.
  *
  * Each reduce partition of the postings shuffle writes ALL of its encoded
  * segments as ONE binary file, committed by an atomic rename
  * (`part-NNNNN.bin.inprogress-<attempt>` → `part-NNNNN.bin`); a resumed
  * build lists the committed files and its reduce tasks skip encoding for
  * those partition ids — matching the reference's mid-stream resume
  * granularity (bucket-index skip in psi/algorithm/rr22/receiver.cc:106-109,
  * `processed_item_cnt` skip in psi/algorithm/ecdh/ecdh_psi.cc:462-479),
  * where the per-artifact stage markers alone would restart the whole
  * (longest) stage.
  *
  * The format is a straight length-prefixed dump of the segment fields (the
  * engine's own delta+varbyte codec output plus block-max metadata) — no
  * parquet machinery is available inside a task, and these files are
  * TRANSIENT: a publish pass converts them to the final shard-bucketed
  * postings.parquet (part pid becomes bucket pid) and deletes them. The
  * postings exchange hash-partitions on shard, so each partition id always
  * receives exactly the same shards across attempts, and parts written by
  * different attempts compose into one consistent index.
  */
object PartStore {

  private val Magic = 0x50535032 // "PSP2" (r5: + per-block maxTf/minDlen —
  // parts written by a PSP1 binary fail the magic check loudly instead of
  // silently composing segments without the avgdl-free pruning stats)

  def partPath(partsDir: String, pid: Int): String = f"$partsDir/part-$pid%05d.bin"

  private def fs(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)

  /** Pin the partitioning scheme of a parts dir. The reduce partition
    * count P decides which shards hash into which part, so
    * parts written under two different P values (or positional-ness) must
    * NEVER compose — a resume with a changed spark.sql.shuffle.partitions
    * would otherwise pass the completeness check while duplicating every
    * group whose old and new partition ids differ (silently doubled df,
    * overlapping-segment crashes at query time). The marker also carries
    * the IndexConfig FINGERPRINT: part contents embed config-derived values
    * (docsPerShard decides shard assignment, k1/b bake into block-max
    * norms), so parts from an attempt with a different config must not be
    * reused even when P matches — they would compose stale shard geometry
    * and inadmissible pruning bounds into the published index. Written on
    * the first attempt, REQUIRED identical on every resume.
    */
  def pinScheme(partsDir: String, p: Int, positional: Boolean,
                cfgFingerprint: String): Unit = {
    val conf = new Configuration()
    val dir = new Path(partsDir)
    val f = fs(dir, conf)
    f.mkdirs(dir)
    val name = s"_scheme_P${p}_pos${positional}_cfg${cfgFingerprint.take(16)}"
    val existing = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("_scheme_")).sorted
    if (existing.isEmpty) f.create(new Path(dir, name), true).close()
    else require(existing.sameElements(Array(name)),
      s"postings parts at $partsDir were written under scheme " +
        s"${existing.mkString(",")} but this attempt uses $name — the " +
        "hash-partition assignment would not line up; resume with the same " +
        "buildPartitions/spark.sql.shuffle.partitions, or delete the parts dir")
  }

  /** Partition ids with a committed part file under `partsDir`. */
  def listCommitted(partsDir: String, conf: Configuration): Set[Int] = {
    val dir = new Path(partsDir)
    val f = fs(dir, conf)
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("part-") && n.endsWith(".bin"))
        Some(n.stripPrefix("part-").stripSuffix(".bin").toInt)
      else None // leftover .inprogress-* from a killed attempt — ignored
    }.toSet
  }

  /** Write one partition's segments and commit via atomic rename. Safe under
    * task retries/speculation: if the commit target already exists (another
    * attempt won), this attempt's temp file is discarded.
    */
  def writePart(partsDir: String, pid: Int, attemptId: Long,
                segs: Iterator[Product], positional: Boolean): Unit = {
    val conf = new Configuration() // local/default fs; a cluster deployment
    // inherits HADOOP_CONF_DIR defaults like every other task-side FS user
    val dir = new Path(partsDir)
    val f = fs(dir, conf)
    f.mkdirs(dir)
    val tmp = new Path(s"${partPath(partsDir, pid)}.inprogress-$attemptId")
    val dst = new Path(partPath(partsDir, pid))
    val out = new DataOutputStream(new BufferedOutputStream(f.create(tmp, true), 1 << 16))
    try {
      out.writeInt(Magic)
      out.writeBoolean(positional)
      segs.foreach {
        case s: PostingSeg =>
          writeSeg(out, s.term, s.shard, s.n, s.sumTf, s.docBytes, s.tfBytes,
            s.blockFirst, s.blockMaxTfn, s.blockMaxTf, s.blockMinDlen, null)
        case s: PostingSegP =>
          writeSeg(out, s.term, s.shard, s.n, s.sumTf, s.docBytes, s.tfBytes,
            s.blockFirst, s.blockMaxTfn, s.blockMaxTf, s.blockMinDlen, s.posBytes)
        case other => sys.error(s"unexpected segment type: ${other.getClass}")
      }
    } finally out.close()
    if (!f.rename(tmp, dst)) {
      // commit race: another attempt committed first — keep its file
      require(f.exists(dst), s"rename $tmp -> $dst failed with no committed part")
      f.delete(tmp, false)
    }
  }

  private def writeSeg(out: DataOutputStream, term: String, shard: Int, n: Int,
                       sumTf: Long, docBytes: Array[Byte], tfBytes: Array[Byte],
                       blockFirst: Array[Long], blockMaxTfn: Array[Float],
                       blockMaxTf: Array[Int], blockMinDlen: Array[Int],
                       posBytes: Array[Byte]): Unit = {
    val tb = term.getBytes(StandardCharsets.UTF_8)
    out.writeInt(tb.length); out.write(tb)
    out.writeInt(shard); out.writeInt(n); out.writeLong(sumTf)
    out.writeInt(docBytes.length); out.write(docBytes)
    out.writeInt(tfBytes.length); out.write(tfBytes)
    out.writeInt(blockFirst.length); blockFirst.foreach(out.writeLong)
    out.writeInt(blockMaxTfn.length); blockMaxTfn.foreach(out.writeFloat)
    out.writeInt(blockMaxTf.length); blockMaxTf.foreach(out.writeInt)
    out.writeInt(blockMinDlen.length); blockMinDlen.foreach(out.writeInt)
    if (posBytes != null) { out.writeInt(posBytes.length); out.write(posBytes) }
    else out.writeInt(-1)
  }

  /** Stream one committed part file back as segments (NON-positional). */
  def readPart(path: String): Iterator[PostingSeg] =
    readRaw(path).map { r =>
      require(r._11 == null, s"$path is positional, expected non-positional")
      PostingSeg(r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10)
    }

  /** Stream one committed part file back as POSITIONAL segments. */
  def readPartP(path: String): Iterator[PostingSegP] =
    readRaw(path).map { r =>
      require(r._11 != null, s"$path is non-positional, expected positional")
      PostingSegP(r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10, r._11)
    }

  private def readRaw(path: String): Iterator[(String, Int, Int, Long,
      Array[Byte], Array[Byte], Array[Long], Array[Float], Array[Int],
      Array[Int], Array[Byte])] = {
    val conf = new Configuration()
    val p = new Path(path)
    val in = new DataInputStream(new BufferedInputStream(fs(p, conf).open(p), 1 << 16))
    require(in.readInt() == Magic, s"$path: bad part-file magic")
    in.readBoolean() // positional flag; per-seg posBytes length disambiguates
    new Iterator[(String, Int, Int, Long, Array[Byte], Array[Byte],
        Array[Long], Array[Float], Array[Int], Array[Int], Array[Byte])] {
      private var nextTermLen: Int = advance()
      private def advance(): Int =
        try in.readInt() catch { case _: EOFException => in.close(); -2 }
      def hasNext: Boolean = nextTermLen >= 0
      def next(): (String, Int, Int, Long, Array[Byte], Array[Byte],
          Array[Long], Array[Float], Array[Int], Array[Int], Array[Byte]) = {
        val tb = new Array[Byte](nextTermLen); in.readFully(tb)
        val term = new String(tb, StandardCharsets.UTF_8)
        val shard = in.readInt(); val n = in.readInt(); val sumTf = in.readLong()
        val db = new Array[Byte](in.readInt()); in.readFully(db)
        val fb = new Array[Byte](in.readInt()); in.readFully(fb)
        val bf = Array.fill(in.readInt())(in.readLong())
        val bm = Array.fill(in.readInt())(in.readFloat())
        val btf = Array.fill(in.readInt())(in.readInt())
        val bdl = Array.fill(in.readInt())(in.readInt())
        val posLen = in.readInt()
        val pb = if (posLen < 0) null else {
          val a = new Array[Byte](posLen); in.readFully(a); a
        }
        nextTermLen = advance()
        (term, shard, n, sumTf, db, fb, bf, bm, btf, bdl, pb)
      }
    }
  }
}
