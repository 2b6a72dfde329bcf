package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.Tokenize

/** The three tokenizer implementations must agree exactly: the SQL
  * definition (`termsCol`, regexp over lower()), the JVM regex twin
  * (`tokenizeRegex`), and the ASCII fast-path scanner (`tokenize`) plus the
  * zero-allocation `tokenCount` / `token_count` Expression. Build and query
  * share these, so a single divergence breaks rank identity (the
  * server_secret_key_path parity analog, SURVEY.md §3.2).
  */
class TokenizeSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // strings over a code-like alphabet plus separators, casing, digits,
  // underscores, and occasional non-ASCII (forces the regex fallback)
  private val codeChar: Gen[Char] = Gen.frequency(
    (20, Gen.alphaNumChar), (4, Gen.const('_')), (6, Gen.oneOf(' ', '\n', '\t')),
    (3, Gen.oneOf('.', '(', ')', '{', '}', ';', '-', '+', '"')),
    (1, Gen.oneOf('é', 'Ω', '中', 'K' /* Kelvin K → lowercases to 'k' */ ,
      'İ' /* İ → lowercases to two chars */)))
  private val codeString: Gen[String] =
    Gen.listOf(codeChar).map(_.mkString)

  test("scanner tokenize == regex tokenize on arbitrary strings") {
    check(Prop.forAll(codeString) { s =>
      Tokenize.tokenize(s).sameElements(Tokenize.tokenizeRegex(s))
    })
  }

  test("tokenCount == tokenize.length on arbitrary strings") {
    check(Prop.forAll(codeString) { s =>
      Tokenize.tokenCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) ==
        Tokenize.tokenize(s).length
    })
  }

  test("scanner lowercases and splits exactly like the SQL column") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val samples = Seq(
      "import Def_Class99 foo.bar(BAZ_1)", "", "___", "a", "A\nB\tc",
      "x" * 5000, "KKk İstanbul é中文 mix_01") ++
      (0L until 50L).map(i => graft.corpus.CorpusGen.rowFor(i,
        graft.corpus.CorpusGen.Config(numDocs = 50)).content)
    val df = samples.toDF("content")
    graft.functions.VByteFunctions.register(spark)
    val rows = df.select(
      Tokenize.termsCol(col("content")).as("sqlToks"),
      size(Tokenize.termsCol(col("content"))).as("sqlN"),
      expr("token_count(content)").as("exprN"),
      col("content")).collect()
    rows.foreach { r =>
      val sqlToks = r.getSeq[String](0)
      val jvmToks = Tokenize.tokenize(r.getString(3)).toSeq
      assert(jvmToks == sqlToks, s"tokens diverge on '${r.getString(3).take(60)}'")
      assert(r.getInt(1) == r.getInt(2), "token_count != size(termsCol)")
    }
  }

  test("the build's draft encoder tokenizes every doc exactly like tokenize") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.index.{Codec, IndexBuilder, IndexConfig}
    // seeded generated docs: runs of mixed-case letters, digits and '_',
    // separators incl. 0x7F; every other doc may also hold 0x80, U+0130
    // (lowercases to two chars) and the Kelvin sign (lowercases to 'k'),
    // which send it down the regex path; every 13th doc is empty
    val asciiChars = "aAbBzZ09_ .(\n\u007f"
    val anyChars = asciiChars + "\u0080\u0130\u212a\u00e9"
    val rnd = new scala.util.Random(7L)
    val contents = (0 until 300).map { i =>
      if (i % 13 == 0) ""
      else {
        val chars = if (i % 2 == 0) asciiChars else anyChars
        val sb = new StringBuilder
        for (_ <- 0 until rnd.nextInt(40)) {
          val c = chars.charAt(rnd.nextInt(chars.length))
          for (_ <- 0 to rnd.nextInt(4)) sb += c
        }
        sb.toString
      }
    }
    assert(contents.exists(c => Tokenize.isAscii(c) && c.contains('_')))
    assert(contents.exists(c => !Tokenize.isAscii(c) && c.contains('\u212a')))
    val dir = s"${TestSpark.workDir}/fuzz_tokenize"
    contents.zipWithIndex.map { case (c, i) => FileRow("r", f"p$i%04d", "c", "x", c) }
      .toDF().write.mode("overwrite").parquet(s"$dir/files.parquet")
    // small shards over 3 partitions: shards straddle partition boundaries,
    // so boundary drafts are merged reduce-side too
    val cfg = IndexConfig(docsPerShard = 16, buildPartitions = 3,
      positions = true, verifySha = false)
    FsUtil.deleteRecursively(s"$dir/idx")
    IndexBuilder.buildFast(spark, dir, s"$dir/idx", cfg)

    val docs = spark.read.parquet(s"$dir/idx/docs.parquet")
      .select("docId", "path", "dlen").as[(Long, String, Int)].collect()
    val lens = spark.read.parquet(s"$dir/idx/dlens.parquet").as[graft.ShardLens]
      .collect().map(l => l.shard -> l).toMap
    val got: Map[Long, Map[String, Seq[Int]]] =
      spark.read.parquet(s"$dir/idx/postings.parquet")
        .select("term", "n", "docBytes", "tfBytes", "posBytes")
        .as[(String, Int, Array[Byte], Array[Byte], Array[Byte])].collect()
        .flatMap { case (term, n, db, fb, pb) =>
          val ids = Codec.decodeDeltas(db, n)
          val tfs = Codec.decodeInts(fb, n)
          val flat = Codec.decodePositions(pb, tfs)
          val off = Codec.prefixSums(tfs)
          ids.indices.map(x => (ids(x), term, flat.slice(off(x), off(x + 1)).toSeq))
        }
        .groupBy(_._1).map { case (d, ps) => d -> ps.map(p => p._2 -> p._3).toMap }
    assert(docs.length == contents.length)
    docs.foreach { case (docId, path, dlen) =>
      val toks = Tokenize.tokenize(contents(path.drop(1).toInt))
      val want = toks.zipWithIndex.groupBy(_._1)
        .map { case (t, ps) => t -> ps.map(_._2).toSeq }
      assert(got.getOrElse(docId, Map.empty) == want, s"doc $docId ('$path')")
      assert(dlen == toks.length, s"dlen of doc $docId")
      val sl = lens((docId / cfg.docsPerShard).toInt)
      assert(sl.lens((docId - sl.firstDocId).toInt) == toks.length,
        s"dlens slot of doc $docId")
    }
  }
}
