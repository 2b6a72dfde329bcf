package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{Codec, Tokenize}

/** The inverted index by its DataFrame definition — the reference a build
  * is compared against. Postings are explode(termsCol(content)) →
  * groupBy(term, docId) → tf, with docIds taken from the built docs table's
  * keys and shard = docId / docsPerShard; the docs table is the dense rank
  * of (repo, path, commit) with dlen = number of tokens.
  */
object PostingsOracle {

  /** (term, shard, docId, tf) of the corpus under the index's docIds. */
  def postings(spark: SparkSession, corpusDir: String, indexDir: String,
               docsPerShard: Int): DataFrame = {
    val keys = spark.read.parquet(s"$indexDir/docs.parquet")
      .select("docId", "repo", "path", "commit")
    spark.read.parquet(s"$corpusDir/files.parquet")
      .join(keys, Seq("repo", "path", "commit"))
      .select(col("docId"), explode(Tokenize.termsCol(col("content"))).as("term"))
      .groupBy("term", "docId")
      .agg(count(lit(1)).cast("int").as("tf"))
      .select(col("term"), (col("docId") / docsPerShard).cast("int").as("shard"),
        col("docId"), col("tf"))
  }

  /** (docId, repo, path, commit, lang, dlen, sha256) of the corpus. */
  def docs(spark: SparkSession, corpusDir: String): DataFrame =
    spark.read.parquet(s"$corpusDir/files.parquet")
      .select(
        (row_number().over(Window.orderBy("repo", "path", "commit")) - 1)
          .cast("long").as("docId"),
        col("repo"), col("path"), col("commit"), col("lang"),
        size(Tokenize.termsCol(col("content"))).cast("int").as("dlen"),
        sha2(col("content"), 256).as("sha256"))

  /** (term, shard, docId, tf) decoded from a built index's postings. */
  def decoded(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$indexDir/postings.parquet")
      .select("term", "shard", "n", "docBytes", "tfBytes")
      .as[(String, Int, Int, Array[Byte], Array[Byte])]
      .flatMap { case (term, shard, n, db, fb) =>
        Codec.decodeDeltas(db, n).zip(Codec.decodeInts(fb, n))
          .map { case (d, f) => (term, shard, d, f) }
      }
      .toDF("term", "shard", "docId", "tf")
  }

  /** Both directions of EXCEPT ALL are empty. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}
