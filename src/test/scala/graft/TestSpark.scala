package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One shared local session + shared small corpus/index for all suites. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("psispark-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .getOrCreate()

  lazy val workDir: String = {
    val d = Files.createTempDirectory("psispark-test").toString
    d
  }

  val corpusCfg: corpus.CorpusGen.Config = corpus.CorpusGen.Config(numDocs = 2000L, seed = 42L)

  /** Corpus + built index, materialized once. */
  lazy val builtIndex: (String, String) = {
    val c = s"$workDir/corpus"
    val i = s"$workDir/index"
    corpus.CorpusGen.writeCorpus(spark, corpusCfg, c)
    index.IndexBuilder.buildFast(spark, c, i, index.IndexConfig(docsPerShard = 256))
    (c, i)
  }
}
