package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The llm_batch corpus follows the sf0.1 statistics that
  * perfbench/README.md cites. */
class CorpusSpec extends AnyFunSuite {

  test("documents and embeddings follow the measured sf0.1 rules") {
    val dir = Files.createTempDirectory("perfbench-corpus")
    val spark = SparkSession.builder().master("local[2]").appName("CorpusSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val scale = LlmBench.Scale("test", docs = 2000, embeddings = 200, lineitem = 1000)
      LlmCorpus.write(spark, dir.toString, scale, seed = 20260101L)
      val docs = spark.read.parquet(s"$dir/documents.parquet").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(docs.size == 2000)
      val words = docs.values.toSeq.map(_.split(" ").toSeq)
      assert(words.flatten.toSet == LlmCorpus.Vocab.toSet + "dup")
      val dups = docs.filter(_._2.endsWith(" dup"))
      val bases = words.filterNot(_.last == "dup")
      assert(bases.forall(w => w.size >= 10 && w.size <= 100))
      assert(bases.map(_.size).min == 10 && bases.map(_.size).max == 100)
      // 1 in 20 expected; the binomial 99.9% band at n = 2000 is 62-140
      assert(dups.size >= 62 && dups.size <= 140, dups.size)
      // a duplicate is another document's text, unless it copied a duplicate
      val texts = docs.values.toSet
      val based = dups.count { case (_, t) => texts.contains(t.stripSuffix(" dup")) }
      assert(based >= dups.size * 8 / 10, s"$based of ${dups.size}")

      val norms = spark.read.parquet(s"$dir/embeddings.parquet").collect()
        .map(r => math.sqrt(r.getSeq[Float](1).map(x => x.toDouble * x).sum))
      assert(norms.length == 200 && norms.forall(n => math.abs(n - 1) < 1e-5))
    } finally {
      spark.stop()
      Harness.wipe(dir)
    }
  }
}
