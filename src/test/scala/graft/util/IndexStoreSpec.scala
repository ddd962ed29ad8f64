package graft.util

import graft.SparkSpec
import graft.llm.Dedup
import org.apache.spark.sql.functions._

/** The MinHash payload under the generational store's commit rules: the
  * manifest is the only commit point for readers, a takedown against a
  * missing store is refused, and batch ids follow the strict ASCII rule.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select("doc_id", "text")

  private def rows(path: String) =
    Dedup.minhashPairsAgainstIndex(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", path, 0.5)
      .orderBy("new_id", "corpus_id").as[(Long, Long, Double)].collect().toSeq

  test("minhash store: an uncommitted generation (bands and hashes dirs " +
      "written, never committed) does not change index query results") {
    val root = tmpDir("minhash-orphan")
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    Dedup.writeMinhashIndex(a, "doc_id", "text", s"$root/idx", 0.5)
    val baseline = rows(s"$root/idx")
    // b's generation data, built elsewhere and planted as gen=x of idx
    // without going through the store's commit
    Dedup.writeMinhashIndex(b, "doc_id", "text", s"$root/b", 0.5)
    for (sub <- Seq("bands", "hashes"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$root/b/$sub/gen=base"),
        new java.io.File(s"$root/idx/$sub/gen=x"))
    rows(s"$root/idx") shouldBe baseline
    // non-vacuous: the same rows, once committed, do change the result
    Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/idx", "x", 0.5)
    rows(s"$root/idx") should not be baseline
  }

  test("minhash store: a takedown against a missing store is refused and " +
      "writes nothing") {
    val missing = s"${tmpDir("minhash-missing")}/nope"
    an[IllegalArgumentException] should be thrownBy
      Dedup.tombstoneMinhashIndex(spark, missing,
        docs.limit(1), "doc_id", "t1")
    new java.io.File(missing).exists() shouldBe false
  }

  test("minhash store: a batch id outside ASCII [A-Za-z0-9._-] is refused") {
    val root = tmpDir("minhash-batchid")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", s"$root/idx", 0.5)
    val batch = docs.filter(col("doc_id") % 3 === 1)
    for (bad <- Seq("a\"b", "caf\u00e9", "a:b"))
      an[IllegalArgumentException] should be thrownBy
        Dedup.appendToMinhashIndex(batch, "doc_id", "text", s"$root/idx",
          bad, 0.5)
    new java.io.File(s"$root/idx/bands").list().toSeq shouldBe Seq("gen=base")
  }
}
