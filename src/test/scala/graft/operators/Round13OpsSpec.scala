package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand fixtures + choreography pins for the round-13 additions: q42 CSV
  * schema evolution, x16 grouped weighted median, st20 streaming interval
  * coverage (its merge math is pinned in EventStreamsSpec; here the
  * declared query's within-session re-run).
  */
class Round13OpsSpec extends SparkSpec {
  import spark.implicits._

  test("x16 weighted median on hand fixtures: weight mass, lower-median " +
      "tie rule, value ties accumulated RANGE-style, zero weights inert") {
    val df = Seq(
      // A: cum at 10→1, 20→4; 2·4 ≥ 6 → median 20
      ("A", 10.0, 1L), ("A", 20.0, 3L), ("A", 30.0, 2L),
      // B: even total, lower median → 1.0 (2·1 ≥ 2)
      ("B", 1.0, 1L), ("B", 2.0, 1L),
      // C: duplicate value rows share one cumulative step (RANGE): cum at
      // 5.0 is 2 for both rows → 2·2 ≥ 3 → median 5.0; zero weight inert
      ("C", 5.0, 1L), ("C", 5.0, 1L), ("C", 9.0, 1L), ("C", 7.0, 0L)
    ).toDF("k", "v", "w")
    val got = Extras.weightedMedianByKey(df, "k", "v", "w")
      .as[(String, Double, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    got shouldBe Map(
      "A" -> ((20.0, 6L, 3L)),
      "B" -> ((1.0, 2L, 2L)),
      "C" -> ((5.0, 3L, 4L)))
    // heavily skewed weight drags the median to the heavy value
    val skew = Seq(("S", 1.0, 1L), ("S", 2.0, 100L), ("S", 3.0, 1L)).toDF("k", "v", "w")
    Extras.weightedMedianByKey(skew, "k", "v", "w")
      .select("wmedian").as[Double].head() shouldBe 2.0
  }

  test("d20 compaction: one generation out, grown-index results preserved, " +
      "params copied verbatim, in-place refused, half-written dest refuses") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-d20").toString
    graft.llm.Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", s"$root/idx", 0.5)
    graft.llm.Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", s"$root/idx", "s1", 0.5)
    new java.io.File(s"$root/idx/bands").list()
      .count(_.startsWith("gen=")) shouldBe 2
    graft.llm.Dedup.compactMinhashIndex(spark, s"$root/idx", s"$root/c")
    // exactly one generation in the compacted store, params verbatim
    for (sub <- Seq("bands", "hashes"))
      new java.io.File(s"$root/c/$sub").list()
        .filter(_.startsWith("gen=")).toSeq shouldBe Seq("gen=base")
    def manifest(p: String) = graft.util.IndexStore
      .readManifest(spark, p, graft.llm.Dedup.minhashStore)
    manifest(s"$root/idx").gens shouldBe Seq("base", "s1")
    manifest(s"$root/c").gens shouldBe Seq("base")
    manifest(s"$root/c").params shouldBe manifest(s"$root/idx").params
    val probe = docs.filter(col("doc_id") % 3 === 2)
    def rows(p: String) = graft.llm.Dedup
      .minhashPairsAgainstIndex(probe, "doc_id", "text", p, 0.5)
      .orderBy("new_id", "corpus_id").as[(Long, Long, Double)].collect().toSeq
    val got = rows(s"$root/c")
    got should not be empty
    got shouldBe rows(s"$root/idx")
    // in-place compaction is refused (would lose crash safety)
    an[IllegalArgumentException] should be thrownBy
      graft.llm.Dedup.compactMinhashIndex(spark, s"$root/idx", s"$root/idx")
    // the manifest is the commit marker: a dest missing it refuses loudly
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$root/c/_graft_index.json"))
    the[IllegalArgumentException] thrownBy rows(s"$root/c") should have message
      s"requirement failed: no index meta (_graft_index.json) at $root/c — " +
        "store missing or half-written"
  }

  test("d21 tombstones: merge-on-read exclusion, idempotent takedown " +
      "retry, physical reclaim + tombstone reset at compaction") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-d21").toString
    graft.llm.Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 < 2),
      "doc_id", "text", s"$root/idx", 0.5)
    val probe = docs.filter(col("doc_id") % 3 === 2)
    def rows(p: String) = graft.llm.Dedup
      .minhashPairsAgainstIndex(probe, "doc_id", "text", p, 0.5)
      .orderBy("new_id", "corpus_id").as[(Long, Long, Double)].collect().toSeq
    val before = rows(s"$root/idx")
    val dead = docs.filter(col("doc_id") % 3 < 2 && col("doc_id") % 4 === 1)
    graft.llm.Dedup.tombstoneMinhashIndex(spark, s"$root/idx", dead,
      "doc_id", "t1")
    val after = rows(s"$root/idx")
    val deadIds = dead.select("doc_id").as[Long].collect().toSet
    after shouldBe before.filterNot(r => deadIds.contains(r._2))
    after.size should be < before.size // the takedown actually bit
    // retrying the same takedown batch is idempotent (overwrite, not append)
    graft.llm.Dedup.tombstoneMinhashIndex(spark, s"$root/idx", dead,
      "doc_id", "t1")
    rows(s"$root/idx") shouldBe after
    // compaction APPLIES tombstones physically and resets the list
    graft.llm.Dedup.compactMinhashIndex(spark, s"$root/idx", s"$root/c")
    new java.io.File(s"$root/c/tombstones").exists() shouldBe false
    rows(s"$root/c") shouldBe after
    val liveHashes = spark.read.parquet(s"$root/c/hashes")
      .select("id").as[Long].collect().toSet
    liveHashes.intersect(deadIds) shouldBe empty
  }

  test("q42 CSV evolution: within-session re-run lands on the identical " +
      "result (overwrite + generation-rename choreography)") {
    val d = "/root/testdata/sf0.001"
    def run() = graft.SparkEntry.queries("q42_csv_evolution")(spark, d)
      .collect().toSeq
    val first = run()
    first.size should be > 0
    // old generation rows: mkt null-filled AND flagged; new: value, unflagged
    first.foreach { r =>
      val oldGen = r.getLong(0) % 2 == 0
      r.getBoolean(4) shouldBe oldGen
      r.isNullAt(3) shouldBe oldGen
    }
    run() shouldBe first
  }
}
