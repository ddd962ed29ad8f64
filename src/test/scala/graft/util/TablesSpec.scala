package graft.util

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `events.ts` long-epoch-ns contract (see Tables.normalizeEventTs).
  *
  * The round-8 regression: the harness regenerated events.parquet with
  * `ts` as timestamp[us] (TIMESTAMP_NTZ in Spark 4.1.2) where it used to
  * be TIMESTAMP(NANOS)-read-as-long, and 17 temporal/streaming queries
  * failed analysis on `ts div 1000`. These tests pin the adapter for every
  * schema shape the generator has shipped, on hand-computed values, so a
  * future regen in EITHER direction fails here first — not in the driver's
  * round artifacts.
  */
class TablesSpec extends SparkSpec {

  // 2024-01-08T00:00:00Z in the three encodings the generator has used
  private val epochUs = 1704672000000000L
  private val epochNs = 1704672000000000000L

  test("normalizeEventTs: LongType (epoch-ns) passes through untouched") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, epochNs)),
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", LongType))))
    val out = Tables.normalizeEventTs(df)
    out.schema("ts").dataType shouldBe LongType
    out.collect().head.getLong(1) shouldBe epochNs
    // same plan object — passthrough must not insert a projection
    out eq df shouldBe true
  }

  test("normalizeEventTs: TIMESTAMP_NTZ (µs) becomes exact epoch-ns") {
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, java.time.LocalDateTime.ofEpochSecond(
          epochUs / 1000000, ((epochUs % 1000000) * 1000).toInt,
          java.time.ZoneOffset.UTC)),
        Row(2L, java.time.LocalDateTime.ofEpochSecond(
          epochUs / 1000000, 123456000, java.time.ZoneOffset.UTC))),
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampNTZType))))
    val out = Tables.normalizeEventTs(df).orderBy("event_id").collect()
    out(0).getLong(1) shouldBe epochNs
    out(1).getLong(1) shouldBe (epochUs / 1000000 * 1000000L + 123456L) * 1000L
  }

  test("normalizeEventTs: TIMESTAMP (µs, UTC session) becomes exact epoch-ns") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(epochUs / 1000000)))),
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType))))
    Tables.normalizeEventTs(df).collect().head.getLong(1) shouldBe epochNs
  }

  test("normalizeEventTs: an unknown ts shape fails fast with a readable message") {
    val df = spark.range(1).select(col("id").as("event_id"),
      col("id").cast(StringType).as("ts"))
    val e = intercept[IllegalStateException](Tables.normalizeEventTs(df))
    e.getMessage should include("events.ts")
    e.getMessage should include("StringType")
  }

  test("preflight passes on driver testdata and names the table on drift") {
    Tables.preflight(spark, "/root/testdata/sf0.001") // must not throw
    // synthetic drift: a dir whose documents.text is an INT column
    val dir = tmpDir("preflight-drift")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings")) {
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"))
    }
    spark.range(3).selectExpr("id AS doc_id", "CAST(id AS INT) AS text",
      "'en' AS lang").coalesce(1).write.parquet(s"$dir/_dtmp")
    val part = new java.io.File(s"$dir/_dtmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val e = intercept[IllegalArgumentException](Tables.preflight(spark, dir))
    e.getMessage should include("documents.text")
  }

  /** A fixture dir that is the real sf0.001 testdata with ONE table
    * replaced by `rows` written via the given DataFrame.
    */
  private def fixtureWith(name: String, table: String,
      df: org.apache.spark.sql.DataFrame): String = {
    val dir = tmpDir(name)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
        if t != table) {
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"))
    }
    df.coalesce(1).write.parquet(s"$dir/_tmp")
    val part = new java.io.File(s"$dir/_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/$table.parquet"))
    dir
  }

  test("preflight fails fast on a NULL documents.text row (data nullability)") {
    // schema-identical to the real table — only the DATA carries the null
    val df = spark.range(3).selectExpr("id AS doc_id",
      "CASE WHEN id = 1 THEN NULL ELSE 'hello' END AS text",
      "'en' AS lang", "'web' AS source", "5 AS n_chars")
    val e = intercept[IllegalArgumentException](
      Tables.preflight(spark, fixtureWith("preflight-null-text", "documents", df)))
    e.getMessage should include("documents.text")
    e.getMessage should include("NULL")
  }

  test("preflight fails fast on float64 embedding elements") {
    val df = spark.range(3).selectExpr("id AS vec_id",
      "array(CAST(id AS DOUBLE), 1.0D) AS embedding", "CAST(id AS INT) AS label")
    val e = intercept[IllegalArgumentException](
      Tables.preflight(spark, fixtureWith("preflight-f64-emb", "embeddings", df)))
    e.getMessage should include("embeddings.embedding")
    e.getMessage should include("FLOAT")
  }

  test("preflight fails fast on a null embedding element") {
    val df = spark.range(3).selectExpr("id AS vec_id",
      "array(CAST(id AS FLOAT), IF(id = 2, CAST(NULL AS FLOAT), 1.0F)) AS embedding",
      "CAST(id AS INT) AS label")
    val e = intercept[IllegalArgumentException](
      Tables.preflight(spark, fixtureWith("preflight-null-elem", "embeddings", df)))
    e.getMessage should include("null elements")
  }

  test("preflight fails fast when a value-level slice contract empties (vacuous-gate guard)") {
    // source vocabulary drifted: no 'src0' rows → t17's reference slice is
    // empty and result == oracle == empty would hash-green. Schema is fine;
    // only the VALUES weaken the gate — preflight must still catch it.
    val df = spark.range(3).selectExpr("id AS doc_id", "'hello' AS text",
      "'en' AS lang", "'web' AS source", "5 AS n_chars")
    val e = intercept[IllegalArgumentException](
      Tables.preflight(spark, fixtureWith("preflight-no-src0", "documents", df)))
    e.getMessage should include("src0")
    e.getMessage should include("vacuous")
  }

  test("on-disk events table normalizes to the ns contract at every sf") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val ev = Tables.events(spark, s"/root/testdata/$sf")
      ev.schema("ts").dataType shouldBe LongType
      // the generator writes 2024+ timestamps; a µs value mistakenly kept
      // as-is would be ~1.7e15, three orders below this bound
      val mn = ev.agg(min("ts")).collect().head.getLong(0)
      mn should be > 1500000000000000000L // ≥ ~2017 in epoch-ns
    }
  }

  test("scratch dirs lie under the working checkout's target/qtmp") {
    val root = java.nio.file.Paths.get("").toAbsolutePath.resolve("target/qtmp")
    val dir = java.nio.file.Paths.get(Tables.scratch("/data/sf0.01", "s06"))
    dir.isAbsolute shouldBe true
    dir shouldBe root.resolve("sf0.01/s06")
  }
}
