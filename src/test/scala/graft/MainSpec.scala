package graft

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end CLI workflow: fe → train → predict over persisted parquet,
  * exactly the reference's argparse flow (feature_engineering.py / train.py
  * / predict.py), against a synthetic listings corpus (FIXTURES.md schema
  * A) with a learnable price function.
  */
class MainSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id_annonce", IntegerType),
    StructField("property_type", StringType),
    StructField("approximate_latitude", DoubleType),
    StructField("approximate_longitude", DoubleType),
    StructField("size", DoubleType),
    StructField("land_size", DoubleType),
    StructField("energy_performance_category", StringType),
    StructField("ghg_category", StringType),
    StructField("exposition", StringType),
    StructField("nb_rooms", DoubleType),
    StructField("price", DoubleType)))

  private def listings: DataFrame = {
    val types = Seq("maison", "appartement", "propriété")
    val cats = Seq("A", "C", "E", "G")
    val rows = (1 to 300).map { i =>
      val size = 30.0 + (i % 150)
      Row(
        i, types(i % 3),
        43.0 + (i % 80) * 0.1, -1.0 + (i % 110) * 0.1,
        size, size * 8.0,
        cats(i % 4), cats((i + 1) % 4),
        Seq("Nord", "Sud", "Est", "Ouest")(i % 4),
        1.0 + i % 8,
        size * 3000.0 + (i % 3) * 50000.0)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  test("fe → train → predict CLI round-trip produces finite prices") {
    val dir = java.nio.file.Files.createTempDirectory("graft_main").toString
    listings.filter(col("id_annonce") % 5 =!= 0)
      .write.mode("overwrite").parquet(s"$dir/train.parquet")
    listings.filter(col("id_annonce") % 5 === 0)
      .write.mode("overwrite").parquet(s"$dir/validation.parquet")

    Main.runFe(spark, s"$dir/train.parquet", s"$dir/validation.parquet",
      s"$dir/processed", s"$dir/models", "strict")
    spark.read.parquet(s"$dir/processed/train.parquet")
      .columns should contain("features")

    Main.runTrain(spark, s"$dir/train.parquet", s"$dir/validation.parquet",
      s"$dir/models", "lr", overwrite = false)
    // refuses to clobber without --overwrite, allows with
    an[IllegalStateException] should be thrownBy
      Main.runTrain(spark, s"$dir/train.parquet", s"$dir/validation.parquet",
        s"$dir/models", "lr", overwrite = false)
    Main.runTrain(spark, s"$dir/train.parquet", s"$dir/validation.parquet",
      s"$dir/models", "lr", overwrite = true)

    // train records the raw-input serving contract (minus the target) so
    // ServeMain can start without --schema-from
    val recorded = graft.serve.ServeMain.recordedSchema(s"$dir/models").get
    recorded.fieldNames should contain("property_type")
    recorded.fieldNames should not contain "price"
    graft.serve.ServeMain.recordedSchema(s"$dir/no-such-model") shouldBe None

    Main.runPredict(spark, s"$dir/models", "lr",
      s"$dir/validation.parquet", s"$dir/preds.parquet")
    val preds = spark.read.parquet(s"$dir/preds.parquet")
    preds.count() shouldBe 60
    preds.filter(col("prediction_price").isNull ||
      isnan(col("prediction_price")) ||
      col("prediction_price") <= 0).count() shouldBe 0
  }

  test("parseArgs splits key-value pairs and bare flags") {
    val (kv, flags) = Main.parseArgs(Seq(
      "--input-train", "a.parquet", "--overwrite", "--model-type", "gbt"))
    kv shouldBe Map("input-train" -> "a.parquet", "model-type" -> "gbt")
    flags shouldBe Set("overwrite")
  }

  test("the --model-type loader refuses an unknown type before reading anything") {
    val e = intercept[IllegalArgumentException](
      graft.ml.Persist.loadModelOfType("/nonexistent-model-dir", "xgb"))
    e.getMessage should include("xgb")
  }
}
