package graft.infer

import graft.SparkSpec
import graft.features.{Encoding, TargetTransformer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The prepared batch path answers exactly what `predictBatch` answers on
  * the same rows, matches columns by name, and rejects an upload that does
  * not carry the served schema before any job runs.
  */
class PreparedBatchSpec extends SparkSpec {
  import spark.implicits._

  private def listings: DataFrame = {
    val types = Seq("maison", "appartement", "propriété")
    (1 to 300).map { i =>
      val size = 30.0 + (i % 150)
      (i.toLong, types(i % 3), size, size * 3000.0 + (i % 3) * 50000.0)
    }.toDF("id_annonce", "property_type", "size", "price")
  }

  // a forest: spark.ml tree models broadcast themselves on every transform
  private lazy val fitted = {
    val fe = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    val tt = new TargetTransformer("price").fit(listings)
    val model = graft.ml.Trainer.randomForest("log_price", numTrees = 5,
      maxDepth = 4).fit(tt.transform(fe.transform(listings)))
    new Predictor(fe, model, tt)
  }

  private val schema = StructType(Seq(
    StructField("id_annonce", LongType),
    StructField("property_type", StringType),
    StructField("size", DoubleType)))

  private val rows = Seq((10L, "maison", 75.0), (11L, "appartement", 100.0),
    (12L, "propriété", 130.0), (13L, "château", 90.0))

  private def prices(df: DataFrame): Map[Long, Double] =
    df.select(col("id_annonce"), col("prediction_price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("a reordered upload with extra columns predicts what predictBatch does") {
    val prepared = fitted.prepareBatch(spark, schema)
    val upload = rows.map { case (id, t, s) => (s, "x", id, t) }
      .toDF("size", "note", "id_annonce", "property_type")
    val direct = prices(fitted.predictBatch(
      rows.toDF("id_annonce", "property_type", "size")))
    direct.keySet shouldBe Set(10L, 11L, 12L) // handleInvalid=skip drops 13
    prices(prepared(upload)) shouldBe direct
    // the template is reusable: a second upload gets its own rows
    prices(prepared(upload.filter(col("id_annonce") === 11L))) shouldBe
      direct.filter(_._1 == 11L)
  }

  test("rebinding an upload makes no new model broadcast") {
    val prepared = fitted.prepareBatch(spark, schema)
    val upload = rows.toDF("id_annonce", "property_type", "size")
    def broadcastsDuring(f: => Unit): Long = {
      val before = spark.sparkContext.broadcast(0).id
      f
      spark.sparkContext.broadcast(0).id - before - 1
    }
    broadcastsDuring(prices(prepared(upload))) shouldBe 0L
    broadcastsDuring(prices(fitted.predictBatch(upload))) should be > 0L
  }

  test("an upload missing a served column fails before any job, naming it") {
    val prepared = fitted.prepareBatch(spark, schema)
    val e = intercept[IllegalArgumentException](
      prepared(Seq((1L, "maison")).toDF("id_annonce", "property_type")))
    e.getMessage should include("'size'")
  }

  test("an upload column of another type than the served one is refused") {
    val prepared = fitted.prepareBatch(spark, schema)
    val e = intercept[IllegalArgumentException](prepared(
      Seq((1L, "maison", "75.0")).toDF("id_annonce", "property_type", "size")))
    e.getMessage should include("'size' is string")
  }
}
