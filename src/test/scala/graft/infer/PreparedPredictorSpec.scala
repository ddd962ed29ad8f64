package graft.infer

import graft.SparkSpec
import graft.features.{Encoding, TargetTransformer}
import org.apache.spark.sql.DataFrame

/** The compiled chain answers the same through both entry points: an
  * external `Row` and the same row already in Spark's internal form.
  */
class PreparedPredictorSpec extends SparkSpec {
  import spark.implicits._

  private def listings: DataFrame = {
    val types = Seq("maison", "appartement", "propriété")
    (1 to 300).map { i =>
      val size = 30.0 + (i % 150)
      (i.toLong, types(i % 3), size, size * 3000.0 + (i % 3) * 50000.0)
    }.toDF("id_annonce", "property_type", "size", "price")
  }

  test("predictInternal gives predictRow's answer on every row, including a dropped one") {
    val fe = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    val tt = new TargetTransformer("price").fit(listings)
    val model = graft.ml.Trainer.randomForest("log_price", numTrees = 5,
      maxDepth = 4).fit(tt.transform(fe.transform(listings)))
    val rows = listings.drop("price")
      .union(Seq((301L, "château", 90.0)).toDF("id_annonce", "property_type", "size"))
    val chain = new Predictor(fe, model, tt).prepareSingle(spark, rows.schema)
    val external = rows.collect()
    val internal = rows.queryExecution.toRdd.map(_.copy()).collect()
    external.length shouldBe 301
    val viaRow = external.map(chain.predictRow).toSeq
    internal.map(chain.predictInternal).toSeq shouldBe viaRow
    viaRow.count(_.isEmpty) shouldBe 1 // handleInvalid=skip drops "château"
    viaRow.last shouldBe None
  }
}
