package graft.ml

import graft.SparkSpec
import graft.features.{Encoding, TargetTransformer}
import graft.infer.Predictor
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Synthesized real-estate fixture (FIXTURES.md schema A — French labels,
    * price a deterministic function of size + type so models can learn it).
    */
  private def listings: DataFrame = {
    val types = Seq("maison", "appartement", "propriété")
    (1 to 300).map { i =>
      val t = types(i % 3)
      val size = 30.0 + (i % 150)
      val price = size * 3000.0 + (i % 3) * 50000.0 // additive in size + type
      (i, t, size, price)
    }.toDF("id_annonce", "property_type", "size", "price")
  }

  test("encode pipeline width includes encoded categoricals (Q1 fix)") {
    val pipeline = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip")
    val model = pipeline.fit(listings)
    val width = model.transform(listings)
      .select(org.apache.spark.sql.functions.size(vector_to_array(col("features"))).as("w"))
      .head().getInt(0)
    width shouldBe (3 - 1) + 1 // (categories − dropLast) + numerics
  }

  test("pipeline save/load round-trips through MLWritable") {
    val dir = tmpDir("pipe")
    val model = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    loaded.transform(listings).count() shouldBe 300
  }

  test("RF learns the synthetic price function (R² high), importances sane") {
    val fe = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    val df = fe.transform(listings)
    // "all": with only 3 features, the auto ⅓-subset starves the splits
    val rf = Trainer.randomForest("price", numTrees = 20, maxDepth = 8)
      .setFeatureSubsetStrategy("all").fit(df)
    val m = Trainer.evaluate(rf.transform(df), "price")
    m.r2 should be > 0.9
    rf.featureImportances.toArray.sum shouldBe 1.0 +- 1e-6
  }

  test("evaluate's one aggregate equals RegressionEvaluator's three passes") {
    val preds = (1 to 500).map { i =>
      val y = 100.0 + i * 3.7 + (i % 7) * 11.0
      (y, y + math.sin(i) * 25.0 - 4.0)
    }.toDF("label", "prediction").repartition(4)
    def evaluator(df: DataFrame) = EvalMetrics(
      Trainer.evaluator("label", "rmse").evaluate(df),
      Trainer.evaluator("label", "r2").evaluate(df),
      Trainer.evaluator("label", "mae").evaluate(df))
    val (one, three) = (Trainer.evaluate(preds, "label"), evaluator(preds))
    for ((a, b) <- one.productIterator.zip(three.productIterator)) {
      val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
      x shouldBe y +- math.abs(y) * 1e-9
    }
    // a NaN prediction makes every metric NaN on both paths
    val nan = preds.union(Seq((1.0, Double.NaN)).toDF("label", "prediction"))
    Trainer.evaluate(nan, "label").productIterator.toSeq
      .map(_.asInstanceOf[Double].isNaN) shouldBe Seq(true, true, true)
    evaluator(nan).productIterator.toSeq
      .map(_.asInstanceOf[Double].isNaN) shouldBe Seq(true, true, true)
    // a null prediction fails on both paths
    val withNull = preds.union(Seq[(Double, Option[Double])]((1.0, None))
      .toDF("label", "prediction"))
    intercept[Exception](Trainer.evaluate(withNull, "label"))
    intercept[Exception](evaluator(withNull))
  }

  test("CV selects the unregularized model on noise-free linear data") {
    val df = Encoding.buildPipeline(Seq(), Seq("size"), "skip")
      .fit(listings).transform(listings)
      .withColumn("y", col("size") * 5.0 + 7.0)
    val lr = Trainer.linear("y")
    val cv = Trainer.trainWithCV(df, lr, Trainer.lrGrid(lr), "y", folds = 3)
    val best = cv.bestModel.asInstanceOf[LinearRegressionModel]
    best.getRegParam shouldBe 0.1 // smallest grid value wins on noise-free data
    cv.avgMetrics.min should be < 60.0
  }

  test("full train→persist→predict path: batch == single row, finite (Q2 fix)") {
    val dir = tmpDir("artifacts")
    val fe = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    val tt = new TargetTransformer("price").fit(listings)
    val train = tt.transform(fe.transform(listings))
    val model = Trainer.linear("log_price").setSolver("normal").fit(train)
    Persist.saveAll(dir, model, fe, tt, Map("model_type" -> "lr"))

    val predictor = new Predictor(
      Persist.loadPipeline(dir),
      Persist.loadModel(dir, LinearRegressionModel),
      Persist.loadTargetTransformer(dir, "price"))

    val batch = predictor.predictBatch(listings.limit(1))
      .select("prediction_price").head().getDouble(0)
    batch.isInfinity shouldBe false
    batch should be > 0.0

    val row1 = listings.head()
    val single = predictor.predictSingle(spark,
      Map("id_annonce" -> row1.getInt(0), "property_type" -> row1.getString(1),
        "size" -> row1.getDouble(2)),
      org.apache.spark.sql.types.StructType(listings.schema.fields.filterNot(_.name == "price")))
    single shouldBe batch +- 1e-9
  }

  test("prepared single-row path matches the naive path and is measurably faster") {
    val fe = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    val tt = new TargetTransformer("price").fit(listings)
    val train = tt.transform(fe.transform(listings))
    val model = Trainer.linear("log_price").setSolver("normal").fit(train)
    val predictor = new Predictor(fe.transform(_), model, tt)
    val schema = org.apache.spark.sql.types.StructType(
      listings.schema.fields.filterNot(_.name == "price"))
    val input = Map[String, Any](
      "id_annonce" -> 1, "property_type" -> "maison", "size" -> 75.0)

    val prepared = predictor.prepareSingle(spark, schema)
    val naive = predictor.predictSingle(spark, input, schema)
    prepared.predict(input).get shouldBe naive +- 1e-9

    // micro-bench: both paths warmed above; per-call averages over small
    // loops. The real margin is ~1000× (prepared path runs no Spark job),
    // but wall-clock on a loaded machine flakes, so CI asserts only a
    // conservative 3× and LOGS the measured ratio for the curious.
    def timeAvgNs(n: Int)(f: => Unit): Double = {
      val t0 = System.nanoTime(); (1 to n).foreach(_ => f)
      (System.nanoTime() - t0).toDouble / n
    }
    val naiveNs = timeAvgNs(5)(predictor.predictSingle(spark, input, schema))
    val preparedNs = timeAvgNs(100)(prepared.predict(input))
    info(f"prepared-vs-naive single-row: naive=${naiveNs / 1e6}%.2fms " +
      f"prepared=${preparedNs / 1e6}%.3fms ratio=${naiveNs / preparedNs}%.0fx")
    withClue(f"naive=${naiveNs / 1e6}%.2fms prepared=${preparedNs / 1e6}%.3fms: ") {
      (naiveNs / preparedNs) should be >= 3.0
    }
  }
}
