package graft.infer

import graft.SparkSpec
import graft.features.{Encoding, TargetTransformer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Rand}
import org.apache.spark.sql.functions.rand

/** The compiled chain answers the same through both entry points (an
  * external `Row` and the same row already in Spark's internal form), and
  * its forks answer the same as it does, each on its own thread.
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

  // the 300 listings plus a row handleInvalid=skip drops ("château")
  private lazy val rows = listings.drop("price")
    .union(Seq((301L, "château", 90.0)).toDF("id_annonce", "property_type", "size"))

  private lazy val predictor = {
    val fe = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    val tt = new TargetTransformer("price").fit(listings)
    val model = graft.ml.Trainer.randomForest("log_price", numTrees = 5,
      maxDepth = 4).fit(tt.transform(fe.transform(listings)))
    new Predictor(fe, model, tt)
  }

  private lazy val chain = predictor.prepareSingle(spark, rows.schema)

  test("predictInternal gives predictRow's answer on every row, including a dropped one") {
    val external = rows.collect()
    val internal = rows.queryExecution.toRdd.map(_.copy()).collect()
    external.length shouldBe 301
    val viaRow = external.map(chain.predictRow).toSeq
    internal.map(chain.predictInternal).toSeq shouldBe viaRow
    viaRow.count(_.isEmpty) shouldBe 1 // handleInvalid=skip drops "château"
    viaRow.last shouldBe None
  }

  test("a chain and its fork share no expression instance other than literals") {
    // rand(7) reads no column, so binding alone would not copy it
    val chain = new Predictor(
      (df: DataFrame) => predictor.preprocess(df.withColumn("noise", rand(7))),
      predictor.model, predictor.targetTransformer).prepareSingle(spark, rows.schema)
    def nodes(p: PreparedPredictor): Seq[Expression] =
      p.expressions.flatMap(_.collect { case e => e })
    val mine = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Expression, java.lang.Boolean])
    nodes(chain).foreach(mine.add)
    val fork = chain.fork()
    fork.schema shouldBe chain.schema
    nodes(fork).collect { case r: Rand => r } should have size 1
    nodes(fork) should not be empty
    nodes(fork).filter(mine.contains).filterNot(_.isInstanceOf[Literal]) shouldBe empty
  }

  test("forks on 4 threads answer every row as one sequential pass does") {
    val external = rows.collect()
    val sequential = external.map(chain.predictRow).toSeq
    sequential.last shouldBe None // the dropped "château" row
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val passes = (1 to 4).map { _ =>
        val fork = chain.fork()
        pool.submit(() => (1 to 50).map(_ => external.map(fork.predictRow).toSeq))
      }.flatMap(_.get())
      passes.size shouldBe 200
      passes.foreach(_ shouldBe sequential)
    } finally pool.shutdown()
  }
}
