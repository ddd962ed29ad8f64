package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.regression.RandomForestRegressionModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.features.{FeatureEngineering, TargetTransformer}
import graft.infer.Predictor
import graft.serve.ServeMain

/** Splits ServeMain's start-up into layers and times the single-row path
  * without HTTP, in a fresh JVM, on the rows the serving run requested:
  * the session (ServeMain's settings), the artifact loads, `prepareSingle`,
  * then `PreparedPredictor.predict` per row.
  *
  * Usage: graftbench.ServeProbe MODEL_DIR TEST_PARQUET IDS_FILE RUN_DIR
  * Writes RUN_DIR/probe.json and RUN_DIR/probe_predictions.csv.
  */
object ServeProbe {
  def main(args: Array[String]): Unit = {
    val Array(modelDir, testParquet, idsFile, runDir) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // ServeMain.main (src/main/scala/graft/serve/PredictionServer.scala)
    // builds its session and loads the rf artifacts inline, so this probe
    // copies both: keep this builder and the loads below in step with that
    // method's SparkSession.builder() chain and its fe / tt / "rf" loads
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (predictor, loadS) = timed {
      val fe = new FeatureEngineering("strict").load(s"$modelDir/feature_engineering")
      val tt = new TargetTransformer("price").load(s"$modelDir/target_transform.json")
      new Predictor(fe, RandomForestRegressionModel.load(s"$modelDir/rf"), tt)
    }
    val schema = ServeMain.recordedSchema(modelDir).getOrElse(sys.error(s"no input_schema.json in $modelDir"))
    val (prepared, prepareS) = timed(predictor.prepareSingle(spark, schema))
    val order = Files.readAllLines(Paths.get(idsFile)).toArray.map(_.toString.trim).filter(_.nonEmpty).map(_.toInt)
    val byId = Single.rows(spark.read.parquet(testParquet).where(col("id_annonce").isin(order.toSeq: _*)), schema).toMap
    val rows = order.flatMap(i => byId.get(i).map(i -> _))
    Single.write(prepared, rows, s"$runDir/probe_predictions.csv")
    val predictUs = Single.p50Us(prepared, rows)
    spark.stop()
    val fields = Seq("setup.session_s" -> sessionS, "ml.load.seconds" -> loadS,
      "infer.prepare_single.seconds" -> prepareS, "infer.prepared_predict_us" -> predictUs)
    Files.writeString(Paths.get(s"$runDir/probe.json"),
      fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
  }
}
