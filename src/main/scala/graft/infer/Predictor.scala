package graft.infer

import graft.features.{FeatureEngineering, TargetTransformer}
import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch + single-row inference (ref: src/webapp/app.py:68-112 and
  * src/inference/predict.py:28-70).
  *
  * `preprocess` is the FULL train-time feature transform — for the
  * real-estate flow that is `FeatureEngineering.transform` (null policy →
  * derived columns → capping → encode pipeline), not just the encode
  * pipeline; constructing from a bare PipelineModel is supported for
  * pipelines that already start from raw columns. Train/serve skew is
  * exactly what the reference's quirk Q4 warns about, so the transform used
  * at fit time must be the one used here.
  *
  * The model is trained on log(price) (the SURVEY §7 fix of quirk Q2), so
  * the smearing inverse produces finite prices — unlike the reference,
  * whose exp(raw-price prediction) overflowed to inf on every row.
  *
  * Serving compiles the pipeline once per served schema with
  * [[prepareSingle]] into a driver-local row evaluator; its forks answer
  * both single rows and batch uploads, one thread each. [[predictBatch]]
  * is the distributed path.
  */
class Predictor(
    val preprocess: DataFrame => DataFrame,
    val model: Transformer,
    val targetTransformer: TargetTransformer) extends Serializable {

  def this(fe: FeatureEngineering, model: Transformer, tt: TargetTransformer) =
    this(df => fe.transform(df), model, tt)

  def this(fePipeline: PipelineModel, model: Transformer, tt: TargetTransformer) =
    this(df => fePipeline.transform(df), model, tt)

  /** features → log-scale prediction → smearing inverse. */
  def predictBatch(df: DataFrame): DataFrame = {
    val preds = model.transform(preprocess(df))
    targetTransformer.inverse(preds, "prediction")
  }

  /** Single property as (columnName → value), with the declared schema
    * (ref: src/inference/predict.py:31-62). Missing fields become null.
    *
    * Runs a full per-call Spark job — fine for ad-hoc use; a serving loop
    * should [[prepareSingle]] once and reuse the compiled path (≥10×
    * faster, measured in PipelineSpec).
    */
  def predictSingle(spark: SparkSession, values: Map[String, Any], schema: StructType): Double = {
    val row = Row.fromSeq(schema.fields.map(f => values.get(f.name).orNull).toSeq)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(row), schema)
    predictBatch(df).select(col("prediction_price")).head().getDouble(0)
  }

  /** Compile the full fitted pipeline (feature transform → model → smearing
    * inverse) into a driver-local row evaluator — one Catalyst analysis
    * (and one model broadcast) per call, zero per-row planning or jobs.
    * More chains of the same pipeline come from [[PreparedPredictor.fork]],
    * not from another call. See [[PreparedPredictor]].
    */
  def prepareSingle(spark: SparkSession, schema: StructType): PreparedPredictor = {
    val template = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
    val out = predictBatch(template).select(col("prediction_price"))
    new PreparedPredictor(out.queryExecution.analyzed, schema)
  }
}
