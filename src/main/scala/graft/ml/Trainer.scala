package graft.ml

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** rmse / r² / mae triple (ref: src/models/train.py:142-150). */
final case class EvalMetrics(rmse: Double, r2: Double, mae: Double)

/** Model training / tuning / evaluation
  * (ref: /root/reference/src/models/train.py:20-124, 231-246).
  *
  * All estimators take explicit seeds; CV is RMSE-objective k-fold as the
  * reference. Trees cache the training set internally; at cluster scale the
  * caller should `.cache()` the assembled training frame once before the
  * grid search so k·|grid| fits share one materialization.
  */
object Trainer {

  /** Node ids are cached per row, so each level's pass looks a row's node
    * up instead of walking every tree from its root; the trees are the same.
    */
  def randomForest(labelCol: String, numTrees: Int = 50, maxDepth: Int = 10,
      minInstancesPerNode: Int = 2, seed: Long = 42L): RandomForestRegressor =
    new RandomForestRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth)
      .setMinInstancesPerNode(minInstancesPerNode).setSeed(seed)
      .setCacheNodeIds(true)

  def linear(labelCol: String, regParam: Double = 0.0,
      elasticNetParam: Double = 0.0): LinearRegression =
    new LinearRegression()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setRegParam(regParam).setElasticNetParam(elasticNetParam)

  def gbt(labelCol: String, maxDepth: Int = 5, maxIter: Int = 10,
      seed: Long = 42L): GBTRegressor =
    new GBTRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setMaxDepth(maxDepth).setMaxIter(maxIter).setSeed(seed)

  /** Reference grids (src/models/train.py:231-246). */
  def rfGrid(rf: RandomForestRegressor): Array[ParamMap] =
    new ParamGridBuilder()
      .addGrid(rf.numTrees, Array(10, 50))
      .addGrid(rf.maxDepth, Array(5, 10))
      .addGrid(rf.minInstancesPerNode, Array(2, 4))
      .build()

  def lrGrid(lr: LinearRegression): Array[ParamMap] =
    new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.1, 1.0))
      .addGrid(lr.elasticNetParam, Array(0.0, 1.0))
      .build()

  def evaluator(labelCol: String, metric: String): RegressionEvaluator =
    new RegressionEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName(metric)

  /** k-fold CV with RMSE objective (ref: src/models/train.py:96-119). */
  def trainWithCV(df: DataFrame, estimator: Estimator[_], grid: Array[ParamMap],
      labelCol: String, folds: Int = 3, seed: Long = 42L): CrossValidatorModel =
    new CrossValidator()
      .setEstimator(estimator)
      .setEvaluator(evaluator(labelCol, "rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(folds)
      .setSeed(seed)
      // grid×folds fits are independent; on tiny per-fit data the cost is
      // job latency, so submit 8 concurrently (their tasks share the
      // session's cores, and fold assignment is seed-determined, not
      // thread-determined)
      .setParallelism(8)
      .fit(df)

  /** rmse / r² / mae in ONE pass over (label, prediction), not one per
    * metric: each pass re-runs the whole upstream transform (ref:
    * src/models/train.py:142-150). The formulas are RegressionEvaluator's
    * (spark.ml `RegressionMetrics`): with e = label − prediction, rmse =
    * √(Σe²/n), mae = Σ|e|/n, r² = 1 − Σe²/SStot with SStot = the label's
    * sample variance · (n − 1). NaN propagates as there; a null label or
    * prediction fails, as the evaluator's row match does. The sums are
    * observed metrics of one job that discards the rows: a plain `agg`
    * adds a single-partition exchange, which AQE runs as a second job.
    */
  def evaluate(predictions: DataFrame, labelCol: String): EvalMetrics = {
    val y = col(labelCol).cast(DoubleType)
    val e = y - col("prediction").cast(DoubleType)
    val obs = Observation("evaluate")
    predictions.observe(obs, count(lit(1)).as("n"), count(e).as("n_e"),
      sum(e * e).as("sse"), sum(abs(e)).as("sae"), var_samp(y).as("var_y"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val (n, nE) = (m("n").asInstanceOf[Long], m("n_e").asInstanceOf[Long])
    require(n > 0, "evaluate: no rows")
    require(nE == n, s"evaluate: ${n - nE} rows have a null $labelCol or prediction")
    val sse = m("sse").asInstanceOf[Double]
    val ssTot = Option(m("var_y")).fold(0.0)(_.asInstanceOf[Double] * (n - 1))
    EvalMetrics(math.sqrt(sse / n), 1 - sse / ssTot, m("sae").asInstanceOf[Double] / n)
  }
}
