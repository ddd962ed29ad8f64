package graft.ml

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.DataFrame

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

  def randomForest(labelCol: String, numTrees: Int = 50, maxDepth: Int = 10,
      minInstancesPerNode: Int = 2, seed: Long = 42L): RandomForestRegressor =
    new RandomForestRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth)
      .setMinInstancesPerNode(minInstancesPerNode).setSeed(seed)

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

  /** rmse/r2/mae in three evaluator passes (ref: src/models/train.py:142-150). */
  def evaluate(predictions: DataFrame, labelCol: String): EvalMetrics =
    EvalMetrics(
      evaluator(labelCol, "rmse").evaluate(predictions),
      evaluator(labelCol, "r2").evaluate(predictions),
      evaluator(labelCol, "mae").evaluate(predictions))
}
