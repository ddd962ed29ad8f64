package graft.infer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.graft.DatasetBridge

/** Batch serving path over ONE analyzed predict plan.
  *
  * [[Predictor.predictBatch]] builds the feature transform and the model
  * stage per call: every FE step is analyzed again, and spark.ml tree
  * models broadcast themselves on every `transform`. A server answering
  * many uploads with one fitted pipeline pays that per upload. This holds
  * the analyzed plan of `predictBatch` over an empty relation of the
  * served schema; [[apply]] swaps that leaf for a `Project` that aliases
  * the upload's columns, by name, to the template's attribute ids, so
  * each upload costs one optimize + execute of an already-analyzed plan
  * and reuses the model broadcast the template made.
  */
final class PreparedBatch private[infer] (spark: SparkSession, plan: LogicalPlan) {

  private val leaf: LocalRelation = plan.collectLeaves() match {
    case Seq(l: LocalRelation) => l
    // the pipeline's shape, not the caller's upload (a server maps this to 500)
    case leaves => throw new UnsupportedOperationException(
      "a prepared batch plan reads exactly one template relation; found " +
        leaves.map(_.nodeName).mkString("[", ", ", "]"))
  }

  /** The predict plan over `upload`, whose columns are matched to the
    * served schema by name (extra columns are ignored). A missing column
    * or one of another type fails here, before any job runs.
    */
  def apply(upload: DataFrame): DataFrame = {
    val in = upload.queryExecution.analyzed
    val rebound = leaf.output.map { a =>
      val src = in.output.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
        throw new IllegalArgumentException(
          s"batch upload has no column '${a.name}'"))
      require(src.dataType == a.dataType,
        s"batch upload column '${a.name}' is ${src.dataType.simpleString}, " +
          s"the model reads ${a.dataType.simpleString}")
      Alias(src, a.name)(exprId = a.exprId)
    }
    DatasetBridge.ofRows(spark, plan.transformUp {
      case l if l eq leaf => Project(rebound, in)
    })
  }
}
