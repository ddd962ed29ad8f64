package graft.infer

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, GenericInternalRow, Nondeterministic}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.types.StructType

/** Driver-local row evaluator: the served pipeline compiled into a chain.
  *
  * The naive [[Predictor.predictSingle]] rebuilds a DataFrame and runs the
  * FULL Catalyst analyze→optimize→schedule cycle per request — tens of
  * milliseconds of planning for microseconds of arithmetic. This compiles
  * the pipeline ONCE: the analyzed plan of `predictBatch` over a template
  * relation is, by construction, a linear chain of Project/Filter nodes
  * over a LocalRelation (fitted transforms are column expressions and ml
  * UDFs bound to constant state), so each node's expressions are bound to
  * its child's output positions up front and per-call evaluation is plain
  * `Expression.eval` over an InternalRow — no job, no planning, no Spark
  * action.
  *
  * One chain must not run on two threads at once: catalyst expressions may
  * hold per-instance state (`ScalaUDF` converters, `Nondeterministic`
  * nodes). Another thread takes a [[fork]].
  *
  * Anything outside that shape (a join, an aggregate — i.e. a transform
  * that genuinely needs the cluster) fails at PREPARE time with a clear
  * message; batch inference remains [[Predictor.predictBatch]].
  */
final class PreparedPredictor private (
    plan: LogicalPlan, val schema: StructType, encoder: ExpressionEncoder[Row]) {

  private[infer] def this(plan: LogicalPlan, schema: StructType) =
    this(plan, schema, ExpressionEncoder(RowEncoder.encoderFor(schema)))

  /** Another chain over the same analyzed plan, bound again with fresh
    * copies of its stateful expressions: no analysis, no broadcast. */
  def fork(): PreparedPredictor = new PreparedPredictor(plan, schema, encoder)

  private sealed trait Step
  private final case class ProjectStep(exprs: Array[Expression]) extends Step
  private final case class FilterStep(cond: Expression) extends Step

  // bottom-up evaluation order; prepare-time failure on unsupported shapes
  private val steps: Array[Step] = {
    def bind(e: Expression, child: LogicalPlan): Expression = {
      val bound = BindReferences.bindReference(e, child.output)
        .freshCopyIfContainsStatefulExpression()
      bound.foreach { case nd: Nondeterministic => nd.initialize(0); case _ => () }
      bound
    }
    def compile(p: LogicalPlan): List[Step] = p match {
      case _: LocalRelation => Nil
      case SubqueryAlias(_, child) => compile(child)
      case Project(exprs, child) =>
        compile(child) :+ ProjectStep(exprs.map(bind(_, child)).toArray)
      case Filter(cond, child) =>
        compile(child) :+ FilterStep(bind(cond, child))
      case other => throw new IllegalArgumentException(
        s"prepared single-row serving supports Project/Filter chains over a " +
          s"local relation; found ${other.nodeName} — use predictBatch")
    }
    compile(plan).toArray
  }

  private[infer] def expressions: Seq[Expression] =
    steps.toSeq.flatMap { case ProjectStep(es) => es.toSeq; case FilterStep(c) => Seq(c) }

  private val toInternal = encoder.createSerializer()

  /** Single row in → prediction out, entirely on the calling thread.
    * Returns None if a Filter stage dropped the row (strict-mode null
    * policy / handleInvalid=skip semantics).
    */
  def predictRow(row: Row): Option[Double] = predictInternal(toInternal(row))

  /** [[predictRow]] over a row already in Spark's internal form, with the
    * prepared schema's columns in its order (e.g. what Spark's CSV parser
    * yields for that schema), so a caller that parses rows itself skips
    * the external-row conversion.
    */
  def predictInternal(row: InternalRow): Option[Double] = {
    var current = row
    var i = 0
    while (i < steps.length) {
      steps(i) match {
        case ProjectStep(exprs) =>
          val values = new Array[Any](exprs.length)
          var j = 0
          while (j < exprs.length) { values(j) = exprs(j).eval(current); j += 1 }
          current = new GenericInternalRow(values)
        case FilterStep(cond) =>
          val keep = cond.eval(current)
          if (keep == null || !keep.asInstanceOf[Boolean]) return None
      }
      i += 1
    }
    if (current.isNullAt(0)) None else Some(current.getDouble(0))
  }

  /** (columnName → value) in, missing fields null — the same contract as
    * [[Predictor.predictSingle]].
    */
  def predict(values: Map[String, Any]): Option[Double] =
    predictRow(Row.fromSeq(schema.fields.map(f => values.get(f.name).orNull).toSeq))
}
