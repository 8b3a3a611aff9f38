package org.apache.spark.sql.graftext

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, AttributeSet, ConditionalExpression, Expression,
  HigherOrderFunction, NamedExpression,
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.types.StringType

import graft.MlFunctions

/** Plans the graft ML calls that have a better physical form than the
  * generic one.
  *
  * '''Scoring.''' The [[MlpPredict]] calls of a `Project` run as one
  * batch scorer: `Project(list, child)` becomes `ProjectExec(list′,
  * MlpScoreExec(preds, outs, child))`, where `list′` reads each call's
  * output attribute. This is the reference's per-chunk tensor forward
  * (src/lib.rs:248-249) in Spark's `ExtractPythonUDFs` →
  * `BatchEvalPythonExec` shape, without a logical node. A call stays the
  * row expression when it sits under a `ConditionalExpression` (CASE,
  * IF, COALESCE: only a taken branch may run, so `CASE WHEN size(f) = 2
  * THEN ml_pred('m', f) END` never sees a wrong width) or a higher-order
  * function (its input is a lambda variable), and whenever it is not in
  * a `Project` (a `Filter`, an aggregate). Of nested calls the innermost
  * is batched. The strategy plans rows in and rows out; the scorer
  * itself reports whether it can read its child's column batches, and
  * Spark's `ApplyColumnarRulesAndInsertTransitions` places the
  * `ColumnarToRow` accordingly, so both install routes (this strategy
  * through `GraftExtensions` or through [[install]]) get the columnar
  * path with no `ColumnarRule`.
  *
  * '''Training.''' A global `SELECT ml_train…(name, feats, tgts[, cfg])
  * FROM t` (an `Aggregate` with no grouping and the one call, whose name
  * and config are constants) runs as [[MlTrainExec]], which gathers the
  * rows on the driver and trains there, as the reference trains
  * in-process on the rows its host hands it (src/lib.rs:147-171). A
  * grouped call, or one whose name or config is not a constant, keeps
  * the `TrainAgg4` aggregate, as does a streaming aggregation, whose
  * state spans micro-batches.
  */
object MlpStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, child) =>
      val scored = mutable.ArrayBuffer.empty[(MlpPredict, Attribute)]
      val rewritten = list.map(e => extract(e, scored).asInstanceOf[NamedExpression])
      if (scored.isEmpty) Nil
      else {
        val (preds, outs) = scored.toSeq.unzip
        // keep the scan's column pruning: read only what the calls and list′ use
        val used = AttributeSet(preds.flatMap(_.references) ++ rewritten.flatMap(_.references))
        val input =
          if (child.output.forall(used.contains)) child
          else Project(child.output.filter(used.contains), child)
        ProjectExec(rewritten, MlpScoreExec(preds, outs, planLater(input))) :: Nil
      }
    case a @ Aggregate(Nil, Seq(Alias(AggregateExpression(call: ScalaAggregator[_, _, _], Complete, false, None, _), _)),
          child, _) if call.agg.isInstanceOf[MlFunctions.TrainAgg4] && !a.isStreaming =>
      val Seq(name, features, targets, config) = call.children
      (constant(name), constant(config)) match {
        case (Some(n), Some(c)) =>
          val gathered = Project(Seq(Alias(features, "features")(), Alias(targets, "targets")()), child)
          MlTrainExec(n, c, a.output, planLater(gathered)) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }

  /** The value of a constant, non-null string argument. */
  private def constant(e: Expression): Option[String] =
    if (e.foldable && e.dataType == StringType) Option(e.eval()).map(_.toString) else None

  /** `e` with each batchable call replaced by its output attribute;
    * semantically equal calls share one.
    */
  private def extract(e: Expression, scored: mutable.ArrayBuffer[(MlpPredict, Attribute)]): Expression =
    e match {
      case _: ConditionalExpression | _: HigherOrderFunction => e
      case p: MlpPredict =>
        val child = extract(p.child, scored)
        if (!child.fastEquals(p.child)) p.withNewChildren(Seq(child))
        else scored.find(_._1.semanticEquals(p)).map(_._2).getOrElse {
          val out = AttributeReference(p.prettyName, p.dataType, p.nullable)()
          scored += p -> out
          out
        }
      case other => other.mapChildren(extract(_, scored))
    }

  /** Add the strategy to `spark`'s planner unless the planner already
    * has it (from an earlier call or from `GraftExtensions`).
    */
  def install(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(MlpStrategy)) {
      val ex = spark.experimental
      ex.extraStrategies = MlpStrategy +: ex.extraStrategies
    }
}
