package org.apache.spark.sql.graftext

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, AttributeSet, ConditionalExpression, Expression,
  GenericInternalRow, HigherOrderFunction, JoinedRow, NamedExpression, SortOrder,
  UnsafeArrayData, UnsafeProjection,
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}

import graft.ml.Mlp

/** Plans the [[MlpPredict]] calls of a `Project` as one batch scorer:
  * `Project(list, child)` becomes `ProjectExec(list′,
  * MlpScoreExec(preds, outs, child))`, where `list′` reads each call's
  * output attribute. This is the reference's per-chunk tensor forward
  * (src/lib.rs:248-249) in Spark's `ExtractPythonUDFs` →
  * `BatchEvalPythonExec` shape, without a logical node.
  *
  * A call stays the row expression when it sits under a
  * `ConditionalExpression` (CASE, IF, COALESCE: only a taken branch may
  * run, so `CASE WHEN size(f) = 2 THEN ml_pred('m', f) END` never sees a
  * wrong width) or a higher-order function (its input is a lambda
  * variable), and whenever it is not in a `Project` (a `Filter`, an
  * aggregate). Of nested calls the innermost is batched.
  */
object MlpScoreStrategy extends SparkStrategy {

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
    case _ => Nil
  }

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
    if (!spark.sessionState.planner.strategies.contains(MlpScoreStrategy)) {
      val ex = spark.experimental
      ex.extraStrategies = MlpScoreStrategy +: ex.extraStrategies
    }
}

/** Scores `preds` over its child in chunks of [[Mlp.EvalChunk]] rows and
  * emits each input row joined with one output per call (`outs`). Per
  * chunk it copies the rows, evaluates every call's features through one
  * `UnsafeProjection`, scatters them feature-major and runs one
  * [[Mlp.predictColumns]] per call, so each output has [[Mlp.predict]]'s
  * bits (features are read in place with `getFloat`, the raw bits the
  * row path's `toFloatArray` copies). Null features give a null output;
  * a feature row of the wrong width fails with [[Mlp.requireWidth]]'s
  * message, as the row expression does.
  */
case class MlpScoreExec(preds: Seq[MlpPredict], outs: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ outs
  override def producedAttributes: AttributeSet = AttributeSet(outs)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val preds = this.preds
    val input = child.output
    val out = output
    child.execute().mapPartitionsWithIndexInternal { (partition, rows) =>
      new MlpScoreExec.ScoredRows(preds, input, out, partition, rows)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): MlpScoreExec =
    copy(child = newChild)
}

object MlpScoreExec {

  private final class ScoredRows(
      preds: Seq[MlpPredict],
      input: Seq[Attribute],
      output: Seq[Attribute],
      partition: Int,
      rows: Iterator[InternalRow],
  ) extends Iterator[InternalRow] {
    private val chunk = Mlp.EvalChunk
    private val models = preds.map(_.model).toArray
    private val features = UnsafeProjection.create(preds.map(_.child), input)
    features.initialize(partition)
    private val emit = UnsafeProjection.create(output, output)
    private val held = new Array[InternalRow](chunk)
    private val x = models.map(m => Array.ofDim[Float](m.inputDim, chunk))
    private val bufs = models.map(_.columnBuffers(chunk))
    private val isNull = Array.ofDim[Boolean](models.length, chunk)
    private val y = new Array[Array[Array[Float]]](models.length)
    private val outRow = models.map(m => new Array[Float](m.outputDim))
    private val scored = new GenericInternalRow(models.length)
    private val joined = new JoinedRow
    private var n = 0
    private var pos = 0

    override def hasNext: Boolean = pos < n || { fill(); pos < n }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pos
      pos += 1
      var j = 0
      while (j < models.length) {
        if (isNull(j)(r)) scored.setNullAt(j)
        else {
          val yj = y(j); val o = outRow(j)
          var k = 0
          while (k < o.length) { o(k) = yj(k)(r); k += 1 }
          scored.update(j, UnsafeArrayData.fromPrimitiveArray(o))
        }
        j += 1
      }
      emit(joined(held(r), scored))
    }

    /** Buffer and score the next chunk. */
    private def fill(): Unit = {
      n = 0
      pos = 0
      while (n < chunk && rows.hasNext) {
        val row = rows.next().copy()
        val f = features(row)
        var j = 0
        while (j < models.length) {
          isNull(j)(n) = f.isNullAt(j)
          if (!isNull(j)(n)) {
            val a = f.getArray(j)
            models(j).requireWidth(a.numElements())
            val xj = x(j)
            var i = 0
            while (i < xj.length) { xj(i)(n) = a.getFloat(i); i += 1 }
          }
          j += 1
        }
        held(n) = row
        n += 1
      }
      if (n > 0) {
        var j = 0
        while (j < models.length) { y(j) = models(j).predictColumns(x(j), n, bufs(j)); j += 1 }
      }
    }
  }
}
