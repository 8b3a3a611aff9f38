package org.apache.spark.sql.graftext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeArrayData, UnsafeProjection,
}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

import graft.ml.Mlp

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
