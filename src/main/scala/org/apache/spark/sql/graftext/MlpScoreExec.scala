package org.apache.spark.sql.graftext

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeArrayData, UnsafeProjection,
}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import graft.ml.Mlp

/** Scores `preds` over its child in chunks of [[Mlp.EvalChunk]] rows and
  * emits each input row joined with one output per call (`outs`). Per
  * chunk it scatters every call's features feature-major and runs one
  * [[Mlp.predictColumns]] per call, so each output has [[Mlp.predict]]'s
  * bits. Null features give a null output; a null element reads as
  * `0f`, as `toFloatArray` reads an `UnsafeArrayData`'s zeroed null
  * slot; a feature row of the wrong width fails with
  * [[Mlp.requireWidth]]'s message, as the row expression does.
  *
  * '''Columnar''' when the child is columnar and every call reads a
  * bare column of it (SQL `ml_pred` or `predictCol` over a Parquet
  * `array<float>` column read by the nested vectorized reader): each
  * batch's feature arrays are read in place from the child's vectors,
  * the outputs go into one reused `OnHeapColumnVector` per call, and the
  * batch goes on as the child's vectors plus the outputs. Spark's own
  * `ApplyColumnarRulesAndInsertTransitions` then puts the one
  * `ColumnarToRow` above the scorer, on the extension route and the
  * per-session route alike. This is the reference's `VScalar` over the
  * flat vectors of a `DataChunk` (src/lib.rs:29-46).
  *
  * '''Rows''' otherwise (a `LocalRelation`, a join, a feature expression
  * such as `array(f[0], f[1], f[2])`): per chunk it copies the rows,
  * evaluates the features through one `UnsafeProjection` and reads them
  * in place with `getFloat`.
  */
case class MlpScoreExec(preds: Seq[MlpPredict], outs: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ outs
  override def producedAttributes: AttributeSet = AttributeSet(outs)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def supportsColumnar: Boolean =
    child.supportsColumnar && preds.forall(_.child match {
      case a: Attribute => child.outputSet.contains(a)
      case _ => false
    })

  override def vectorTypes: Option[Seq[String]] =
    child.vectorTypes.map(_ ++ outs.map(_ => classOf[OnHeapColumnVector].getName))

  override protected def doExecute(): RDD[InternalRow] = {
    val preds = this.preds
    val input = child.output
    val out = output
    child.execute().mapPartitionsWithIndexInternal { (partition, rows) =>
      new MlpScoreExec.ScoredRows(preds, input, out, partition, rows)
    }
  }

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val preds = this.preds
    val columns = preds.map(p => child.output.indexWhere(_.semanticEquals(p.child))).toArray
    child.executeColumnar().mapPartitionsInternal { batches =>
      val scorer = new MlpScoreExec.ScoredBatches(preds, columns)
      TaskContext.get().addTaskCompletionListener[Unit](_ => scorer.close())
      batches.map(scorer.score)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): MlpScoreExec =
    copy(child = newChild)
}

object MlpScoreExec {

  /** One partition's chunk scratch: `x(j)` holds call `j`'s features
    * feature-major, `isNull(j)` its null rows, and after [[score]] `y(j)`
    * its outputs output-major.
    */
  private final class Chunk(preds: Seq[MlpPredict]) {
    val size: Int = Mlp.EvalChunk
    val models: Array[Mlp] = preds.map(_.model).toArray
    val x: Array[Array[Array[Float]]] = models.map(m => Array.ofDim[Float](m.inputDim, size))
    val isNull: Array[Array[Boolean]] = Array.ofDim[Boolean](models.length, size)
    val y = new Array[Array[Array[Float]]](models.length)
    private val bufs = models.map(_.columnBuffers(size))

    def score(n: Int): Unit = {
      var j = 0
      while (j < models.length) { y(j) = models(j).predictColumns(x(j), n, bufs(j)); j += 1 }
    }
  }

  private final class ScoredRows(
      preds: Seq[MlpPredict],
      input: Seq[Attribute],
      output: Seq[Attribute],
      partition: Int,
      rows: Iterator[InternalRow],
  ) extends Iterator[InternalRow] {
    private val chunk = new Chunk(preds)
    import chunk.{isNull, models, x, y}
    private val features = UnsafeProjection.create(preds.map(_.child), input)
    features.initialize(partition)
    private val emit = UnsafeProjection.create(output, output)
    private val held = new Array[InternalRow](chunk.size)
    // `emit` copies each output into its row, so one array per call serves every row
    private val outArr = models.map(m => UnsafeArrayData.fromPrimitiveArray(new Array[Float](m.outputDim)))
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
          val yj = y(j); val o = outArr(j)
          var k = 0
          while (k < yj.length) { o.setFloat(k, yj(k)(r)); k += 1 }
          scored.update(j, o)
        }
        j += 1
      }
      emit(joined(held(r), scored))
    }

    /** Buffer and score the next chunk. */
    private def fill(): Unit = {
      n = 0
      pos = 0
      while (n < chunk.size && rows.hasNext) {
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
      if (n > 0) chunk.score(n)
    }
  }

  /** Scores each batch of one partition: call `j` reads the child's
    * column `columns(j)` and writes the output vector `outs(j)`, which
    * is reused batch to batch and freed by [[close]].
    */
  private final class ScoredBatches(preds: Seq[MlpPredict], columns: Array[Int]) {
    private val chunk = new Chunk(preds)
    import chunk.{isNull, models, x, y}
    private val outs = preds.map(p => new OnHeapColumnVector(chunk.size, p.dataType)).toArray

    def score(batch: ColumnarBatch): ColumnarBatch = {
      val rows = batch.numRows()
      var j = 0
      while (j < outs.length) {
        outs(j).reset()
        outs(j).reserve(rows)
        outs(j).arrayData().reserve(rows * models(j).outputDim)
        j += 1
      }
      var from = 0
      while (from < rows) {
        val n = math.min(chunk.size, rows - from)
        j = 0
        while (j < models.length) { scatter(j, batch.column(columns(j)), from, n); j += 1 }
        chunk.score(n)
        j = 0
        while (j < models.length) { gather(j, from, n); j += 1 }
        from += n
      }
      val cols = new Array[ColumnVector](batch.numCols() + outs.length)
      j = 0
      while (j < batch.numCols()) { cols(j) = batch.column(j); j += 1 }
      System.arraycopy(outs, 0, cols, batch.numCols(), outs.length)
      new ColumnarBatch(cols, rows)
    }

    /** Call `j`'s features of batch rows `[from, from + n)` into the chunk. */
    private def scatter(j: Int, v: ColumnVector, from: Int, n: Int): Unit = {
      val m = models(j); val xj = x(j); val nulls = isNull(j)
      var r = 0
      v match {
        case w: WritableColumnVector =>
          val data = w.arrayData()
          val elemNulls = data.hasNull()
          while (r < n) {
            nulls(r) = w.isNullAt(from + r)
            if (!nulls(r)) {
              m.requireWidth(w.getArrayLength(from + r))
              val at = w.getArrayOffset(from + r)
              var i = 0
              while (i < xj.length) {
                xj(i)(r) = if (elemNulls && data.isNullAt(at + i)) 0f else data.getFloat(at + i)
                i += 1
              }
            }
            r += 1
          }
        case _ =>
          while (r < n) {
            nulls(r) = v.isNullAt(from + r)
            if (!nulls(r)) {
              val a = v.getArray(from + r)
              m.requireWidth(a.numElements())
              var i = 0
              while (i < xj.length) { xj(i)(r) = if (a.isNullAt(i)) 0f else a.getFloat(i); i += 1 }
            }
            r += 1
          }
      }
    }

    /** Call `j`'s scored chunk into its output vector at batch row `from`. */
    private def gather(j: Int, from: Int, n: Int): Unit = {
      val out = outs(j); val data = out.arrayData(); val yj = y(j); val nulls = isNull(j)
      val width = yj.length
      var r = 0
      while (r < n) {
        val row = from + r
        if (nulls(r)) out.putNull(row)
        else {
          out.putArray(row, row * width, width)
          var k = 0
          while (k < width) { data.putFloat(row * width + k, yj(k)(r)); k += 1 }
        }
        r += 1
      }
    }

    def close(): Unit = outs.foreach(_.close())
  }
}
