package org.apache.spark.sql.graftext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution, UnaryExecNode}
import org.apache.spark.unsafe.types.UTF8String

import graft.MlFunctions

/** A global SQL `ml_train`/`ml_train_cfg` as [[MlpStrategy]] plans it:
  * train the registered model `name` on the driver over every row of the
  * child, whose output is `(features, targets)`, and return the one status
  * row of the aggregate it stands for ([[graft.MlFunctions.sqlTrain]]):
  * "Ok", or "Err: no rows" for an empty input.
  *
  * The rows come from one `executeCollect` of the child ([[MlTrainExec.gather]]):
  * partitions in id order, each in its scan order. That is the order the
  * `TrainAgg4` aggregate's final merge sorts its buffers into, so one seed
  * over one scan trains the same weight bits on either plan. There is no
  * shuffle and no row buffer, and the registry update and
  * [[graft.MlFunctions.lastStats]] happen in the driver JVM, on a cluster
  * too. The gathered rows are bounded by `spark.driver.maxResultSize`, as
  * any collect is. Each execution trains again, as each execution of the
  * aggregate does.
  */
case class MlTrainExec(name: String, config: String, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def executeCollect(): Array[InternalRow] = {
    val (features, targets) = MlTrainExec.gather(child)
    val status = MlFunctions.sqlTrain(name, config, features, targets)
    Array(UnsafeProjection.create(schema).apply(InternalRow(UTF8String.fromString(status))).copy())
  }

  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): MlTrainExec = copy(child = newChild)
}

object MlTrainExec {

  /** The rows of `plan`'s first two output columns, float arrays, from
    * one `executeCollect`: partitions in id order, each in its scan
    * order. A null array stays null, for [[graft.ml.Mlp.fit]] to reject.
    */
  def gather(plan: SparkPlan): (Array[Array[Float]], Array[Array[Float]]) = {
    val rows = plan.executeCollect()
    def floats(i: Int)(row: InternalRow): Array[Float] =
      if (row.isNullAt(i)) null else row.getArray(i).toFloatArray()
    (rows.map(floats(0)), rows.map(floats(1)))
  }

  /** [[gather]] over `df`'s executed plan, run as one SQL execution. */
  def gather(df: DataFrame): (Array[Array[Float]], Array[Array[Float]]) = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(gather(qe.executedPlan))
  }
}
