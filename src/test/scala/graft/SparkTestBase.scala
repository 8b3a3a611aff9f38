package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per JVM — ScalaTest suites
  * reuse it via SparkSession.builder getOrCreate).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  protected val Sf0001 = "/root/testdata/sf0.001"

  /** `df` has a batch scorer, and each one reads its child's column
    * batches: a `ColumnarToRow` above it and none below it.
    */
  protected def scoresColumnar(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.execution.ColumnarToRowExec
    import org.apache.spark.sql.graftext.MlpScoreExec
    val plan = df.queryExecution.executedPlan
    val scorers = plan.collect { case s: MlpScoreExec => s }
    scorers.nonEmpty && scorers.forall { s =>
      plan.collect { case c: ColumnarToRowExec => c }.exists(_.child.exists(_ eq s)) &&
        !s.exists(_.isInstanceOf[ColumnarToRowExec])
    }
  }
}
