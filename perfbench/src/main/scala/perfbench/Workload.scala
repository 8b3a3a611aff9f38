package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured cycle: the wall time of each operation, the cycle's
  * write and read steps, its planted-truth quality score, the
  * workload's own named metrics, and derived per-layer metrics (only
  * filled when the cycle ran traced).
  */
final case class Cycle(
    ops: Map[String, Double],
    writeS: Double,
    readS: Double,
    quality: Double,
    workload: Map[String, Double],
    layer: Map[String, Double]) {
  def cycleS: Double = ops.values.sum
}

/** Counts operations and their failures. An operation fails when it
  * throws or when one of its correctness checks fails; a throw also
  * ends the cycle (later operations depend on it).
  */
final class Ops {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Time `body`; a throw counts as a failure and propagates. */
  def run[T](name: String)(body: => T): (T, Double) = {
    synchronized(attempted += 1)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        fail(name, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        throw new CycleAborted(name, e)
    }
  }

  /** Record a failed correctness check of operation `name`. The
    * operation was already counted as attempted by [[run]].
    */
  def check(name: String, ok: Boolean, what: => String): Unit =
    if (!ok) fail(name, what)

  private def fail(name: String, what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += s"$name: $what"
    Console.err.println(s"perfbench: FAILED $name: $what")
  }
}

final class CycleAborted(op: String, cause: Throwable)
    extends RuntimeException(s"operation $op threw", cause)

trait Workload {
  def name: String

  /** Writes the inputs under `dir` from `seed`; returns the byte size
    * of each input set.
    */
  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Long]

  /** One-time program set-up in a fresh session (timed as part of
    * `setup_s`): function registration, warm-up, and whatever the
    * program must build before the first operation.
    */
  def setup(spark: SparkSession, tr: Tracer, dir: String, ops: Ops): Unit

  /** One unit of the closed loop: a cycle, or for store_epochs an
    * episode of increments over a store that starts at epoch 0. With
    * `warm` it runs the same operations over small warm-up inputs, so
    * JIT compilation and code generation happen before timing starts.
    */
  def unit(spark: SparkSession, tr: Tracer, dir: String, ops: Ops, warm: Boolean): Seq[Cycle]

  /** True when the workload has no inputs left for another unit. */
  def exhausted: Boolean = false

  /** Input sizes, for the report. */
  def describe: Map[String, Any]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "ml_sql" => new MlSql
    case "ingest_epochs" => new IngestEpochs
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val names: Seq[String] = Seq("ml_sql", "ingest_epochs")
}
