package perfbench

import org.apache.spark.sql.SparkSession

/** One day of the ingest pipeline: the corpus half (a crawl through
  * `webIngest` → `writeShards`, audited by `webIngestFunnel`) and then
  * the store half (probe, search and commit an increment over the
  * signature and vector stores). Both halves share one JVM, so the
  * process start, input generation and warm-up are paid once per run.
  */
final class IngestEpochs extends Workload {
  val name = "ingest_epochs"
  private val corpus = new CorpusIngest
  private val store = new StoreEpochs

  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Long] =
    corpus.generate(spark, dir, seed) ++ store.generate(spark, dir, seed)

  def setup(spark: SparkSession, tr: Tracer, dir: String, ops: Ops): Unit = {
    corpus.setup(spark, tr, dir, ops)
    store.setup(spark, tr, dir, ops)
  }

  override def exhausted: Boolean = store.exhausted

  /** The warm-up runs both halves at once: it is mostly JIT and code
    * generation, which overlap well. Measured days run them in turn.
    */
  def unit(spark: SparkSession, tr: Tracer, dir: String, ops: Ops,
      warm: Boolean): Seq[Cycle] = {
    val (c, s) =
      if (!warm) (corpus.unit(spark, tr, dir, ops, warm).head, store.unit(spark, tr, dir, ops, warm).head)
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val f = Future(corpus.unit(spark, tr, dir, ops, warm).head)
        val s = store.unit(spark, tr, dir, ops, warm).head
        (Await.result(f, Duration.Inf), s)
      }
    Seq(Cycle(
      ops = c.ops ++ s.ops,
      writeS = c.writeS + s.writeS,
      readS = c.readS + s.readS,
      quality = (c.quality + s.quality) / 2,
      workload = c.workload ++ s.workload,
      layer = c.layer ++ s.layer))
  }

  def describe: Map[String, Any] = Map("corpus" -> corpus.describe, "store" -> store.describe)
}
