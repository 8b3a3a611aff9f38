package perfbench

import scala.collection.immutable.ListMap

/** Every metric the benchmark reports, with its unit. The same lists
  * generate `BENCHMARK.json`'s metric entries (`--mode metrics`), so
  * the two cannot drift apart.
  */
object Metrics {
  val e2eCatalog: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_s" -> "s", "write_s" -> "s", "read_s" -> "s", "quality" -> "ratio")

  def e2e(setupS: Double, cycleS: Double, writeS: Double, readS: Double,
      quality: Double): Map[String, Double] =
    Map("setup_s" -> setupS, "cycle_s" -> cycleS, "write_s" -> writeS, "read_s" -> readS,
      "quality" -> quality)

  /** The workloads' own named figures: shown by every run and recorded
    * as per-layer metrics of traced runs.
    */
  val workloadMetrics: Seq[(String, String)] = Seq(
    "ml_train_rows_per_s" -> "rows/s", "ml_pred_sql_rows_per_s" -> "rows/s",
    "ml_pred_api_rows_per_s" -> "rows/s", "ml_test_mse" -> "mse",
    "ingest_docs_per_s" -> "docs/s", "funnel_docs_per_s" -> "docs/s",
    "store_open_s" -> "s", "neardup_probe_s" -> "s", "ann_query_batch_s" -> "s",
    "sigstore_commit_s" -> "s", "vecstore_commit_s" -> "s", "neardup_recall" -> "ratio",
    "ann_recall_at_10" -> "ratio", "store_write_amp" -> "ratio")

  /** Spans that run the bulk of an operation's Spark work. */
  val heavySpans: Seq[String] = Seq(
    "MlFunctions.ml_train", "MlFunctions.ml_pred", "MlFunctions.predictCol",
    "CorpusPipeline.webIngest", "ShardSink.writeShards", "CorpusPipeline.webIngestFunnel",
    "Dedup.nearDupNewDocs", "Similarity.ivfPqTopKFromStore", "Dedup.mergeSignatures",
    "VectorStore.merge")
  val lightSpans: Seq[String] = Seq(
    "MlFunctions.ml_create", "MlFunctions.ml_list", "Dedup.readSignatures", "VectorStore.read")

  private val heavyFields: Seq[(String, String, (Tracer, Tracer.Span) => Double)] = Seq(
    ("wall_s", "s", (_, s) => s.wallS),
    ("driver_only_s", "s", (t, s) => t.driverOnlyS(s)),
    ("jobs", "count", (t, s) => t.stats(s.id).jobs.toDouble),
    ("executor_cpu_s", "s", (t, s) => t.stats(s.id).cpuNs / 1e9),
    ("gc_s", "s", (t, s) => t.stats(s.id).gcMs / 1e3),
    ("shuffle_write_bytes", "bytes", (t, s) => t.stats(s.id).shuffleWrite.toDouble),
    ("spill_bytes", "bytes", (t, s) => t.stats(s.id).spill.toDouble))
  private val lightFields = heavyFields.take(3)

  val derived: Seq[(String, String)] = Seq(
    "Mlp.fit.rows_per_s" -> "rows/s",
    "ml_pred_udf.rows_per_core_s" -> "rows/core-s",
    "MlpPredict.rows_per_core_s" -> "rows/core-s",
    "ShardSink.writeShards.docs_per_core_s" -> "docs/core-s",
    "ShardSink.writeShards.exchanges" -> "count",
    "ShardSink.writeShards.output_bytes" -> "bytes",
    "Dedup.nearDupNewDocs.docs_per_core_s" -> "docs/core-s",
    "Similarity.ivfPqTopKFromStore.queries_per_core_s" -> "queries/core-s",
    "Dedup.mergeSignatures.bytes_written" -> "bytes",
    "Dedup.mergeSignatures.files_written" -> "count",
    "VectorStore.merge.bytes_written" -> "bytes",
    "VectorStore.merge.files_written" -> "count",
    "store.live_bytes" -> "bytes") ++
    Workload.names.map(w => s"$w.task_failures" -> "count")

  val perLayerCatalog: Seq[(String, String)] =
    heavySpans.flatMap(s => heavyFields.map { case (f, u, _) => s"$s.$f" -> u }) ++
      lightSpans.flatMap(s => lightFields.map { case (f, u, _) => s"$s.$f" -> u }) ++
      derived ++ workloadMetrics ++ Seq("ops_failed" -> "ratio", "trace.overhead" -> "ratio")

  /** Per-layer values of a traced run: medians over the traced spans
    * and cycles; 0 for a layer the workload does not exercise.
    */
  def perLayer(workload: String, tr: Tracer, traced: Seq[Cycle],
      workloadValues: Map[String, Double], overhead: Double): Map[String, Double] = {
    val spans = tr.closedSpans.groupBy(_.name)
    def spanMetrics(names: Seq[String], fields: Seq[(String, String, (Tracer, Tracer.Span) => Double)]) =
      names.flatMap { n =>
        fields.map { case (f, _, get) =>
          s"$n.$f" -> spans.get(n).map(ss => Stats.median(ss.map(get(tr, _)))).getOrElse(0.0)
        }
      }
    val derivedValues = derived.map { case (n, _) =>
      val xs = traced.flatMap(_.layer.get(n))
      n -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }
    val failures = Workload.names.map { w =>
      s"$w.task_failures" ->
        (if (w == workload) tr.closedSpans.map(s => tr.stats(s.id).taskFailures).sum.toDouble
         else 0.0)
    }
    (spanMetrics(heavySpans, heavyFields) ++ spanMetrics(lightSpans, lightFields) ++
      derivedValues ++ failures ++
      workloadMetrics.map { case (n, _) => n -> workloadValues.getOrElse(n, 0.0) } ++
      Seq("ops_failed" -> workloadValues.getOrElse("ops_failed", 0.0),
        "trace.overhead" -> overhead)).toMap
  }

  def withUnits(catalog: Seq[(String, String)], values: Map[String, Double])
      : ListMap[String, Map[String, Any]] =
    ListMap(catalog.map { case (n, u) =>
      n -> Map("value" -> values.getOrElse(n, 0.0), "unit" -> u)
    }: _*)

  /** The metric lists as `BENCHMARK.json` entries (without bounds). */
  def catalog: Map[String, Any] = Map(
    "workloads" -> Workload.names,
    "end_to_end" -> e2eCatalog.map { case (n, u) => ListMap("name" -> n, "unit" -> u) },
    "per_layer" -> perLayerCatalog.map { case (n, u) => ListMap("name" -> n, "unit" -> u) })
}
