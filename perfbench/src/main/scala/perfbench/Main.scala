package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   1. generate the seeded inputs (not timed as set-up);
  *   2. set up [[Setups]] times, each after the first in a fresh
  *      session, and report the median as `setup_s` (a traced run,
  *      which reports no `setup_s`, sets up once);
  *   3. run one warm-up unit over small inputs, then the closed loop
  *      (one client, each operation starts when the previous one has
  *      finished) until `--seconds` have passed;
  *   4. write the result (end-to-end metrics, or per-layer metrics
  *      with `--trace 1`) and a report with every figure of the run.
  *
  * A traced run alternates untraced and traced units, starting and
  * ending untraced (U T U …), so the tracing overhead is measured in
  * the same run: the per-layer metrics come from the traced units, and
  * each traced unit is compared with the mean of its two untraced
  * neighbours, which cancels a steady warm-up or store-growth trend.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: String = "", cores: Int = 4, out: String = "",
      mode: String = "run")

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  private def parse(args: Array[String]): Args = args.grouped(2).foldLeft(Args()) {
    case (a, Array("--workload", v)) => a.copy(workload = v)
    case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
    case (a, Array("--trace", v)) => a.copy(trace = v == "1")
    case (a, Array("--work", v)) => a.copy(work = v)
    case (a, Array("--cores", v)) => a.copy(cores = v.toInt)
    case (a, Array("--out", v)) => a.copy(out = v)
    case (a, Array("--mode", v)) => a.copy(mode = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = a.mode match {
      case "run" => run(a)
      case "gencheck" => GenCheck.run(a)
      case "metrics" => Files.writeString(Paths.get(a.out), Json(Metrics.catalog) + "\n"); 0
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
    System.exit(code)
  }

  private def run(a: Args): Int = {
    val wl = Workload(a.workload)
    val data = Paths.get(a.work, "data")
    deleteTree(data)
    deleteTree(Paths.get(a.work, "spark-local"))
    deleteTree(Paths.get(a.work, "warehouse"))
    val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"

    // 1. inputs, in the JVM's first (cold) session, which then also
    //    hosts the first set-up
    val g0 = System.nanoTime()
    var spark = session(a)
    val firstSessionS = (System.nanoTime() - g0) / 1e9
    val inputBytes = wl.generate(spark, s"$data/in", a.seed)
    val storageMem = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    val genS = (System.nanoTime() - g0) / 1e9

    // 2. set-up, repeated; every set-up after the first starts a fresh session
    val ops = new Ops
    val tr = new Tracer(runId)
    val setups = if (a.trace) 1 else Setups
    val setupTimes = (1 to setups).map { k =>
      if (k > 1) {
        spark.stop()
        deleteTree(Paths.get(s"$data/s${k - 1}"))
      }
      val t0 = System.nanoTime()
      if (k > 1) spark = session(a)
      wl.setup(spark, tr, s"$data/s$k", ops)
      (System.nanoTime() - t0) / 1e9
    }
    val unitDir = s"$data/s$setups"

    // 3. warm-up unit over small inputs, then the measured closed loop
    def runUnit(traced: Boolean, warm: Boolean): Option[Seq[Cycle]] = {
      if (traced) tr.start(spark)
      // the unit's span parents the operation spans; its self time is
      // the benchmark's own work (checks, listings) between operations
      try Some(tr.span(spark.sparkContext, "cycle")(wl.unit(spark, tr, unitDir, ops, warm)))
      catch { case e: CycleAborted => e.printStackTrace(); None }
      finally if (traced) tr.stop()
    }
    val w0 = System.nanoTime()
    runUnit(traced = false, warm = true)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val measured = mutable.ArrayBuffer.empty[(Cycle, Boolean)]
    val unitS = mutable.ArrayBuffer.empty[Option[Double]] // by unit, None if aborted
    val start = System.nanoTime()
    var units = 0
    var aborted = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // a traced run alternates untraced and traced units (odd units are
    // traced) and stops only after an untraced one
    def need = measured.isEmpty ||
      (a.trace && (!measured.exists(_._2) || units % 2 == 0))
    while ((elapsed < a.seconds || need) && !wl.exhausted && aborted < 3) {
      val traced = a.trace && units % 2 == 1
      val r = runUnit(traced, warm = false)
      r match {
        case Some(cs) => measured ++= cs.map(_ -> traced)
        case None => aborted += 1
      }
      unitS += r.map(_.map(_.cycleS).sum)
      units += 1
    }
    val loopS = elapsed
    spark.stop()

    // 4. results
    val all = measured.map(_._1).toSeq
    val plain = measured.collect { case (c, false) => c }.toSeq
    val traced = measured.collect { case (c, true) => c }.toSeq
    def med(cs: Seq[Cycle])(f: Cycle => Double): Double =
      if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
    val e2eSource = if (a.trace) plain else all
    val e2e = Metrics.e2e(
      setupS = Stats.median(setupTimes),
      cycleS = med(e2eSource)(_.cycleS),
      writeS = med(e2eSource)(_.writeS),
      readS = med(e2eSource)(_.readS),
      quality = med(e2eSource)(_.quality))
    // the workload's own named figures: only those this workload reports
    val named = Metrics.workloadMetrics.filter { case (n, _) => all.exists(_.workload.contains(n)) } :+
      ("ops_failed" -> "ratio")
    val workloadMetrics = named.map { case (n, _) =>
      n -> med(e2eSource.filter(_.workload.contains(n)))(_.workload(n))
    }.toMap + ("ops_failed" -> ops.failed.toDouble / math.max(1, ops.attempted))
    // each traced unit against the mean of the untraced units on either side
    val ratios = unitS.indices.filter(i => a.trace && i % 2 == 1 && i + 1 < unitS.size)
      .flatMap { i =>
        for (b <- unitS(i - 1); t <- unitS(i); c <- unitS(i + 1)) yield t / ((b + c) / 2)
      }
    val overhead = if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1
    val layer = if (a.trace) Metrics.perLayer(wl.name, tr, traced, workloadMetrics, overhead)
                else Map.empty[String, Double]

    val metrics = if (a.trace) Metrics.withUnits(Metrics.perLayerCatalog, layer)
                  else Metrics.withUnits(Metrics.e2eCatalog, e2e)
    val result = Map("correct" -> (ops.failed == 0), "attempted" -> ops.attempted,
      "failed" -> ops.failed, "metrics" -> metrics)
    val report = Map(
      "workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace, "run_id" -> runId,
      "cores" -> a.cores, "seconds" -> a.seconds, "inputs" -> wl.describe,
      "input_bytes" -> inputBytes, "executor_storage_memory_bytes" -> storageMem,
      "input_share_of_storage_memory" -> inputBytes.map { case (k, v) => k -> v.toDouble / storageMem },
      "first_session_s" -> firstSessionS, "generate_s" -> genS,
      "setup_times_s" -> setupTimes,
      "warmup_unit_s" -> warmupS,
      "loop_s" -> loopS, "units" -> units, "cycles" -> all.size,
      "cycles_traced" -> traced.size, "tracing_overhead" -> overhead,
      "tracing_overhead_ratios" -> ratios,
      // executor CPU over wall time of each heavy span (medians over its
      // traced calls): when below 1, an upper bound on the share of the
      // span's wall time that faster executor code could remove
      "executor_cpu_per_wall" -> Metrics.heavySpans.flatMap { n =>
        val xs = tr.closedSpans.filter(s => s.name == n && s.wallS > 0)
          .map(s => tr.stats(s.id).cpuNs / 1e9 / s.wallS)
        if (xs.isEmpty) None else Some(n -> Stats.median(xs))
      }.toMap,
      "end_to_end" -> e2e, "workload_metrics" -> workloadMetrics, "per_layer" -> layer,
      "failures" -> ops.failures.toSeq,
      "cycle_ops_s" -> measured.map { case (c, t) => Map("traced" -> t, "ops" -> c.ops) })
    val tag = s"${wl.name}-${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(Paths.get(a.work, s"report-$tag.json"), Json(report) + "\n")
    if (a.trace)
      Files.writeString(Paths.get(a.work, s"trace-$tag.json"),
        Json(Map("run_id" -> runId, "spans" -> tr.spanJson())) + "\n")

    val shown = if (a.trace) metrics else metrics ++ Metrics.withUnits(named, workloadMetrics)
    shown.foreach { case (n, m) => println(f"metric $n%-58s ${m("value")}%s ${m("unit")}%s") }
    println(f"medians over ${e2eSource.size} cycles (traced ${traced.size}) in $loopS%.1f s, " +
      s"set-up ${setupTimes.size} times; " +
      s"ops attempted ${ops.attempted}, failed ${ops.failed}; tracing overhead " +
      f"${overhead * 100}%.1f%%")
    Files.writeString(Paths.get(a.out), Json(result) + "\n")
    0
  }
}
