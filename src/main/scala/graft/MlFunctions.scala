package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.graftext.{GraftFunctions, MlTrainExec, MlpPredict, MlpStrategy}
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.ml.{Mlp, ModelRegistry, TrainConfig, TrainStats}

/** The reference's 4-function SQL surface (`ml_create`, `ml_list`,
  * `ml_train`, `ml_pred` — reference src/lib.rs:240-252) re-expressed
  * Spark-first.
  *
  * Execution model: models are created/trained on the DRIVER (training
  * a single model with sequential Adam is inherently driver-side state,
  * mirroring the reference's in-process registry at src/nn/mod.rs:25).
  * A global SQL `ml_train` is planned as
  * [[org.apache.spark.sql.graftext.MlTrainExec]], which gathers the rows
  * to the driver in one collect and fits there, as [[train]] does;
  * inference runs distributed on executors through ONE expression,
  * the native [[org.apache.spark.sql.graftext.MlpPredict]]: SQL
  * `ml_pred('name', feats)` and [[predictCol]] both build it over an
  * immutable copy of the registry's weights taken when the query is
  * analysed — the distributed analog of the reference's
  * clone-out-of-registry semantics (src/nn/mod.rs:48-55). The model
  * name of a SQL `ml_pred` call must therefore be a constant.
  *
  * Scoring runs in batches, as the reference's per-`DataChunk` tensor
  * forward does (src/lib.rs:248-249): every call in a projection, and
  * not under CASE, IF or COALESCE, is planned by
  * [[org.apache.spark.sql.graftext.MlpStrategy]] as one
  * `MlpScoreExec`, which scores 512-row chunks feature-major through
  * [[graft.ml.Mlp.predictColumns]], reading a Parquet `array<float>`
  * column straight from the scan's column batches. A call under a
  * conditional (so only a taken branch runs), in a filter or in an
  * aggregate runs per row through [[graft.ml.Mlp.predict]]. Both give
  * the same bits. [[publish]] installs the strategy with the SQL names,
  * once per session.
  *
  * Semantic divergences from the reference (documented, intentional):
  *   - `ml_train` trains on the WHOLE input relation exactly once.
  *     The reference retrains per 2048-row DataChunk (src/lib.rs:147-171)
  *     which is an artifact of its vectorized-scalar packaging, not a
  *     meaningful semantic at Spark scale (SURVEY §2.1).
  *   - `ml_create(name, spec, weightsPath)` actually loads the weights
  *     (the reference's 3-arg branch is unreachable, src/lib.rs:50-60).
  *   - Ragged / wrong-width feature lists raise an error instead of the
  *     reference's silent mis-slicing (src/utils.rs:14-23).
  */
object MlFunctions {

  /** `ml_create(name, spec[, weightsPath]) → "Ok"`
    * (reference src/lib.rs:23-86).
    */
  def create(
      spark: SparkSession,
      name: String,
      specJson: String,
      weightsPath: Option[String] = None,
      seed: Long = 42L,
  ): String = {
    val model = weightsPath match {
      case Some(path) =>
        val loaded = ModelRegistry
          .loadLatest(name, path)
          .getOrElse(throw new IllegalArgumentException(s"no saved weights for '$name' under $path"))
        require(loaded.specJson != null, "loaded weights missing spec")
        loaded
      case None => Mlp.fromSpec(name, specJson, seed)
    }
    ModelRegistry.put(model)
    publish(spark)
    "Ok"
  }

  /** `ml_list() → TABLE(model VARCHAR, json VARCHAR)` (reference
    * src/lib.rs:88-126). Driver-local registry snapshot → DataFrame; no
    * custom scan protocol needed on Spark. SQL reads the same rows
    * through `ml_list()` and the `ml_models` view ([[publish]]).
    */
  def list(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ModelRegistry.list().toDF("model", "json")
  }

  /** `ml_train`: train `name` on the whole input relation, then return
    * the input with a `prediction` column computed from the freshly
    * trained weights in eval mode (return-predictions contract per
    * reference src/lib.rs:175-176, eval mode per src/nn/mod.rs:71).
    *
    * @param orderBy     deterministic collect order (reference training
    *                    is deterministic given seed + row order,
    *                    src/nn/train.rs:56,73-76; Spark partition order
    *                    is not — pass explicit sort keys to reproduce).
    * @param trainFraction 0.3 reproduces the reference's observed
    *                    first-30%-train split (src/nn/mod.rs:104-109);
    *                    1.0 trains on everything.
    *
    * The rows are gathered as SQL `ml_train` gathers them
    * ([[org.apache.spark.sql.graftext.MlTrainExec.gather]]): without
    * `orderBy`, partitions in id order, each in scan order, so `train`
    * and `SELECT ml_train_cfg(…)` over one DataFrame with one config and
    * `trainFraction` 0.3 train the same weight bits.
    *
    * Scale note: the collect of the feature matrix to the driver bounds
    * the trainable set by driver memory and `spark.driver.maxResultSize`
    * (same bound as the reference's in-process design). For 100 TB
    * inputs the intended pattern is to train on a sample
    * (`df.sample(...)`) or aggregate minibatch gradients distributedly —
    * see [[trainSampled]].
    */
  def train(
      df: DataFrame,
      name: String,
      features: Column,
      targets: Column,
      configJson: String = "",
      orderBy: Seq[Column] = Nil,
      trainFraction: Double = 0.3,
      log: String => Unit = m => Console.err.println(m),
  ): DataFrame = {
    val spark = df.sparkSession
    val cfg = TrainConfig.parse(configJson)
    val ordered = if (orderBy.nonEmpty) df.orderBy(orderBy: _*) else df
    val (feats, tgts) = MlTrainExec.gather(ordered.select(
      features.cast(ArrayType(FloatType)).as("f"),
      targets.cast(ArrayType(FloatType)).as("t"),
    ))
    fitRows(spark, name, feats, tgts, cfg, trainFraction, log)
    df.withColumn("prediction", predictCol(spark, name, features))
  }

  /** Shared tail of every train path: fit the registered model on the
    * collected rows, re-register, checkpoint weights, ensure the SQL
    * surface ([[publish]]).
    */
  private def fitRows(
      spark: SparkSession,
      name: String,
      feats: Array[Array[Float]],
      tgts: Array[Array[Float]],
      cfg: TrainConfig,
      trainFraction: Double,
      log: String => Unit,
  ): Unit = {
    val model = ModelRegistry
      .get(name)
      .getOrElse(throw new IllegalArgumentException(s"model '$name' not found — ml_create first"))
    lastStats = Some(model.fit(feats, tgts, cfg, trainFraction, log))
    ModelRegistry.put(model)
    ModelRegistry.saveWeights(model)
    publish(spark)
  }

  /** Scale path for huge inputs: train on a bounded sample collected
    * in ONE scan — an Algorithm-R reservoir of ≈ maxRows/partitions
    * rows per partition (deterministic given seed + partitioning). No
    * count() pre-pass: at 100 TB an extra full scan just to pick a
    * sample fraction is a real cost. Partitions with more rows than
    * average are slightly under-sampled relative to a global reservoir
    * — irrelevant for a training sample (the reference itself trains
    * on an order-biased first-30% split).
    */
  def trainSampled(
      df: DataFrame,
      name: String,
      features: Column,
      targets: Column,
      configJson: String = "",
      maxRows: Long = 1000000L,
      seed: Long = 42L,
      trainFraction: Double = 1.0,
  ): DataFrame = {
    val spark = df.sparkSession
    val cfg = TrainConfig.parse(configJson)
    val projected = df.select(
      features.cast(ArrayType(FloatType)).as("f"),
      targets.cast(ArrayType(FloatType)).as("t"),
    )
    val numPart = math.max(1, projected.rdd.getNumPartitions)
    val perPartition = math.max(1L, maxRows / numPart).toInt
    val rows = projected.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val rng = new scala.util.Random(seed ^ (pid.toLong * 0x9e3779b97f4a7c15L))
        val res = new scala.collection.mutable.ArrayBuffer[(Array[Float], Array[Float])](
          math.min(perPartition, 1024),
        )
        var seen = 0L
        it.foreach { row =>
          val tup = (
            seqToFloats(row.getSeq[Float](0)),
            seqToFloats(row.getSeq[Float](1)),
          )
          if (res.length < perPartition) res += tup
          else {
            val j = (rng.nextLong() & Long.MaxValue) % (seen + 1)
            if (j < perPartition) res(j.toInt) = tup
          }
          seen += 1
        }
        res.iterator
      }
      .collect()
    fitRows(spark, name, rows.map(_._1), rows.map(_._2), cfg, trainFraction, log = _ => ())
    // predictions over the FULL relation with the freshly fit weights
    df.withColumn("prediction", predictCol(spark, name, features))
  }

  /** Distributed data-parallel training — the 100 TB path where even a
    * sample can't fit on the driver. Per epoch, every partition
    * computes the gradient of the batch-mean MSE over its rows in
    * `batch_size` minibatch chunks against a broadcast weight
    * snapshot; the driver sums the per-partition gradient sums in
    * partition order (deterministic given partitioning) and applies
    * ONE Adam step per epoch. BatchNorm running statistics are folded
    * back each epoch as the row-count-weighted mean of the
    * per-partition estimates (executors update only local copies, so
    * without the fold eval-mode inference would normalize with the
    * init stats).
    *
    * Semantics note (documented divergence, SURVEY §7.3): this is
    * synchronous full-batch Adam, not the reference's sequential
    * minibatch Adam — the distributed-equivalent formulation; loss
    * still decreases monotonically on the same problems, and the
    * driver only ever holds one gradient-sized buffer (≈ model size ×
    * partitions during collect, model size after the fold).
    *
    * The input relation is scanned once per epoch (cache it upstream
    * for multi-epoch runs on real clusters).
    */
  def trainDistributed(
      df: DataFrame,
      name: String,
      features: Column,
      targets: Column,
      configJson: String = "",
      log: String => Unit = m => Console.err.println(m),
  ): DataFrame = {
    val spark = df.sparkSession
    val cfg = TrainConfig.parse(configJson)
    val model = ModelRegistry
      .get(name)
      .getOrElse(throw new IllegalArgumentException(s"model '$name' not found — ml_create first"))
    val inDim = model.inputDim
    val outDim = model.outputDim

    val data = df
      .select(
        features.cast(ArrayType(FloatType)).as("f"),
        targets.cast(ArrayType(FloatType)).as("t"),
      )
      .persist()
    val adam = model.newAdamStates()
    var t = 0
    var epoch = 0
    while (epoch < cfg.epochs) {
      val bcModel = spark.sparkContext.broadcast(model.copyOf())
      val epochSeed = cfg.seed ^ (epoch.toLong << 17)
      val perPartition: Array[(Int, Array[Array[Float]], Long, Array[(Array[Float], Array[Float])])] =
        data.rdd
          .mapPartitionsWithIndex { (pid, rows) =>
            val local = bcModel.value.copyOf()
            val rng = new scala.util.Random(epochSeed ^ pid.toLong)
            var sum: Array[Array[Float]] = null
            var count = 0L
            val it = rows.grouped(cfg.batchSize)
            while (it.hasNext) {
              val chunk = it.next()
              val n = chunk.length
              val xb = new Array[Float](n * inDim)
              val yb = new Array[Float](n * outDim)
              var r = 0
              chunk.foreach { row =>
                // .toArray before the indexed copy loops — the repo-wide
                // kernel convention (SCALE.md "UDF vector parameters")
                val f = row.getSeq[Float](0).toArray
                val tg = row.getSeq[Float](1).toArray
                require(f.length == inDim && tg.length == outDim,
                  s"row width (${f.length},${tg.length}) != model ($inDim,$outDim)")
                var i = 0
                while (i < inDim) { xb(r * inDim + i) = f(i); i += 1 }
                i = 0
                while (i < outDim) { yb(r * outDim + i) = tg(i); i += 1 }
                r += 1
              }
              // minibatch-mean gradient × n = row-sum gradient
              val g = local.backwardBatch(xb, yb, n, rng)
              if (sum == null) sum = g.map(_.clone().map(_ * n))
              else {
                var ti = 0
                while (ti < sum.length) {
                  val s = sum(ti); val gg = g(ti)
                  var i = 0
                  while (i < s.length) { s(i) += gg(i) * n; i += 1 }
                  ti += 1
                }
              }
              count += n
            }
            if (sum == null) Iterator.empty
            else {
              // BatchNorm running statistics only exist on this local
              // copy (forward-pass side effect) — ship them back so the
              // driver model doesn't silently keep its init stats
              val bnStats = local.layers.flatMap(_.bn.toSeq)
                .map(bn => (bn.runningMean.clone(), bn.runningVar.clone()))
              Iterator.single((pid, sum, count, bnStats))
            }
          }
          .collect()
          .sortBy(_._1)

      val totalRows = perPartition.map(_._3).sum
      if (totalRows > 0) {
        val folded = perPartition.map(_._2).reduce { (a, b) =>
          var ti = 0
          while (ti < a.length) {
            val x = a(ti); val y = b(ti)
            var i = 0
            while (i < x.length) { x(i) += y(i); i += 1 }
            ti += 1
          }
          a
        }
        folded.foreach { tArr =>
          var i = 0
          while (i < tArr.length) { tArr(i) /= totalRows; i += 1 }
        }
        t += 1
        model.applyGrads(folded, adam, t, cfg.learningRate)
        // fold BatchNorm running stats: row-count-weighted mean of the
        // per-partition estimates (each partition EMA'd through its own
        // minibatches starting from this epoch's broadcast stats)
        val bnLayers = model.layers.flatMap(_.bn.toSeq)
        if (bnLayers.nonEmpty) {
          bnLayers.indices.foreach { bi =>
            val bn = bnLayers(bi)
            val (fm, fv) = foldRunningStats(
              perPartition.toSeq.map { case (_, _, cnt, bns) =>
                val (m, v) = bns(bi); (m, v, cnt)
              },
            )
            System.arraycopy(fm, 0, bn.runningMean, 0, bn.dim)
            System.arraycopy(fv, 0, bn.runningVar, 0, bn.dim)
          }
        }
      }
      bcModel.unpersist(blocking = false)
      log(s"[trainDistributed] model=$name epoch=${epoch + 1}/${cfg.epochs} rows=$totalRows")
      epoch += 1
    }
    data.unpersist(blocking = false)
    ModelRegistry.put(model)
    ModelRegistry.saveWeights(model)
    publish(spark)
    df.withColumn("prediction", predictCol(spark, name, features))
  }

  /** Prediction column bound to the CURRENT copy of `name`'s
    * weights, as a native expression
    * ([[org.apache.spark.sql.graftext.MlpPredict]]): the KB-sized
    * weight snapshot is captured immutably in the plan (clone-out
    * semantics), inputs are read as primitive float arrays — no UDF
    * encoder boxing on the inference hot path. Ensures the session's
    * batch scorer ([[publish]]), so a projection of it is batch-scored.
    */
  def predictCol(spark: SparkSession, name: String, features: Column): Column = {
    val model = ModelRegistry
      .get(name)
      .getOrElse(throw new IllegalArgumentException(s"model '$name' not found"))
    publish(spark)
    MlpPredict.column(features.cast(ArrayType(FloatType)), model)
  }

  /** Ensure `spark` has the SQL surface: every
    * [[org.apache.spark.sql.graftext.GraftFunctions]] entry (`ml_create`,
    * `ml_train`, `ml_train_cfg`, `ml_pred`, the table function
    * `ml_list()` and the native expressions), the `ml_models` view over
    * `ml_list()` and the batch scorer
    * ([[org.apache.spark.sql.graftext.MlpStrategy]]). It adds only
    * what this session lacks, so repeated calls, or a session built with
    * `GraftExtensions`, register nothing twice. Called by create, the
    * train paths and [[predictCol]], so API-only sessions get the SQL
    * surface too. `ml_pred` and `ml_list()` resolve [[ModelRegistry]]
    * when a query is analysed, so neither needs a refresh after a create
    * or a training, SQL or API: each query binds the weights and lists
    * the models current at its analysis.
    */
  def publish(spark: SparkSession): Unit = synchronized {
    GraftFunctions.register(spark)
    // a SQL temp view keeps its text and is analysed at every use
    if (spark.sessionState.catalog.getRawTempView("ml_models").isEmpty)
      spark.sql("CREATE TEMPORARY VIEW ml_models AS SELECT model, json FROM ml_list()")
    MlpStrategy.install(spark)
  }

  /** SQL-callable whole-relation training: `ml_train(name, feats,
    * tgts[, cfg])` as an AGGREGATE function — `SELECT ml_train('m',
    * features, targets) FROM t` trains once on all rows and returns
    * "Ok" (one row). This is the Aggregator formulation from SURVEY
    * §2.1 row 3: partial buffers collect (features, targets) pairs,
    * the final merge trains ([[sqlTrain]]).
    *
    * Which plan runs: a global call whose model name and config are
    * constants is planned as
    * [[org.apache.spark.sql.graftext.MlTrainExec]], which gathers the
    * rows to the driver and trains there, with no shuffle; the registry
    * update and [[lastStats]] happen in the driver JVM on any cluster. A
    * grouped call (`GROUP BY`), or one whose name or config is not a
    * constant, runs this aggregate.
    *
    * Training order: `reduce` tags each partial buffer's rows with the
    * id of the input partition it runs in, and the final merge trains
    * on the partitions in ascending id order, each in its scan order —
    * the order the node's gather returns. That order does not depend on
    * the order the shuffle delivers the partial buffers in, so one seed
    * over one scan trains one model on either plan (the reference
    * likewise trains in chunk order). Caveat of the aggregate: its final
    * merge runs in a reducer task, so its registry update and
    * [[lastStats]] reach the driver only in local mode. Unlike the
    * reference, predictions are not returned inline (an aggregate
    * yields one row); follow with `ml_pred`, which binds the trained
    * weights in the next query.
    */
  type TrainBuf = (String, String, List[(Int, List[(Array[Float], Array[Float])])])

  /** `b` plus one row of the partition this task scans. The buffer's
    * rows are `(partitionId, rows)` chunks, newest chunk and newest row
    * first.
    */
  private def addRow(b: TrainBuf, name: String, cfg: String, row: (Array[Float], Array[Float])): TrainBuf = {
    val pid = TaskContext.getPartitionId()
    val chunks = b._3 match {
      case (p, rows) :: rest if p == pid => (p, row :: rows) :: rest
      case other => (pid, List(row)) :: other
    }
    (name, cfg, chunks)
  }

  private def finishTrain(b: TrainBuf): String = {
    val (name, cfg, chunks) = b
    val ordered = chunks.sortBy(_._1).flatMap(_._2.reverse)
    sqlTrain(name, cfg, ordered.map(_._1).toArray, ordered.map(_._2).toArray)
  }

  /** The training of SQL `ml_train`/`ml_train_cfg`, on both plans: fit
    * the registered model `name` on the rows in the given order with the
    * reference's first-30% split (src/nn/mod.rs:104-109), register it
    * and record [[lastStats]]. Returns "Ok", or "Err: no rows" for no
    * rows; an unknown model fails.
    */
  def sqlTrain(
      name: String,
      configJson: String,
      features: Array[Array[Float]],
      targets: Array[Array[Float]],
  ): String =
    if (features.isEmpty) "Err: no rows"
    else {
      val model = ModelRegistry
        .get(name)
        .getOrElse(throw new IllegalArgumentException(s"ml_train: model '$name' not found"))
      lastStats = Some(model.fit(features, targets, TrainConfig.parse(configJson), trainFraction = 0.3))
      ModelRegistry.put(model)
      "Ok"
    }

  private def mergeBuf(a: TrainBuf, b: TrainBuf): TrainBuf =
    (if (a._1.nonEmpty) a._1 else b._1, if (a._2.nonEmpty) a._2 else b._2, a._3 ::: b._3)

  /** The aggregate behind SQL `ml_train(name, feats, tgts)` (an empty
    * config: the reference default, functions.test:10) and
    * `ml_train_cfg(name, feats, tgts, configJson)` (autompg.test:22).
    * Input vectors are `Array[Float]` (the repo-wide kernel convention):
    * the aggregate's deserializer then hands reduce the primitive
    * float[] directly instead of a per-row element List.
    */
  final class TrainAgg4
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Array[Float], Array[Float], String), TrainBuf, String,
      ] {
    override def zero: TrainBuf = ("", "", Nil)
    override def reduce(b: TrainBuf, row: (String, Array[Float], Array[Float], String)): TrainBuf =
      addRow(b, row._1, row._4, (row._2, row._3))
    override def merge(a: TrainBuf, b: TrainBuf): TrainBuf = mergeBuf(a, b)
    override def finish(b: TrainBuf): String = finishTrain(b)
    override def bufferEncoder = org.apache.spark.sql.Encoders.kryo[TrainBuf]
    override def outputEncoder = org.apache.spark.sql.Encoders.STRING
  }

  /** SQL-surface training that ends in PER-ROW predictions — the
    * reference's `SELECT ml_train('m', feats, tgts) FROM t` returns
    * one prediction list per input row (src/lib.rs:175-176, exercised
    * by test/sql/autompg.test:16,22). On Spark an aggregate yields one
    * row, so this helper runs the `ml_train`/`ml_train_cfg` aggregate
    * (trains on the whole relation) and projects `ml_pred` — analysed
    * after the training, so it binds the fresh weights — over the same
    * relation: same rows, same shape as the reference call.
    */
  def trainSql(
      spark: SparkSession,
      name: String,
      table: String,
      featuresExpr: String,
      targetsExpr: String,
      configJson: String = "",
  ): DataFrame = {
    // name/configJson are DATA, not SQL — embed as proper string
    // literals (quote-doubling per the SQL standard) so a quote in a
    // model name or a JSON config (single-quoted strings are
    // plausible) neither breaks the statement nor injects SQL.
    // `table` must be a plain (possibly qualified) identifier;
    // featuresExpr/targetsExpr are intentionally raw SQL expressions —
    // that is this API's contract, mirroring the reference's SQL
    // surface where the caller writes the projection themselves.
    require(
      table.matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*"),
      s"not a valid table identifier: $table",
    )
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val trainCall =
      if (configJson.isEmpty) s"ml_train(${lit(name)}, $featuresExpr, $targetsExpr)"
      else s"ml_train_cfg(${lit(name)}, $featuresExpr, $targetsExpr, ${lit(configJson)})"
    val status = spark.sql(s"SELECT $trainCall AS status FROM $table").collect()
    require(
      status.headOption.exists(_.getString(0) == "Ok"),
      s"ml_train failed: ${status.mkString(",")}",
    )
    spark.sql(s"SELECT ml_pred(${lit(name)}, $featuresExpr) AS prediction FROM $table")
  }

  /** [[publish]] under its older name: gives a session built without
    * `GraftExtensions` the SQL surface.
    */
  def registerAll(spark: SparkSession): Unit = publish(spark)

  /** Weight-fold per-partition BatchNorm running (mean, var) estimates
    * into global ones by the LAW OF TOTAL VARIANCE:
    *   mean = Σw·m_p / W
    *   var  = Σw·(v_p + m_p²) / W − mean²   (= E[x²] − E[x]²)
    * A plain weighted mean of the variances drops the between-
    * partition mean-spread term, underestimating global variance
    * whenever data is partition-correlated (input clustered/sorted by
    * a feature) — eval-mode inference then normalizes by too-small
    * var. The E[x²] fold is exact for any partition layout.
    */
  private[graft] def foldRunningStats(
      stats: Seq[(Array[Float], Array[Float], Long)],
  ): (Array[Float], Array[Float]) = {
    require(stats.nonEmpty, "no partition stats to fold")
    val dim = stats.head._1.length
    val total = stats.map(_._3).sum.toDouble
    require(total > 0, "zero total rows in BatchNorm fold")
    val meanAcc = new Array[Double](dim)
    val m2Acc = new Array[Double](dim)
    stats.foreach { case (m, v, cnt) =>
      var i = 0
      while (i < dim) {
        meanAcc(i) += m(i).toDouble * cnt
        m2Acc(i) += (v(i).toDouble + m(i).toDouble * m(i).toDouble) * cnt
        i += 1
      }
    }
    val mean = new Array[Float](dim)
    val variance = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val mu = meanAcc(i) / total
      mean(i) = mu.toFloat
      variance(i) = math.max(0.0, m2Acc(i) / total - mu * mu).toFloat
      i += 1
    }
    (mean, variance)
  }

  private def seqToFloats(s: Seq[Float]): Array[Float] = {
    val a = new Array[Float](s.length)
    var i = 0
    val it = s.iterator
    while (it.hasNext) {
      val v = it.next()
      a(i) = v
      i += 1
    }
    a
  }

  /** Per-epoch train/test MSE of the most recent fit in this JVM:
    * `train`, `trainSampled` and SQL `ml_train`/`ml_train_cfg`. A global
    * SQL call fits on the driver (`MlTrainExec`); a grouped one fits in
    * the aggregate's reducer task, which shares this JVM only in local
    * mode.
    */
  @volatile var lastStats: Option[TrainStats] = None
}
