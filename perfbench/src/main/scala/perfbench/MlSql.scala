package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.MlFunctions

/** The paper's SQL surface end to end: `ml_create` the demo net,
  * train it with `ml_train_cfg` over a regression table, `ml_list`,
  * then score a much larger held-out table twice — SQL `ml_pred`
  * (broadcast UDF) and `MlFunctions.predictCol` (native `MlpPredict`).
  */
final class MlSql extends Workload {
  val name = "ml_sql"
  val nTrain = 15000
  val nScore = 150000
  val epochs = 10
  private var seed = 0L
  private var data: Gen.MlSet = _

  val spec = """{"layers":[{"in":5,"out":64,"activation":"relu"},""" +
    """{"in":64,"out":32,"activation":"relu"},{"in":32,"out":1}]}"""
  private def cfg = s"""{"epochs":$epochs,"batch_size":64,"seed":$seed,"learning_rate":0.01}"""

  /** Rows `Mlp.fit` trains on: the aggregate trains on the first 30%. */
  def trainedRows: Int = math.min(nTrain, (0.3 * nTrain).toInt)

  /** The test MSE a model must reach: the noise floor plus a quarter
    * of the signal variance (R² ≥ ~0.75 on this table).
    */
  def mseBound: Double = data.noiseVar + 0.25 * (data.scoreTargetVar - data.noiseVar)

  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Long] = {
    this.seed = seed
    data = Gen.ml(spark, dir, seed, nTrain, nScore)
    Map("ml_train" -> Fs.usage(spark, data.trainPath)._1,
      "ml_score" -> Fs.usage(spark, data.scorePath)._1)
  }

  private def views(spark: SparkSession): Unit = {
    spark.read.parquet(data.trainPath).createOrReplaceTempView("train_rows")
    spark.read.parquet(data.scorePath).createOrReplaceTempView("score_rows")
  }

  def setup(spark: SparkSession, tr: Tracer, dir: String, ops: Ops): Unit = {
    MlFunctions.registerAll(spark)
    views(spark)
    // warm-up: one create + one scoring call through the SQL surface
    spark.sql(s"SELECT ml_create('warm', '$spec') AS s").collect()
    MlFunctions.publish(spark)
    spark.sql("SELECT ml_pred('warm', features) FROM train_rows LIMIT 10").collect()
  }

  private def scored(r: Row): (Long, Long, Double) = (r.getLong(0), r.getLong(1), r.getDouble(2))

  def unit(spark: SparkSession, tr: Tracer, dir: String, ops: Ops,
      warm: Boolean): Seq[Cycle] = {
    val sc = spark.sparkContext
    // a fresh model per cycle: every cycle trains from the same init
    val (_, createS) = ops.run("ml_create") {
      tr.span(sc, "MlFunctions.ml_create") {
        val s = spark.sql(s"SELECT ml_create('bench', '$spec') AS s").head().getString(0)
        MlFunctions.publish(spark)
        s
      }
    }
    val (status, trainS) = ops.run("ml_train") {
      tr.span(sc, "MlFunctions.ml_train") {
        val s = spark.sql(
          s"SELECT ml_train_cfg('bench', features, targets, '$cfg') AS s FROM train_rows")
          .head().getString(0)
        MlFunctions.publish(spark)
        s
      }
    }
    ops.check("ml_train", status == "Ok", s"status $status")
    val (models, listS) = ops.run("ml_list") {
      tr.span(sc, "MlFunctions.ml_list") {
        spark.sql("SELECT model, json FROM ml_models").collect()
      }
    }
    ops.check("ml_list", models.exists(r => r.getString(0) == "bench" && r.getString(1) == spec),
      s"ml_list misses the trained model: ${models.map(_.getString(0)).mkString(",")}")
    val (sqlOut, sqlS) = ops.run("ml_pred") {
      tr.span(sc, "MlFunctions.ml_pred") {
        scored(spark.sql(
          """SELECT count(1), bit_xor(xxhash64(id, p)), avg((p - t) * (p - t))
            |FROM (SELECT id, ml_pred('bench', features)[0] AS p, targets[0] AS t
            |      FROM score_rows)""".stripMargin).head())
      }
    }
    val (apiOut, apiS) = ops.run("predictCol") {
      tr.span(sc, "MlFunctions.predictCol") {
        scored(spark.table("score_rows")
          .select(col("id"),
            MlFunctions.predictCol(spark, "bench", col("features")).getItem(0).as("p"),
            col("targets").getItem(0).as("t"))
          .agg(count(lit(1)), bit_xor(xxhash64(col("id"), col("p"))),
            avg((col("p") - col("t")) * (col("p") - col("t"))))
          .head())
      }
    }
    val mse = sqlOut._3
    ops.check("ml_pred", sqlOut._1 == nScore, s"scored ${sqlOut._1} of $nScore rows")
    ops.check("ml_pred", mse <= mseBound, f"test MSE $mse%.5f above bound $mseBound%.5f")
    ops.check("predictCol", apiOut._1 == nScore && apiOut._2 == sqlOut._2,
      s"predictCol checksum ${apiOut._2} (${apiOut._1} rows) differs from ml_pred " +
        s"checksum ${sqlOut._2} (${sqlOut._1} rows)")

    val layer =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.sync()
        def last(n: String) = tr.closedSpans.filter(_.name == n).last
        val fit = tr.stats(last("MlFunctions.ml_train").id)
        // the aggregate's finish (Mlp.fit) runs in the last stage's single task
        val fitMs = fit.stageMaxTaskMs.toSeq.sortBy(_._1).lastOption.map(_._2).getOrElse(0L)
        def perCore(n: String, rows: Double) = {
          val runS = tr.stats(last(n).id).runMs / 1e3
          if (runS > 0) rows / runS else 0.0
        }
        Map(
          "Mlp.fit.rows_per_s" ->
            (if (fitMs > 0) trainedRows.toDouble * epochs / (fitMs / 1e3) else 0.0),
          "ml_pred_udf.rows_per_core_s" -> perCore("MlFunctions.ml_pred", nScore),
          "MlpPredict.rows_per_core_s" -> perCore("MlFunctions.predictCol", nScore))
      }
    Seq(Cycle(
      ops = Map("ml_create" -> createS, "ml_train" -> trainS, "ml_list" -> listS,
        "ml_pred" -> sqlS, "predictCol" -> apiS),
      writeS = trainS,
      readS = sqlS + apiS,
      quality = 1.0 - mse / data.scoreTargetVar,
      workload = Map(
        "ml_train_rows_per_s" -> nTrain / trainS,
        "ml_pred_sql_rows_per_s" -> nScore / sqlS,
        "ml_pred_api_rows_per_s" -> nScore / apiS,
        "ml_test_mse" -> mse),
      layer = layer))
  }

  def describe: Map[String, Any] = Map(
    "train_rows" -> nTrain, "score_rows" -> nScore, "trained_rows" -> trainedRows,
    "epochs" -> epochs, "noise_var" -> data.noiseVar, "score_target_var" -> data.scoreTargetVar,
    "mse_bound" -> mseBound)
}
