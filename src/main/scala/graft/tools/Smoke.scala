package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.{MlTrainExec, MlpScoreExec}

import graft.MlFunctions

/** End-to-end smoke drive of the ML surface through Spark SQL — the
  * Scala mirror of the reference's sqllogictest flow
  * (test/sql/autompg.test:1-23): create → list → train → predict.
  * The session is built with `GraftExtensions` and no registration
  * call, as a pure-SQL user would load the reference extension.
  * Run: `sbt "runMain graft.tools.Smoke [sfDir]"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession
      .builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ml_create via SQL (reference test/sql/autompg.test:4)
    val created = spark
      .sql(
        """SELECT ml_create('mpg_model',
          |'{"layers":[{"in":3,"out":16,"activation":"relu"},{"in":16,"out":1}]}')
          |AS status""".stripMargin,
      )
      .collect()
      .head
      .getString(0)
    println(s"ml_create → $created")

    // ml_list mirror (reference test/sql/autompg.test:7-10): the SQL
    // create shows in the next query
    val models = spark.sql("SELECT * FROM ml_list()")
    models.show(truncate = false)
    require(models.where(col("model") === "mpg_model").count() == 1,
      "ml_list() does not list the model SQL ml_create just made")

    // train on lineitem-derived regression: predict extendedprice/10000
    // from (quantity, discount, tax)
    val li = spark.read
      .parquet(s"$sfDir/lineitem.parquet")
      .select(
        array(
          col("l_quantity").cast("float"),
          col("l_discount").cast("float"),
          col("l_tax").cast("float"),
        ).as("features"),
        array((col("l_extendedprice") / 10000.0).cast("float")).as("targets"),
        col("l_orderkey"),
        col("l_linenumber"),
      )
    val trained = MlFunctions.train(
      li,
      "mpg_model",
      col("features"),
      col("targets"),
      """{"epochs":5,"batch_size":64,"seed":42}""",
      orderBy = Seq(col("l_orderkey"), col("l_linenumber")),
      trainFraction = 1.0,
    )
    trained.select("features", "targets", "prediction").show(5, truncate = false)
    // the API train published the ml_models view over ml_list()
    require(spark.sql("SELECT * FROM ml_models").where(col("model") === "mpg_model").count() == 1,
      "ml_models does not list the model after the API train")

    // SQL-surface whole-relation training (reference test/sql/autompg.test:16
    // form): ml_train over the relation, then predict
    li.createOrReplaceTempView("li_feats")
    val sqlTrain = spark
      .sql("""SELECT ml_train_cfg('mpg_model', features, targets,
             |'{"epochs":2,"batch_size":128}') AS s FROM li_feats""".stripMargin)
    // a global call trains on the driver, with no shuffle
    require(sqlTrain.queryExecution.executedPlan.find(_.isInstanceOf[MlTrainExec]).isDefined,
      s"SQL ml_train does not plan MlTrainExec:\n${sqlTrain.queryExecution.executedPlan}")
    val sqlTrainStatus = sqlTrain.head().getString(0)
    println(s"SQL ml_train → $sqlTrainStatus")

    // ml_pred via SQL over a fresh view (reference test/sql/autompg.test:19)
    val preds = spark.sql(
      "SELECT ml_pred('mpg_model', features) AS yhat FROM li_feats",
    )
    preds.show(5, truncate = false)
    val n = preds.where(col("yhat").isNotNull && size(col("yhat")) === 1).count()
    println(s"rows with arity-1 prediction: $n")
    // it is batch-scored, with predictCol's values (order-free row checksum)
    require(preds.queryExecution.executedPlan.find(_.isInstanceOf[MlpScoreExec]).isDefined,
      s"SQL ml_pred does not plan MlpScoreExec:\n${preds.queryExecution.executedPlan}")
    def checksum(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), bit_xor(xxhash64(col("l_orderkey"), col("l_linenumber"), col("yhat")))).head()
    val viaSql = checksum(spark.sql(
      "SELECT l_orderkey, l_linenumber, ml_pred('mpg_model', features) AS yhat FROM li_feats"))
    val viaApi = checksum(li.select(col("l_orderkey"), col("l_linenumber"),
      MlFunctions.predictCol(spark, "mpg_model", col("features")).as("yhat")))
    require(viaSql == viaApi, s"SQL ml_pred checksum $viaSql differs from predictCol's $viaApi")
    println(s"ml_pred (MlpScoreExec) equals predictCol: ${viaSql.getLong(0)} rows")
    // the same rows as a Parquet array<float> column: the scorer reads the scan's batches
    val featsDir = java.nio.file.Files.createTempDirectory("graft-smoke").resolve("li_feats").toString
    li.write.parquet(featsDir)
    val pq = spark.read.parquet(featsDir)
    pq.createOrReplaceTempView("li_feats_pq")
    val pqPreds = spark.sql(
      "SELECT l_orderkey, l_linenumber, ml_pred('mpg_model', features) AS yhat FROM li_feats_pq")
    require(pqPreds.queryExecution.executedPlan.collect { case s: MlpScoreExec => s }.exists(_.supportsColumnar),
      s"SQL ml_pred over Parquet does not score columnar:\n${pqPreds.queryExecution.executedPlan}")
    val pqSql = checksum(pqPreds)
    val pqApi = checksum(pq.select(col("l_orderkey"), col("l_linenumber"),
      MlFunctions.predictCol(spark, "mpg_model", col("features")).as("yhat")))
    require(pqSql == pqApi && pqSql == viaSql,
      s"Parquet ml_pred checksum $pqSql, predictCol $pqApi, row-path ml_pred $viaSql")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(featsDir).getParentFile)
    println(s"columnar ml_pred over Parquet equals predictCol: ${pqSql.getLong(0)} rows")
    val mse = trained
      .select(avg(pow(element_at(col("prediction"), 1) - element_at(col("targets"), 1), 2)))
      .as[Double]
      .collect()
      .head
    println(f"full-relation train MSE: $mse%.6f")

    // trainSql: the reference's per-row ml_train return shape — one
    // prediction list per input row out of a pure-SQL flow
    val sqlPreds = MlFunctions
      .trainSql(spark, "mpg_model", "li_feats", "features", "targets",
        configJson = """{"epochs":1,"batch_size":256}""")
      .where(size(col("prediction")) === 1)
      .count()
    println(s"trainSql per-row predictions: $sqlPreds")

    // pipeline-operator sweep over documents (the q31-q34 surface)
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val redacted = graft.operators.TextAnalysis.redactPii(docs, "text").where(col("pii_found")).count()
    val chunks = graft.operators.TextAnalysis.chunkTokens(docs, "doc_id", "text", 64, 48).count()
    val sampled = graft.operators.TextAnalysis.contentSample(docs, "text").count()
    val langs = graft.operators.TextAnalysis.corpusStats(docs, "text", Seq("lang")).count()
    println(s"pipeline sweep: pii_rows=$redacted chunks=$chunks sampled=$sampled lang_groups=$langs")
    spark.stop()
  }
}
