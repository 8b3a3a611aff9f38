package graft

import org.apache.spark.sql.functions._

import graft.ml.{Mlp, ModelRegistry, TrainConfig}
import graft.sql.Macros

/** Mirrors of the reference's sqllogictest corpus
  * (test/sql/functions.test, test/sql/autompg.test, and the
  * test/sql/autompg.sql demo pipeline) driven through the Spark SQL
  * surface.
  */
class MlFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private val autoMpgCsv = "/root/reference/test/auto_mpg.csv"

  test("functions.test mirror: create → list → train(1 sample) → pred over range+random") {
    MlFunctions.registerAll(spark)
    // ml_create (functions.test:4)
    val status = MlFunctions.create(
      spark,
      "m1",
      """{"layers":[{"in":2,"out":8,"activation":"relu"},{"in":8,"out":1}]}""",
    )
    assert(status == "Ok")
    // ml_list (functions.test:7) via the ml_models view
    val listed = spark.sql("SELECT model, json FROM ml_models WHERE model = 'm1'").collect()
    assert(listed.length == 1)
    assert(listed.head.getString(1).contains("\"in\":2"))
    // ml_train on a single literal sample (functions.test:10) — empty
    // train split (30% of 1 = 0 rows) must not crash
    val one = Seq((Seq(0f, 0f), Seq(0f))).toDF("f", "t")
    val trained = MlFunctions.train(one, "m1", $"f", $"t")
    assert(trained.select("prediction").head().getSeq[Float](0).length == 1)
    // ml_pred over range(3) with random() features (functions.test:13-14,
    // S17+S18) — nondeterministic input, so assert shape only
    val preds = spark
      .sql("SELECT ml_pred('m1', array(CAST(random() AS FLOAT), CAST(random() AS FLOAT))) AS p FROM range(3)")
      .collect()
    assert(preds.length == 3)
    assert(preds.forall(_.getSeq[Float](0).length == 1))
  }

  test("autompg pipeline mirror: CSV scan, scaling macros, train, in-SQL predict") {
    // S1: CSV scan with header + inference (autompg.sql:12)
    val autompg = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(autoMpgCsv)
    assert(autompg.count() == 392)
    val featureCols = Seq("cylinders", "displacement", "horsepower", "weight", "acceleration")

    // scaling_params + min_max_scaler macros (autompg.sql:4-16) over
    // features AND target, as the demo does (autompg.sql:60-72)
    val scaled = Macros.minMaxScale(autompg, featureCols :+ "mpg")
    val mn = scaled.agg(min("weight"), max("weight")).head()
    assert(mn.getDouble(0) >= 0.0 && mn.getDouble(1) <= 1.0)

    // 5→64→32→1 relu net (autompg.sql:18-23)
    MlFunctions.create(
      spark,
      "mpg_reg",
      """{"layers":[
        |{"in":5,"out":64,"activation":"relu"},
        |{"in":64,"out":32,"activation":"relu"},
        |{"in":32,"out":1}]}""".stripMargin,
    )
    val withArrays = scaled.select(
      array(featureCols.map(c => col(c).cast("float")): _*).as("features"),
      array(col("mpg").cast("float")).as("targets"),
      col("weight"),
    )
    // heavy test config (autompg.test:22), whole-input training
    MlFunctions.train(
      withArrays,
      "mpg_reg",
      $"features",
      $"targets",
      """{"epochs":60,"learning_rate":0.003,"batch_size":32,"seed":42}""",
      orderBy = Seq($"weight", $"features"(0)),
      trainFraction = 1.0,
      log = _ => (),
    )
    val stats = MlFunctions.lastStats.get
    assert(stats.epochTrainMse.last < 0.03,
      s"scaled-mpg MSE should drop well below variance: ${stats.epochTrainMse.last}")
    assert(stats.epochTrainMse.last < stats.epochTrainMse.head,
      "loss must decrease over training")

    // in-SQL inference over the scaled relation (autompg.test:19)
    withArrays.createOrReplaceTempView("autompg_scaled")
    MlFunctions.publish(spark)
    val preds = spark.sql(
      "SELECT ml_pred('mpg_reg', features) AS p FROM autompg_scaled",
    )
    assert(preds.where(size($"p") === 1).count() == 392)
  }

  test("SQL ml_train aggregate: trains whole relation from pure SQL (functions.test:10 form)") {
    MlFunctions.registerAll(spark)
    MlFunctions.create(
      spark,
      "sqltrain",
      """{"layers":[{"in":2,"out":8,"activation":"relu"},{"in":8,"out":1}]}""",
    )
    Seq(
      (Seq(0f, 0f), Seq(0f)),
      (Seq(1f, 0f), Seq(1f)),
      (Seq(0f, 1f), Seq(1f)),
      (Seq(1f, 1f), Seq(2f)),
    ).toDF("f", "t").createOrReplaceTempView("xor_ish")
    // 3-arg default-config form
    val ok = spark.sql("SELECT ml_train('sqltrain', f, t) AS status FROM xor_ish").head().getString(0)
    assert(ok == "Ok")
    // 4-arg config form
    val ok2 = spark
      .sql("""SELECT ml_train_cfg('sqltrain', f, t, '{"epochs":20,"seed":7}') FROM xor_ish""")
      .head()
      .getString(0)
    assert(ok2 == "Ok")
    // trained weights visible to subsequent ml_pred after re-publish
    MlFunctions.publish(spark)
    val p = spark
      .sql("SELECT ml_pred('sqltrain', array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS p")
      .head()
      .getSeq[Float](0)
    assert(p.length == 1 && !p.head.isNaN)
  }

  test("SQL ml_train_cfg aggregate records its per-epoch train/test MSE in lastStats") {
    MlFunctions.registerAll(spark)
    MlFunctions.create(
      spark,
      "sqlstats",
      """{"layers":[{"in":2,"out":4,"activation":"relu"},{"in":4,"out":1}]}""",
    )
    (0 until 20).map(i => (Seq(i / 20f, 1f - i / 20f), Seq(i / 10f)))
      .toDF("f", "t").createOrReplaceTempView("stats_rows")
    MlFunctions.lastStats = None
    val ok = spark
      .sql("""SELECT ml_train_cfg('sqlstats', f, t, '{"epochs":7,"seed":3}') FROM stats_rows""")
      .head()
      .getString(0)
    assert(ok == "Ok")
    val stats = MlFunctions.lastStats.getOrElse(fail("ml_train_cfg left no TrainStats"))
    assert(stats.epochTrainMse.length == 7 && stats.epochTestMse.length == 7)
    // the aggregate keeps the reference's first-30% train split
    assert(stats.trainRows == 6 && stats.testRows == 14)
    assert((stats.epochTrainMse ++ stats.epochTestMse).forall(v => !v.isNaN && v >= 0.0))
  }

  test("autompg.test SQL shape verbatim: ml_train over the relation yields 392 arity-1 prediction rows") {
    MlFunctions.registerAll(spark)
    val autompg = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(autoMpgCsv)
    val featureCols = Seq("cylinders", "displacement", "horsepower", "weight", "acceleration")
    Macros.minMaxScale(autompg, featureCols :+ "mpg")
      .select(
        array(featureCols.map(c => col(c).cast("float")): _*).as("features"),
        array(col("mpg").cast("float")).as("targets"),
      )
      .createOrReplaceTempView("train_data")
    spark.sql(
      """SELECT ml_create('mpg_sql', '{"layers":[{"in":5,"out":16,"activation":"relu"},{"in":16,"out":1}]}')""",
    ).collect()
    // the reference's SELECT ml_train(...) FROM train_data returns one
    // prediction list PER ROW (src/lib.rs:175-176, autompg.test:16,22);
    // trainSql reproduces that shape: aggregate-train → republish → ml_pred
    val preds = MlFunctions.trainSql(
      spark, "mpg_sql", "train_data", "features", "targets",
      configJson = """{"epochs":5,"seed":42}""",
    ).collect()
    assert(preds.length == 392, s"expected 392 prediction rows, got ${preds.length}")
    assert(preds.forall(r => r.getSeq[Float](0).length == 1), "each prediction must be arity 1")
    assert(preds.forall(r => !r.getSeq[Float](0).head.isNaN))
  }

  test("SQL 3-arg ml_create restores saved weights from pure SQL (reference src/lib.rs:76-83)") {
    MlFunctions.registerAll(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlwp").toString
    MlFunctions.create(spark, "sqlwp", """{"layers":[{"in":2,"out":1}]}""")
    val m = ModelRegistry.get("sqlwp").get
    ModelRegistry.saveWeights(m, tmp)
    ModelRegistry.remove("sqlwp")
    val ok = spark.sql(s"SELECT ml_create('sqlwp', '', '$tmp') AS s").head().getString(0)
    assert(ok == "Ok")
    val restored = ModelRegistry.get("sqlwp").get
    assert(restored.predict(Array(1f, 2f)).sameElements(m.predict(Array(1f, 2f))))
    // 2-arg form still dispatches through the same registered name
    val ok2 = spark
      .sql("""SELECT ml_create('sqlwp2', '{"layers":[{"in":1,"out":1}]}') AS s""")
      .head()
      .getString(0)
    assert(ok2 == "Ok" && ModelRegistry.get("sqlwp2").isDefined)
  }

  test("saveWeights retains prior checkpoints; loadLatest picks the newest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hist").toString
    MlFunctions.create(spark, "hist_model", """{"layers":[{"in":1,"out":1}]}""")
    val m1 = ModelRegistry.get("hist_model").get
    val d1 = ModelRegistry.saveWeights(m1, tmp)
    // mutate and save again under a later timestamp
    val m2 = m1.copyOf()
    m2.layers.head.w(0) += 5f
    Thread.sleep(1100) // timestamp resolution is seconds
    val d2 = ModelRegistry.saveWeights(m2, tmp)
    assert(java.nio.file.Files.exists(d1.resolve("weights.json")), "history must be retained")
    assert(java.nio.file.Files.exists(d2.resolve("weights.json")))
    assert(d1 != d2)
    val loaded = ModelRegistry.loadLatest("hist_model", tmp).get
    assert(loaded.predict(Array(3f)).sameElements(m2.predict(Array(3f))), "newest wins")
  }

  test("trainDistributed propagates BatchNorm running stats (eval-mode inference works)") {
    val rng = new scala.util.Random(29)
    // feature scale deliberately far from N(0,1) so init running stats
    // (mean 0, var 1) produce garbage if not propagated
    val rows = (0 until 2000).map { _ =>
      val f = Seq.fill(3)(50f + 10f * rng.nextFloat())
      (f, Seq(0.02f * f(0) - 0.01f * f(1) + 0.005f * f(2)))
    }
    val df = rows.toDF("f", "t").repartition(4)
    MlFunctions.create(
      spark,
      "bn_dist",
      """{"layers":[{"in":3,"out":16,"activation":"relu","batch_norm":true},{"in":16,"out":1}]}""",
    )
    val out = MlFunctions.trainDistributed(
      df, "bn_dist", $"f", $"t",
      """{"epochs":150,"learning_rate":0.02,"seed":42}""",
      log = _ => (),
    )
    val mse = out
      .select(avg(pow(element_at($"prediction", 1) - element_at($"t", 1), 2)))
      .as[Double]
      .head()
    val bn = ModelRegistry.get("bn_dist").get.layers.head.bn.get
    assert(bn.runningMean.exists(m => math.abs(m) > 1.0),
      "running mean must reflect the (shifted) data, not init zeros")
    assert(mse < 0.05, s"eval-mode BN inference should fit after stats fold: mse=$mse")
  }

  test("ml_create with weightsPath restores saved weights (fixed 3-arg semantics)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wp").toString
    MlFunctions.create(spark, "wp_model", """{"layers":[{"in":2,"out":1}]}""")
    val m = ModelRegistry.get("wp_model").get
    ModelRegistry.saveWeights(m, tmp)
    ModelRegistry.remove("wp_model")
    assert(MlFunctions.create(spark, "wp_model", "", weightsPath = Some(tmp)) == "Ok")
    val restored = ModelRegistry.get("wp_model").get
    assert(restored.predict(Array(1f, 2f)).sameElements(m.predict(Array(1f, 2f))))
  }

  test("trainDistributed: loss decreases, deterministic under fixed partitioning") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 2000).map { _ =>
      val f = Seq.fill(3)(rng.nextFloat() * 2 - 1)
      (f, Seq(0.4f * f(0) - 0.2f * f(1) + 0.1f * f(2) + 0.05f))
    }
    val df = rows.toDF("f", "t").repartition(4)

    def run(name: String): (Array[Float], Double) = {
      MlFunctions.create(
        spark,
        name,
        """{"layers":[{"in":3,"out":16,"activation":"tanh"},{"in":16,"out":1}]}""",
      )
      val out = MlFunctions.trainDistributed(
        df, name, $"f", $"t",
        """{"epochs":200,"learning_rate":0.05,"seed":42}""",
        log = _ => (),
      )
      val mse = out
        .select(avg(pow(element_at($"prediction", 1) - element_at($"t", 1), 2)))
        .as[Double]
        .head()
      (graft.ml.ModelRegistry.get(name).get.layers.head.w.clone(), mse)
    }
    val (w1, mse1) = run("dist_model")
    val (w2, mse2) = run("dist_model") // re-created: same name → same seeded init
    assert(mse1 < 0.005, s"distributed full-batch Adam should fit a linear map: mse=$mse1")
    assert(mse1 == mse2, "same partitioning + seed must reproduce identical loss")
    assert(w1.sameElements(w2), "weights must be bit-identical across runs")
  }

  test("foldRunningStats: law of total variance — partition-correlated data folds exactly") {
    // two partitions with very different means but zero within-partition
    // variance: a plain weighted mean of variances would report var=0;
    // the E[x²] fold must recover the full between-partition spread
    val stats = Seq(
      (Array(0f), Array(0f), 100L), // all values = 0
      (Array(10f), Array(0f), 100L), // all values = 10
    )
    val (mean, variance) = MlFunctions.foldRunningStats(stats)
    assert(mean(0) == 5f, s"mean: ${mean(0)}")
    assert(variance(0) == 25f, s"global var must include mean spread: ${variance(0)}")
    // weighted general case: E[x²]−E[x]² against hand-computed values
    val (m2, v2) = MlFunctions.foldRunningStats(Seq(
      (Array(1f), Array(4f), 300L),
      (Array(3f), Array(1f), 100L),
    ))
    assert(math.abs(m2(0) - 1.5f) < 1e-6)
    // E[x²] = (300*(4+1) + 100*(1+9))/400 = 6.25; var = 6.25 − 2.25 = 4.0
    assert(math.abs(v2(0) - 4.0f) < 1e-6, s"var: ${v2(0)}")
  }

  test("trainSql: quotes in model name and config are data, not SQL") {
    MlFunctions.registerAll(spark)
    Seq((Seq(0.1f), Seq(0.2f)), (Seq(0.3f), Seq(0.4f)))
      .toDF("features", "targets")
      .createOrReplaceTempView("quoted_train")
    val name = "it's-a-model"
    MlFunctions.create(spark, name, """{"layers":[{"in":1,"out":1}]}""")
    val preds = MlFunctions.trainSql(
      spark, name, "quoted_train", "features", "targets",
      configJson = """{"epochs":1,"seed":42,"note":"don't break"}""",
    ).collect()
    assert(preds.length == 2)
    intercept[IllegalArgumentException] {
      MlFunctions.trainSql(spark, name, "quoted_train; DROP TABLE x", "features", "targets")
    }
  }

  test("SQL ml_pred plans the native MlpPredict expression, not a UDF; a non-constant model name fails at analysis") {
    MlFunctions.registerAll(spark)
    MlFunctions.create(spark, "sqlplan", """{"layers":[{"in":2,"out":3,"activation":"relu"},{"in":3,"out":1}]}""")
    // a range scan, not a local relation (whose projections the
    // optimizer evaluates away before planning)
    spark.range(3)
      .selectExpr("CASE WHEN id = 2 THEN NULL " +
        "ELSE array(CAST(id AS FLOAT), CAST(0.5 - id AS FLOAT)) END AS f")
      .createOrReplaceTempView("sqlplan_in")
    val sqlPred = spark.sql("SELECT ml_pred('sqlplan', f) AS p FROM sqlplan_in")
    val api = spark.table("sqlplan_in")
      .select(MlFunctions.predictCol(spark, "sqlplan", $"f").as("p"))
    // both plan the batch scorer over the native expression
    Seq(sqlPred, api).foreach { df =>
      val plan = df.queryExecution.executedPlan
      val exprs = plan.collect { case node => node.expressions }.flatten.flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[org.apache.spark.sql.graftext.MlpPredict]), plan.toString)
      assert(!exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]), plan.toString)
      assert(scorers(df).map(_.preds.map(_.model.name)) == Seq(Seq("sqlplan")), plan.toString)
    }
    // the same values as predictCol, null features included
    def values(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.getSeq[Float](0)).map(_.toSeq)).toSeq
    assert(values(sqlPred) == values(api))
    assert(values(sqlPred).last.isEmpty, "null features predict null")
    // the name is resolved when the query is analysed, so it must be a constant
    val err = intercept[Exception] {
      spark.sql("SELECT ml_pred(name, f) FROM VALUES ('sqlplan', array(CAST(1 AS FLOAT), " +
        "CAST(2 AS FLOAT))) AS t(name, f)")
    }
    assert(err.getMessage.contains("ml_pred: the model name must be a constant string"),
      err.getMessage)
    val missing = intercept[Exception] {
      spark.sql("SELECT ml_pred('no_such_model', f) FROM sqlplan_in")
    }
    assert(missing.getMessage.contains("ml_pred: model 'no_such_model' not found"),
      missing.getMessage)
  }

  private def scorers(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.graftext.MlpScoreExec] =
    df.queryExecution.executedPlan.collect { case s: org.apache.spark.sql.graftext.MlpScoreExec => s }

  private def floatBits(r: org.apache.spark.sql.Row, i: Int): Option[Seq[Int]] =
    Option(r.getSeq[Float](i)).map(_.map(java.lang.Float.floatToRawIntBits))

  test("batch-scored ml_pred: wrong width fails with predict's message; CASE keeps a call row-level and lazy") {
    MlFunctions.registerAll(spark)
    val m = Mlp.fromSpec("batch_sem", """{"layers":[{"in":2,"out":4,"activation":"relu"},{"in":4,"out":1}]}""")
    ModelRegistry.put(m)
    spark.range(6)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN array(CAST(id AS FLOAT), CAST(-id AS FLOAT)) " +
        "ELSE array(CAST(id AS FLOAT)) END AS f")
      .createOrReplaceTempView("batch_sem_in")
    val wrong = spark.sql("SELECT ml_pred('batch_sem', f) AS p FROM batch_sem_in")
    assert(scorers(wrong).nonEmpty, wrong.queryExecution.executedPlan.toString)
    val err = intercept[Exception](wrong.collect())
    assert(err.getMessage.contains("model 'batch_sem' expects 2 features, got 1"), err.getMessage)
    // under CASE only the taken branch runs: the call is not batched
    val guarded = spark.sql(
      "SELECT id, CASE WHEN size(f) = 2 THEN ml_pred('batch_sem', f) END AS p FROM batch_sem_in ORDER BY id")
    val rows = guarded.collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0) assert(floatBits(r, 1).contains(m.predict(Array(id.toFloat, -id.toFloat)).toSeq
        .map(java.lang.Float.floatToRawIntBits)))
      else assert(r.isNullAt(1))
    }
  }

  test("batch-scored ml_pred: two models in one SELECT equal two separate queries") {
    MlFunctions.registerAll(spark)
    MlFunctions.create(spark, "pair_a", """{"layers":[{"in":3,"out":8,"activation":"relu"},{"in":8,"out":2}]}""")
    MlFunctions.create(spark, "pair_b", """{"layers":[{"in":3,"out":5,"activation":"tanh"},{"in":5,"out":1}]}""")
    spark.range(0, 1000, 1, 3)
      .selectExpr("id", "array(CAST(sin(id) AS FLOAT), CAST(cos(id) AS FLOAT), CAST(id / 1000.0 AS FLOAT)) AS f")
      .createOrReplaceTempView("pair_in")
    val both = spark.sql("SELECT id, ml_pred('pair_a', f) AS a, ml_pred('pair_b', f) AS b FROM pair_in")
    assert(scorers(both).map(_.preds.map(_.model.name).toSet) == Seq(Set("pair_a", "pair_b")),
      both.queryExecution.executedPlan.toString)
    def byId(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> floatBits(r, 1)).toMap
    val a = byId(spark.sql("SELECT id, ml_pred('pair_a', f) FROM pair_in"))
    val b = byId(spark.sql("SELECT id, ml_pred('pair_b', f) FROM pair_in"))
    val rows = both.collect()
    assert(rows.length == 1000)
    rows.foreach { r =>
      assert(floatBits(r, 1) == a(r.getLong(0)) && floatBits(r, 2) == b(r.getLong(0)), r)
    }
  }

  test("batch-scored ml_pred: a partition of several chunks and an empty partition score every row") {
    val m = Mlp.fromSpec("chunks", """{"layers":[{"in":2,"out":6,"activation":"relu"},{"in":6,"out":1}]}""")
    ModelRegistry.put(m)
    // partition 0 keeps all its 1200 ids (two full chunks and a tail); partition 1 keeps none
    val in = spark.range(0, 2400, 1, 2).where("id < 1200")
      .selectExpr("id", "array(CAST(id / 7.0 - 80 AS FLOAT), CAST(3 - id / 300.0 AS FLOAT)) AS f")
    val scored = in.select($"id", $"f", MlFunctions.predictCol(spark, "chunks", $"f").as("p"))
    assert(scorers(scored).nonEmpty, scored.queryExecution.executedPlan.toString)
    assert(scored.rdd.getNumPartitions == 2)
    val rows = scored.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 1200L))
    rows.foreach { r =>
      val want = m.predict(r.getSeq[Float](1).toArray).toSeq.map(java.lang.Float.floatToRawIntBits)
      assert(floatBits(r, 2).contains(want), r)
    }
  }

  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(1)", "bit_xor(xxhash64(id, p))").head()
    (r.getLong(0), r.getLong(1))
  }

  private def tempParquet(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("mlpred-pq").resolve("t").toString
    df.write.parquet(dir)
    dir
  }

  test("columnar ml_pred over a Parquet array<float> column; the row-path shapes keep its bits") {
    MlFunctions.registerAll(spark)
    val m = Mlp.fromSpec("colplan", """{"layers":[{"in":3,"out":8,"activation":"relu"},{"in":8,"out":2}]}""")
    ModelRegistry.put(m)
    val dir = tempParquet(spark.range(0, 9000, 1, 2).selectExpr("id",
      "array(CAST(sin(id) AS FLOAT), CAST(cos(id) AS FLOAT), CAST(id / 900.0 AS FLOAT)) AS f"))
    spark.read.parquet(dir).createOrReplaceTempView("colplan_pq")
    val sqlPred = spark.sql("SELECT id, ml_pred('colplan', f) AS p FROM colplan_pq")
    val api = spark.read.parquet(dir).select($"id", MlFunctions.predictCol(spark, "colplan", $"f").as("p"))
    Seq(sqlPred, api).foreach(df => assert(scoresColumnar(df), df.queryExecution.executedPlan.toString))
    val want = checksum(sqlPred)
    assert(want._1 == 9000 && checksum(api) == want)
    // per row, the columnar outputs are predict's bits
    spark.sql("SELECT f, ml_pred('colplan', f) AS p FROM colplan_pq").collect().foreach { r =>
      assert(floatBits(r, 1).contains(m.predict(r.getSeq[Float](0).toArray).toSeq
        .map(java.lang.Float.floatToRawIntBits)), r)
    }

    def rowScored(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(scorers(df).length == 1 && !scorers(df).head.supportsColumnar, plan.toString)
      assert(checksum(df) == want, plan.toString)
    }
    // q27's shape: the features are an expression, not a column
    rowScored(spark.sql("SELECT id, ml_pred('colplan', array(f[0], f[1], f[2])) AS p FROM colplan_pq"))
    // the row-based nested reader
    val nested = "spark.sql.parquet.enableNestedColumnVectorizedReader"
    spark.conf.set(nested, "false")
    try rowScored(spark.sql("SELECT id, ml_pred('colplan', f) AS p FROM colplan_pq"))
    finally spark.conf.unset(nested)
    // a LocalRelation (kept as a relation: its projection is not evaluated away)
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      val local = spark.table("colplan_pq").collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("id", "f")
      rowScored(local.select($"id", MlFunctions.predictCol(spark, "colplan", $"f").as("p")))
    } finally spark.conf.unset(excluded)
  }

  test("columnar ml_pred: a null element reads as 0f across batches, a null array scores null, a wrong width fails") {
    MlFunctions.registerAll(spark)
    val m = Mlp.fromSpec("colnull", """{"layers":[{"in":3,"out":6,"activation":"relu"},{"in":6,"out":1}]}""")
    ModelRegistry.put(m)
    // one file of 20 000 rows: 4096-row batches; rows 0, 5000, 10000 and
    // 15000 hold a null element, whose vector slot an earlier batch wrote
    val dir = tempParquet(spark.range(0, 20000, 1, 1).selectExpr("id",
      "CASE WHEN id % 5000 = 0 THEN array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT), CAST(2.5 AS FLOAT)) " +
        "WHEN id % 3001 = 7 THEN NULL " +
        "ELSE array(CAST(sin(id) AS FLOAT), CAST(cos(id) AS FLOAT), CAST(id / 2000.0 AS FLOAT)) END AS f"))
    spark.read.parquet(dir).createOrReplaceTempView("colnull_pq")
    val scored = spark.sql("SELECT id, f, ml_pred('colnull', f) AS p FROM colnull_pq")
    assert(scoresColumnar(scored), scored.queryExecution.executedPlan.toString)
    // the same bits as the row path (CASE keeps the call a row expression)
    val rowPath = spark.sql("SELECT id, CASE WHEN id >= 0 THEN ml_pred('colnull', f) END AS p FROM colnull_pq")
    assert(scorers(rowPath).isEmpty, rowPath.queryExecution.executedPlan.toString)
    assert(checksum(scored) == checksum(rowPath))
    // ORC's nested vectorized reader: vectors that are not WritableColumnVectors
    val orcDir = java.nio.file.Files.createTempDirectory("mlpred-orc").resolve("t").toString
    spark.table("colnull_pq").write.orc(orcDir)
    val orc = spark.read.orc(orcDir).select($"id", MlFunctions.predictCol(spark, "colnull", $"f").as("p"))
    assert(scoresColumnar(orc), orc.queryExecution.executedPlan.toString)
    assert(checksum(orc) == checksum(rowPath))
    val rows = scored.collect()
    assert(rows.length == 20000)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) assert(id % 3001 == 7 && r.isNullAt(2), r)
      else {
        val f = r.getSeq[Any](1).map(v => if (v == null) 0f else v.asInstanceOf[Float]).toArray
        if (id % 5000 == 0) assert(f.toSeq == Seq(1.5f, 0f, 2.5f), r)
        assert(floatBits(r, 2).contains(m.predict(f).toSeq.map(java.lang.Float.floatToRawIntBits)), r)
      }
    }
    // a wrong width in a later batch fails from the columnar path with predict's message
    val wrongDir = tempParquet(spark.range(0, 9000, 1, 1).selectExpr("id",
      "CASE WHEN id = 6000 THEN array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)) " +
        "ELSE array(CAST(id AS FLOAT), CAST(1 AS FLOAT), CAST(2 AS FLOAT)) END AS f"))
    val wrong = spark.read.parquet(wrongDir).select($"id", MlFunctions.predictCol(spark, "colnull", $"f").as("p"))
    assert(scoresColumnar(wrong), wrong.queryExecution.executedPlan.toString)
    val err = intercept[Exception](wrong.collect())
    assert(err.getMessage.contains("model 'colnull' expects 3 features, got 2"), err.getMessage)
  }

  test("ml_pred snapshot isolation: retraining does not change published plan until re-publish") {
    MlFunctions.create(spark, "snap", """{"layers":[{"in":1,"out":1}]}""")
    val df = Seq(Tuple1(Seq(2f))).toDF("f")
    val col1 = MlFunctions.predictCol(spark, "snap", $"f")
    val before = df.select(col1).head().getSeq[Float](0)
    // mutate registry directly (bypassing publish)
    val m = ModelRegistry.get("snap").get
    m.layers.head.w(0) += 10f
    ModelRegistry.put(m)
    val after = df.select(col1).head().getSeq[Float](0)
    assert(before == after, "captured snapshot must be immutable")
    val fresh = df.select(MlFunctions.predictCol(spark, "snap", $"f")).head().getSeq[Float](0)
    assert(fresh != before, "new predictCol must bind the updated weights")
  }

  test("SQL ml_create shows in ml_models and ml_list() in the next query, with no publish in between") {
    MlFunctions.registerAll(spark)
    ModelRegistry.remove("fresh_sql")
    assert(spark.sql("SELECT model FROM ml_models WHERE model = 'fresh_sql'").collect().isEmpty)
    spark.sql("""SELECT ml_create('fresh_sql', '{"layers":[{"in":2,"out":1}]}')""").collect()
    val listed = spark.sql("SELECT model, json FROM ml_models WHERE model = 'fresh_sql'").collect()
    assert(listed.length == 1 && listed.head.getString(1).contains("\"in\":2"), listed.toSeq)
    assert(spark.sql("SELECT model FROM ml_list() WHERE model = 'fresh_sql'").count() == 1)
  }

  test("publish adds the SQL surface and the batch scorer once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    assert(!s.sessionState.functionRegistry.functionExists(FunctionIdentifier("ml_pred")))
    MlFunctions.publish(s)
    def state() = (
      s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier("ml_pred")).get,
      s.sessionState.tableFunctionRegistry.lookupFunctionBuilder(FunctionIdentifier("ml_list")).get,
      s.sessionState.catalog.getRawTempView("ml_models").get,
    )
    val (pred, list, view) = state()
    MlFunctions.create(s, "once", """{"layers":[{"in":1,"out":1}]}""")
    MlFunctions.publish(s)
    MlFunctions.predictCol(s, "once", org.apache.spark.sql.functions.col("f"))
    val (pred2, list2, view2) = state()
    assert(pred2 eq pred, "publish replaced ml_pred")
    assert(list2 eq list, "publish replaced ml_list")
    assert(view2 eq view, "publish replaced ml_models")
    assert(s.experimental.extraStrategies.count(_ == org.apache.spark.sql.graftext.MlpStrategy) == 1)
    assert(s.sql("SELECT model FROM ml_models WHERE model = 'once'").count() == 1)
  }

  private def weightBits(m: Mlp): Seq[Int] =
    m.layers.toSeq.flatMap(l => (l.w ++ l.b).map(java.lang.Float.floatToRawIntBits))

  test("ml_train aggregate: partial buffers train in partition order, whatever the merge order") {
    val spec = """{"layers":[{"in":2,"out":4,"activation":"relu"},{"in":4,"out":1}]}"""
    val cfg = """{"epochs":3,"batch_size":8,"seed":5}"""
    val rows = (0 until 40).map(i => ("ord_merge", Array(i / 40f, 1f - i / 40f), Array(i / 20f), cfg))
    val agg = new MlFunctions.TrainAgg4
    // one partial buffer per partition, each reduced inside its task
    val Array(a, b) = spark.sparkContext.parallelize(rows, 2)
      .mapPartitions(it => Iterator.single(it.foldLeft(agg.zero)(agg.reduce)))
      .collect()
    def trained(buf: MlFunctions.TrainBuf): Seq[Int] = {
      MlFunctions.create(spark, "ord_merge", spec)
      assert(agg.finish(buf) == "Ok")
      weightBits(ModelRegistry.get("ord_merge").get)
    }
    val direct = Mlp.fromSpec("ord_merge", spec)
    direct.fit(rows.map(_._2).toArray, rows.map(_._3).toArray, TrainConfig.parse(cfg), trainFraction = 0.3)
    assert(trained(agg.merge(a, b)) == weightBits(direct), "merge(a, b) must train on rows in partition order")
    assert(trained(agg.merge(b, a)) == weightBits(direct), "merge(b, a) must train on rows in partition order")
  }

  test("SQL ml_train_cfg over an 8-partition table: same weight bits run to run, rows in partition order") {
    MlFunctions.registerAll(spark)
    val spec = """{"layers":[{"in":2,"out":8,"activation":"relu"},{"in":8,"out":1}]}"""
    val cfg = """{"epochs":2,"batch_size":32,"seed":11}"""
    spark.range(0, 2000, 1, 8)
      .selectExpr("id", "array(CAST(sin(id) AS FLOAT), CAST(cos(id * 0.7) AS FLOAT)) AS f",
        "array(CAST(0.5 * sin(id) + 0.25 * cos(id * 0.7) AS FLOAT)) AS t")
      .createOrReplaceTempView("ord8")
    def sqlTrained(): Seq[Int] = {
      MlFunctions.create(spark, "ord8", spec)
      val ok = spark.sql(s"SELECT ml_train_cfg('ord8', f, t, '$cfg') FROM ord8").head().getString(0)
      assert(ok == "Ok")
      weightBits(ModelRegistry.get("ord8").get)
    }
    val first = sqlTrained()
    assert(sqlTrained() == first, "two runs over one table must train the same weights")
    // range partitions hold ascending id slices: partition order is id order
    val rows = spark.table("ord8").orderBy("id").collect()
    val direct = Mlp.fromSpec("ord8", spec)
    direct.fit(rows.map(_.getSeq[Float](1).toArray), rows.map(_.getSeq[Float](2).toArray),
      TrainConfig.parse(cfg), trainFraction = 0.3)
    assert(first == weightBits(direct))
  }

  // ------------------------------------------- driver-side ml_train (MlTrainExec)

  private def plan(df: org.apache.spark.sql.DataFrame): String = df.queryExecution.executedPlan.toString

  private def isNode(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.find(_.isInstanceOf[org.apache.spark.sql.graftext.MlTrainExec]).isDefined

  /** `id`, 2 features and 1 target over `range(0, rows, 1, parts)`. */
  private def trainView(view: String, rows: Int, parts: Int): Unit =
    spark.range(0, rows, 1, parts)
      .selectExpr("id", "array(CAST(sin(id) AS FLOAT), CAST(cos(id * 0.7) AS FLOAT)) AS f",
        "array(CAST(0.5 * sin(id) + 0.25 * cos(id * 0.7) AS FLOAT)) AS t")
      .createOrReplaceTempView(view)

  test("driver-side ml_train: an empty relation gives Err: no rows; an unknown model fails as through the aggregate") {
    MlFunctions.registerAll(spark)
    trainView("node_edge", 40, 2)
    MlFunctions.create(spark, "node_edge", """{"layers":[{"in":2,"out":4,"activation":"relu"},{"in":4,"out":1}]}""")
    val empty = spark.sql("SELECT ml_train('node_edge', f, t) AS s FROM node_edge WHERE id < 0")
    assert(isNode(empty), plan(empty))
    assert(empty.collect().map(_.getString(0)).toSeq == Seq("Err: no rows"))
    // the aggregate's answer for no rows, whatever the model name
    val agg = new MlFunctions.TrainAgg4
    assert(agg.finish(agg.zero) == "Err: no rows")
    assert(spark.sql("SELECT ml_train('no_such_model', f, t) FROM node_edge WHERE id < 0").head().getString(0) ==
      "Err: no rows")
    val global = spark.sql("SELECT ml_train('no_such_model', f, t) FROM node_edge")
    val grouped = spark.sql("SELECT ml_train('no_such_model', f, t) FROM node_edge GROUP BY id >= 0")
    assert(isNode(global) && !isNode(grouped), plan(grouped))
    Seq(global, grouped).foreach { df =>
      val err = intercept[Exception](df.collect())
      assert(err.getMessage.contains("ml_train: model 'no_such_model' not found"), err.getMessage)
    }
  }

  test("driver-side ml_train: a null feature array and a wrong-width row fail as through the aggregate") {
    MlFunctions.registerAll(spark)
    MlFunctions.create(spark, "node_bad", """{"layers":[{"in":2,"out":4,"activation":"relu"},{"in":4,"out":1}]}""")
    Seq(
      ("CASE WHEN id = 3 THEN NULL ELSE array(CAST(id AS FLOAT), 1.0F) END", "feature row is null"),
      ("CASE WHEN id = 3 THEN array(1.0F) ELSE array(CAST(id AS FLOAT), 1.0F) END",
        "feature row width 1 != model input 2"),
    ).foreach { case (features, message) =>
      spark.sql(s"SELECT id, $features AS f, array(CAST(id AS FLOAT)) AS t FROM range(0, 10, 1, 2)")
        .createOrReplaceTempView("node_bad")
      val global = spark.sql("SELECT ml_train('node_bad', f, t) FROM node_bad")
      val grouped = spark.sql("SELECT ml_train('node_bad', f, t) FROM node_bad GROUP BY id >= 0")
      assert(isNode(global) && !isNode(grouped), plan(grouped))
      Seq(global, grouped).foreach { df =>
        val err = intercept[Exception](df.collect())
        assert(err.getMessage.contains(message), err.getMessage)
      }
    }
  }

  test("GROUP BY over one group keeps the TrainAgg4 aggregate and trains the global node's weight bits and lastStats") {
    MlFunctions.registerAll(spark)
    val spec = """{"layers":[{"in":2,"out":8,"activation":"relu"},{"in":8,"out":1}]}"""
    val cfg = """{"epochs":3,"batch_size":32,"seed":13}"""
    // an 8-file parquet table, as the benchmark trains on: both plans read one file scan
    trainView("node_group_src", 2000, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-node-group").resolve("t").toString
    spark.table("node_group_src").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("node_group")
    def trained(sql: String): (Seq[Int], graft.ml.TrainStats) = {
      MlFunctions.create(spark, "node_group", spec)
      MlFunctions.lastStats = None
      assert(spark.sql(sql).collect().map(_.getString(0)).toSeq == Seq("Ok"))
      (weightBits(ModelRegistry.get("node_group").get), MlFunctions.lastStats.getOrElse(fail(s"no TrainStats: $sql")))
    }
    val globalSql = s"SELECT ml_train_cfg('node_group', f, t, '$cfg') FROM node_group"
    val groupedSql = s"SELECT ml_train_cfg('node_group', f, t, '$cfg') FROM node_group GROUP BY id >= 0"
    assert(isNode(spark.sql(globalSql)))
    val groupedPlan = plan(spark.sql(groupedSql))
    assert(groupedPlan.contains("ObjectHashAggregate") && groupedPlan.contains("TrainAgg4") &&
      !groupedPlan.contains("MlTrainExec"), groupedPlan)
    val (nodeBits, nodeStats) = trained(globalSql)
    val (aggBits, aggStats) = trained(groupedSql)
    assert(nodeBits == aggBits, "the grouped aggregate and the node must train the same weights")
    // the node's fit: the config's epochs and the first-30% split
    assert(nodeStats.epochTrainMse.length == 3 && nodeStats.epochTestMse.length == 3)
    assert(nodeStats.trainRows == 600 && nodeStats.testRows == 1400)
    assert((nodeStats.epochTrainMse ++ nodeStats.epochTestMse).map(java.lang.Double.doubleToRawLongBits).toSeq ==
      (aggStats.epochTrainMse ++ aggStats.epochTestMse).map(java.lang.Double.doubleToRawLongBits).toSeq)
  }

  test("train without orderBy trains the weight bits of SQL ml_train_cfg over the same DataFrame") {
    MlFunctions.registerAll(spark)
    val spec = """{"layers":[{"in":2,"out":8,"activation":"relu"},{"in":8,"out":1}]}"""
    val cfg = """{"epochs":2,"batch_size":32,"seed":17}"""
    trainView("api_vs_sql", 2000, 8)
    MlFunctions.create(spark, "api_vs_sql", spec)
    assert(spark.sql(s"SELECT ml_train_cfg('api_vs_sql', f, t, '$cfg') FROM api_vs_sql").head().getString(0) == "Ok")
    val viaSql = weightBits(ModelRegistry.get("api_vs_sql").get)
    MlFunctions.create(spark, "api_vs_sql", spec)
    MlFunctions.train(spark.table("api_vs_sql"), "api_vs_sql", $"f", $"t", cfg, log = _ => ())
    assert(weightBits(ModelRegistry.get("api_vs_sql").get) == viaSql)
  }
}
