package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftext.{GraftFunctions, MlTrainExec, MlpScoreExec, MlpStrategy}

import graft.ml.{Mlp, ModelRegistry, TrainConfig}

/** The session-extension route: a session built with
  * `graft.functions.GraftExtensions`, as `spark.sql.extensions` builds
  * one, gets the whole SQL surface with no registration call.
  */
class GraftExtensionsSpec extends SparkTestBase {

  /** A new session on the shared context, built with the extension. The
    * builder only applies extensions to a session it creates, so the
    * active and default sessions are cleared for the build and restored.
    */
  private lazy val ext: SparkSession = {
    val (active, default) = (SparkSession.getActiveSession, spark)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new graft.functions.GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(default)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  private val spec = """{"layers":[{"in":2,"out":8,"activation":"relu"},{"in":8,"out":1}]}"""
  private val cfg = """{"epochs":2,"batch_size":32,"seed":11}"""

  private def weightBits(name: String): Seq[Int] =
    ModelRegistry.get(name).get.layers.toSeq.flatMap(l => (l.w ++ l.b).map(java.lang.Float.floatToRawIntBits))

  test("every catalogue name is written once and resolves in an extension session with no registration call") {
    val names = (GraftFunctions.functions ++ GraftFunctions.tableFunctions).map(_._1.funcName)
    assert(names.distinct == names, names)
    assert(GraftFunctions.functions.length == 20 && GraftFunctions.tableFunctions.map(_._1.funcName) == Seq("ml_list"))
    assert(ext ne spark)
    GraftFunctions.functions.foreach { case (id, _, _) =>
      assert(ext.sessionState.functionRegistry.functionExists(id), id)
    }
    assert(ext.sessionState.tableFunctionRegistry.functionExists(GraftFunctions.tableFunctions.head._1))
    assert(ext.sessionState.planner.strategies.count(_ == MlpStrategy) == 1)
    // nothing was registered per session: no ml_models view, no experimental strategy
    assert(ext.sessionState.catalog.getRawTempView("ml_models").isEmpty)
    assert(!ext.experimental.extraStrategies.contains(MlpStrategy))
    val natives = ext.sql("SELECT vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
      "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))), z_value(3L, 5L), simhash64('one two three')").head()
    assert(natives.getDouble(0) == 11.0 && !natives.isNullAt(1) && !natives.isNullAt(2), natives)
  }

  /** create → ml_train (3-arg) → ml_train_cfg → ml_pred → ml_list() in SQL
    * on `s`; returns the weights after each training, the scoring query
    * and its order-free checksum.
    */
  private def sqlFlow(s: SparkSession, name: String): (Seq[Int], Seq[Int], DataFrame, Long) = {
    s.sql("CREATE OR REPLACE TEMPORARY VIEW ext_rows AS SELECT id, " +
      "array(CAST(sin(id) AS FLOAT), CAST(cos(id * 0.7) AS FLOAT)) AS f, " +
      "array(CAST(0.5 * sin(id) + 0.25 * cos(id * 0.7) AS FLOAT)) AS t FROM range(0, 600, 1, 4)")
    assert(s.sql(s"SELECT ml_create('$name', '$spec')").head().getString(0) == "Ok")
    assert(s.sql(s"SELECT ml_train('$name', f, t) FROM ext_rows").head().getString(0) == "Ok")
    val afterDefault = weightBits(name)
    assert(s.sql(s"SELECT ml_train_cfg('$name', f, t, '$cfg') FROM ext_rows").head().getString(0) == "Ok")
    val afterCfg = weightBits(name)
    val scored = s.sql(s"SELECT id, ml_pred('$name', f) AS p FROM ext_rows")
    val checksum = scored.selectExpr("bit_xor(xxhash64(id, p))").head().getLong(0)
    assert(s.sql(s"SELECT json FROM ml_list() WHERE model = '$name'").head().getString(0).contains("\"out\":8"))
    (afterDefault, afterCfg, scored, checksum)
  }

  test("pure-SQL ML flow in an extension session: one MlpScoreExec, same bits as a registerAll session") {
    val (extDefault, extCfg, scored, extSum) = sqlFlow(ext, "sql_flow")
    val plan = scored.queryExecution.executedPlan
    assert(plan.collect { case e: MlpScoreExec => e }.length == 1, plan.toString)
    // the 3-arg form trains with the default config, on rows in partition order
    val rows = ext.table("ext_rows").orderBy("id").collect()
    val direct = Mlp.fromSpec("sql_flow", spec)
    direct.fit(rows.map(_.getSeq[Float](1).toArray), rows.map(_.getSeq[Float](2).toArray),
      TrainConfig.parse(""), trainFraction = 0.3)
    assert(extDefault == direct.layers.toSeq.flatMap(l => (l.w ++ l.b).map(java.lang.Float.floatToRawIntBits)))

    // the same flow, model name included, in a session given the surface by registerAll
    MlFunctions.registerAll(spark)
    val (regDefault, regCfg, _, regSum) = sqlFlow(spark, "sql_flow")
    assert(extDefault == regDefault && extCfg == regCfg)
    assert(extSum == regSum)
  }

  test("ml_pred over a Parquet array<float> column scores the scan's batches on both routes, with equal bits") {
    MlFunctions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("ext-columnar").resolve("t").toString
    spark.range(0, 6000, 1, 2)
      .selectExpr("id", "array(CAST(sin(id) AS FLOAT), CAST(cos(id * 0.7) AS FLOAT)) AS f")
      .write.parquet(dir)
    val m = Mlp.fromSpec("ext_columnar", spec)
    ModelRegistry.put(m)
    val sums = Seq(ext -> "extension session", spark -> "registerAll session").map { case (s, route) =>
      s.read.parquet(dir).createOrReplaceTempView("ext_pq")
      val scored = s.sql("SELECT id, ml_pred('ext_columnar', f) AS p FROM ext_pq")
      assert(scoresColumnar(scored), s"$route:\n${scored.queryExecution.executedPlan}")
      scored.selectExpr("count(1)", "bit_xor(xxhash64(id, p))").head()
    }
    assert(sums.head == sums.last && sums.head.getLong(0) == 6000, sums)
  }

  test("publish on an extension session adds the ml_models view and no second batch scorer") {
    MlFunctions.create(ext, "ext_view", """{"layers":[{"in":1,"out":1}]}""")
    MlFunctions.publish(ext)
    assert(ext.sql("SELECT model FROM ml_models WHERE model = 'ext_view'").count() == 1)
    assert(ext.sessionState.planner.strategies.count(_ == MlpStrategy) == 1)
  }

  test("a global SQL ml_train_cfg plans the driver-side MlTrainExec: no exchange, no object or sort aggregate") {
    MlFunctions.registerAll(spark)
    Seq(ext -> "extension session", spark -> "registerAll session").foreach { case (s, route) =>
      s.sql("CREATE OR REPLACE TEMPORARY VIEW shape_rows AS SELECT id, " +
        "array(CAST(sin(id) AS FLOAT), CAST(cos(id) AS FLOAT)) AS f, " +
        "array(CAST(sin(id) AS FLOAT)) AS t FROM range(0, 400, 1, 4)")
      assert(s.sql(s"SELECT ml_create('shape_model', '$spec')").head().getString(0) == "Ok")
      val train = s.sql(s"SELECT ml_train_cfg('shape_model', f, t, '$cfg') AS s FROM shape_rows")
      val plan = train.queryExecution.executedPlan
      assert(plan.collect { case n: MlTrainExec => n }.length == 1, s"$route:\n$plan")
      assert(plan.collect {
        case n @ (_: Exchange | _: ObjectHashAggregateExec | _: SortAggregateExec) => n
      }.isEmpty, s"$route:\n$plan")
      assert(train.collect().map(_.getString(0)).toSeq == Seq("Ok"), route)
    }
  }
}
