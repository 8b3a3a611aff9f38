package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, Cast, Expression, ExpressionInfo, Literal, ScalaUDF,
}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.UserDefinedFunctionUtils
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator}
import org.apache.spark.sql.functions.{udaf, udf}
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String

import graft.MlFunctions
import graft.ml.{Mlp, ModelRegistry}

/** Every graft SQL function, each name written once: the 16 native
  * expressions and the reference's four ML functions
  * (src/lib.rs:240-252). Entries are the `(name, info, builder)` triples
  * [[SparkSessionExtensions]] injects. Two routes read them:
  * [[GraftExtensions]] injects every entry into sessions built with it,
  * and [[register]] adds to any other session the entries it lacks.
  *
  * Shape parameters of the parameterized expressions (shingle n,
  * signature widths, PQ ksub) and `ml_pred`'s model name must be
  * plan-time constants: a non-literal fails when the query is analysed,
  * not mid-query.
  */
object GraftFunctions {
  type Entry[T] = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => T)

  private def entry[T](name: String, produces: Class[_])(builder: Seq[Expression] => T): Entry[T] =
    (FunctionIdentifier(name), new ExpressionInfo(produces.getName, null, name), builder)

  private val create2 = udf { (name: String, spec: String) =>
    ModelRegistry.put(Mlp.fromSpec(name, spec))
    "Ok"
  }.asNondeterministic().asInstanceOf[SparkUserDefinedFunction]

  private val create3 = udf { (name: String, spec: String, weightsPath: String) =>
    val loaded = ModelRegistry
      .loadLatest(name, weightsPath)
      .getOrElse(throw new IllegalArgumentException(s"no saved weights for '$name' under $weightsPath"))
    ModelRegistry.put(loaded)
    "Ok"
  }.asNondeterministic().asInstanceOf[SparkUserDefinedFunction]

  private val trainAgg = udaf(new MlFunctions.TrainAgg4).asInstanceOf[UserDefinedAggregator[_, _, _]]

  val functions: Seq[Entry[Expression]] = Seq(
    entry("vec_dot", classOf[FloatVectorDot])(es => FloatVectorDot(es(0), es(1))),
    entry("vec_norm", classOf[FloatVectorNorm])(es => FloatVectorNorm(es.head)),
    entry("vec_cosine", classOf[FloatVectorCosine])(es => FloatVectorCosine(es(0), es(1))),
    entry("sign_pack", classOf[FloatSignPack])(es => FloatSignPack(es.head)),
    entry("hamming_dist", classOf[LongArrayHamming])(es => LongArrayHamming(es(0), es(1))),
    entry("sorted_intersect_count", classOf[SortedLongIntersectCount])(
      es => SortedLongIntersectCount(es(0), es(1))),
    entry("pq_adc_score", classOf[PqAdcScore])(
      es => PqAdcScore(es(0), es(1), intLit(es(2), "pq_adc_score"))),
    entry("z_value", classOf[ZOrderValue])(es => ZOrderValue(es(0), es(1))),
    entry("shingle_set", classOf[TextShingleSet])(
      es => TextShingleSet(es(0), intLit(es(1), "shingle_set"))),
    entry("shingle_hashes", classOf[TextShingleHashes])(
      es => TextShingleHashes(es(0), intLit(es(1), "shingle_hashes"))),
    entry("minhash_prep", classOf[MinHashPrep])(
      es => MinHashPrep(es(0), intLit(es(1), "minhash_prep"), intLit(es(2), "minhash_prep"))),
    entry("simhash64", classOf[SimHash64])(es => SimHash64(es.head)),
    entry("repetition_stats", classOf[TextRepetitionStats])(es => TextRepetitionStats(es.head)),
    entry("hashed_ngram_features", classOf[HashedNgramFeatures])(
      es => HashedNgramFeatures(es(0), intLit(es(1), "hashed_ngram_features"))),
    entry("winnow_signature", classOf[WinnowSignature])(
      es => WinnowSignature(es(0), intLit(es(1), "winnow_signature"), intLit(es(2), "winnow_signature"))),
    entry("unicode_normalize", classOf[UnicodeNormalize])(
      es => UnicodeNormalize(es(0), if (es.length > 1) strLit(es(1), "unicode_normalize") else "NFC")),
    // ml_create(name, spec[, weightsPath]): both reference arities
    // (src/lib.rs:23-86) on one name; the 3-arg form restores the newest
    // checkpoint under weightsPath. The bodies run on an executor thread,
    // which shares the driver registry only in local mode (cluster code
    // calls MlFunctions.create). Nondeterministic, so Catalyst does not
    // collapse, reorder or re-run them (SURVEY §4).
    entry("ml_create", classOf[ScalaUDF]) {
      case es @ Seq(_, _) => UserDefinedFunctionUtils.toScalaUDF(create2, es)
      case es @ Seq(_, _, _) => UserDefinedFunctionUtils.toScalaUDF(create3, es)
      case es => throw new IllegalArgumentException(s"ml_create takes 2/3 arguments, got ${es.length}")
    },
    // ml_train(name, feats, tgts): the reference default config
    // (functions.test:10), which ml_train_cfg reads from an empty string.
    // Both build the TrainAgg4 aggregate; MlpStrategy plans a global call
    // with constant arguments as the driver-side MlTrainExec
    entry("ml_train", classOf[ScalaAggregator[_, _, _]]) {
      case es @ Seq(_, _, _) => ScalaAggregator(trainAgg.withName("ml_train"), es :+ Literal(""))
      case es => throw new IllegalArgumentException(s"ml_train takes 3 arguments, got ${es.length}")
    },
    // ml_train_cfg(name, feats, tgts, configJson) (autompg.test:22)
    entry("ml_train_cfg", classOf[ScalaAggregator[_, _, _]]) {
      case es @ Seq(_, _, _, _) => ScalaAggregator(trainAgg.withName("ml_train_cfg"), es)
      case es => throw new IllegalArgumentException(s"ml_train_cfg takes 4 arguments, got ${es.length}")
    },
    // ml_pred(name, feats): the native MlpPredict over the weights the
    // registry holds when the query is analysed
    entry("ml_pred", classOf[MlpPredict]) {
      case Seq(name, features) =>
        require(name.foldable && name.dataType.isInstanceOf[StringType] && name.eval() != null,
          s"ml_pred: the model name must be a constant string, got ${name.sql}")
        val n = name.eval().toString
        val model = ModelRegistry.get(n)
          .getOrElse(throw new IllegalArgumentException(s"ml_pred: model '$n' not found"))
        MlpPredict(Cast(features, ArrayType(FloatType)), model)
      case es => throw new IllegalArgumentException(s"ml_pred takes 2 arguments, got ${es.length}")
    },
  )

  val tableFunctions: Seq[Entry[LogicalPlan]] = Seq(
    // ml_list() → (model, json): the registry as of the query's analysis
    // (the reference's table function, src/lib.rs:88-126)
    entry("ml_list", classOf[LocalRelation]) { es =>
      require(es.isEmpty, s"ml_list takes no arguments, got ${es.length}")
      LocalRelation(
        Seq(AttributeReference("model", StringType)(), AttributeReference("json", StringType)()),
        ModelRegistry.list().map { case (model, json) =>
          InternalRow(UTF8String.fromString(model), UTF8String.fromString(json))
        })
    },
  )

  /** Add to `spark` the catalogue entries it lacks; an entry the session
    * already has (from [[GraftExtensions]] or an earlier call) is kept.
    */
  def register(spark: SparkSession): Unit = {
    def ensure[T](registry: FunctionRegistryBase[T], entries: Seq[Entry[T]]): Unit =
      for ((id, info, builder) <- entries if !registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    ensure(spark.sessionState.functionRegistry, functions)
    ensure(spark.sessionState.tableFunctionRegistry, tableFunctions)
  }

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$fn expects a literal int argument, got $other")
  }

  private def strLit(e: Expression, fn: String): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(s"$fn expects a literal string argument, got $other")
  }
}

/** Session extension: `SparkSession.builder.withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.functions.GraftExtensions`
  * gives a pure-SQL session every [[GraftFunctions]] entry (the native
  * expressions, `ml_create`, `ml_train`, `ml_train_cfg`, `ml_pred` and
  * the table function `ml_list()`) and [[MlpStrategy]] (the batch
  * scorer and the driver-side `ml_train`), as loading the reference
  * extension does. The `ml_models` view over `ml_list()` is a temp
  * view, which only a live session can hold: `graft.MlFunctions.publish`
  * creates it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    GraftFunctions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectPlannerStrategy(_ => MlpStrategy)
  }
}
