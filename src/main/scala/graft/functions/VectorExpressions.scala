package graft.functions

import org.apache.spark.sql.{Column, SparkSession}

/** Public faces of the native vector expressions (implementation lives
  * in [[org.apache.spark.sql.graftext]] because Catalyst's expression
  * plumbing is private[sql]). See that file for semantics; contract:
  * DOUBLE, index-ascending accumulation — bit-equal to the DuckDB
  * oracle and to the interpreted `zip_with`/`aggregate` formulation.
  */
object VectorExpressions {
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.vecDot(a, b)
  def vecNorm(a: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.vecNorm(a)
  def vecCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.vecCosine(a, b)
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.sortedIntersectCount(a, b)
  def pqAdcScore(code: Column, lut: Column, ksub: Int): Column =
    org.apache.spark.sql.graftext.VectorExpressions.pqAdcScore(code, lut, ksub)
  def signPack(v: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.signPack(v)
  def hammingDist(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.hammingDist(a, b)
  /** Add to `spark` every graft SQL function it lacks (the native
    * expressions and the ML surface; see
    * [[org.apache.spark.sql.graftext.GraftFunctions]]).
    */
  def register(spark: SparkSession): Unit =
    org.apache.spark.sql.graftext.GraftFunctions.register(spark)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions`: the public
  * name of [[org.apache.spark.sql.graftext.GraftExtensions]], which gives
  * a pure-SQL session every graft SQL function, `ml_list()` included, and
  * the batch scorer. The `ml_models` view needs `graft.MlFunctions.publish`.
  */
class GraftExtensions extends org.apache.spark.sql.graftext.GraftExtensions
