package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, FloatType}

import graft.ml.Mlp

/** MLP inference as a native Catalyst expression (SURVEY §7.3's
  * "ml_pred as a codegen Expression" candidate): the weight snapshot
  * rides in the expression tree (models are KB-sized — serialized once
  * per plan via the codegen reference array, not per row like a UDF
  * closure), input ArrayData is read as a primitive float array with
  * no Seq boxing, and the call participates in whole-stage codegen.
  *
  * Same eval-mode semantics as [[graft.ml.Mlp.predict]] (dropout off,
  * BatchNorm running stats — reference src/nn/mod.rs:71). SQL
  * `ml_pred` and `MlFunctions.predictCol` both build this expression.
  * In a projection, and not under CASE, IF or COALESCE,
  * [[MlpStrategy]] plans it as [[MlpScoreExec]], which scores
  * chunks feature-major through [[graft.ml.Mlp.predictColumns]] with
  * the same output bits, straight from the scan's column batches when
  * the features are a bare Parquet `array<float>` column; everywhere
  * else (under a conditional, in a filter or an aggregate) it runs per
  * row through [[MlpPredict.run]]. On every path a null feature array
  * predicts null and a null element reads as `0f`.
  */
case class MlpPredict(child: Expression, model: Mlp)
    extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = s"ml_pred_${model.name}"

  override def nullSafeEval(input: Any): Any =
    MlpPredict.run(model, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelRef = ctx.addReferenceObj("mlpModel", model, classOf[Mlp].getName)
    defineCodeGen(ctx, ev, x =>
      s"org.apache.spark.sql.graftext.MlpPredict.run($modelRef, $x)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MlpPredict {
  /** The row path's eval/codegen entry: primitive in, primitive out;
    * the outputs have [[graft.ml.Mlp.predict]]'s bits. A null element
    * reads as `0f`: an `UnsafeArrayData` zeroes its null slots, but in a
    * codegen stage over `ColumnarToRow` the input is a `ColumnarArray`,
    * whose null slot holds whatever an earlier batch left in the vector.
    */
  def run(model: Mlp, input: ArrayData): ArrayData = {
    val x = input.toFloatArray()
    var i = 0
    while (i < x.length) { if (input.isNullAt(i)) x(i) = 0f; i += 1 }
    val out = model.predict(x)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  def column(features: Column, model: Mlp): Column =
    ExpressionUtils.column(MlpPredict(ExpressionUtils.expression(features), model))
}
