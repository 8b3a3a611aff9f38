/*
 * Hosted under org.apache.spark.sql because Catalyst's expression
 * plumbing (AbstractDataType, ExpressionUtils.column) is private[sql];
 * this is the conventional packaging for third-party native
 * expressions. Public API surface: graft.functions.VectorExpressions.
 */
package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression,
}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{
  AbstractDataType, ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType,
}
import org.apache.spark.sql.Column

/** Native Catalyst expressions for the embedding hot paths.
  *
  * Rationale (SURVEY §7.3): Spark's `zip_with`/`aggregate` higher-order
  * functions evaluate an interpreted lambda per element, and a Scala
  * UDF pays serializer boxing per call. A codegen'd expression runs a
  * primitive float loop inside whole-stage codegen — no allocation, no
  * virtual calls — which is what an all-pairs similarity scan spends
  * its time in. Accumulation is DOUBLE, index-ascending, matching the
  * DuckDB oracle's semantics bit-for-bit.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

/** sqrt(Σ x_i²) over an array<float>, double accumulation. */
case class FloatVectorNorm(child: Expression)
    extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |double $acc = 0.0;
         |int $n = $x.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $x.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass cosine similarity (dot and both norms in a single loop). */
case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $x.getFloat($i);
         |  double $yv = (double) $y.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

/** |A ∩ B| for two SORTED DISTINCT array<long> columns — two-pointer
  * merge, no hash set, no output array. This is the dedup-verify hot
  * path: every candidate pair (millions per corpus slice) computes an
  * intersection size between precomputed sorted shingle/fingerprint
  * hash arrays; Spark's `size(array_intersect(a, b))` allocates an
  * OpenHashSet AND materializes the intersection array per row, where
  * this expression is a pure primitive loop inside whole-stage
  * codegen. Returns the exact same value as size(array_intersect)
  * whenever both inputs are sorted ascending with distinct elements
  * (which every signature builder in [[graft.operators.Dedup]]
  * guarantees); unsorted input is the caller's bug.
  */
/** Sign-bit packing of an `array<float>` into `array<bigint>` 32-bit
  * words (`bit i of word w = [x_{32w+i} > 0]`) — the native hot-path
  * form of [[graft.operators.Quantize.signPack]]'s column
  * formulation: that one nests two interpreted higher-order functions
  * (an allocation per element per row), this one is a primitive loop
  * inside whole-stage codegen emitting one long array per row. NULL
  * elements count as non-positive (bit 0), matching the column
  * formulation's null comparison semantics; an empty vector packs to
  * an empty code. Equality with the portable formulation is locked
  * by QuantizeSpec.
  */
case class FloatSignPack(child: Expression)
    extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_pack"

  override def nullSafeEval(a: Any): Any =
    FloatSignPack.pack(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graftext.FloatSignPack.pack($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FloatSignPack {
  def pack(x: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = x.numElements()
    val words = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && x.getFloat(i) > 0f) {
        words(i >> 5) |= 1L << (i & 31)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }
}

/** `Σ Long.bitCount(a_w ^ b_w)` over two packed sign codes — the
  * native form of [[graft.operators.Quantize.hammingDist]]. The
  * column formulation allocates a zipped array per PAIR, which on an
  * all-pairs candidate scan is the dominant young-gen churn (the same
  * failure mode the PQ ADC kernel fix removed); this is a no-
  * allocation loop in whole-stage codegen. Codes must share a length
  * (truncates to the shorter, like vec_dot).
  */
case class LongArrayHamming(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_dist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += java.lang.Long.bitCount($x.getLong($i) ^ $y.getLong($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements(), $ny = $y.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance (ADC) score for product-quantized vectors:
  * `Σ_j lut[j·ksub + code[j]]` over a BINARY code (one unsigned byte
  * per subspace) and a per-query lookup table of subspace dot
  * products. This is the inner loop of a PQ ANN scan — m byte loads
  * and float adds per corpus row instead of a d-dimensional float
  * product — so it must live inside whole-stage codegen; double
  * accumulation, index-ascending, matching the eval path bit-for-bit.
  */
case class PqAdcScore(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val code = a.asInstanceOf[Array[Byte]]
    val lut = b.asInstanceOf[ArrayData]
    var acc = 0.0
    var j = 0
    while (j < code.length) {
      acc += lut.getFloat(j * ksub + (code(j) & 0xff)).toDouble
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |for (int $j = 0; $j < $c.length; $j++) {
         |  $acc += (double) $l.getFloat($j * $ksub + ($c[$j] & 0xff));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Column-DSL faces (no registry lookup needed). */
  def vecDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatVectorDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)),
    )
  def vecNorm(a: Column): Column =
    ExpressionUtils.column(FloatVectorNorm(ExpressionUtils.expression(a)))
  def vecCosine(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatVectorCosine(ExpressionUtils.expression(a), ExpressionUtils.expression(b)),
    )
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedLongIntersectCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)),
    )
  def pqAdcScore(code: Column, lut: Column, ksub: Int): Column =
    ExpressionUtils.column(
      PqAdcScore(ExpressionUtils.expression(code), ExpressionUtils.expression(lut), ksub),
    )
  def signPack(v: Column): Column =
    ExpressionUtils.column(FloatSignPack(ExpressionUtils.expression(v)))
  def hammingDist(a: Column, b: Column): Column =
    ExpressionUtils.column(
      LongArrayHamming(ExpressionUtils.expression(a), ExpressionUtils.expression(b)),
    )
}
