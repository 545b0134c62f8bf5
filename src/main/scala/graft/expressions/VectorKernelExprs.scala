package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Static kernels behind the embedding expressions of the ANN and
  * embedding-dedup operators ([[graft.ops.Similarity]],
  * [[graft.ops.Dedup]]). Each reads its `array<float>` input once through
  * `ArrayData` (O(d) per vector): a Scala UDF taking `Seq[Float]` receives
  * a `List`, so its `v(j)` / `v.length` are O(d) each and the loop is
  * O(d²). Lookup tables (centroids, hyperplanes, PQ codebooks) are plain
  * arrays here; the expressions hold them as broadcasts.
  *
  * Normalization is `x / ‖x‖` in double with the norm summed in index
  * order — bit-identical to the higher-order-function form
  * `transform(v, x => x / sqrt(aggregate(zip_with(v, v, _ * _), 0.0, _ + _)))`
  * — except that a zero vector normalizes to zeros (the division form
  * fails under ANSI mode). */
object VectorKernels {

  /** True when some element of `v` is null. */
  def hasNull(v: ArrayData): Boolean = {
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** `v / ‖v‖` in double; a zero vector gives zeros. `v` holds no null. */
  private def normalized(v: ArrayData): Array[Double] = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var ss = 0.0
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      out(i) = x
      ss += x * x
      i += 1
    }
    val norm = math.sqrt(ss)
    i = 0
    while (i < n) {
      out(i) = if (norm == 0) 0.0 else out(i) / norm
      i += 1
    }
    out
  }

  /** [[normalized]] as `array<double>`; a vector holding a null element
    * gives an all-null array of the same length (its norm is null). */
  def l2Normalize(v: ArrayData): ArrayData =
    if (hasNull(v)) new GenericArrayData(new Array[Any](v.numElements()))
    else UnsafeArrayData.fromPrimitiveArray(normalized(v))

  /** Bit i set iff `planes(i) · v >= 0` (random-hyperplane signature). */
  def signBits(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val n = v.numElements()
    val x = new Array[Double](n)
    var j = 0
    while (j < n) { x(j) = v.getFloat(j).toDouble; j += 1 }
    var sig = 0L
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var dot = 0.0
      j = 0
      while (j < n) { dot += p(j) * x(j); j += 1 }
      if (dot >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Indices of the `n` rows of `table` nearest in squared L2 distance to
    * `x(off until off + row length)`, nearest first; equal distances keep
    * the lower index first (`java.lang.Double.compare` order, NaN last). */
  private def nearest(x: Array[Double], off: Int, table: Array[Array[Double]], n: Int): Array[Int] = {
    val k = math.min(n, table.length)
    val bestD = new Array[Double](k)
    val bestC = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < table.length) {
      val t = table(c)
      var d = 0.0
      var j = 0
      while (j < t.length) { val diff = x(off + j) - t(j); d += diff * diff; j += 1 }
      var pos = filled
      while (pos > 0 && java.lang.Double.compare(bestD(pos - 1), d) > 0) pos -= 1
      if (pos < k) {
        val end = if (filled < k) filled else k - 1
        System.arraycopy(bestD, pos, bestD, pos + 1, end - pos)
        System.arraycopy(bestC, pos, bestC, pos + 1, end - pos)
        bestD(pos) = d
        bestC(pos) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    bestC
  }

  /** The `n` centroids nearest to the normalized `v` (IVF cell assignment). */
  def nearestCells(v: ArrayData, cents: Array[Array[Double]], n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(nearest(normalized(v), 0, cents, n))

  /** Product-quantizer codes of the normalized `v`: per subspace j, the
    * nearest centroid of `books(j)` to the j-th slice. */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val nv = normalized(v)
    val codes = new Array[Int](books.length)
    var j = 0
    while (j < books.length) {
      val sub = books(j)(0).length
      codes(j) = nearest(nv, j * sub, books(j), 1)(0)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** ADC lookup table of the normalized `v`, flattened subspace-major:
    * entry `j * ksub + c` is slice j · centroid c of `books(j)`. The stride
    * `ksub` is the longest book's length: KMeans returns fewer centroids
    * for a slice with fewer distinct points, so books may differ in
    * length; a shorter book's tail slots stay 0 and no code addresses them. */
  def pqLut(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val nv = normalized(v)
    val ksub = books.map(_.length).max
    val out = new Array[Double](books.length * ksub)
    var j = 0
    while (j < books.length) {
      var c = 0
      while (c < books(j).length) {
        val cent = books(j)(c)
        var s = 0.0
        var i = 0
        while (i < cent.length) { s += nv(j * cent.length + i) * cent(i); i += 1 }
        out(j * ksub + c) = s
        c += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ADC score: `Σ_j lut(j * ksub + codes(j))`, ksub = |lut| / |codes|
    * ([[pqLut]]'s stride). */
  def pqAdc(lut: ArrayData, codes: ArrayData): Double = {
    val m = codes.numElements()
    val ksub = lut.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) { s += lut.getDouble(j * ksub + codes.getInt(j)); j += 1 }
    s
  }
}

/** Shape shared by the table-driven kernels: one `array<float>` vector in;
  * a null vector or a vector holding a null element gives null. `call`
  * is the kernel invocation in generated Java over a null-free `v`. */
abstract class FloatVectorKernelExpr extends UnaryExpression {
  protected def kernel(v: ArrayData): Any
  protected def call(ctx: CodegenContext, v: String): String

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    FloatVectorKernelExpr.checkFloatVector(this)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (VectorKernels.hasNull(a)) null else kernel(a)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |if (graft.expressions.VectorKernels.hasNull($v)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${call(ctx, v)};
         |}
       """.stripMargin)

  /** Generated-Java read of a broadcast table, cast to its array type. */
  protected def table(ctx: CodegenContext, name: String, bc: Broadcast[_],
      javaType: String): String =
    s"(($javaType) ${ctx.addReferenceObj(name, bc, classOf[Broadcast[_]].getName)}.value())"
}

object FloatVectorKernelExpr {
  /** The input check of every kernel over one embedding: `array<float>`,
    * the type the ANN and dedup operators' cosine kernel reads too. */
  def checkFloatVector(e: UnaryExpression): TypeCheckResult = e.child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} expects array<float>, got ${other.simpleString}")
  }
}

/** `array<float> → array<double>`: [[VectorKernels.l2Normalize]]. */
case class L2NormalizeExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    FloatVectorKernelExpr.checkFloatVector(this)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_l2_normalize"
  override def nullSafeEval(v: Any): Any = VectorKernels.l2Normalize(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.VectorKernels.l2Normalize($v)")
  override protected def withNewChildInternal(newChild: Expression): L2NormalizeExpr =
    copy(child = newChild)
}

/** `array<float> → long`: [[VectorKernels.signBits]] over broadcast planes. */
case class SignBitsExpr(child: Expression, planes: Broadcast[Array[Array[Double]]])
    extends FloatVectorKernelExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sign_bits"
  override protected def kernel(v: ArrayData): Any = VectorKernels.signBits(v, planes.value)
  override protected def call(ctx: CodegenContext, v: String): String =
    s"graft.expressions.VectorKernels.signBits($v, ${table(ctx, "planes", planes, "double[][]")})"
  override protected def withNewChildInternal(newChild: Expression): SignBitsExpr =
    copy(child = newChild)
}

/** `array<float> → array<int>`: [[VectorKernels.nearestCells]]. */
case class NearestCellsExpr(child: Expression, cents: Broadcast[Array[Array[Double]]], n: Int)
    extends FloatVectorKernelExpr {
  require(n >= 1, s"nearest cells need n >= 1, got $n")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"
  override protected def kernel(v: ArrayData): Any = VectorKernels.nearestCells(v, cents.value, n)
  override protected def call(ctx: CodegenContext, v: String): String =
    s"graft.expressions.VectorKernels.nearestCells($v, " +
      s"${table(ctx, "cents", cents, "double[][]")}, $n)"
  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}

/** `array<float> → array<int>`: [[VectorKernels.pqEncode]]. */
case class PqEncodeExpr(child: Expression, books: Broadcast[Array[Array[Array[Double]]]])
    extends FloatVectorKernelExpr {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override protected def kernel(v: ArrayData): Any = VectorKernels.pqEncode(v, books.value)
  override protected def call(ctx: CodegenContext, v: String): String =
    s"graft.expressions.VectorKernels.pqEncode($v, ${table(ctx, "books", books, "double[][][]")})"
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** `array<float> → array<double>`: [[VectorKernels.pqLut]]. */
case class PqLutExpr(child: Expression, books: Broadcast[Array[Array[Array[Double]]]])
    extends FloatVectorKernelExpr {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"
  override protected def kernel(v: ArrayData): Any = VectorKernels.pqLut(v, books.value)
  override protected def call(ctx: CodegenContext, v: String): String =
    s"graft.expressions.VectorKernels.pqLut($v, ${table(ctx, "books", books, "double[][][]")})"
  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** `(array<double> lut, array<int> codes) → double`: [[VectorKernels.pqAdc]]. */
case class PqAdcExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<int>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"
  override def nullSafeEval(lut: Any, codes: Any): Any =
    VectorKernels.pqAdc(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, c) => s"graft.expressions.VectorKernels.pqAdc($l, $c)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

object VectorKernelExprs {
  /** Column-API entry points (the ANN and embedding-dedup operators). */
  def l2Normalize(v: Column): Column =
    Bridge.column(L2NormalizeExpr(Bridge.expression(v)))
  def signBits(v: Column, planes: Broadcast[Array[Array[Double]]]): Column =
    Bridge.column(SignBitsExpr(Bridge.expression(v), planes))
  def nearestCells(v: Column, cents: Broadcast[Array[Array[Double]]], n: Int): Column =
    Bridge.column(NearestCellsExpr(Bridge.expression(v), cents, n))
  def pqEncode(v: Column, books: Broadcast[Array[Array[Array[Double]]]]): Column =
    Bridge.column(PqEncodeExpr(Bridge.expression(v), books))
  def pqLut(v: Column, books: Broadcast[Array[Array[Array[Double]]]]): Column =
    Bridge.column(PqLutExpr(Bridge.expression(v), books))
  def pqAdc(lut: Column, codes: Column): Column =
    Bridge.column(PqAdcExpr(Bridge.expression(lut), Bridge.expression(codes)))
}
