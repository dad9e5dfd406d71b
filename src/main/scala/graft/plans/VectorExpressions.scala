package graft.plans

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, EqualTo, Expression,
  Literal, TypeOf, UnaryExpression, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native vector kernels over array<float|double> columns (SURVEY.md
  * §4): one tight loop per row, accumulating in double precision in
  * element order, so each equals its HOF formulation in
  * [[graft.functions.VectorFunctions]] bit for bit while skipping the
  * per-element interpreted lambdas. `float` flags say whether an
  * input's elements are float or double; each element read tests its
  * own input's flag in place, so each read site keeps its own branch
  * profile. `cosines` and `hyperplaneBits` are called through
  * `StaticInvoke` ([[VectorColumns]]); the others are the interpreted
  * eval of the classes below.
  */
object VectorKernels {

  /** Cosine similarity over the common prefix: dot product and both
    * norms in one pass — numerically identical to the three sequential
    * HOF folds of [[graft.functions.VectorFunctions.cosine]] (and to
    * DuckDB's list_cosine_similarity on DOUBLE[]). */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** [[cosine]] of `v` against each array<double> of `cents`, in order —
    * the IVF cell scores of one vector. */
  def cosines(v: ArrayData, cents: ArrayData, vFloat: Boolean): ArrayData = {
    val out = new Array[Double](cents.numElements())
    var c = 0
    while (c < out.length) {
      out(c) = cosine(v, cents.getArray(c), vFloat, bFloat = false)
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Symmetric int8 quantization — floor(x · (127/max|x|) + 0.5),
    * zero/empty vectors → zeros, as the HOF formulation in
    * [[graft.functions.VectorFunctions.int8Quantize]], but two passes
    * per row instead of the HOF's per-ELEMENT re-evaluation of the
    * max|x| subexpression (O(d²) interpreted work per row). */
  def int8Quantize(v: ArrayData, float: Boolean): ArrayData = {
    val n = v.numElements()
    var ma = 0.0
    var i = 0
    while (i < n) {
      val ax = math.abs(if (float) v.getFloat(i).toDouble else v.getDouble(i))
      if (ax > ma) ma = ax
      i += 1
    }
    val out = new Array[Long](n)
    if (ma > 0) {
      val scale = 127.0 / ma
      i = 0
      while (i < n) {
        val x = if (float) v.getFloat(i).toDouble else v.getDouble(i)
        out(i) = math.floor(x * scale + 0.5).toLong
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Exact integer dot product over two array<long>, in element order —
    * the scoring kernel of the int8 ANN recall stage. Null on a length
    * mismatch: the zip_with+aggregate HOF this replaces null-pads
    * mismatched arrays to a NULL score, and silently truncating would
    * turn a dimension bug into a plausible-but-wrong number. */
  def dotLong(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Random-hyperplane signature: bit p = sign of dot(v, plane p), all
    * planes in one pass over the vector (the HOF form pays an
    * interpreted zip_with+aggregate PER PLANE). */
  def hyperplaneBits(v: ArrayData, planes: Array[Array[Double]], float: Boolean): ArrayData = {
    val out = new Array[Int](planes.length)
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val d = math.min(v.numElements(), plane.length)
      var dot = 0.0
      var i = 0
      while (i < d) {
        dot += (if (float) v.getFloat(i).toDouble else v.getDouble(i)) * plane(i)
        i += 1
      }
      out(p) = if (dot >= 0) 1 else 0
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** [[VectorKernels.cosine]] as an expression. Its generated code keeps
  * its own copy of the loop, with the element types fixed per query: a
  * `StaticInvoke` of the kernel shares one JIT profile between every
  * query in the JVM, and the cosine-scored dedup queries ran 1.15-1.2×
  * slower in `graft.Bench` once other vector queries had run first. The
  * interpreted path calls the kernel.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = VectorKernels.cosine(
    l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def get(arr: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${get(a, isFloat(left))};
         |  double $y = ${get(b, isFloat(right))};
         |  $dot += $x * $y;
         |  $na += $x * $x;
         |  $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[VectorKernels.int8Quantize]] as an expression; its generated code
  * keeps a per-query copy of the loop, as [[CosineSim]]'s does. */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    VectorKernels.int8Quantize(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ma = ctx.freshName("ma")
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      val scale = ctx.freshName("scale")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $ma = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = java.lang.Math.abs($get);
         |  if ($x > $ma) $ma = $x;
         |}
         |long[] $out = new long[$n];
         |if ($ma > 0) {
         |  double $scale = 127.0 / $ma;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (long) java.lang.Math.floor($get * $scale + 0.5);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[VectorKernels.dotLong]] as an expression; its generated code keeps
  * a per-query copy of the loop, as [[CosineSim]]'s does. */
case class DotLong(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dotLong(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorColumns {

  /** Whether `v`'s elements are float: a type test the optimizer folds
    * to a literal boolean, since `v`'s type is only known once resolved. */
  private def isFloat(v: Column): Expression =
    EqualTo(TypeOf(GraftShim.expression(v)), Literal("array<float>"))

  def cosine(a: Column, b: Column): Column =
    GraftShim.column(CosineSim(GraftShim.expression(a), GraftShim.expression(b)))

  /** The cosine of `v` against each centroid of `cents` (an
    * array<array<double>>, e.g. [[matrix]]), as an array<double>. */
  def cosines(v: Column, cents: Column): Column =
    KernelCall.column("cosines", VectorKernels, "cosines",
      ArrayType(DoubleType, containsNull = false), Seq(v, cents), Seq(isFloat(v)))

  /** `rows` as an array<array<double>> literal, built once in the
    * binary row format: the kernels then read it as they read a row's
    * vectors, where `typedlit` would hand them boxed values. */
  def matrix(rows: Array[Array[Double]]): Column = {
    val t = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
    val boxed = new GenericArrayData(rows.map(r => UnsafeArrayData.fromPrimitiveArray(r): Any))
    GraftShim.column(Literal(UnsafeProjection.create(Array[DataType](t))
      .apply(InternalRow(boxed)).getArray(0).copy(), t))
  }

  /** The plane matrix rides the call as an object argument, so it never
    * enters the plan as data or the generated source. */
  def hyperplaneBits(v: Column, planes: Array[Array[Double]]): Column =
    KernelCall.column("hyperplanebits", VectorKernels, "hyperplaneBits",
      ArrayType(IntegerType, containsNull = false), Seq(v),
      Seq(KernelCall.payload(planes), isFloat(v)))

  def int8Quantize(v: Column): Column =
    GraftShim.column(Int8Quantize(GraftShim.expression(v)))

  def dotLong(a: Column, b: Column): Column =
    GraftShim.column(DotLong(GraftShim.expression(a), GraftShim.expression(b)))
}
