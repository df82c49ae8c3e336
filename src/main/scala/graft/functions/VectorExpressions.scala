package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst kernels for the vector operators.
  *
  * Spark's higher-order functions (`aggregate`/`transform` lambdas)
  * are interpreted per element — fine for correctness, ~1µs/element.
  * A 100 TB embedding scan cannot pay that; these expressions run the
  * same arithmetic as tight JVM loops inside whole-stage codegen
  * (~1ns/element), with IDENTICAL evaluation order and IEEE
  * semantics, so oracle replays (VectorFunctions.Sql) are unchanged.
  */
object VecKernels {
  /** Sequential left-to-right dot product — same fold order as
    * `aggregate(zip_with(a,b,*), 0.0, +)` and the oracle's
    * list_reduce. A dimension mismatch is data corruption (a
    * malformed embedding row): fail loudly rather than silently
    * truncating to the shorter array (the HOF/oracle forms would
    * yield NULL there — either way the row must not be scored). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"graft_vec_dot: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Deterministic avalanche mix → [-1000, 1000]: two rounds of
    * multiply-mod-prime + xor-shift. The xor-shifts are the essential
    * nonlinearity — purely linear mixes (k·B mod M, LCG rounds)
    * produce near-parallel hyperplanes whose LSH bits correlate and
    * whose buckets collapse at scale (caught by
    * graft.tools.ScaleStress: 2.4e9 candidate pairs at 200k vectors
    * before this fix, ~1e6 after). Oracle SQL replays it via
    * [[VectorFunctions.Sql.mix]]. */
  def mix2001(x: Long): Long = {
    val h1 = (x + 1L) * 48271L % 2147483647L
    val h2 = h1 ^ (h1 >> 13)
    val h3 = h2 * 48271L % 2147483647L
    val h4 = h3 ^ (h3 >> 7)
    h4 % 2001L - 1000L
  }

  /** Upper bound on hyperplanes: 16 tables × 16 bits — enough for
    * adaptive band widths ([[graft.operators.Adaptive.bits]]) up to
    * corpora of ~2^16 · targetBucket vectors per the widest config. */
  val MaxPlanes = 256

  /** Hyperplane matrix w(j,k) = mix2001(j·64+k)/1000. */
  private def plane(j: Int, k: Int): Double =
    mix2001(j * 64L + k).toDouble / 1000.0

  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(MaxPlanes, 64)(plane)

  /** float/int/long/double array → double array — the `vec()` cast
    * without the interpreted per-element `transform` lambda. Null
    * elements stay null (the HOF cast's behavior). `from` is the
    * source element type tag: 0=double (copy), 1=float, 2=int,
    * 3=long. Cast semantics identical to the SQL cast (widening,
    * exact for float/int; long→double rounds like the cast). */
  def toDoubleArray(a: ArrayData, from: Int): ArrayData = {
    val n = a.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull) {
      // fast path (every real embedding row): primitive array, no
      // per-element boxing
      val out = new Array[Double](n)
      var j = 0
      while (j < n) {
        out(j) = from match {
          case 0 => a.getDouble(j)
          case 1 => a.getFloat(j).toDouble
          case 2 => a.getInt(j).toDouble
          case 3 => a.getLong(j).toDouble
        }
        j += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        if (!a.isNullAt(j)) out(j) = from match {
          case 0 => a.getDouble(j)
          case 1 => a.getFloat(j).toDouble
          case 2 => a.getInt(j).toDouble
          case 3 => a.getLong(j).toDouble
        }
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** [[graft.operators.IvfIndex.quantize]]'s arithmetic as one native
    * kernel: safe = ‖v‖ (or 1 for the zero vector), out_i =
    * floor(v_i/safe·1000 + 0.5). Bitwise identical to the HOF form it
    * replaces on finite input — the norm is the SAME [[dot]] fold +
    * sqrt the expression tree used, floor(double)→long→double round-trips
    * exactly for the ±1000-bounded outputs — but evaluated ONCE per
    * row instead of once per ELEMENT (the lambda inlined the norm
    * subtree, so the old form paid 64 norm folds per row, interpreted).
    * Null elements stay null (the lambda's behavior). A NaN quotient
    * stays NaN (`math.floor`, like the oracle's `floor`), where the
    * HOF's floor→long gave 0. */
  def quantizeMil(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val nrm = math.sqrt(dot(v, v))
    val safe = if (nrm == 0.0) 1.0 else nrm
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i))
        out(i) = math.floor(v.getDouble(i) / safe * 1000.0 + 0.5)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sign bits of the first `numPlanes` hyperplane projections, in the
    * same per-plane sequential fold order as the HOF/oracle form. */
  def signBits(v: ArrayData, numPlanes: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Int](numPlanes)
    var j = 0
    while (j < numPlanes) {
      val w = planes(j)
      var acc = 0.0
      var k = 0
      while (k < n && k < 64) { acc += v.getDouble(k) * w(k); k += 1 }
      out(j) = if (acc >= 0) 1 else 0
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** array<float|int|long|double> → array<double> (the `vec()` cast),
  * codegen'd — replaces the interpreted per-element `transform(a,
  * cast)` lambda that every embedding scan evaluated (and that
  * Catalyst then DUPLICATED into pushed-down null filters and nested
  * lambdas: the r18 q59/q70 plans show the full transform chain
  * inlined 3+ times per scan row). */
case class ToDoubleArray(child: Expression) extends UnaryExpression {
  private def fromTag: Int = child.dataType match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(FloatType, _) => 1
    case ArrayType(IntegerType, _) => 2
    case ArrayType(LongType, _) => 3
    case t => throw new IllegalArgumentException(
      s"graft_to_double_array: unsupported input $t")
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType | IntegerType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_to_double_array needs array<float|int|long|double>, got $t")
    }
  override def dataType: DataType = ArrayType(DoubleType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_to_double_array"

  override protected def nullSafeEval(v: Any): Any =
    VecKernels.toDoubleArray(v.asInstanceOf[ArrayData], fromTag)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VecKernels.toDoubleArray($v, $fromTag)")

  override protected def withNewChildInternal(newChild: Expression): ToDoubleArray =
    copy(child = newChild)
}

/** IVF exact-integer quantization floor(v_i/‖v‖·1000 + 0.5) as ONE
  * codegen'd kernel — the HOF form inlined the norm subtree inside
  * the per-element lambda (64 interpreted norm folds per row, twice
  * per row once Catalyst's inferred isnotnull filter duplicated the
  * expression). Arithmetic bitwise identical on finite input
  * ([[VecKernels.quantizeMil]]). */
case class QuantizeMil(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_quantize_mil needs array<double>, got $t")
    }
  override def dataType: DataType = ArrayType(DoubleType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_quantize_mil"

  override protected def nullSafeEval(v: Any): Any =
    VecKernels.quantizeMil(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VecKernels.quantizeMil($v)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeMil =
    copy(child = newChild)
}

/** Int8 scalar quantization (the FAISS "SQ8" codec) — the at-rest
  * compression path for 100 TB ANN: one byte per dimension instead of
  * a float64, 8× less index I/O, with exact integer arithmetic both
  * engines replay bit-for-bit. */
object Sq8Kernels {
  /** codes_i = floor(v_i/‖v‖ · 127 + 0.5) ∈ [-127, 127], one byte per
    * dimension. The norm fold is the same ascending sequential
    * accumulate as [[VecKernels.dot]]/the oracle's list_reduce, so
    * codes are bit-identical across engines. Zero-norm vectors (failed
    * embeddings) divide by 1 — all-zero codes stay all-zero. */
  def encode(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); ss += x * x; i += 1 }
    val nrm = math.sqrt(ss)
    val div = if (nrm == 0.0) 1.0 else nrm
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(v.getDouble(i) / div * 127.0 + 0.5).toByte
      i += 1
    }
    out
  }

  /** Exact integer dot of two code arrays (|value| ≤ 64·127² ≈ 2^20 —
    * nowhere near overflow). Dimension mismatch is data corruption:
    * fail loudly, per the VecKernels convention. */
  def dot(a: Array[Byte], b: Array[Byte]): Long = {
    require(a.length == b.length,
      s"graft_sq8_dot: dimension mismatch (${a.length} vs ${b.length})")
    var acc = 0L
    var i = 0
    while (i < a.length) { acc += a(i).toLong * b(i); i += 1 }
    acc
  }
}

object IvfKernels {
  /** Squared-distance ordering key of vector `v` to cell `j`:
    * csq(j) − 2·dot(v, cent(j)) — the ||v||² term is constant per row
    * and dropped, preserving the argmin. Fold order of the dot is the
    * same ascending-k sequential accumulate as the oracle's
    * list_reduce, so keys are bit-identical across engines. */
  private def key(v: Array[Double], c: Array[Double], csq: Double): Double = {
    var acc = 0.0
    var k = 0
    val n = math.min(v.length, c.length)
    while (k < n) { acc += v(k) * c(k); k += 1 }
    csq - 2.0 * acc
  }

  /** argmin cell (ties → lowest cell id); entries of `cent` may be
    * null (a residue class with no seed) and are skipped — the oracle
    * simply has no row for such cells.
    *
    * The vector is copied to a primitive array ONCE per row: the inner
    * loop runs cells× over it, and ArrayData.getDouble per element
    * (a virtual call + null-bit check against the columnar form) was
    * measured ~20× slower than primitive indexing at 2^11+ cells —
    * the difference between a 30 s and a 10 min training scan at 250k
    * vectors. Fold order (ascending k) is unchanged, so keys stay
    * bit-identical to the oracle. */
  def nearestCell(v: ArrayData, cent: Array[Array[Double]], csq: Array[Double]): Int = {
    val va = v.toDoubleArray()
    var best = Double.PositiveInfinity
    var bestJ = -1
    var j = 0
    while (j < cent.length) {
      if (cent(j) != null) {
        val d = key(va, cent(j), csq(j))
        if (d < best) { best = d; bestJ = j }
      }
      j += 1
    }
    bestJ
  }

  /** Top-`nprobe` cells by the same (key asc, cell asc) order —
    * selection over ≤2^8 cells, strict `<` so ties resolve to the
    * lowest cell, identical to `row_number() OVER (ORDER BY key,
    * cell) <= nprobe`. */
  def probeCells(v: ArrayData, cent: Array[Array[Double]], csq: Array[Double], nprobe: Int): ArrayData = {
    val va = v.toDoubleArray()
    val m = cent.length
    val keys = new Array[Double](m)
    val taken = new Array[Boolean](m)
    var valid = 0
    var j = 0
    while (j < m) {
      if (cent(j) != null) { keys(j) = key(va, cent(j), csq(j)); valid += 1 }
      else taken(j) = true
      j += 1
    }
    val out = new Array[Int](math.min(nprobe, valid))
    var r = 0
    while (r < out.length) {
      var best = Double.PositiveInfinity
      var bestJ = -1
      var i = 0
      while (i < m) {
        if (!taken(i) && keys(i) < best) { best = keys(i); bestJ = i }
        i += 1
      }
      taken(bestJ) = true
      out(r) = bestJ
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** IVF cell assignment: argmin_j (csq_j − 2·v·c_j) over a driver-
  * trained centroid matrix, codegen'd — one tight loop per row, no
  * centroid join, no per-vector window/aggregate, so the corpus-side
  * assignment is SHUFFLE-FREE. */
case class NearestCell(child: Expression, cent: Array[Array[Double]], csq: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_cell"

  override protected def nullSafeEval(v: Any): Any =
    IvfKernels.nearestCell(v.asInstanceOf[ArrayData], cent, csq)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("graftIvfCent", cent, "double[][]")
    val csqRef = ctx.addReferenceObj("graftIvfCsq", csq, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.IvfKernels.nearestCell($v, $centRef, $csqRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** Top-`nprobe` IVF probe cells per query vector, codegen'd (array of
  * cell ids in rank order — explode to fan a query out to its cells). */
case class ProbeCells(child: Expression, cent: Array[Array[Double]], csq: Array[Double], nprobe: Int)
    extends UnaryExpression {
  require(nprobe >= 1, s"graft_probe_cells: nprobe must be >= 1, got $nprobe")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_probe_cells"

  override protected def nullSafeEval(v: Any): Any =
    IvfKernels.probeCells(v.asInstanceOf[ArrayData], cent, csq, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("graftIvfCent", cent, "double[][]")
    val csqRef = ctx.addReferenceObj("graftIvfCsq", csq, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.IvfKernels.probeCells($v, $centRef, $csqRef, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeCells =
    copy(child = newChild)
}

/** dot(array<double>, array<double>) → double, codegen'd. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernels.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Hyperplane sign bits of an array<double> vector, codegen'd. */
case class HyperplaneBits(child: Expression, numPlanes: Int) extends UnaryExpression {
  require(numPlanes >= 1 && numPlanes <= VecKernels.MaxPlanes,
    s"graft_hyperplane_bits: numPlanes must be in [1, ${VecKernels.MaxPlanes}], got $numPlanes")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hyperplane_bits"

  override protected def nullSafeEval(v: Any): Any =
    VecKernels.signBits(v.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VecKernels.signBits($v, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBits =
    copy(child = newChild)
}

/** array<double> → int8 code bytes (SQ8 scalar quantization), codegen'd. */
case class Sq8Encode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sq8_encode"

  override protected def nullSafeEval(v: Any): Any =
    Sq8Kernels.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.Sq8Kernels.encode($v)")

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

/** Exact integer dot of two SQ8 code columns (binary × binary → long),
  * codegen'd. */
case class Sq8Dot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sq8_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sq8Kernels.dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sq8Kernels.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8Dot =
    copy(left = l, right = r)
}

object VectorExpressions {
  def sq8Encode(v: Column): Column =
    ColumnBridge.column(Sq8Encode(ColumnBridge.expression(v)))

  def sq8Dot(a: Column, b: Column): Column =
    ColumnBridge.column(Sq8Dot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def hyperplaneBits(v: Column, numPlanes: Int): Column =
    ColumnBridge.column(HyperplaneBits(ColumnBridge.expression(v), numPlanes))

  def nearestCell(v: Column, cent: Array[Array[Double]], csq: Array[Double]): Column =
    ColumnBridge.column(NearestCell(ColumnBridge.expression(v), cent, csq))

  def probeCells(v: Column, cent: Array[Array[Double]], csq: Array[Double], nprobe: Int): Column =
    ColumnBridge.column(ProbeCells(ColumnBridge.expression(v), cent, csq, nprobe))

  def toDoubleArray(a: Column): Column =
    ColumnBridge.column(ToDoubleArray(ColumnBridge.expression(a)))

  def quantizeMil(v: Column): Column =
    ColumnBridge.column(QuantizeMil(ColumnBridge.expression(v)))
}
