package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, NumericType}

/** Deterministic-aggregation helpers.
  *
  * Double summation is order-dependent, and the DuckDB oracle sums in
  * a different order than Spark's parallel partial aggregates. Any
  * money-like sum therefore goes through fixed-point: round each term
  * to cents as int64 (per-row double ops are IEEE-identical across
  * engines), sum exactly in int64, divide once at the end. Results are
  * bit-identical regardless of partitioning — which also means the
  * same query gives the same hash on a 1000-executor cluster as on
  * local[32].
  *
  * Per-row cents are [[cents]], one native kernel equal to
  * `round(x * 100).cast("long")`. Spark's `round` on a double is
  * `BigDecimal.valueOf(d).setScale(0, HALF_UP)`: a `Double.toString`
  * and a BigDecimal per row. For a finite `d = x * 100` with
  * `|d| < 2^52` the kernel returns `sign(d) * Math.round(|d|)`
  * instead, which is the same number: every `k + 0.5` below 2^52 is
  * itself a double, and `Double.toString(d)` parses back to `d`, so
  * no half-point lies between `d` and its decimal string and HALF_UP
  * of the string equals half-away-from-zero of `d`. Two cases take
  * the reference expression itself, so values, NULLs and ANSI errors
  * stay Spark's: a double that is NaN, ±Inf or `|d| ≥ 2^52`, and a
  * non-double `x * 100` (decimal, integral).
  */
object Det {
  /** `round(c * 100).cast("long")`, the cents of a money-like value. */
  def cents(c: Column): Column =
    ColumnBridge.column(Cents(ColumnBridge.expression(c * lit(100))))

  /** Exact fixed-point sum of a money-like double column (2 decimals). */
  def moneySum(c: Column): Column =
    sum(cents(c)) / lit(100.0)

  /** Exact fixed-point average (sum exact, one division at the end).
    * NULLs are skipped, as in SQL `AVG`. */
  def moneyAvg(c: Column): Column =
    moneySum(c) / count(c)

  /** DuckDB SQL fragment equivalent to [[moneySum]]. */
  def moneySumSql(expr: String): String =
    s"sum(cast(round(($expr) * 100) as bigint)) / 100.0"

  def moneyAvgSql(expr: String): String =
    s"(${moneySumSql(expr)}) / count($expr)"
}

/** `round(child).cast("long")` under the session's eval mode at
  * construction, with the double fast path described on [[Det]].
  * `child` is the value already scaled to cents (`x * 100`). */
case class Cents(child: Expression, evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = reference.nullable
  override def prettyName: String = "graft_cents"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_cents needs a numeric value, got $other")
  }

  @transient private lazy val onDouble: Boolean = child.dataType == DoubleType
  @transient private lazy val reference: Expression = Cents.reference(child, evalMode)
  /** The reference over one non-null double: the fast path's fallback. */
  @transient private lazy val doubleReference: Expression =
    Cents.reference(BoundReference(0, DoubleType, nullable = false), evalMode)

  def viaReference(d: Double): Long =
    doubleReference.eval(InternalRow(d)).asInstanceOf[Long]

  override def eval(input: InternalRow): Any =
    if (onDouble) super.eval(input) else reference.eval(input)

  override protected def nullSafeEval(v: Any): Any = {
    val d = v.asInstanceOf[Double]
    if (math.abs(d) < Cents.Exact) Cents.halfUp(d) else viaReference(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!onDouble) reference.genCode(ctx)
    else {
      val self = ctx.addReferenceObj("graftCents", this)
      nullSafeCodeGen(ctx, ev, d =>
        s"""${ev.value} = java.lang.Math.abs($d) < ${Cents.Exact}D
           |  ? graft.functions.Cents.halfUp($d) : $self.viaReference($d);""".stripMargin)
    }

  override protected def withNewChildInternal(newChild: Expression): Cents =
    copy(child = newChild)
}

object Cents {
  /** 2^52: below it every `k + 0.5` is a double. */
  val Exact: Double = 4503599627370496.0

  /** Half away from zero, exact for `|d| < 2^52`. */
  def halfUp(d: Double): Long =
    if (d < 0) -math.round(-d) else math.round(d)

  private def reference(e: Expression, mode: EvalMode.Value): Expression =
    Cast(Round(e, Literal(0), mode == EvalMode.ANSI), LongType, None, mode)
}
