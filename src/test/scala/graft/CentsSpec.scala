package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Cents, Det}

/** Differential spec for the [[Det.cents]] kernel against the
  * expression it replaces, `round(x * 100).cast("long")`: equal values
  * and null mask on generated input biased to where a shortcut could
  * go wrong (exact halves and their neighbours, -0.0, subnormals, the
  * 2^52 edge, NaN/±Inf, decimal(12,2) and bigint inputs), under
  * whole-stage codegen and under interpreted evaluation, with ANSI on
  * and off. Where the reference throws, the kernel throws the same
  * error class. Seeded scalacheck, as in [[PropertySpec]].
  */
class CentsSpec extends AnyFunSuite {
  import TestSpark._

  private def checkProp(prop: Prop, cases: Int): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(20261019L))
    val res = SCTest.check(params, prop)
    // a failing case is a 400-row batch: report its labels, not the rows
    assert(res.passed, res.status match {
      case SCTest.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
  }

  private def reference(x: Column): Column = round(x * 100).cast("long")

  /** The kernel straight on an already-scaled value `d`, next to its
    * own reference `round(d).cast("long")`. */
  private def centsOfScaled(d: Column): Column =
    ColumnBridge.column(Cents(ColumnBridge.expression(d)))

  // ---- generators ----

  private val TwoP52 = 4503599627370496.0
  private val TwoP63 = 9223372036854775808.0

  private def ulps(d: Double, n: Int): Double =
    Iterator.iterate(d)(if (n >= 0) math.nextUp else math.nextDown).drop(math.abs(n)).next()

  private val genSign = Gen.oneOf(1.0, -1.0)
  private val genUlps = Gen.choose(-2, 2)
  private val genK: Gen[Long] = Gen.frequency(
    8 -> Gen.choose(0, 13).flatMap(e => Gen.choose(0L, math.pow(10, e).toLong)),
    1 -> Gen.choose(TwoP52.toLong - 1000, TwoP52.toLong + 1000))

  /** -0.0, +0.0 and subnormals of both signs. */
  private val genTiny: Gen[Double] = Gen.oneOf(
    Gen.const(-0.0), Gen.const(0.0), Gen.const(Double.MinPositiveValue),
    for { s <- genSign; bits <- Gen.choose(1L, (1L << 52) - 1) }
      yield s * java.lang.Double.longBitsToDouble(bits))

  /** Values past which the reference may throw under ANSI; each is also
    * checked on its own in [[checkExtremes]]. */
  private def extremes(top: Double): Seq[Double] =
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MaxValue, -Double.MaxValue) ++
      (for (s <- Seq(1.0, -1.0); u <- -1 to 1) yield s * ulps(top, u))
  private val extremeX = extremes(TwoP63 / 100)
  private val extremeD = extremes(TwoP63)
  private val extremeB = Seq(Long.MaxValue, Long.MinValue, Long.MaxValue / 100 + 1, Long.MinValue / 100 - 1)

  /** x with `x * 100` on or next to a half, money-like x, x next to
    * ±2^52 / 100, tiny x, the extremes, and plain wide values. */
  private val genX: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    3 -> (for { k <- genK; s <- genSign; u <- genUlps } yield s * ulps((k + 0.5) / 100, u)).map(Some(_)),
    3 -> (for { k <- genK; s <- genSign; u <- genUlps } yield s * ulps(k / 100.0, u)).map(Some(_)),
    1 -> (for { s <- genSign; u <- Gen.choose(-3, 3) } yield s * ulps(TwoP52 / 100, u)).map(Some(_)),
    1 -> genTiny.map(Some(_)),
    1 -> Gen.oneOf(extremeX).map(Some(_)),
    1 -> Gen.choose(-1e15, 1e15).map(Some(_)))

  /** d = an already-scaled value: exact halves `k + 0.5` (both signs)
    * and their ulp neighbours, the 2^52 edge, tiny d and the extremes. */
  private val genD: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    6 -> (for { k <- genK; s <- genSign; u <- genUlps } yield s * ulps(k + 0.5, u)).map(Some(_)),
    1 -> (for { s <- genSign; u <- Gen.choose(-3, 3) } yield s * ulps(TwoP52, u)).map(Some(_)),
    1 -> genTiny.map(Some(_)),
    1 -> Gen.oneOf(extremeD).map(Some(_)))

  private val genM: Gen[Option[java.math.BigDecimal]] = Gen.frequency(
    1 -> Gen.const(None),
    6 -> Gen.choose(-999999999999L, 999999999999L).map(u => Some(java.math.BigDecimal.valueOf(u, 2))))

  private val genB: Gen[Option[Long]] = Gen.frequency(
    1 -> Gen.const(None),
    3 -> Gen.choose(-1000000L, 1000000L).map(Some(_)),
    3 -> Gen.choose(Long.MinValue / 100, Long.MaxValue / 100).map(Some(_)),
    1 -> Gen.oneOf(extremeB).map(Some(_)))

  private case class In(x: Option[Double], d: Option[Double],
      m: Option[java.math.BigDecimal], b: Option[Long])

  private val genBatch: Gen[Seq[In]] =
    Gen.listOfN(400, for { x <- genX; d <- genD; m <- genM; b <- genB } yield In(x, d, m, b))

  // ---- evaluation ----

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("x", DoubleType),
    StructField("d", DoubleType), StructField("m", DecimalType(12, 2)),
    StructField("b", LongType)))

  /** An RDD-backed frame: the optimizer would evaluate a projection
    * over a local relation itself, and neither mode would run. */
  private def frame(in: Seq[In]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(in.zipWithIndex.map { case (r, i) =>
      Row(i.toLong, r.x.orNull, r.d.orNull, r.m.orNull, r.b.orNull)
    }, 3), schema)

  /** (column, reference, kernel), built under the mode being tested:
    * both capture the session's ANSI setting when they are built. */
  private def pairs: Seq[(String, Column, Column)] = Seq(
    ("x", reference(col("x")), Det.cents(col("x"))),
    ("d", round(col("d")).cast("long"), centsOfScaled(col("d"))),
    ("m", reference(col("m")), Det.cents(col("m"))),
    ("b", reference(col("b")), Det.cents(col("b"))))

  private def mismatches(in: Seq[In], codegen: Boolean): Seq[String] = {
    val ps = pairs
    val q = frame(in).select(col("id") +: ps.flatMap { case (n, r, k) =>
      Seq(r.as(s"r_$n"), k.as(s"k_$n")) }: _*)
    val wholeStage = q.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec])
    assert(wholeStage.isDefined == codegen, q.queryExecution.executedPlan.toString)
    val out = q.collect()
    assert(out.length == in.length)
    for {
      o <- out.toSeq
      ((n, _, _), i) <- ps.zipWithIndex
      (r, k) = (o.get(1 + 2 * i), o.get(2 + 2 * i))
      if r != k
    } yield s"$n=${in(o.getLong(0).toInt).productElement(i)}: reference $r, kernel $k"
  }

  /** The error class of a failed job: the innermost SparkThrowable's. */
  private def errorClass(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.collect {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.lastOption.getOrElse(e.getClass.getName)

  private def outcome(df: DataFrame, c: Column): Either[String, Any] =
    try Right(df.select(c).head.get(0))
    catch { case e: Exception => Left(errorClass(e)) }

  /** Each extreme on its own: an ANSI error in one row fails the whole
    * job, so these cannot share a batch. Returns the error classes seen. */
  private def checkExtremes(): Set[String] = {
    val rows = extremeX.map(v => In(Some(v), None, None, None)) ++
      extremeD.map(v => In(None, Some(v), None, None)) ++
      extremeB.map(v => In(None, None, None, Some(v)))
    rows.flatMap { r =>
      val df = frame(Seq(r))
      val (n, ref, ker) = pairs(Seq(r.x, r.d, r.m, r.b).indexWhere(_.isDefined))
      val (a, b) = (outcome(df, ref), outcome(df, ker))
      assert(a == b, s"$n = $r: reference $a, kernel $b")
      a.left.toOption
    }.toSet
  }

  private def withoutExtremes(r: In): In = In(
    r.x.filterNot(v => v.isNaN || math.abs(v) >= 9e16),
    r.d.filterNot(v => v.isNaN || math.abs(v) >= 9e18),
    r.m,
    r.b.filterNot(v => v > Long.MaxValue / 100 || v < Long.MinValue / 100))

  private def inMode[T](codegen: Boolean, ansi: Boolean)(f: => T): T = {
    val set = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.ansi.enabled" -> ansi.toString)
    val saved = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (codegen <- Seq(true, false); ansi <- Seq(false, true)) {
    val mode = s"${if (codegen) "whole-stage codegen" else "interpreted"}, ANSI ${if (ansi) "on" else "off"}"
    test(s"Det.cents equals round(x * 100).cast(long) in value and null mask ($mode)") {
      inMode(codegen, ansi) {
        // under ANSI the extremes that may throw are taken out of the
        // batch and checked one row at a time below
        checkProp(Prop.forAllNoShrink(genBatch) { in =>
          val bad = mismatches(if (ansi) in.map(withoutExtremes) else in, codegen)
          bad.isEmpty :| bad.take(5).mkString("; ")
        }, cases = 3)
        val errors = checkExtremes()
        if (ansi) assert(errors == Set("CAST_OVERFLOW", "ARITHMETIC_OVERFLOW"), errors)
        else assert(errors.isEmpty, errors)
      }
    }
  }

  test("moneyAvg skips NULLs like AVG, and moneyAvgSql divides by count(expr)") {
    import spark.implicits._
    val df = Seq(("a", Some(1.10)), ("a", None), ("a", Some(2.20)), ("b", None)).toDF("g", "v")
    val viaCol = df.groupBy($"g").agg(Det.moneyAvg($"v").as("avg")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(viaCol == Map("a" -> Some(1.65), "b" -> None))
    df.createOrReplaceTempView("money_avg_rows")
    val viaSql = spark.sql(
      s"SELECT g, CAST(${Det.moneyAvgSql("v")} AS DOUBLE) AS avg FROM money_avg_rows GROUP BY g")
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(viaSql == viaCol)
  }
}
