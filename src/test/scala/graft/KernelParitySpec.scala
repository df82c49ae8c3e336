package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CountIn, TextFunctions, VectorFunctions}
import graft.operators.IvfIndex

/** The higher-order-function (HOF) forms that the native kernels
  * replaced, kept as their references. Spark evaluates their lambdas
  * interpreted, per element. */
object HofReference {

  /** `TextFunctions.tokens` before [[graft.functions.Tokens]]. */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** `TextFunctions.tokensIn` before [[graft.functions.CountIn]]. */
  def tokensIn(text: Column, set: Seq[String]): Column =
    size(filter(tokens(text), w => w.isInCollection(set)))

  /** [[CountIn]] on its own: the count over an array<string>. */
  def countIn(arr: Column, set: Seq[String]): Column =
    size(filter(arr, w => w.isInCollection(set)))

  /** `VectorFunctions.vec` before [[graft.functions.ToDoubleArray]]. */
  def vec(a: Column): Column = transform(a, x => x.cast("double"))

  /** `IvfIndex.quantize` before [[graft.functions.QuantizeMil]]. */
  def quantize(v: Column): Column = {
    val nrm = VectorFunctions.norm(v)
    val safe = when(nrm === 0.0, lit(1.0)).otherwise(nrm)
    transform(v, x => floor(x / safe * lit(1000.0) + lit(0.5)).cast("double"))
  }

  /** The documented reference of [[graft.functions.VecDot]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
}

/** Differential spec for the native kernels `Tokens`, `CountIn`,
  * `ToDoubleArray`, `QuantizeMil` and `VecDot` against their
  * [[HofReference]] forms: equal values (doubles bit for bit) and null
  * mask on generated input, under whole-stage codegen and under
  * interpreted evaluation. Seeded scalacheck, as in [[PropertySpec]].
  *
  * Known differences, pinned here rather than hidden:
  *  - `QuantizeMil` on a vector with a NaN or ±Inf component gives NaN
  *    (`math.floor` keeps NaN, as DuckDB's `floor` in the oracle does);
  *    the reference's `floor` returns bigint 0 for NaN, so it gives 0.0;
  *  - `VecDot` reads a null element as the 0.0 Spark's array writers
  *    store in its slot; the reference gives NULL;
  *  - `VecDot` throws on a length mismatch; the reference gives NULL;
  *  - `Tokens` declares containsNull=true (no element is ever null),
  *    the reference containsNull=false;
  *  - with ANSI off, `size(NULL)` is -1, so the reference tokensIn of a
  *    NULL text is -1 where the kernel gives NULL.
  */
class KernelParitySpec extends AnyFunSuite {
  import TestSpark._

  private def checkProp(prop: Prop, cases: Int): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(20261020L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status match {
      case SCTest.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
  }

  // ---- generators ----

  private val words = Seq("the", "a", "und", "le", "über", "naïve", "日本語", "😀", "𝄞x",
    "tab\tin", "new\nline", "-", "x")
  private val seps = Seq(" ", " ", " ", "  ", "   ", " \t ", " \n ")
  private val edges = Seq("", " ", "  ", "\t", "\n")

  /** NULL, empty, whitespace-only, and words with leading, trailing and
    * repeated spaces; tabs and newlines, which are not split. */
  private val genText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    1 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(" ", "\t", "\n"))).map(s => Some(s.mkString)),
    8 -> (for {
      n <- Gen.choose(1, 30)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
      ss <- Gen.listOfN(n - 1, Gen.oneOf(seps))
      lead <- Gen.oneOf(edges)
      trail <- Gen.oneOf(edges)
    } yield Some(lead + ws.head + ss.zip(ws.tail).map { case (s, w) => s + w }.mkString + trail)))

  /** Marker sets; the first holds "", the last is empty. */
  private val genSets: Gen[Seq[Seq[String]]] = for {
    a <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf(words)))
    b <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.oneOf(words ++ Seq("tab", "in", "new", "line"))))
  } yield Seq("" +: a, b, Seq.empty)

  private val genDim: Gen[Int] = Gen.frequency(
    6 -> Gen.choose(1, 8), 3 -> Gen.choose(9, 128), 1 -> Gen.choose(129, 1024), 1 -> Gen.const(0))

  /** NULL, or an array of `genDim` elements: plain, with NULL elements,
    * all zero, or with a few `special` elements. */
  private def genArr[T](elem: Gen[T], zero: T, special: Seq[T]): Gen[Option[Seq[Option[T]]]] =
    Gen.frequency(1 -> Gen.const(None), 9 -> (for {
      n <- genDim
      xs <- Gen.listOfN(n, elem)
      kind <- Gen.frequency(5 -> 0, 2 -> 1, 1 -> 2, 2 -> 3)
      nulls <- Gen.listOfN(n, Gen.frequency(1 -> true, 3 -> false))
      sp <- Gen.listOfN(3, Gen.zip(Gen.choose(0, math.max(0, n - 1)), Gen.oneOf(special)))
    } yield Some(kind match {
      case 0 => xs.map(Some(_))
      case 1 => xs.zip(nulls).map { case (x, isNull) => if (isNull) None else Some(x) }
      case 2 => xs.map(_ => Some(zero))
      case _ => sp.foldLeft(xs.toVector) { case (v, (i, s)) => if (v.isEmpty) v else v.updated(i, s) }.map(Some(_))
    })))

  private val genFloat: Gen[Float] = Gen.frequency(
    6 -> Gen.choose(-1000f, 1000f), 1 -> Gen.oneOf(-0f, Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue))
  private val genInt: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(-1000, 1000), 2 -> Gen.choose(Int.MinValue, Int.MaxValue))
  private val TwoP53 = 1L << 53
  /** Longs above 2^53 round in the cast to double. */
  private val genLong: Gen[Long] = Gen.frequency(
    2 -> Gen.choose(-1000000L, 1000000L),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue),
    2 -> (for { d <- Gen.choose(-3L, 3L); s <- Gen.oneOf(1L, -1L); k <- Gen.choose(0, 9) } yield s * ((TwoP53 << k) + d)))
  /** Finite doubles only: NaN and ±Inf come in as `special` elements. */
  private val genDouble: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-1000.0, 1000.0),
    1 -> Gen.oneOf(-0.0, Double.MinPositiveValue, 1e-300, -1e-300),
    1 -> Gen.oneOf(1e200, -1e200, Double.MaxValue))
  private val nonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  /** Two equal-length double arrays for the dot product; NULL elements
    * in a fifth of them. */
  private val genPair: Gen[(Seq[Option[Double]], Seq[Option[Double]])] = for {
    n <- genDim
    a <- Gen.listOfN(n, genDouble)
    b <- Gen.listOfN(n, genDouble)
    withNulls <- Gen.frequency(4 -> false, 1 -> true)
    na <- Gen.listOfN(n, Gen.frequency(1 -> true, 5 -> false))
    nb <- Gen.listOfN(n, Gen.frequency(1 -> true, 5 -> false))
  } yield {
    def mask(xs: Seq[Double], m: Seq[Boolean]) =
      xs.zip(m).map { case (x, isNull) => if (withNulls && isNull) None else Some(x) }
    (mask(a, na), mask(b, nb))
  }

  private case class In(text: Option[String], toks: Option[Seq[Option[String]]],
      f: Option[Seq[Option[Float]]], i: Option[Seq[Option[Int]]], l: Option[Seq[Option[Long]]],
      d: Option[Seq[Option[Double]]], a: Seq[Option[Double]], b: Seq[Option[Double]])

  private val genRow: Gen[In] = for {
    text <- genText
    toks <- genArr(Gen.oneOf(words), "", Seq("", " "))
    f <- genArr(genFloat, 0f, Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity))
    i <- genArr(genInt, 0, Seq(Int.MinValue, Int.MaxValue))
    l <- genArr(genLong, 0L, Seq(Long.MinValue, Long.MaxValue, TwoP53 + 1))
    d <- genArr(genDouble, 0.0, nonFinite)
    (a, b) <- genPair
  } yield In(text, toks, f, i, l, d, a, b)

  private val genBatch: Gen[(Seq[Seq[String]], Seq[In])] = for {
    sets <- genSets
    rows <- Gen.listOfN(150, genRow)
  } yield (sets, rows)

  // ---- evaluation ----

  private def arr(t: DataType) = ArrayType(t, containsNull = true)
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType),
    StructField("toks", arr(StringType)), StructField("f", arr(FloatType)),
    StructField("i", arr(IntegerType)), StructField("l", arr(LongType)),
    StructField("d", arr(DoubleType)), StructField("a", arr(DoubleType)),
    StructField("b", arr(DoubleType))))

  private def seqOrNull[T](o: Option[Seq[Option[T]]]): Any = o.map(_.map(_.getOrElse(null))).orNull

  /** An RDD-backed frame: the optimizer would evaluate a projection
    * over a local relation itself, and neither mode would run. */
  private def frame(in: Seq[In]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(in.zipWithIndex.map { case (r, n) =>
      Row(n.toLong, r.text.orNull, seqOrNull(r.toks), seqOrNull(r.f), seqOrNull(r.i),
        seqOrNull(r.l), seqOrNull(r.d), r.a.map(_.getOrElse(null)), r.b.map(_.getOrElse(null)))
    }, 3), schema)

  /** A collected value with doubles as their bits, so NaN equals NaN
    * and -0.0 differs from 0.0. */
  private def canon(v: Any): Any = v match {
    case null => null
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case s: scala.collection.Seq[_] => s.toVector.map(canon)
    case o => o
  }

  private def nonFiniteRow(v: Option[Seq[Option[Double]]]): Boolean =
    v.exists(_.exists(_.exists(x => x.isNaN || x.isInfinite)))

  /** (name, reference, kernel, how the kernel relates to the reference
    * for one row: None = equal, Some(f) = `f(reference)` is the pinned
    * kernel value). */
  private type Pin = (In, Any) => Any
  private def pairs(sets: Seq[Seq[String]]): Seq[(String, Column, Column, Option[(In => Boolean, Pin)])] =
    Seq(
      ("tokens", HofReference.tokens(col("text")), TextFunctions.tokens(col("text")), None),
      ("vec(f)", HofReference.vec(col("f")), VectorFunctions.vec(col("f")), None),
      ("vec(i)", HofReference.vec(col("i")), VectorFunctions.vec(col("i")), None),
      ("vec(l)", HofReference.vec(col("l")), VectorFunctions.vec(col("l")), None),
      ("vec(d)", HofReference.vec(col("d")), VectorFunctions.vec(col("d")), None),
      ("quantize(d)", HofReference.quantize(col("d")), IvfIndex.quantize(col("d")),
        Some(((r: In) => nonFiniteRow(r.d), quantizeNonFinite _))),
      ("dot(a,b)", HofReference.dot(col("a"), col("b")), VectorFunctions.dot(col("a"), col("b")),
        Some(((r: In) => (r.a ++ r.b).contains(None), dotWithNulls _)))
    ) ++ sets.zipWithIndex.flatMap { case (s, k) => Seq(
      (s"tokensIn(text, set$k)", HofReference.tokensIn(col("text"), s), TextFunctions.tokensIn(col("text"), s), None),
      (s"countIn(toks, set$k)", HofReference.countIn(col("toks"), s), CountIn.countIn(col("toks"), s), None))
    }

  /** QuantizeMil on a row with NaN or ±Inf: where the kernel's
    * quotient is NaN (every element when a NaN is present, else the
    * ±Inf ones, Inf/Inf) the reference reads 0.0 and the kernel NaN. */
  private def quantizeNonFinite(r: In, ref: Any): Any = {
    val hasNaN = r.d.exists(_.exists(_.exists(_.isNaN)))
    r.d.get.zip(ref.asInstanceOf[scala.collection.Seq[Any]]).map {
      case (None, _) => null
      case (Some(x), rv) => if ((hasNaN || x.isInfinite) && rv == 0.0) Double.NaN else rv
    }
  }

  /** VecDot with a NULL element: the reference is NULL; the kernel sums
    * over the stored 0.0 in the NULL slots, in the same order. */
  private def dotWithNulls(r: In, ref: Any): Any = {
    assert(ref == null, s"reference dot with a NULL element: $ref")
    r.a.zip(r.b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.getOrElse(0.0) * y.getOrElse(0.0) }
  }

  private def mismatches(sets: Seq[Seq[String]], in: Seq[In], codegen: Boolean): Seq[String] = {
    val ps = pairs(sets)
    val q = frame(in).select(col("id") +: ps.flatMap { case (n, r, k, _) =>
      Seq(r.as(s"r_$n"), k.as(s"k_$n")) }: _*)
    val wholeStage = q.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec])
    assert(wholeStage.isDefined == codegen, q.queryExecution.executedPlan.toString)
    val out = q.collect()
    assert(out.length == in.length)
    for {
      o <- out.toSeq
      row = in(o.getLong(0).toInt)
      ((n, _, _, pin), i) <- ps.zipWithIndex
      (r, k) = (o.get(1 + 2 * i), o.get(2 + 2 * i))
      expected = pin.collect { case (applies, f) if applies(row) => f(row, r) }.getOrElse(r)
      if canon(expected) != canon(k)
    } yield s"$n on row ${o.getLong(0)} $row: expected $expected, kernel $k"
  }

  private def inMode[T](codegen: Boolean)(f: => T): T = {
    val set = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.ansi.enabled" -> "true")
    val saved = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "whole-stage codegen" else "interpreted"
    test(s"Tokens, CountIn, ToDoubleArray, QuantizeMil and VecDot equal their HOF references ($mode)") {
      inMode(codegen) {
        checkProp(Prop.forAllNoShrink(genBatch) { case (sets, in) =>
          val bad = mismatches(sets, in, codegen)
          bad.isEmpty :| bad.take(3).mkString("; ")
        }, cases = 3)
      }
    }
  }

  test("pinned: result types; VecDot throws on a length mismatch; tokensIn of NULL text with ANSI off") {
    val sets = Seq(Seq("a"))
    val q = frame(Seq(In(None, None, None, None, None, None, Nil, Nil)))
      .select(pairs(sets).flatMap { case (n, r, k, _) => Seq(r.as(s"r_$n"), k.as(s"k_$n")) }: _*)
    val types = q.schema.fields.map(f => f.name -> f.dataType).toMap
    pairs(sets).foreach { case (n, _, _, _) =>
      if (n == "tokens") {
        assert(types(s"r_$n") == ArrayType(StringType, containsNull = false))
        assert(types(s"k_$n") == ArrayType(StringType, containsNull = true))
      } else assert(types(s"r_$n") == types(s"k_$n"), n)
    }

    for (codegen <- Seq(true, false)) inMode(codegen) {
      val df = frame(Seq(In(None, None, None, None, None, None,
        Seq(Some(1.0), Some(2.0)), Seq(Some(3.0)))))
      assert(df.select(HofReference.dot(col("a"), col("b"))).head().isNullAt(0))
      val e = intercept[Exception](df.select(VectorFunctions.dot(col("a"), col("b"))).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("graft_vec_dot: dimension mismatch (2 vs 1)")), e)
    }

    val saved = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val r = frame(Seq(In(None, None, None, None, None, None, Nil, Nil)))
        .select(HofReference.tokensIn(col("text"), sets.head), TextFunctions.tokensIn(col("text"), sets.head))
        .head()
      assert(r.getInt(0) == -1 && r.isNullAt(1), r)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }
}
