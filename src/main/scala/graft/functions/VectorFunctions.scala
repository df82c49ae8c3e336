package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns using builtin
  * higher-order functions (codegen-adjacent, no UDF, no linear-algebra
  * dependency) — SURVEY §2 q28–q31.
  *
  * Everything is a SEQUENTIAL left fold in element order, with inputs
  * cast to double first, so results are bit-identical across engines
  * and partitionings (same reason as [[Det]]): an oracle can replay
  * them exactly.
  */
object VectorFunctions {

  /** array<float|int|long|double> → array<double> via the native
    * codegen'd kernel [[ToDoubleArray]]: the SQL cast per element
    * (exact for float/int; long rounds like the cast), null elements
    * preserved. */
  def vec(a: Column): Column = VectorExpressions.toDoubleArray(a)

  /** Sequential-fold dot product (native codegen'd kernel; same fold
    * order as `aggregate(zip_with(a,b,*), 0.0, +)` — see
    * [[VecKernels.dot]]); inputs must already be double arrays. */
  def dot(a: Column, b: Column): Column =
    VectorExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** DuckDB fragments replaying the exact same fold. */
  object Sql {
    /** DuckDB replay of [[VectorExpressions.mix2001]] (value in
      * [-1000, 1000]); `x` is a bigint SQL expression. */
    def mix(x: String): String = {
      val h1 = s"((($x) + 1) * 48271 % 2147483647)"
      val h2 = s"xor($h1, $h1 >> 13)"
      val h3 = s"(($h2) * 48271 % 2147483647)"
      val h4 = s"xor($h3, $h3 >> 7)"
      s"(($h4) % 2001 - 1000)"
    }

    /** Spark-SQL replay of the same mix (operator syntax differs). */
    def mixSpark(x: String): String = {
      val h1 = s"((($x) + 1) * 48271 % 2147483647)"
      val h2 = s"($h1 ^ shiftright($h1, 13))"
      val h3 = s"(($h2) * 48271 % 2147483647)"
      val h4 = s"($h3 ^ shiftright($h3, 7))"
      s"(($h4) % 2001 - 1000)"
    }
    def vec(e: String): String = s"($e)::DOUBLE[]"
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($a, $b), p -> p[1] * p[2])), (acc, x) -> acc + x)"
    def norm(a: String): String = s"sqrt(${dot(a, a)})"
    def cosine(a: String, b: String): String =
      s"(${dot(a, b)} / (${norm(a)} * ${norm(b)}))"
  }
}
