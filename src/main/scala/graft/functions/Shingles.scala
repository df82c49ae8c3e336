package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-shingle hashing kernel for the dedup family.
  *
  * The relational form — split → filter → transform(sequence) →
  * concat_ws/slice → md5 → conv(substring(hex)) → distinct — runs
  * its lambdas INTERPRETED per shingle (Spark HOFs don't codegen
  * their function bodies) and needs a full shuffle just to dedup
  * (id, shingle) pairs. At 100 TB the shingle scan dominates the
  * whole dedup pipeline, so this expression does the entire
  * tokenize→slide→hash→per-doc-dedup in one codegen'd pass and emits
  * the already-distinct 60-bit keys, shuffle-free.
  *
  * Value parity is EXACT with the relational form and the DuckDB
  * oracle (`cast(('0x' || substr(md5(shingle), 1, 15)) AS bigint)`):
  * same single-space tokenization, same "w1 w2 … wn" shingle string,
  * same MD5 over its UTF-8 bytes, same first-15-hex-chars (= top 60
  * bits) key. Verified against the HOF path by ShingleParitySpec.
  */
/** The two parity-critical primitives shared by every text kernel in
  * this file — ONE definition each, so the kernels can never
  * desynchronize from each other or from the oracle SQL. */
private[functions] object TextKernelUtil {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def md5Digest(): MessageDigest = digests.get()

  /** split(" ") + drop empties — identical to
    * `filter(split(text, " "), w => w =!= "")`. Compacts in place;
    * returns (buffer, wordCount). */
  def tokenize(text: UTF8String): (Array[String], Int) = {
    val words0 = text.toString.split(" ", -1)
    var m = 0
    var i = 0
    while (i < words0.length) { if (!words0(i).isEmpty) { words0(m) = words0(i); m += 1 }; i += 1 }
    (words0, m)
  }

  /** Top 60 bits of md5(s-as-UTF-8) — identical to the relational
    * `conv(substring(md5(s), 1, 15), 16, 10)` (first 15 hex chars =
    * big-endian first 8 bytes >>> 4). */
  def md5Top60(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var b = 0
    while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h >>> 4
  }
}

object ShingleKernel {

  /** Distinct 60-bit md5-derived keys of the word `n`-grams of `text`
    * (order of first occurrence). */
  def keys(text: UTF8String, n: Int): ArrayData = {
    val (words0, m) = TextKernelUtil.tokenize(text)
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val md = TextKernelUtil.md5Digest()
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m - n + 1)
    var k = 0
    var s = 0
    val sb = new java.lang.StringBuilder(64)
    while (s <= m - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words0(s + j))
        j += 1
      }
      val h = TextKernelUtil.md5Top60(md, sb.toString)
      if (seen.add(h)) { out(k) = h; k += 1 }
      s += 1
    }
    new GenericArrayData(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }
}

/** Per-document 60-bit SimHash in ONE codegen'd pass: tokenize, count
  * term frequencies, md5-hash each DISTINCT word (top 60 bits, same
  * derivation as the relational `conv(substring(md5(w),1,15),16,10)`),
  * tf-weight the 60 sign counters, emit the fingerprint. The
  * relational form needs an explode + a (doc, word) tf shuffle + a
  * sketch-aggregate shuffle; a document is ONE ROW, so none of that
  * shuffling is inherent — this computes the identical value
  * ([[SimHashAgg]] semantics, verified by spec and oracle) at scan
  * speed with zero exchanges before the band join. */
object SimHashKernel {

  def sim60(text: UTF8String): Long = {
    val (words, m) = TextKernelUtil.tokenize(text)
    val tf = new java.util.HashMap[String, Long](m * 2)
    var i = 0
    while (i < m) { tf.merge(words(i), 1L, (a, b) => a + b); i += 1 }
    val counters = new Array[Long](60)
    val md = TextKernelUtil.md5Digest()
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = TextKernelUtil.md5Top60(md, e.getKey)
      val t = e.getValue
      var j = 0
      while (j < 60) {
        if (((h >> j) & 1L) == 1L) counters(j) += t else counters(j) -= t
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (counters(j) >= 0) fp |= (1L << j); j += 1 }
    fp
  }
}

/** simhash60(text) → long, codegen'd. */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash60"

  override protected def nullSafeEval(v: Any): Any =
    SimHashKernel.sim60(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.SimHashKernel.sim60($v)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  def simhash60(text: Column): Column =
    ColumnBridge.column(SimHash60(ColumnBridge.expression(text)))
}

/** tokenize(text) → array<string>, codegen'd — replaces the
  * interpreted `filter(split(text, " "), w -> w <> "")` HOF pair that
  * sat in EVERY text query's hot path (the ArrayFilter lambda is
  * evaluated per element, outside whole-stage codegen). Identical
  * tokenization by construction: same [[TextKernelUtil.tokenize]] the
  * parity-verified shingle/simhash kernels use. The type declares
  * containsNull=true although no element is ever null (the HOF form
  * is `array<string>` with containsNull=false); the declared type is
  * what downstream schemas and plans were built with, and
  * KernelParitySpec pins it. */
object TokensKernel {
  def tokens(text: UTF8String): ArrayData = {
    val (words0, m) = TextKernelUtil.tokenize(text)
    val out = new Array[AnyRef](m)
    var i = 0
    while (i < m) { out(i) = UTF8String.fromString(words0(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Membership count over an ALREADY-tokenized array — so N
    * counting sites (langId's per-language scores) share ONE
    * [[Tokens]] evaluation via codegen subexpression elimination
    * instead of re-tokenizing per site (the r18 mid-sweep caught
    * q32/q33/q42 paying L tokenize passes per row). */
  def countIn(arr: ArrayData, set: java.util.HashSet[String]): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i).toString)) c += 1
      i += 1
    }
    c
  }
}

/** tokens(text) → array<string>, codegen'd. */
case class Tokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_tokens"

  override protected def nullSafeEval(v: Any): Any =
    TokensKernel.tokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.TokensKernel.tokens($v)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {
  def tokens(text: Column): Column =
    ColumnBridge.column(Tokens(ColumnBridge.expression(text)))
}

/** count_in(arr, set) → int over an already-tokenized array<string>,
  * codegen'd: N sites over the SAME [[Tokens]] subtree tokenize once
  * per row (codegen subexpression elimination), not N times. Null
  * elements never count. */
case class CountIn(child: Expression, words: Seq[String]) extends UnaryExpression {
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    s
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_count_in"

  override protected def nullSafeEval(v: Any): Any =
    TokensKernel.countIn(v.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("graftCountInSet", set, "java.util.HashSet<String>")
    defineCodeGen(ctx, ev, v => s"graft.functions.TokensKernel.countIn($v, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountIn =
    copy(child = newChild)
}

object CountIn {
  def countIn(arr: Column, words: Seq[String]): Column =
    ColumnBridge.column(CountIn(ColumnBridge.expression(arr), words))
}

/** Word n-gram strings in one codegen'd pass — the non-hashed,
  * occurrence-preserving sibling of [[ShingleKernel.keys]] (frequency
  * tables need the text and the multiplicity; dedup needs neither).
  * Tokenization identical: split on single spaces, drop empties. */
object NgramKernel {
  def ngrams(text: UTF8String, n: Int): ArrayData = {
    val (words0, m) = TextKernelUtil.tokenize(text)
    if (m < n) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](m - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var s = 0
    while (s <= m - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words0(s + j))
        j += 1
      }
      out(s) = UTF8String.fromString(sb.toString)
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** ngrams(text, n) → array<string> of word n-grams, codegen'd. */
case class Ngrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ngram width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_ngrams"

  override protected def nullSafeEval(v: Any): Any =
    NgramKernel.ngrams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.NgramKernel.ngrams($v, $n)")

  override protected def withNewChildInternal(newChild: Expression): Ngrams =
    copy(child = newChild)
}

object Ngrams {
  def ngrams(text: Column, n: Int): Column =
    ColumnBridge.column(Ngrams(ColumnBridge.expression(text), n))
}

/** shingle_keys(text, n) → array<long> of distinct hashed word
  * n-gram keys, codegen'd. */
case class ShingleKeys(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_keys"

  override protected def nullSafeEval(v: Any): Any =
    ShingleKernel.keys(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.ShingleKernel.keys($v, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleKeys =
    copy(child = newChild)
}

object ShingleKeys {
  def shingleKeys(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleKeys(ColumnBridge.expression(text), n))
}
