package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Multiply}

import graft.functions.{Cents, Fingerprint, HyperplaneBits, MinHashSig, Ngrams, ShingleKeys, SimHash60, SimHashAgg, VecDot}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql("SELECT
  * graft_fingerprint(text) ...")` works next to the Column API — the
  * Spark analog of the reference's
  * `tEnv.createTemporarySystemFunction("JsonFunction", clazz)`
  * (FlinkIdeaDemo/NCFlinkTableAPIScalarFunction.java:18).
  *
  * Wire up with:
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "scalar_funcs")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      info("graft_fingerprint", "graft_fingerprint(str) - 62-bit rolling-hash document fingerprint"),
      buildFingerprint))
    e.injectFunction((
      FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot", "graft_vec_dot(a, b) - sequential-fold dot product of double arrays"),
      buildVecDot))
    e.injectFunction((
      FunctionIdentifier("graft_hyperplane_bits"),
      info("graft_hyperplane_bits", "graft_hyperplane_bits(v, n) - sign bits of n LSH hyperplane projections"),
      buildHyperplaneBits))
    e.injectFunction((
      FunctionIdentifier("graft_shingle_keys"),
      info("graft_shingle_keys", "graft_shingle_keys(text, n) - distinct 60-bit md5 keys of word n-grams"),
      buildShingleKeys))
    e.injectFunction((
      FunctionIdentifier("graft_simhash60"),
      info("graft_simhash60", "graft_simhash60(text) - 60-bit tf-weighted SimHash fingerprint"),
      buildSimHash60))
    e.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      info("graft_ngrams", "graft_ngrams(text, n) - word n-gram strings (occurrence-preserving)"),
      buildNgrams))
    e.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "graft_minhash_sig(h, n) - aggregate: n-hash MinHash signature over a group of 60-bit keys"),
      buildMinHashSig))
    e.injectFunction((
      FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(tf, h) - aggregate: 60-bit tf-weighted SimHash over (term frequency, word hash) rows"),
      buildSimHashAgg))
    e.injectFunction((
      FunctionIdentifier("graft_sq8_encode"),
      info("graft_sq8_encode", "graft_sq8_encode(v) - int8 scalar-quantized codes (1 byte/dim) of a double array"),
      buildSq8Encode))
    e.injectFunction((
      FunctionIdentifier("graft_sq8_dot"),
      info("graft_sq8_dot", "graft_sq8_dot(a, b) - exact integer dot product of two sq8 code arrays"),
      buildSq8Dot))
    e.injectFunction((
      FunctionIdentifier("graft_ahash"),
      info("graft_ahash", "graft_ahash(payload) - 60-bit perceptual average-hash of an image payload (NULL if undecodable)"),
      buildAHash))
    e.injectFunction((
      FunctionIdentifier("graft_audiohash"),
      info("graft_audiohash", "graft_audiohash(payload) - 60-bit audio envelope hash of an audio payload (NULL if undecodable)"),
      buildAudioHash))
    e.injectFunction((
      FunctionIdentifier("graft_framehashes"),
      info("graft_framehashes", "graft_framehashes(payload, n) - per-frame 60-bit aHashes of up to n sampled video frames (empty array if undecodable)"),
      buildFrameHashes))
    e.injectFunction((
      FunctionIdentifier("graft_kmv"),
      info("graft_kmv", "graft_kmv(h, k) - aggregate: KMV bottom-k distinct sketch over 60-bit keys; struct(k_used, kth_min, est_distinct)"),
      buildKmv))
    e.injectFunction((
      FunctionIdentifier("graft_kmv_arr"),
      info("graft_kmv_arr", "graft_kmv_arr(h, k) - aggregate: sorted bottom-k array for KMV set operations"),
      buildKmvArr))
    e.injectFunction((
      FunctionIdentifier("graft_mg_candidates"),
      info("graft_mg_candidates", "graft_mg_candidates(token, k) - aggregate: Misra-Gries heavy-hitter candidate set (every token above N/k guaranteed present)"),
      buildMgCandidates))
    e.injectFunction((
      FunctionIdentifier("graft_cents"),
      info("graft_cents", "graft_cents(x) - round(x * 100) as bigint: the integer cents of a money-like value"),
      buildCents))
    // graft_nearest_cell / graft_probe_cells stay Column-API-only by
    // design: their centroid-matrix argument is driver-held model state
    // (IvfIndex.Model), not something a SQL literal can express.
  }
}

object GraftExtensions {

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n,
      s"$name expects $n argument(s), got ${args.length}")

  private[graft] val buildFingerprint: Seq[Expression] => Expression = { args =>
    arity("graft_fingerprint", args, 1)
    Fingerprint(args.head)
  }

  private[graft] val buildVecDot: Seq[Expression] => Expression = { args =>
    arity("graft_vec_dot", args, 2)
    VecDot(args(0), args(1))
  }

  private[graft] val buildHyperplaneBits: Seq[Expression] => Expression = { args =>
    arity("graft_hyperplane_bits", args, 2)
    // SQL integer literals default to INT but users write BIGINT/
    // SMALLINT literals too (e.g. `64L`): accept any integral literal
    // in range, and fail ANALYSIS (not ClassCastException at
    // execution) for anything else.
    HyperplaneBits(args(0),
      intLiteral("graft_hyperplane_bits", args(1), 1, graft.functions.VecKernels.MaxPlanes))
  }

  /** Integral-literal extractor shared by the count-style arguments:
    * analysis-time failure (not ClassCastException) for anything else. */
  private def intLiteral(fn: String, e: Expression, lo: Int, hi: Int): Int = {
    def bad(what: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "INTERNAL_ERROR",
        Map("message" -> s"$fn: argument must be an integral literal in [$lo, $hi], got $what"))
    def fromValue(v: Any): Int = v match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => bad(String.valueOf(other))
    }
    val n = e match {
      case Literal(v, _) => fromValue(v)
      // builders run at analysis, BEFORE constant folding: accept any
      // foldable integral expression (32+32, cast(8 as int), ...)
      case other if other.foldable => fromValue(other.eval())
      case other => bad(other.sql)
    }
    if (n < lo || n > hi) bad(n.toString)
    n
  }

  private[graft] val buildShingleKeys: Seq[Expression] => Expression = { args =>
    arity("graft_shingle_keys", args, 2)
    ShingleKeys(args.head, intLiteral("graft_shingle_keys", args(1), 1, 64))
  }

  private[graft] val buildSimHash60: Seq[Expression] => Expression = { args =>
    arity("graft_simhash60", args, 1)
    SimHash60(args.head)
  }

  private[graft] val buildNgrams: Seq[Expression] => Expression = { args =>
    arity("graft_ngrams", args, 2)
    Ngrams(args.head, intLiteral("graft_ngrams", args(1), 1, 64))
  }

  // aggregate builders return the bare AggregateFunction: the analyzer
  // wraps it in an AggregateExpression exactly as for built-in sum/min
  private[graft] val buildMinHashSig: Seq[Expression] => Expression = { args =>
    arity("graft_minhash_sig", args, 2)
    MinHashSig(args.head, intLiteral("graft_minhash_sig", args(1), 1, 4096))
  }

  private[graft] val buildSimHashAgg: Seq[Expression] => Expression = { args =>
    arity("graft_simhash", args, 2)
    SimHashAgg(args(0), args(1))
  }

  private[graft] val buildSq8Encode: Seq[Expression] => Expression = { args =>
    arity("graft_sq8_encode", args, 1)
    graft.functions.Sq8Encode(args.head)
  }

  private[graft] val buildSq8Dot: Seq[Expression] => Expression = { args =>
    arity("graft_sq8_dot", args, 2)
    graft.functions.Sq8Dot(args(0), args(1))
  }

  private[graft] val buildAHash: Seq[Expression] => Expression = { args =>
    arity("graft_ahash", args, 1)
    graft.functions.AHash(args.head)
  }

  private[graft] val buildAudioHash: Seq[Expression] => Expression = { args =>
    arity("graft_audiohash", args, 1)
    graft.functions.AudioHash(args.head)
  }

  private[graft] val buildFrameHashes: Seq[Expression] => Expression = { args =>
    arity("graft_framehashes", args, 2)
    graft.functions.FrameHashes(args.head,
      intLiteral("graft_framehashes", args(1), 1, 1024))
  }

  private[graft] val buildKmv: Seq[Expression] => Expression = { args =>
    arity("graft_kmv", args, 2)
    graft.functions.KmvAgg(args.head, intLiteral("graft_kmv", args(1), 2, 1 << 20))
  }

  private[graft] val buildKmvArr: Seq[Expression] => Expression = { args =>
    arity("graft_kmv_arr", args, 2)
    graft.functions.KmvArrAgg(args.head, intLiteral("graft_kmv_arr", args(1), 2, 1 << 20))
  }

  private[graft] val buildMgCandidates: Seq[Expression] => Expression = { args =>
    arity("graft_mg_candidates", args, 2)
    graft.functions.MgCandidates(args.head, intLiteral("graft_mg_candidates", args(1), 1, 1 << 20))
  }

  private[graft] val buildCents: Seq[Expression] => Expression = { args =>
    arity("graft_cents", args, 1)
    Cents(Multiply(args.head, Literal(100)))
  }

  /** Register the same functions on an already-built session (useful in
    * tests and notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_fingerprint", buildFingerprint, "scala_udf")
    reg.createOrReplaceTempFunction("graft_vec_dot", buildVecDot, "scala_udf")
    reg.createOrReplaceTempFunction("graft_hyperplane_bits", buildHyperplaneBits, "scala_udf")
    reg.createOrReplaceTempFunction("graft_shingle_keys", buildShingleKeys, "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash60", buildSimHash60, "scala_udf")
    reg.createOrReplaceTempFunction("graft_ngrams", buildNgrams, "scala_udf")
    reg.createOrReplaceTempFunction("graft_minhash_sig", buildMinHashSig, "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash", buildSimHashAgg, "scala_udf")
    reg.createOrReplaceTempFunction("graft_sq8_encode", buildSq8Encode, "scala_udf")
    reg.createOrReplaceTempFunction("graft_sq8_dot", buildSq8Dot, "scala_udf")
    reg.createOrReplaceTempFunction("graft_ahash", buildAHash, "scala_udf")
    reg.createOrReplaceTempFunction("graft_audiohash", buildAudioHash, "scala_udf")
    reg.createOrReplaceTempFunction("graft_framehashes", buildFrameHashes, "scala_udf")
    reg.createOrReplaceTempFunction("graft_kmv", buildKmv, "scala_udf")
    reg.createOrReplaceTempFunction("graft_kmv_arr", buildKmvArr, "scala_udf")
    reg.createOrReplaceTempFunction("graft_mg_candidates", buildMgCandidates, "scala_udf")
    reg.createOrReplaceTempFunction("graft_cents", buildCents, "scala_udf")
  }
}
