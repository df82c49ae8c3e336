package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions, VectorFunctions}

/** IVF coarse quantization with TRAINED centroids — the at-rest ANN
  * layout for 100 TB (ref scope: the similarity/scale family layered
  * on the reference's data plane; see SURVEY §2).
  *
  * Round-3 shipped IVF with deterministic RANDOM centroids — right
  * shuffle shape, recall@5 only 0.56. This round trains them with
  * deterministic Lloyd k-means, engine-replayable end to end:
  *
  *  - vectors are NORMALIZED (so Euclidean cells align with the
  *    cosine ranking queries use — spherical k-means) and QUANTIZED to
  *    exact-integer doubles `floor(x/‖v‖·1000 + 0.5)`: centroid sums
  *    become order-independent integer arithmetic (exact below 2^53 —
  *    ~10^10 vectors per cell), so parallel aggregation and a
  *    single-threaded SQL oracle agree bit-for-bit;
  *  - seeds are the quantized vectors of `min(vec_id)` per
  *    `vec_id % cells` residue class — data-dependent, deterministic,
  *    no RNG;
  *  - a FIXED number of Lloyd rounds (assignment by the squared-
  *    distance key `csq − 2·v·c`, ties to the lowest cell; update =
  *    exact integer mean, empty cells keep their centroid);
  *  - assignment/probing run through codegen'd kernels
  *    ([[graft.functions.NearestCell]]/[[graft.functions.ProbeCells]])
  *    against the driver-held centroid matrix: the corpus side needs
  *    NO centroid join, NO per-vector window — zero shuffles until
  *    the single shuffle on cell id that builds the index.
  *
  * The DuckDB oracle replays the identical computation from the same
  * parquet ([[IvfIndex.Sql.kmeansCtes]] unrolls the rounds as CTEs).
  *
  * At rest, the corpus is written `partitionBy(cell)` so a probe
  * query's broadcast cell ids trigger dynamic partition pruning: only
  * nprobe/2^b of the files are read, no driver-side pruning.
  */
object IvfIndex {

  /** Normalized-and-quantized copy of a double-array embedding:
    * exact-integer doubles in [-1000, 1000]. Zero-norm vectors (failed
    * embeddings) divide by 1 instead of 0 — all-zero stays all-zero.
    *
    * One native codegen'd kernel ([[graft.functions.VecKernels.quantizeMil]]):
    * the norm is one [[graft.functions.VecKernels.dot]] fold + sqrt per
    * row, and floor(double) stays exact on the ±1000 range, so the
    * DuckDB `vq` replay matches. NaN stays NaN through the floor, as
    * in the oracle (NaN or ±Inf input makes NaN outputs; pinned in
    * KernelParitySpec). */
  def quantize(v: Column): Column = VectorExpressions.quantizeMil(v)

  /** Trained model: dense by cell id; `cent(j) == null` marks a cell
    * whose residue class had no seed vector (never probed/assigned). */
  final case class Model(cent: Array[Array[Double]], csq: Array[Double]) {
    def cells: Int = cent.length
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, String), Model]()

  /** Drop only the memoized models whose memo key contains `substr` —
    * Bench's between-rep invalidation (lets the train lines be
    * measured repeatedly instead of hitting the memo on reps 2+),
    * SCOPED so invalidating one train line can't evict a DIFFERENT
    * line's just-measured model (which would silently re-pay that
    * training inside a later query's warmup — the bug a blanket
    * clear() had). Not used by any query path. */
  def clearMemo(substr: String): Unit =
    memo.keySet.removeIf(_._2.contains(substr))

  /** Same sequential square-sum fold as the oracle's list_reduce. */
  private def csqOf(c: Array[Double]): Double = {
    var acc = 0.0
    var k = 0
    while (k < c.length) { acc += c(k) * c(k); k += 1 }
    acc
  }

  /** Deterministic training-sample modulus: k-means needs ~256 points
    * per centroid (the FAISS rule of thumb), so training reads
    * `vec_id % m == 0` with m ≈ n / (cells·256) — pure integer
    * arithmetic the oracle replays. m is forced ODD: cells is always a
    * power of two, so any even stride would alias with the residue-
    * class seeding (`vec_id % cells` over multiples of m) and leave
    * gcd(m, cells)−1 of every gcd cells permanently seedless — at
    * m = 256 exactly ONE cell would exist and probing would scan the
    * whole corpus. Odd ⇒ coprime with 2^b ⇒ the sample covers every
    * residue class. At test SF m = 1 (full corpus, no behavior
    * change); at 100 TB the Lloyd scans aggregate a bounded sample. */
  def sampleMod(n: Long, cells: Int): Long = {
    val m0 = math.max(1L, n / (cells.toLong * 256L))
    m0 + (1L - m0 % 2L)
  }

  /** Typed partial-merge fold for the Lloyd update: component-wise sum
    * of quantized vectors + count per cell. The buffer array is
    * allocated lazily from the first vector's length; a dimension
    * mismatch is data corruption and must fail LOUDLY (the VecKernels
    * convention) — sizing from the first vector and looping
    * min(lengths) would silently truncate a centroid. */
  private object SumVec extends org.apache.spark.sql.expressions.Aggregator[
      (Int, Array[Double]), (Array[Double], Long), (Array[Double], Long)] {
    def zero: (Array[Double], Long) = (null, 0L)
    def reduce(acc: (Array[Double], Long), row: (Int, Array[Double])): (Array[Double], Long) = {
      val v = row._2
      val a = if (acc._1 == null) new Array[Double](v.length) else acc._1
      require(v.length == a.length,
        s"ragged embedding dimension: ${v.length} vs ${a.length}")
      var k = 0
      while (k < v.length) { a(k) += v(k); k += 1 }
      (a, acc._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) =
      if (x._1 == null) y
      else if (y._1 == null) x
      else {
        require(x._1.length == y._1.length,
          s"ragged embedding dimension: ${x._1.length} vs ${y._1.length}")
        var k = 0
        while (k < x._1.length) { x._1(k) += y._1(k); k += 1 }
        (x._1, x._2 + y._2)
      }
    def finish(r: (Array[Double], Long)): (Array[Double], Long) = r
    def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    def outputEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
  }

  /** Deterministic Lloyd k-means over quantized vectors (driver
    * orchestrates `iters` rounds; each round is one kernel-assignment
    * scan whose per-cell sums fold as primitive arrays in a map-side-
    * combined aggregateByKey — ≤ cells 64-double arrays shuffle and
    * collect, MB-scale at the 2^13 cell cap and any corpus size;
    * seeds and update sums read the `sampleMod`-thinned sample).
    * Quantization is what legalizes the arbitrary-order fold: every
    * component is an exact-integer double, so addition is associative
    * and the sums are bit-identical to the oracle's single-threaded
    * replay. Memoized per (application, memoKey): the train cost is
    * paid once, not per query build. */
  def train(emb: DataFrame, cells: Int, iters: Int, memoKey: String,
      sampleMod: Long = 1L, prepped: (String, Column => Column) = "qz" -> quantize): Model = {
    val spark = emb.sparkSession
    // the prep FUNCTION is part of what was trained, and functions
    // don't hash — so prep travels WITH its cache tag as one value
    // (a caller physically cannot supply a custom prep without
    // choosing the tag that keys its memo entry; PqIndex passes
    // "id" -> identity). Untagged sharing would silently return a
    // model trained under different preprocessing.
    val (prepTag, prep) = prepped
    memo.computeIfAbsent((spark.sparkContext.applicationId, s"$memoKey|$cells|$iters|$sampleMod|$prepTag"), _ => {
      val vq = emb.filter(col("vec_id") % sampleMod === 0)
        .select(col("vec_id"), prep(col("v")).as("vq")).persist()
      try {
        val seeds = vq.groupBy((col("vec_id") % cells).cast("int").as("cell"))
          .agg(min(col("vec_id")).as("sid"))
        val cent = new Array[Array[Double]](cells)
        vq.join(seeds, vq("vec_id") === seeds("sid"))
          .select(col("cell"), col("vq")).collect()
          .foreach(r => cent(r.getInt(0)) = r.getSeq[Double](1).toArray)
        var model = Model(cent, cent.map(c => if (c == null) 0.0 else csqOf(c)))
        (1 to iters).foreach { _ =>
          // assignment scan (shuffle-free kernel) + exact integer sums.
          // The update fold is a TYPED Aggregator over primitive
          // arrays: partial (map-side) sums per partition, ≤ cells
          // 64-double buffers shuffled — same cost shape as the old
          // aggregateByKey fold but WITHOUT the .rdd hop that exited
          // Tungsten and boxed every sampled row into Seq[Double]
          // (Array[Double] decodes via UnsafeArrayData.toDoubleArray,
          // no per-element boxing). Quantized components are
          // exact-integer doubles, so addition is associative and ANY
          // combine order gives bit-identical sums (the property the
          // oracle's single-threaded replay relies on). The relational
          // form (posexplode → groupBy(cell, k)) computed identical
          // sums but paid a 3M-row explode + 131k-group hash agg per
          // round — ~15 s/round vs ~1 s at 50k vectors × 2048 cells.
          import spark.implicits._
          val sums = vq
            .select(VectorExpressions.nearestCell(col("vq"), model.cent, model.csq).as("cell"),
              col("vq"))
            .as[(Int, Array[Double])]
            .groupByKey(_._1)
            .agg(SumVec.toColumn)
            .collect()
          val next = model.cent.clone()
          sums.foreach { case (cell, (a, n)) =>
            // nearestCell returns -1 when EVERY centroid slot is null
            // (empty/degenerate sample) — fail diagnosably, not with
            // an opaque ArrayIndexOutOfBounds at next(-1)
            require(cell >= 0,
              s"ivf train: no live centroid (all ${model.cells} cells empty — degenerate sample?)")
            next(cell) = a.map(_ / n)
          }
          model = Model(next, next.map(c => if (c == null) 0.0 else csqOf(c)))
        }
        model
      } finally vq.unpersist(blocking = false)
    })
  }

  /** Best-cell assignment: input (vec_id, v, ...) + `cell` column —
    * a single codegen'd projection, no join, no shuffle. */
  def assignCells(emb: DataFrame, model: Model): DataFrame =
    emb.withColumn("cell", VectorExpressions.nearestCell(quantize(col("v")), model.cent, model.csq))

  /** Top-`nprobe` probe cells per query: (query columns..., cell) —
    * one codegen'd projection + explode, no join, no window. */
  def probeCells(queries: DataFrame, qv: Column, model: Model, nprobe: Int): DataFrame =
    queries.select(queries.columns.map(col) :+
      explode(VectorExpressions.probeCells(quantize(qv), model.cent, model.csq, nprobe)).as("cell"): _*)

  /** Build the index: corpus partitioned by cell on disk, PLUS the
    * trained model persisted alongside it ([[save]]) — a cold session
    * probes an existing index via [[load]] with zero jobs over the
    * embeddings table (no retraining scan). `emb` must have
    * (vec_id, v: array<double>). Alongside each full vector the row
    * carries its SQ8 `code` (one byte/dim,
    * [[graft.functions.Sq8Kernels]]): parquet is columnar, so
    * [[topK]] (exact) never reads the codes and [[topKSq8]]'s
    * candidate phase never reads the vectors — one layout serves
    * both probe paths with no duplicate storage of the corpus. */
  def build(emb: DataFrame, model: Model, dir: String): Unit = {
    assignCells(emb, model)
      .withColumn("code", VectorExpressions.sq8Encode(col("v")))
      // co-locate each cell before the partitioned write: without
      // this every input task writes a sliver into every cell dir —
      // tasks × cells tiny files whose footers dominate probe I/O
      // (measured: a 250k-vector build produced 10k 30-row files).
      // One shuffle at build time buys one file per cell, paid once
      // for a write-once/probe-forever artifact.
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    // after the parquet write: overwrite mode would wipe a pre-written
    // model file from the directory
    save(model, dir, emb.sparkSession)
  }

  private val ModelFile = "_graft_ivf_model.json"

  /** Persist the trained centroids as KB-scale JSON inside the index
    * dir. Goes through the Hadoop FileSystem of `dir` (not java.nio)
    * so the same code addresses HDFS/S3 on a cluster. Doubles are
    * written as JSON numbers via Jackson's shortest-round-trip
    * rendering, so [[load]] recovers them bit-identically; csq is
    * derived from cent at load time by the same fold [[train]] uses,
    * so it is not stored. The leading underscore keeps the file
    * invisible to the parquet reader scanning the directory. */
  def save(model: Model, dir: String, spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, ModelFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("version", 1)
    root.put("cells", model.cells)
    val rows = root.putArray("cent")
    model.cent.foreach { c =>
      if (c == null) rows.addNull()
      else { val a = rows.addArray(); c.foreach(a.add) }
    }
    // stage to a temp name and rename into place with OVERWRITE (one
    // atomic metadata op on HDFS and local FS): a concurrent reader /
    // crash mid-write must never observe a partial model file, and a
    // delete-then-rename pair would leave a WINDOW WITH NO MODEL AT
    // ALL if the process dies between the two calls
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$ModelFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(om.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Read a [[save]]d model back: bit-identical centroids, csq
    * recomputed by the training fold. Pure driver-side file read —
    * runs zero Spark jobs. */
  def load(spark: SparkSession, dir: String): Model = {
    val p = new org.apache.hadoop.fs.Path(dir, ModelFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    require(root.get("version").asInt() == 1, s"unknown ivf model version in $p")
    val rows = root.get("cent")
    // a truncated cent array would read as null cells — indistinguishable
    // from legitimately empty ones — and probes would silently skip them
    require(rows != null && rows.size() == root.get("cells").asInt(),
      s"corrupt ivf model in $p: cent has ${if (rows == null) "no" else rows.size().toString} rows, expected ${root.get("cells").asInt()}")
    val cent = Array.tabulate(root.get("cells").asInt()) { j =>
      val r = rows.get(j)
      if (r == null || r.isNull) null
      else Array.tabulate(r.size())(k => r.get(k).asDouble())
    }
    Model(cent, cent.map(c => if (c == null) 0.0 else csqOf(c)))
  }

  /** Query the on-disk index: probe cells → DPP-pruned scan → exact
    * cosine top-k. `queries` must have (query_id, qv). */
  def topK(spark: SparkSession, indexDir: String, queries: DataFrame,
      model: Model, nprobe: Int, k: Int): DataFrame =
    topK(spark.read.parquet(indexDir), queries, model, nprobe, k)

  /** Same probe over an already-loaded index relation (`idx` must
    * carry vec_id, v, and the `cell` partition column — e.g. a
    * committed-paths subset of a streamed index). */
  def topK(idx: DataFrame, queries: DataFrame,
      model: Model, nprobe: Int, k: Int): DataFrame = {
    val p = probeCells(queries, col("qv"), model, nprobe)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    // join on the PARTITION column with a broadcast-able probe side:
    // Spark inserts a DynamicPruningExpression on the scan, so only
    // the probed cell directories are read
    idx.join(broadcast(p), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      // zero-norm vectors (padding / failed embeddings) make cosine
      // 0/0 = NaN, and Spark sorts NaN ABOVE every double — nanvl
      // ranks such junk last instead of at the top of every probe
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        nanvl(VectorFunctions.cosine(col("qv"), col("v")), lit(-2.0)).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Query the on-disk index through its SQ8 codes: probe cells →
    * DPP-pruned scan of (vec_id, code) ONLY — parquet column pruning
    * means the approx phase reads one byte per dimension instead of a
    * float64, 8× less candidate I/O — → integer-dot approximate
    * cosine shortlist of `k·rerank` per query → exact-cosine re-rank
    * reading full vectors for the shortlist rows alone (same pruned
    * cell directories, second column-pruned scan). The at-100 TB
    * contract: candidate I/O shrinks 8×, exact I/O shrinks from
    * "every probed vector" to "k·rerank rows per query". */
  def topKSq8(spark: SparkSession, indexDir: String, queries: DataFrame,
      model: Model, nprobe: Int, k: Int, rerank: Int = 4): DataFrame = {
    val p = probeCells(queries, col("qv"), model, nprobe)
      .withColumn("qcode", VectorExpressions.sq8Encode(col("qv")))
      .select(col("query_id"), col("cell"), col("qcode"))
    val idx = spark.read.parquet(indexDir)
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id").asc)
    val shortlist = idx.select(col("vec_id").as("neighbor_id"), col("cell"), col("code"))
      .join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("qcode"),
        nanvl(VectorExpressions.sq8Dot(col("qcode"), col("code")).cast("double") /
          (sqrt(VectorExpressions.sq8Dot(col("qcode"), col("qcode")).cast("double")) *
            sqrt(VectorExpressions.sq8Dot(col("code"), col("code")).cast("double"))),
          lit(-2.0)).as("approx_cos"))
      .withColumn("arnk", row_number().over(wa))
      .filter(col("arnk") <= k.toLong * rerank)
    // re-rank: the shortlist is queries×k·rerank rows — broadcast it
    // back against the SAME pruned index partitions, this time reading
    // the full vectors (and never the codes). The join MUST keep
    // `cell` (the partition column) in its keys: on neighbor_id alone
    // no dynamic partition pruning applies and this scan would read
    // EVERY cell's vector column — more exact-phase I/O than the
    // plain exact probe, inverting the whole point
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    idx.select(col("vec_id").as("neighbor_id"), col("cell"), col("v"))
      .join(broadcast(shortlist.select(col("query_id"), col("neighbor_id"), col("cell"))),
        Seq("cell", "neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        nanvl(VectorFunctions.cosine(col("qv"), col("v")), lit(-2.0)).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** DuckDB replay of the full training + assignment pipeline. */
  object Sql {
    private def csq(c: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform($c, x -> x * x)), (a, b) -> a + b)"

    private def dot(a: String, b: String): String = VectorFunctions.Sql.dot(a, b)

    /** CTE chain replaying [[train]] + the final assignment ranking.
      * Requires prior CTEs `e(vec_id, v DOUBLE[])` and `pc(.., cells)`;
      * emits `vq`, `cent$iters` (the trained centroids) and `rf`
      * (vec_id, cell, crnk = distance rank of cell for that vector).
      * `sampleModSql` replays [[IvfIndex.sampleMod]] (may reference
      * `cells` — pc is in scope). Every arithmetic step (normalize,
      * quantize, sample thinning, integer mean, key fold) mirrors the
      * Spark kernels exactly. */
    def kmeansCtes(iters: Int, sampleModSql: String = "1"): String = {
      val b = new StringBuilder
      b ++= s"""nv AS (SELECT vec_id, v,
        |         CASE WHEN ${VectorFunctions.Sql.norm("v")} = 0 THEN 1.0
        |              ELSE ${VectorFunctions.Sql.norm("v")} END AS nrm FROM e),
        |vq AS (SELECT vec_id, list_transform(v, x -> floor(x / nrm * 1000.0 + 0.5)) AS vq FROM nv),
        |vqs AS (SELECT vq.vec_id, vq.vq FROM vq, pc WHERE vq.vec_id % ($sampleModSql) = 0),
        |seeds AS (SELECT vec_id % cells AS cell, min(vec_id) AS sid FROM vqs, pc GROUP BY vec_id % cells),
        |cent0 AS (SELECT cell, q.vq AS c FROM seeds s JOIN vqs q ON q.vec_id = s.sid)""".stripMargin
      (1 to iters).foreach { t =>
        val prev = s"cent${t - 1}"
        b ++= s""",
          |kc$t AS (SELECT cell, c, ${csq("c")} AS csq FROM $prev),
          |sc$t AS (SELECT vec_id, vq, cell, csq - 2 * ${dot("vq", "c")} AS key FROM vqs, kc$t),
          |a$t AS (SELECT vec_id, vq, cell FROM (
          |         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY key, cell) AS rn FROM sc$t)
          |        WHERE rn = 1),
          |sx$t AS (SELECT cell, unnest(range(0, 64)) AS k, vq FROM a$t),
          |sm$t AS (SELECT cell, k, sum(vq[k + 1]) AS s, count(*) AS n FROM sx$t GROUP BY cell, k),
          |cent$t AS (SELECT p.cell, coalesce(u.c, p.c) AS c FROM $prev p LEFT JOIN
          |           (SELECT cell, list(s / n ORDER BY k) AS c FROM sm$t GROUP BY cell) u USING (cell))""".stripMargin
      }
      b ++= s""",
        |kf AS (SELECT cell, c, ${csq("c")} AS csq FROM cent$iters),
        |scf AS (SELECT vec_id, cell, csq - 2 * ${dot("vq", "c")} AS key FROM vq, kf),
        |rf AS (SELECT vec_id, cell,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY key, cell) AS crnk FROM scf)""".stripMargin
      b.toString
    }
  }
}
