package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

/** Batch-versioned at-rest state: version directories (`<prefix>=<id>`)
  * that count only once `_SUCCESS` is present, written by the micro
  * batch whose id they carry.
  *
  * [[Store]] is the one-level delta-plus-compaction table built on it:
  * per-batch delta dirs plus a periodic compact version. Its users are
  * [[ClusterMaintenance]] (postings, clusters), [[SemDeDupStream]]
  * (corpus, verdicts), [[IvfStream]] and [[IvfChangelog]] (the IVF
  * index). [[versions]], [[fs]] and [[emptyDf]] also serve the other
  * versioned writers ([[CompactingLake]], the sinks, rule snapshots).
  *
  * Replay rule: a replayed micro batch carries the same batchId
  * (Structured Streaming's contract), reads only state written by
  * earlier batches and overwrites exactly its own outputs. For
  * compaction this means: if compact version `v=b` is already
  * committed, compacting batch `b` skips the rewrite and only runs GC;
  * otherwise it reads the versions strictly below `b`. */
private[graft] object BatchVersioned {

  def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir))

  def emptyDf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** COMMITTED version dirs (`<prefix>=<id>`, `_SUCCESS` present)
    * under `dir`, ascending by id. */
  def versions(spark: SparkSession, dir: String, prefix: String = "v"): Seq[(Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"$prefix="))
      .filter(q => f.exists(new org.apache.hadoop.fs.Path(q, "_SUCCESS")))
      .map(q => (q.getName.stripPrefix(s"$prefix=").toLong, q.toString))
      .sortBy(_._1)
  }

  /** The first row per `key` in `order` (the `__rn` column is
    * dropped). */
  def latestPerKey(df: DataFrame, key: Seq[String], order: Column*): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Write `df` as a compact version that key lookups can prune:
    * range-partitioned on `keys` into ~`targetRows`-row files (file ==
    * row group at these sizes, so row-group min/max stats are disjoint
    * key ranges), sorted within each file, and a parquet bloom filter
    * on every key column. The blooms matter because with uniformly
    * hashed keys the sorted ranges TILE the key space: min/max stats
    * alone cannot reject a probed key absent from history, and absent
    * keys are the common case for a fresh micro batch. `bloomNdv` is the
    * expected distinct keys per row group (0 = one row group per file,
    * i.e. min(rows, targetRows)); pass it when parquet.block.size is
    * tuned smaller. Writes nothing when `df` is empty. */
  def writeSorted(df: DataFrame, dir: String, keys: Seq[String],
      targetRows: Long, bloomNdv: Long = 0L): Unit = {
    val rows = df.count()
    if (rows > 0) {
      val nFiles = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
      val ndv = (if (bloomNdv > 0) bloomNdv else math.min(rows, targetRows)).toString
      val sorted = df.repartitionByRange(nFiles, keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
      keys.foldLeft(sorted.write.mode("overwrite")) { (w, k) =>
        w.option(s"parquet.bloom.filter.enabled#$k", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$k", ndv)
          // fpp must be << 1/probed-keys: a row group passes if ANY of
          // the K probed keys false-positives, so per-key fpp compounds
          // K times; at the default 1% every row group would pass a
          // 2000-key probe. 1e-6 costs ~2x bloom bits (~3 B/row)
          .option(s"parquet.bloom.filter.fpp#$k", "0.000001")
      }.parquet(dir)
    }
  }

  /** A one-level delta-plus-compaction table: committed delta dirs
    * `deltaDir/<deltaPrefix>=<batch>` and compact versions
    * `compactDir/v=<batch>`, each compact version holding everything
    * committed below its batch. Reads see the newest compact version
    * plus the delta tail after it, so per-batch input stays flat in
    * history depth while the tail is bounded by the compaction cadence.
    *
    * @param ddl row layout both parts are read as (column order of the
    *   returned frames; types for the empty frame)
    * @param key set for latest-per-key tables: every part then carries
    *   `ver` (the delta dir's batch; Long.MinValue on the compact part,
    *   the oldest state by construction) and [[latest]] resolves it
    * @param schemaOnRead read both parts with `ddl` as the schema (a
    *   partitioned delta of an empty batch has no file to infer from)
    * @param guard applied to the delta read before projection */
  final case class Store(compactDir: String, deltaDir: String, deltaPrefix: String,
      ddl: String, key: Option[String] = None, schemaOnRead: Boolean = false,
      guard: DataFrame => DataFrame = identity) {

    private lazy val cols = org.apache.spark.sql.types.StructType.fromDDL(ddl).fieldNames.toSeq

    /** COMMITTED compact versions, ascending. */
    def compactVersions(spark: SparkSession): Seq[(Long, String)] =
      versions(spark, compactDir)

    private def read(spark: SparkSession, dirs: Seq[String], basePath: String): DataFrame = {
      val r = spark.read.option("basePath", basePath)
      (if (schemaOnRead) r.schema(ddl) else r).parquet(dirs: _*)
    }

    /** The newest committed compact version at or below `compactMax`
      * and the committed deltas from it to below `deltaBelow` (None:
      * no bound). Each pushed `(column, keys)` filters the compact scan
      * to those keys, which Spark pushes into parquet as a set-based In
      * (above spark.sql.parquet.pushdown.inFilterThreshold values) that
      * prunes row groups by min/max and bloom; correctness never depends
      * on it, callers still join on the key. */
    private def assemble(spark: SparkSession, compactMax: Option[Long], deltaBelow: Option[Long],
        push: Seq[(String, Option[Array[Long]])]): Seq[DataFrame] = {
      val cv = compactVersions(spark).filter(v => compactMax.forall(v._1 <= _)).lastOption
      val lo = cv.map(_._1).getOrElse(Long.MinValue)
      val tail = versions(spark, deltaDir, deltaPrefix)
        .filter { case (b, _) => b >= lo && deltaBelow.forall(b < _) }.map(_._2)
      val ver = key.map(_ => lit(Long.MinValue).as("ver")).toSeq
      val compactPart = cv.map { case (_, d) =>
        push.foldLeft(read(spark, Seq(d), d)) {
          case (df, (c, Some(keys))) => df.filter(col(c).isInCollection(keys.toSeq))
          case (df, _) => df
        }.select(cols.map(col) ++ ver: _*)
      }
      val tailPart =
        if (tail.isEmpty) None
        else Some(guard(read(spark, tail, deltaDir))
          .select(cols.map(col) ++ key.map(_ => col(deltaPrefix).as("ver")): _*))
      compactPart.toSeq ++ tailPart
    }

    /** What batch `upTo` reads (None: everything committed): the
      * newest compact version at or below it plus the delta tail below
      * it. Version `v=upTo` holds exactly the deltas below `upTo`,
      * written from strictly older state, so the compacting batch reads
      * the same rows through it, pruned. */
    def parts(spark: SparkSession, upTo: Option[Long],
        push: Seq[(String, Option[Array[Long]])] = Nil): Seq[DataFrame] =
      assemble(spark, upTo, upTo, push)

    /** [[parts]] as one frame; empty (with `ddl`'s columns) when
      * nothing is committed. */
    def union(spark: SparkSession, upTo: Option[Long],
        push: Seq[(String, Option[Array[Long]])] = Nil): DataFrame = {
      val ps = parts(spark, upTo, push)
      if (ps.nonEmpty) ps.reduce(_ unionByName _)
      else emptyDf(spark, if (key.isDefined) s"$ddl, ver BIGINT" else ddl)
    }

    /** Latest row per `key` among versioned rows (later `ver` wins),
      * without `ver`. */
    def latest(df: DataFrame): DataFrame =
      latestPerKey(df, key.toSeq, col("ver").desc).drop("ver")

    /** Is compact version `v=batchId` committed? */
    def committed(spark: SparkSession, batchId: Long): Boolean =
      compactVersions(spark).exists(_._1 == batchId)

    /** Compact at batch `batchId` under the replay rule: a committed
      * `v=batchId` is kept and only GC runs; otherwise [[rewrite]]. */
    def compact(spark: SparkSession, batchId: Long)(write: (DataFrame, String) => Unit): Unit =
      if (committed(spark, batchId)) gc(spark, batchId)
      else rewrite(spark, batchId)(write)

    /** Hand everything committed strictly below `batchId` (the previous
      * compact version plus the deltas after it; [[latest]]-resolved for
      * a keyed table) to `write`, with the directory of version
      * `v=batchId`, then GC. False when nothing was committed. */
    def rewrite(spark: SparkSession, batchId: Long)(write: (DataFrame, String) => Unit): Boolean = {
      val ps = assemble(spark, Some(batchId - 1), Some(batchId), Nil)
      if (ps.nonEmpty) {
        val all = ps.reduce(_ unionByName _)
        // persisted: a writer that counts before writing would run the
        // window shuffle over the whole history twice
        val in = if (key.isDefined) latest(all).persist() else all
        try write(in, s"$compactDir/v=$batchId")
        finally if (key.isDefined) in.unpersist(blocking = false)
      }
      gc(spark, batchId)
      ps.nonEmpty
    }

    /** Delete compact versions and delta dirs below the newest compact
      * version before `batchId`: no reader or replay can reach them
      * (batches below it committed before its compaction ran, and a
      * replayed compaction of `batchId` reads from it, so it stays). */
    private def gc(spark: SparkSession, batchId: Long): Unit = {
      val f = fs(spark, compactDir)
      val vs = compactVersions(spark)
      vs.filter(_._1 < batchId).lastOption.foreach { case (pv, _) =>
        vs.filter(_._1 < pv).foreach { case (_, d) =>
          f.delete(new org.apache.hadoop.fs.Path(d), true)
        }
        val deltaRoot = new org.apache.hadoop.fs.Path(deltaDir)
        if (f.exists(deltaRoot))
          f.listStatus(deltaRoot).toSeq.map(_.getPath)
            .filter(_.getName.startsWith(s"$deltaPrefix="))
            .filter(_.getName.stripPrefix(s"$deltaPrefix=").toLong < pv)
            .foreach(f.delete(_, true))
      }
    }
  }
}
