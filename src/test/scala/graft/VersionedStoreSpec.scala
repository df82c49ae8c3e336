package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IvfIndex
import graft.streaming.{ClusterMaintenance, IvfChangelog, IvfStream, SemDeDupStream}

/** The one-level batch-versioned stores behind ClusterMaintenance,
  * SemDeDupStream, IvfStream and IvfChangelog:
  *  - the replay rule: replaying a compacting batch whose compact
  *    version is committed leaves that version's files untouched and
  *    the loaded state unchanged;
  *  - the compact layout result-equality specs cannot see: parquet
  *    blooms on the lookup keys, row-group key ranges that ascend
  *    without overlap across files (sorted within each file), and one
  *    `cell=` directory per cell in the IVF compact versions.
  */
class VersionedStoreSpec extends AnyFunSuite {
  import TestSpark._

  /** Every file under `dir` with its size and modification time. */
  private def snapshot(dir: String): Map[String, (Long, Long)] = {
    val base = Paths.get(dir)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      base.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
  }

  /** Runs `replay` and asserts it left every file under `dirs` as it
    * was. */
  private def assertUntouched(dirs: String*)(replay: => Unit): Unit = {
    val before = dirs.map(snapshot)
    replay
    dirs.zip(before).foreach { case (d, was) =>
      val now = snapshot(d)
      val changed = (was.keySet ++ now.keySet).count(f => was.get(f) != now.get(f))
      assert(changed == 0, s"replayed compaction rewrote $d")
    }
  }

  private def dataFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq

  private def footer(file: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** Every row group of every file in `dir` carries a bloom on each of
    * `blooms`; the leading `keys` column's row-group ranges ascend
    * within each file and across files (strictly across files when the
    * key is the whole sort key), and each file is sorted on `keys`. */
  private def assertCompactLayout(dir: String, keys: Seq[String], blooms: Seq[String]): Unit = {
    val files = dataFiles(dir)
    assert(files.size > 1, s"$dir: expected several range files, got ${files.size}")
    val ranges = files.map { f =>
      val blocks = footer(f).getBlocks.asScala.toSeq
      assert(blocks.nonEmpty, s"$f has no row groups")
      def chunk(b: org.apache.parquet.hadoop.metadata.BlockMetaData, c: String) =
        b.getColumns.asScala.find(_.getPath.toDotString == c)
          .getOrElse(fail(s"$f has no column $c"))
      blocks.foreach(b => blooms.foreach(c =>
        assert(chunk(b, c).getBloomFilterOffset >= 0, s"$f: row group without a $c bloom")))
      val rg = blocks.map { b =>
        val st = chunk(b, keys.head).getStatistics
        (st.genericGetMin.asInstanceOf[Long], st.genericGetMax.asInstanceOf[Long])
      }
      rg.zip(rg.drop(1)).foreach { case (a, b) => assert(a._2 <= b._1, s"$f: row groups overlap") }
      (rg.map(_._1).min, rg.map(_._2).max)
    }.sortBy(_._1)
    // rows come back in file order within each file
    val ord = Ordering.Implicits.seqOrdering[Seq, Long]
    spark.read.parquet(dir).select(input_file_name() +: keys.map(col): _*).collect().toSeq
      .groupBy(_.getString(0)).foreach { case (f, rs) =>
        val rows = rs.map(r => keys.indices.map(i => r.getLong(i + 1)))
        rows.zip(rows.drop(1)).foreach { case (a, b) =>
          assert(ord.lteq(a, b), s"$f not sorted on ${keys.mkString(",")}: $a before $b")
        }
      }
    ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
      assert(if (keys.size == 1) a._2 < b._1 else a._2 <= b._1,
        s"$dir: files overlap on ${keys.head}: $a vs $b")
    }
  }

  /** The `cell=` dirs of an IVF compact version: one per expected cell,
    * one data file each. */
  private def assertOneDirPerCell(dir: String, cells: Set[Int]): Unit = {
    val cellDirs = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("cell=")).toSeq
    assert(cellDirs.map(_.getFileName.toString.stripPrefix("cell=").toInt).toSet == cells)
    assert(cellDirs.size == cells.size)
    cellDirs.foreach(d => assert(dataFiles(d.toString).size == 1, s"$d has several data files"))
  }

  /** Runs `f` with parquet dictionary encoding off: parquet-mr skips
    * the bloom of a column chunk whose pages are all dictionary
    * encoded, which at test sizes is every chunk. */
  private def withoutDictionary[T](f: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.enable.dictionary")
    hc.set("parquet.enable.dictionary", "false")
    try f
    finally if (prev == null) hc.unset("parquet.enable.dictionary") else hc.set("parquet.enable.dictionary", prev)
  }

  private def rm(dirs: String*): Unit =
    dirs.foreach(d => graft.tools.FileUtil.deleteTree(Paths.get(d)))

  test("ClusterMaintenance: a replayed compacting batch keeps v=b's files and the clusters; postings and clusters compact layouts") {
    import spark.implicits._
    def text(seed: Long) =
      (0 until 12).map(i => java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i".getBytes).map("%02x".format(_)).mkString.take(6)).mkString(" ")
    // every third doc near-dups a lower id (its text minus the first
    // word), so the cluster store holds enough rows for several files
    def batchDocs(b: Long) = (b * 30 until (b + 1) * 30).map { id =>
      if (id % 3 == 0 && id > 0) (id, text(id / 3).split(" ", 2)(1)) else (id, text(id))
    }.toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft_vs_cm").toString
    try withoutDictionary {
      def run(b: Long): Unit = ClusterMaintenance.processBatch(batchDocs(b), b, root,
        "doc_id", "text", compactEvery = 3, compactTargetRows = 20)
      (0L to 3L).foreach(run)
      def clusters = ClusterMaintenance.loadClusters(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = clusters
      assert(want.exists { case (d, c) => d != c }, "no cross-doc cluster formed")
      assertUntouched(s"$root/postings_compact/v=3", s"$root/clusters_compact/v=3")(run(3L))
      assert(clusters == want)
      CachePool.drain()

      assertCompactLayout(s"$root/postings_compact/v=3", Seq("sh"), Seq("sh"))
      assertCompactLayout(s"$root/clusters_compact/v=3", Seq("cluster_id", "doc_id"),
        Seq("cluster_id", "doc_id"))
    } finally rm(root)
  }

  test("SemDeDupStream: a replayed compacting batch keeps v=b's files and the verdicts; corpus and verdicts compact layouts") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vs_sds").toString
    try withoutDictionary {
      val model = graft.queries.SimilarityQ.semdedupModel(spark, sfDir)
      val subBits = graft.queries.SimilarityQ.semdedupSubBits(
        graft.sources.Tables.embeddingCount(spark, sfDir))
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
        .select($"vec_id", graft.functions.VectorFunctions.vec($"embedding").as("v"))
      val aug = graft.queries.Aug.embCopies(emb)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      def run(b: Int): Unit = SemDeDupStream.processBatch(
        aug.filter(_._1 % 3 == b).toDF("vec_id", "v"), b, root, model, tau = 0.92,
        subBits = subBits, compactEvery = 2, compactTargetRows = 200, maxPushdownKeys = 100000)
      (0 to 2).foreach(run)
      def verdicts = SemDeDupStream.loadVerdicts(spark, root).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), Option(r.get(3)))).toSet
      val want = verdicts
      assert(want.exists(!_._3), "no vector was dropped")
      assertUntouched(s"$root/corpus_compact/v=2", s"$root/verdicts_compact/v=2")(run(2))
      assert(verdicts == want)
      CachePool.drain()

      assertCompactLayout(s"$root/corpus_compact/v=2", Seq("ck"), Seq("ck"))
      assertCompactLayout(s"$root/verdicts_compact/v=2", Seq("vec_id"), Seq("vec_id"))
    } finally rm(root)
  }

  test("IVF stores: one cell= directory per cell in the compact versions; a replayed compaction keeps them") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vs_ivf").toString
    val rootCdc = Files.createTempDirectory("graft_vs_ivfcdc").toString
    try {
      val model = graft.queries.SimilarityQ.ivfModel(spark, sfDir)
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
        .select($"vec_id", graft.functions.VectorFunctions.vec($"embedding").as("v"))
      def cellsOf(df: org.apache.spark.sql.DataFrame) =
        IvfIndex.assignCells(df, model).select($"cell").distinct().collect().map(_.getInt(0)).toSet

      (0 until 4).foreach(b => IvfStream.processBatch(emb.filter($"vec_id" % 4 === b), b, root, model))
      IvfStream.compact(spark, root, 3)
      assertOneDirPerCell(s"$root/compact/v=3", cellsOf(emb.filter($"vec_id" % 4 < 3)))
      assertUntouched(s"$root/compact/v=3")(IvfStream.compact(spark, root, 3))

      // changelog: insert everything, delete vec_id % 3 == 0; the
      // compact version holds only the live rows' cells
      IvfChangelog.processBatch(emb.withColumn("row_kind", lit("+I")), 0, rootCdc, model)
      IvfChangelog.processBatch(
        emb.filter($"vec_id" % 3 === 0).withColumn("row_kind", lit("-D")), 1, rootCdc, model)
      IvfChangelog.compact(spark, rootCdc, 2)
      assertOneDirPerCell(s"$rootCdc/compact/v=2", cellsOf(emb.filter($"vec_id" % 3 =!= 0)))
    } finally rm(root, rootCdc)
  }
}
