package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Fingerprint

/** SQL-surface registration of the native expressions. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("graft functions callable from SQL after registration") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_fingerprint('hello world') AS fp,
        |       graft_vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |       graft_hyperplane_bits(array(1.0d, -1.0d), 4) AS bits""".stripMargin).head
    assert(row.getLong(0) == Fingerprint.hash("hello world"))
    assert(row.getDouble(1) == 11.0)
    assert(row.getSeq[Int](2).length == 4)
  }

  test("graft_shingle_keys and graft_simhash60 callable from SQL, matching the Column API") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_shingle_keys('one two three four five six', 5) AS sk,
        |       graft_simhash60('alpha beta alpha') AS sh""".stripMargin).head
    val viaCol = Seq(("one two three four five six", "alpha beta alpha")).toDF("a", "b")
      .select(graft.functions.ShingleKeys.shingleKeys($"a", 5).as("sk"),
        graft.functions.SimHash60.simhash60($"b").as("sh")).head
    assert(row.getSeq[Long](0) == viaCol.getSeq[Long](0))
    assert(row.getSeq[Long](0).length == 2)
    assert(row.getLong(1) == viaCol.getLong(1))
    val grams = spark.sql("SELECT graft_ngrams('a b a b', 2) AS g").head.getSeq[String](0)
    assert(grams == Seq("a b", "b a", "a b")) // occurrence-preserving
  }

  test("graft_sq8_encode / graft_sq8_dot callable from SQL, matching the Column API") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // a 3-4-5 triangle normalizes to (0.6, 0.8): codes floor to
    // (76, 102); self-dot = 76^2 + 102^2
    val row = spark.sql(
      """SELECT graft_sq8_encode(array(3.0d, 4.0d)) AS code,
        |       graft_sq8_dot(graft_sq8_encode(array(3.0d, 4.0d)),
        |                     graft_sq8_encode(array(3.0d, 4.0d))) AS dp""".stripMargin).head
    assert(row.getAs[Array[Byte]](0).toSeq == Seq[Byte](76, 102))
    assert(row.getLong(1) == 76L * 76 + 102L * 102)
    val viaCol = Seq(Tuple1(Seq(3.0, 4.0))).toDF("v")
      .select(graft.functions.VectorExpressions.sq8Encode($"v").as("code")).head
    assert(viaCol.getAs[Array[Byte]](0).toSeq == Seq[Byte](76, 102))
  }

  test("graft_minhash_sig and graft_simhash aggregates callable from SQL, matching the Column API") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val rows = Seq((1L, 17L, 3L), (1L, 99L, 2L), (2L, 42L, 1L), (2L, 7L, 5L))
      .toDF("id", "h", "tf")
    rows.createOrReplaceTempView("mh_rows")
    val viaSql = spark.sql(
      """SELECT id, graft_minhash_sig(h, 8) AS sig, graft_simhash(tf, h) AS sh
        |FROM mh_rows GROUP BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).sortBy(_._1).toSeq
    val viaCol = rows.groupBy($"id")
      .agg(graft.functions.MinHashSig.minhashSig($"h", 8).as("sig"),
        graft.functions.SimHashAgg.simhashAgg($"tf", $"h").as("sh"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).sortBy(_._1).toSeq
    assert(viaSql == viaCol)
    assert(viaSql.map(_._2.length).forall(_ == 8))
    // partial aggregation must kick in (map-side combine is the point
    // of the sketch shape): the plan has two HashAggregate levels
    val plan = spark.sql(
      "SELECT id, graft_minhash_sig(h, 8) FROM mh_rows GROUP BY id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_minhash_sig"), s"no partial aggregate in:\n$plan")
  }

  test("graft_kmv / graft_kmv_arr / graft_mg_candidates aggregates from SQL, matching the typed kernels") {
    import org.apache.spark.sql.{Encoders, functions => F}
    import spark.implicits._
    GraftExtensions.register(spark)
    // 1200 distinct 60-bit keys per group (saturates k=64), spread over
    // 7 partitions so the merge path runs
    val df = (0 until 5000).map { i =>
      ((i % 2).toLong, ((i % 1200).toLong * 961748927L) & ((1L << 60) - 1))
    }.toDF("g", "h").repartition(7)
    df.createOrReplaceTempView("kmv_rows")
    val viaSql = spark.sql(
      """SELECT g, graft_kmv(h, 64) AS sk, graft_kmv_arr(h, 64) AS arr
        |FROM kmv_rows GROUP BY g ORDER BY g""".stripMargin).collect()
    // typed path (the same kernel object underneath)
    val kmvU = F.udaf(new graft.functions.KmvSketch(64), Encoders.scalaLong)
    val arrU = F.udaf(new graft.functions.KmvArraySketch(64), Encoders.scalaLong)
    val viaTyped = df.groupBy($"g")
      .agg(kmvU($"h").as("sk"), arrU($"h").as("arr")).orderBy($"g").collect()
    viaSql.zip(viaTyped).foreach { case (s, t) =>
      val (ss, ts) = (s.getStruct(1), t.getStruct(1))
      assert(ss.getLong(0) === ts.getLong(0))   // k_used
      assert(ss.getLong(1) === ts.getLong(1))   // kth_min
      assert(ss.getDouble(2) === ts.getDouble(2)) // est_distinct
      assert(s.getSeq[Long](2) === t.getStruct(2).getSeq[Long](1)) // bottom-k array
      assert(ss.getLong(0) === 64L) // saturated: the estimate branch ran
    }
    // map-side partial aggregation carries sketches, not rows
    val plan = spark.sql("SELECT g, graft_kmv(h, 64) FROM kmv_rows GROUP BY g")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_kmv"), s"no partial aggregate in:\n$plan")

    // MG: freq("hot") = 667, freq("warm") = 266, both > N/k = 2000/8
    // = 250 -> GUARANTEED present under any partitioning; <= 8 counters
    val toks = (0 until 2000).map { i =>
      if (i % 3 == 0) "hot" else if (i % 5 == 0) "warm" else s"t${i % 400}"
    }.toDF("tok").repartition(7)
    toks.createOrReplaceTempView("mg_rows")
    val cand = spark.sql("SELECT graft_mg_candidates(tok, 8) AS c FROM mg_rows")
      .head.getSeq[String](0)
    assert(cand.contains("hot") && cand.contains("warm"), s"guarantee violated: $cand")
    assert(cand.length <= 8)
    val viaCol = toks.agg(
      graft.functions.MgCandidates.mgCandidates($"tok", 8).as("c")).head.getSeq[String](0)
    assert(cand === viaCol) // SQL and Column API compile to the same aggregate
  }

  test("graft_cents callable from SQL, matching Det.cents on doubles, decimals and NULL") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // x * 100 of 1.005 falls just below the half (100.49999…); 2.675
    // and -0.125 land exactly on 267.5 and -12.5 and round away from 0
    val df = Seq(Some(1.005), Some(2.675), Some(-0.125), Some(19.99), None).toDF("x")
    df.createOrReplaceTempView("cents_rows")
    def longs(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq
    val viaSql = longs(spark.sql("SELECT graft_cents(x) FROM cents_rows"))
    val viaCol = longs(df.select(graft.functions.Det.cents($"x")))
    assert(viaSql == viaCol)
    assert(viaCol == Seq(Some(100L), Some(268L), Some(-13L), Some(1999L), None))
    assert(spark.sql("SELECT graft_cents(CAST(-1.25 AS DECIMAL(12,2)))").head.getLong(0) == -125L)
  }

  test("graft_hyperplane_bits accepts BIGINT literals and rejects non-integral args at analysis") {
    GraftExtensions.register(spark)
    // BIGINT literal (SQL `4L`) must coerce, not ClassCastException
    val bits = spark.sql("SELECT graft_hyperplane_bits(array(1.0d, -1.0d), 4L) AS b").head.getSeq[Int](0)
    assert(bits.length == 4)
    // non-integral literal → AnalysisException at plan time
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_hyperplane_bits(array(1.0d), 'x')").head
    }
    assert(e1.getMessage.contains("graft_hyperplane_bits"))
    // out-of-range plane count → AnalysisException, not runtime AIOOBE
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_hyperplane_bits(array(1.0d), 100000)").head
    }
    assert(e2.getMessage.contains("graft_hyperplane_bits"))
  }

  test("graft_ahash callable from SQL, matching the kernel; NULL for undecodable payloads") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // a real 16x16 PNG: perceptual hash must match the kernel object
    val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(y => (0 until 16).foreach { x =>
      val v = x * 17
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    })
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val png = out.toByteArray
    Seq((1L, png), (2L, Array[Byte](1, 2, 3))).toDF("id", "payload")
      .createOrReplaceTempView("ah_rows")
    val got = spark.sql("SELECT id, graft_ahash(payload) AS h FROM ah_rows ORDER BY id").collect()
    assert(got(0).getLong(1) == graft.operators.Multimodal.AHash60.hash(png).get)
    // undecodable bytes -> NULL (the SQL twin of decoded = false)
    assert(got(1).isNullAt(1))
    // binary-typed argument is enforced at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_ahash(42)").queryExecution.analyzed
    }
    // but an untyped NULL literal behaves like every builtin: NULL out
    assert(spark.sql("SELECT graft_ahash(NULL) AS h").head.isNullAt(0))
  }

  // ---- media family from pure SQL (the format-DDL UX) ------------------

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Smooth deterministic scene → JPEG at (w, h); resolution-
    * independent sampling so re-renders at other dims aHash-match. */
  private def sceneJpeg(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val f = 1 + (mix(seed) & 3L); val p = (mix(seed + 1) & 1023L) / 1024.0
    val g2 = 1 + (mix(seed + 2) & 3L)
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        val s = math.sin(2 * math.Pi * (f * (x + 0.5) / w + p)) *
          math.cos(2 * math.Pi * (g2 * (y + 0.5) / h))
        val v = math.max(0, math.min(255, (127.5 * (1 + 0.8 * s)).toInt))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** 1-second WAV whose amplitude envelope (120 segments, 2 per
    * AudioHash60 slice) is deterministic in `seed` — the same
    * envelope at ANY sample rate yields the same audio hash. */
  private def envWav(rate: Int, seed: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = rate
    val bytes = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val seg = i.toLong * 120 / n
      val amp = 0.15 + 0.85 * ((mix(seed * 131 + seg) & 1023L) / 1023.0)
      val s = (amp * math.sin(2 * math.Pi * 440 * i / rate) * 30000).toInt.toShort
      bytes(2 * i) = (s & 0xff).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** The simhash band-blocking pipeline as ONE reusable SQL tail:
    * band-explode `h`, self-join on (band, key), exact hamming ≤ 3 —
    * the Dedup.simhashPairs plan, writable by a pure-SQL user. */
  private def bandPairsSql(hashedView: String): String =
    s"""WITH banded AS (
       |  SELECT id, h, band, bkey
       |  FROM $hashedView
       |  LATERAL VIEW posexplode(transform(sequence(0, 3), b -> shiftright(h, b * 15) % 32768))
       |    AS band, bkey),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    bit_count(a.h ^ b.h) AS hamming
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.id < b.id)
       |SELECT id_a, id_b FROM cand WHERE hamming <= 3""".stripMargin

  test("image near-dup from spark.sql only: graft_ahash + band-blocking SQL finds the cross-resolution pair") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // 2 is a re-render of scene 1 at a different resolution; 3 unrelated
    Seq((1L, sceneJpeg(7, 64, 48)), (2L, sceneJpeg(7, 96, 72)),
        (3L, sceneJpeg(1234, 64, 48)), (4L, Array[Byte](9, 9, 9)))
      .toDF("id", "payload").createOrReplaceTempView("media_imgs")
    spark.sql(
      """SELECT id, graft_ahash(payload) AS h FROM media_imgs
        |WHERE graft_ahash(payload) IS NOT NULL""".stripMargin)
      .createOrReplaceTempView("img_hashed")
    val pairs = spark.sql(bandPairsSql("img_hashed"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"cross-resolution pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated image matched: $pairs")
  }

  test("audio near-dup from spark.sql only: graft_audiohash finds the cross-rate re-encode") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // 2 is the same recording as 1 resampled to 16 kHz; 3 unrelated
    Seq((1L, envWav(8000, 5)), (2L, envWav(16000, 5)),
        (3L, envWav(8000, 999)), (4L, Array[Byte](1, 2)))
      .toDF("id", "payload").createOrReplaceTempView("media_wavs")
    spark.sql(
      """SELECT id, graft_audiohash(payload) AS h FROM media_wavs
        |WHERE graft_audiohash(payload) IS NOT NULL""".stripMargin)
      .createOrReplaceTempView("wav_hashed")
    val pairs = spark.sql(bandPairsSql("wav_hashed"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"cross-rate pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated clip matched: $pairs")
    // kernel parity with the typed path
    val sqlHash = spark.sql("SELECT graft_audiohash(payload) FROM media_wavs WHERE id = 1").head.getLong(0)
    assert(sqlHash == graft.operators.Multimodal.AudioHash60.hash(envWav(8000, 5)).get)
  }

  test("video near-dup from spark.sql only: graft_framehashes explodes to frame rows; shared-frame videos pair") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // videos 1 and 2 share two frames (a re-cut); 3 is unrelated
    val mj1 = sceneJpeg(10, 64, 48) ++ sceneJpeg(11, 64, 48) ++ sceneJpeg(12, 64, 48)
    val mj2 = sceneJpeg(12, 64, 48) ++ sceneJpeg(11, 64, 48) ++ sceneJpeg(77, 64, 48)
    val mj3 = sceneJpeg(500, 64, 48) ++ sceneJpeg(501, 64, 48)
    Seq((1L, mj1), (2L, mj2), (3L, mj3), (4L, Array[Byte](0, 0)))
      .toDF("id", "payload").createOrReplaceTempView("media_vids")
    // undecodable → empty array → zero frame rows, never NULL/crash
    assert(spark.sql("SELECT size(graft_framehashes(payload, 8)) FROM media_vids WHERE id = 4").head.getInt(0) == 0)
    spark.sql(
      """SELECT id * 1024 + frame_idx AS id, h
        |FROM media_vids
        |LATERAL VIEW posexplode(graft_framehashes(payload, 8)) AS frame_idx, h""".stripMargin)
      .createOrReplaceTempView("frame_hashed")
    val vidPairs = spark.sql(
      s"""SELECT va, vb, count(DISTINCT fa) AS matching
         |FROM (
         |  SELECT id_a div 1024 AS va, id_a % 1024 AS fa,
         |         id_b div 1024 AS vb, id_b % 1024 AS fb
         |  FROM (${bandPairsSql("frame_hashed")})
         |) WHERE va <> vb
         |GROUP BY va, vb HAVING count(DISTINCT fa) >= 2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(vidPairs == Set((1L, 2L)), s"expected only the re-cut pair: $vidPairs")
  }
}
