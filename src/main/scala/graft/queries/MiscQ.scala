package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Det
import graft.operators.Multimodal
import graft.sources.Tables

/** Datagen source (q23) + multimodal decode plumbing (q36).
  *
  * q23 re-expresses the reference's rate-limited printable-payload
  * generator (DataGen2ES/RandomPrintableDataGenerator.java +
  * DataGeneratorSource; CustomSource/CustomSourceV2.java) as a
  * deterministic `spark.range`-derived source — in batch for the
  * oracle; the streaming twin (`rate` source) is exercised in
  * graft.streaming tests. Deterministic (seeded arithmetic, chars
  * 32..126) where the reference used SecureRandom, so results are
  * reproducible and oracle-checkable.
  */
object MiscQ extends QueryPack {

  /** Build the Z-order-clustered events artifact for `d` once per
    * session ([[graft.tools.SessionArtifacts.ensure]]): events
    * rewritten via [[graft.operators.Layout.zorderWrite]] on
    * (user_id, value), file count from measured input bytes (~128 MiB
    * targets, right-sized from sf0.001 to 100 TB). One-time indexing
    * cost — Bench times it under its own `q115_zorder_build` line
    * (the q38_train / q41_clusters_build split); q115 then measures
    * the PROBE against the at-rest layout, which is the recurring
    * cost a lake user actually pays. */
  def ensureZorder(s: SparkSession, d: String): String =
    graft.tools.SessionArtifacts.ensure(s, "zorder", d, s"$d/events.parquet") {
      (dir, files) => graft.operators.Layout.zorderWrite(
        // not fanned out (r17): the z-interleave is bit arithmetic —
        // too light ahead of the range exchange it feeds (0.82 ->
        // 1.18 measured with the fan-out, reverted)
        Tables.events(s, d), dir, Seq("user_id", "value"), files)
    }

  /** Bench-only: forget + delete the artifact so `q115_zorder_build`
    * reps each pay the full quantile + range-write chain. */
  def invalidateZorder(s: SparkSession, d: String): Unit =
    graft.tools.SessionArtifacts.invalidate(s, "zorder", d)

  /** The event_ids q116 probes — present at every sf (event_id domain
    * is 0..N-1 with N ≥ 1000 from sf0.001 up), plus one absent id so
    * the bloom's certainty-of-absence path is exercised in the same
    * query the oracle checks. */
  val ProbeIds: Seq[Long] = Seq(3L, 131L, 459L, 700L, 888L, -5L)

  /** Build the manifest-indexed events artifact for `d` once per
    * session: events VALUE-clustered ([[graft.operators.Layout.clusteredWrite]]),
    * then a [[graft.operators.Manifest]] with zone maps on `value`
    * and a per-file Bloom on `event_id`. minFiles=16: the manifest's
    * pruning granule is the FILE, so the floor keeps it alive at toy
    * scale. Bloom pruning is exactly the case zone maps cannot serve:
    * event_id is uncorrelated with the value clustering, so every
    * file's id range spans the domain. */
  def ensureManifest(s: SparkSession, d: String): String =
    graft.tools.SessionArtifacts.ensure(s, "manifest", d,
      s"$d/events.parquet", minFiles = 16) { (dir, files) =>
      graft.operators.Layout.clusteredWrite(
        // not fanned out (r17) — ensureZorder's rationale
        Tables.events(s, d), dir, Seq("value"), files)
      graft.operators.Manifest.write(s, dir, Seq("value"), Some("event_id"))
    }

  /** Bench-only: forget + delete so `q116_manifest_build` reps pay
    * the full cluster-write + two manifest passes. */
  def invalidateManifest(s: SparkSession, d: String): Unit =
    graft.tools.SessionArtifacts.invalidate(s, "manifest", d)

  def defs: Map[String, Q] = Map(
    "q23_datagen" -> ((s, _) => {
      import s.implicits._
      s.range(0, 1000).select(
        $"id",
        expr("concat_ws('', transform(sequence(0, 63), i -> chr(32 + (id * 31 + i * 17) % 95)))")
          .as("payload"))
    }),

    // Dynamic rule matching (batch twin of the streaming
    // broadcast-state pattern — streaming.BroadcastRules): a KB-scale
    // rules table (one threshold per event type, deterministically
    // derived so the oracle can rebuild it) broadcast against the
    // events stream — the alert join runs map-side, events never
    // shuffle, exactly the property Flink's broadcast state buys.
    "q83_rule_match" -> ((s, d) => {
      import s.implicits._
      val rules = Tables.events(s, d).select($"event_type").distinct()
        .select(
          $"event_type".as("__rt"),
          (pmod(length($"event_type") * 9973, lit(65536))).cast("long").as("min_cents"))
      val ev = Tables.events(s, d).select(
        $"event_id", $"event_type", Det.cents($"value").as("cents"))
      ev.join(broadcast(rules), $"event_type" === $"__rt" && $"cents" >= $"min_cents")
        .select($"event_id", $"event_type", $"cents", $"min_cents")
    }),

    // Predicate rules (batch twin of streaming.BroadcastRules'
    // predicate variant — round 13): each rule carries an arbitrary
    // SQL predicate over the event columns, compiled via the
    // injection-guarded expr() path into ONE codegen'd projection —
    // no join, no shuffle, no broadcast; the rules live inside the
    // generated code. The four predicates exercise distinct column
    // sets, IN-lists, BETWEEN, and modular arithmetic; the oracle
    // replays them literally as a UNION ALL.
    "q86_pred_rules" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select(
        $"event_id", $"user_id", $"event_type",
        Det.cents($"value").as("cents"))
      graft.streaming.BroadcastRules.matchEventsPred(ev, Seq(
          1L -> "event_type = 'error' AND cents >= 500",
          2L -> "event_type = 'click' AND user_id % 10 = 0",
          3L -> "cents >= 900",
          4L -> "event_type IN ('view', 'click') AND cents BETWEEN 100 AND 200"))
        .select($"event_id", $"rule_id")
    }),

    // Z-order layout probe (round 15): the SAME rows as a plain
    // events filter — the oracle pins result identity through the
    // rewrite — but served from the Z-order-clustered at-rest copy,
    // where a predicate on value (the TRAILING cluster key, which a
    // lexicographic (user_id, value) layout cannot prune on at all)
    // reads only the row groups whose interleaved cell range overlaps
    // the value slab. LayoutSpec measures the pruning from the scan
    // node's own metrics; this line measures the probe cost a lake
    // user pays per query once the layout is amortized.
    "q115_zorder_scan" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(ensureZorder(s, d))
        .filter($"value".between(42.0, 58.0))
        .select($"event_id", $"user_id", $"event_type", $"value")
    }),

    // File-skipping point lookup (round 15): the SAME rows as a plain
    // `event_id IN (…)` filter — the oracle pins result identity —
    // but served through the at-rest manifest, where the per-file
    // Bloom on event_id prunes the FILE LIST before any parquet
    // footer is read. This is the lookup shape zone maps (and q115's
    // clustering) cannot help: the probe key is uncorrelated with the
    // layout, so every file's id min/max spans the domain and only
    // certainty-of-absence skips files. The residual isin filter
    // keeps exactness (bloom FPs contribute files, never rows).
    "q116_bloom_skip" -> ((s, d) => {
      import s.implicits._
      graft.operators.Manifest
        .prunedRead(s, ensureManifest(s, d), bloomAnyOf = ProbeIds)
        .filter($"event_id".isin(ProbeIds: _*))
        .select($"event_id", $"user_id", $"event_type", $"value")
    }),

    "q36_multimodal_meta" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(
        $"doc_id",
        element_at(array(lit("png"), lit("jpeg"), lit("wav")), (pmod($"doc_id", lit(3)) + 1).cast("int")).as("fmt"),
        (lit(16) + pmod($"doc_id", lit(32)) * 4).cast("int").as("width"),
        (lit(16) + pmod($"doc_id", lit(24)) * 4).cast("int").as("height"),
        $"text".cast("binary").as("payload"))
      Multimodal.decode(media.as[Multimodal.MediaRow])
    })
  )

  def oracles: Map[String, String] = Map(
    // The layout rewrite must not change a row: the oracle is the
    // same filter on the ORIGINAL table. `value` passes through both
    // engines unmodified (no arithmetic), so the stored doubles
    // compare and hash identically.
    "q115_zorder_scan" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE value BETWEEN 42.0 AND 58.0""".stripMargin,

    // The manifest path must not change a row: the oracle is the same
    // IN-filter on the ORIGINAL table (the -5 probe matches nothing
    // in either engine — it exists to drive the bloom's absence path).
    "q116_bloom_skip" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id IN (3, 131, 459, 700, 888, -5)""".stripMargin,

    "q83_rule_match" ->
      """WITH rules AS (
        |  SELECT DISTINCT event_type,
        |    CAST((length(event_type) * 9973) % 65536 AS BIGINT) AS min_cents
        |  FROM events)
        |SELECT e.event_id, e.event_type,
        |  CAST(round(e.value * 100) AS BIGINT) AS cents, r.min_cents
        |FROM events e JOIN rules r ON e.event_type = r.event_type
        |WHERE CAST(round(e.value * 100) AS BIGINT) >= r.min_cents""".stripMargin,

    "q86_pred_rules" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, CAST(rule_id AS BIGINT) AS rule_id FROM (
        |  SELECT event_id, 1 AS rule_id FROM ev
        |    WHERE event_type = 'error' AND cents >= 500
        |  UNION ALL
        |  SELECT event_id, 2 FROM ev
        |    WHERE event_type = 'click' AND user_id % 10 = 0
        |  UNION ALL
        |  SELECT event_id, 3 FROM ev WHERE cents >= 900
        |  UNION ALL
        |  SELECT event_id, 4 FROM ev
        |    WHERE event_type IN ('view', 'click') AND cents BETWEEN 100 AND 200)""".stripMargin,

    "q23_datagen" ->
      """SELECT id,
        |  array_to_string(list_transform(range(0, 64), i -> chr((32 + (id * 31 + i * 17) % 95)::INT)), '') AS payload
        |FROM range(0, 1000) t(id)""".stripMargin,

    // octet_len/checksum are over the UTF-8 BYTES of text (the Spark
    // side casts text to binary): strlen = byte length, and the
    // checksum folds each codepoint's UTF-8 byte-sum (1–4 byte forms)
    // so parity holds for non-ASCII text too, not just this corpus.
    "q36_multimodal_meta" ->
      """SELECT doc_id,
        |  ['png', 'jpeg', 'wav'][(doc_id % 3)::INT + 1] AS fmt,
        |  (16 + (doc_id % 32) * 4)::INT AS width,
        |  (16 + (doc_id % 24) * 4)::INT AS height,
        |  strlen(text)::BIGINT AS octet_len,
        |  (list_sum(list_transform(regexp_split_to_array(text, ''), c -> CASE
        |     WHEN unicode(c) < 128 THEN unicode(c)
        |     WHEN unicode(c) < 2048 THEN 320 + (unicode(c) // 64) + (unicode(c) % 64)
        |     WHEN unicode(c) < 65536 THEN 480 + (unicode(c) // 4096) + ((unicode(c) // 64) % 64) + (unicode(c) % 64)
        |     ELSE 624 + (unicode(c) // 262144) + ((unicode(c) // 4096) % 64) + ((unicode(c) // 64) % 64) + (unicode(c) % 64)
        |   END))::BIGINT % 9973) AS checksum
        |FROM documents""".stripMargin
  )
}
