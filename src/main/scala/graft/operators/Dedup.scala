package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY §2 q24–q27): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB): no operator ever materializes the O(n²)
  * pair space. Exact dedup shuffles once on the content hash; Jaccard
  * blocks on shared shingles; MinHash blocks on LSH band keys
  * (shuffle O(n·bands)); SimHash blocks on 15-bit hamming bands
  * (pigeonhole: any pair within distance 3 shares one of 4 bands).
  * Candidate verification is always restricted to blocked pairs.
  *
  * All hashing is md5-derived or plain integer arithmetic so an
  * oracle SQL engine replays signatures exactly.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1

  /** Exact dedup by content hash: one row per distinct content with the
    * minimal id as the keeper and the duplicate count. */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct word `n`-gram shingles: (id, shingle). */
  def shingles(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val words = filter(split(text, " "), w => w =!= "")
    df.select(
      id.as("id"),
      explode(
        when(size(words) >= n,
          transform(sequence(lit(0), size(words) - n), i => concat_ws(" ", slice(words, i + lit(1), lit(n)))))
          .otherwise(array().cast("array<string>"))).as("shingle"))
      .distinct()
  }

  /** 60-bit md5-derived shingle key — the join/shuffle currency of the
    * Jaccard and MinHash paths (8-byte keys instead of ~30-char
    * strings on every exchange; collisions are ~2^-60 AND
    * oracle-consistent, since both engines hash identically). */
  private def shingleKey(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 15), 16, 10).cast("long")

  /** (id, sh) distinct hashed shingle sets from the string-shingle
    * form ([[shingles]]) — the relational reference path; see
    * [[hashedShingleSets]] for the production single-pass kernel. */
  def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("id"), shingleKey(col("shingle")).as("sh")).distinct()

  /** (id, sh) distinct hashed shingle sets in ONE codegen'd scan
    * ([[graft.functions.ShingleKernel]]): tokenize → slide → md5 →
    * per-doc dedup inside the expression, so there is no interpreted
    * HOF lambda in the hot path and no global distinct SHUFFLE — the
    * keys come out of the scan already distinct per doc. Values are
    * identical to [[hashedShingles]]∘[[shingles]] (same md5-derived
    * 60-bit keys, oracle-replayable). */
  def hashedShingleSets(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("id"),
      explode(graft.functions.ShingleKeys.shingleKeys(text, n)).as("sh"))

  /** Drop shingles with document frequency > `cap` from the shingle
    * sets. A shingle shared by k docs yields k² rows in any
    * shared-shingle join, so one boilerplate 5-gram (web headers,
    * license text) becomes an effective cartesian bucket at corpus
    * scale; df-capped shingles carry ~zero similarity signal anyway.
    * The hot set is tiny by construction, so it broadcasts — the
    * anti-join adds no shuffle to the main path. Applies to counts
    * AND joins (callers feed the capped set everywhere), keeping the
    * Jaccard denominator consistent: similarity is over
    * non-boilerplate shingles. Oracle twin: `HAVING count(*) <= cap`
    * semi-join ([[graft.operators.Adaptive.dfCapSql]]). */
  def dfCapped(hs: DataFrame, cap: Long): DataFrame = {
    val hot = hs.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("sh"))
    // USING joins reorder output to [using cols, rest] — reselect to
    // keep the (id, sh) contract downstream positional renames rely on.
    hs.join(broadcast(hot), Seq("sh"), "left_anti")
      .select(col("id"), col("sh"))
  }

  /** Exact Jaccard ≥ `threshold` near-dup pairs via shared-shingle
    * blocking: pairs with zero common shingles are never formed.
    * `hs` = hashed shingle sets ([[hashedShingles]]); callers reusing
    * the set across stages should persist it (it feeds counts and the
    * pair join — two subtrees that otherwise recompute). */
  def jaccardPairsHashed(hs: DataFrame, threshold: Double): DataFrame = {
    val counts = hs.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = hs.toDF("id_a", "sh")
      .join(hs.toDF("id_b", "sh"), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.toDF("id_a", "n_a"), "id_a")
      .join(counts.toDF("id_b", "n_b"), "id_b")
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** (id, sig array<long>) MinHash signatures from `numHashes`
    * universal hashes h_i(x) = (a_i·x + b_i) mod P, via the native
    * sketch aggregate [[graft.functions.MinHashSig]] — one
    * signature per group rides the shuffle, with map-side combine. */
  def minhashSignatures(hs: DataFrame, numHashes: Int): DataFrame =
    hs.select(col("id"), (col("sh") % P).as("h0"))
      .groupBy(col("id"))
      .agg(graft.functions.MinHashSig.minhashSig(col("h0"), numHashes).as("sig"))

  /** LSH candidate pairs: docs sharing any band key (band = `rowsPerBand`
    * consecutive signature entries). Signatures shorter than one band
    * produce zero bands (the unguarded `sequence(0, -1)` would emit a
    * bogus band slicing from the array end). */
  def lshCandidates(sig: DataFrame, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1, s"rowsPerBand must be >= 1, got $rowsPerBand")
    val bands = sig.select(col("id"),
      posexplode(expr(
        s"""if(size(sig) >= $rowsPerBand,
           |  transform(sequence(0, size(sig) div $rowsPerBand - 1), b ->
           |    concat_ws(',', transform(slice(sig, b * $rowsPerBand + 1, $rowsPerBand), x -> cast(x as string)))),
           |  cast(array() as array<string>))""".stripMargin))
        .as(Seq("band", "key")))
    bands.select(col("id").as("id_a"), col("band"), col("key"))
      .join(bands.select(col("id").as("id_b"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact-duplicate collapse before pairwise verification — the
    * MinHash-LSH spill fix (STRESS rows 56/57): docs with IDENTICAL
    * shingle sets are interchangeable in every downstream step
    * (MinHash is a pure function of the set, so they share every
    * band, every candidate edge, and every Jaccard value), yet the
    * verify join pays for each of them separately — and exact-dup
    * CLIQUES square: 100 copies of a doc turn one candidate edge
    * into 10⁴, and the per-pair shingle expansion that rides the
    * verify shuffle (candidates × ~shingles rows, materialized as
    * join output so no map-side combine can collapse it — unlike
    * q25's postings fold) blows past local scratch. Collapsing each
    * set to its min-id representative first runs LSH + verify on
    * the DISTINCT sets only; [[expandExactPairs]] restores the full
    * pair set afterwards, output-bound. Candidate bound unchanged —
    * Σ bucket² over reps is strictly ≤ the uncollapsed bound. A
    * corpus with no exact dups pays one extra shingle-set
    * fingerprint aggregation; a real web corpus (or the 100×
    * replicated gate) collapses orders of magnitude.
    *
    * Returns (id, rep): every doc with at least one shingle mapped
    * to its group's min id. The fingerprint is the md5 of the
    * SORTED shingle-key list — order-independent, 128-bit (no
    * observable collision mass at any corpus size), and shingle
    * sets are already capped upstream so the concat is bounded. */
  def exactShingleGroups(hs: DataFrame): DataFrame = {
    val fp = hs.groupBy(col("id"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("sh"))))).as("fp"))
    fp.select(col("id"),
      min(col("id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))).as("rep"))
  }

  /** Expand representative-level verified pairs back to the full doc
    * pair set (the inverse of [[exactShingleGroups]]'s collapse):
    *  - INTRA-group: every ordered pair inside one exact-dup group is
    *    a Jaccard-1.0 near-dup (same set) — exactly what the
    *    uncollapsed pipeline verifies them to;
    *  - INTER-group: each verified rep pair fans out to all cross
    *    pairs of the two groups, inheriting the reps' Jaccard (the
    *    members' sets ARE the reps' sets), oriented id_a < id_b.
    * Both steps are output-bound: no intermediate exceeds the final
    * pair count. */
  def expandExactPairs(repPairs: DataFrame, groups: DataFrame): DataFrame = {
    val members = groups.select(col("rep"), col("id"))
    val intra = members.toDF("rep", "id_a")
      .join(members.toDF("rep", "id_b"), "rep")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    val inter = repPairs.toDF("rep_a", "rep_b", "jaccard")
      .join(members.toDF("rep_a", "a"), "rep_a")
      .join(members.toDF("rep_b", "b"), "rep_b")
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("jaccard"))
    intra.unionByName(inter)
  }

  /** Exact-Jaccard verification restricted to candidate pairs (the
    * LSH scale path: work is O(candidates·shingles), never O(n²)). */
  def verifyJaccard(candidates: DataFrame, hs: DataFrame, threshold: Double): DataFrame = {
    val counts = hs.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(hs.toDF("id_a", "sh"), "id_a")
      .join(hs.toDF("id_b", "sh_b"), "id_b")
      .filter(col("sh") === col("sh_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.toDF("id_a", "n_a"), "id_a")
      .join(counts.toDF("id_b", "n_b"), "id_b")
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Containment pairs: |A∩B| / |A| >= threshold — the asymmetric
    * near-SUPERSET measure (doc A mostly contained in B: quotes,
    * aggregator pages, boilerplate-wrapped copies that Jaccard misses
    * because the symmetric union denominator dilutes them). Same
    * shared-shingle blocking as [[jaccardPairsHashed]]; emits ordered
    * (contained, container) pairs both ways when both directions
    * clear the threshold. */
  def containmentPairs(hs: DataFrame, threshold: Double): DataFrame = {
    val counts = hs.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = hs.toDF("id_a", "sh")
      .join(hs.toDF("id_b", "sh"), "sh")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.toDF("id_a", "n_a"), "id_a")
      .withColumn("containment", col("inter").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a").as("contained_id"), col("id_b").as("container_id"), col("containment"))
  }

  /** 60-bit SimHash per doc from term-frequency-weighted word hashes,
    * via the native sketch aggregate [[graft.functions.SimHashAgg]]
    * (one 60-counter buffer per doc on the shuffle, map-side combine). */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame = {
    val words = filter(split(text, " "), w => w =!= "")
    df.select(id.as("id"), explode(words).as("word"))
      .groupBy(col("id"), col("word")).agg(count(lit(1)).as("tf"))
      .withColumn("h", conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long"))
      .groupBy(col("id"))
      .agg(graft.functions.SimHashAgg.simhashAgg(col("tf"), col("h")).as("simhash"))
  }

  /** Connected components over a near-dup pair graph (id_a, id_b) →
    * (doc_id, cluster_id = min doc id reachable): how a dedup
    * pipeline turns PAIRS into keep/drop decisions (keep the cluster
    * minimum, drop the rest). Distributed min-label propagation WITH
    * POINTER DOUBLING: each round every vertex takes the min label
    * among itself and its neighbors, then jumps to its label's label
    * — so label distance to the component minimum halves per round
    * and convergence is O(log diameter) rounds, not O(diameter)
    * (maxIter 20 covers diameters to ~2^18: a chain of incrementally
    * edited boilerplate can be arbitrarily long without tripping the
    * non-convergence guard). The driver loop only orchestrates
    * rounds — all data movement is joins/aggregations, the same
    * shape GraphX's Pregel runs. */
  /** Edge-count bound below which [[connectedComponents]] collects the
    * pair graph and union-finds on the driver instead of running
    * distributed rounds: 1M edges is ~16 MB and milliseconds of
    * union-find, vs ~6 driver-orchestrated join rounds × 2 jobs each
    * (~300 ms/round of fixed scheduling latency — the q41_build
    * steady-state floor). The SIZE of the pair graph, not the corpus,
    * decides: at 100 TB the full-corpus build exceeds the bound and
    * takes the distributed path, while the contracted graphs the
    * streaming fold produces ([[foldPairsIntoClusters]] — nodes are
    * touched COMPONENTS) stay tiny at any corpus size. Same
    * broadcast-when-small logic as a join. Labels identical either
    * way: both paths assign every vertex its component MINIMUM. */
  val DriverCcMaxEdges: Long = 1000000L

  /** Driver-side exact twin: union-find with path compression, then
    * label = component min. */
  private def driverCc(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // roots are not necessarily component minima mid-stream (union by
    // min root keeps them so here, but derive the min explicitly — the
    // CONTRACT is min-label, not union order)
    val minOf = new java.util.HashMap[Long, Long]()
    parent.keySet().forEach { v =>
      val r = find(v)
      val cur = minOf.getOrDefault(r, Long.MaxValue)
      if (v < cur) minOf.put(r, v)
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach { v =>
      rows.add(org.apache.spark.sql.Row(v, minOf.get(find(v)).longValue()))
    }
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, cluster_id BIGINT"))
  }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    // persist the NARROW pair set (the expensive upstream similarity
    // pipeline), not the doubled edge view — the union just reads the
    // cached pairs twice per use
    val pairsP = pairs.select(col("id_a"), col("id_b")).persist()
    // size-adaptive in ONE action (r18): limit(max+1).collect() both
    // decides the path and, when small, already delivers the edges —
    // the count-then-collect pair it replaces cost one extra
    // scheduling round per CC call (the q41 build and each media keep
    // tail, measured by r17's q64 phase split). Exactly max+1 rows
    // returned means "big": discard the probe (it materialized only
    // part of the cache; the distributed path's first action finishes
    // it) and run the distributed rounds. On the big path CollectLimit's
    // incremental partition scan stops as soon as max+1 rows surface
    // — bounded at ~16 MB of driver traffic at any corpus size.
    val probe = pairsP.limit(driverMaxEdges.toInt + 1).collect()
    if (probe.length <= driverMaxEdges) {
      val edges = probe.map(r => (r.getLong(0), r.getLong(1)))
      pairsP.unpersist(blocking = false)
      return driverCc(spark, edges)
    }
    val edges = pairsP
      .unionByName(pairsP.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // Seed labels with round 1's half-step — min(self, neighbors) — in
    // ONE groupBy (every vertex appears as id_a in the symmetrized
    // edges), instead of a distinct() plus a first full round.
    var labels = edges.groupBy(col("id_a").as("id"))
      .agg(least(min(col("id_b")), col("id_a")).as("label"))
    // Each round is localCheckpoint'd: the doubling SELF-JOIN would
    // otherwise double the logical plan every round (exponential
    // lineage — planning/explain alone OOMs after ~20 rounds), and a
    // checkpoint both truncates the plan and materializes the round.
    // ONE action per round: the count that materializes the checkpoint
    // also fills a changed-labels accumulator, replacing the separate
    // per-round agg job. (An accumulator in a transformation can
    // over-count on task retry — harmless here: inflation can only add
    // a spare no-op round, never terminate early or corrupt labels.)
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // min(self, neighbor labels) in one union+groupBy — no left join;
      // the self branch also carries the round's OLD label out (as the
      // max over the group: the single self row) for the changed test
      val contrib = edges.join(labels, edges("id_b") === labels("id"))
        .select(edges("id_a").as("id"), col("label"), lit(false).as("self"))
        .unionByName(labels.select(col("id"), col("label"), lit(true).as("self")))
      val half = contrib.groupBy(col("id"))
        .agg(min(col("label")).as("lbl1"),
          max(when(col("self"), col("label"))).as("old_label"))
      // checkpoint the half-step BEFORE the doubling self-join: its two
      // sides shuffle on different keys (lbl1 vs id), so exchange reuse
      // cannot kick in and an unmaterialized `half` would run the
      // contrib join + groupBy twice per round
      val halfRdd = half.rdd
      halfRdd.localCheckpoint()
      halfRdd.count() // action 1: contrib + groupBy exactly once
      if (prevRdd != null) prevRdd.unpersist(blocking = false) // round i-1 fed the contrib just materialized
      val halfDf = spark.createDataFrame(halfRdd, half.schema)
      // pointer doubling: follow the (shrunken) label one more hop —
      // labels are vertex ids of the same component, so label-of-label
      // is still a reachable id and strictly no larger
      val jump = halfDf.select(col("id").as("jid"), col("lbl1").as("jlbl"))
      val updated = halfDf.join(jump, halfDf("lbl1") === jump("jid"), "left")
        .select(col("id"), col("old_label"),
          least(col("lbl1"), coalesce(col("jlbl"), col("lbl1"))).as("new_label"))
      val acc = spark.sparkContext.longAccumulator(s"cc-changed-round-$i")
      val nextRdd = updated.rdd.map { r =>
        if (r.get(1) != r.get(2)) acc.add(1L) // boxed equals: same numeric type on both sides
        org.apache.spark.sql.Row(r.get(0), r.get(2))
      }
      nextRdd.localCheckpoint()
      nextRdd.count() // action 2: materializes next labels AND fills the accumulator
      changed = acc.value
      halfRdd.unpersist(blocking = false) // both consumers (join sides) are done
      prevRdd = nextRdd
      val fields = updated.schema.fields
      labels = spark.createDataFrame(nextRdd,
        org.apache.spark.sql.types.StructType(Seq(fields(0), fields(2).copy(name = "label"))))
      i += 1
    }
    pairsP.unpersist(blocking = false)
    // the returned DataFrame reads the final round's checkpoint blocks —
    // they must survive the caller's action, then be dropped on drain()
    if (prevRdd != null) graft.CachePool.trackRdd(prevRdd)
    // non-convergence must fail loudly: returning partially-propagated
    // labels would silently mislabel the far ends of long chains
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter for deep chain components")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Materialize a near-dup cluster table (doc_id, cluster_id) at rest
    * — the [[IvfIndex.build]] pattern applied to dedup: the expensive
    * pair→connected-components chain runs ONCE, and every consumer
    * (leakage-safe split, keep/drop, rebalance, decontam joins) reads
    * the artifact instead of re-running the similarity pipeline.
    *
    * Layout: hash-distributed AND sorted by cluster_id, so per-cluster
    * consumers (keep the min id, assign a cluster to a split) scan
    * contiguous runs. No `partitionBy` — cluster ids are
    * high-cardinality, one directory per cluster would melt the
    * namenode at corpus scale. The table holds only docs that appear
    * in a near-dup pair (singletons coalesce to their own id on the
    * consumer side), so it is orders of magnitude smaller than the
    * corpus: consumers broadcast it, or shuffle-join on doc_id — never
    * re-shingle. */
  def clustersAtRest(clusters: DataFrame, dir: String): Unit =
    clusters.select(col("doc_id"), col("cluster_id"))
      .repartition(col("cluster_id"))
      .sortWithinPartitions(col("cluster_id"), col("doc_id"))
      .write.mode("overwrite").parquet(dir)

  /** Read a [[clustersAtRest]] artifact: (doc_id, cluster_id). */
  def loadClusters(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).select(col("doc_id"), col("cluster_id"))

  /** Fold a batch of NEW near-dup pairs into an existing
    * (doc_id, cluster_id) cluster table — INCREMENTAL connected
    * components. Each endpoint is contracted to its current component
    * root (its own id if unclustered), components merge on the tiny
    * contracted graph, and only touched rows relabel. Labels are
    * component MINIMA and min is associative — min over a union of
    * components equals min over their mins — so folding the edge set
    * in ANY batch order produces exactly the labels
    * [[connectedComponents]] assigns to the full edge set at once.
    * That is what lets a streaming consumer maintain the at-rest
    * cluster artifact without ever re-running the similarity chain
    * over history.
    *
    * Cost: two joins against the cluster table (which is orders of
    * magnitude smaller than the corpus — paired docs only) + CC on the
    * contracted graph, whose nodes are the TOUCHED components, not
    * docs. A quiet micro-batch costs two cheap joins; a pathological
    * batch that merges everything costs one CC over #touched-clusters
    * nodes — never over the corpus. */
  def foldPairsIntoClusters(clusters: DataFrame, pairs: DataFrame): DataFrame = {
    val c = clusters.select(col("doc_id"), col("cluster_id"))
    // contract endpoints to their current roots (own id when unclustered
    // — singletons are never stored, see clustersAtRest)
    val joined = pairs.select(col("id_a"), col("id_b"))
      .join(c.select(col("doc_id").as("id_a"), col("cluster_id").as("ra")), Seq("id_a"), "left")
      .join(c.select(col("doc_id").as("id_b"), col("cluster_id").as("rb")), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("ra"), col("id_a")).as("root_a"),
        coalesce(col("rb"), col("id_b")).as("root_b"))
    val rootEdges = joined.filter(col("root_a") =!= col("root_b"))
      .select(col("root_a").as("id_a"), col("root_b").as("id_b")).distinct()
    // root_a == root_b only when both endpoints are ALREADY in the same
    // cluster (a new doc's root is its own unseen id, which cannot equal
    // another component's min): nothing to merge, nothing to insert
    if (rootEdges.isEmpty) return c
    val m = connectedComponents(rootEdges)
      .select(col("doc_id").as("mroot"), col("cluster_id").as("merged"))
    // relabel existing rows of touched components
    val relabeled = c.join(m, c("cluster_id") === col("mroot"), "left")
      .select(c("doc_id"), coalesce(col("merged"), c("cluster_id")).as("cluster_id"))
    // insert endpoints not yet in the table, labeled via their root
    val endpointRoots = joined.select(explode(array(
        struct(col("id_a").as("doc_id"), col("root_a").as("root")),
        struct(col("id_b").as("doc_id"), col("root_b").as("root")))).as("x"))
      .select(col("x.doc_id").as("doc_id"), col("x.root").as("root"))
      .distinct()
    val newDocs = endpointRoots
      .join(c.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(m, col("root") === col("mroot"), "left")
      .select(col("doc_id"), coalesce(col("merged"), col("root")).as("cluster_id"))
    relabeled.unionByName(newDocs)
  }

  /** Per-doc SimHash in a single codegen'd scan (zero shuffles before
    * the band join — see [[graft.functions.SimHashKernel]]); value-
    * identical to [[simhash]], which remains the reference/relational
    * form and the shape to use when the input is already exploded
    * (e.g. a token stream rather than whole documents). */
  def simhashDocs(df: DataFrame, id: Column, text: Column): DataFrame =
    // wordless docs (empty / all-spaces under the single-space
    // tokenizer) produce no word rows in the relational/oracle form
    // and so no fingerprint — mirror that domain exactly
    df.filter(trim(text, " ") =!= "")
      .select(id.as("id"), graft.functions.SimHash60.simhash60(text).as("simhash"))

  /** Near-dup pairs with hamming(simhash) <= maxDist via 15-bit band
    * blocking (4 bands over 60 bits: complete for maxDist <= 3). */
  def simhashPairs(sh: DataFrame, maxDist: Int): DataFrame = {
    val banded = sh.select(col("id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> shiftright(simhash, b * 15) % 32768)"))
        .as(Seq("band", "bkey")))
    banded.select(col("id").as("id_a"), col("simhash").as("sh_a"), col("band"), col("bkey"))
      .join(banded.select(col("id").as("id_b"), col("simhash").as("sh_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
