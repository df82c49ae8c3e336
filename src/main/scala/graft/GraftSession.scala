package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * The reference (felixzh2020/felixzh-flink) configures its
  * StreamExecutionEnvironment per job (parallelism, checkpointing,
  * restart strategy — e.g. format/canal_json/Kafka2Print.java:22-24).
  * Spark-first equivalent: one tuned SparkSession. AQE handles runtime
  * re-planning (skew joins, partition coalescing) that Flink jobs
  * hand-tuned with setParallelism.
  */
object GraftSession {

  /** Apply graft defaults to a builder (shared by local() and any
    * cluster submit path — the settings are master-agnostic). */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // engine default: TIMESTAMP(NANOS) parquet columns read as int64
      // nanos (Tables.events converts them); set HERE, not hidden
      // inside a table loader, so parquet typing never depends on
      // which table happened to load first
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // RocksDB state store: the production choice for large streaming
      // state, and required by transformWithState (column families —
      // the HDFS-backed provider cannot host StatefulProcessor state)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // NOTE: spark.sql.parquet.pushdown.inFilterThreshold stays at its
      // default (10). In Spark 4 the threshold picks the PUSHDOWN FORM,
      // not whether to push: <= threshold builds an or-chain of eq()
      // (which StackOverflows past ~1k values), > threshold pushes the
      // native set-based FilterApi.in — exactly what the streaming
      // cluster-maintenance lookup needs when it pushes a micro-batch's
      // multi-thousand-key shingle set into the sh-sorted compacted
      // postings scan (verified by the compaction ScaleStress row)
      .config("spark.ui.enabled", "false")

  /** Heavy-batch resilience profile (ScaleStress 100x sweep, STRESS
    * row 53): a 621 s full-GC-heavy stage logged a transient executor
    * heartbeat RpcTimeout under the 10 s default; relaxing the
    * heartbeat keeps a long GC pause from reading as a dead executor.
    * Applied ON TOP of [[tuned]] by the long-batch tools (Bench,
    * ScaleStress, ScaleUpRun, RunOne, DumpPlans) — deliberately NOT a base
    * default: under these settings a genuinely dead executor goes
    * undetected for up to 10 minutes, which is the wrong trade for
    * latency-sensitive streaming jobs. Spark requires
    * heartbeatInterval << network.timeout. */
  def heavyBatch(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")

  /** Local session for tests/benchmarks. `relaxedTimeouts` opts a
    * long-batch tool into the [[heavyBatch]] profile. */
  def local(appName: String = "graft", cores: Int = Runtime.getRuntime.availableProcessors(),
      relaxedTimeouts: Boolean = false): SparkSession = {
    var b = tuned(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    )
    if (relaxedTimeouts) b = heavyBatch(b)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
