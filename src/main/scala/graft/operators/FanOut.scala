package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan fan-out — the optimization-guide §2.5 "input
  * skew" remedy ("one huge unsplittable file … repartition immediately
  * after the read"), applied to the other end of the same problem:
  * a SMALL input that planned fewer scan partitions than the session
  * has cores, feeding per-row CPU work (JSON parse, tokenize+hash,
  * shingling, codec decode).
  *
  * Parquet row groups are the scan-split atom: a table written as one
  * row group is ONE task no matter how many cores the session has, so
  * every narrow transformation until the first exchange runs
  * single-threaded. When the downstream cost is per-row CPU (not I/O),
  * one cheap round-robin exchange of the scan output buys full-cluster
  * parallelism for the expensive pipeline above the first shuffle.
  *
  * Scale safety: the fan-out only fires when the planned partition
  * count is BELOW the session's default parallelism — at production
  * scale (a 100 TB table plans thousands of splits) it is provably a
  * no-op, so this is not a local[32] tuning constant; it is the
  * guide's repartition-after-unsplittable-read rule with the trigger
  * measured from the plan instead of hard-coded. The exchange it adds
  * moves exactly the bytes the scan produced (apply it AFTER filters
  * and column pruning so pushdown still reaches the scan, and only on
  * pipelines whose per-row work dwarfs one small shuffle).
  */
object FanOut {

  /** Round-robin `df` up to the session's default parallelism iff its
    * planned partition count is lower; identity otherwise. Row values
    * are untouched — only placement changes (Spark's deterministic
    * sort-before-repartition keeps retries consistent). */
  def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
