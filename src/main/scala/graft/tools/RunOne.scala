package graft.tools

import graft.{CachePool, GraftSession, SparkEntry}

/** Dev tool: run ONE SparkEntry query against any table dir, `reps`
  * times in one JVM, and print per rep its wall time and row count,
  * split into plan CONSTRUCTION (builder fn + analysis), PLANNING
  * (optimizer + physical planning, forced via executedPlan) and
  * EXECUTION (the action). Rep 1 against later reps separates
  * JIT/codegen warm-up from steady-state cost; a large construct or
  * plan share means the driver, not the executors, is the bottleneck.
  *
  * Session: Bench's (`tuned` + `heavyBatch`) on `SPARK_GRAFT_CPUS`
  * cores (default min(32, available processors)).
  *
  * Usage: RunOne <query_name> [sfDir] [reps]
  * Prints: RUNONE <name> rep=<r> sec=<wall> rows=<n> construct=<s> plan=<s> exec=<s> dir=<sfDir>
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunOne <query_name> [sfDir] [reps]")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString).toInt
    val spark = GraftSession.local("graft-runone", cpus, relaxedTimeouts = true)
    val fn = SparkEntry.queries(name)
    def sec(from: Long, to: Long): Double = (to - from) / 1e9
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      CachePool.drain()
      println(f"RUNONE $name rep=$r sec=${sec(t0, System.nanoTime())}%.3f rows=$rows " +
        f"construct=${sec(t0, t1)}%.3f plan=${sec(t1, t2)}%.3f exec=${sec(t2, t3)}%.3f dir=$dir")
    }
    spark.stop()
  }
}
