package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for correctness-parity with external SQL engines (UTC session
  * time zone) and for scale (AQE on, shuffle partitions sized for the
  * local harness; on a real cluster these are overridden per-deploy).
  *
  * Two groups of settings are static (read once per JVM or per
  * SparkContext, so they must be set before the first session starts;
  * the cluster deploy path sets them in `spark-defaults.conf`):
  *
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
  *    Catalyst keeps generated classes in one JVM-wide LRU cache of 100
  *    classes by default. One cold `Verify` pass over the 191 catalog
  *    entries at sf0.01 compiles 2,972 distinct classes (counted with
  *    `CodegenMetrics` under an unbounded cache), and the 11 small
  *    entries of the `catalog_mix` benchmark alone need about 218, so
  *    at 100 every warm pass evicted and recompiled about 150 classes,
  *    each restarting in the JVM interpreter. The cap is that count
  *    plus a third. A resident entry costs about 32 KB of live heap
  *    (after the same pass: 190 MB at an unbounded cache, 97 MB at
  *    100), so a full cache holds about 130 MB; a session that runs a
  *    few queries holds only their classes.
  *  - `spark.sql.ui.retainedExecutions`, `spark.ui.retainedJobs`,
  *    `spark.ui.retainedStages` (each [[RetainedExecutions]]) and
  *    `spark.ui.retainedTasks` ([[RetainedTasks]]). Spark's status
  *    store keeps every SQL execution's plan graph and metrics and
  *    every job, stage and task record up to these limits even with
  *    the UI off, and nothing in the engine reads them; at the default
  *    1000 executions the live heap grew with the number of queries a
  *    session had run.
  */
object GraftSession {
  /** Generated classes the JVM-wide Catalyst cache keeps. */
  val CodegenCacheEntries = 4000

  /** SQL executions, jobs and stages the status store keeps. */
  val RetainedExecutions = 50

  /** Task records the status store keeps. */
  val RetainedTasks = 5000

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // NOTE: do not floor coalescePartitions.minPartitionSize
      // globally. AQE coalesces shuffles by BYTES, which starves
      // CPU-dense byte-tiny solver shuffles of parallelism — but a
      // session-wide floor taxes EVERY small shuffle with task
      // overhead (measured: +42 s across the bench suite for −2 s on
      // one query). The solver stages that need parallelism despite
      // tiny bytes pin it explicitly through `analyses.SiteLane`, whose
      // `repartitionById` shuffle AQE never coalesces.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toString)
      .config("spark.ui.retainedJobs", RetainedExecutions.toString)
      .config("spark.ui.retainedStages", RetainedExecutions.toString)
      .config("spark.ui.retainedTasks", RetainedTasks.toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
  }

  /** The engine's session-level additions: the native functions and
    * the Catalyst rewrites. Returns `spark`.
    */
  def install(spark: SparkSession): SparkSession = {
    // ensure, not register: getOrCreate returns the SAME session to
    // every caller in a JVM (every test suite, every probe main), and
    // re-registering ~40 functions logs a WARN per function per
    // caller — thousands of "replaced a previously registered
    // function" lines per test run for zero work
    graft.functions.GraftFunctions.ensure(spark)
    // the engine's Catalyst rewrites, active by default (the cluster
    // deploy path is spark.sql.extensions=graft.functions.GraftExtensions;
    // local sessions get the same rules here): naive abs-range and
    // point-in-interval joins become bucketed equi-joins
    spark.experimental.extraOptimizations =
      Seq(graft.plans.RangeJoinRule, graft.plans.IntervalJoinRule)
    spark
  }
}
