package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for correctness-parity with external SQL engines (UTC session
  * time zone) and for scale (AQE on, shuffle partitions sized for the
  * local harness; on a real cluster these are overridden per-deploy).
  */
object GraftSession {
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
      // fixed-partitioner RDD stage AQE never re-coalesces.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
