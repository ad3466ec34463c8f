package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The session's static settings hold: the Catalyst codegen cache keeps
  * a catalog mix's generated classes across passes, and the status
  * store stops growing at its retention limit. Verify's session carries
  * the engine's Catalyst rules.
  */
class GraftSessionSpec extends AnyFunSuite with Eventually {
  lazy val spark: SparkSession = GraftSession.local("4")

  // the catalog_mix benchmark's entries and its in-repo sf0.01 tables:
  // one small entry or more per family, whose generated classes
  // outnumber Spark's default cache of 100
  private val dir = "perfbench/data/sf0.01"
  private val entries = Seq(
    "d24_token_chunks", "e12_prototype_prune", "m03_multimodal_pack", "p05_pvpro_post",
    "q06_freq_inference", "q13_ecdf_daily_max", "q21_sessions", "q29_wide_pivot",
    "q74_mc_draw_stream", "q82_interval_rule", "t02_mixture_weights")

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm pass over a catalog mix compiles no generated code") {
    entries.foreach(q => noop(SparkEntry.queries(q)(spark, dir)))
    val warm = compiles
    entries.foreach(q => noop(SparkEntry.queries(q)(spark, dir)))
    assert(compiles == warm, s"the warm pass recompiled ${compiles - warm} generated classes")
  }

  test("the status store keeps at most the retained number of SQL executions") {
    (0 to GraftSession.RetainedExecutions + 10).foreach(_ => noop(spark.range(1).toDF()))
    // the listener bus and the store's cleanup both run asynchronously
    eventually(timeout(Span(30, Seconds))) {
      val kept = spark.sharedState.statusStore.executionsCount()
      assert(kept <= GraftSession.RetainedExecutions, s"$kept executions retained")
    }
  }

  test("Verify's session runs the engine's Catalyst rules: q82 plans the bucket explode") {
    // whatever session this JVM already holds, the gate's own builder
    // must install the rules; the gate's confs are put back afterwards
    spark.experimental.extraOptimizations = Nil
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "spark.graft.filledGrid.cache")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    try {
      val gate = Verify.session("4")
      val plan = SparkEntry.queries("q82_interval_rule")(gate, dir).queryExecution.optimizedPlan.toString
      assert(plan.contains("Generate") && plan.contains("explode("), s"no bucket explode in q82:\n$plan")
    } finally {
      GraftSession.install(spark)
      before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
