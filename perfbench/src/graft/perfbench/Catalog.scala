package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.analyses.Pipeline
import graft.sources.Tables

/** The catalog workload: one analyst issuing a fixed list of small
  * `SparkEntry.queries` at sf0.01, each once per pass, in an order the
  * seed shuffles (a closed loop, one client).
  */
object Catalog {

  /** Every eighth catalog entry in name order and `p05_pvpro_post`,
    * kept where a warm call takes under 0.5 s on 4 cores, so that fixed
    * plan and scheduling latency dominate and a run collects about a
    * hundred latency samples. Every family the catalog has (q, p, d,
    * e, t, m) is present.
    */
  val Queries: Seq[String] = Seq(
    "d24_token_chunks", "e12_prototype_prune", "m03_multimodal_pack", "p05_pvpro_post",
    "q06_freq_inference", "q13_ecdf_daily_max", "q21_sessions", "q29_wide_pivot",
    "q74_mc_draw_stream", "q82_interval_rule", "t02_mixture_weights")

  val TableNames: Seq[String] = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  val Families: Seq[Char] = Seq('q', 'p', 'd', 'e', 't', 'm')

  /** One catalog call split into its layers: building the frame (the
    * catalog function itself, with any eager driver collects), forcing
    * the physical plan, and executing into the no-op sink.
    */
  def traced(spark: SparkSession, q: String, dir: String, tr: Tracer): Unit =
    tr("SparkEntry.query") {
      val df = tr("SparkEntry.build")(SparkEntry.queries(q)(spark, dir))
      tr("plans.plan")(df.queryExecution.executedPlan)
      tr("SparkEntry.exec")(Bench.noop(df))
    }

  /** Mean seconds per traced catalog call, per layer and per family. */
  def addCatalogLayers(r: Report, tr: Tracer): Unit = {
    r.add("SparkEntry.build_s", Stats.mean(tr.durations("SparkEntry.build")), "s")
    r.add("plans.plan_s", Stats.mean(tr.durations("plans.plan")), "s")
    r.add("SparkEntry.exec_s", Stats.mean(tr.durations("SparkEntry.exec")), "s")
    val calls = tr.spans.filter(_.name == "SparkEntry.query")
    Families.foreach { f =>
      r.add(s"SparkEntry.family_${f}_s", Stats.mean(calls.filter(_.unit.head == f).map(_.seconds)), "s")
    }
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double, tr: Tracer, r: Report): Unit = {
    val rng = new scala.util.Random(o.seed)
    val expected = Canon.readHashes(o.hashes)
    val dir = o.dataDir
    tr.unit = "setup"
    val (tables, buildS) = Bench.seconds {
      tr("sources.build")(TableNames.map { t => val df = Tables.table(spark, dir, t); Bench.noop(df); df })
    }
    val inputRows = tables.map(_.count()).sum.toDouble
    // the cold pass is collected and hashed against the Verify snapshot
    val (_, coldS) = Bench.seconds {
      rng.shuffle(Queries).foreach { q =>
        r.attempt(s"cold $q")(Canon.hash(SparkEntry.queries(q)(spark, dir))).foreach { got =>
          if (!expected.get(q).contains(got)) r.fail(s"$q: (rows, hash) $got, snapshot ${expected.get(q)}")
        }
      }
    }
    System.err.println(f"[perfbench] setup: session $sessionS%.1f s, tables $buildS%.1f s, cold pass $coldS%.1f s")
    val latencies = ArrayBuffer.empty[Double]
    def pass(): Double = Bench.seconds {
      rng.shuffle(Queries).foreach { q =>
        latencies += Bench.seconds(r.attempt(q)(Bench.noop(SparkEntry.queries(q)(spark, dir))))._2
      }
    }._2

    // one warm pass outside the measurement (see Fleet.run)
    pass()
    latencies.clear()
    if (!o.trace) {
      val heap = ArrayBuffer.empty[Double]
      val passes = Bench.loop(o.seconds) { _ => val w = pass(); heap += Bench.liveHeapMb(); w }
      r.add("setup_s", sessionS + buildS + coldS, "s")
      r.add("rows_per_s", inputRows / Stats.median(passes), "rows/s")
      r.add("query_s_p50", Stats.median(latencies.toSeq), "s")
      r.add("query_s_p90", Stats.percentile(latencies.toSeq, 90), "s")
      r.add("heap_live_peak_mb", heap.max, "MB")
    } else {
      val stats = SparkStats.install(spark)
      val units = ArrayBuffer.empty[UnitStats]
      val walls = Bench.loop(o.seconds, minUnits = 2) { p =>
        if (p % 2 == 0) pass()
        else Bench.seconds {
          rng.shuffle(Queries).foreach { q =>
            tr.unit = s"$q#$p"
            r.attempt(q)(units += stats.measure(s"$q#$p")(Catalog.traced(spark, q, dir, tr))._2)
          }
        }._2
      }
      val persisted = spark.sparkContext.getPersistentRDDs.size
      r.add("sources.build_s", buildS, "s")
      r.add("sources.input_rows", inputRows, "count")
      addCatalogLayers(r, tr)
      // the fleet layers on the events table, the input of p01_fleet_pipeline
      val events = Tables.events(spark, dir).select(col("user_id").as("site"), col("ts"), col("value")).cache()
      Bench.noop(events)
      val reports = r.attempt("events Pipeline.run")(Pipeline.run(spark, events, "site", "ts", "value").collect().toSeq)
        .getOrElse(Nil)
      Layers.fleet(spark, events, "ts", "value", rng, tr, r, runs = 2)
      r.add("solvers.mc_samples", reports.map(_.mcSamples).sum, "count")
      r.add("analyses.site_errors", reports.count(_.errors.nonEmpty), "count")
      events.unpersist()
      Bench.addSparkMetrics(r, units.toSeq, persisted)
      Bench.addSelfTimes(r, tr)
      r.add("trace.overhead_frac", Bench.overhead(walls), "ratio")
    }
  }
}
