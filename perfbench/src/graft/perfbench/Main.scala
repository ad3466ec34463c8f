package graft.perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.GraftSession

/** Command-line options; `perfbench/run.py` supplies the paths. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dataDir: String,
    hashes: Path,
    traceOut: Path
)

/** What a run reports: metrics in print order, units attempted and
  * failed, and a line per failure.
  */
final class Report {
  val metrics = ArrayBuffer.empty[(String, Double, String)]
  val problems = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def add(name: String, value: Double, unit: String): Unit = metrics += ((name, value, unit))

  def fail(problem: String): Unit = { failed += 1; problems += problem }

  /** Run one unit of work, counting it; a throw is a failed unit. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  def json: String = {
    val ms = metrics.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Shared pieces of the three workloads. */
object Bench {

  /** Every timed call ends in the no-op sink: a `count()` would let the
    * optimizer prune the columns, and with them the work, being timed.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Live heap after a full collection, in MiB. Collected twice: the
    * first collection lets Spark's cleaner release what it held only
    * weakly, the second reclaims that.
    */
  def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Run `unit` until `budgetS` seconds have passed, at least
    * `minUnits` times; returns what each call returned (its own wall
    * seconds).
    */
  def loop(budgetS: Double, minUnits: Int = 1)(unit: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val walls = ArrayBuffer.empty[Double]
    while (walls.length < minUnits || (System.nanoTime() - t0) / 1e9 < budgetS) walls += unit(walls.length)
    System.err.println(s"[perfbench] unit walls (s): ${walls.map(w => f"$w%.3f").mkString(" ")}")
    walls.toSeq
  }

  /** Tracing overhead: even-numbered units ran untraced, odd ones
    * traced, alternating so that both see the same JIT warm-up.
    */
  def overhead(walls: Seq[Double]): Double = {
    val (plain, traced) = walls.zipWithIndex.partition(_._2 % 2 == 0)
    Stats.median(traced.map(_._1)) / Stats.median(plain.map(_._1)) - 1.0
  }

  /** Per-layer metrics from Spark's counts over the traced units. */
  def addSparkMetrics(r: Report, units: Seq[UnitStats], persistedAfter: Int): Unit = {
    def per(f: UnitStats => Double): Double = Stats.mean(units.map(f))
    r.add("spark.jobs", per(_.jobs), "count")
    r.add("spark.stages", per(_.stages), "count")
    r.add("spark.tasks", per(_.tasks), "count")
    r.add("spark.driver_only_s", per(_.driverOnlyS), "s")
    r.add("spark.executor_run_s", per(_.executorRunS), "s")
    r.add("spark.executor_cpu_s", per(_.executorCpuS), "s")
    r.add("spark.gc_s", per(_.gcS), "s")
    r.add("spark.shuffle_read_bytes", per(_.shuffleReadBytes.toDouble), "bytes")
    r.add("spark.shuffle_write_bytes", per(_.shuffleWriteBytes.toDouble), "bytes")
    r.add("spark.spill_bytes", per(_.spillBytes.toDouble), "bytes")
    r.add("spark.task_s_p50", Stats.median(units.flatMap(_.taskS)), "s")
    r.add("spark.task_s_max", Stats.median(units.map(u => if (u.taskS.isEmpty) 0.0 else u.taskS.max)), "s")
    r.add("spark.persisted_rdds_after", persistedAfter, "count")
    r.add("plans.executions", per(_.sqlExecutions), "count")
    r.add("plans.exchanges", per(_.exchanges), "count")
  }

  /** Self time of each layer over the whole traced run. */
  def addSelfTimes(r: Report, tr: Tracer): Unit = {
    val self = Trace.selfTime(tr.spans)
    Seq("sources", "operators", "solvers", "analyses", "SparkEntry", "plans").foreach { l =>
      r.add(s"$l.self_s", self.getOrElse(l, 0.0), "s")
    }
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <sf dir> --hashes <HASHES.tsv> --trace-out <file>`. Prints one
  * `metric value unit` line per metric and, last, the result as one
  * JSON line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toInt,
      trace = kv("trace") == "1",
      dataDir = kv("data"),
      hashes = Paths.get(kv("hashes")),
      traceOut = Paths.get(kv("trace-out")))
    val tr = new Tracer(o.trace)
    val (spark, sessionS) = Bench.seconds {
      GraftSession.local(Runtime.getRuntime.availableProcessors().toString)
    }
    val r = new Report
    try {
      o.workload match {
        case "fleet_dense" => Fleet.run(spark, Fleet.Dense, o, sessionS, tr, r)
        case "fleet_wide" => Fleet.run(spark, Fleet.Wide, o, sessionS, tr, r)
        case "catalog_mix" => Catalog.run(spark, o, sessionS, tr, r)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      if (o.trace) tr.write(o.traceOut)
    } finally spark.stop()
    r.problems.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
    r.metrics.foreach { case (n, v, u) => println(f"$n%-34s ${Json.num(v)}%s $u%s") }
    println(f"failed_frac ${r.failed.toDouble / math.max(r.attempted, 1)}%.4f (${r.failed}%d of ${r.attempted}%d units)")
    println(r.json)
  }
}
