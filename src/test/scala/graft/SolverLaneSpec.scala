package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.analyses.{ClearDay, Pipeline, Profiler, Quantiles, Shade, SiteLane, SunriseSunset, TimeShift}
import graft.operators.DayStats
import graft.solvers.Kernels
import graft.sources.Synth

/** Focused pins for the per-site solver lane ([[SiteLane]], its
  * DilRow use in Quantiles, the parallelism and bit-pinned outputs of
  * the solves that run in it) and the fused two-pass orientationCells
  * derivation (Profiler). Each asserts the rewritten
  * interior against an INDEPENDENT derivation of the same contract —
  * kernel ground truth for the lane, hand aggregation for the cells —
  * so a drift in the streaming/fusion plumbing fails here, not at the
  * cross-engine gate.
  */
class SolverLaneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  test("DilRow lane: calendar day offsets across a gap, (day, slot) order, kernel-exact fits") {
    // two sites, shuffled input order, and a 10-day DATA GAP in site 1:
    // the time axis must advance by CALENDAR days (offset 0, 1, 11),
    // not observed-day rank, and rows must solve in (day, slot) order
    // regardless of arrival order
    val nBins = 4
    val days1 = Seq("2024-01-01", "2024-01-02", "2024-01-12")
    val days2 = Seq("2024-06-01", "2024-06-02")
    def rows(site: Long, days: Seq[String]): Seq[(Long, String, Int, Double)] =
      for {
        (d, di) <- days.zipWithIndex
        s <- 0 until nBins
      } yield (site, d, s, 1.0 + 0.5 * math.sin(s + di) + 0.1 * site)
    val all = scala.util.Random.shuffle(rows(1L, days1) ++ rows(2L, days2))
    val dil = all.toDF("site", "day", "dil_slot", "dil_value")
    val out = Quantiles.estimateSingle(spark, dil, nBins = nBins, tau = 0.9)
      .select(col("site"), col("day"), col("dil_slot"), col("q_fit"))
      .as[(Long, String, Int, Double)].collect()
      .groupBy(_._1)

    // independent ground truth: feed the kernel the hand-built
    // (t, y) arrays in (day, slot) order with calendar offsets
    def expected(site: Long, days: Seq[String]): Map[(String, Int), Double] = {
      val ep0 = java.time.LocalDate.parse(days.head).toEpochDay
      val pts = rows(site, days).sortBy(r => (r._2, r._3))
      val t = pts.map(p =>
        (java.time.LocalDate.parse(p._2).toEpochDay - ep0).toDouble * nBins + p._3).toArray
      val y = pts.map(_._4).toArray
      val bases = Seq((nBins.toDouble, 3), (365.2425 * nBins, 2))
      val fit = Kernels.quantileFourierFitMultiTaus(y, t, Seq(0.9), bases).head
      pts.indices.map(i => (pts(i)._2, pts(i)._3) -> fit(i)).toMap
    }
    for ((site, days) <- Seq((1L, days1), (2L, days2))) {
      val exp = expected(site, days)
      val got = out(site)
      assert(got.length == exp.size, s"site $site grain")
      got.foreach { case (_, d, s, f) =>
        // bit-exact: the lane must hand the kernel the identical arrays
        assert(java.lang.Double.compare(f, exp((d, s))) == 0,
          s"site $site day $d slot $s: lane $f vs kernel ${exp((d, s))}")
      }
    }
  }

  /** `(site, k)` rows as the lane takes them: a `site` column. */
  private def laneInput(rows: Seq[(Long, Int)]) = rows.toDF("site", "k").as[(Long, Int)]

  test("SiteLane: negative ids, more sites than partitions, each site solved once in order") {
    // 4 partitions, 15 sites including negative and beyond-Int ids
    val sites = (-7L to 6L) :+ -5000000000L
    val rows = scala.util.Random.shuffle(for (s <- sites; k <- 0 until 5) yield (s, k))
    val solved = SiteLane(laneInput(rows), (r: (Long, Int)) => r._1, col("k")) { (site, it) =>
      Iterator.single(site -> it.toVector)
    }.collect()
    assert(solved.map(_._1).sorted.toSeq == sites.sorted, "each site exactly once")
    solved.foreach { case (site, got) =>
      assert(got == (0 until 5).map(site -> _), s"site $site: rows $got")
    }
  }

  test("SiteLane: rows a solve leaves unread never reach the next site") {
    val rows = scala.util.Random.shuffle(for (s <- 1L to 9L; k <- 0 until 4) yield (s, k))
    val firsts = SiteLane(laneInput(rows), (r: (Long, Int)) => r._1, col("k")) { (site, it) =>
      Iterator.single(site -> it.next()._2)
    }.collect()
    assert(firsts.sortBy(_._1).toSeq == (1L to 9L).map(_ -> 0))
    // a lazy solve pulls its rows only as its output is consumed
    val pulled = SiteLane(laneInput(rows), (r: (Long, Int)) => r._1, col("k")) { (site, it) =>
      it.map(r => site -> r)
    }.collect()
    assert(pulled.length == rows.length && pulled.forall { case (site, r) => r._1 == site })
  }

  /** Each site's lane task: `(site, partition id)`. */
  private def placement(rows: Dataset[(Long, Int)]) =
    SiteLane(rows, (r: (Long, Int)) => r._1) { (site, _) =>
      Iterator.single(site -> TaskContext.getPartitionId())
    }

  test("SiteLane: byte-tiny input still gets defaultParallelism partitions, placed by site id") {
    // AQE would coalesce a hash-repartition shuffle of a few bytes to
    // ONE partition; the lane's partition-id shuffle must not be
    val par = spark.sparkContext.defaultParallelism
    val lane = placement(laneInput(Seq((1L, 0), (2L, 0), (-3L, 0))))
    assert(lane.rdd.getNumPartitions == par)
    lane.collect().foreach { case (site, i) =>
      assert(i == Math.floorMod(site, par.toLong), s"site $site")
    }
  }

  test("SiteLane: an input already hash-partitioned by site still runs par lane tasks") {
    // the optimizer drops a repartition(par, site) over an input that
    // is already hashpartitioning(site); the lane's shuffle must stay
    val par = spark.sparkContext.defaultParallelism
    val input = laneInput(for (s <- 0L until 2L * par; k <- 0 until 3) yield (s, k))
      .repartition(par, col("site"))
    val placed = placement(input).collect()
    assert(placed.length == 2 * par, "each site once")
    placed.foreach { case (site, i) =>
      assert(i == Math.floorMod(site, par.toLong), s"site $site in task $i")
    }
    assert(placed.map(_._2).distinct.length == par, "every lane task solved sites")
  }

  test("building a lane frame over an upstream exchange starts no job") {
    // the lane is a plan, not an RDD: nothing runs until an action
    val fleet = graft.sources.Synth.pvFleet(spark, nSites = 2, nDays = 30, slotsPerDay = 24)
    val perMinute = fleet
      .groupBy(col("site"), date_trunc("minute", col("ts")).as("ts"))
      .agg(avg(col("power")).as("power"))
    val dilated = fleet
      .groupBy(col("site"), to_date(col("ts")).as("day"), hour(col("ts")).as("dil_slot"))
      .agg(avg(col("power")).as("dil_value"))
    val frames = Seq[(String, () => DataFrame)](
      "Pipeline.run" -> (() => Pipeline.run(spark, perMinute, "site", "ts", "power").toDF()),
      "Quantiles.estimateAndDetect" -> (() => Quantiles.estimateAndDetect(spark, dilated, nBins = 24)),
      "SunriseSunset.estimates" -> (() => SunriseSunset.estimates(spark, fleet, "site", "ts", "power")))
    frames.foreach { case (name, build) =>
      val c = JobCounter.during(spark, name)(build().queryExecution.optimizedPlan)
      assert(c.jobs == 0, s"building $name started ${c.jobs} jobs")
    }
  }

  /** A single-partition fleet of `nSites`, with site 1's clock one
    * hour fast from day 20: one partition fixes every upstream float
    * sum's order, so lane outputs are bit-stable across core counts.
    */
  private def shiftedFleet(nSites: Int): DataFrame = {
    val fleet = Synth.pvFleet(spark, nSites, nDays = 40, slotsPerDay = 24, capStep = 0).coalesce(1)
    fleet.withColumn("ts",
      when(col("site") === 1 && col("day") >= 20, col("ts") + expr("INTERVAL 1 HOUR")).otherwise(col("ts")))
  }

  /** (site, dil_slot, med_v) mean day profiles and a fixed 2-vector basis. */
  private def profiles(fleet: DataFrame): DataFrame =
    fleet.groupBy(col("site"), col("slot").as("dil_slot")).agg(avg(col("power")).as("med_v"))
  private val basis = Seq(
    Array.tabulate(24)(i => math.max(0.0, math.sin(math.Pi * (i - 6) / 12.0))),
    Array.tabulate(24)(i => math.cos(math.Pi * i / 12.0)))

  /** The per-site solves that moved onto the lane, over `fleet`. */
  private def laneSolves(fleet: DataFrame): Seq[(String, DataFrame)] = Seq(
    "TimeShift.detect" -> TimeShift.detect(spark, fleet, "site", "ts", "power", slotsPerDay = 24),
    "TimeShift.components" -> TimeShift.components(spark, fleet, "site", "ts", "power"),
    "ClearDay.detect" -> ClearDay.detect(spark, fleet, "site", "ts", "power", slotsPerDay = 24),
    "Shade.projectOnBasis" -> Shade.projectOnBasis(spark, profiles(fleet), basis))

  test("per-site solves run in defaultParallelism lane tasks with no MapGroups node") {
    // AQE coalesces a groupByKey shuffle of this byte-tiny input to
    // ONE task; the lane's shuffle keeps defaultParallelism tasks
    val par = spark.sparkContext.defaultParallelism
    val solves = laneSolves(shiftedFleet(2 * par))
    // (widest stage's task count, plans a MapGroups) per solve
    val got = solves.map { case (name, df) =>
      val c = JobCounter.during(spark, name)(df.collect())
      name -> (c.maxTasks, df.queryExecution.executedPlan.toString.contains("MapGroups"))
    }
    assert(got == solves.map(_._1 -> (par, false)))
  }

  /** FNV-1a over every field in (site, second column) order: doubles
    * by their raw IEEE-754 bits, strings by their hash.
    */
  private def digest(df: DataFrame): String = {
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    df.orderBy(col(df.columns(0)), col(df.columns(1))).collect().foreach(_.toSeq.foreach {
      case d: Double => mix(java.lang.Double.doubleToRawLongBits(d))
      case s: String => mix(s.hashCode.toLong)
      case b: Boolean => mix(if (b) 1L else 0L)
      case n: java.lang.Number => mix(n.longValue)
    })
    f"$h%016x"
  }

  test("per-site solve outputs are bit-pinned") {
    val pins = Map(
      "TimeShift.detect" -> "ddb33ba1ed9bf62d",
      "TimeShift.components" -> "4de879b1b1e1ac4a",
      "ClearDay.detect" -> "e041ca5d3647385f",
      "Shade.projectOnBasis" -> "0d8077e47c7516bf")
    val got = laneSolves(shiftedFleet(4)).map { case (name, df) => name -> digest(df) }.toMap
    assert(got == pins)
  }

  test("fused orientationCells: cells = max(v)/p99 and rise/set re-aggregate exactly") {
    // deterministic multi-hslot fixture: 2 sites, 3 days, samples
    // spread over several hours so the (site, day, hslot) partials
    // genuinely re-aggregate (min-of-mins / max-of-maxes over hslots)
    val df = (for {
      site <- Seq(1L, 2L)
      d <- 1 to 3
      hr <- Seq(7, 9, 12, 15, 17)
    } yield (site, java.sql.Timestamp.valueOf(f"2024-03-0$d $hr%02d:30:00"),
      site * 1.0 + d * 0.1 + (5.0 - math.abs(hr - 12)) // peak at noon
    )).toDF("site", "ts", "value")

    val cells = Profiler.orientationCells(spark, df, "site", "ts", "value")
      .select(col("__site"), col("doy"), col("hslot"), col("ct"), col("noon"), col("lat_est"))
      .collect()

    // independent hand derivation of the contract (the round-13 shape)
    val cap = df.groupBy(col("site"))
      .agg(percentile(col("value"), lit(0.99)).as("cap"))
      .as[(Long, Double)].collect().toMap
    val eotH = graft.functions.Solar.equationOfTimeMin(dayofyear(to_date(col("ts")))) / lit(60.0)
    val h = graft.operators.TimeAxis.hourOfDay(col("ts")) + eotH
    val expCells = df
      .select(col("site"), dayofyear(to_date(col("ts"))).as("doy"),
        floor(h).cast("int").as("hslot"), col("value"))
      .as[(Long, Int, Int, Double)].collect()
      .groupBy(t => (t._1, t._2, t._3))
      .map { case (k, vs) => k -> vs.map(_._4).max / cap(k._1) }
    val rs = DayStats.riseSetRough(df, "site", "ts", "value", 0.01)
      .select(col("site"), col("day").cast("string"), col("sunrise_h"), col("sunset_h"))
      .as[(Long, String, Double, Double)].collect()
    assert(rs.nonEmpty && rs.forall(r => r._4 > r._3), "rise/set sanity")

    assert(cells.length == expCells.size, "cell grain")
    cells.foreach { r =>
      val key = (r.getString(0).toLong, r.getInt(1), r.getInt(2))
      assert(java.lang.Double.compare(r.getDouble(3), expCells(key)) == 0,
        s"cell $key: fused ${r.getDouble(3)} vs direct ${expCells(key)}")
    }
    // noon/lat are per-site constants on every cell row
    cells.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getDouble(4)).distinct.length == 1, "noon constant per site")
      assert(rows.map(_.getDouble(5)).distinct.length == 1, "lat constant per site")
    }
  }
}
