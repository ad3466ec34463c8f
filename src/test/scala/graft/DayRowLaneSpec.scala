package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.analyses.Pipeline
import graft.sources.{Synth, Tables}

/** The fleet lane's day rows (`Pipeline.dayRows`, built per site inside
  * the lane task) against the frozen relational form
  * ([[RelationalDayRows]]), bit for bit on every field, and against
  * `Pipeline.dayStats`, the relational day aggregates the p06/p07 spine
  * still uses.
  */
class DayRowLaneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  // the sf0.01 tables checked in for the benchmark
  private val dir = "perfbench/data/sf0.01"
  private val T0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private val Hour = 3600000000L
  private val Day = 24 * Hour

  /** A deterministic value with a full-width mantissa, so sums depend
    * on their order.
    */
  private def wobble(i: Int): Double = 5.0 + 3.0 * math.sin(i * 12.9898) + 1e-3 * i

  /** Every degenerate shape the lane must reproduce, one site each. */
  private def fixtures: DataFrame = {
    val rows = Seq.newBuilder[(Long, Option[Long], Option[Double])]
    def obs(site: Long, us: Long, v: Double): Unit = rows += ((site, Some(us), Some(v)))
    // a missing local hour (02:00–03:00), as on a DST change day, at
    // 15-minute cadence over three days
    for (d <- 0 until 3; q <- 0 until 96 if !(d == 1 && q >= 8 && q < 12))
      obs(-7L, T0 + d * Day + q * Hour / 4, wobble(d * 96 + q))
    // duplicate timestamps with different values, some three deep
    for (d <- 0 until 2; k <- 0 until 24) {
      val ts = T0 + d * Day + k * Hour
      obs(-1L, ts, wobble(k + 100 * d))
      obs(-1L, ts, wobble(k + 100 * d + 7))
      if (k % 5 == 0) obs(-1L, ts, wobble(k + 100 * d + 13))
    }
    // null timestamps and null values among valid rows
    for (d <- 0 until 2; k <- 0 until 24) {
      val ts = T0 + d * Day + k * Hour
      if (k % 7 == 3) rows += ((2L, None, Some(wobble(k))))
      else if (k % 5 == 1) rows += ((2L, Some(ts), None))
      else obs(2L, ts, wobble(k + 31 * d))
    }
    // a site whose values are all null: absent from the output
    for (k <- 0 until 24) rows += ((3L, Some(T0 + k * Hour), None))
    // NaN values: a few (below 5 %, the p95 stays finite), then a site
    // with enough that the p95 itself is NaN
    for (d <- 0 until 3; k <- 0 until 24)
      obs(4L, T0 + d * Day + k * Hour, if (d * 24 + k == 30) Double.NaN else wobble(d * 24 + k))
    for (d <- 0 until 2; k <- 0 until 24)
      obs(5L, T0 + d * Day + k * Hour, if (k % 4 == 0) Double.NaN else wobble(k))
    // a mix of -0.0 and 0.0: 28 × -0.0 and 2 × 0.0 put the p95's keys
    // on -0.0 and 0.0, and each day's max is whichever zero comes
    // first in time
    for (k <- 0 until 10) obs(6L, T0 + k * Hour, -0.0)
    for (k <- 0 until 10) obs(6L, T0 + Day + k * Hour, if (k == 0) 0.0 else -0.0)
    for (k <- 0 until 10) obs(6L, T0 + 2 * Day + k * Hour, if (k == 1) 0.0 else -0.0)
    // a one-day site
    for (k <- 0 until 24) obs(8L, T0 + 40 * Day + k * Hour, wobble(k + 500))
    // days with one and two observations, and a gap of calendar days
    obs(9L, T0, 1.5)
    obs(9L, T0 + 3 * Day, 2.5)
    obs(9L, T0 + 3 * Day + Hour, 0.5)
    for (k <- 0 until 5) obs(9L, T0 + 10 * Day + k * Hour, wobble(k + 700))
    // more sites, so each of the lane's partitions holds several
    for (s <- Seq(-13L, 11L, 17L, 23L); d <- 0 until 4; k <- 0 until 24)
      obs(s, T0 + d * Day + k * Hour + s * 60000000L, wobble(k + d * 24 + s.toInt * 1000))
    rows.result().toDF("site", "us", "value")
      .select(col("site"), expr("timestamp_micros(us)").as("ts"), col("value"))
  }

  /** Each row's fields as raw bits, sorted by (site, day_idx). */
  private def bits(df: DataFrame): Seq[Vector[Long]] =
    df.select(col("site").cast("long"), col("day_idx"), col("energy"), col("density"),
      col("daily_max"), col("com_hour"), col("n_obs").cast("long"), col("capacity"),
      col("smoothness"))
      .collect().toSeq
      .map { r =>
        (0 until 9).map { i =>
          if (i == 0 || i == 6) r.getLong(i) else java.lang.Double.doubleToRawLongBits(r.getDouble(i))
        }.toVector
      }
      .sortBy(r => (r(0), java.lang.Double.longBitsToDouble(r(1))))

  private val names =
    Seq("site", "day_idx", "energy", "density", "daily_max", "com_hour", "n_obs", "capacity", "smoothness")

  private def show(r: Vector[Long]): String = r.indices.map { i =>
    val v = if (i == 0 || i == 6) r(i).toString
      else java.lang.Double.toHexString(java.lang.Double.longBitsToDouble(r(i)))
    s"${names(i)}=$v"
  }.mkString(" ")

  private def assertSameBits(lane: Seq[Vector[Long]], ref: Seq[Vector[Long]], what: String): Unit = {
    assert(lane.nonEmpty, s"$what: no day rows")
    assert(lane.map(r => (r(0), r(1))) == ref.map(r => (r(0), r(1))),
      s"$what: (site, day_idx) keys differ: lane ${lane.length} rows, reference ${ref.length}")
    lane.zip(ref).find { case (a, b) => a != b }.foreach { case (a, b) =>
      fail(s"$what: first differing day row\n  lane      ${show(a)}\n  reference ${show(b)}")
    }
  }

  private def pin(df: DataFrame, what: String): Unit =
    assertSameBits(bits(Pipeline.dayRows(df, "site", "ts", "value")),
      bits(RelationalDayRows(df, "site", "ts", "value")), what)

  test("degenerate fixtures: lane day rows equal the relational form bit for bit") {
    val df = fixtures.cache()
    try {
      pin(df, "fixtures")
      val sites = Pipeline.dayRows(df, "site", "ts", "value").select("site").distinct().as[Long].collect().toSet
      assert(!sites.contains(3L), "the all-null site must be absent")
      assert(sites == Set(-13L, -7L, -1L, 2L, 4L, 5L, 6L, 8L, 9L, 11L, 17L, 23L), s"sites $sites")
      // the zero fixtures: the p95 lands on -0.0 (Java's total order,
      // which the histogram route shares), and each day's max keeps the
      // first zero in time
      val six = bits(Pipeline.dayRows(df.filter(col("site") === 6L), "site", "ts", "value"))
      assert(six.map(r => java.lang.Double.longBitsToDouble(r(7))).forall(c => 1.0 / c < 0), "capacity -0.0")
      assert(six.map(r => 1.0 / java.lang.Double.longBitsToDouble(r(4))) == Seq(Double.NegativeInfinity,
        Double.PositiveInfinity, Double.NegativeInfinity), "daily max signs")
      val nine = bits(Pipeline.dayRows(df.filter(col("site") === 9L), "site", "ts", "value"))
      assert(nine.map(r => java.lang.Double.longBitsToDouble(r(1))) == Seq(0.0, 3.0, 10.0), "calendar day index")
      assert(nine.map(r => java.lang.Double.longBitsToDouble(r(8))).take(2) == Seq(-1.0, -1.0),
        "a day under 3 rows has no smoothness")
    } finally df.unpersist()
  }

  test("events at sf0.01 and a synthetic fleet: lane equals the relational form") {
    pin(Tables.events(spark, dir).select(col("user_id").as("site"), col("ts"), col("value")),
      "events sf0.01")
    pin(Synth.pvFleet(spark, nSites = 3, nDays = 40, slotsPerDay = 24, capStep = 1)
      .select(col("site"), col("ts"), col("power").as("value")), "pvFleet")
  }

  test("the same input on 1, 3 and 16 partitions gives identical bits") {
    val df = fixtures.cache()
    try {
      val ref = bits(RelationalDayRows(df, "site", "ts", "value"))
      Seq(1, 3, 16).foreach { p =>
        assertSameBits(bits(Pipeline.dayRows(df.repartition(p), "site", "ts", "value")), ref,
          s"$p partitions")
      }
    } finally df.unpersist()
  }

  test("the site column widens from int, and a lossy site type is refused at analysis") {
    val rows = Seq((1, T0, 1.0), (1, T0 + Hour, 2.0), (-2, T0, 3.0)).toDF("site", "us", "value")
      .select(col("site"), expr("timestamp_micros(us)").as("ts"), col("value"))
    assertSameBits(bits(Pipeline.dayRows(rows, "site", "ts", "value")),
      bits(Pipeline.dayRows(rows.withColumn("site", col("site").cast("long")), "site", "ts", "value")),
      "int site")
    // sites 1.2 and 1.7 would both become site 1
    val fractional = Seq((1.2, T0, 1.0), (1.7, T0, 2.0)).toDF("site", "us", "value")
      .select(col("site"), expr("timestamp_micros(us)").as("ts"), col("value"))
    Seq(fractional, rows.withColumn("site", col("site").cast("string"))).foreach { df =>
      val e = intercept[AnalysisException](Pipeline.run(spark, df, "site", "ts", "value"))
      assert(e.getMessage.toLowerCase.contains("up cast"), e.getMessage)
    }
  }

  test("a non-UTC session zone: days and hours follow the zone through both DST changes") {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try {
      // 15-minute cadence across 2024-03-10 (a local hour missing) and
      // 2024-11-03 (a local hour repeated)
      val spring = 1710028800000000L // 2024-03-10T00:00:00Z
      val fall = 1730592000000000L // 2024-11-03T00:00:00Z
      val df = (for (base <- Seq(spring, fall); q <- 0 until 4 * 72)
        yield (1L, base + q * Hour / 4, wobble(q))).toDF("site", "us", "value")
        .select(col("site"), expr("timestamp_micros(us)").as("ts"), col("value"))
      pin(df, "America/New_York")
    } finally spark.conf.set(key, before)
  }

  test("lane and dayStats agree on the day aggregates (events sf0.01)") {
    val events = Tables.events(spark, dir).select(col("user_id").as("site"), col("ts"), col("value"))
    val stats = Pipeline.dayStats(events, "site", "ts", "value")
      .withColumn("day_idx",
        datediff(col("day"), min(col("day")).over(Window.partitionBy(col("site")))).cast("double"))
      .select(col("site").cast("long"), col("day_idx"), col("energy"), col("density"),
        col("daily_max"), col("com_hour"), col("n_obs"), col("capacity"))
      .as[(Long, Double, Double, Double, Double, Double, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val lane = Pipeline.dayRows(events, "site", "ts", "value")
      .select(col("site"), col("day_idx"), col("energy"), col("density"),
        col("daily_max"), col("com_hour"), col("n_obs"), col("capacity"))
      .as[(Long, Double, Double, Double, Double, Double, Long, Double)]
      .collect()
    assert(lane.length == stats.size && lane.nonEmpty, s"lane ${lane.length} rows, dayStats ${stats.size}")
    def close(a: Double, b: Double): Boolean =
      (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    lane.foreach { l =>
      val s = stats.getOrElse((l._1, l._2), fail(s"dayStats lacks site ${l._1} day ${l._2}"))
      val key = s"site ${l._1} day ${l._2}"
      assert(l._7 == s._7, s"$key n_obs")
      assert(java.lang.Double.compare(l._5, s._5) == 0, s"$key daily_max ${l._5} vs ${s._5}")
      assert(java.lang.Double.compare(l._8, s._8) == 0, s"$key capacity ${l._8} vs ${s._8}")
      assert(close(l._3, s._3), s"$key energy ${l._3} vs ${s._3}")
      assert(close(l._4, s._4), s"$key density ${l._4} vs ${s._4}")
      assert(close(l._6, s._6), s"$key com_hour ${l._6} vs ${s._6}")
    }
  }
}
