package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DayStats, SideJoin, TimeAxis}

/** The relational form of `Pipeline.dayRows`, frozen as the reference
  * the fleet lane's day rows are pinned against (DayRowLaneSpec): one
  * row-grain `(site, day)` lag window for the Σ|Δ²| smoothness, the
  * day aggregates in the same plan, the histogram p95 capacity joined
  * back, and a `first_day` window for the day index.
  *
  * The one change from the engine's former form is the window order:
  * `(ts, value)` instead of `ts` alone, so rows that share a
  * timestamp are folded in a fixed order (by `ts` alone their order
  * followed the shuffle's arrival order).
  */
object RelationalDayRows {

  def apply(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    val clean = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    val cap = DayStats.capacity(clean, site, valueCol)
    val v = col(valueCol)
    val h = TimeAxis.hourOfDay(col(tsCol))
    val wd = Window.partitionBy(col(site), col("__day")).orderBy(col(tsCol), v)
    val stats = SideJoin.back(clean, cap, Seq(site))
      .withColumn("__day", to_date(col(tsCol)))
      .withColumn("__d2", v - lit(2.0) * lag(v, 1).over(wd) + lag(v, 2).over(wd))
      .groupBy(col(site).as("site"), col("__day").as("day"))
      .agg(
        (sum(v) * 24.0 / count(lit(1))).as("energy"),
        avg(when(v > col("capacity") * 0.02, 1.0).otherwise(0.0)).as("density"),
        max(v).as("daily_max"),
        coalesce(try_divide(sum(h * v), sum(v)), lit(Double.NaN)).as("com_hour"),
        count(v).as("n_obs"),
        first(col("capacity")).as("capacity"),
        sum(abs(col("__d2"))).as("smoothness"))
    val wSite = Window.partitionBy(col("site"))
    stats
      .withColumn("first_day", min(col("day")).over(wSite))
      .withColumn("day_idx", datediff(col("day"), col("first_day")).cast("double"))
      .select(
        col("site"), col("day_idx"), col("energy"), col("density"),
        col("daily_max"), col("com_hour"), col("n_obs"), col("capacity"),
        coalesce(col("smoothness"), lit(-1.0)).as("smoothness"))
  }
}
