package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Exact per-group percentile via sort-based order-statistic
  * selection, replacing Spark's `percentile` aggregate on hot paths.
  *
  * Why: `percentile` is an ObjectHashAggregate whose state is an
  * OpenHashMap[value → count] of every DISTINCT value in the group.
  * On a 25M-row fleet of mostly-distinct doubles that map build +
  * merge measured 5.5–9.9 s of the 100 TB pipeline's fleet16 headline
  * (round 11, the ProbePS dev main, now in git history) and its GC
  * churn was the dominant run-to-run variance. This form shuffles
  * each row once (group key + value), sorts within site, and selects
  * the two order statistics the interpolation needs — every operator
  * except the Window is whole-stage codegen, state is spill-able, and
  * there is no driver-side or map-merge step.
  *
  * Bit parity: reproduces `Percentile.getPercentile` (Spark
  * `sql/catalyst/expressions/aggregate/Percentile.scala`) exactly —
  * `position = p · (n−1)`, keys at `floor(position)` / `ceil
  * (position)` (0-based), result `(hi−pos)·lowerKey +
  * (pos−lo)·higherKey` with the no-fraction and equal-key
  * short-circuits — so swapping implementations changes zero output
  * bits (gated: every capacity-consuming query in
  * CORRECTNESS_r*.json).
  *
  * Contract: rows with a null value are skipped (as `percentile`
  * does); a group whose values are ALL null is absent from the
  * output (where `percentile` yields a null capacity row) — every
  * engine call site filters nulls upstream or inner-joins the
  * result, where absent and null coincide. Per-task memory is one
  * group's rows in the window buffer (spill-able) — bounded by the
  * largest single site, the same contract as the per-site solver
  * lanes, NOT by fleet size.
  */
object Percentiles {

  /** SELF-ROUTING exact per-group percentile — the one API call
    * sites should use (round 12; the round-11 hand-routing between
    * the two forms below mis-guessed on the first new consumer it
    * met). Both routes are bit-identical to Spark's `percentile`
    * aggregate (PercentilesSpec pins parity on both), so routing is
    * purely a COST decision, made from the input's optimized plan:
    *
    *  - [[exactByHistogram]] evaluates the input TWICE but shuffles
    *    only O(groups × bins) — wins when a re-scan is cheap: the
    *    plan is a column-pruned scan, a cached relation, or
    *    projections/filters/unions over those.
    *  - [[exactBySort]] evaluates the input ONCE but shuffles every
    *    (group, value) row — wins when the input is a DERIVED
    *    subtree (aggregate/window/join/generate/repartition
    *    anywhere) whose re-evaluation would dominate (measured
    *    +1.5 s on q61 when the histogram form re-derived the filled
    *    grid), and is the only safe route for a NON-DETERMINISTIC
    *    input (the histogram form's two passes must see identical
    *    rows — it fails loudly if they don't, see the invariant in
    *    [[exactByHistogram]]).
    */
  def exact(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      pct: Double,
      outCol: String
  ): DataFrame =
    exact(df, Seq(groupCol), valueCol, Seq(pct -> outCol))

  /** Multi-group, multi-level self-routing form — see [[exact]]. */
  def exact(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      pcts: Seq[(Double, String)]
  ): DataFrame =
    if (preferHistogram(df)) exactByHistogram(df, groupCols, valueCol, pcts)
    else exactBySort(df, groupCols, valueCol, pcts)

  /** Route decision for [[exact]]: true ⇒ the input's re-scan is
    * cheap (and deterministic), so the two-pass histogram form's
    * near-zero shuffle wins. Walks the OPTIMIZED plan — cache
    * substitution has already run, so a persisted derived pipeline
    * shows up as an `InMemoryRelation` leaf (cheap re-scan), and
    * pushed-down filters/prunes are already in scan shape.
    * Exposed `private[graft]` so PercentilesSpec can pin the routing
    * table (scan→histogram, window/agg subtree→sort, cached→histogram,
    * rand()→sort) without timing anything.
    */
  private[graft] def preferHistogram(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Union}
    def cheapRescan(p: LogicalPlan): Boolean = p match {
      // nondeterministic expressions anywhere ⇒ the two passes could
      // disagree ⇒ single-evaluation sort form only
      case n if !n.deterministic => false
      case _: LeafNode => true // scan / InMemoryRelation / LocalRelation
      case n @ (_: Project | _: Filter | _: Union) => n.children.forall(cheapRescan)
      // aggregate / window / join / generate / sort / limit /
      // repartition / mapPartitions … ⇒ derived subtree: re-running
      // it (or re-running its exchange) costs more than one
      // row-grain sort shuffle
      case _ => false
    }
    cheapRescan(df.queryExecution.optimizedPlan)
  }

  /** Exact per-group percentile via HISTOGRAM PRUNING — the default
    * and the 100 TB shape: no row-grain shuffle at all.
    *
    * Pass 1 aggregates `(group, bin)` counts where `bin` is the top
    * 20 bits of the order-preserving IEEE transform
    * ([[graft.functions.DoubleOrderBits]] >> 44 — sign + exponent +
    * 8 mantissa bits, i.e. ~0.4% relative resolution), a
    * map-side-combinable hash aggregate whose shuffle volume is
    * O(groups × occupied bins), not O(rows). A cumulative window over
    * that tiny bin table locates, per group, the one or two bins
    * containing the order statistics `floor(pos)+1` / `ceil(pos)+1`
    * (pos = pct·(n−1)). Pass 2 re-scans the source, keeps ONLY rows
    * in a target bin (broadcast semi-filter under the [[SideJoin]]
    * strategy), ranks them within their bin, and selects the two
    * keys; the interpolation reproduces Spark's
    * `Percentile.getPercentile` bit-for-bit (same contract as
    * [[exactBySort]]).
    *
    * Cost: two column-pruned scans + O(bins) shuffle + a window over
    * the per-group candidate rows (realistically thousands — the rows
    * of one 0.4%-wide value slice). Degenerate distributions (a point
    * mass spanning the target rank) degrade gracefully: the candidate
    * window buffers that one bin's rows, spilling like [[exactBySort]]
    * would, never failing. Measured on the 25M-row fleet16 headline:
    * `percentile` agg 5.5–9.9 s → sort 3.9–6.4 s → histogram ~1 s.
    *
    * Same null/absence contract as [[exactBySort]]; doubles only
    * (callers cast — matching `percentile`'s double return).
    */
  def exactByHistogram(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      pct: Double,
      outCol: String
  ): DataFrame =
    exactByHistogram(df, Seq(groupCol), valueCol, Seq(pct -> outCol))

  /** Multi-group-column, MULTI-PERCENTILE form: ALL requested levels
    * share the one bin-histogram pass and the one candidate-extraction
    * pass — k percentiles cost the same two column-pruned scans as
    * one (`Study.scaleParams` asks for four levels per (site, matrix);
    * the aggregate-percentile form it replaces paid the full distinct-
    * value map once but this form pays nothing extra per level).
    * `0.0` / `1.0` are exact min/max, so callers that used
    * `min(col)` alongside a percentile fold it in here.
    *
    * Two-pass consistency: a missing order-statistic key OR a flagged
    * bin whose pass-2 population differs from pass-1's count raises
    * (never a silently wrong value). The one undetectable case is an
    * exact same-count value swap confined to a flagged bin between
    * the scans — callers with genuinely mutating sources should
    * persist() the input or use [[exactBySort]] (single evaluation,
    * immune by construction).
    */
  def exactByHistogram(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      pcts: Seq[(Double, String)]
  ): DataFrame = {
    require(pcts.nonEmpty, "at least one percentile level required")
    graft.functions.GraftFunctions.ensure(df.sparkSession)
    val g = groupCols.map(col)
    val pre = df.filter(col(valueCol).isNotNull)
      .select(g :+ col(valueCol).cast("double").as("__v"): _*)
      .withColumn("__bin",
        shiftright(call_function("graft_double_order_bits", col("__v")), 44))
    val wBin = Window.partitionBy(g: _*).orderBy(col("__bin"))
    val wAll = wBin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val idx = pcts.indices
    var hist = pre.groupBy(g :+ col("__bin"): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wBin))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .withColumn("__before", col("__cum") - col("__c"))
    for (i <- idx) {
      // Spark computes position = percentage * (count - 1) in doubles
      hist = hist
        .withColumn(s"__pos$i", lit(pcts(i)._1) * (col("__n") - 1).cast("double"))
        .withColumn(s"__lo$i", floor(col(s"__pos$i")))
        .withColumn(s"__hi$i", ceil(col(s"__pos$i")))
        // 1-based target ranks lo+1 / hi+1 fall in this bin?
        .withColumn(s"__islo$i",
          col("__cum") >= col(s"__lo$i") + 1 && col("__before") < col(s"__lo$i") + 1)
        .withColumn(s"__ishi$i",
          col("__cum") >= col(s"__hi$i") + 1 && col("__before") < col(s"__hi$i") + 1)
    }
    val anyFlag = idx.map(i => col(s"__islo$i") || col(s"__ishi$i")).reduce(_ || _)
    val targets = hist.filter(anyFlag)
      .select(g ++ Seq(col("__bin"), col("__before"), col("__c")) ++
        idx.flatMap(i => Seq(col(s"__islo$i"), col(s"__ishi$i"),
          col(s"__pos$i"), col(s"__lo$i"), col(s"__hi$i"))): _*)
    val wCand = Window.partitionBy(g :+ col("__bin"): _*).orderBy(col("__v"))
    // Two-pass consistency cross-check (ADVICE r12): pass 2 recounts
    // each flagged bin and compares against pass 1's `__c`. Rows
    // ADDED to a flagged bin between the scans shift within-bin ranks
    // without nulling an order-statistic key, so the key-missing
    // guard below alone would return a silently wrong percentile;
    // a count mismatch catches that class. (An exact same-count value
    // SWAP inside one bin remains undetectable from counts — the
    // residual trust assumption is stated on the method doc.) Same
    // partition+order spec as wCand (unbounded frame), so both plan
    // into the one Window node over the one Exchange+Sort.
    val wBinCnt = wCand.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val aggs = idx.flatMap { i =>
      Seq(
        // __rn is unique within (group, bin), so each when() matches
        // exactly one row; min() is just the null-skipping picker
        min(when(col(s"__islo$i") && col("__rn") === col(s"__lo$i") + 1 - col("__before"),
          col("__v"))).as(s"__lk$i"),
        min(when(col(s"__ishi$i") && col("__rn") === col(s"__hi$i") + 1 - col("__before"),
          col("__v"))).as(s"__hk$i"),
        first(col(s"__pos$i")).as(s"__p$i"),
        first(col(s"__lo$i")).as(s"__l$i"),
        first(col(s"__hi$i")).as(s"__h$i"))
    } :+ max(when(col("__cnt2") =!= col("__c"), lit(1)).otherwise(lit(0))).as("__mm")
    val outs = idx.map { i =>
      // Invariant (two-pass consistency): the histogram pass promised
      // this group's target ranks live in the flagged bins with the
      // counted populations. A changed bin count (__mm) or a missing
      // order-statistic key means the input returned different rows
      // to the two passes (non-deterministic / concurrently-changing
      // source) — fail loudly rather than return a silently wrong or
      // vanishing percentile (the single-pass forms are immune).
      when(col("__mm") === 1,
        raise_error(concat(
          lit("Percentiles.exactByHistogram: flagged-bin population changed between " +
            "the histogram and candidate scans (non-deterministic source?); " +
            "persist() the input or use exactBySort. group="),
          concat_ws(",", g.map(_.cast("string")): _*))))
        .when(col(s"__lk$i").isNull || col(s"__hk$i").isNull,
          raise_error(concat(
            lit("Percentiles.exactByHistogram: order-statistic key missing for level " +
              pcts(i)._1 + " — input rows changed between the histogram and candidate " +
              "scans (non-deterministic source?); persist() the input or use exactBySort. group="),
            concat_ws(",", g.map(_.cast("string")): _*))))
        .when(col(s"__l$i") === col(s"__h$i"), col(s"__lk$i"))
        .when(col(s"__hk$i") === col(s"__lk$i"), col(s"__lk$i"))
        .otherwise(
          (col(s"__h$i").cast("double") - col(s"__p$i")) * col(s"__lk$i") +
            (col(s"__p$i") - col(s"__l$i").cast("double")) * col(s"__hk$i"))
        .as(pcts(i)._2)
    }
    SideJoin.back(pre, targets, groupCols :+ "__bin")
      .withColumn("__rn", row_number().over(wCand))
      .withColumn("__cnt2", count(lit(1)).over(wBinCnt))
      .groupBy(g: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(g ++ outs: _*)
  }

  /** One row per group: `pct(valueCol)` as `outCol` — single-shuffle
    * sort-based selection (each row shuffles once; simpler plan, used
    * as [[exactByHistogram]]'s cross-check in OperatorSpec).
    */
  def exactBySort(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      pct: Double,
      outCol: String
  ): DataFrame =
    exactBySort(df, Seq(groupCol), valueCol, Seq(pct -> outCol))

  /** Multi-group-column, multi-level sort form. Choosing between the
    * two implementations: [[exactByHistogram]] evaluates its input
    * TWICE (bin histogram + candidate extraction) and shuffles
    * almost nothing — right when the input is a cheap re-scan
    * (column-pruned parquet, a persisted fleet). This form evaluates
    * the input ONCE and shuffles every (group, value) row — right
    * when the input is a DERIVED pipeline whose re-evaluation is the
    * dominant cost (the filled-grid study surfaces, round 11: the
    * histogram form regressed q61 by 1.5 s re-deriving the grid).
    * Both are bit-identical to the `percentile` aggregate.
    */
  def exactBySort(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      pcts: Seq[(Double, String)]
  ): DataFrame = {
    require(pcts.nonEmpty, "at least one percentile level required")
    val g = groupCols.map(col)
    val clean = df.filter(col(valueCol).isNotNull)
    // row_number (row frame) and count (unbounded frame) share one
    // partitionBy+orderBy spec, so they plan into a SINGLE Window
    // node over a single Exchange(group) + Sort(group, value)
    val w = Window.partitionBy(g: _*).orderBy(col("__v"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val idx = pcts.indices
    var x = clean
      .select(g :+ col(valueCol).cast("double").as("__v"): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    for (i <- idx) {
      // Spark computes position = percentage * (count - 1) in doubles
      x = x
        .withColumn(s"__pos$i", lit(pcts(i)._1) * (col("__n") - 1).cast("double"))
        .withColumn(s"__lo$i", floor(col(s"__pos$i")))
        .withColumn(s"__hi$i", ceil(col(s"__pos$i")))
    }
    val hit = idx.map(i =>
      col("__rn") === col(s"__lo$i") + 1 || col("__rn") === col(s"__hi$i") + 1)
      .reduce(_ || _)
    val aggs = idx.flatMap { i =>
      Seq(
        // __rn is unique within the group, so each when() matches
        // exactly one row; min() is just the null-skipping picker
        min(when(col("__rn") === col(s"__lo$i") + 1, col("__v"))).as(s"__lk$i"),
        min(when(col("__rn") === col(s"__hi$i") + 1, col("__v"))).as(s"__hk$i"),
        first(col(s"__pos$i")).as(s"__p$i"),
        first(col(s"__lo$i")).as(s"__l$i"),
        first(col(s"__hi$i")).as(s"__h$i"))
    }
    val outs = idx.map { i =>
      when(col(s"__l$i") === col(s"__h$i"), col(s"__lk$i"))
        .when(col(s"__hk$i") === col(s"__lk$i"), col(s"__lk$i"))
        .otherwise(
          (col(s"__h$i").cast("double") - col(s"__p$i")) * col(s"__lk$i") +
            (col(s"__p$i") - col(s"__l$i").cast("double")) * col(s"__hk$i"))
        .as(pcts(i)._2)
    }
    x.filter(hit)
      .groupBy(g: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(g ++ outs: _*)
  }
}
