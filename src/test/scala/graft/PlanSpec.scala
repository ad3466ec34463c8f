package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (DESIGN §2): the scale-shaped plans are a
  * contract, not an accident. These tests fail if a refactor
  * reintroduces a cartesian/nested-loop as-of join, drops a broadcast,
  * or breaks scan-level filter pushdown / column pruning.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  val dir = "/root/testdata/sf0.001"

  private def planOf(name: String, execute: Boolean = false): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    if (execute) df.collect() // AQE finalizes (and codegen-annotates) the plan only on execution
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter pushdown and column pruning reach the lineitem scan (q01)") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // 6 of lineitem's 16 columns — projection pruned at the scan
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double," +
      "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>"), p)
  }

  test("dimension joins broadcast the small side (q04, q08)") {
    assert(planOf("q04_revenue_by_nation").contains("BroadcastHashJoin"))
    assert(planOf("q08_daily_density").contains("BroadcastHashJoin"))
  }

  test("as-of joins are equi-shuffles — no cartesian or nested-loop (q14, q31)") {
    Seq("q14_asof_grid", "q31_asof_backward").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n planned a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n planned a nested-loop join")
    }
  }

  test("LSH dedup path stays equi-join shaped (d07, d09 edges)") {
    val p = planOf("d07_minhash_lsh")
    assert(!p.contains("CartesianProduct"), "d07 planned a cartesian product")
  }

  test("hot aggregation paths run under whole-stage codegen (q07)") {
    assert(planOf("q07_daily_energy", execute = true).contains("codegen id"))
  }

  test("per-day lookaside tables broadcast back to the scan (q46, q47)") {
    // day-max normalization (q46) and the DST shift table (q47) are
    // site-day-grain side tables: they must broadcast, never shuffle
    // the raw event scan a second time for the join
    Seq("q46_polar_transform", "q47_dst_apply").foreach { n =>
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"), s"$n lost its broadcast join")
      assert(!p.contains("SortMergeJoin"), s"$n shuffled the scan for a tiny side table")
    }
  }

  test("clipping stats broadcast their day-grain side tables (q48, q49)") {
    Seq("q48_clip_stats", "q49_clipping_verdict").foreach { n =>
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"), s"$n lost its broadcast join")
      assert(!p.contains("SortMergeJoin"), s"$n shuffled the scan for a tiny side table")
      assert(!p.contains("CartesianProduct"), s"$n planned a cartesian product")
    }
  }

  test("filled-grid plan has no cartesian and keeps the rise/set self-join broadcast (q50)") {
    val p = planOf("q50_filled_energy")
    assert(!p.contains("CartesianProduct"), "q50 planned a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q50 planned a nested-loop join")
    assert(p.contains("BroadcastHashJoin"), "q50 lost the day-grain broadcasts")
  }

  test("dilation-grid side tables broadcast; bin explosion sits above the day grain (q52)") {
    // rise/set and day-energy are (site, day)-grain side tables — they
    // broadcast onto each other, and the 12-bin Generate multiplies
    // the DAY table, never the raw event scan
    val p = planOf("q52_dilation_grid")
    assert(p.contains("BroadcastHashJoin"), "q52 lost the day-grain broadcast join")
    assert(!p.contains("CartesianProduct"), "q52 planned a cartesian product")
    val plan = SparkEntry.queries("q52_dilation_grid")(spark, dir).queryExecution.sparkPlan
    val gens = plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.nonEmpty, "expected the bin-sequence Generate")
    gens.foreach { g =>
      val hasAggBelow = g.find {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }.isDefined
      assert(hasAggBelow, "q52 explodes the raw scan instead of the day-grain table")
    }
  }

  test("study sweeps and report spine stay broadcast-shaped — no cartesian, no scan-side merge join (q61, q62, q63, p07)") {
    Seq("q61_latitude_study", "q62_longitude_study", "q63_orientation_cells",
      "p07_report_relational").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n planned a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n planned a nested-loop join")
      assert(p.contains("BroadcastHashJoin"), s"$n lost its site-grain broadcasts")
    }
  }

  test("filled-matrix studies stay bounded: one parquet scan, no cartesian, canonical clustering single-scan (q64, q65, q67)") {
    // the filled-only sweeps must not re-touch the raw parquet beyond
    // the grid build + the clear-day detector — every other
    // consumption rides filledDayGrid's persisted internals
    Seq("q64_latitude_study_filled", "q65_longitude_study_filled").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n planned a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n planned a nested-loop join")
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans <= 2, s"$n reads the raw parquet $scans times — internal caches lost")
    }
    val p67 = planOf("q67_dbscan_quality")
    assert(!p67.contains("CartesianProduct"), "q67 planned a cartesian product")
    val scans67 = "Scan parquet".r.findAllIn(p67).size
    assert(scans67 <= 2, s"q67 reads the raw parquet $scans67 times")
  }

  test("sensor-ID CV never explodes the scan: sensors unpivot above the day aggregate (q84)") {
    // the whole cross-validation is sufficient-statistics algebra: the
    // only Generates allowed are DOWNSTREAM of the day-grain aggregate
    // (the stack unpivot and the filter explode) — a Generate feeding
    // an aggregate from below would mean the raw scan multiplied
    val plan = SparkEntry.queries("q84_sensor_identify")(spark, dir).queryExecution.sparkPlan
    val gens = plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.nonEmpty, "expected the post-aggregate unpivot/filter Generates")
    gens.foreach { g =>
      val hasAggBelow = g.find {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }.isDefined
      assert(hasAggBelow, "q84 exploded the raw scan before aggregating")
    }
    val p = planOf("q84_sensor_identify")
    assert(!p.contains("CartesianProduct"), "q84 planned a cartesian product")
    // formatted explain lists each node in the tree AND the details —
    // count the details headers only
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"q84 reads the raw parquet $scans times (sensor scan + clear-day scan)")
  }

  test("grid search stays single-scan: no row explosion before aggregation (q38)") {
    // the threshold grid is evaluated as conditional aggregate columns;
    // every Generate (explode) must sit DOWNSTREAM of an aggregate —
    // i.e. have one below it in the tree — never on the raw scan
    val plan = SparkEntry.queries("q38_riseset_grid")(spark, dir).queryExecution.sparkPlan
    val gens = plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.nonEmpty, "expected the post-aggregate unpivot Generate")
    gens.foreach { g =>
      val hasAggBelow = g.find {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }.isDefined
      assert(hasAggBelow, "q38 explodes the scan before aggregating")
    }
  }

  test("winnowing pair search is a postings equi-join — no doc cross join (d11)") {
    val p = planOf("d11_winnow_pairs")
    assert(!p.contains("CartesianProduct"), "d11 planned a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "d11 planned a nested-loop join")
  }

  test("quantized-recall candidate scans broadcast the query side (e07)") {
    // both top-k passes must broadcast the 32 queries into the corpus
    // scan; the corpus itself never shuffles for the scoring join
    val p = planOf("e07_quant_recall")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "e07 lost the query-side broadcast")
    assert(!p.contains("CartesianProduct"), "e07 planned a cartesian product")
  }

  test("semantic dedup pairs only inside clusters — equi-join on centroid, no cross join (e08)") {
    // the only nested-loop allowed is the 8-centroid broadcast in the
    // assignment stage; the corpus-sized pair stage must be an
    // equi-join keyed on centroid_id
    val p = planOf("e08_semantic_dedup")
    assert(!p.contains("CartesianProduct"), "e08 planned a cartesian product")
    assert(p.contains("centroid_id"), p)
    // the assignment subtree (the one legitimate nested loop, over 8
    // broadcast centroids) is materialized ONCE as a persisted RDD;
    // the three consumers must read that, not replay the assignment
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj == 0, s"e08 replayed the centroid assignment $bnlj times in the consumer plan")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
  }

  test("default near-dup path pairs only inside LSH buckets — equi-join, no nested loop (e21)") {
    // the ONLY nested loop allowed is the 8-hyperplane broadcast attach
    // inside signLshBuckets; the corpus-sized pair stage must be an
    // equi-join keyed on the bucket id, never an a_id < b_id loop join
    val p = planOf("e21_neardup_bucketed")
    assert(!p.contains("CartesianProduct"), "e21 planned a cartesian product")
    // the corpus-sized pair stage: a shuffle equi-join keyed on bucket
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "e21 lost the bucket equi-join")
    // nested loops may appear only as the 8-row hyperplane literal
    // attach: exactly one per self-join side, each a condition-free
    // Cross (formatted mode prints the type in the DETAIL section as
    // "Join type: Cross" / "Join condition: None" — the tree line is
    // just "(N) BroadcastNestedLoopJoin"). A regression to the
    // quadratic a_id < b_id form would add a third BNLJ and a
    // non-None join condition.
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj == 2, s"e21 planned $bnlj nested-loop joins; only the two plane attaches are allowed")
    val crossNoCond = "Join type: Cross\\s*\\nJoin condition: None".r.findAllIn(p).length
    assert(crossNoCond >= bnlj,
      s"e21's nested loops must all be condition-free Cross plane attaches:\n$p")
    assert(!p.contains("Join condition: (a_id"),
      "e21 evaluated the pair predicate inside a nested-loop join")
  }

  test("contamination audit never shuffles the training corpus (d14)") {
    // the train-side gram explosion must reach its semi-join through a
    // broadcast; the only allowed exchanges carry benchmark-sized data
    // (bench grams dedup, intersection dedup, final per-bench agg)
    val p = planOf("d14_contamination")
    assert(p.contains("BroadcastHashJoin"), "d14 lost the benchmark-gram broadcast")
    assert(!p.contains("SortMergeJoin"), "d14 shuffled the training corpus into a sort-merge join")
    assert(!p.contains("CartesianProduct"))
  }

  test("stratified sampling broadcasts the rate table — the corpus never shuffles (t01)") {
    val p = planOf("t01_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), "t01 lost the rate-table broadcast")
    assert(!p.contains("SortMergeJoin"), "t01 shuffled the corpus to join per-stratum rates")
  }

  test("interleave key is a map against broadcast weights — no corpus shuffle (t04)") {
    val p = planOf("t04_interleave")
    assert(p.contains("BroadcastHashJoin"), "t04 lost the weight-table broadcast")
    assert(!p.contains("SortMergeJoin"), "t04 shuffled the corpus to attach weights")
    // the key is rank-free: no per-stratum row_number anywhere (the
    // only window is the ordered fold over the tiny COUNTS table)
    assert(!p.contains("row_number"), "t04 reintroduced a rank window")
  }

  test("in-row repetition metric computes without an extra corpus shuffle branch (d13)") {
    // the top-word aggregation needs its two shuffles ((doc,word) then
    // doc); the in-row bigram branch must contribute NONE — it feeds
    // the broadcast join probe side straight from the scan
    val p = planOf("d13_repetition")
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).length
    assert(shuffles <= 2, s"d13 plan grew to $shuffles shuffle exchanges:\n$p")
    assert(p.contains("BroadcastHashJoin"), "d13 lost the aggregate-side broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("duplicated-span search never shuffles document text (d17)") {
    // the contract: only position hashes (longs) and candidate k-char
    // grams cross Exchanges — the raw text column is consumed in-row
    // at the two scans and must not appear in any Exchange's input
    val p = planOf("d17_dup_spans")
    val exchangeInputs = "\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeInputs.nonEmpty, s"no Exchange inputs parsed from plan:\n$p")
    exchangeInputs.foreach { cols =>
      assert(!cols.contains("__text") && !cols.contains("text#"),
        s"document text entered a shuffle: [$cols]")
    }
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "d17 planned a cross join — the no-pair-join contract broke")
  }

  test("token chunking is explode-only — zero shuffles (d24)") {
    val p = planOf("d24_token_chunks")
    assert(!p.contains("Exchange"), s"d24 grew a shuffle:\n$p")
    assert(p.contains("Generate"), "d24 lost the explode")
  }

  test("prototype pruning adds only cluster-partitioned windows — no global sort (e12)") {
    val p = planOf("e12_prototype_prune")
    assert(!p.contains("SinglePartition"), s"e12 planned a single-partition stage:\n$p")
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).length
    assert(shuffles <= 2, s"e12 plan grew to $shuffles shuffle exchanges:\n$p")
    assert(!p.contains("SortMergeJoin"), "e12 shuffled the corpus against the centroids")
  }

  test("epoch ordering never materializes a single-partition window (t06)") {
    val p = planOf("t06_epoch_order")
    assert(!p.contains("SinglePartition"), s"t06 planned a global window/sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), "t06 lost the offset-table broadcast")
    assert(!p.contains("SortMergeJoin"), "t06 shuffled the corpus to attach offsets")
  }

  test("refine re-rank broadcasts the shortlist into the float corpus (e16)") {
    val p = planOf("e16_adc_refine")
    assert(p.contains("BroadcastHashJoin"), "e16 lost the shortlist/query broadcasts")
    assert(!p.contains("SortMergeJoin"), "e16 shuffled the float corpus for the re-rank join")
    assert(!p.contains("CartesianProduct"), "e16 planned a cartesian product")
  }

  test("silhouette is one broadcast NLJ over the scan — corpus never sort-merge joins (e17)") {
    val p = planOf("e17_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin"), "e17's centroid cross join must broadcast")
    assert(!p.contains("SortMergeJoin"), "e17 shuffled the corpus against the centroids")
    assert(!p.contains("SinglePartition"), s"e17 planned a single-partition stage:\n$p")
  }

  test("fixed-merge BPE encoding is shuffle-free (d35)") {
    val p = planOf("d35_bpe_encode_fixed")
    assert(!p.contains("Exchange"), s"d35 grew a shuffle:\n$p")
  }

  test("HLL register build is scan → partial-agg → final-agg, no joins (d34)") {
    val p = planOf("d34_hll_registers")
    assert(!p.contains("Join"), s"d34 planned a join:\n$p")
    assert(p.contains("HashAggregate"), "d34 lost hash aggregation")
  }

  test("seed-quality scoring is a pure scan — the centroid is literal model state (d37)") {
    // the centroid is collected at plan-build time; the SCORING plan
    // must be a map over the embedding scan with zero joins/shuffles
    val p = planOf("d37_seed_quality")
    assert(!p.contains("Exchange"), s"d37 scoring grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"d37 scoring planned a join:\n$p")
  }

  test("sunrise threshold grid stays single-scan with a broadcast scale join (q55)") {
    // the 21-threshold grid is 42 conditional aggregates over ONE
    // scan pass; the unpivot Generate must sit above the aggregate,
    // and the per-site p99/min scaling joins back by broadcast
    val plan = SparkEntry.queries("q55_sunrise_grid")(spark, dir).queryExecution.sparkPlan
    val gens = plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.nonEmpty, "expected the post-aggregate unpivot Generate")
    gens.foreach { g =>
      val hasAggBelow = g.find {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }.isDefined
      assert(hasAggBelow, "q55 explodes the scan before aggregating")
    }
    val p = planOf("q55_sunrise_grid")
    assert(p.contains("BroadcastHashJoin"), "q55 lost the scale broadcast")
    assert(!p.contains("SortMergeJoin"), "q55 shuffled the scan for the site-grain scale table")
    assert(!p.contains("CartesianProduct"), "q55 planned a cartesian product")
  }

  test("undilate gate keeps its side tables broadcast — the scan never sort-merge joins (q56)") {
    val p = planOf("q56_undilate")
    assert(p.contains("BroadcastHashJoin"), "q56 lost its rise/set broadcast")
    assert(!p.contains("SortMergeJoin"), "q56 shuffled the scan for a site-day side table")
    assert(!p.contains("CartesianProduct"), "q56 planned a cartesian product")
  }

  test("sun-up mask broadcasts day-grain estimates back — the scan never shuffles (stage C)") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id").as("site"), col("ts"), col("value"))
    // a stand-in day-grain estimate table (the mask join shape is
    // independent of how the estimates were fit)
    val est = ev.groupBy(col("site"), to_date(col("ts")).as("day"))
      .agg(lit(6.0).as("sunrise_est"), lit(18.0).as("sunset_est"))
    val p = graft.analyses.SunriseSunset.sunupMask(ev, est, "site", "ts")
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "sunupMask lost its broadcast")
    assert(!p.contains("SortMergeJoin"), "sunupMask shuffled the scan")
  }

  test("the naive band join gate rides IntervalJoinRule, not a nested loop (q82)") {
    val p = planOf("q82_interval_rule")
    // the only nested loop allowed is the explode-cap fallback branch
    // (barriered band; empty at gate data) — the MAIN path must be the
    // bucketed rewrite. planOf is the FORMATTED explain, where a
    // node's condition sits in the details section, so pin the count
    // and require the barrier marker to exist iff the fallback does.
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"q82 planned $bnlj nested loops — rewrite lost:\n$p")
    assert(bnlj == 0 || p.contains("graft_barrier"),
      s"q82's nested loop is not the barriered fallback branch:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the rewrite's signature: the interval side explodes to buckets
    assert(p.contains("Generate") && p.contains("explode("),
      "expected the bucket explode")
  }

  test("Pipeline.run on a cached fleet is one shuffle") {
    // the raw rows cross ONE shuffle into the site lane, which builds
    // the day rows and solves each site in the same task: a map stage
    // and a result stage, no relational day-row plan in front. AQE
    // submits the map stage as a job of its own, so two jobs.
    val fleet = graft.sources.Synth.pvFleet(spark, nSites = 4, nDays = 30, slotsPerDay = 24).cache()
    fleet.write.format("noop").mode("overwrite").save()
    try {
      val run = graft.analyses.Pipeline.run(spark, fleet, "site", "ts", "power")
      val c = JobCounter.during(spark, "Pipeline.run")(run.foreach(_ => ()))
      assert(c.jobs == 2, s"Pipeline.run ran ${c.jobs} jobs")
      assert(c.stages == 2, s"Pipeline.run ran ${c.stages} stages")
      val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(run.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        }
      assert(exchanges.length == 1, s"Pipeline.run planned ${exchanges.length} exchanges:\n" +
        run.queryExecution.executedPlan)
    } finally fleet.unpersist()
  }

  test("fleet batch-estimation joins stay broadcast-shaped: resume anti-join + metadata dim (q99)") {
    // The scripting-glue contract at 100 TB: the previous-results
    // anti-join and the ground-truth metadata dim are SITE-GRAIN
    // side tables -- both must broadcast, never shuffle the event
    // scan, and the passes window must be the only added exchange
    // grain. A cartesian/nested-loop anywhere here would scale with
    // the corpus.
    val p = planOf("q99_fleet_longitude")
    assert(p.contains("BroadcastHashJoin"), s"q99 lost its broadcast joins:\n$p")
    assert(p.contains("LeftAnti"), s"q99 resume anti-join gone:\n$p")
    assert(!p.contains("CartesianProduct"), s"q99 grew a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q99 grew a nested-loop join:\n$p")
  }

  test("ephemeris chain is one projection pipeline over the scan (q100)") {
    // The staged withColumn form must collapse to scan -> project --
    // no exchange, no join, and the multiply-referenced intermediates
    // must stay as separate (non-duplicated) project stages rather
    // than inlining into one Janino-breaking expression tree.
    val p = planOf("q100_ephemeris")
    assert(!p.contains("Exchange"), s"q100 should be shuffle-free:\n$p")
    assert(!p.contains("Join"), s"q100 should be join-free:\n$p")
    assert(p.contains("[codegen id :"), s"q100 fell out of codegen:\n$p")
  }
}
