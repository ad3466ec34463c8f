package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.SideJoin

/** Training-data MIXING operators: the steps between "corpus is
  * deduplicated" and "corpus is a training stream" in an LLM data
  * pipeline — stratified down-sampling, temperature-based source
  * re-weighting, and greedy packing of documents into fixed-size
  * context windows.
  *
  * All decisions are pure functions of content-free ids via the
  * engine's shared md5-prefix hash (see [[Dedup.baseHash31]]), so
  * every operator is deterministic, restart-stable, reproducible on
  * any engine (the DuckDB oracles replay them exactly), and — because
  * there is no RNG state — independent of partitioning and cluster
  * size.
  */
object Mixing {

  /** 48-bit deterministic hash of an id for sampling/ordering: first
    * 12 hex chars of md5 of the id's decimal string.
    */
  def idHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 12), 16, 10).cast("long")

  /** Deterministic stratified Bernoulli sampling: keep a document iff
    * `idHash mod 1e6 < floor(min(1, target/stratum_count) * 1e6)`.
    *
    * The per-stratum rates derive from the stratum counts (one
    * aggregation, broadcast back — the side grows with #strata, not
    * rows), and the keep decision is a stateless map against that
    * broadcast: no sort, no window, no per-stratum shuffle of the
    * corpus — the 100 TB path. Expected kept per stratum ≈ `target`
    * (binomial, not exact-k: exact-k would need a per-stratum top-k
    * by hash, a sort the scale path avoids; the gate pins the
    * binomial outcome, which is deterministic given the ids).
    *
    * @return input rows + (`n_stratum`, `keep_threshold`, `kept`)
    */
  def stratifiedSample(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      target: Long
  ): DataFrame = {
    require(strataCols.nonEmpty, "stratifiedSample needs at least one stratum column")
    require(target > 0, s"stratifiedSample target must be positive, got $target")
    val keyCols = strataCols.map(col)
    val counts = df.groupBy(keyCols: _*).agg(count(lit(1)).as("n_stratum"))
    val withRate = counts.withColumn(
      "keep_threshold",
      floor(least(lit(1.0), lit(target).cast("double") / col("n_stratum")) * 1e6).cast("long")
    )
    SideJoin.back(df, withRate, strataCols)
      .withColumn("kept", pmod(idHash(col(idCol)), lit(1000000L)) < col("keep_threshold"))
  }

  /** Temperature-based mixture weights over strata (the standard
    * `p_s ∝ n_s^alpha` re-weighting that up-weights small sources;
    * alpha fixed at 0.5 so the power is `sqrt`, which IEEE-754
    * guarantees correctly rounded — bit-identical on every engine,
    * unlike a general `pow`). The normalizing sum folds over the
    * strata IN KEY ORDER (sorted collect + ordered fold), so even
    * the float summation order is pinned and the oracle can compare
    * values after a fixed rounding.
    *
    * `epochs = weight * tokenBudget / n_s`: how many times each
    * stratum's documents repeat in the mixed stream.
    *
    * @return (strata..., n_stratum, weight, epochs)
    */
  def temperatureWeights(
      df: DataFrame,
      strataCols: Seq[String],
      tokenBudget: Double
  ): DataFrame = {
    require(strataCols.nonEmpty, "temperatureWeights needs at least one stratum column")
    require(tokenBudget > 0, s"temperatureWeights budget must be positive, got $tokenBudget")
    val keyCols = strataCols.map(col)
    weightsFromCounts(
      df.groupBy(keyCols: _*).agg(count(lit(1)).as("n_stratum")), strataCols, tokenBudget)
  }

  /** The counts → weights half of [[temperatureWeights]], exposed so
    * an incrementally-maintained count table (e.g. a streaming
    * aggregation snapshot) can be re-weighted with the identical
    * arithmetic.
    */
  def weightsFromCounts(
      counts: DataFrame,
      strataCols: Seq[String],
      tokenBudget: Double
  ): DataFrame = {
    val withR = counts.withColumn("__r", sqrt(col("n_stratum").cast("double")))
    // one global aggregate gathers the strata rows and their ordered
    // fold — collect (key, sqrt) pairs, sort by key, fold left, so the
    // sum is evaluated in stratum-key order on both engines — and the
    // rows are unnested again beside the total. Same single-partition
    // exchange as an `over ()` window, without WindowExec's
    // no-partition warning on every call.
    withR
      .agg(
        collect_list(struct(withR.columns.map(col): _*)).as("__rows"),
        expr("aggregate(transform(sort_array(collect_list(struct(" +
          strataCols.mkString(", ") + ", __r))), x -> x.__r), 0D, (a, x) -> a + x)").as("__tot"))
      .select(inline(col("__rows")), col("__tot"))
      .withColumn("weight", round(col("__r") / col("__tot"), 6))
      .withColumn("epochs", round(lit(tokenBudget) * col("__r") / col("__tot") / col("n_stratum"), 6))
      .drop("__r", "__tot")
  }

  /** Deterministic weighted-interleave sort key (stride scheduling):
    * `key = uniform(id) · n_stratum / weight`. True stride
    * scheduling orders each stratum's documents by `rank/weight`;
    * `uniform(id) · n_stratum` — the 48-bit id hash scaled to [0, 1)
    * times the stratum size — is that rank in expectation, so a
    * stratum's keys land uniformly on [0, n/w] and any sorted prefix
    * `key < x` holds `x·w_s` docs of stratum s: share exactly
    * proportional to the weights until a stratum exhausts (its
    * repetition factor past that point is `temperatureWeights`'
    * epochs, a separate decision). The point of the hash-rank
    * approximation: NO per-stratum `row_number` window (which would
    * funnel each stratum through one reducer at corpus scale) — the
    * key is a pure map against broadcast (n, weight) scalars.
    * Consumers materialize the order with a distributed
    * range-partitioned sort on the key, not a single-partition
    * global window.
    */
  def interleaveKey(id: Column, nStratum: Column, weight: Column): Column =
    idHash(id).cast("double") / lit(281474976710656.0) * nStratum.cast("double") / weight

  /** Quality-budget data selection (the "best subset under a token
    * budget" step of pretraining assembly, cf. quality-filtered
    * pretraining subsets): keep documents in (quality bucket DESC,
    * id ASC) order while the running token cost fits `budget` —
    * exactly the full-sort greedy's keep set, with the in-bucket tie
    * order being id.
    *
    * There is NO global sort — and no per-doc window over a full
    * bucket — in the plan: quality discretizes to an integer percent
    * bucket (≤ ~101 distinct values), the cross-bucket cumulative runs
    * over that broadcast-sized histogram, and WHOLE buckets are then
    * decided from the broadcast totals alone (a bucket entirely under
    * budget is all-kept; one starting past budget is all-dropped —
    * stateless map, no ordered work). Only the single BOUNDARY bucket
    * (where the running budget crosses — at most one exists, the
    * cumulative is strictly monotone there) needs per-doc cumulative
    * order, and that runs as a distributed prefix sum: 256
    * order-preserving id-range sub-buckets, per-sub-bucket token
    * totals collected (≤ 256 longs) into broadcast offsets, running
    * sum windowed per (bucket, sub-bucket) partition. At corpus scale
    * the widest ordered partition is ~1/256 of ~1 bucket, not a whole
    * bucket in one task. The bucket is derived from the 6-dp-rounded
    * quality (`round(q·100)`), integer end to end, so the keep set is
    * engine-reproducible.
    *
    * @return (idCol, tokens, qbucket, kept)
    */
  def budgetSelect(
      docs: DataFrame,
      idCol: String,
      tokensCol: Column,
      qualityCol: Column,
      budget: Long
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val narrow = docs.select(
      col(idCol),
      tokensCol.cast("long").as("tokens"),
      round(qualityCol * 100.0, 0).cast("int").as("qbucket"))
    // The selection needs three passes over the (id, tokens, qbucket)
    // projection: the bucket histogram, the boundary bucket's offset
    // collect, and the verdict emission. The token/quality signals
    // behind it are full-text scan work, so evaluate them ONCE into a
    // ~24 B/row RDD persist (GC-released via the ContextCleaner when
    // the result goes out of scope — the c01 idiom; a DataFrame
    // .persist would pin the CacheManager until an explicit
    // unpersist). Before this, every pass re-ran the text signals —
    // measured 3× the whole operator's cost at sf0.1.
    val allRdd = narrow.rdd.setName("budgetSelect (id, tokens, qbucket)")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val all = spark.createDataFrame(allRdd, narrow.schema)
    // a null quality or token count can't be ranked or budgeted:
    // report the doc (kept = false) instead of silently dropping it
    // through the inner bucket join
    val nullRows = all
      .filter(col("qbucket").isNull || col("tokens").isNull)
      .select(col(idCol), col("tokens"), col("qbucket"), lit(false).as("kept"))
    val base = all.filter(col("qbucket").isNotNull && col("tokens").isNotNull)
    // bucket histogram + id range per bucket (the range drives the
    // boundary bucket's order-preserving sub-bucketing). ≤ ~101
    // buckets by construction (integer quality percents) — bounded
    // driver state, so the cross-bucket cumulative runs here instead
    // of an empty-partition window
    val hist = base.groupBy(col("qbucket")).agg(
        sum(col("tokens")).as("btok"),
        min(col(idCol).cast("double")).as("idlo"),
        max(col(idCol).cast("double")).as("idhi"))
      .collect()
      // a bucket holding ONLY null-id rows aggregates null id bounds
      // (min/max over casts of null) — fall back to a degenerate
      // [0, 0] range rather than NPE; every row of such a bucket
      // takes the __sb = -1 null-id branch below, so the bounds are
      // never consulted
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2),
        if (r.isNullAt(3)) 0.0 else r.getDouble(3)))
      .sortBy(-_._1)
    val cumRows = {
      var acc = 0L
      hist.map { case (qb, btok, lo, hi) =>
        val better = acc; acc += btok
        (qb, btok, better, lo, hi)
      }
    }
    // whole-bucket decisions from the driver cumulative: a bucket
    // entirely under budget is all-kept, one starting past budget is
    // all-dropped; the budget crosses inside at most ONE bucket (the
    // [better, better+btok) intervals are disjoint)
    val keptBuckets = cumRows.filter { case (_, bt, better, _, _) => better + bt <= budget }.map(_._1).toSet
    val boundaryRow = cumRows.find { case (_, bt, better, _, _) => better + bt > budget && better <= budget }
    val decided = base.filter(boundaryRow match {
        case Some((qb, _, _, _, _)) => col("qbucket") =!= qb
        case None => lit(true)
      })
      .withColumn("kept",
        if (keptBuckets.isEmpty) lit(false) else col("qbucket").isin(keptBuckets.toSeq: _*))
      .select(col(idCol), col("tokens"), col("qbucket"), col("kept"))
    // boundary bucket: distributed prefix sum in (id asc) order.
    // Sub-bucket by the id's position in the bucket's [lo, hi] range —
    // long→double is monotone, so bucketing preserves the id order
    // exactly (ties within a sub-bucket are resolved by the window's
    // orderBy); skewed ids only unbalance the shards, never the result
    val boundary = boundaryRow match {
      case None =>
        base.filter(lit(false))
          .select(col(idCol), col("tokens"), col("qbucket"), lit(false).as("kept"))
      case Some((qb, _, better, lo, hi)) =>
        val bnd = base.filter(col("qbucket") === qb)
          .withColumn("__sb",
            when(col(idCol).isNull, lit(-1))
              .otherwise(least(lit(255.0), floor(
                (col(idCol).cast("double") - lit(lo)) * 256.0 /
                  (lit(hi) - lit(lo) + lit(1.0)))).cast("int")))
        // per-sub-bucket token totals → broadcast prefix offsets
        // (≤ 256 longs — bounded driver state, the globalRankInGroup
        // pattern)
        val sbCounts = bnd.groupBy(col("__sb"))
          .agg(sum(col("tokens")).as("__sbtok")).collect()
          .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val offsets = {
          var acc = 0L
          sbCounts.map { case (sb, n) => val o = acc; acc += n; (sb, o) }
        }
        val offDf = offsets.toSeq.toDF("__sb", "__off")
        // qbucket is a single value here, but it stays in the
        // partition spec: the plan contract (MixingSpec) is that no
        // data-side Window ever partitions by qbucket alone
        val wb = Window.partitionBy(col("qbucket"), col("__sb")).orderBy(col(idCol).asc)
        bnd.join(broadcast(offDf), Seq("__sb"))
          .withColumn("__wtok",
            col("__off") + sum(col("tokens")).over(wb.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("kept", lit(better) + col("__wtok") <= budget)
          .select(col(idCol), col("tokens"), col("qbucket"), col("kept"))
    }
    decided.unionByName(boundary).unionByName(nullRows)
  }

  /** Greedy sequence packing: order documents by `(idHash, id)`
    * within a hash shard, then fill context windows of `budget`
    * tokens first-come — a new pack starts when the next document
    * would overflow (an oversize document gets a pack of its own).
    *
    * Packing is inherently sequential, so the parallel unit is the
    * SHARD: documents hash-partition into `nShards` independent
    * streams, each packed in one pass of bounded arithmetic. At
    * cluster scale `nShards` tracks total cores (thousands of
    * shards), each shard's pack stream writes independently, and the
    * hash order makes the result identical across any partitioning —
    * unlike the "sort by length then zip" packers whose output
    * depends on global sort stability.
    *
    * [[packGreedy2]] with a second budget that never binds.
    *
    * @return (id, shard, pack_id, tok) — pack_id is per-shard,
    *   1-based, in hash order
    */
  def packGreedy(
      df: DataFrame,
      idCol: String,
      tokCol: Column,
      budget: Long,
      nShards: Int
  ): DataFrame =
    packGreedy2(df, idCol, tokCol, budget, lit(0L), Long.MaxValue, nShards)
      .select(col("id"), col("shard"), col("pack_id"), col("tok_a").as("tok"))

  /** Dual-budget greedy packing for MULTIMODAL context windows (VLM
    * training assembles text tokens AND image patches into one
    * window, each with its own capacity): same hash-shard / hash-order
    * contract as [[packGreedy]], but a new pack starts when EITHER
    * accumulator would overflow its budget.
    *
    * @return (id, shard, pack_id, tok_a, tok_b)
    */
  def packGreedy2(
      df: DataFrame,
      idCol: String,
      tokA: Column,
      budgetA: Long,
      tokB: Column,
      budgetB: Long,
      nShards: Int
  ): DataFrame = {
    require(budgetA > 0 && budgetB > 0 && nShards > 0,
      s"packGreedy2 needs positive budgets and shard count, got a=$budgetA b=$budgetB nShards=$nShards")
    import df.sparkSession.implicits._
    val rows = df
      .select(
        col(idCol).cast("long").as("id"),
        tokA.cast("long").as("tok_a"),
        tokB.cast("long").as("tok_b"),
        idHash(col(idCol)).as("h")
      )
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
      .as[(Long, Long, Long, Long, Int)]
    rows
      .groupByKey(_._5)
      .flatMapGroups { (shard: Int, it: Iterator[(Long, Long, Long, Long, Int)]) =>
        val docs = it.toArray.sortBy(r => (r._4, r._1))
        var pack = 1
        var accA = 0L
        var accB = 0L
        // "pack already has a member" must be tracked separately from
        // the accumulators being > 0: a zero-token opener leaves them
        // at 0, and the next oversize doc would otherwise join its
        // pack and break the budget invariant (this is also exactly
        // the oracle's semantics — its recursion checks overflow for
        // every non-first doc unconditionally)
        var started = false
        docs.iterator.map { case (id, ta, tb, _, _) =>
          if (started && (accA + ta > budgetA || accB + tb > budgetB)) {
            pack += 1; accA = 0L; accB = 0L
          }
          accA += ta
          accB += tb
          started = true
          (id, shard, pack, ta, tb)
        }
      }
      .toDF("id", "shard", "pack_id", "tok_a", "tok_b")
  }

  /** Deterministic per-epoch shuffle key: md5 of `"id:epoch"`. Every
    * epoch gets an independent, reproducible global permutation with
    * no RNG state — the property a resumable training-data writer
    * needs (re-running epoch 7 yields the same order on any cluster).
    */
  def epochShuffleKey(id: Column, epoch: Column): Column =
    md5(concat_ws(":", id.cast("string"), epoch.cast("string")))

  /** Global rank by `(keyCol, tieCol)` within each `groupCol` value,
    * WITHOUT a single-partition window: rows bucket by the key's
    * first two hex chars (256 ranges — md5 keys are uniform by
    * construction), a per-(group, bucket) count aggregate collects to
    * the driver (≤ 256·|groups| longs), prefix sums become a
    * broadcast offset table, and the rank is `offset + row_number`
    * inside the (group, bucket) partition. Equals
    * `row_number() OVER (PARTITION BY group ORDER BY key, tie)`
    * exactly, but the widest window partition is ~1/256 of a group —
    * at 100 TB this is the difference between a working epoch-order
    * writer and one executor sorting the world.
    *
    * `keyCol` must be non-null (every caller derives it from md5 of a
    * non-null id); a null GROUP value is fine — it ranks as its own
    * partition, like SQL's `PARTITION BY`.
    */
  def globalRankInGroup(df: DataFrame, groupCol: String, keyCol: String,
                        tieCol: String, rankName: String): DataFrame = {
    val spark = df.sparkSession
    val withB = df.withColumn("__bkt", substring(col(keyCol), 1, 2))
    val counts = withB.groupBy(col(groupCol).cast("string").as("__g"), col("__bkt"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val offsets = counts.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      var acc = 0L
      rows.sortBy(_._2).map { case (_, b, n) => val o = acc; acc += n; (g, b, o) }
    }
    import spark.implicits._
    val offDf = offsets.toDF("__g", "__obkt", "__off")
    val w = Window.partitionBy(col(groupCol), col("__bkt"))
      .orderBy(col(keyCol).asc, col(tieCol).asc)
    // null-SAFE join keys: a null group value is a legitimate
    // partition (the counts side keeps it), and === would silently
    // drop its rows here
    withB
      .join(broadcast(offDf),
        withB(groupCol).cast("string") <=> offDf("__g") && withB("__bkt") <=> offDf("__obkt"))
      .withColumn(rankName, col("__off") + row_number().over(w))
      .drop("__bkt", "__g", "__obkt", "__off")
  }

  /** Leakage-safe train/val/test assignment: the split key is the
    * near-duplicate GROUP (e.g. [[Dedup.connectedComponents]]'s
    * `component` label), not the document — so two near-duplicates
    * can never straddle train and test, the standard guard against a
    * benchmark answer leaking into training through a paraphrase.
    * The decision is a stateless hash threshold on the group label
    * (the t01 pattern): no shuffle beyond what the caller's
    * component table already paid, deterministic under any
    * partitioning, and reproducible forever from the label alone.
    *
    * @param pctTrain  percentage 0–100 routed to "train"
    * @param pctVal    percentage routed to "val"; the rest is "test"
    */
  def leakSafeSplit(
      components: DataFrame,
      groupCol: String,
      pctTrain: Int,
      pctVal: Int
  ): DataFrame = {
    require(pctTrain >= 0 && pctVal >= 0 && pctTrain + pctVal <= 100, "bad split percentages")
    components
      .withColumn("__h",
        conv(substring(md5(concat(lit("split:"), col(groupCol).cast("string"))), 1, 4), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("__h") < pctTrain, "train")
          .when(col("__h") < pctTrain + pctVal, "val")
          .otherwise("test"))
      .drop("__h")
  }

  /** [[leakSafeSplit]] with a giant-component cap: components holding
    * more than `maxComponentDocs` documents are routed WHOLLY to
    * train. Still leak-safe by construction — an oversized component
    * has NO members in val/test, so nothing can leak out of the
    * held-out sets through it — while keeping val/test sizes immune
    * to a percolated near-dup graph (the 105/150 failure mode
    * [[graft.operators.Dedup.componentStats]] surfaces: one giant
    * component hash-landing in "test" would swallow 70% of the
    * corpus). Size comes from one component-grain aggregate broadcast
    * back; the document table itself never reshuffles.
    */
  def leakSafeSplitCapped(
      components: DataFrame,
      groupCol: String,
      pctTrain: Int,
      pctVal: Int,
      maxComponentDocs: Long
  ): DataFrame = {
    require(maxComponentDocs >= 1, "maxComponentDocs must be >= 1")
    val sizes = components.groupBy(col(groupCol)).agg(count(lit(1)).as("__sz"))
    SideJoin.back(leakSafeSplit(components, groupCol, pctTrain, pctVal), sizes, Seq(groupCol))
      .withColumn("split", when(col("__sz") > maxComponentDocs, "train").otherwise(col("split")))
      .withColumn("capped", col("__sz") > maxComponentDocs)
      .drop("__sz")
  }
}
