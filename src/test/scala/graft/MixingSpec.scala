package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Mixing, TextOps}
import graft.sources.Tables

/** Training-data mixing operators: deterministic sampling rates,
  * temperature weights, and greedy pack invariants.
  */
class MixingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("budget select equals the full-sort greedy and respects the budget") {
    import graft.operators.TextOps
    val budget = 3000L
    val out = Mixing.budgetSelect(docs, "doc_id",
      TextOps.tokenCount(col("text")), TextOps.qualityScore(col("text")), budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    // brute-force greedy over the same (qbucket desc, id asc) order
    val sorted = out.sortBy { case (id, _, qb, _) => (-qb, id) }
    var cum = 0L
    val expectKept = sorted.map { case (id, tok, _, _) =>
      cum += tok
      id -> (cum <= budget)
    }.toMap
    out.foreach { case (id, _, _, kept) =>
      assert(kept == expectKept(id), s"doc $id: kept=$kept, greedy says ${expectKept(id)}")
    }
    val keptTok = out.filter(_._4).map(_._2).sum
    assert(keptTok <= budget, s"kept tokens $keptTok exceed budget $budget")
    assert(out.exists(_._4) && out.exists(!_._4), "fixture should split kept/dropped")
    // selection favors quality: every kept bucket >= every dropped bucket
    // except the boundary bucket where the budget ran out mid-bucket
    val keptMin = out.filter(_._4).map(_._3).min
    val droppedAbove = out.filter(o => !o._4 && o._3 > keptMin)
    assert(droppedAbove.isEmpty, s"dropped docs in buckets above kept minimum: ${droppedAbove.take(3).toSeq}")
  }

  test("budget select plan: no per-doc window spans a whole quality bucket") {
    // the scale contract (VERDICT r9 #3): whole buckets are decided
    // from the broadcast cumulative, and the only per-doc ordered work
    // is the boundary bucket's sharded prefix sum — every data-side
    // Window partitions by (qbucket, sub-bucket), never by qbucket
    // alone. The histogram-side cumulative (≤ ~101 rows) is the one
    // allowed empty-partition window.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val out = Mixing.budgetSelect(docs, "doc_id",
      TextOps.tokenCount(col("text")), TextOps.qualityScore(col("text")), 3000L)
    // logical plan: AQE hides physical Window nodes until execution
    val windows = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the boundary-bucket window in the plan")
    val badParts = windows.map(_.partitionSpec.length).filter(_ == 1)
    assert(badParts.isEmpty,
      s"found ${badParts.length} Window(s) partitioned by a single column — " +
        "a whole quality bucket would sort in one task at corpus scale")
  }

  test("budget select reports null-quality docs as kept=false instead of dropping them") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("good words here and the of to in")),
      (2L, None),
      (3L, Option("more of the and it is on for text"))
    ).toDF("doc_id", "text")
    val out = Mixing.budgetSelect(df, "doc_id",
      graft.operators.TextOps.tokenCount(col("text")),
      graft.operators.TextOps.qualityScore(col("text")), 100L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"row dropped: ${out.keySet}")
    assert(!out(2L), "null-text doc must not be kept")
    assert(out(1L) && out(3L))
  }

  test("budget select survives a quality bucket containing only null-id rows") {
    import spark.implicits._
    // all rows share one quality bucket and every id is null: the
    // bucket histogram's min/max id bounds aggregate to null (the
    // round-10 NPE channel); the rows must still be reported through
    // the __sb = -1 null-id branch, not crash the driver cumulative
    val df = Seq(
      (Option.empty[Long], 10L, 0.5),
      (Option.empty[Long], 20L, 0.5),
      (Option.empty[Long], 30L, 0.5)
    ).toDF("doc_id", "tok", "q")
    val out = Mixing.budgetSelect(df, "doc_id", col("tok"), col("q"), 25L).collect()
    assert(out.length == 3, "null-id rows must not be dropped")
    val kept = out.count(_.getBoolean(3))
    assert(kept >= 1 && kept < 3, s"budget 25 over tokens 10/20/30 kept $kept")
  }

  test("stratified sample: rates follow counts, decision is deterministic and partition-free") {
    val out = Mixing.stratifiedSample(docs, Seq("lang"), "doc_id", 10L).cache()
    // a stratum smaller than target keeps everything (threshold = 1e6)
    val small = out.filter(col("n_stratum") <= 10)
    assert(small.filter(!col("kept")).count() == 0, "small stratum dropped rows")
    // kept count lands near the target for big strata (hash-uniform)
    val big = out.filter(col("n_stratum") > 20)
      .groupBy(col("lang"), col("n_stratum"))
      .agg(sum(col("kept").cast("long")).as("n_kept"))
      .collect()
    big.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      assert(kept >= 2 && kept <= 25, s"kept $kept far from target 10 for ${r.mkString(",")}")
    }
    // decision is a pure function of the id: re-running on a
    // repartitioned input yields the identical kept set
    val again = Mixing.stratifiedSample(docs.repartition(7), Seq("lang"), "doc_id", 10L)
    assert(out.select("doc_id", "kept").except(again.select("doc_id", "kept")).count() == 0)
  }

  test("temperature weights sum to 1 and up-weight small sources") {
    val out = Mixing.temperatureWeights(docs, Seq("source"), 10000.0).collect()
    val wsum = out.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
    // per-doc share (weight / n) must be LARGER for smaller strata
    val sorted = out.sortBy(_.getAs[Long]("n_stratum"))
    val perDoc = sorted.map(r => r.getAs[Double]("weight") / r.getAs[Long]("n_stratum"))
    assert(perDoc.zip(perDoc.tail).forall { case (a, b) => a >= b - 1e-12 },
      "per-doc share not monotone decreasing in stratum size")
  }

  test("temperature weights fold the total without an unpartitioned window") {
    // an `over ()` window logs WindowExec's no-partition WARN on every
    // call; the global aggregate crosses the same one single-partition
    // exchange after the counts
    val w = Mixing.temperatureWeights(docs, Seq("source"), 10000.0)
    w.collect()
    val plan = w.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    assert("Exchange SinglePartition".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("interleave key: early sorted prefixes carry each stratum near its weight share") {
    // use the bigger sf0.01 corpus: the share test is statistical
    val corpus = Tables.documents(spark, "/root/testdata/sf0.01")
    val w = Mixing.temperatureWeights(corpus, Seq("lang"), 10000.0)
      .select(col("lang"), col("n_stratum"), col("weight"))
    val keyed = corpus.join(broadcast(w), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("weight"),
        Mixing.interleaveKey(col("doc_id"), col("n_stratum"), col("weight")).as("ikey"))
      .orderBy(col("ikey"))
      .collect()
    val weights = keyed.map(r => r.getAs[String]("lang") -> r.getAs[Double]("weight")).toMap
    // prefixes before any stratum exhausts: share_s ≈ weight_s, NOT
    // the corpus frequency n_s/N (en is ~45% of docs but weighted ~23%)
    Seq(keyed.length / 4, keyed.length / 2).foreach { pre =>
      val prefix = keyed.take(pre)
      weights.foreach { case (lang, wt) =>
        val share = prefix.count(_.getAs[String]("lang") == lang).toDouble / pre
        assert(math.abs(share - wt) < 0.1,
          s"prefix $pre: $lang share $share far from weight $wt")
      }
    }
  }

  test("giant-component guard: histogram surfaces the 105/150 percolation, cap routes it to train") {
    import graft.operators.Dedup
    // the d36/d09 slice: LSH at 16 hashes / 4 rows-per-band chains
    // 105 of 150 docs into ONE transitive component
    val docs = Tables.documents(spark, "/root/testdata/sf0.01").filter(col("doc_id") < 150)
    val sh = Dedup.charShingles(docs, "doc_id", "text", 3)
    val edges = Dedup.lshStarEdges(Dedup.lshBandsFromShingles(sh, "doc_id", 16, 4), "doc_id")
    val comp = Dedup.connectedComponents(docs.select(col("doc_id")), edges, "doc_id", partitions = 4)
      .cache()
    val stats = Dedup.componentStats(comp, "id").collect()
    // histogram accounts for every doc exactly once
    assert(stats.map(_.getAs[Long]("n_docs")).sum == 150)
    val top = stats.maxBy(_.getAs[Long]("component_size"))
    assert(top.getAs[Long]("component_size") == 105, s"giant = ${top.getAs[Long]("component_size")}")
    // top_share constant across rows and = 105/150
    stats.foreach(r => assert(math.abs(r.getAs[Double]("top_share") - 0.7) < 1e-9))
    // doc_share sums to 1
    assert(math.abs(stats.map(_.getAs[Double]("doc_share")).sum - 1.0) < 1e-6)

    // capped split: the giant component is forced WHOLLY to train;
    // smaller components keep their hash-assigned split
    val capped = Mixing.leakSafeSplitCapped(comp, "component", 60, 20, maxComponentDocs = 50)
      .collect()
    val giantRows = capped.filter(_.getAs[Boolean]("capped"))
    assert(giantRows.length == 105)
    assert(giantRows.forall(_.getAs[String]("split") == "train"))
    // uncapped rows match the plain split's assignment
    val plain = Mixing.leakSafeSplit(comp, "component", 60, 20)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    capped.filterNot(_.getAs[Boolean]("capped")).foreach { r =>
      assert(r.getAs[String]("split") == plain(r.getAs[Long]("id")))
    }
    comp.unpersist()
  }

  test("a zero-token opener cannot admit an oversize successor into its pack") {
    import spark.implicits._
    // 10 empty docs (0 tokens) interleaved by hash with 10 oversize
    // docs (tokens > budget): pre-fix, an empty doc opening a pack
    // left acc = 0 and the oversize successor joined it, producing a
    // multi-doc pack over budget
    val oversize = Array.fill(700)("w").mkString(" ")
    val df = ((1L to 10L).map(i => (i, "")) ++ (11L to 20L).map(i => (i, oversize)))
      .toDF("doc_id", "text")
    val out = Mixing.packGreedy(
      df, "doc_id", TextOps.approxBpeTokens(col("text")), budget = 512L, nShards = 1)
    val packs = out.groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("tok")).as("tok_sum"), count(lit(1)).as("n"))
    assert(packs.filter(col("tok_sum") > 512 && col("n") > 1).count() == 0,
      "zero-token opener admitted an oversize doc")
  }

  test("greedy packing is maximal: the doc opening pack k+1 could not have fit in pack k") {
    val budget = 512L
    val out = Mixing.packGreedy(
      docs, "doc_id", TextOps.approxBpeTokens(col("text")), budget, nShards = 4)
    val sums = out.groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("tok")).as("tok_sum"))
    // the FIRST doc of each pack in hash order is the one the greedy
    // loop failed to place in the previous pack; recover it exactly
    val firstDoc = out
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"), col("pack_id"))
          .orderBy(Mixing.idHash(col("id")), col("id"))))
      .filter(col("rn") === 1)
      .select(col("shard"), col("pack_id"), col("tok").as("first_tok"))
    val viol = sums.select(col("shard"), col("pack_id"), col("tok_sum"))
      .join(firstDoc.withColumn("pack_id", col("pack_id") - 1), Seq("shard", "pack_id"))
      .filter(col("tok_sum") + col("first_tok") <= budget)
    assert(viol.count() == 0, "a pack closed although its successor's first doc would have fit")
  }

  test("dual-budget packing: no multi-doc pack exceeds either budget, binding constraint varies") {
    val out = Mixing.packGreedy2(
      docs, "doc_id",
      TextOps.approxBpeTokens(col("text")), 512L,
      ceil(length(col("text")) / 64.0).cast("long"), 24L,
      nShards = 4).cache()
    assert(out.count() == docs.count())
    val packs = out.groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("tok_a")).as("a"), sum(col("tok_b")).as("b"), count(lit(1)).as("n"))
    assert(packs.filter((col("a") > 512 || col("b") > 24) && col("n") > 1).count() == 0,
      "multi-doc pack exceeds a budget")
  }

  test("greedy packing: every doc packed once, no pack over budget unless single oversize doc") {
    val budget = 512L
    val out = Mixing.packGreedy(
      docs, "doc_id", TextOps.approxBpeTokens(col("text")), budget, nShards = 4).cache()
    assert(out.count() == docs.count(), "doc lost or duplicated by packing")
    val packs = out.groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("tok")).as("tok_sum"), count(lit(1)).as("n_docs"))
    assert(packs.filter(col("tok_sum") > budget && col("n_docs") > 1).count() == 0,
      "multi-doc pack exceeds the budget")
    // packs are dense 1..K per shard
    val dense = packs.groupBy(col("shard"))
      .agg(max(col("pack_id")).as("mx"), countDistinct(col("pack_id")).as("nd"))
    assert(dense.filter(col("mx") =!= col("nd")).count() == 0, "pack ids not dense")
    // deterministic under repartition
    val again = Mixing.packGreedy(
      docs.repartition(5), "doc_id", TextOps.approxBpeTokens(col("text")), budget, nShards = 4)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
  }

  test("bucketed global rank equals the single-window row_number, partition-free") {
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, i % 3))
    val df = rows.toDF("doc_id", "epoch").repartition(7)
      .withColumn("shuffle_key", Mixing.epochShuffleKey(col("doc_id"), col("epoch")))
    val got = Mixing.globalRankInGroup(df, "epoch", "shuffle_key", "doc_id", "pos")
      .select(col("epoch"), col("doc_id"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // reference: in-memory per-epoch sort by (key, id)
    val keyed = got.keys.toSeq.map { case (e, id) => (e, id) }
    val expected = keyed.groupBy(_._1).flatMap { case (e, g) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def key(id: Long) = md.digest(s"$id:$e".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      g.map(_._2).sortBy(id => (key(id), id)).zipWithIndex
        .map { case (id, i) => (e, id) -> (i + 1L) }
    }
    assert(got == expected)
    // every epoch is a dense permutation 1..n
    val byEpoch = got.groupBy(_._1._1)
    byEpoch.foreach { case (_, m) =>
      assert(m.values.toSeq.sorted == (1L to m.size.toLong).toSeq)
    }
  }

  test("leakSafeSplit: a component never straddles splits; shares track the percentages") {
    import spark.implicits._
    // 1000 groups of 5 near-dups each
    val comp = (0L until 5000L).map(i => (i, i % 1000)).toDF("doc_id", "component")
    val s = Mixing.leakSafeSplit(comp, "component", 80, 10)
    assert(s.groupBy("component").agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count() == 0, "a group straddles splits")
    val byShare = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byShare("train") - 4000.0) < 400, s"train share ${byShare("train")}")
    assert(math.abs(byShare.getOrElse("val", 0L) - 500.0) < 250)
    assert(math.abs(byShare.getOrElse("test", 0L) - 500.0) < 250)
    // deterministic under repartitioning
    val s2 = Mixing.leakSafeSplit(comp.repartition(13), "component", 80, 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s1 = s.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == s2)
  }
}
