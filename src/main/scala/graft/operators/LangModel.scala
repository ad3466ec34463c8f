package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-trained unigram language-model scoring — the KenLM-shaped
  * quality filter of LLM data pipelines (CCNet et al. score documents
  * by LM perplexity and drop the tail; a unigram model over the
  * corpus's own vocabulary is the distributable first rung of that
  * ladder, and the plan shape below is exactly what a bigger model
  * needs too).
  *
  * Model: the top-`vocabK` words by corpus frequency (ties broken by
  * word — deterministic on any engine) with add-one smoothing over a
  * single shared out-of-vocabulary bucket:
  * `p(w in model) = (cnt_w + 1) / (total + vocabK + 1)`,
  * `p(OOV) = 1 / (total + vocabK + 1)` — `total` counted over ALL
  * token occurrences, so every probability is an exact integer ratio.
  *
  * Scale shape for 100 TB: the vocabulary CAP is what makes the plan
  * scale-safe — the model is `vocabK` rows by construction (a
  * distributed TakeOrdered over the word counts, the d16 pattern;
  * never a global sort), so the score join is a BROADCAST probe and
  * the corpus token stream never shuffles for the model. The only
  * corpus-sized shuffles are the word-count aggregation (map-side
  * combined, keyed by word) and the per-document score aggregation
  * (keyed by doc id) — both linear, both skew-free.
  */
object LangModel {

  /** The corpus word-count table, persisted as an RDD: it feeds up to
    * three downstream subtrees (total, top-K model, bigram
    * denominators) and Spark does not dedupe common subplans — without
    * this the corpus would be re-scanned and re-shuffled once per use.
    * RDD persist (not DataFrame cache) so the ContextCleaner releases
    * it when the scorer's result goes out of scope (the
    * `Shade.pcaShade` lesson). The cached volume is vocabulary-sized,
    * never corpus-sized.
    */
  private def persistedCounts(toks: DataFrame, cntName: String): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val rdd = toks.groupBy(col("w")).agg(count(lit(1)).as(cntName))
      .as[(String, Long)].rdd.setName("LangModel word counts").persist()
    spark.createDataset(rdd).toDF("w", cntName)
  }

  /** Per-document unigram LM score against the corpus's own top-K
    * vocabulary.
    *
    * @return (idCol, n_tokens, n_oov, avg_logp) — `avg_logp` is the
    *         mean natural-log token probability (≤ 0; higher = more
    *         typical of the corpus), rounded to 6 places; empty/
    *         whitespace-only docs score n_tokens=0 with null avg_logp.
    */
  def unigramScore(docs: DataFrame, idCol: String, textCol: String, vocabK: Int): DataFrame = {
    require(vocabK >= 1, s"unigramScore: vocabK must be >= 1, got $vocabK")
    val words = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = persistedCounts(words, "cnt")
    val total = counts.agg(sum(col("cnt")).cast("long").as("total"))
    val model = counts.orderBy(col("cnt").desc, col("w").asc).limit(vocabK)
    val scored = words
      .join(broadcast(model), Seq("w"), "left")
      .crossJoin(broadcast(total))
      .select(
        col(idCol),
        col("cnt").isNull.cast("long").as("oov"),
        log(coalesce(col("cnt") + lit(1L), lit(1L)).cast("double") /
          (col("total") + lit(vocabK.toLong + 1L)).cast("double")).as("logp"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("oov")).as("n_oov"),
        round(avg(col("logp")), 6).as("avg_logp"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("avg_logp"))
  }

  /** Per-document bigram LM score with stupid backoff (Brants et al.
    * 2007): each bigram occurrence `(w1, w2)` scores
    * `ln(cnt(w1 w2) / cnt(w1))` when the bigram is in the top-`bigramK`
    * model, else backs off to `ln(0.4 · p_unigram(w2))` with the
    * [[unigramScore]] add-one unigram model (top-`vocabK`, shared OOV
    * bucket). Bigrams are built IN-ROW from the token array (no
    * position window, no per-doc sort); both model tables are capped
    * by construction, so they broadcast and the corpus token stream
    * never shuffles for the model — the same 100 TB plan shape as the
    * unigram scorer, one rung up the KenLM ladder.
    *
    * @return (idCol, n_bigrams, n_hits, avg_logp) — docs with < 2
    *         tokens score n_bigrams=0 with null avg_logp.
    */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String,
                  vocabK: Int, bigramK: Int, backoff: Double = 0.4): DataFrame = {
    require(vocabK >= 1 && bigramK >= 1,
      s"bigramScore: vocabK and bigramK must be >= 1, got ($vocabK, $bigramK)")
    val toks = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = persistedCounts(toks, "cntu")
    val total = counts.agg(sum(col("cntu")).cast("long").as("total"))
    // the exploded bigram stream below appears in two subtrees (model
    // counts, scoring) and is deliberately NOT cached: its volume is
    // corpus-sized, and at scale re-reading the columnar scan is
    // cheaper than spill-caching every token occurrence
    val uniModel = counts.orderBy(col("cntu").desc, col("w").asc).limit(vocabK)
      .withColumnRenamed("w", "w2")
    // bigram occurrences, formed in-row; tokens of a trimmed \s+ split
    // contain no whitespace, so "w1 w2" is an unambiguous key
    val ws = split(trim(col(textCol)), "\\s+")
    val bigrams = docs.select(
      col(idCol),
      explode(transform(
        when(size(ws) >= 2, sequence(lit(2), size(ws)))
          .otherwise(array().cast("array<int>")),
        i => concat_ws(" ", element_at(ws, i - 1), element_at(ws, i)))).as("bg"))
    val bgModel = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("cnt2"))
      .orderBy(col("cnt2").desc, col("bg").asc).limit(bigramK)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    // denominator = FULL corpus count of the prefix word (exact
    // conditional probability); the join output is bigramK rows
    val bgModelD = counts.withColumnRenamed("w", "w1").withColumnRenamed("cntu", "cnt1")
      .join(broadcast(bgModel), Seq("w1"))
      .select(col("bg"), col("cnt2"), col("cnt1"))
    val scored = bigrams
      .join(broadcast(bgModelD), Seq("bg"), "left")
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(broadcast(uniModel), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(
        col(idCol),
        col("cnt2").isNotNull.cast("long").as("hit"),
        when(col("cnt2").isNotNull,
          log(col("cnt2").cast("double") / col("cnt1").cast("double")))
          .otherwise(log(lit(backoff) *
            (coalesce(col("cntu") + lit(1L), lit(1L)).cast("double") /
              (col("total") + lit(vocabK.toLong + 1L)).cast("double")))).as("logp"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("hit")).as("n_hits"),
        round(avg(col("logp")), 6).as("avg_logp"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("avg_logp"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under a TARGET
    * unigram model than under the RAW (non-target) model —
    * `logw(doc) = mean_w [ln p_t(w) − ln p_r(w)]`. Pipelines rank the
    * raw pool by this weight and resample the top to shift the
    * training mixture toward the target domain without hand rules.
    *
    * Both models share ONE vocabulary (corpus-wide top-`vocabK`, ties
    * by word) and the [[unigramScore]] add-one convention per group:
    * `p_g(w) = (cnt_g(w) + 1) / (total_g + vocabK + 1)` with `total_g`
    * counted over ALL token occurrences of group `g`, so every
    * probability is an exact integer ratio and an out-of-vocabulary
    * token contributes the constant
    * `ln((total_r + K + 1) / (total_t + K + 1))`.
    *
    * Scale shape: one corpus-sized word shuffle produces BOTH groups'
    * counts (conditional sums keyed by word — never two passes); the
    * model is `vocabK` rows by construction and broadcasts, so scoring
    * never shuffles the token stream; the per-doc aggregation is keyed
    * by doc id. Same 100 TB plan as the LM scorers.
    *
    * @param targetPred boolean Column over `docs`' columns selecting
    *        the target domain (e.g. `col("source") === "wiki"`).
    * @return (idCol, n_tokens, n_oov, logw_avg) for EVERY doc (target
    *         docs score too — their weights sanity-check the model);
    *         empty docs score n_tokens=0 with null logw_avg.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, vocabK: Int): DataFrame = {
    require(vocabK >= 1, s"dsirWeights: vocabK must be >= 1, got $vocabK")
    val words = docs
      .select(col(idCol), targetPred.cast("boolean").as("is_t"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    // one shuffle keyed by word; persisted vocabulary-sized (feeds the
    // top-K selection, the totals, and the broadcast model)
    val rdd = words.groupBy(col("w"))
      .agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("cnt_t"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("cnt_r"))
      .as[(String, Long, Long)].rdd.setName("DSIR word counts").persist()
    val counts = spark.createDataset(rdd).toDF("w", "cnt_t", "cnt_r")
    val totals = counts.agg(
      sum(col("cnt_t")).cast("long").as("total_t"),
      sum(col("cnt_r")).cast("long").as("total_r"))
    val model = counts
      .orderBy((col("cnt_t") + col("cnt_r")).desc, col("w").asc).limit(vocabK)
    val kp1 = lit(vocabK.toLong + 1L)
    val scored = words
      .join(broadcast(model), Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col(idCol),
        col("cnt_t").isNull.cast("long").as("oov"),
        (log((coalesce(col("cnt_t"), lit(0L)) + lit(1L)).cast("double") /
             (col("total_t") + kp1).cast("double")) -
         log((coalesce(col("cnt_r"), lit(0L)) + lit(1L)).cast("double") /
             (col("total_r") + kp1).cast("double"))).as("logw"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("oov")).as("n_oov"),
        round(avg(col("logw")), 6).as("logw_avg"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("logw_avg"))
  }

  /** Per-group unigram KL divergence from the corpus:
    * `KL(p_g ‖ p_c) = Σ p_g(w) · ln(p_g(w) / p_c(w))` over the shared
    * corpus-wide top-`vocabK` vocabulary plus one OOV bucket, with the
    * [[unigramScore]] add-one convention on both sides (probabilities
    * over K+1 outcomes sum to exactly 1, all exact integer ratios
    * before the final ln). The standard drift/contamination diagnostic
    * for a multi-source corpus: a source whose language diverges from
    * the pool (template spam, wrong language, boilerplate) shows a
    * large KL; re-run per ingest batch it detects drift over time.
    *
    * Plan: one corpus shuffle keyed (w, group) — cardinality
    * |vocab|·|groups|; the top-K vocabulary broadcasts onto it; the KL
    * sum aggregates |groups|·(K+1) rows. Nothing downstream of the
    * word count is corpus-sized.
    *
    * @return (groupCol, n_tokens, n_oov, kl) — kl rounded to 6, ≥ 0 up
    *         to rounding.
    */
  def sourceKl(docs: DataFrame, groupCol: String, textCol: String, vocabK: Int): DataFrame = {
    require(vocabK >= 1, s"sourceKl: vocabK must be >= 1, got $vocabK")
    val words = docs
      .select(col(groupCol), explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    // one corpus-sized shuffle; (w, group) cardinality ≤ |vocab|·|groups|
    val gc = words.groupBy(col("w"), col(groupCol)).agg(count(lit(1)).as("cnt_g"))
    val wc = gc.groupBy(col("w")).agg(sum(col("cnt_g")).as("cnt_c"))
    val top = wc.orderBy(col("cnt_c").desc, col("w").asc).limit(vocabK)
    val totals = gc.groupBy(col(groupCol)).agg(sum(col("cnt_g")).cast("long").as("total_g"))
    val totalC = wc.agg(sum(col("cnt_c")).cast("long").as("total_c"))
    val kp1 = lit(vocabK.toLong + 1L)
    // in-vocab terms: every (group, top-K word) pair, absent counts = 0
    val pairs = totals.crossJoin(broadcast(top))
      .join(gc, Seq("w", groupCol), "left")
      .select(col(groupCol), col("total_g"), col("cnt_c"),
        coalesce(col("cnt_g"), lit(0L)).as("cnt_g"))
    val inG = pairs.groupBy(col(groupCol), col("total_g"))
      .agg(sum(col("cnt_g")).as("in_g"))
    val inC = top.agg(sum(col("cnt_c")).cast("long").as("in_c"))
    val termKl =
      ((col("cnt_g") + lit(1L)).cast("double") / (col("total_g") + kp1).cast("double")) *
        (log((col("cnt_g") + lit(1L)).cast("double") / (col("total_g") + kp1).cast("double")) -
         log((col("cnt_c") + lit(1L)).cast("double") / (col("total_c") + kp1).cast("double")))
    val vocabPart = pairs.crossJoin(broadcast(totalC))
      .groupBy(col(groupCol), col("total_g"), col("total_c"))
      .agg(sum(termKl).as("kl_vocab"))
    val oovPart = inG.crossJoin(broadcast(inC)).crossJoin(broadcast(totalC))
      .select(col(groupCol),
        col("total_g") - col("in_g").cast("long") as "oov_g",
        col("total_c") - col("in_c") as "oov_c",
        col("total_g"), col("total_c"))
      .select(col(groupCol), col("oov_g"),
        (((col("oov_g") + lit(1L)).cast("double") / (col("total_g") + kp1).cast("double")) *
          (log((col("oov_g") + lit(1L)).cast("double") / (col("total_g") + kp1).cast("double")) -
           log((col("oov_c") + lit(1L)).cast("double") / (col("total_c") + kp1).cast("double")))
        ).as("kl_oov"))
    vocabPart.join(oovPart, Seq(groupCol))
      .select(
        col(groupCol),
        col("total_g").as("n_tokens"),
        col("oov_g").as("n_oov"),
        round(col("kl_vocab") + col("kl_oov"), 6).as("kl"))
  }

  /** Vocabulary table from a prepared word-count relation `(w, cnt)`:
    * corpus-wide top-`topK` words with cumulative coverage of all
    * token occurrences, plus the distinct-type count. ONE shared
    * implementation of the arithmetic — the batch query (d16) and the
    * streaming twin (`DocStream.incrementalVocab`) both call it, so
    * snapshot-equals-batch is identity, not coincidence. The top-K is
    * `orderBy().limit(k)` — a distributed TakeOrdered, never a
    * single-reducer global window over the vocabulary; rank and the
    * cumulative count then come from the PACKED-ARRAY idiom over
    * exactly k rows (sort_array + posexplode + a prefix-sum
    * `aggregate`), not a global window — the last unpartitioned
    * WindowExec on this path is gone (optimization round 14; it was
    * the warning-spam source and a needless single-partition sort
    * stage). Identical arithmetic: sort_array's struct order
    * (−cnt asc, w asc) IS the window's (cnt desc, w asc) total order,
    * rk = pos+1 replays row_number, and the slice-aggregate replays
    * the running long sum (k ≤ a few hundred, so the O(k²) prefix is
    * microseconds).
    *
    * @param topK CONTRACT: small, at most a few hundred. All k rows are
    *   packed into ONE array in ONE task, and the prefix sum re-reads
    *   a slice per row, so the work grows as k² with no warning. For a
    *   large vocabulary cut, rank with a window over `counts` instead.
    * @return (rk, w, cnt, coverage, n_types)
    */
  def vocabFromCounts(counts: DataFrame, topK: Int): DataFrame = {
    val total = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_types"))
    val top = counts.orderBy(col("cnt").desc, col("w").asc).limit(topK)
    top
      .agg(sort_array(collect_list(struct(
        (-col("cnt")).as("nc"), col("w").as("w"), col("cnt").as("cnt")))).as("arr"))
      .select(col("arr"), posexplode(col("arr")).as(Seq("pos", "r")))
      .select(
        (col("pos") + lit(1)).as("rk"), col("r.w").as("w"), col("r.cnt").as("cnt"),
        expr("aggregate(slice(arr, 1, pos + 1), 0L, (a, x) -> a + x.cnt)").as("cum_cnt"))
      .crossJoin(broadcast(total))
      .select(
        col("rk"), col("w"), col("cnt"),
        (round(col("cum_cnt").cast("double") / col("total").cast("double") * lit(1e6)) / lit(1e6)).as("coverage"),
        col("n_types"))
  }

  /** [[vocabFromCounts]] from the documents themselves (whitespace
    * tokens — the d16 batch query), under its small-`topK` contract.
    */
  def vocabStats(docs: DataFrame, textCol: String, topK: Int): DataFrame =
    vocabFromCounts(
      docs.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt")),
      topK)
}
