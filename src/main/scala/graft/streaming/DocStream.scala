package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.{Dedup, TextOps}

/** Structured Streaming face of the DEDUP family (the training-data
  * pipeline's incremental ingest: new documents arrive continuously;
  * yesterday's kept documents must stay kept). Batch dedup (d01–d11)
  * recomputes over the corpus; these twins maintain the same
  * decisions append-only:
  *
  *  - exact dedup: state per DISTINCT CONTENT fingerprint (the
  *    representative id), so state grows with unique contents, not
  *    with stream length, and the shuffle key is the fingerprint —
  *    the same partitioning the batch group-by uses;
  *  - LSH near-dup candidates: state per (band, band-signature)
  *    bucket (member ids, capped), emitting each candidate pair once
  *    when its second member arrives.
  *
  * MinHash band signatures are computed as PURE COLUMN EXPRESSIONS
  * (array fold over the per-doc shingle set) rather than the batch
  * path's shingle-row aggregation — a streaming query gets one
  * stateful operator, so the signature must arrive at the state op
  * already formed. The arithmetic is the same universal-hash family
  * over the same md5-prefix base hash, so signatures (and therefore
  * buckets) are byte-identical to `Dedup.lshBandsFromShingles` —
  * `DocStreamSpec` asserts it.
  */
object DocStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(docSchema).format("parquet").load(path)

  /** Per-band LSH signature columns from a text column, scalar-only:
    * distinct k-shingle array → base-hash array → per-hash-index min
    * fold → per-band md5 digest. Byte-identical to the batch
    * `lshBandsFromShingles` signatures (same hash family, same
    * `md5(concat_ws(",", mh_j…))` in j order).
    *
    * Delegates to the native `graft_lsh_band_sigs` expression
    * ([[graft.functions.LshBandSigs]]): the same computation as a
    * composition of `transform`/`aggregate` builtins evaluates ~10⁴
    * interpreted lambda steps per document and measured 60× slower
    * at sf0.1 — this is the profiled-hot-spot case SURVEY §7.4
    * reserves the custom-`Expression` path for.
    */
  def bandSigs(text: Column, k: Int, numHashes: Int, rowsPerBand: Int): Column = {
    graft.functions.GraftFunctions.ensure()
    call_function("graft_lsh_band_sigs", text, lit(k), lit(numHashes), lit(rowsPerBand))
  }

  case class DocVerdict(doc_id: Long, fp: String, is_dup: Boolean, rep_id: Long)

  /** Incremental EXACT dedup: each arriving document gets a final
    * verdict row (kept or duplicate-of-representative) the moment it
    * arrives. The representative of a content fingerprint is the
    * FIRST-SEEN doc (min doc_id within a micro-batch) and never
    * changes — the production contract that already-published kept
    * docs stay kept. State per distinct content: one long. At 100 TB
    * the shuffle key is the 128-bit content digest — uniformly
    * distributed by construction, no skew; state volume is
    * O(distinct contents), the same cardinality the batch group-by
    * shuffles.
    */
  /** @param ttlMs optional state TTL (processing time, sliding —
    *   renewed whenever the fingerprint is seen again). 0 = keep
    *   state forever, the exactness default. Production ingest over
    *   unbounded corpora sets a TTL to bound state at "contents seen
    *   within the window": the explicit tradeoff is that a duplicate
    *   of a COLD content (last seen > TTL ago) is re-admitted as
    *   kept — `DocStreamSpec` pins that behavior so the tradeoff is
    *   a measured contract, not a surprise. TTL runs use a
    *   single-batch trigger: `AvailableNow` + `ProcessingTimeTimeout`
    *   schedules a fresh micro-batch for every pending timeout, so a
    *   query whose groups all carry TTLs re-triggers every ttlMs and
    *   `awaitTermination` never returns (measured: 2 500 empty
    *   batches before we killed it). `Trigger.Once` fires expired
    *   timeouts in its one batch and terminates; eviction therefore
    *   happens on the NEXT ingest tick after expiry — the same point
    *   a long-running `ProcessingTime` deployment would observe it.
    */
  def incrementalExactDedup(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      ttlMs: Long = 0L
  ): DataFrame = {
    import spark.implicits._
    val docs = readDocs(spark, path)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .as[(Long, String)]
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val out = docs
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (fp: String, it: Iterator[(Long, String)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove() // cold content: forget the representative
            Iterator.empty
          } else {
            val ids = it.map(_._1).toArray.sorted
            val rep = state.getOption.getOrElse {
              val r = ids.head
              state.update(r)
              r
            }
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            ids.iterator.map(id => DocVerdict(id, fp, id != rep, rep))
          }
      }
    runAppend(spark, out.toDF(), checkpoint, outDir, ttlMs)
  }

  case class BoilerLine(h: String, n_docs: Long)

  /** Streaming twin of [[graft.operators.Dedup.lineBoilerplate]]'s
    * FREQUENCY side: an append-only BOILERPLATE LEDGER. Each arriving
    * document contributes its in-row DISTINCT line digests (the exact
    * expression the batch operator aggregates); per-digest state is
    * the running distinct-document count, and a digest emits ONE
    * ledger row the moment its count crosses `minDocs`. The ledger's
    * digest set after any prefix of the stream equals the batch
    * operator's boilerplate set over that prefix exactly
    * (`DocStreamSpec` pins it across a checkpointed restart), so
    * cleaning new documents against the current ledger is the batch
    * membership step with the set maintained incrementally instead of
    * recomputed. Assumes at-most-once document ingest (a replayed
    * doc_id would double-count — the same append-only assumption as
    * the other twins); state is one long per distinct line digest.
    */
  def incrementalLineBoilerplate(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      minDocs: Long,
      delimiter: String = "\n"
  ): DataFrame = {
    import spark.implicits._
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val qd = java.util.regex.Pattern.quote(delimiter)
    val digests = readDocs(spark, path)
      .select(explode(array_distinct(
        transform(split(col("text"), qd), l => md5(l)))).as("h"))
      .as[String]
    val out = digests
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, it: Iterator[String], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val now = prev + it.size
          state.update(now)
          if (prev < minDocs && now >= minDocs) Iterator.single(BoilerLine(h, now))
          else Iterator.empty
      }
    runAppend(spark, out.toDF(), checkpoint, outDir, 0L)
  }

  case class CandPair(a_id: Long, b_id: Long, band: Int)

  /** Incremental LSH near-dup candidates: per-doc band signatures
    * (scalar [[bandSigs]]), keyed by (band, signature); each bucket's
    * state is its member-id list, and a new member emits one candidate
    * pair per existing member. `maxBucket` caps both state and
    * emission per bucket — the same boilerplate-bucket guard as the
    * batch path's frequency caps (an exact-dup cluster of n docs
    * would otherwise hold n ids and emit n² pairs from ONE bucket;
    * past the cap, exact dedup upstream is the right tool). Pairs may
    * repeat across bands, as in the batch path before its distinct.
    *
    * @param ttlMs optional sliding state TTL (see
    *   [[incrementalExactDedup]]): 0 keeps bucket membership forever
    *   (the exactness default); > 0 evicts buckets untouched for
    *   ttlMs, so a new near-dup of only-COLD members goes unpaired —
    *   recall decays to "within the window", state stays bounded.
    */
  def incrementalLshCandidates(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      k: Int = 3,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      maxBucket: Int = 64,
      ttlMs: Long = 0L
  ): DataFrame = {
    import spark.implicits._
    implicit val memberEnc: org.apache.spark.sql.Encoder[Vector[Long]] =
      org.apache.spark.sql.Encoders.kryo[Vector[Long]]
    val bands = readDocs(spark, path)
      .select(col("doc_id"), explode(bandSigs(col("text"), k, numHashes, rowsPerBand)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
      .as[(Long, Int, String)]
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val out = bands
      .groupByKey(r => s"${r._2}:${r._3}")
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: String, it: Iterator[(Long, Int, String)], state: GroupState[Vector[Long]]) =>
          if (state.hasTimedOut) {
            state.remove() // cold bucket: forget its members
            Iterator.empty
          } else {
            val band = key.takeWhile(_ != ':').toInt
            var members = state.getOption.getOrElse(Vector.empty[Long])
            val seen = scala.collection.mutable.Set(members: _*)
            val pairs = Vector.newBuilder[CandPair]
            it.map(_._1).toArray.sorted.foreach { id =>
              if (!seen.contains(id) && members.length < maxBucket) {
                members.foreach { m =>
                  pairs += CandPair(math.min(m, id), math.max(m, id), band)
                }
                members = members :+ id
                seen += id
              }
            }
            state.update(members)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            pairs.result().iterator
          }
      }
    runAppend(spark, out.toDF(), checkpoint, outDir, ttlMs)
  }

  case class FpPair(a_id: Long, b_id: Long, fp_hash: Long)

  /** Incremental WINNOWING near-dup pair events: per-doc robust-
    * winnowing fingerprints (scalar `Dedup.winnowFpArray`, value-
    * identical to the batch operator), keyed by fingerprint hash;
    * each hash's state is its posting list (member doc ids, capped at
    * `maxDocsPerHash`), and a new member emits one pair event per
    * existing member. Downstream `groupBy(a_id, b_id).count()` over
    * the append-only pair log equals the batch `Dedup.winnowPairs`
    * n_shared — exactly, when no hash exceeds the cap. Cap semantics
    * differ past the cap BY DESIGN: the batch cap drops a
    * too-frequent hash retrospectively (its document frequency is
    * known), the streaming cap stops admitting members once full
    * (frequency is only known as it grows) — the first
    * `maxDocsPerHash` members' pairs have already been published and
    * stay published, consistent with the append-only contract.
    *
    * @param ttlMs optional sliding state TTL (see
    *   [[incrementalExactDedup]]): 0 keeps posting lists forever; > 0
    *   evicts hashes unseen for ttlMs — shared fingerprints with
    *   only-COLD documents stop producing pair events, so containment
    *   scores undercount against cold docs while state stays bounded.
    */
  def incrementalWinnowPairs(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      k: Int = 5,
      w: Int = 4,
      maxDocsPerHash: Int = 20,
      ttlMs: Long = 0L
  ): DataFrame = {
    import spark.implicits._
    implicit val memberEnc: org.apache.spark.sql.Encoder[Vector[Long]] =
      org.apache.spark.sql.Encoders.kryo[Vector[Long]]
    // per-doc DISTINCT hashes are derived inside the row (a streaming
    // query gets one stateful operator, and a global .distinct()
    // would be a second): the same hash selected at two positions
    // collapses before the explode, so the pair log counts distinct
    // shared hashes exactly as winnowPairs does
    val fps = readDocs(spark, path)
      .select(
        col("doc_id"),
        explode(array_distinct(
          transform(Dedup.winnowFpArray(col("text"), k, w), fp => fp.getField("fp_hash"))
        )).as("fp_hash"))
      .as[(Long, Long)]
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val out = fps
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (hash: Long, it: Iterator[(Long, Long)], state: GroupState[Vector[Long]]) =>
          if (state.hasTimedOut) {
            state.remove() // cold fingerprint: drop its posting list
            Iterator.empty
          } else {
            var members = state.getOption.getOrElse(Vector.empty[Long])
            val seen = scala.collection.mutable.Set(members: _*)
            val pairs = Vector.newBuilder[FpPair]
            it.map(_._1).toArray.sorted.foreach { id =>
              if (!seen.contains(id) && members.length < maxDocsPerHash) {
                members.foreach(m => pairs += FpPair(math.min(m, id), math.max(m, id), hash))
                members = members :+ id
                seen += id
              }
            }
            state.update(members)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            pairs.result().iterator
          }
      }
    runAppend(spark, out.toDF(), checkpoint, outDir, ttlMs)
  }

  /** Live mixture weights for continuous ingest: a streaming
    * per-stratum count (complete-mode aggregation — state is one long
    * per stratum) re-weighted through `Mixing.weightsFromCounts` on
    * every tick and snapshotted (overwrite, not append: weights are a
    * VIEW of the current corpus, unlike the twins' append-only
    * verdict logs). After any tick the snapshot equals the batch
    * `temperatureWeights` of everything ingested so far — identical
    * arithmetic on identical counts, `DocStreamSpec`-asserted.
    */
  def incrementalMixtureWeights(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      strataCol: String = "source",
      tokenBudget: Double = 10000.0
  ): DataFrame = {
    val counts = readDocs(spark, path)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_stratum"))
    val q = counts.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Mixing.weightsFromCounts(batch, Seq(strataCol), tokenBudget)
          .write.mode("overwrite").parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Live vocabulary stats for continuous ingest (the d16 tokenizer-
    * prep table as a stream): a complete-mode word-count aggregation —
    * state is one long per DISTINCT word, the same cardinality the
    * batch shuffle carries, growing with corpus content rather than
    * stream length — re-ranked through the shared
    * `LangModel.vocabFromCounts` arithmetic and snapshotted every
    * tick (overwrite, not append: like the mixture weights, the table
    * is a VIEW of the corpus so far). After any tick the snapshot
    * equals the batch `vocabStats` of everything ingested —
    * `DocStreamSpec`-asserted across a checkpointed restart. `topK`
    * keeps `vocabFromCounts`' small-k contract.
    */
  def incrementalVocab(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      topK: Int = 20
  ): DataFrame = {
    val counts = readDocs(spark, path)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
    val q = counts.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.LangModel.vocabFromCounts(batch, topK)
          .write.mode("overwrite").parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Streaming Count-Min sketch — the frequency-sketch twin (d38's
    * counter table maintained live): a complete-mode aggregation
    * whose state is EXACTLY the sketch — depth × width longs, the
    * same cardinality the batch shuffle carries, independent of
    * stream length. Each tick overwrites the counter snapshot, which
    * equals the batch [[graft.operators.TextOps.cmsCounters]] over
    * the ingested prefix IDENTICALLY (one shared definition of the
    * hash schedule — spec-asserted), so a live heavy-hitter dashboard
    * reads the same numbers a batch job would compute.
    */
  def incrementalCms(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      depth: Int = 4,
      width: Int = 16
  ): DataFrame = {
    val words = readDocs(spark, path)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val counters = graft.operators.TextOps.cmsCounters(words, "w", depth, width)
    val q = counters.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  case class PackAssign(doc_id: Long, shard: Int, pack_id: Long, tok: Long)

  /** Incremental greedy sequence packing — the streaming face of
    * `Mixing.packGreedy` for continuous training-data assembly: each
    * arriving document is assigned to its hash shard's OPEN pack at
    * arrival (final verdict, append-only); the open pack closes when
    * the next document would overflow `budget`. State per shard is
    * two longs (open pack id, tokens used) — O(nShards) total,
    * independent of stream length.
    *
    * Semantics vs batch: packing order is ARRIVAL order within a
    * micro-batch-stable tiebreak (docs sorted by id inside each
    * batch), not the batch operator's corpus-wide hash order — a
    * streaming assembler cannot reorder documents it has already
    * emitted, so pack CONTENTS differ from `packGreedy` by design
    * while every invariant (no multi-doc pack over budget, dense pack
    * ids per shard, each doc packed exactly once) is preserved —
    * `DocStreamSpec` asserts them across checkpointed restarts.
    */
  def incrementalPack(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      budget: Long = 512L,
      nShards: Int = 8
  ): DataFrame = {
    import spark.implicits._
    val rows = readDocs(spark, path)
      .select(
        col("doc_id"),
        graft.operators.TextOps.approxBpeTokens(col("text")).cast("long").as("tok"),
        pmod(graft.operators.Mixing.idHash(col("doc_id")), lit(nShards.toLong)).cast("int").as("shard")
      )
      .as[(Long, Long, Int)]
    val out = rows
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, it: Iterator[(Long, Long, Int)], state: GroupState[(Long, Long, Boolean)]) =>
          // third element: the open pack already has a member — kept
          // separately from acc > 0 so a zero-token opener can't admit
          // an oversize successor (see Mixing.packGreedy2)
          var (pack, acc, started) = state.getOption.getOrElse((1L, 0L, false))
          val assigns = it.toArray.sortBy(_._1).map { case (id, tok, _) =>
            if (started && acc + tok > budget) { pack += 1; acc = 0L }
            acc += tok
            started = true
            PackAssign(id, shard, pack, tok)
          }
          state.update((pack, acc, started))
          assigns.iterator
      }
    runAppend(spark, out.toDF(), checkpoint, outDir)
  }

  case class CapVerdict(doc_id: Long, source: String, arrival_rank: Long, capped_keep: Boolean)

  /** Incremental per-source document cap (the d27 domain-balancing
    * rule at ingest): state per source is ONE LONG — documents
    * admitted so far — and every arriving document gets its final
    * verdict the moment it arrives: kept while the source has quota,
    * capped forever after. The batch d27 caps in deterministic HASH
    * order; an append-only stream necessarily caps in ARRIVAL order
    * (doc_id order within a micro-batch, for determinism) — the
    * documented difference. The shared invariant is exact: once a
    * source has emitted `cap` kept verdicts, no later doc of that
    * source is ever kept, across any micro-batch boundary or restart.
    */
  def incrementalSourceCap(
      spark: SparkSession,
      path: String,
      checkpoint: String,
      outDir: String,
      cap: Long = 40L
  ): DataFrame = {
    import spark.implicits._
    val docs = readDocs(spark, path)
      .select(col("doc_id"), col("source")).as[(Long, String)]
    val out = docs
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[(Long, String)], state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          val verdicts = it.map(_._1).toArray.sorted.map { id =>
            seen += 1
            CapVerdict(id, source, seen, seen <= cap)
          }
          state.update(seen)
          verdicts.iterator
      }
    runAppend(spark, out.toDF(), checkpoint, outDir)
  }

  /** Append run to parquet, shared by the twins (via the idempotent
    * [[StreamSink]]): `AvailableNow` for the exact (no-TTL) paths,
    * `Trigger.Once` when processing-time timeouts are registered (see
    * the TTL scaladoc on [[incrementalExactDedup]] for why
    * AvailableNow livelocks there).
    */
  private def runAppend(
      spark: SparkSession,
      out: DataFrame,
      checkpoint: String,
      outDir: String,
      ttlMs: Long = 0L
  ): DataFrame = {
    val trigger: Trigger =
      if (ttlMs > 0) Trigger.Once() else Trigger.AvailableNow()
    StreamSink.runAppend(spark, out, checkpoint, outDir, trigger)
  }
}
