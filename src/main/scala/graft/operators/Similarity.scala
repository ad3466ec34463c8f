package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the correctness baseline; the scale
  * path partitions candidates by coarse quantizer cell (IVF-style,
  * here: nearest of K centroid vectors) or sign-LSH bucket so each
  * query only scans its cell — at 100 TB of vectors, the bucket join
  * replaces the full cross product.
  *
  * All arithmetic is `zip_with`/`aggregate` higher-order functions in
  * double precision — no UDFs, results reproducible across engines.
  */
object Similarity {

  /** Dot product of two array<double> columns — the native codegen'd
    * [[graft.functions.ArrayDot]] expression (value-identical to the
    * `aggregate(zip_with(...))` fold, one generated loop instead of
    * per-row lambda interpretation). Requires
    * `GraftFunctions.register` on the session — `sources.Tables`
    * does this on every read.
    */
  def dot(a: Column, b: Column): Column = {
    graft.functions.GraftFunctions.ensure()
    call_function("graft_dot", a, b)
  }

  /** L2 norm of an array<double> column. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared L2 distance between two array<double> columns (native
    * [[graft.functions.ArrayDist2]]).
    */
  def dist2(a: Column, b: Column): Column = {
    graft.functions.GraftFunctions.ensure()
    call_function("graft_dist2", a, b)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * candidates by cosine similarity (rounded to 5 dp; deterministic
    * tie-break by neighbor id). Queries should be the small side — it
    * is broadcast, so the candidate scan never shuffles.
    *
    * Returns (query_id, neighbor_id, cosine, rk).
    */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")
    ).withColumn("qn", norm(col("qv")))
    val c = candidates.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv")
    ).withColumn("cn", norm(col("cv")))
    val scored = c
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 5))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** IVF-style coarse assignment: nearest centroid per vector by
    * squared L2 (rounded 5 dp, tie-break by centroid id). Centroids
    * are broadcast. Returns the input plus (centroid_id, d2).
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
    val cent = centroids.select(col(idCol).as("centroid_id"), col(vecCol).cast("array<double>").as("centv"))
    val scored = v
      .crossJoin(broadcast(cent))
      .withColumn("d2", round(dist2(col("vv"), col("centv")), 4))
    val w = Window.partitionBy(col(idCol)).orderBy(col("d2").asc, col("centroid_id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("centroid_id"), col("d2"))
  }

  /** Simplified silhouette (the centroid form of Rousseeuw's
    * silhouette, as in scikit-learn's large-sample practice): per
    * vector, `a` = distance to its own centroid, `b` = distance to
    * the nearest OTHER centroid, `s = (b − a) / max(a, b)` — the
    * clustering-quality audit run before trusting IVF cells,
    * SemDeDup clusters, or prototype-pruning decisions downstream.
    * The classical pairwise silhouette is O(n²) and dead at corpus
    * scale; this form is O(n·k) with the centroids broadcast, so the
    * vector scan never shuffles and the only window is per-vector
    * over k rows. Distances are 4-dp-rounded squared L2 through an
    * IEEE-exact sqrt, so every number is cross-engine replayable.
    *
    * @return (id, centroid_id, a_dist, b_dist, sil) — one row per
    *         vector; `avg(sil)` per centroid_id is the usual summary.
    *         With a single centroid `b_dist`/`sil` are null (the
    *         silhouette of a 1-clustering is undefined — null is the
    *         honest answer, not 0).
    */
  def simplifiedSilhouette(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
    val cent = centroids.select(col(idCol).as("centroid_id"),
      col(vecCol).cast("array<double>").as("centv"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("dist").asc, col("centroid_id").asc)
    v.crossJoin(broadcast(cent))
      .withColumn("dist", round(sqrt(round(dist2(col("vv"), col("centv")), 4)), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col(idCol))
      .agg(
        max(when(col("rn") === 1, col("centroid_id"))).as("centroid_id"),
        max(when(col("rn") === 1, col("dist"))).as("a_dist"),
        max(when(col("rn") === 2, col("dist"))).as("b_dist"))
      .withColumn("sil",
        // null b_dist (single centroid) stays null even when the
        // vector sits ON its centroid — Spark's greatest() skips
        // nulls, so the zero branch must not fire first
        when(col("b_dist").isNull, lit(null).cast("double"))
          .when(greatest(col("a_dist"), col("b_dist")) === 0.0, lit(0.0))
          .otherwise(round((col("b_dist") - col("a_dist")) /
            greatest(col("a_dist"), col("b_dist")), 6)))
  }

  /** Embedding-cosine near-duplicate pairs, bucketed (the DEFAULT
    * scale path): candidate pairs are generated only WITHIN sign-LSH
    * buckets ([[signLshBuckets]] over the given hyperplane table), so
    * the join is an equi-join on the bucket id — shuffle-partitioned
    * by bucket, never a nested-loop — and total work is
    * Σ_bucket |bucket|² instead of N². Near-duplicate vectors agree on
    * sign bits with high probability (SimHash/SemDeDup composition),
    * so recall loss is confined to pairs straddling a hyperplane.
    * Each id has exactly one bucket, so no cross-bucket dedup is
    * needed. Same 5-dp rounded-cosine threshold contract as
    * [[cosineNearDupPairsExact]].
    */
  def cosineNearDupPairs(
      vectors: DataFrame,
      planes: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val buckets = signLshBuckets(vectors, planes, idCol, vecCol)
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
      .withColumn("nrm", norm(col("vv")))
      .join(buckets, Seq(idCol))
    val a = v.select(col("bucket"), col(idCol).as("a_id"), col("vv").as("av"), col("nrm").as("an"))
    val b = v.select(col("bucket"), col(idCol).as("b_id"), col("vv").as("bv"), col("nrm").as("bn"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 5))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs, EXACT: all (a < b) pairs
    * above a cosine threshold. Quadratic by contract — a calibration /
    * verify step for bounded inputs (ground-truthing the bucketed
    * path's recall), NOT a production default; at corpus scale use
    * [[cosineNearDupPairs]] (sign-LSH buckets) or compose with
    * [[assignToCentroids]] cells. The threshold is applied to the
    * rounded cosine so the pair set is engine-reproducible.
    */
  def cosineNearDupPairsExact(vectors: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
      .withColumn("nrm", norm(col("vv")))
    val a = v.select(col(idCol).as("a_id"), col("vv").as("av"), col("nrm").as("an"))
    val b = v.select(col(idCol).as("b_id"), col("vv").as("bv"), col("nrm").as("bn"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine", round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 5))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** Scalar centroid-argmin over DRIVER-HELD centroids: a `least()`
    * fold over `(round(dist2, 4), centroid_id)` structs (struct
    * comparison is lexicographic, so the tie-break matches
    * [[assignToCentroids]]'s `(d2, centroid_id)` window order) with
    * the centroid vectors baked in as literals. The ONE shared
    * definition of this arithmetic: [[kmeansFit]]'s iterations and
    * the streaming twin (`VecStream`) both call it, and the
    * batch/stream bit-equality contract depends on the rounding and
    * field order staying identical.
    */
  def centroidArgminExpr(vec: Column, centroids: Array[(Long, Array[Double])]): Column =
    centroidBestExpr(vec, centroids).getField("cid")

  /** Like [[centroidArgminExpr]] but returns the full winning struct
    * `(d2, cid)` — for consumers that need the assignment distance as
    * well (e.g. per-cell occupancy/distance statistics). Identical
    * selection rule to [[assignToCentroids]]: 4-dp-rounded squared
    * L2, ties to the smaller centroid id (struct least is
    * lexicographic on (d2, cid)).
    */
  def centroidBestExpr(vec: Column, centroids: Array[(Long, Array[Double])]): Column = {
    require(centroids.nonEmpty, "centroidBestExpr needs at least one centroid")
    val scored = centroids.map { case (cid, cv) =>
      struct(round(dist2(vec, typedLit(cv.toSeq)), 4).as("d2"), lit(cid).as("cid"))
    }
    if (scored.length == 1) scored.head else least(scored.toIndexedSeq: _*)
  }

  /** Lloyd's k-means over the embedding column — the trainer for the
    * IVF coarse centroids ([[assignToCentroids]] / [[ivfTopK]] /
    * [[semanticDedup]] consume its output). No RNG anywhere: initial
    * centroids are the k smallest ids, a fixed iteration count, and
    * the assignment tie-break is (d2, centroid_id). Assignments are
    * exactly reproducible; the centroid MEANS vary across
    * partitionings only by float summation order (the map-side
    * combine folds partitions in arbitrary order — ulp-scale, spec
    * bounds it at 1e-9), which downstream consumers absorb by
    * rounding d2 to 4 decimals before the argmin.
    *
    * Scale shape (the standard Spark k-means pattern): centroids live
    * on the driver (k × dim doubles — small by the IVF contract) and
    * ship into each iteration's assignment as broadcast literals; the
    * per-iteration centroid update is one map-side-combined
    * aggregation (elementwise sums + counts per cluster), so shuffle
    * volume per iteration is O(k × dim), independent of corpus size.
    *
    * @return (centroid_id, centroid) — k rows
    */
  def kmeansFit(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5
  ): DataFrame = {
    import vectors.sparkSession.implicits._
    require(k > 0 && iters >= 0, s"kmeansFit needs k > 0 and iters >= 0, got k=$k iters=$iters")
    // sort ONLY the init's top-k (a distributed TakeOrdered); the loop
    // reuses the unsorted projection — an orderBy baked into `v` would
    // re-execute a full-corpus sort under every iteration's .rdd.
    // Hash-ordered seeds: ids often encode source/shard, so the k
    // smallest IDS would all come from one region of the embedding
    // space; ordering by md5(id) keeps the init deterministic while
    // sampling uniformly across the corpus
    val v0 = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
    // Lloyd's makes (1 + iters) full passes over the projected corpus
    // (seed TakeOrdered + one assignment pass per iteration), each of
    // which would otherwise re-scan and re-decode the source — a
    // within-query iterative intermediate, so persist it across the
    // passes (the semanticDedup idiom; round 14). iters == 0 trainers
    // (the exact-gated e15/e16/e22 init-state paths) make one pass and
    // skip the persist so their plans are unchanged.
    val vp = if (iters >= 1)
      v0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else v0
    // training is driver-complete when the try ends; the cached
    // projection has no further consumer (the returned frame is built
    // from `cents`), and a failed pass must not leak it either
    val cents =
      try {
        var cur: Array[(Long, Array[Double])] = vp
          .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(k)
          .collect()
          .zipWithIndex
          .map { case (r, i) => i.toLong -> r.getSeq[Double](1).toArray }

        var it = 0
        while (it < iters) {
          val updated = vp
            .select(centroidArgminExpr(col("vv"), cur).as("cid"), col("vv"))
            .as[(Long, Seq[Double])]
            .rdd
            .map { case (cid, vv) => cid -> (vv.toArray, 1L) }
            .reduceByKey { (a, b) =>
              val s = a._1.clone()
              var i = 0
              while (i < s.length && i < b._1.length) { s(i) += b._1(i); i += 1 }
              (s, a._2 + b._2)
            }
            .mapValues { case (sum, n) => sum.map(_ / n) }
            .collect()
            .sortBy(_._1)
          // a cluster that lost every member keeps its previous centroid
          val byId = updated.toMap
          cur = cur.map { case (cid, old) => cid -> byId.getOrElse(cid, old) }
          it += 1
        }
        cur
      } finally {
        if (iters >= 1) vp.unpersist(blocking = false)
      }
    val out = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
    vectors.sparkSession.createDataset(out).toDF("centroid_id", "centroid")
      .select(col("centroid_id"), col("centroid").cast("array<double>"))
  }

  /** The billion-vector training route: fit centroids on a bounded
    * DETERMINISTIC sample, leaving assignment (the cheap, shuffle-free
    * part) to run over the full corpus as usual. [[kmeansFit]] holds
    * only k×dim doubles on the driver at any corpus size, but each
    * Lloyd's iteration is a full-corpus pass — past the envelope where
    * `iters × corpus-scan` dominates, sample-train is the standard
    * answer (Lloyd's estimates MEANS, which a uniform sample estimates
    * at O(1/√m) error; the same auto-route pattern as `deltaDedup`'s
    * measured 2e7-key broadcast bound). The sample is a hash threshold
    * on the id — engine-reproducible, no RNG state, uniform across
    * shards even when ids encode provenance.
    *
    * @param maxTrainRows training-scan budget; corpora at or under it
    *   train exactly like [[kmeansFit]] (the sample filter is skipped,
    *   not just saturated, so small-corpus plans are unchanged)
    */
  def kmeansFitSampled(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5,
      maxTrainRows: Long = 1000000L
  ): DataFrame = {
    require(maxTrainRows >= k,
      s"maxTrainRows=$maxTrainRows cannot seed k=$k centroids")
    val n = vectors.count()
    if (n <= maxTrainRows) kmeansFit(vectors, idCol, vecCol, k, iters)
    else {
      // per-mille hash bucket ⇒ the kept fraction is deterministic and
      // the sample stays ≥ maxTrainRows in expectation without a
      // second pass; ceil keeps tiny fractions from rounding to zero
      val keepMille = math.min(1000L, (maxTrainRows * 1000L) / n + 1L)
      val sampled = vectors.filter(
        pmod(xxhash64(col(idCol).cast("string")), lit(1000L)) < lit(keepMille))
      kmeansFit(sampled, idCol, vecCol, k, iters)
    }
  }

  /** The billion-vector SHARDED index build (FAISS-style two-level
    * IVF training): a coarse k-means — itself budget-routed through
    * [[kmeansFitSampled]] — partitions the corpus into `kCoarse`
    * shards; each shard then trains its OWN `kFine` centroids on only
    * its members, fleet-parallel in one `mapGroups` pass over a
    * bounded per-shard training sample. No Lloyd's run ever holds
    * more than one shard's sample, the fine level fans out across
    * executors (one shuffle on shard id), and driver state is only
    * the coarse seeds plus the returned (kCoarse·kFine)×dim codebook
    * table — the deployment answer for a 100 TB vector corpus: train
    * per shard, union the codebooks.
    *
    * Determinism: the shard-local sample is the shard's
    * `maxTrainRowsPerShard` smallest members by (md5(id), id) — a
    * bounded-heap selection, independent of shuffle arrival order —
    * and Lloyd's folds float sums in that fixed (md5, id) order with
    * [[centroidBestExpr]]'s selection rule (4-dp-rounded squared L2,
    * ties to the smaller index). Fine cells that lose every member
    * keep their previous centroid; shards with fewer members than
    * `kFine` emit fewer cells.
    *
    * @return (centroid_id = shard_id·kFine + fine_id, centroid,
    *   shard_id) — feed the first two columns to [[ivfTopK]] as a
    *   flat centroid table, or probe hierarchically by shard when
    *   kCoarse·kFine outgrows a broadcast.
    */
  def kmeansFitSharded(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      kCoarse: Int,
      kFine: Int,
      iters: Int = 5,
      maxTrainRows: Long = 1000000L,
      maxTrainRowsPerShard: Int = 100000
  ): DataFrame = {
    import vectors.sparkSession.implicits._
    require(kCoarse > 0 && kFine > 0 && maxTrainRowsPerShard >= kFine,
      s"bad sharded-kmeans shape: kCoarse=$kCoarse kFine=$kFine cap=$maxTrainRowsPerShard")
    val coarse = kmeansFitSampled(vectors, idCol, vecCol, kCoarse, iters, maxTrainRows)
      .select(col("centroid_id").as(idCol), col("centroid").as(vecCol))
    val members = assignToCentroids(vectors, coarse, idCol, vecCol)
      .select(col(idCol), col("centroid_id").as("shard_id"))
      .join(vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv")), Seq(idCol))
      .select(col("shard_id"), md5(col(idCol).cast("string")).as("h"),
        col(idCol).cast("string").as("id"), col("vv"))
      .as[(Long, String, String, Seq[Double])]
    members.groupByKey(_._1)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, String, String, Seq[Double])]) =>
        // bounded deterministic sample: a max-heap keeps the cap
        // smallest (md5, id) members in O(cap) memory however skewed
        // the shard is
        val heap = new scala.collection.mutable.PriorityQueue[(String, String, Array[Double])]()(
          Ordering.by((t: (String, String, Array[Double])) => (t._1, t._2)))
        it.foreach { case (_, h, id, vv) =>
          heap.enqueue((h, id, vv.toArray))
          if (heap.size > maxTrainRowsPerShard) heap.dequeue()
        }
        val sample = heap.dequeueAll.reverse.toArray // ascending (md5, id)
        val kk = math.min(kFine, sample.length)
        if (kk == 0) Iterator.empty
        else {
          val dim = sample(0)._3.length
          var cents: Array[Array[Double]] = sample.take(kk).map(_._3.clone())
          var itn = 0
          while (itn < iters) {
            val sums = Array.fill(kk)(new Array[Double](dim))
            val cnts = new Array[Long](kk)
            sample.foreach { case (_, _, v) =>
              var best = 0
              var bd = Double.MaxValue
              var c = 0
              while (c < kk) {
                var d2 = 0.0
                var i = 0
                while (i < dim) { val d = v(i) - cents(c)(i); d2 += d * d; i += 1 }
                // mirror centroidBestExpr: 4-dp round, strict < keeps
                // the smaller index on ties
                val r = math.rint(d2 * 1e4) / 1e4
                if (r < bd) { bd = r; best = c }
                c += 1
              }
              var i = 0
              while (i < dim) { sums(best)(i) += v(i); i += 1 }
              cnts(best) += 1
            }
            cents = cents.zipWithIndex.map { case (old, c) =>
              if (cnts(c) == 0) old else sums(c).map(_ / cnts(c))
            }
            itn += 1
          }
          (0 until kk).iterator.map(f => (shard * kFine + f, cents(f).toSeq, shard))
        }
      }
      .toDF("centroid_id", "centroid", "shard_id")
      .select(col("centroid_id"), col("centroid").cast("array<double>"), col("shard_id"))
  }

  /** Hierarchical serving over the SHARDED codebook
    * ([[kmeansFitSharded]]'s output): probe the nearest
    * `nprobeShards` coarse shards per query (shard representative =
    * the mean of its fine centroids), then the `nprobe` nearest fine
    * cells WITHIN the probed shards, and run exact cosine only
    * against those cells' members. Same output contract as
    * [[ivfTopK]]; the difference is the probe set is chosen in two
    * levels, so the per-query centroid work is
    * kCoarse + nprobeShards·kFine instead of kCoarse·kFine — the
    * serving shape once a flat codebook outgrows its broadcast scan.
    * With `nprobeShards` = kCoarse the candidate cell set equals the
    * flat scan's, so the result is IDENTICAL to [[ivfTopK]] at the
    * same `nprobe` (spec-pinned equivalence).
    */
  def ivfTopKSharded(
      vectors: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobeShards: Int,
      nprobe: Int,
      k: Int
  ): DataFrame = {
    val fine = centroids.select(col("centroid_id"), col("centroid").cast("array<double>"), col("shard_id"))
    // shard representatives: elementwise mean of the shard's fine
    // centroids (codebook-sized arithmetic — never touches the
    // corpus). The mean is an exact integer-micro sum / count, NOT a
    // float avg: partial-aggregation merge order is shuffle-dependent
    // for kFine > 2, and an ulp on a rep value at the sd2 rounding
    // boundary would flip which shards rank inside nprobeShards
    // between runs — the selection-only quantization is free, the
    // order-freedom is not.
    val reps = fine
      .select(col("shard_id"), posexplode(col("centroid")).as(Seq("pos", "v")))
      .groupBy(col("shard_id"), col("pos"))
      .agg((sum(round(col("v") * 1e6, 0).cast("long")).cast("double") / 1e6 /
        count(col("v"))).as("v"))
      .groupBy(col("shard_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("shard_id"), expr("transform(pv, x -> x.v)").as("rep"))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    // level 1: nearest shards per query
    val wS = Window.partitionBy(col("query_id")).orderBy(col("sd2").asc, col("shard_id").asc)
    val shardProbes = q
      .crossJoin(broadcast(reps))
      .withColumn("sd2", round(dist2(col("qv"), col("rep")), 4))
      .withColumn("__rn", row_number().over(wS))
      .filter(col("__rn") <= nprobeShards)
      .select(col("query_id"), col("qv"), col("qn"), col("shard_id"))
    // level 2: nearest fine cells within the probed shards
    val wC = Window.partitionBy(col("query_id")).orderBy(col("pd2").asc, col("centroid_id").asc)
    val cellProbes = shardProbes
      .join(broadcast(fine.select(col("shard_id"), col("centroid_id"), col("centroid"))), Seq("shard_id"))
      .withColumn("pd2", round(dist2(col("qv"), col("centroid")), 4))
      .withColumn("__rn", row_number().over(wC))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("centroid_id"))
    // exact cosine against the probed cells' members only
    val assign = assignToCentroids(vectors,
      fine.select(col("centroid_id").as(idCol), col("centroid").as(vecCol)), idCol, vecCol)
    val members = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .join(assign.select(col(idCol).as("neighbor_id"), col("centroid_id")), Seq("neighbor_id"))
      .withColumn("cn", norm(col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    cellProbes
      .join(members, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 5))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** SemDeDup-style semantic deduplication: cluster every vector to
    * its nearest centroid, then inside each cluster drop any vector
    * whose cosine to a SMALLER-id member reaches `threshold` —
    * deterministic keep-first (the kept representative of a dup group
    * is its min id; a dropped vector may itself shadow later ones,
    * the standard greedy variant). Pairwise work is confined to
    * clusters via an equi-join on `centroid_id`: at corpus scale the
    * centroid count grows with the corpus (IVF-style), bounding
    * cluster sizes, and the corpus-sized sides only ever shuffle on
    * the cluster key. Threshold applies to the ROUNDED cosine so the
    * drop set is engine-reproducible.
    *
    * @return (idCol, centroid_id, is_dropped)
    */
  def semanticDedup(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val spark = vectors.sparkSession
    // the assigned+normed corpus feeds THREE consumers (pair sides a
    // and b, final output) and Spark plans no subtree reuse across
    // them — materialize the assignment ONCE as a persisted RDD (the
    // ContextCleaner frees it when the result goes out of scope; a
    // DataFrame .cache() would pin it in the CacheManager for the
    // session's life)
    val v0 = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
      .withColumn("nrm", norm(col("vv")))
      .join(
        assignToCentroids(vectors, centroids, idCol, vecCol).select(col(idCol), col("centroid_id")),
        Seq(idCol))
    val vRdd = v0.rdd.setName("semanticDedup assigned corpus")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = spark.createDataFrame(vRdd, v0.schema)
    val assign = v.select(col(idCol), col("centroid_id"))
    val a = v.select(col(idCol).as("a_id"), col("vv").as("av"), col("nrm").as("an"), col("centroid_id"))
    val b = v.select(col(idCol).as("b_id"), col("vv").as("bv"), col("nrm").as("bn"), col("centroid_id"))
    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 5))
      .filter(col("cosine") >= threshold)
      .select(col("b_id").as(idCol))
      .distinct()
    assign
      .join(dropped.withColumn("__d", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"), coalesce(col("__d"), lit(false)).as("is_dropped"))
  }

  /** End-to-end IVF search: assign every vector to its nearest
    * centroid cell ([[assignToCentroids]]), probe the `nprobe` nearest
    * cells per query, and run exact cosine top-k only against the
    * probed cells' members. The member join is an equi-join on
    * `centroid_id`, so each query scans ~nprobe/K of the corpus — the
    * ANN scale path, with the same output contract as [[cosineTopK]].
    */
  def ivfTopK(
      vectors: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      k: Int
  ): DataFrame = {
    val assign = assignToCentroids(vectors, centroids, idCol, vecCol)
    val members = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .join(assign.select(col(idCol).as("neighbor_id"), col("centroid_id")), Seq("neighbor_id"))
      .withColumn("cn", norm(col("cv")))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cent = centroids.select(col(idCol).as("centroid_id"), col(vecCol).cast("array<double>").as("centv"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("pd2").asc, col("centroid_id").asc)
    val probes = q
      .crossJoin(broadcast(cent))
      .withColumn("pd2", round(dist2(col("qv"), col("centv")), 4))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("centroid_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes
      .join(members, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 5))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** Sign-LSH bucket id from projections onto `planes` (a broadcast
    * table of (plane_id, plane vector)): bit j = sign(v·plane_j).
    * Returns (idCol, bucket). The bucket join is the ANN scale path.
    */
  def signLshBuckets(vectors: DataFrame, planes: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
    val p = planes.select(col("plane_id"), col(vecCol).cast("array<double>").as("pv"))
    v.crossJoin(broadcast(p))
      .withColumn("bit", when(dot(col("vv"), col("pv")) > 0, lit(1L)).otherwise(lit(0L)))
      .groupBy(col(idCol))
      .agg(sum(col("bit") * pow(lit(2.0), col("plane_id")).cast("long")).as("bucket"))
  }

  /** Shared PQ assignment arithmetic: per subspace, the codeword
    * minimizing the 4-dp-rounded squared distance, ties to the
    * smaller code — [[centroidArgminExpr]]'s contract, but as a
    * compiled JVM function. At PQ sizes (m·k ≥ 64 codewords) the
    * unrolled Catalyst `least()`-over-structs form exceeds janino's
    * method limits and silently falls back to interpreted eval; a
    * plain function is both the robust and the fast shape, and is
    * trivially deterministic and partition-independent.
    */
  private def pqAssignCodes(vv: Array[Double], books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    val sub = books(0)(0).length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val bs = books(s)
      val off = s * sub
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < bs.length) {
        val cw = bs(j)
        var d = 0.0
        var t = 0
        while (t < sub) { val diff = vv(off + t) - cw(t); d += diff * diff; t += 1 }
        val dr = math.floor(d * 1e4 + 0.5) / 1e4 // HALF_UP at 4 dp (d >= 0)
        if (dr < bestD) { bestD = dr; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    out
  }

  /** Product-quantization codebook training (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * dimension into `m` contiguous subspaces and run Lloyd's
    * independently in each — `m` codebooks of `k` codewords. Same
    * determinism guarantees as [[kmeansFit]] (fixed iterations,
    * (rounded d2, code) argmin; means wobble only by float summation
    * order) — but with a smallest-id init rather than kmeansFit's
    * hash-ordered one: e15's oracle replays exactly the id-ordered
    * zero-iteration codebook, so the init IS a cross-engine contract
    * here. Id-shard bias matters less per subspace (codewords are
    * dim/m-sized slices), and the trained paths are property-gated.
    *
    * Scale shape: ONE pass per iteration — each row's m subspace
    * assignments come from one broadcast-codebook map, and the update
    * is one map-side-combined `reduceByKey` keyed by (subspace,
    * code): shuffle volume O(k·dim) per iteration, independent of
    * corpus size. Codebooks stay on the driver (k·dim doubles — the
    * IVF-centroid envelope).
    *
    * @return codebooks indexed [subspace][code][component]
    */
  def pqTrain(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int = 3
  ): Array[Array[Array[Double]]] = {
    import vectors.sparkSession.implicits._
    require(m >= 1 && k >= 1 && iters >= 0, s"pqTrain: bad m=$m k=$k iters=$iters")
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("vv"))
    val dim = v.select(size(col("vv"))).as[Int].head()
    require(dim % m == 0, s"pqTrain: dim $dim not divisible into m=$m subspaces")
    val sub = dim / m
    val init = v.orderBy(col(idCol)).limit(k).select(col("vv")).as[Seq[Double]].collect()
    require(init.length == k, s"pqTrain: need at least k=$k vectors, got ${init.length}")
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => Array.tabulate(k)(j => init(j).slice(s * sub, (s + 1) * sub).toArray))
    val rdd = v.select(col("vv")).as[Seq[Double]].rdd
    var it = 0
    while (it < iters) {
      val bc = rdd.sparkContext.broadcast(books)
      val updated = rdd
        .flatMap { vvSeq =>
          val vv = vvSeq.toArray
          val bks = bc.value
          val codes = pqAssignCodes(vv, bks)
          val sd = bks(0)(0).length
          codes.iterator.zipWithIndex.map { case (code, s) =>
            ((s, code), (java.util.Arrays.copyOfRange(vv, s * sd, (s + 1) * sd), 1L))
          }
        }
        .reduceByKey { (a, b) =>
          val sm = a._1.clone()
          var i = 0
          while (i < sm.length) { sm(i) += b._1(i); i += 1 }
          (sm, a._2 + b._2)
        }
        .mapValues { case (sm, n) => sm.map(_ / n) }
        .collect()
        .toMap
      bc.destroy()
      // a codeword that lost every member keeps its previous value
      books = Array.tabulate(m)(s => Array.tabulate(k)(j =>
        updated.getOrElse((s, j), books(s)(j))))
      it += 1
    }
    books
  }

  /** PQ encoding: each vector compresses to `m` small ints (4× to 64×
    * smaller than the floats — the memory-residency lever for serving
    * ANN over 100 TB of embeddings). Pure map over broadcast
    * codebooks; the shared [[pqAssignCodes]] arithmetic.
    *
    * @return (idCol, codes array<int>)
    */
  def pqEncode(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[Array[Double]]]
  ): DataFrame = {
    import vectors.sparkSession.implicits._
    val bc = vectors.sparkSession.sparkContext.broadcast(books)
    vectors
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .map { case (id, vvSeq) => (id, pqAssignCodes(vvSeq.toArray, bc.value).toSeq) }
      .toDF(idCol, "codes")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, the
    * distance to each encoded vector is the sum over subspaces of
    * `||q_s - codeword||²`, looked up from a per-query table of
    * m·k precomputed entries. The LUT (queries × m × k rows — small by
    * the ANN-query contract) broadcasts; the code table joins it on
    * (subspace, code) and aggregates — the only corpus-sized shuffle
    * is the (query, neighbor) partial-sum combine, m-fold reduced
    * map-side.
    *
    * @return (query_id, neighbor_id, adc_d2, rk)
    */
  def pqAdcTopK(
      codes: DataFrame,
      books: Array[Array[Array[Double]]],
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val exploded = codes.select(col(idCol).as("neighbor_id"),
      posexplode(col("codes")).as(Seq("s", "code")))
    adcAggregate(exploded, adcLut(codes.sparkSession, books, queries, idCol, vecCol), k)
  }

  /** ADC shortlist → exact re-rank (FAISS's "refine" serving shape):
    * the compressed index nominates `shortlist` candidates per query,
    * then TRUE float distances re-rank them down to top-k. This is
    * how production ANN recovers exact-ordering quality from lossy
    * codes without ever scanning floats corpus-wide: the float read
    * touches only `queries × shortlist` rows.
    *
    * Plan shape at 100 TB: the shortlist (queries × shortlist rows —
    * small by the ANN-query contract) BROADCASTS into the float
    * corpus scan, so the corpus never shuffles and the join reduces
    * to a probe; only the surviving candidate vectors flow into the
    * per-query re-rank window (partitions = queries, frames =
    * shortlist).
    *
    * @return (query_id, neighbor_id, adc_d2, exact_d2, rk) — rk by
    *         exact distance; adc_d2 kept so recall diagnostics can
    *         compare the two orderings from one result.
    */
  def pqAdcRefineTopK(
      codes: DataFrame,
      books: Array[Array[Array[Double]]],
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      shortlist: Int,
      k: Int
  ): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val sl = pqAdcTopK(codes, books, queries, idCol, vecCol, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"))
    val cand = vectors.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("nv"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("exact_d2").asc, col("neighbor_id").asc)
    cand
      .join(broadcast(sl), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("exact_d2", round(dist2(col("qv"), col("nv")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("exact_d2"), col("rk"))
  }

  /** Per-query ADC lookup table (query_id, s, code, pd): m·k partial
    * squared distances per query, computed on the driver from the
    * collected queries — the thing every ADC consumer broadcasts.
    *
    * DRIVER-STATE CEILING (the kmeansFit contract, stated in code):
    * the query side collects to the driver and the LUT broadcasts at
    * `|queries| · m · k` doubles, so serving is bounded by
    * [[MaxQueryRows]] (default 100k queries ≈ 100k·16·256 ≈ 3.3 GB
    * LUT at the widest gated shape — the practical broadcast limit).
    * The corpus side NEVER collects and never reshuffles. Past the
    * envelope the standard route is CHUNKED serving: partition the
    * query set and run this per chunk (each chunk's LUT broadcasts
    * independently; results union) — batch ANN over an unbounded
    * query table is a join problem, not a broadcast problem, and the
    * brute-force `topKCosine` path covers it.
    */
  private[graft] val MaxQueryRows: Long = 100000L

  private def adcLut(
      spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Double]]],
      queries: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    import spark.implicits._
    val m = books.length
    val sub = books(0)(0).length
    val nQ = queries.count()
    require(nQ <= MaxQueryRows,
      s"ADC serving collects the query side: $nQ query rows exceed the " +
        s"$MaxQueryRows driver-state ceiling — chunk the query set " +
        "(union of per-chunk serves) or use the distributed brute-force path")
    val qs = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .as[(Long, Seq[Double])].collect()
    val lutRows = for {
      (qid, qv) <- qs.toSeq
      s <- 0 until m
      (cv, j) <- books(s).zipWithIndex
    } yield {
      var d = 0.0
      var t = 0
      while (t < sub) { val diff = qv(s * sub + t) - cv(t); d += diff * diff; t += 1 }
      (qid, s, j, d)
    }
    spark.createDataset(lutRows).toDF("query_id", "s", "code", "pd")
  }

  /** Shared ADC tail: broadcast-LUT join on (s, code) [inner on
    * query_id too when the exploded side already carries it], partial
    * sums m-fold reduced map-side, top-k per query.
    */
  private def adcAggregate(exploded: DataFrame, lut: DataFrame, k: Int): DataFrame = {
    val joinCols = if (exploded.columns.contains("query_id")) Seq("query_id", "s", "code")
    else Seq("s", "code")
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d2").asc, col("neighbor_id").asc)
    exploded
      .join(broadcast(lut), joinCols)
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(round(sum(col("pd")), 4).as("adc_d2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rk"))
  }

  /** IVF-PQ search — the composed serving architecture for ANN over
    * 100 TB of embeddings (FAISS's IVFADC shape): the coarse
    * quantizer routes each query to its `nprobe` nearest cells, and
    * ADC runs over the PQ codes of THOSE cells' members only — the
    * scan shrinks by ~nprobe/nCells while everything stays a
    * broadcast probe or an equi-join on the cell id. With
    * `nprobe = nCells` the result equals [[pqAdcTopK]] over the full
    * corpus exactly (`PqSpec`-asserted) — probing only changes which
    * members are scanned, never the distance arithmetic.
    *
    * @return (query_id, neighbor_id, adc_d2, rk)
    */
  def ivfPqTopK(
      vectors: DataFrame,
      centroids: DataFrame,
      books: Array[Array[Array[Double]]],
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      k: Int
  ): DataFrame = {
    val assign = assignToCentroids(vectors, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"))
    val codes = pqEncode(vectors, idCol, vecCol, books)
    val members = codes.join(assign, Seq(idCol))
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        posexplode(col("codes")).as(Seq("s", "code")))
    val cent = centroids.select(col(idCol).as("centroid_id"), col(vecCol).cast("array<double>").as("centv"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("pd2").asc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("pd2", round(dist2(col("qv"), col("centv")), 4))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
    val lut = adcLut(vectors.sparkSession, books, queries, idCol, vecCol)
    val routed = members.join(broadcast(probes), Seq("centroid_id"))
      .select(col("query_id"), col("neighbor_id"), col("s"), col("code"))
    adcAggregate(routed, lut, k)
  }
}
