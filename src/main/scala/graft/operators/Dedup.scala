package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for large-scale text corpora: exact
  * (fingerprint group-by), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Design for 100 TB:
  *  - exact dedup is one hash-aggregate on a 128-bit digest — shuffle
  *    volume is O(distinct docs), not O(bytes);
  *  - MinHash signatures are integer-arithmetic only (a shared
  *    md5-prefix base hash), so signatures are reproducible across
  *    engines and runs — no RNG state;
  *  - LSH banding turns the quadratic candidate search into an
  *    equi-join on (band, band-signature) — the only pairwise work is
  *    within buckets;
  *  - the exact-Jaccard verify join touches candidate pairs only.
  */
object Dedup {

  /** 31-bit shared base hash of a string: first 12 hex chars of md5
    * (48 bits) mod the Mersenne prime 2^31-1. Deterministic and
    * reproducible in any engine with md5.
    */
  val MersennePrime31: Long = 2147483647L
  def baseHash31(s: Column): Column =
    conv(substring(md5(s), 1, 12), 16, 10).cast("long") % MersennePrime31

  /** Universal-hash family over the 31-bit base hash; seeds derive
    * from the hash index, so the family is stateless.
    */
  def universalHash(h31: Column, j: Column): Column = {
    val a = (lit(1103515245L) * (j + 1)) % MersennePrime31
    val b = (lit(69069L) * (j + 1) + 12345L) % MersennePrime31
    (a * h31 + b) % MersennePrime31
  }

  /** Distinct character k-shingles per document via substring over a
    * position sequence (no UDF). Returns (idCol, shingle).
    */
  def charShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), col(textCol).as("__txt"))
      .withColumn("__pos", explode(sequence(lit(1), greatest(length(col("__txt")) - (k - 1), lit(1)))))
      .select(col(idCol), expr(s"substring(__txt, __pos, $k)").as("shingle"))
      .distinct()

  /** Opt-in MATERIALIZED shingle table: compute the distinct
    * k-shingle table once, write it to `path` (parquet), and hand
    * `body` a reader-backed frame. Every downstream dedup branch
    * (MinHash signatures, LSH bands, exact-Jaccard verify, sketch
    * calibration) then re-reads a columnar table instead of re-running
    * scan → explode → distinct per branch — at corpus scale the
    * shingle table is the most expensive dedup intermediate (it is
    * larger than the corpus itself), and it is exactly the artifact a
    * production pipeline materializes once and shares across stages
    * and across runs (incremental dedup reads yesterday's table).
    *
    * Parquet, not `.persist()`, deliberately: at 100 TB the shingle
    * table exceeds the storage-memory fraction, and an evicted cached
    * partition silently recomputes the whole lineage per branch —
    * the failure mode this API exists to remove. A parquet round-trip
    * is spill-by-design, costs one extra scan of a (long, string)
    * table, and later jobs can reuse it.
    */
  def withMaterializedShingles[T](
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      path: String
  )(body: DataFrame => T): T = {
    charShingles(df, idCol, textCol, k).write.mode("overwrite").parquet(path)
    body(df.sparkSession.read.parquet(path))
  }

  /** Exact duplicate groups by content fingerprint: one row per
    * fingerprint with representative (min id) and group size.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_n"))

  /** Quality-aware canonical selection: within each exact-duplicate
    * group (content fingerprint), keep the member with the HIGHEST
    * quality score (ties to the smaller id) instead of blindly
    * keeping the minimum id — the curation-pipeline refinement of
    * [[exactDupGroups]] (near-identical crawls differ in boilerplate;
    * the kept copy should be the best one). One fingerprint window,
    * no joins wider than the corpus; scores are whatever integer or
    * float column the caller supplies (e.g.
    * `TextOps.nbQualityScores`'s exact `score_micro`).
    *
    * @param scores (idCol, scoreCol) per document
    * @return (idCol, fp, group_n, score, keep)
    */
  def canonicalByQuality(
      df: DataFrame,
      scores: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      fpOf: Column => Column = TextOps.fingerprint
  ): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.select(col(idCol), fpOf(col(textCol)).as("fp"))
      .join(scores.select(col(idCol), col(scoreCol)), Seq(idCol), "left")
      .withColumn("group_n", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .withColumn("keep", row_number().over(wFp) === 1)
      .select(col(idCol), col("fp"), col("group_n"), col(scoreCol).as("score"), col("keep"))
  }

  /** Pairwise exact n-gram Jaccard over a document set (use only on a
    * bounded subset or within LSH buckets — this is the quadratic
    * verify step, not the scale path). Returns (a_id, b_id, inter,
    * na, nb, jaccard) for pairs sharing ≥1 shingle.
    */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    jaccardFromShinglesExact(charShingles(df, idCol, textCol, k), idCol)

  /** Jaccard pairs from a precomputed shingle table.
    *
    * One groupBy collects each document's distinct shingle SET, then a
    * broadcast non-equi self-join (`a_id < b_id`) computes each pair's
    * intersection with `array_intersect` — shuffle volume is
    * O(docs × shingles-per-doc), versus the Σ freq² row blowup of a
    * shingle-keyed self-join (a ubiquitous 3-gram appearing in every
    * doc contributes |docs|² rows there). Quadratic in PAIRS by
    * construction — that is the operator's contract — so the doc set
    * must be bounded (it is the verify/baseline step; the scale path
    * is [[lshCandidates]] + [[jaccardOnCandidates]]).
    */
  def jaccardFromShinglesExact(sh: DataFrame, idCol: String): DataFrame = {
    val sets = sh.groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("shset"), count(lit(1)).as("sz"))
    // spread the streamed side: AQE coalesces the tiny post-groupBy
    // shuffle to one partition, which would serialize every pairwise
    // intersect onto a single core of the nested-loop join
    // numShufflePartitions is always defined (falls back to the
    // session default), unlike a raw conf read whose hard-coded
    // default would silently under-parallelize on a cluster session
    // that never set the key explicitly
    val width = sh.sparkSession.sessionState.conf.numShufflePartitions
    val a = sets.repartition(width)
      .select(col(idCol).as("a_id"), col("shset").as("a_set"), col("sz").as("na"))
    val b = sets.select(col(idCol).as("b_id"), col("shset").as("b_set"), col("sz").as("nb"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("a_set"), col("b_set"))).cast("long"))
      .filter(col("inter") > 0)
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"), col("jaccard"))
  }

  /** MinHash signatures: (idCol, j, mh) for j in [0, numHashes). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int, numHashes: Int): DataFrame =
    minhashFromShingles(charShingles(df, idCol, textCol, k), idCol, numHashes)

  /** MinHash signatures from a precomputed shingle table.
    *
    * Computed as `numHashes` columnar min-aggregates in ONE pass over
    * the shingle rows (map-side combined), then unpivoted — ~30×
    * less shuffle than exploding a hash-index column per row.
    */
  def minhashFromShingles(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val withH = sh.withColumn("h31", baseHash31(col("shingle")))
    val aggs = (0 until numHashes).map(j => min(universalHash(col("h31"), lit(j))).as(s"mh$j"))
    val wide = withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val stackExpr = (0 until numHashes).map(j => s"$j, mh$j").mkString(", ")
    wide.select(col(idCol), expr(s"stack($numHashes, $stackExpr) AS (j, mh)"))
  }

  /** MinHash signature as ONE array row per document (same columnar
    * min-aggregates as [[minhashFromShingles]], without the unpivot):
    * the shape for signature-vs-signature comparisons — a pair join
    * carries one row per doc instead of `numHashes`, and the
    * position-agreement count is a per-row `zip_with` fold.
    */
  def minhashArrayFromShingles(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val withH = sh.withColumn("h31", baseHash31(col("shingle")))
    val aggs = (0 until numHashes).map(j => min(universalHash(col("h31"), lit(j))).as(s"mh$j"))
    withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(j => col(s"mh$j")): _*).as("sig"))
  }

  /** Exact Jaccard restricted to a candidate-pair table: each side's
    * distinct shingle set is collected into an array and the pair's
    * intersection is computed with `array_intersect` — shuffle volume
    * is O(candidates × shingles-per-doc), versus the Σ freq² blowup of
    * the full shingle self-join (a ubiquitous 3-gram appearing in
    * every doc contributes |docs|² rows there). This is the verify
    * step of the MinHash+LSH scale path; results are value-identical
    * to [[jaccardFromShinglesExact]] filtered to the candidates.
    */
  def jaccardOnCandidates(cands: DataFrame, sh: DataFrame, idCol: String): DataFrame = {
    val sets = sh.groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("shset"), count(lit(1)).as("sz"))
    cands
      .join(sets.select(col(idCol).as("a_id"), col("shset").as("a_set"), col("sz").as("na")), Seq("a_id"))
      .join(sets.select(col(idCol).as("b_id"), col("shset").as("b_set"), col("sz").as("nb")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("a_set"), col("b_set"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .drop("a_set", "b_set")
  }

  /** MinHash → LSH bands in ONE shuffle: the per-document min-hash
    * aggregation and the per-band signature digest fused into a single
    * groupBy. The unpivoted [[minhashFromShingles]] → [[lshBands]]
    * composition pays a second shuffle re-keying (doc, band) rows that
    * this path derives with a narrow explode from the wide min-hash
    * row. Band signatures are byte-identical to the composed form
    * (same `md5(concat_ws(",", mh_j…))` in j order), so candidate
    * pairs are interchangeable between the two paths.
    */
  def lshBandsFromShingles(sh: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val withH = sh.withColumn("h31", baseHash31(col("shingle")))
    val aggs = (0 until numHashes).map(j => min(universalHash(col("h31"), lit(j))).as(s"mh$j"))
    val wide = withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bandStructs = (0 until numHashes / rowsPerBand).map { b =>
      val mhCols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"mh$j").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", mhCols: _*)).as("band_sig"))
    }
    wide
      .select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** LSH banding of a MinHash signature table: (idCol, band,
    * band_sig) where band_sig digests the band's signature rows.
    */
  def lshBands(sig: DataFrame, idCol: String, rowsPerBand: Int): DataFrame =
    sig
      .withColumn("band", (col("j") / rowsPerBand).cast("int"))
      .groupBy(col(idCol), col("band"))
      .agg(
        md5(
          concat_ws(
            ",",
            transform(array_sort(collect_list(struct(col("j"), col("mh")))), s => s.getField("mh").cast("string"))
          )
        ).as("band_sig")
      )

  /** Candidate near-duplicate pairs: documents sharing any LSH bucket.
    * Equi-join on (band, band_sig) — the scale path.
    */
  def lshCandidates(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("a_id"), col("band"), col("band_sig"))
    val b = bands.select(col(idCol).as("b_id"), col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Star edges from LSH buckets: one edge (bucket-min-id, member) per
    * bucket member instead of all member pairs. Connectivity — and
    * therefore the connected components — is identical to the pairwise
    * candidate graph, but edge count is Σ|bucket| rather than
    * Σ|bucket|², which is the difference between linear and quadratic
    * shuffle on an exact-dup-heavy corpus. Feed to
    * [[connectedComponents]] for dedup clusters.
    */
  def lshStarEdges(bands: DataFrame, idCol: String): DataFrame = {
    val bucketMin = bands.groupBy(col("band"), col("band_sig")).agg(min(col(idCol)).as("a_id"))
    bands
      .join(bucketMin, Seq("band", "band_sig"))
      .filter(col(idCol) =!= col("a_id"))
      .select(col("a_id"), col(idCol).as("b_id"))
      .distinct()
  }

  /** Connected components over an undirected pair table (near-dup
    * GROUPS from near-dup PAIRS — the step that turns LSH candidate
    * edges into dedup clusters with one representative per cluster).
    *
    * Min-label propagation with POINTER JUMPING: each round a node
    * takes the min label over itself and its neighbors (one hop), then
    * resolves that label through the current mapping (comp ← comp of
    * comp), doubling the propagation distance — O(log diameter)
    * rounds, which matters because mutation-chain duplicates form long
    * paths, not cliques. Deterministic: the component label is the
    * component's min id (the unique fixed point, independent of round
    * schedule).
    *
    * The LOOP runs on RDDs with one fixed `HashPartitioner`, not on
    * DataFrames — the one place in this engine where dropping below
    * Catalyst is the right call (the same reason GraphX is RDD-based):
    * a fixed partitioner makes every per-round join narrow
    * (co-partitioned adjacency and labels — only the min-reduce and
    * the jump re-key shuffle, and they shuffle two-long rows), each
    * round is ONE job instead of an AQE stage cascade, there is no
    * per-round Catalyst re-planning on a lineage that grows every
    * iteration, and `localCheckpoint` + ContextCleaner reclaim round
    * state automatically. Convergence piggybacks on the checkpoint
    * action via a changed-labels accumulator (over-count on task retry
    * is benign: only exact zero means converged, and an actually
    * changed round can never report zero).
    *
    * @param partitions shuffle width for the iterative rounds. Size to
    *                   the node count (rows are two longs): a small
    *                   graph on the session-default width pays ~32
    *                   scheduler-latency-bound tasks per round for
    *                   nothing. 0 = the context default parallelism.
    * @return (id, component)
    */
  def connectedComponents(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      maxIters: Int = 25,
      partitions: Int = 0
  ): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val part = new org.apache.spark.HashPartitioner(
      if (partitions > 0) partitions else sc.defaultParallelism)
    // symmetric adjacency, partitioned once and reused every round
    val adj = edges
      .select(col("a_id").cast("long"), col("b_id").cast("long")).as[(Long, Long)]
      .rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist()
    // seed labels with each node's one-hop min (id ∧ min neighbor id) —
    // for the star-edge graphs LSH dedup produces this is most of the
    // first propagation round, for the price of one edge min-reduce
    val nbrMin0 = adj.reduceByKey(part, math.min(_: Long, _: Long))
    var labels = nodes
      .select(col(idCol).cast("long")).as[Long]
      .rdd
      .map(i => (i, i))
      .partitionBy(part)
      .leftOuterJoin(nbrMin0, part)
      .mapValues { case (id, nm) => math.min(id, nm.getOrElse(id)) }
      .localCheckpoint()
    labels.count()
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val changed = sc.longAccumulator("cc-changed")
      // hop: min over own label and neighbors' labels (adj ⋈ labels is
      // narrow — co-partitioned; only the min-reduce shuffles)
      val nbrMin = adj
        .join(labels)
        .map { case (_, (nbr, comp)) => (nbr, comp) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      val hop = labels
        .leftOuterJoin(nbrMin, part)
        .mapValues { case (comp, nm) => (comp, math.min(comp, nm.getOrElse(comp))) }
      // jump: resolve the hopped label through the hop mapping itself
      // (labels are node ids, and every node has a hop row, so the
      // re-keyed join is total)
      val hopComp = hop.mapValues(_._2)
      val jumped = hop
        .map { case (id, (old, c)) => (c, (id, old)) }
        .join(hopComp, part)
        .map { case (_, ((id, old), resolved)) =>
          if (resolved != old) changed.add(1L)
          (id, resolved)
        }
        .partitionBy(part)
        .localCheckpoint()
      jumped.count()
      converged = changed.value == 0L
      labels = jumped
      it += 1
    }
    adj.unpersist(false)
    labels.toDF("id", "component")
  }

  /** Giant-component guard: the component-size histogram of a
    * near-dup labeling, with each size's share of all documents and
    * the top component's share as a constant audit column.
    *
    * This is the percolation signal production dedup pipelines watch:
    * a too-permissive LSH config (low threshold, few rows per band)
    * transitively chains most of the corpus into ONE component, and
    * any group-grain policy downstream — keep-one-per-component,
    * leak-safe splitting — then silently drops or freezes almost
    * everything (d36's own 150-doc slice chains 105 docs into one
    * component). One groupBy over the label table plus a broadcast
    * 1-row total; no scan of the documents themselves.
    *
    * @param comp (id, component) labels from [[connectedComponents]].
    * @return one row per distinct component size: (component_size,
    *   n_components, n_docs, doc_share, top_share).
    */
  def componentStats(comp: DataFrame, idCol: String): DataFrame = {
    val hist = comp
      // count by the caller's id column (also validates it exists —
      // the parameter was previously accepted and silently ignored)
      .groupBy(col("component")).agg(count(col(idCol)).as("component_size"))
      .groupBy(col("component_size")).agg(count(lit(1)).as("n_components"))
      .withColumn("n_docs", col("component_size") * col("n_components"))
    val totals = hist.agg(
      sum(col("n_docs")).as("__total"),
      max(col("component_size")).as("__max_sz"))
    hist
      .crossJoin(broadcast(totals))
      .select(
        col("component_size"), col("n_components"), col("n_docs"),
        (round(col("n_docs") / col("__total") * lit(1e6)) / lit(1e6)).as("doc_share"),
        (round(col("__max_sz") / col("__total") * lit(1e6)) / lit(1e6)).as("top_share")
      )
  }

  /** SimHash (nBits ≤ 32): weighted sign-sum of token-hash bits,
    * packed into a long. Tokens weighted by in-document frequency.
    *
    * Fully columnar: all bit-plane sums are aggregates of one pass
    * over (doc, token, count) rows — no per-bit row explosion, one
    * map-side-combined shuffle keyed by doc.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, nBits: Int): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long"))
    val bitSums = (0 until nBits).map { i =>
      val bit = floor(col("h") / pow(lit(2.0), lit(i))).cast("long") % 2
      sum(col("cnt") * (bit * 2 - 1)).as(s"s$i")
    }
    val packed = (0 until nBits)
      .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** Robust-winnowing document fingerprints (Schleimer/Wilkerson/
    * Aiken, SIGMOD 2003 — the MOSS sketch; reference has no analog,
    * this is the training-data-pipeline extension): hash every
    * character k-gram of the normalized text, slide a window over `w`
    * consecutive k-gram hashes, and keep each window's minimum hash —
    * rightmost position on ties. Guarantees every shared substring of
    * length ≥ w + k − 1 contributes at least one shared fingerprint,
    * while storing only ~2/(w+1) of the k-gram hashes.
    *
    * The per-window rightmost-argmin needs no self-join: hash and
    * position pack into one integer key `h·2^16 + (2^16−1−pos)` —
    * larger position ⇒ smaller key — so a single frame-bounded
    * `min()` window aggregate selects both the smallest hash and the
    * rightmost tie in one codegen'd pass. The 44-bit md5-prefix hash
    * keeps the packed key inside exact BIGINT range (no double
    * rounding), making the selection bit-reproducible on any engine.
    *
    * Scale: per-doc work is linear in text length; the window
    * partitions by document (millions of independent frames, no
    * skew ceiling). Documents shorter than w+k−1 normalized chars
    * yield no fingerprints; positions are capped at 2^16−1 so the
    * packing stays exact (fingerprint the first 64 KiB — the standard
    * prefix cap for near-dup sketches of long documents).
    *
    * Returns (idCol, fp_pos, fp_hash) — the distinct selected
    * fingerprints per document.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")
    val grams = df
      .select(col(idCol), norm.as("__norm"))
      .withColumn("__n", least(length(col("__norm")) - (k - 1), lit(65535)))
      .filter(col("__n") >= w) // too short for one full window → no fingerprints
      .withColumn("pos", explode(sequence(lit(1), col("__n"))))
      .withColumn("__h",
        conv(substring(md5(col("__norm").substr(col("pos"), lit(k))), 1, 11), 16, 10).cast("long"))
    val winFrame = Window.partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    grams
      .withColumn("__key", col("__h") * 65536L + (lit(65535L) - col("pos")))
      .withColumn("__wmin", min(col("__key")).over(winFrame))
      .filter(col("pos") <= col("__n") - (w - 1)) // full windows only
      .select(
        col(idCol),
        (lit(65535L) - col("__wmin") % 65536L).cast("int").as("fp_pos"),
        shiftright(col("__wmin"), 16).as("fp_hash")
      )
      .distinct()
  }

  /** MinHash signature from ROLLING-HASH shingles as one scalar
    * column, `array<bigint>` of `numHashes` mins: the native
    * `graft_rolling_hashes` expression hashes every k-gram in O(n)
    * integer arithmetic (no md5 per shingle — the md5 path's CPU
    * floor), `array_distinct` dedups in-row, and each universal-hash
    * min folds over the hash set. Zero shuffle until the caller
    * aggregates or joins. Duplicate-hash collisions (31-bit, ~n²/2³¹
    * per doc) cannot change a min, so the signature equals the one a
    * collision-free path would produce except when two distinct
    * shingles collide AND one of them held a row min — noise far
    * below MinHash's own 1/√H sketch error.
    *
    * Null contract (intended, pinned in ExpressionSpec): null text →
    * NULL signature → no LSH bands, so null-text docs drop out of
    * near-dup candidacy entirely. The pre-native composition instead
    * returned an all-null ARRAY, which made every null-text doc share
    * identical band signatures — a pathological all-pairs bucket at
    * corpus scale; the native behavior is the fix, not a regression.
    */
  def rollingMinhashSig(text: Column, k: Int, numHashes: Int): Column = {
    // native one-pass expression
    // ([[graft.functions.RollingMinhashSig]]): the previous per-index
    // `aggregate` min-fold was a CodegenFallback lambda running
    // numHashes × |grams| interpreted steps per document
    graft.functions.GraftFunctions.ensure()
    call_function("graft_rolling_minhash_sig", text, lit(k), lit(numHashes))
  }

  /** LSH band structs from a signature array column (same
    * `md5(concat_ws(",", mh_j…))` digest as [[lshBandsFromShingles]] —
    * one md5 per BAND per doc, not per shingle).
    *
    * A NULL signature (null text — see [[rollingMinhashSig]]'s null
    * contract) yields a NULL band array, so `explode` drops the doc
    * from banding. Without the guard, `concat_ws` would skip the null
    * elements and hash every null-sig doc to the same `md5("")` band
    * signatures — an all-pairs candidate bucket at corpus scale.
    */
  def bandsFromSig(sig: Column, numHashes: Int, rowsPerBand: Int): Column =
    when(sig.isNotNull, array((0 until numHashes / rowsPerBand).map { b =>
      val mhCols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => element_at(sig, j + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", mhCols: _*)).as("band_sig"))
    }: _*))

  /** [[winnowFingerprints]] as ONE scalar column: the per-document
    * fingerprint array `array<struct<fp_pos:int, fp_hash:bigint>>`
    * computed entirely inside a row expression (the native
    * `graft_winnow_mins` window minimums → distinct decode). Value-
    * identical to the window-aggregate form — `WinnowSpec` asserts
    * it — and the shape a STREAMING query needs: the fingerprints
    * arrive at the (single permitted) stateful operator already
    * formed. Null text yields an empty array. Per document the work
    * is one md5 per k-gram plus O(n·w) comparisons
    * ([[graft.functions.WinnowMins]]).
    */
  def winnowFpArray(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    graft.functions.GraftFunctions.ensure()
    val norm = regexp_replace(lower(text), "[^a-z0-9]", "")
    val mins = call_function("graft_winnow_mins", norm, lit(k), lit(w))
    coalesce(
      array_distinct(transform(mins, m => struct(
        (lit(65535L) - m % 65536L).cast("int").as("fp_pos"),
        shiftright(m, 16).as("fp_hash")
      ))),
      array().cast("array<struct<fp_pos:int,fp_hash:bigint>>"))
  }

  /** Winnowing near-dup pairs: join the per-doc fingerprint SETS on
    * fp_hash (a postings-list equi-join — never a doc cross join),
    * count distinct shared hashes per pair, and score containment
    * `shared / min(|A|, |B|)`. `maxDocsPerHash` drops boilerplate
    * fingerprints that appear in more than that many documents before
    * the pair join — the standard postings cap that bounds bucket
    * fan-out at corpus scale (a header shared by 10⁶ docs would
    * otherwise create 10¹² pairs).
    */
  def winnowPairs(fp: DataFrame, idCol: String, maxDocsPerHash: Int): DataFrame = {
    val sets = fp.select(col(idCol), col("fp_hash")).distinct()
    val kept = sets
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("fp_hash"))))
      .filter(col("__df") <= maxDocsPerHash)
      .select(col(idCol), col("fp_hash"))
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    kept.select(col(idCol).as("a_id"), col("fp_hash"))
      .join(kept.select(col(idCol).as("b_id"), col("fp_hash")), Seq("fp_hash"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col(idCol).as("a_id"), col("__sz").as("na")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("__sz").as("nb")), Seq("b_id"))
      .select(
        col("a_id"), col("b_id"), col("n_shared"), col("na"), col("nb"),
        (round(col("n_shared") / least(col("na"), col("nb")).cast("double") * lit(1e6)) / lit(1e6)).as("containment")
      )
  }

  /** Delta dedup (the incremental corpus-update shape): give each
    * document of a NEW batch a verdict against the EXISTING corpus —
    * `dup_of_corpus` when its content fingerprint already exists,
    * `dup_in_delta` when an earlier (smaller-id) delta doc has the
    * same fingerprint, else kept.
    *
    * Plan shape for a 100 TB corpus side: the corpus projects its
    * fingerprint column and semi-joins against the BROADCAST delta
    * fingerprint set (the delta is small by construction — it is one
    * ingest batch), so the corpus never shuffles; the surviving
    * matches (≤ |delta|) broadcast back over the delta.
    *
    * Ingest batches are not always small: when the measured distinct
    * fingerprint count exceeds `maxExactKeys`, the exact broadcast set
    * would blow the executor broadcast envelope, so the call routes
    * itself through [[deltaDedupBloom]] — verdict-identical by
    * construction (bloom false positives die on an exact join), just a
    * constant-factor-smaller broadcast. The switch is measured (one
    * count job over the delta) and logged, never silent.
    *
    * @return (idCol, fp, verdict)
    */
  /** Distinct-fingerprint count above which [[deltaDedup]] routes
    * itself through the bloom plan: ~50 bytes/key of exact broadcast
    * set means 2·10⁷ keys ≈ 1 GB — the practical per-executor
    * broadcast ceiling. Measured (one count job over the SMALL side)
    * rather than guessed from row stats, and logged when it trips.
    */
  val DeltaExactBroadcastMaxKeys: Long = 20_000_000L

  /** INTRA-document line/paragraph dedup (the Dolma within-doc
    * variant of [[lineBoilerplate]]): keep each line's FIRST
    * occurrence inside its own document, drop later repeats —
    * generated pages repeat nav blocks and templated paragraphs many
    * times within one page. Pure in-row expression (quadratic in the
    * per-doc line count, which is bounded; nothing shuffles at all —
    * zero exchanges in the plan).
    *
    * @return (idCol, clean_text, n_lines, n_removed)
    */
  def dedupLinesWithinDoc(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      delimiter: String = "\n"
  ): DataFrame = {
    val qdelim = java.util.regex.Pattern.quote(delimiter)
    docs
      .withColumn("__lines", split(col(textCol), qdelim))
      // keep index i iff the line does not appear among indices < i
      // (Spark's filter index is 0-based; slice is 1-based and takes
      // the first i elements = everything before position i)
      .withColumn("__keep",
        filter(col("__lines"), (l, i) => !exists(slice(col("__lines"), lit(1), i), p => p === l)))
      .select(
        col(idCol),
        array_join(col("__keep"), delimiter).as("clean_text"),
        size(col("__lines")).cast("long").as("n_lines"),
        (size(col("__lines")) - size(col("__keep"))).cast("long").as("n_removed"))
  }

  /** CCNet/Dolma-style LINE-LEVEL boilerplate removal: a line (text
    * segment between `delimiter`s) that appears in at least `minDocs`
    * DISTINCT documents is boilerplate (headers, footers, navigation,
    * legal banners — the lines that repeat across a crawl) and is
    * stripped from every document; within-document repeats count once.
    *
    * 100 TB posture — the document text NEVER shuffles: line keys are
    * md5 digests computed IN-ROW (`transform` over the in-row split),
    * only 32-byte hashes enter the frequency aggregation, and the
    * boilerplate set comes back to the scan as a broadcast. Two
    * membership tiers (the `deltaDedup` auto-route pattern):
    *
    *  - EXACT (≤ `maxExactLines` boilerplate lines): the distinct
    *    boilerplate digests broadcast as one in-row array; per-line
    *    membership is `array_contains` — exact, no false drops.
    *  - BLOOM (beyond the envelope): a bloom filter of the digests
    *    broadcasts instead (~10 bits/line vs ~40 bytes exact). NO
    *    false negatives — every true boilerplate line is still
    *    removed — but a unique line is dropped at the bloom FPR
    *    (~1% at 10 bits / 6 probes), the same approximation class as
    *    the LSH/simhash tiers. The route is logged.
    *
    * @return (idCol, clean_text, n_lines, n_removed)
    */
  def lineBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long,
      delimiter: String = "\n",
      maxExactLines: Long = DeltaExactBroadcastMaxKeys
  ): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val qdelim = java.util.regex.Pattern.quote(delimiter)
    def lines(c: Column): Column = split(c, qdelim)
    // per-doc DISTINCT line digests (in-row), so the frequency count
    // is a distinct-document count without a countDistinct shuffle
    // eager localCheckpoint: the route decision needs a count() and the
    // chosen tier re-reads the set — without materialization the
    // full-corpus digest aggregation would execute twice (the q67
    // persist-sharing lesson); the boilerplate set itself is tiny
    val freq = docs
      .select(explode(array_distinct(transform(lines(col(textCol)), l => md5(l)))).as("h"))
      .groupBy(col("h")).count()
      .filter(col("count") >= minDocs)
      .select(col("h"))
      .localCheckpoint(true)
    val nBoiler = freq.count()
    val out =
      if (nBoiler <= maxExactLines) {
        val freqArr = freq.agg(collect_list(col("h")).as("__boiler"))
        docs
          .crossJoin(broadcast(freqArr))
          .withColumn("__lines", lines(col(textCol)))
          .withColumn("__keep",
            filter(col("__lines"), l => !array_contains(col("__boiler"), md5(l))))
      } else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"lineBoilerplate: $nBoiler boilerplate lines > $maxExactLines exact-broadcast " +
            "envelope; routing through the bloom tier (no false negatives; unique lines " +
            "drop at the bloom FPR)")
        val bloom = graft.functions.Bloom.build(
          freq, xxhash64(col("h")), math.max(nBoiler, 1L) * 10L, 6)
        docs
          .withColumn("__lines", lines(col(textCol)))
          .withColumn("__keep",
            filter(col("__lines"),
              l => !graft.functions.Bloom.containsCol(bloom, xxhash64(md5(l)))))
      }
    out.select(
      col(idCol),
      array_join(col("__keep"), delimiter).as("clean_text"),
      size(col("__lines")).cast("long").as("n_lines"),
      (size(col("__lines")) - size(col("__keep"))).cast("long").as("n_removed"))
  }

  def deltaDedup(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      fpOf: Column => Column = TextOps.fingerprint,
      maxExactKeys: Long = DeltaExactBroadcastMaxKeys
  ): DataFrame = {
    val dfp = delta.select(col(idCol), fpOf(col(textCol)).as("fp"))
    val dfps = dfp.select(col("fp")).distinct()
    val nKeys = dfps.count()
    if (nKeys > maxExactKeys) {
      // past the broadcast envelope the exact set would OOM the
      // executors — the bloom probe (verdict-identical: bloom false
      // positives are killed by an exact join) is the only safe plan.
      // dfp/dfps/nKeys are handed through so the bloom path derives
      // nothing from the raw delta a second time.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"deltaDedup: $nKeys distinct delta fingerprints > $maxExactKeys exact-broadcast " +
          "envelope; routing through deltaDedupBloom (identical verdicts)")
      deltaDedupBloomCore(corpus, dfp, dfps, nKeys, idCol, textCol, fpOf,
        bitsPerKey = 10, numProbes = 6)
    } else {
      val corpusHits = corpus.select(fpOf(col(textCol)).as("fp"))
        .join(broadcast(dfps), Seq("fp"), "left_semi")
        .distinct()
      deltaVerdicts(dfp, broadcast(corpusHits), idCol)
    }
  }

  /** Shared verdict construction for the delta-dedup variants: given
    * the delta's (id, fp) and the DISTINCT corpus-matched fingerprint
    * set, label each delta doc dup_of_corpus / dup_in_delta / kept.
    * [[deltaDedup]] and [[deltaDedupBloom]] differ ONLY in how
    * `corpusHits` is computed — the verdicts are this one definition.
    */
  private def deltaVerdicts(dfp: DataFrame, corpusHits: DataFrame, idCol: String): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
    dfp
      .join(corpusHits.withColumn("__hit", lit(true)), Seq("fp"), "left")
      .withColumn("__min_id", min(col(idCol)).over(wFp))
      .withColumn("verdict",
        when(col("__hit"), lit("dup_of_corpus"))
          .when(col(idCol) =!= col("__min_id"), lit("dup_in_delta"))
          .otherwise(lit("kept")))
      .select(col(idCol), col("fp"), col("verdict"))
  }

  /** [[deltaDedup]] for ingest batches past the exact-broadcast
    * envelope: instead of broadcasting the delta's exact fingerprint
    * SET at the corpus (fine for one ingest batch, ~50+ bytes/key;
    * past ~10⁸ distinct fingerprints it outgrows the broadcast
    * ceiling), broadcast a BLOOM FILTER of the delta fingerprints
    * (~`bitsPerKey/8` bytes/key — 10 bits/key is 40× smaller than the
    * exact set) as a literal inside a codegen'd
    * `graft_bloom_contains` probe. The corpus side — the 100 TB side —
    * still never shuffles: non-members die at the scan. Bloom false
    * positives (<1% at the defaults) survive the probe but are killed
    * by an exact fingerprint join against the delta, which only ever
    * moves the candidates (≤ corpus-matches + FPR·|corpus distinct|)
    * and the delta fingerprints — so the result is EXACTLY
    * [[deltaDedup]]'s, verdict for verdict. No join in this variant
    * forces a broadcast: with a delta too big for the exact envelope,
    * the verify and hit joins are plain shuffles of the two small(er)
    * sides, and AQE upgrades them when they do fit.
    *
    * @return (idCol, fp, verdict) — identical to [[deltaDedup]]
    */
  def deltaDedupBloom(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      fpOf: Column => Column = TextOps.fingerprint,
      bitsPerKey: Int = 10,
      numProbes: Int = 6
  ): DataFrame = {
    val dfp = delta.select(col(idCol), fpOf(col(textCol)).as("fp"))
    val dfps = dfp.select(col("fp")).distinct()
    // the delta (the SMALL side) is scanned four times — count, bloom
    // build, exact verify, final verdict join — all cheap next to the
    // single corpus scan this variant exists to protect; deliberately
    // not cached so the operator leaves no persisted state behind its
    // lazily-returned result.
    val nKeys = math.max(1L, dfps.count())
    deltaDedupBloomCore(corpus, dfp, dfps, nKeys, idCol, textCol, fpOf, bitsPerKey, numProbes)
  }

  /** Shared body of [[deltaDedupBloom]] and [[deltaDedup]]'s
    * auto-route: takes the already-derived delta fingerprints and
    * distinct count so the router's count job is not repeated.
    */
  private def deltaDedupBloomCore(
      corpus: DataFrame,
      dfp: DataFrame,
      dfps: DataFrame,
      nKeysRaw: Long,
      idCol: String,
      textCol: String,
      fpOf: Column => Column,
      bitsPerKey: Int,
      numProbes: Int
  ): DataFrame = {
    val nKeys = math.max(1L, nKeysRaw)
    val bloom = graft.functions.Bloom.build(
      dfps, xxhash64(col("fp")), nKeys * bitsPerKey.toLong, numProbes)
    val cand = corpus.select(fpOf(col(textCol)).as("fp"))
      .filter(graft.functions.Bloom.containsCol(bloom, xxhash64(col("fp"))))
      .distinct()
    val corpusHits = cand.join(dfps, Seq("fp"), "left_semi") // exact: kills bloom FPs
    // no broadcast force here: with a delta past the exact envelope,
    // the hit join is a plain shuffle of the two small(er) sides, and
    // AQE upgrades it when it does fit
    deltaVerdicts(dfp, corpusHits, idCol)
  }

  /** Duplicated-substring spans (the ExactSubstr dedup family of
    * training-data pipelines — Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022: find the exact
    * character ranges a document shares verbatim with OTHER
    * documents, rather than a whole-document verdict): for every
    * document, each character k-gram that also occurs in ≥ 2 distinct
    * documents marks the span `[pos, pos+k)`; overlapping and
    * adjacent spans merge, and the per-document report is the
    * duplicated-occurrence count, merged-span count, covered
    * characters, and covered fraction.
    *
    * Plan shape for 100 TB — there is NO pair join anywhere (unlike
    * every sketch-based near-dup operator, fan-out never multiplies):
    *  1. one scan emits the O(n) rolling 31-bit hash per position
    *     (native `graft_rolling_hashes` — no per-gram digest, no
    *     k-byte gram explosion) and one hash-keyed long shuffle
    *     counts cross-document frequency. Equal grams hash equal, so
    *     `df(hash) ≥ 2` is a SUPERSET of the true duplicated grams —
    *     no false negatives;
    *  2. the candidate hash set broadcasts back as a BLOOM literal
    *     (codegen'd probe, ~1 byte/candidate) over a second scan,
    *     which extracts the k-char gram string in-row for surviving
    *     positions only — document text never enters a shuffle;
    *  3. gram-string frequency re-counts exactly (this kills both
    *     31-bit hash collisions and bloom false positives — the
    *     result is independent of either), and span merging is a
    *     per-document prefix-max window: frames bounded by document
    *     length, millions of independent partitions, no skew ceiling.
    *
    * Assumes `idCol` is unique per document (the corpus contract
    * everywhere in this family): duplicate ids would interleave two
    * texts' positions into one span stream.
    *
    * @return (idCol, n_dup_grams, n_spans, dup_chars, dup_frac) — one
    *         row per input document, zeros when nothing is shared.
    */
  def dupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bitsPerKey: Int = 10
  ): DataFrame = {
    require(k >= 1, s"dupSpans: k must be >= 1, got $k")
    graft.functions.GraftFunctions.ensure(docs.sparkSession)
    val base = docs.select(col(idCol), col(textCol).as("__text"), length(col(textCol)).as("__n"))
    // pass 1: cross-doc document frequency on the rolling hash
    val candH = base
      .select(col(idCol), explode(call_function("graft_rolling_hashes", col("__text"), lit(k))).as("h"))
      .distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("h"))
    // the sizing count and the bit-setting pass are the only two
    // consumers, both actions inside this call — persist between them
    // so the distinct+groupBy shuffle runs once, release right after
    candH.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom =
      try {
        val nCand = math.max(1L, candH.count())
        graft.functions.Bloom.build(candH, col("h"), nCand * bitsPerKey.toLong, 6)
      } finally candH.unpersist(blocking = false)
    // pass 2: candidate positions keep their exact gram, in-row.
    // Bloom false positives (and 31-bit collisions) only admit grams
    // whose true document frequency is 1 — the exact recount below
    // drops them, so the output does not depend on bloom sizing.
    val posed = base.select(col(idCol), col("__n"), posexplode(
      call_function("graft_rolling_hashes", col("__text"), lit(k))).as(Seq("pos", "h")),
      col("__text"))
    val grams = posed
      .filter(graft.functions.Bloom.containsCol(bloom, col("h")))
      .select(col(idCol), col("__n"), col("pos"),
        col("__text").substr(col("pos") + lit(1), lit(k)).as("gram"))
    val dupG = grams.select(col(idCol), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("gram"))
    val occ = grams.join(dupG, Seq("gram"), "left_semi")
      .select(col(idCol), col("pos"), col("__n"))
    // merge overlapping/adjacent spans: a new island starts where pos
    // clears the running max end of all prior spans
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(k)).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val spans = occ
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(
        count(lit(1)).as("__cnt"),
        min(col("pos")).as("__s"),
        least(max(col("pos")) + lit(k), min(col("__n"))).as("__e"))
    val perDoc = spans.groupBy(col(idCol))
      .agg(
        sum(col("__cnt")).as("n_dup_grams"),
        count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s")).cast("long").as("dup_chars"))
    base.select(col(idCol), col("__n"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
          greatest(col("__n"), lit(1)).cast("double"), 6).as("dup_frac"))
  }

  /** Benchmark contamination check (the train/test leak audit of an
    * LLM data pipeline): for each BENCHMARK document, the fraction of
    * its distinct word n-grams that appear anywhere in the TRAINING
    * corpus.
    *
    * Plan shape for a 100 TB training side: train grams explode
    * map-side and semi-join against the BROADCAST benchmark gram set
    * (benchmarks are small by construction), so the training corpus
    * never shuffles — the only exchanged rows are the surviving
    * intersection grams (≤ |benchmark grams|), deduplicated and
    * broadcast back over the benchmark side.
    *
    * @return (bench_id, n_grams, n_hit, contamination)
    */
  def contamination(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val bg = bench.select(
      col(idCol).as("bench_id"),
      explode(TextOps.wordNgramArray(col(textCol), n)).as("gram"))
    val tg = train.select(explode(TextOps.wordNgramArray(col(textCol), n)).as("gram"))
    val matched = tg
      .join(broadcast(bg.select(col("gram")).distinct()), Seq("gram"), "left_semi")
      .distinct()
    bg.join(broadcast(matched.withColumn("hit", lit(1))), Seq("gram"), "left")
      .groupBy(col("bench_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("contamination",
        (round(col("n_hit").cast("double") / col("n_grams").cast("double") * lit(1e6)) / lit(1e6)))
  }
}
