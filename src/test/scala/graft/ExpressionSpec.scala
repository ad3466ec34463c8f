package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, Solar}

/** Native Catalyst expression: semantics + registration + codegen. */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  test("graft_round_to_base matches round(x/b)*b exactly, including ties and negatives") {
    GraftFunctions.register(spark)
    val vals = Seq(0.0, 5.0, -5.0, 14.999, 15.0, 15.001, -15.0, 123.456, 2.5, -2.5, 7.5)
    val df = vals.toDF("x")
    val out = df
      .select(
        expr("graft_round_to_base(x, 10.0)").as("custom"),
        (round(col("x") / 10.0) * 10.0).as("builtin")
      )
      .as[(Double, Double)]
      .collect()
    out.foreach { case (c, b) => assert(c == b, s"$c != $b") }
  }

  test("graft_dot / graft_dist2 match the higher-order-function fold bit-for-bit") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(200)((Array.fill(64)(rng.nextDouble() * 2 - 1), Array.fill(64)(rng.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val hofDist = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
    val out = df.select(
      expr("graft_dot(a, b)").as("nd"),
      hofDot.as("hd"),
      expr("graft_dist2(a, b)").as("n2"),
      hofDist.as("h2")
    ).as[(Double, Double, Double, Double)].collect()
    out.foreach { case (nd, hd, n2, h2) =>
      assert(nd == hd, s"dot $nd != $hd")   // identical fold order → bit-equal
      assert(n2 == h2, s"dist2 $n2 != $h2")
    }
    // null array → null result (BinaryExpression null-safety)
    val nulls = spark.sql("SELECT graft_dot(NULL, array(1.0d)) IS NULL AS ok").as[Boolean].head()
    assert(nulls)
  }

  test("graft_dot / graft_dist2 null semantics match the HOF fold on malformed embeddings") {
    GraftFunctions.register(spark)
    // length mismatch: zip_with pads with null, null poisons the fold → null
    val mism = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(1.0d)) IS NULL AS a,
        |       graft_dist2(array(1.0d, 2.0d), array(1.0d)) IS NULL AS b,
        |       aggregate(zip_with(array(1.0d, 2.0d), array(1.0d), (x, y) -> x * y),
        |                 0.0d, (acc, x) -> acc + x) IS NULL AS h
        |""".stripMargin).as[(Boolean, Boolean, Boolean)].head()
    assert(mism == ((true, true, true)))
    // null ELEMENT propagates instead of reading as 0
    val nullEl = spark.sql(
      """SELECT graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) IS NULL AS a,
        |       graft_dist2(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) IS NULL AS b
        |""".stripMargin).as[(Boolean, Boolean)].head()
    assert(nullEl == ((true, true)))
  }

  test("graft_dot over float arrays (embedding column type) casts and computes") {
    GraftFunctions.register(spark)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val v = df.selectExpr("graft_dot(a, b) AS d").as[Double].head()
    assert(v == 32.0)
  }

  test("works from SQL over a large frame (whole-stage codegen path)") {
    GraftFunctions.register(spark)
    spark.range(100000).selectExpr("CAST(id AS DOUBLE) / 7 AS x").createOrReplaceTempView("t")
    val n = spark.sql(
      "SELECT count(*) FROM t WHERE graft_round_to_base(x, 5.0) <> round(x / 5.0, 0) * 5.0"
    ).as[Long].head()
    assert(n == 0L)
  }

  test("graft_rolling_hashes equals the per-gram polynomial fold, incl. unicode and short strings") {
    GraftFunctions.register(spark)
    // independent reference: hash each k-gram separately by direct fold
    def ref(s: String, k: Int): Seq[Long] = {
      val cps = s.codePoints().toArray
      def fold(a: Array[Int]): Long = a.foldLeft(0L)((acc, c) => (acc * 131 + c) % 2147483647L)
      if (cps.length <= k) Seq(fold(cps))
      else (0 to cps.length - k).map(i => fold(cps.slice(i, i + k)))
    }
    val texts = Seq("", "a", "ab", "abc", "hello world", "aaaaaaa",
      "héllo wörld 中文 🙂 mix", "tab\tnew\nline", "x" * 500)
    val df = texts.toDF("t")
    val got = df.select(expr("graft_rolling_hashes(t, 3)")).as[Seq[Long]].collect()
    texts.zip(got).foreach { case (t, g) =>
      assert(g == ref(t, 3), s"rolling hashes diverge on '$t'")
    }
    // k > gram: single truncated hash, k = 1: per-codepoint hashes
    assert(df.filter("t = 'ab'").select(expr("graft_rolling_hashes(t, 5)")).as[Seq[Long]].head()
      == ref("ab", 5))
    assert(df.filter("t = 'abc'").select(expr("graft_rolling_hashes(t, 1)")).as[Seq[Long]].head()
      == Seq('a'.toLong, 'b'.toLong, 'c'.toLong))
    // null in, null out
    assert(spark.sql("SELECT graft_rolling_hashes(NULL, 3) IS NULL AS ok").as[Boolean].head())
  }

  test("graft_lsh_band_sigs equals the batch shingle-aggregation signatures, incl. edge strings") {
    GraftFunctions.register(spark)
    // ground truth: the batch path (charShingles → min-aggregate →
    // band digest) on the same texts — the operator DocStream twins
    // must stay interchangeable with
    val texts = Seq("", "a", "ab", "abc", "hello world hello world",
      "héllo wörld 中文 🙂 mix", "x" * 300, "the quick brown fox")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val batch = graft.operators.Dedup
      .lshBandsFromShingles(graft.operators.Dedup.charShingles(df, "doc_id", "text", 3), "doc_id", 8, 4)
      .select(col("doc_id"), col("band"), col("band_sig"))
      .as[(Long, Int, String)].collect().toSet
    val native = df
      .select(col("doc_id"), explode(expr("graft_lsh_band_sigs(text, 3, 8, 4)")).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.band_sig"))
      .as[(Long, Int, String)].collect().toSet
    assert(native == batch, s"native ${native.size} vs batch ${batch.size}")
    // null in, null out
    assert(spark.sql("SELECT graft_lsh_band_sigs(NULL, 3, 8, 4) IS NULL AS ok").as[Boolean].head())
  }

  test("graft_barrier is a transparent boolean identity (values, nulls, codegen)") {
    GraftFunctions.register(spark)
    // identity on true/false/null — the wrapper must change NOTHING
    // about evaluation; its whole job is to be opaque to optimizer
    // pattern matchers (IntervalJoinRule's convergence guard)
    val out = spark.sql(
      """SELECT graft_barrier(x > 1) AS b, (x > 1) AS p
         FROM VALUES (0), (2), (NULL) AS t(x)""")
      .collect().map(r => (if (r.isNullAt(0)) null else r.getBoolean(0),
        if (r.isNullAt(1)) null else r.getBoolean(1)))
    out.foreach { case (b, p) => assert(b == p, s"barrier($p) read back $b") }
    // survives whole-stage codegen over a frame
    val n = spark.range(5000)
      .filter(expr("graft_barrier(id % 3 = 0)")).count()
    assert(n == 1667)
  }

  test("native text signals equal their HOF trees bit-for-bit (corpus + edge strings)") {
    GraftFunctions.register(spark)
    import graft.operators.TextOps
    // the exact expression trees the natives replaced (frozen here as
    // the reference semantics — lambda HOFs, CodegenFallback)
    def treeDup(text: org.apache.spark.sql.Column, n: Int) = {
      val words = split(trim(text), "\\s+")
      val grams = transform(
        sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(words, i, lit(n))))
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double")
    }
    def treeStop(text: org.apache.spark.sql.Column) = {
      val toks = split(lower(trim(text)), "\\s+")
      val stops = filter(toks, t =>
        TextOps.EnglishStopwords.foldLeft(lit(false))((acc, s) => acc || (t === s)))
      size(stops).cast("double") / greatest(size(toks), lit(1)).cast("double")
    }
    def treeAlpha(text: org.apache.spark.sql.Column) = {
      val toks = split(trim(text), "\\s+")
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
        greatest(size(toks), lit(1)).cast("double")
    }
    // the stopword set is duplicated in the expression layer (it must
    // not depend on the operator layer) — pin the copies equal
    assert(graft.functions.TextRatios.Stopwords == TextOps.EnglishStopwords.toSet)
    val edges = Seq(
      "", " ", "\t", "\t\tfoo bar", "the the the", "THE The tHe",
      "a b a b a b", "one", "x", "  leading and trailing  ",
      "naïve café über", "日本語 テキスト the", "emoji 😀 the end",
      "punct... only!!! ???", "a  double  space", "tab\tsep\ttokens",
      "newline\nsep\ntokens", "The of and that have with to be"
    ).toDF("text")
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01").select(col("text"))
    Seq(edges, corpus).foreach { df =>
      val diff = df.select(
          call_function("graft_dup_ngram_frac", col("text"), lit(2)).as("nd"),
          treeDup(col("text"), 2).as("td"),
          call_function("graft_stopword_ratio", col("text")).as("ns"),
          treeStop(col("text")).as("ts"),
          call_function("graft_alpha_word_frac", col("text")).as("na"),
          treeAlpha(col("text")).as("ta"))
        .filter(col("nd") =!= col("td") || col("ns") =!= col("ts") || col("na") =!= col("ta"))
        .count()
      assert(diff == 0, s"native text signal diverged from the HOF tree on $diff rows")
    }
    // null text → null through all three
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(
        call_function("graft_dup_ngram_frac", col("text"), lit(2)),
        call_function("graft_stopword_ratio", col("text")),
        call_function("graft_alpha_word_frac", col("text")))
      .collect()(0)
    assert((0 until 3).forall(nulls.isNullAt), "null text must stay null")
  }

  test("rollingMinhashSig signatures survive whole-stage codegen over a large frame") {
    GraftFunctions.register(spark)
    // same signature from the codegen'd scan twice (determinism) and
    // values inside [0, 2^31-1)
    val df = spark.range(2000).selectExpr("concat('doc ', CAST(id % 97 AS STRING), ' body text') AS t")
    val sig = graft.operators.Dedup.rollingMinhashSig(col("t"), 3, 16)
    val a = df.select(sig.as("s")).as[Seq[Long]].collect()
    val b = df.select(sig.as("s")).as[Seq[Long]].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.flatten.forall(v => v >= 0 && v < 2147483647L))
  }

  test("native rolling minhash sig equals the aggregate-fold composition bit-for-bit") {
    GraftFunctions.register(spark)
    import graft.operators.Dedup
    // the exact composition the native replaced (frozen as reference
    // semantics — distinct is a no-op under a min-fold, asserted here)
    def treeSig(text: org.apache.spark.sql.Column, k: Int, numHashes: Int) = {
      val hset = array_distinct(call_function("graft_rolling_hashes", text, lit(k)))
      array((0 until numHashes).map { j =>
        aggregate(hset, lit(Long.MaxValue), (acc, h) => least(acc, Dedup.universalHash(h, lit(j))))
      }: _*)
    }
    val edges = Seq("", "a", "ab", "abc", "aaaaaaaa", "日本語テキスト", "x y z").toDF("text")
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").select(col("text"))
    Seq(edges, corpus).foreach { df =>
      val diff = df.filter(col("text").isNotNull)
        .select(
          Dedup.rollingMinhashSig(col("text"), 3, 64).as("n"),
          treeSig(col("text"), 3, 64).as("t"))
        .filter(col("n") =!= col("t")).count()
      assert(diff == 0, s"native minhash sig diverged on $diff rows")
    }
  }

  test("rolling minhash sig null contract: null text → null sig → no bands") {
    GraftFunctions.register(spark)
    import graft.operators.Dedup
    // INTENDED semantics (changed with the native expression): the
    // old aggregate-fold composition returned an array of numHashes
    // NULLS for null text, so every null-text doc shared identical
    // band signatures — an all-pairs LSH bucket at corpus scale. The
    // native returns a null ARRAY and null-text docs leave candidacy.
    val df = Seq(Option("some real text here"), None).toDF("text")
    val rows = df.select(
      col("text"),
      Dedup.rollingMinhashSig(col("text"), 3, 16).as("sig")).collect()
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(nullRow.isNullAt(1), "null text must yield a NULL signature, not an array of nulls")
    assert(!rows.find(!_.isNullAt(0)).get.isNullAt(1))
    // and therefore no band structs: the band builder on a null sig
    // stays null, so the explode that feeds bucket joins emits nothing
    val bands = df.select(explode_outer(
      Dedup.bandsFromSig(Dedup.rollingMinhashSig(col("text"), 3, 16), 16, 4)).as("b"))
      .filter(col("b").isNotNull).count()
    assert(bands == 4, "exactly the non-null doc's 4 bands must survive")
  }

  test("graft_winnow_mins equals the key-array composition it replaced, bit-for-bit") {
    GraftFunctions.register(spark)
    // the composition the native replaced (frozen as reference
    // semantics): one packed md5 key per k-gram, then each window's
    // array_min over a slice of the key array
    def treeMins(norm: org.apache.spark.sql.Column, k: Int, w: Int) = {
      val n = least(length(norm) - (k - 1), lit(65535))
      val keys = transform(
        sequence(lit(1), n),
        pos => conv(substring(md5(norm.substr(pos, lit(k))), 1, 11), 16, 10).cast("long") * 65536L
          + (lit(65535L) - pos))
      when(n >= w, transform(sequence(lit(1), n - (w - 1)), i => array_min(slice(keys, i, lit(w)))))
        .otherwise(array().cast("array<bigint>"))
    }
    val edges = Seq("", "a", "abcd", "abcdefgh", "aaaaaaaaaaaa", "日本語テキストabc", "xy" * 40).toDF("t")
    // short random texts: the reference recomputes every key per window
    // (O(n²) md5s per text)
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefXYZ0189 .,-éñ中"
    val random = Seq.fill(60)(Seq.fill(rnd.nextInt(120))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      .toDF("t")
    Seq(edges, random).foreach { df =>
      Seq((5, 4), (1, 1), (3, 7)).foreach { case (k, w) =>
        val diff = df
          .select(
            call_function("graft_winnow_mins", col("t"), lit(k), lit(w)).as("n"),
            treeMins(col("t"), k, w).as("t"))
          .filter(col("n") =!= col("t")).count()
        assert(diff == 0, s"native winnow minimums diverged on $diff rows at k=$k w=$w")
      }
    }
    val nulls = Seq(Option.empty[String]).toDF("t")
      .select(call_function("graft_winnow_mins", col("t"), lit(5), lit(4))).collect()(0)
    assert(nulls.isNullAt(0), "null text must stay null")
  }

  test("every native function resolves by name after register and in a GraftExtensions session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val expected = GraftFunctions.Natives.map { case (name, cls, _) => name -> (cls: Class[_]) }
    // each builder reads at most four arguments; nulls cast to any type
    def resolved(s: SparkSession): Seq[(String, Class[_])] = expected.map { case (name, _) =>
      name -> s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(name))
        .map(b => b(Seq.fill(4)(Literal(null))).getClass: Class[_]).orNull
    }
    val plain = spark.newSession()
    assert(resolved(plain).forall(_._2 == null), "a new session starts without the natives")
    GraftFunctions.register(plain)
    assert(resolved(plain) == expected)

    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    val ext = try {
      // create() starts a new session on the running SparkContext
      SparkSession.builder().withExtensions(new graft.functions.GraftExtensions).create()
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
    assert(resolved(ext) == expected)
    val q = "SELECT graft_solar_position(TIMESTAMP'2024-03-11 20:00:00', 37.5, -122.0).el AS el"
    assert(ext.sql(q).head().getDouble(0) == plain.sql(q).head().getDouble(0))
  }

  test("graft_solar_position equals the frozen ephemeris column chain bit for bit, interpreted and codegen") {
    import java.lang.Double.doubleToRawLongBits
    GraftFunctions.register(spark)
    // year boundaries (1999/2000, 2023/2024, 2024/2025), a leap day and
    // its neighbours, both solstices, a non-leap century year, and days
    // before 1900, where the day count is negative (`floor` of a
    // negative quotient, `pmod` of a negative mean anomaly). Each
    // day is sampled every 7 min 13 s (non-zero seconds) for 24 h, so the
    // local sidereal time sweeps [0°, 360°): the hour angle runs
    // negative and positive and takes both sides of the |ha0| > 180°
    // wrap, and the elevation crosses the horizon band around −0.83°.
    val days = Seq("1850-06-21", "1899-12-31", "1999-12-31", "2000-01-01", "2023-12-31",
      "2024-01-01", "2024-02-28", "2024-02-29", "2024-03-01", "2024-06-21", "2024-12-21",
      "2024-12-31", "2100-03-01")
    val dayMicros = days.map(d =>
      java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L)
    val perDay = 200
    // a range, not a local relation, so no optimizer rule evaluates the
    // projections ahead of the mode under test
    val stamps = spark.range(days.length * perDay).select(timestamp_micros(
      element_at(typedLit(dayMicros), (col("id") / perDay).cast("int") + 1) +
        (col("id") % perDay) * lit(433L * 1000000L)).as("ts"))
    val sites = Seq((37.5, -122.0), (-33.9, 151.2), (64.8, -147.7), (-54.8, -68.3), (0.0, 0.0))
    val modes = Seq(
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    val zones = Seq("UTC", "Australia/Adelaide")
    for ((mode, confs) <- modes; zone <- zones) {
      val all = (confs :+ ("spark.sql.session.timeZone" -> zone)).toMap
      val saved = all.keys.map(k => k -> spark.conf.getOption(k)).toMap
      all.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val rows = sites.flatMap { case (lat, lon) =>
          EphemerisChain.withEphemerisPosition(
              stamps.withColumn("p", Solar.ephemerisPosition(col("ts"), lat, lon)),
              col("ts"), lat, lon, "el", "az")
            .select(col("p.el"), col("p.az"), col("el"), col("az"))
            .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        }
        assert(rows.length == sites.length * days.length * perDay)
        val off = rows.filter { case (ne, na, ce, ca) =>
          doubleToRawLongBits(ne) != doubleToRawLongBits(ce) ||
            doubleToRawLongBits(na) != doubleToRawLongBits(ca)
        }
        assert(off.length == 0, s"$mode/$zone: rows differ, first ${off.headOption}")
        assert(rows.exists(_._2 < 180.0) && rows.exists(_._2 > 180.0), "both azimuth halves")
        assert(rows.count(r => math.abs(r._1 + 0.83) < 0.5) > 10, "horizon band")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val nulls = spark.range(1)
      .select(Solar.ephemerisPosition(lit(null).cast("timestamp"), 37.5, -122.0).as("p"))
      .head()
    assert(nulls.isNullAt(0), "a null stamp gives a null struct")
  }
}
