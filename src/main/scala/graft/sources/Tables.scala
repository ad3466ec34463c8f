package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness tables (one parquet file per table under an
  * sf directory). Column pruning and predicate pushdown reach the
  * parquet scan because these return plain lazy DataFrames.
  *
  * Opening a table costs no Spark job once its schema is known. Spark's
  * parquet schema inference runs a job to read one footer, so each
  * file's inferred schema is kept on the driver and the file is read
  * through `spark.read.schema(s)`, which plans the same scan:
  *
  *  - The cache key is the file's qualified path. An entry holds the
  *    file's length and modification time (its Hadoop `FileStatus`)
  *    and the session's `spark.sql.legacy.parquet.nanosAsLong`, all of
  *    which the schema depends on.
  *  - Every read stats the file. If any of the three differs from the
  *    entry, the schema is inferred again and REPLACES the path's
  *    entry, so the cache holds at most one schema per path: driver
  *    memory is bounded by the number of distinct table files read,
  *    however often one of them is rewritten.
  *  - A directory (or any non-file path) is read the old way, with
  *    inference on every call: its modification time does not change
  *    when a file beneath it is rewritten, so it cannot key a cache.
  *  - A missing path is read the old way too, so it still fails with
  *    Spark's own `AnalysisException` (`PATH_NOT_FOUND`), which
  *    [[registerViews]] and callers rely on.
  *
  * At cluster scale the same API reads a partitioned directory tree
  * (e.g. `.../events/site=.../date=...`) and Catalyst prunes partitions
  * from the same declarative plans.
  */
object Tables {

  private final case class Inferred(length: Long, modified: Long, nanosAsLong: String, schema: StructType)

  /** Qualified file path → the schema inferred at the entry's file state. */
  private val schemas = new ConcurrentHashMap[String, Inferred]()

  /** `spark.read.parquet(path)`, with a single file's inferred schema
    * served from [[schemas]] while the file is unchanged.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = st.getPath.toString
        val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        val cached = Option(schemas.get(key)).filter(e =>
          e.length == st.getLen && e.modified == st.getModificationTime && e.nanosAsLong == nanos)
        val schema = cached.map(_.schema).getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, Inferred(st.getLen, st.getModificationTime, nanos, inferred))
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** The harness parquet has shipped timestamps as INT64 TIMESTAMP(NANOS)
    * (which Spark's vectorized reader rejects — read as long nanos via
    * `nanosAsLong` and divide to micros) and, in later generations, as
    * `timestamp[us] isAdjustedToUTC=0`, which Spark reads as
    * TIMESTAMP_NTZ. Normalize BOTH to plain TimestampType here so no
    * downstream operator ever sees the writer's type choice: the session
    * zone is pinned to UTC (GraftSession), so `NTZ → TIMESTAMP` is an
    * exact relabeling of the same micros value, and strict functions
    * like `unix_micros` keep working.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftFunctions.ensure(spark) // idempotent; graft_* available everywhere

    val df = readParquet(spark, s"$dir/$name.parquet")
    val tsCols = Map(
      "events" -> Seq("ts"),
      "orders" -> Seq("o_orderdate"),
      "lineitem" -> Seq("l_shipdate")
    ).getOrElse(name, Seq.empty)
    val converted = tsCols.foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) && d.schema(c).dataType == LongType)
        d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      else d
    }
    normalizeNtz(converted)
  }

  /** Cast every TIMESTAMP_NTZ column to TIMESTAMP. Exact under the UTC
    * session zone; a scan-side projection, so pushdown/pruning survive.
    */
  def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType).map(_.name)
    if (ntz.isEmpty) df
    else df.withColumns(ntz.map(c => c -> col(c).cast(TimestampType)).toMap)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  val AllTables: Seq[String] = Seq(
    "lineitem", "orders", "customer", "supplier", "nation", "region",
    "part", "events", "documents", "embeddings"
  )

  /** SQL face: register every harness table as a temp view plus the
    * engine's derived `day_stats` fact view, so the full surface is
    * reachable from `spark.sql(...)` — the views are lazy DataFrames,
    * so pushdown/pruning/broadcasts work identically to the typed API.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    AllTables.foreach { t =>
      try table(spark, dir, t).createOrReplaceTempView(t)
      catch { case scala.util.control.NonFatal(_) => () } // missing optional table
    }
    graft.operators.DayStats
      .qualityFlags(events(spark, dir), "user_id", "ts", "value", 10L)
      .createOrReplaceTempView("day_stats")
    // solver-grade fact view: per site-day clear-sky verdicts from the
    // full envelope operator — lazy like every other view, so a SQL
    // user pays for it only when queried. No catch: events is a
    // MANDATORY table (day_stats above already threw if it is
    // missing), and swallowing a registration error here would leave
    // a prior directory's view silently serving stale rows.
    graft.analyses.ClearDay.detectDefault(spark, events(spark, dir))
      .createOrReplaceTempView("clear_days")
    // the corpus-side derived fact view: per-doc token/quality/lang
    // signals, all scan-side column expressions — SQL users get the
    // curation signals without touching the Scala operators. Same
    // missing-table tolerance as the base loop: a time-series-only
    // directory registers everything else and skips doc_stats.
    import graft.operators.TextOps
    try documents(spark, dir).select(
      col("doc_id"), col("source"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
      round(TextOps.qualityScore(col("text")), 6).as("quality"),
      TextOps.langId(col("text")).as("lang_pred"),
      round(TextOps.dupNgramFrac(col("text"), 2), 6).as("dup_bigram_frac"),
      TextOps.fingerprint(col("text")).as("fp"))
      .createOrReplaceTempView("doc_stats")
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** CSV time-series source in the shape of the reference's data plugs
    * (`sdt_dask/dataplugs/csv_plug.py:23-33`): header row, first column
    * a timestamp, measurement columns float.
    */
  def csvTimeSeries(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  /** JSONL document source — the lingua franca of text-corpus
    * distribution (one JSON object per line). Schema is EXPLICIT, not
    * inferred: at 100 TB an inference pass is a second full scan, and
    * a drifting upstream field silently reshaping the table is worse.
    * Reads PERMISSIVE with a `_corrupt_record` column — a malformed
    * line (truncated upload, stray log line) lands there as raw text
    * with nulls in the data columns instead of failing the job;
    * callers triage with `where(_corrupt_record is [not] null)`.
    */
  def documentsJsonl(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)
    ))
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** ORC sink/source pair — the second columnar format large archives
    * arrive in (Hive-era data lakes are predominantly ORC). Spark's
    * native vectorized ORC reader gives the same pushdown/pruning
    * contract as parquet (`PushedFilters` reach the stripe level), so
    * the engine is format-agnostic at the scan: anything readable
    * through [[table]] can round-trip through ORC with identical
    * downstream plans. Snappy, the cross-ecosystem default codec.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").orc(path)

  /** ORC reader with the same session-setup side effects as [[table]]
    * (native-function registration) so ORC-sourced frames feed every
    * operator identically.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(spark)
    spark.read.orc(path)
  }
}
