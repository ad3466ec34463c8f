package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables.table` keeps each file's inferred schema on the driver: a
  * warm open starts no Spark job, a rewritten file is inferred again,
  * a missing path keeps Spark's own error, and the cached read returns
  * what an uncached `spark.read.parquet` returns.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  private val dir = "perfbench/data/sf0.01"

  /** Writes `df` as the single parquet file `<d>/<name>.parquet`, the
    * harness layout, replacing any file already there.
    */
  private def writeTable(df: DataFrame, d: Path, name: String): Unit = {
    val out = d.resolve(s"$name.out")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, d.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a warm Tables.table call starts no Spark job") {
    Tables.AllTables.foreach(Tables.table(spark, dir, _)) // cold: infers each schema
    val jobs = JobCounter.during(spark, "Tables.table")(Tables.AllTables.foreach(Tables.table(spark, dir, _))).jobs
    assert(jobs == 0, s"warm opens of ${Tables.AllTables.size} tables started $jobs jobs")
  }

  test("a table file rewritten with another schema is read with the new schema") {
    import spark.implicits._
    val d = Files.createTempDirectory("tables-spec")
    writeTable(Seq(1, 2, 3).toDF("a"), d, "t")
    assert(Tables.table(spark, d.toString, "t").columns.toSeq == Seq("a"))
    writeTable(Seq(("x", 7L)).toDF("b", "c"), d, "t")
    val again = Tables.table(spark, d.toString, "t")
    assert(again.columns.toSeq == Seq("b", "c"), s"stale schema: ${again.schema}")
    assert(rows(again) == Seq("[x,7]"))
    // the new schema replaced the old entry: the next open is warm
    assert(JobCounter.during(spark, "Tables.table")(Tables.table(spark, d.toString, "t")).jobs == 0,
      "the re-inferred schema was not cached")
  }

  test("a missing table path still raises Spark's AnalysisException") {
    val d = Files.createTempDirectory("tables-spec-missing")
    val e = intercept[AnalysisException](Tables.table(spark, d.toString, "absent"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("cached reads of an NTZ table and a nanos table equal an uncached read") {
    // events at sf0.01 stores ts as timestamp[us] isAdjustedToUTC=0 (NTZ)
    val ntzPath = s"$dir/events.parquet"
    // a nanos generation of events: INT64 TIMESTAMP(NANOS), which Spark
    // reads only as long nanos under nanosAsLong
    val d = Files.createTempDirectory("tables-spec-nanos")
    val nanosPath = d.resolve("events.parquet").toString
    val msg = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; optional int64 ts (TIMESTAMP(NANOS,true)); optional double value; }")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new HPath(nanosPath)).withType(msg).withConf(conf).build()
    val groups = new SimpleGroupFactory(msg)
    try (0 until 5).foreach { i =>
      w.write(groups.newGroup().append("user_id", i.toLong)
        .append("ts", 1700000000123456789L + i * 1000000000L).append("value", i * 0.5))
    } finally w.close()

    // the uncached read: Spark's own inference, then the documented
    // conversion of ts to TIMESTAMP (NTZ relabelled, nanos to micros)
    def uncachedTs(raw: DataFrame) = raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(TimestampType)
    }
    Seq(ntzPath, nanosPath).foreach { path =>
      val cachedDir = new java.io.File(path).getParent
      Tables.table(spark, cachedDir, "events") // infers and caches
      val cached = Tables.table(spark, cachedDir, "events")
      val raw = spark.read.parquet(path)
      val uncached = raw.withColumn("ts", uncachedTs(raw))
      assert(cached.schema == uncached.schema, s"$path: ${cached.schema} vs ${uncached.schema}")
      assert(cached.schema("ts").dataType == TimestampType, s"$path: ${cached.schema}")
      assert(rows(cached) == rows(uncached), s"$path: rows differ")
    }
    // nanos → micros, not a long column
    assert(spark.read.parquet(nanosPath).schema("ts").dataType == LongType)
    val first = Tables.table(spark, d.toString, "events").where("user_id = 0")
      .selectExpr("unix_micros(ts)").head().getLong(0)
    assert(first == 1700000000123456L)
  }
}
