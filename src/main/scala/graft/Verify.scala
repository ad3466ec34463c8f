package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Diagnosability sidecar (the q64 incident: two rounds of
  * driver-environment-only hash failures that no builder/judge re-run
  * could reproduce): every run also leaves a canonical per-query hash
  * table — and, for a watchlist of flake-suspect queries, the full
  * canonical row dump — under `bench/verify_snapshots/<sf>/` INSIDE
  * the repo. The driver's own run therefore persists exactly what its
  * Spark side produced, so the next round can diff a failing
  * environment against a passing one row by row instead of guessing.
  */
object Verify {

  /** Flake-suspect queries whose full canonical rows are dumped. */
  private val Watchlist = Set(
    "q61_latitude_study",
    "q64_latitude_study_filled",
    "q65_longitude_study_filled",
    "q88_latstudy_filled_scale",
    "q89_latstudy_filled_daygrain")

  /** Exact canonical cell text. Doubles/floats use `toHexString`
    * (the hexadecimal floating-point literal, e.g. 0x1.5bf0a8p3): the
    * algorithm is fixed by the Java spec, so two JDK MAJORS render the
    * same bits identically — `Double.toString` is only
    * shortest-roundtrip from JDK 19 (JDK-4511638), and a JDK-17 vs
    * JDK-21 pair would otherwise manufacture exactly the
    * environment-only diff this sidecar exists to rule out. */
  private def fmt(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => java.lang.Double.toHexString(d)
    case f: java.lang.Float => java.lang.Float.toHexString(f)
    // recurse into containers: a double nested in array<double> or a
    // struct would otherwise fall through to toString (shortest-
    // roundtrip — JDK ≥ 19 renders differently from JDK 17) and
    // silently reopen the environment-only hash channel for any
    // future gated query with a nested schema
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => fmt(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v2) => fmt(k) + ":" + fmt(v2) }.toSeq.sorted.mkString("<", ",", ">")
    case other => other.toString
  }

  /** The gate's session on `cpus` local cores: the engine's session
    * ([[GraftSession.local]]) with the gate's own partitioning and the
    * shared filled-grid build.
    */
  private[graft] def session(cpus: String): SparkSession = {
    val spark = GraftSession.local(cpus)
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    // the study-gate family (q50/q64/q65/q66/q88/q89) shares one
    // persisted filled-grid build instead of six identical rebuilds
    spark.conf.set("spark.graft.filledGrid.cache", "true")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional trailing args: run only these queries (dev loop; two
    // args → full run).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
    new java.io.File(outDir).mkdirs()
    val snapDir = Paths.get("bench", "verify_snapshots",
      Paths.get(sfDir).getFileName.toString)
    val hashes = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // canonical hash from the parquet just written (columns sorted
        // by name, cells exact-text, rows sorted — the driver-compare
        // canonicalization), kept cheap by hashing the small dump
        // files rather than re-running the query
        try {
          val back = spark.read.parquet(s"$outDir/$name")
          val cols = back.columns.sorted
          val rows = back.select(cols.map(org.apache.spark.sql.functions.col(_)): _*).collect()
          val lines = rows.map { r =>
            (0 until r.length).map(i => fmt(r.get(i))).mkString("\t")
          }.sorted
          val digest = java.security.MessageDigest.getInstance("SHA-256")
          lines.foreach(l => digest.update((l + "\n").getBytes("UTF-8")))
          val hex = digest.digest().map("%02x".format(_)).mkString
          hashes += s"$name\t${lines.length}\t$hex"
          if (Watchlist(name)) {
            Files.createDirectories(snapDir)
            Files.writeString(snapDir.resolve(s"$name.tsv"),
              cols.mkString("\t") + "\n" + lines.mkString("\n") + "\n")
          }
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name snapshot failed: ${e.getMessage}")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // full-run hash table only (a filtered dev run must not clobber
    // the previous full table)
    if (only.isEmpty) {
      try {
        Files.createDirectories(snapDir)
        // no timestamp: identical results must leave an identical file,
        // so `git status` alone answers "did anything change"
        Files.writeString(snapDir.resolve("HASHES.tsv"),
          s"# graft verify snapshot sfDir=$sfDir cpus=$cpus java=${System.getProperty("java.version")}" +
            s" spark=${org.apache.spark.SPARK_VERSION}\n" +
            hashes.sorted.mkString("\n") + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] hash table write failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
