package graft.perfbench

import org.apache.spark.sql.Row

import graft.{GraftSession, SparkEntry}

/** Tests of the benchmark's own helpers: percentiles, interval unions,
  * span self time, and the result canonicalisation (against hashes
  * `graft.Verify` wrote). `--hashes <HASHES.tsv> --data <sf dir>`;
  * exits non-zero on the first failed check.
  */
object SelfTest {
  private var checks = 0

  private def check(what: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) throw new AssertionError(s"self-test failed: $what")
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap

    // percentiles: linear interpolation between closest ranks
    check("median odd", near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0))
    check("median even", near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    check("p90 of 1..11", near(Stats.percentile((1 to 11).map(_.toDouble), 90), 10.0))
    check("p90 interpolates", near(Stats.percentile(Seq(0.0, 10.0), 90), 9.0))
    check("p0/p100 are the extremes", near(Stats.percentile(Seq(5.0, 7.0, 6.0), 0), 5.0) &&
      near(Stats.percentile(Seq(5.0, 7.0, 6.0), 100), 7.0))
    check("single sample", near(Stats.percentile(Seq(4.0), 90), 4.0))
    check("empty sample is NaN", Stats.median(Nil).isNaN)

    // interval union
    check("union of overlapping and disjoint", Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    check("union ignores empty intervals", Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    check("union of nested", Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100L)

    // self time: a parent's self time excludes its children's covered
    // interval, counted once where children overlap
    val spans = Seq(
      Span(0, -1, "u", "analyses.run", 0L, 1000000000L),
      Span(1, 0, "u", "operators.day_rows", 100000000L, 400000000L),
      Span(2, 0, "u", "operators.capacity", 300000000L, 500000000L),
      Span(3, 1, "u", "solvers.viterbi", 150000000L, 250000000L))
    val self = Trace.selfTime(spans)
    check("parent self time", near(self("analyses"), 0.6))
    check("children self time", near(self("operators"), (0.3 - 0.1) + 0.2))
    check("leaf self time", near(self("solvers"), 0.1))
    val tr = new Tracer(true)
    tr("analyses.run")(tr("operators.day_rows")(()))
    check("tracer nests spans", tr.spans.find(_.name == "operators.day_rows").map(_.parent) ==
      tr.spans.find(_.name == "analyses.run").map(_.id))
    val off = new Tracer(false)
    check("disabled tracer records nothing", { off("analyses.run")(1); off.spans.isEmpty })

    // canonical cells, as Verify renders them
    check("hex double", Canon.cell(java.lang.Double.valueOf(0.1)) == "0x1.999999999999ap-4")
    check("hex float", Canon.cell(java.lang.Float.valueOf(1.5f)) == "0x1.8p0")
    check("null", Canon.cell(null) == "NULL")
    check("nested", Canon.cell(Seq(1.0, null)) == "[0x1.0p0,NULL]")
    check("row", Canon.cell(Row(1L, "a")) == "{1,a}")
    check("map keys sorted", Canon.cell(Map("b" -> 2, "a" -> 1)) == "<a:1,b:2>")
    check("lines sorted", Canon.lines(Seq(Row("b", 1), Row("a", 2))) == Seq("a\t2", "b\t1"))
    check("sha256 of nothing",
      Canon.sha256(Nil) == "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")

    // canonicalisation against Verify's snapshot: cheap entries whose
    // results hold doubles, strings and arrays
    val expected = Canon.readHashes(java.nio.file.Paths.get(kv("hashes")))
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors().toString)
    try {
      Seq("q74_mc_draw_stream", "t02_mixture_weights", "d24_token_chunks").foreach { q =>
        val got = Canon.hash(SparkEntry.queries(q)(spark, kv("data")))
        check(s"$q hash matches Verify's snapshot: $got vs ${expected.get(q)}", expected.get(q).contains(got))
      }
    } finally spark.stop()
    println(s"self-test: $checks checks passed")
  }
}
