package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The result canonicalisation `graft.Verify` uses for
  * `bench/verify_snapshots/<sf>/HASHES.tsv`: columns sorted by name,
  * each cell as exact text (doubles and floats as hexadecimal
  * literals, containers recursed), one tab-joined line per row, lines
  * sorted, SHA-256 over `line + "\n"`. `Verify.fmt` is private, so the
  * rules are restated here; `SelfTest` checks them against hashes
  * `Verify` wrote.
  */
object Canon {

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => java.lang.Double.toHexString(d)
    case f: java.lang.Float => java.lang.Float.toHexString(f)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => cell(k) + ":" + cell(x) }.toSeq.sorted.mkString("<", ",", ">")
    case other => other.toString
  }

  /** Sorted canonical lines of already-collected rows. */
  def lines(rows: Seq[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("\t")).sorted

  def sha256(lines: Seq[String]): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => digest.update((l + "\n").getBytes("UTF-8")))
    digest.digest().map("%02x".format(_)).mkString
  }

  /** (row count, hash) of a frame, collected with its columns sorted by name. */
  def hash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val ls = lines(df.select(cols.map(col(_)).toIndexedSeq: _*).collect().toSeq)
    (ls.length.toLong, sha256(ls))
  }

  /** `HASHES.tsv` as name → (row count, hash); `#` lines are comments. */
  def readHashes(path: java.nio.file.Path): Map[String, (Long, String)] =
    java.nio.file.Files.readAllLines(path).toArray(Array.empty[String]).iterator
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val Array(name, n, hex) = l.split("\t")
        name -> (n.toLong, hex)
      }.toMap
}
