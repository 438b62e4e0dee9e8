package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-independent digest of a result: the wrapping sum of one
  * murmur3 hash per row over a canonical rendering of its values
  * (doubles at 9 significant digits, so a last-ulp difference from
  * partition-order summation does not read as a wrong answer).
  */
object ResultHash {
  private val murmur = com.google.common.hash.Hashing.murmur3_128()

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\\N")
    case d: Double => sb.append(fmt(d))
    case f: Float => sb.append(fmt(f.toDouble))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); render(r.get(i), sb); i += 1 }
      sb.append(')')
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => render(x, sb); sb.append(',') }; sb.append(']')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.map { case (k, x) => val b = new java.lang.StringBuilder; render(k, b)
        b.append(':'); render(x, b); b.toString }.sorted.foreach(e => sb.append(e).append(','))
      sb.append('}')
    case a: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(a))
    case a: Array[_] => render(a.toSeq, sb)
    case other => sb.append(other.toString)
  }
  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  def ofRows(rows: Array[Row]): Long = {
    var h = 0L
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder
      render(r, sb)
      h += murmur.hashString(sb, UTF_8).asLong()
    }
    h
  }
  /** Collects `df` (the materialization) and returns (rows, digest). */
  def of(df: DataFrame): (Long, Long) = {
    val rows = df.collect()
    (rows.length.toLong, ofRows(rows))
  }
}

/** Recorded results: `scale <TAB> workload <TAB> key <TAB> rows <TAB>
  * digest` lines. `record` mode collects new entries and rewrites the
  * file with them replacing same-keyed ones.
  */
final class Goldens(path: Path, scale: String, workload: String, record: Boolean) {
  private val all: Map[(String, String, String), (Long, Long)] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, UTF_8).toArray(Array[String]()).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map { a =>
        (a(0), a(1), a(2)) -> (a(3).toLong, a(4).toLong)
      }.toMap
  private val recorded = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()

  /** True when (rows, digest) matches the golden for `key` (always
    * true while recording).
    */
  def check(key: String, rows: Long, digest: Long): Boolean =
    if (record) { recorded(key) = (rows, digest); true }
    else all.get((scale, workload, key)).contains((rows, digest))

  def expected(key: String): Option[(Long, Long)] = all.get((scale, workload, key))

  def save(): Unit = if (record) {
    val merged = all ++ recorded.map { case (k, v) => (scale, workload, k) -> v }
    val lines = merged.toSeq.sortBy(_._1).map { case ((s, w, k), (r, d)) => s"$s\t$w\t$k\t$r\t$d" }
    Files.writeString(path, ("# scale\tworkload\tkey\trows\tdigest" +: lines).mkString("\n") + "\n")
  }
}

object Io {
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }
  /** (files, bytes) under `p`, Hadoop checksum side-files excluded. */
  def du(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    var (n, b) = (0L, 0L)
    val s = Files.walk(p)
    try s.forEach { q =>
      if (Files.isRegularFile(q) && !q.getFileName.toString.endsWith(".crc")) {
        n += 1; b += Files.size(q)
      }
    } finally s.close()
    (n, b)
  }
  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  def cpuSteal(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }
  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array[String]())
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
