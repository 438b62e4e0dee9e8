package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** Counter-based randomness: every value is a pure function of
  * (seed, stream, index), so generation parallelizes and reruns are
  * bit-identical.
  */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) + stream) + i)
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(at(seed, stream, i), n.toLong).toInt
}

/** One load export (the `load` workload's input) plus the values a
  * correct load must reproduce, derived here without the engine: the
  * loader's transform rules re-stated in plain Scala and the shard
  * code through Guava's murmur3_128.
  */
final case class Export(dir: String, rows: Long, bytes: Long, files: Int,
    shardRows: Seq[Long], checksum: Long)

object Export {
  val Excluded: Seq[Int] = Seq(0, 9, 10, 13, 14, 15, 16, 17, 18)
  val Dt = "2026-08-01"
  val Weights: Seq[Int] = Seq(1, 2, 1)
  /** Target columns: the 13 kept source fields (named by source
    * position, as the text reader names them) + the hive partition
    * + dt — the quick-start fixture's 22 → 13 (+2) bridge.
    */
  val TargetDdl: String = "c1 INT, c2 INT, c3 STRING, c4 INT, c5 INT, c6 BIGINT, " +
    "c7 BIGINT, c8 STRING, c11 STRING, c12 STRING, c19 STRING, c20 INT, c21 STRING, " +
    "pt STRING, dt STRING"
  val ShardKey = "c21"
  private val StringFields = Set(3, 8, 11, 12, 19, 21)
  private val Pts = Array("ios", "android", "pc")
  private val Actions = Array("click", "play", "search", "a\\b")
  private val Cjk = Array("网络汇总", "版本汇总", "搜索", "关键字搜索", "弹幕", "歌单", "电台")

  private val murmur = com.google.common.hash.Hashing.murmur3_128()

  /** Order-independent digest term of one delivered wire row. */
  def rowDigest(wire: String): Long = murmur.hashString(wire, UTF_8).asLong()

  def shardOf(key: String): Int = {
    val code = murmur.hashUnencodedChars(key).asInt() & Int.MaxValue
    val idx = code % Weights.sum
    Weights.scanLeft(0)(_ + _).tail.indexWhere(idx < _)
  }

  private def field(seed: Long, i: Long, f: Int): String = {
    def r(n: Int) = Rng.below(seed, 200 + f, i, n)
    val nullish = Rng.below(seed, 300 + f, i, 100)
    if (f != 0 && nullish == 0) "\\N"
    else if (StringFields(f) && nullish == 1) "NULL"
    else f match {
      case 0 => s"2017-04-${10 + r(20)}"
      case 1 | 5 | 20 => r(10).toString
      case 2 => (1000 + r(9000)).toString
      case 3 => f"86${Rng.at(seed, 203, i) & 0xFFFFFFFFFFFL}%013d"
      case 4 | 9 | 10 | 15 | 16 | 17 | 18 => r(100000).toString
      case 6 | 7 => (Rng.at(seed, 200 + f, i) >>> 20).toString
      case 8 => f"2017-04-16 ${r(24)}%02d:${r(60)}%02d:${r(60)}%02d"
      case 11 | 13 => Cjk(r(Cjk.length)) + (if (r(7) == 0) "\t" + Cjk(r(3)) else "")
      case 12 => Cjk(r(Cjk.length)) + (if (r(5) == 0) "\\" else "") // `\|` in the raw line
      case 14 => Actions(r(4))
      case 19 => s"2017-04-${10 + r(20)}"
      case 21 => if (r(50) == 0) "" else s"did${r(40000)}" // trailing empty field
    }
  }

  /** The wire row the loader must emit for one source line. */
  private def wire(fields: Array[String], pt: String): String = {
    val kept = fields.indices.filterNot(Excluded.contains).map { f =>
      val v = fields(f)
      if (v == "\\N") (if (StringFields(f)) "" else "0")
      else v.replace('\t', ' ').replace('\\', '/')
    }
    (kept :+ pt :+ Dt).mkString("\t")
  }

  /** What one written file contributes to the export's expected values. */
  private final case class Part(bytes: Long, shardRows: Array[Long], checksum: Long)

  /** Writes rows `i0 until i0 + n` as one file of partition `p`. */
  private def emit(dir: Path, seed: Long, p: Int, name: String, i0: Long, n: Long): Part = {
    val shardRows = Array.fill(Weights.size)(0L)
    var checksum = 0L
    var bytes = 0L
    val pdir = dir.resolve(s"pt=${Pts(p)}")
    Files.createDirectories(pdir)
    val w = Files.newBufferedWriter(pdir.resolve(name), UTF_8)
    try {
      var i = i0
      while (i < i0 + n) {
        val fs = Array.tabulate(22)(f => field(seed, i, f))
        val line = fs.mkString("|")
        w.write(line); w.write('\n')
        bytes += line.getBytes(UTF_8).length + 1
        val key = { val v = fs(21); if (v == "\\N") "" else v.replace('\t', ' ').replace('\\', '/') }
        shardRows(shardOf(key)) += 1
        checksum += rowDigest(wire(fs, Pts(p)))
        i += 1
      }
    } finally w.close()
    Part(bytes, shardRows, checksum)
  }

  /** Writes `rows` lines under `dir/pt=<p>/`: per partition one large
    * file with ~¼ of all rows, the rest spread over many small files.
    * Files are written concurrently; row `i`'s content depends only on
    * (seed, i), so the export is the same however the writes interleave.
    */
  def write(dir: Path, seed: Long, rows: Long, smallFilesPerPt: Int = 15): Export = {
    val large = rows / 4
    val rest = rows - large * Pts.length
    val smallTotal = Pts.length * smallFilesPerPt
    // (partition, file name, rows) in row order
    val plan = Pts.indices.map(p => (p, "part-00000.txt", large)) ++
      (0 until smallTotal).map { s =>
        (s % Pts.length, f"part-${s / Pts.length + 1}%05d.txt",
          rest / smallTotal + (if (s < rest % smallTotal) 1L else 0L))
      }
    val starts = plan.scanLeft(0L)(_ + _._3)
    val parts = Await.result(Future.sequence(plan.zip(starts).map { case ((p, name, n), i0) =>
      Future(emit(dir, seed, p, name, i0, n))
    }), Duration.Inf)
    Export(dir.toString, rows, parts.map(_.bytes).sum, plan.length,
      Weights.indices.map(k => parts.map(_.shardRows(k)).sum), parts.map(_.checksum).sum)
  }
}
