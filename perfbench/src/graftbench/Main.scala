package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one workload run needs. `checks` counts output checks
  * (attempted / failed) for the result line's `failed_ratio`.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val tiny: Boolean, val goldens: Goldens) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 20) problems += what }
    ok
  }
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** One timed window: per-operation wall times, their median and tail
  * as the workload defines them, the items the operations moved, the
  * window's wall time, and the workload's own named figures.
  */
final case class Window(ops: Seq[Double], p50: Double, tail: Double, items: Double,
    wall: Double, named: Map[String, Double])

object Window {
  /** Median and `tailP` quantile over all operations alike. */
  def pooled(ops: Seq[Double], tailP: Double, items: Double, wall: Double,
      named: Map[String, Double] = Map.empty): Window =
    Window(ops, Stats.median(ops), Stats.quantile(ops, tailP), items, wall, named)
}

trait Workload {
  /** Inputs that do not depend on the seed; generated once. */
  def fixedInputs(): Unit = ()
  /** Seeded input generation; called several times to time it. */
  def generate(): Unit
  /** Warm-up, including the output checks that need a full result. */
  def warmUp(): Unit
  /** Timed operations until `seconds` have passed (whole units only). */
  def window(seconds: Double): Window
  /** Percentile reported as `op_tail_s`. */
  def tailP: Double
  /** Per-layer metrics this workload's traced run must report, beyond
    * the Spark, kernel and tracing ones every workload reports.
    */
  def layerMetrics: Seq[String]
  /** Traced run: a timed window with counters attached and spans on,
    * then the layer probes. Returns the layer metrics and the window.
    */
  def layers(seconds: Double, counters: Counters): (Map[String, Double], Window)
}

object Workload {
  /** Runs `f` over `items` on four threads (warm-ups only). */
  def concurrently[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val all = items.map(i => scala.concurrent.Future(f(i))(ec))
      all.foreach(fu => scala.concurrent.Await.result(fu, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** Runs `op` (which returns its own wall time) until `seconds` have
    * passed, at least once. Returns the op times and the window's wall.
    */
  def loop(seconds: Double)(op: => Double): (Seq[Double], Double) = {
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer[Double]()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) ops += op
    (ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def endToEnd(w: Window): Map[String, Double] = Map(
    "op_p50_s" -> w.p50, "op_tail_s" -> w.tail, "items_per_s" -> w.items / w.wall)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val tiny = arg(args, "--scale").contains("tiny")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required")))
      .toAbsolutePath
    val out = Paths.get(arg(args, "--out").getOrElse(work.resolve("result.json").toString))
    val record = args.contains("--record")
    val goldensPath = Paths.get(arg(args, "--goldens").getOrElse("perfbench/goldens.tsv"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    Io.rmTree(work)
    Files.createDirectories(work)
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val goldens = new Goldens(goldensPath, if (tiny) "tiny" else "bench", workload, record)
    val ctx = new Ctx(spark, work, seed, tiny, goldens)
    val w: Workload = workload match {
      case "load" => new LoadWorkload(ctx)
      case "index_stream" => new IndexStreamWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up = session start + fixed inputs + median of three seeded
    // generations + warm-up
    val fixedS = Stats.time(w.fixedInputs())._2
    val genS = Stats.median((1 to 3).map(_ => Stats.time(w.generate())._2))
    val warmS = Stats.time(w.warmUp())._2
    val setupS = sessionS + fixedS + genS + warmS

    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!traced) {
      val steal0 = Io.cpuSteal()
      val (win, windowS) = Stats.time(w.window(seconds))
      val steal1 = Io.cpuSteal()
      metrics ++= endToEnd(win)
      metrics("setup_s") = setupS
      metrics("peak_rss_mb") = Io.peakRssMb()
      summary(workload, win, w.tailP, setupS, ctx)
      println(f"[perfbench] setup: session $sessionS%.2f s, fixed inputs $fixedS%.2f s, " +
        f"seeded generation (median of 3) $genS%.2f s, " +
        f"warm-up $warmS%.2f s; checks after the window ${windowS - win.wall}%.2f s; " +
        f"CPU steal while measuring " +
        f"${100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)}%.1f%%")
    } else {
      // traced run: half the budget untraced, half traced, so tracing
      // overhead reads as the delta of the same end-to-end metrics
      val plain = endToEnd(w.window(seconds / 2))
      val counters = Counters.attach(spark)
      Spans.on = true
      val (lay, traceWin) = w.layers(seconds / 2, counters)
      Spans.on = false
      Counters.detach(spark, counters)
      val withTrace = endToEnd(traceWin)
      metrics ++= lay
      metrics ++= traceWin.named
      plain.foreach { case (k, v) =>
        val name = if (k.endsWith("_per_s")) k else k.stripSuffix("_s")
        metrics(s"trace.overhead_$name") = withTrace(k) / v - 1.0
      }
      Spans.selfSecondsByLayer.foreach { case (layer, s) =>
        metrics(s"trace.self_${layer}_s") = s
      }
      metrics("trace.spans") = Spans.all.length.toDouble
      val spansPath = work.resolve("spans.jsonl")
      Spans.writeJsonl(spansPath)
      println(s"[perfbench] spans: ${Spans.all.length} written to $spansPath")
    }
    goldens.save()
    ctx.problems.foreach(p => println(s"[perfbench] CHECK FAILED: $p"))
    val owed = if (traced) SharedLayerMetrics ++ w.layerMetrics else EndToEndMetrics
    val missing = owed.filterNot(metrics.contains)
    val nonFinite = metrics.filter { case (_, v) => v.isNaN || v.isInfinite }
    spark.stop()
    println(f"[perfbench] process ends after ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s")
    if (missing.nonEmpty || nonFinite.nonEmpty) {
      System.err.println(s"[perfbench] metrics not measured: ${missing.mkString(", ")}; " +
        s"not finite: ${nonFinite.mkString(", ")}")
      sys.exit(2)
    }
    def list(xs: Iterable[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = metrics.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    Files.writeString(out, s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""owed":${list(owed)},"metrics":$json}""" + "\n")
  }

  val EndToEndMetrics: Seq[String] =
    Seq("setup_s", "peak_rss_mb", "op_p50_s", "op_tail_s", "items_per_s")

  /** Reported by every traced run. */
  val SharedLayerMetrics: Seq[String] = SparkMetrics.names ++ Kernels.names ++ Seq(
    "trace.overhead_op_p50", "trace.overhead_op_tail", "trace.overhead_items_per_s",
    "trace.spans", "trace.self_functions_s")

  private def summary(name: String, w: Window, tailP: Double, setupS: Double, ctx: Ctx): Unit = {
    val p = (tailP * 100).round
    println(f"[perfbench] $name: ${w.ops.length} ops in ${w.wall}%.2f s, tail = p$p, " +
      w.named.map { case (k, v) => f"$k $v%.4f" }.mkString("", ", ", ", ") +
      f"setup $setupS%.2f s, failed_ratio ${ctx.failed.toDouble / math.max(1, ctx.attempted)}%.4f " +
      s"(${ctx.failed}/${ctx.attempted} checks)")
  }
}
