package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from OUTSIDE the program: a SparkListener for jobs,
  * stages and task metrics, and a QueryExecutionListener for the
  * planning phases of every action (`qe.tracker.phases`). Attached
  * only in traced runs; [[snap]] after draining the listener bus gives
  * totals that include every finished action.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, AtomicLong]()
  private def ctr(k: String) = c.synchronized(c.getOrElseUpdate(k, new AtomicLong))
  private def add(k: String, v: Long) = ctr(k).addAndGet(v)
  Seq("jobs", "stages", "tasks", "failed_tasks", "task_ms", "gc_ms", "spill_b",
    "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms", "input_b", "input_rec",
    "analysis_ms", "optimization_ms", "planning_ms").foreach(ctr)

  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile private var worstSkew = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.reason != Success) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("input_b", m.inputMetrics.bytesRead)
      add("input_rec", m.inputMetrics.recordsRead)
    }
    stageTaskMs.synchronized {
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val ds = stageTaskMs.synchronized(stageTaskMs.remove(e.stageInfo.stageId))
      .getOrElse(mutable.ArrayBuffer()).sorted
    if (ds.length >= 2) {
      val med = math.max(ds(ds.length / 2), 1L)
      worstSkew = math.max(worstSkew, ds.last.toDouble / med)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"${p}_ms", s.durationMs))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** Current totals (call after [[Counters.drain]]). */
  def snap(): Map[String, Double] =
    c.synchronized(c.map { case (k, v) => k -> v.get.toDouble }.toMap) +
      ("skew" -> worstSkew)
  def resetSkew(): Unit = worstSkew = 0.0
}

object Counters {
  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
  def detach(spark: SparkSession, c: Counters): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (if (k == "skew") v else v - a.getOrElse(k, 0.0)) }
}

/** One recorded span: a timed call into a public engine entry point. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the benchmark's own calls into the
  * engine. Off (a single flag test per call) unless a traced run turns
  * it on; written out as JSONL when the run ends. Single-threaded: the
  * workloads call the engine from the main thread only.
  */
object Spans {
  @volatile var on = false
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private var op = 0L

  def beginOp(): Long = { op += 1; op }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = done.toSeq

  /** Self time (duration minus direct children) summed per layer — the
    * span name's first dot-separated component.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = mutable.HashMap[Int, Long]().withDefaultValue(0L)
    done.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = if (done.isEmpty) 0L else done.map(_.startNs).min
    val sb = new StringBuilder
    done.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
