package graftbench

import graft.LoaderJob
import graft.catalog.TargetSchema
import graft.config.LoaderConfig
import graft.operators.{Sharding, ShardSpec, TransformStage}
import graft.sinks.{BatchExecutor, LoadReport}
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The benchmark's sink: acknowledges every batch and folds what it
  * received into accumulators — rows, an order-independent digest of
  * the wire rows, batches, attempts, and time spent inside `execute`.
  */
final class CheckingExecutor(val rows: LongAccumulator, val digest: LongAccumulator,
    val batches: LongAccumulator, val attempts: LongAccumulator,
    val busyNs: LongAccumulator) extends BatchExecutor {
  override def execute(target: String, batch: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    attempts.add(1)
    var d = 0L
    batch.foreach(r => d += Export.rowDigest(r))
    digest.add(d)
    rows.add(batch.size.toLong)
    batches.add(1)
    busyNs.add(System.nanoTime() - t0)
  }
  def reset(): Unit = Seq(rows, digest, batches, attempts, busyNs).foreach(_.reset())
}

/** `load`: repeated direct loads of a seeded pipe-delimited export. */
final class LoadWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rows = if (ctx.tiny) 3000L else 100000L
  private val dir = ctx.work.resolve("export")
  private var export: Export = _
  private val target = TargetSchema.fromDDL(Export.TargetDdl, Some(Export.ShardKey))
  private val shards = ShardSpec(Export.Weights)
  private val cfg = LoaderConfig(exportDir = s"$dir/pt=*", extractHivePartitions = true,
    excludeFields = Export.Excluded, dt = Export.Dt, table = "bench.t_load",
    batchSize = 5000)
  private val sink = {
    val sc = spark.sparkContext
    new CheckingExecutor(sc.longAccumulator("bench.rows"), sc.longAccumulator("bench.digest"),
      sc.longAccumulator("bench.batches"), sc.longAccumulator("bench.attempts"),
      sc.longAccumulator("bench.busy_ns"))
  }
  val tailP = 0.75
  val layerMetrics: Seq[String] = Seq("sources.read_s", "sources.input_mb", "sources.splits",
    "transform.marginal_s", "sharding.marginal_s", "sinks.marginal_s", "sinks.executor_busy_s",
    "sinks.batches", "sinks.rows_per_batch", "sinks.attempts_per_batch", "load_rows_per_s",
    "trace.self_sources_s", "trace.self_transform_s", "trace.self_sharding_s",
    "trace.self_sinks_s")

  def generate(): Unit = {
    Io.rmTree(dir)
    export = Export.write(dir, ctx.seed, rows)
  }

  /** One checked load; returns its wall time. */
  private def load(): Double = {
    sink.reset()
    val (report, s) = Stats.time(Spans("sinks.LoaderJob.runDirect") {
      LoaderJob.runDirect(spark, cfg, target, shards, sink)
    })
    checkLoad(report)
    s
  }

  private def checkLoad(r: LoadReport): Unit = {
    ctx.check(r.failed == 0 && r.success == export.rows,
      s"load report success=${r.success} failed=${r.failed}, expected ${export.rows}")
    ctx.check(sink.rows.value == export.rows && sink.digest.value == export.checksum,
      s"delivered ${sink.rows.value} rows digest ${sink.digest.value}, " +
        s"expected ${export.rows} / ${export.checksum}")
  }

  def warmUp(): Unit = {
    load(); load()
    // per-shard row counts through the planner's own shard column
    val perShard = LoaderJob.plan(spark, cfg, target, shards).groupBy("shard").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ctx.check(export.shardRows.indices.forall(i => perShard.getOrElse(i, 0L) == export.shardRows(i)),
      s"per-shard rows $perShard, expected ${export.shardRows}")
  }

  def window(seconds: Double): Window = {
    val (ops, wall) = Workload.loop(seconds)(load())
    Window.pooled(ops, tailP, export.rows.toDouble * ops.length, wall,
      Map("load_rows_per_s" -> export.rows * ops.length / wall))
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def layers(seconds: Double, c: Counters): (Map[String, Double], Window) = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    // the traced window: per-load Spark counters and sink accumulators
    val before = { Counters.drain(spark); c.snap() }
    c.resetSkew()
    var busy, batches, attempts = 0.0
    val (ops, wall) = Workload.loop(seconds) {
      Spans.beginOp()
      val s = load()
      busy += sink.busyNs.value / 1e9
      batches += sink.batches.value
      attempts += sink.attempts.value
      s
    }
    Counters.drain(spark)
    val d = Counters.diff(before, c.snap())
    val n = ops.length.toDouble
    m ++= SparkMetrics.perOp(d, n, ops.sum, ctx.cores)
    m("sinks.executor_busy_s") = busy / n
    m("sinks.batches") = batches / n
    m("sinks.rows_per_batch") = export.rows * n / batches
    m("sinks.attempts_per_batch") = attempts / batches

    // stage-prefix noop runs: each adds one stage of the load plan
    val hive = TransformStage.hivePartitionKeys(Readers.sampleFilePath(spark, cfg.exportDir))
    def read() = Readers.read(spark, cfg, Some(22))
    def transformed() = TransformStage.transform(TransformStage.excludeFields(
      TransformStage.appendHivePartitions(read(), hive, input_file_name()),
      cfg.excludeFields), cfg, target.stringCols)
    def sharded() = Sharding.partitionByShard(
      Sharding.assign(transformed(), Export.ShardKey, shards), shards, cfg.loaderTaskExecutor)
    def med(f: => Unit) = Stats.median((1 to 3).map(_ => Stats.time(f)._2))
    val r0 = { Counters.drain(spark); c.snap() }
    val readS = med(Spans("sources.Readers.read")(noop(read())))
    val r1 = { Counters.drain(spark); c.snap() }
    val rd = Counters.diff(r0, r1)
    val transformS = med(Spans("transform.TransformStage.transform")(noop(transformed())))
    val shardS = med(Spans("sharding.Sharding.partitionByShard")(noop(sharded())))
    val fullS = med(load())
    m("sources.read_s") = readS
    m("sources.input_mb") = rd("input_b") / 3 / 1e6
    m("sources.splits") = rd("tasks") / 3
    m("transform.marginal_s") = transformS - readS
    m("sharding.marginal_s") = shardS - transformS
    m("sinks.marginal_s") = fullS - shardS
    m ++= Kernels.all(spark)
    (m.toMap, Window.pooled(ops, tailP, export.rows * n, wall,
      Map("load_rows_per_s" -> export.rows * n / wall)))
  }
}
