package graftbench

import graft.functions.{Murmur3ShardCode, QDot, TextFunctions}
import graft.operators.{Dedup, Similarity}
import graft.tools.OrganicGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark layer of a traced window, per operation. */
object SparkMetrics {
  val names: Seq[String] = Seq("analysis_ms", "optimization_ms", "planning_ms", "jobs", "stages",
    "tasks", "utilization", "task_busy_s", "gc_s", "spill_mb", "shuffle_write_mb",
    "shuffle_read_mb", "shuffle_fetch_wait_s", "task_skew", "failed_tasks").map("spark." + _)

  def perOp(d: Map[String, Double], n: Double, wallSum: Double, cores: Int): Map[String, Double] =
    Map(
      "spark.analysis_ms" -> d("analysis_ms") / n,
      "spark.optimization_ms" -> d("optimization_ms") / n,
      "spark.planning_ms" -> d("planning_ms") / n,
      "spark.jobs" -> d("jobs") / n,
      "spark.stages" -> d("stages") / n,
      "spark.tasks" -> d("tasks") / n,
      "spark.utilization" -> d("task_ms") / 1000.0 / (wallSum * cores),
      "spark.task_busy_s" -> d("task_ms") / 1000.0 / n,
      "spark.gc_s" -> d("gc_ms") / 1000.0 / n,
      "spark.spill_mb" -> d("spill_b") / 1e6 / n,
      "spark.shuffle_write_mb" -> d("shuffle_write_b") / 1e6 / n,
      "spark.shuffle_read_mb" -> d("shuffle_read_b") / 1e6 / n,
      "spark.shuffle_fetch_wait_s" -> d("fetch_wait_ms") / 1000.0 / n,
      "spark.task_skew" -> d("skew"),
      "spark.failed_tasks" -> d("failed_tasks") / n)
}

/** Hot kernels through their public entry points on fixed inputs,
  * each followed by a `noop` write; best of three per kernel.
  */
object Kernels {
  val names: Seq[String] = Seq("murmur3_ns_per_row", "minhash_ns_per_row", "qdot_ns_per_pair",
    "tokens_ns_per_row").map("functions." + _)

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
  private def best(f: => Unit): Double = (1 to 3).map(_ => Stats.time(f)._2).min

  def all(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    val n = 400000L
    val keys = spark.range(n).select(concat(lit("did"), $"id".cast("string")).as("k"))
      .localCheckpoint()
    val murmur = best(Spans("functions.Murmur3ShardCode.shard_code")(
      noop(keys.select(Murmur3ShardCode.shard_code($"k")))))
    val nDocs = 4000L
    val docs = OrganicGen.documents(spark, nDocs).localCheckpoint()
    val minhash = best(Spans("functions.Dedup.minhashSignatures")(
      noop(Dedup.minhashSignatures(docs, "doc_id", "text", 3, 128))))
    val tokens = best(Spans("functions.TextFunctions.tokens")(
      noop(docs.select(size(TextFunctions.tokens($"text"))))))
    val side = 400L
    val vecs = Similarity.prepare(OrganicGen.vectors(spark, side), "vec_id", "embedding")
      .localCheckpoint()
    val pairs = vecs.select($"qv".as("a")).crossJoin(vecs.select($"qv".as("b"))).localCheckpoint()
    val qdot = best(Spans("functions.QDot.qdot")(noop(pairs.select(QDot.qdot($"a", $"b")))))
    Map(
      "functions.murmur3_ns_per_row" -> murmur * 1e9 / n,
      "functions.minhash_ns_per_row" -> minhash * 1e9 / nDocs,
      "functions.tokens_ns_per_row" -> tokens * 1e9 / nDocs,
      "functions.qdot_ns_per_pair" -> qdot * 1e9 / (side * side))
  }
}
