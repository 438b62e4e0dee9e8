package graft.operators

import graft.functions.Murmur3ShardCode.shard_code
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weighted hash sharding across target shards (SURVEY.md §2.A ops
  * #11-#12): `shardIndex = (murmur3_128(key).asInt & MaxInt) % Σweights`,
  * then a cumulative-weight walk picks the shard
  * (`AbstractClickhouseLoaderMapper.java:256-287`).
  *
  * The murmur expression is codegen'd ([[graft.functions.Murmur3ShardCode]]),
  * and the weight walk compiles to a nested CASE WHEN over the
  * cumulative bounds — the whole assignment stays inside whole-stage
  * codegen and never shuffles by itself. Downstream co-location with a
  * shard-local sink is then one exchange ([[Sharding.partitionByShard]]).
  */
final case class ShardSpec(weights: Seq[Int]) {
  require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
  val totalWeight: Int = weights.sum
  /** cumulative upper bounds: shard i owns [bounds(i-1), bounds(i)). */
  val bounds: Seq[Int] = weights.scanLeft(0)(_ + _).tail
}

object Sharding {

  /** `(murmur3_128(key).asInt & MaxInt) % totalWeight` — the raw index
    * into the weight space.
    */
  def shardIndex(key: Column, spec: ShardSpec): Column =
    pmod(shard_code(key.cast("string")), lit(spec.totalWeight))

  /** Cumulative-weight walk (`getClusterNodesByShardIndex`,
    * AbstractClickhouseLoaderMapper.java:255-263): map the weight-space
    * index to the shard ordinal.
    */
  def shardId(key: Column, spec: ShardSpec): Column = {
    val idx = shardIndex(key, spec)
    spec.bounds.zipWithIndex.foldRight(lit(spec.weights.size - 1): Column) {
      case ((bound, shard), elseCol) => when(idx < bound, lit(shard)).otherwise(elseCol)
    }
  }

  /** Append a `shard` column. Rows with a null key go through the
    * SAME weighted walk, keyed by a deterministic whole-row hash —
    * unlike the reference's random UUID (`AbstractClickhouseLoaderMapper.java:279`),
    * which (a) ignores shard weights only by luck of the hash and
    * (b) re-rolls on task retry, misplacing rows relative to batches a
    * failed attempt already wrote. A content-derived key is stable
    * across retries and honors the weight distribution.
    */
  def assign(df: DataFrame, keyCol: String, spec: ShardSpec): DataFrame = {
    val surrogate = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("string")
    df.withColumn("shard",
      shardId(coalesce(col(keyCol).cast("string"), surrogate), spec))
  }

  /** Co-locate rows with their shard for a shard-local sink: one
    * shuffle that gives every shard its own `partitionsPerShard`
    * partitions, for write parallelism (the reference's
    * `--loader-task-executor` reducer fan-out, ClickhouseHdfsLoader.java:142-154).
    * The partition id is computed, not hashed: shard `s` owns
    * partitions `s·k until (s+1)·k`, and a row picks one of them by
    * `pmod(xxhash64(wire_row), k)`, so `df` needs a `wire_row` column
    * when k > 1. A hash of the shard id instead would put several
    * shards in one partition and leave others empty, and could never
    * split one shard over `k` partitions.
    */
  def partitionByShard(df: DataFrame, spec: ShardSpec, partitionsPerShard: Int = 1): DataFrame = {
    val k = partitionsPerShard
    require(k >= 1, s"partitionsPerShard must be >= 1, got $k")
    val id =
      if (k == 1) col("shard")
      else col("shard") * k + pmod(xxhash64(col("wire_row")), lit(k.toLong)).cast("int")
    df.repartitionById(spec.weights.size * k, id)
  }
}
