package graftbench

import scala.collection.mutable

import graft.operators.{Dedup, LangModel, Retrieval, Similarity}
import graft.streaming.StreamingIndex
import graft.tools.OrganicGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `index_stream`: four persisted index families fed by a seeded
  * stream of small micro-batches through their idempotent appliers,
  * one batch re-delivered at a seeded position, each applied batch
  * followed by the family's public probe (materialized).
  */
final class IndexStreamWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  /** Fixed corpus sizes (the sf0.1 documents / embeddings row counts). */
  private val (nDocs, nVecs) = if (ctx.tiny) (500L, 500L) else (5000L, 2000L)
  /** Micro-batches per family. */
  private val nb = 3
  private val corpus = ctx.work.resolve("corpus").toString
  private val stream = ctx.work.resolve("stream").toString
  val families: Seq[String] = Seq("bm25", "ivf", "neardup", "dashboard")
  private val queries = Seq(1L -> "spark window join", 2L -> "dup query scan",
    3L -> "hash table merge sort", 4L -> "vector stream batch")
  val tailP = 0.9
  val layerMetrics: Seq[String] = families.flatMap(f => Seq(s"streaming.apply_${f}_s",
    s"probe.${f}_s")) ++ Seq("streaming.jobs_per_apply", "streaming.noop_ratio",
    "streaming.index_files", "streaming.index_mb", "streaming.bytes_per_input_byte",
    "catalog.events_per_apply", "probe.jobs", "probe.input_mb", "probe.rows_scanned_per_row",
    "queries.build_s", "queries.rows_scanned_per_row", "apply_p50_s", "apply_tail_s",
    "probe_p50_s", "probe_tail_s", "trace.self_streaming_s", "trace.self_probe_s",
    "trace.self_queries_s")
  /** Seconds of `--seconds` per measured cycle. */
  private val CycleSeconds = 30.0

  // the seeded stream: batch `redo` is delivered again right after `after`
  private val after = Rng.below(ctx.seed, 700, 0, nb)
  private val redo = Rng.below(ctx.seed, 701, 0, after + 1)
  val sequence: Seq[Int] = (0 until nb).flatMap(b => if (b == after) Seq(b, redo) else Seq(b))
  private def expectApplied(pos: Int): Boolean = pos != after + 1
  /** The step after which every batch is in the index. */
  private val lastApplied = sequence.indices.filter(expectApplied).last

  private var docBatches: IndexedSeq[DataFrame] = _
  private var vecBatches: IndexedSeq[DataFrame] = _
  private var batchRows: Map[(String, Int), Long] = _
  private var batchBytes: Map[(String, Int), Long] = _
  private var probeDocs: DataFrame = _
  private var probeVecs: DataFrame = _
  private var cycle = 0
  /** Probe digests of the first measured cycle, by (family, step). */
  private val firstDigests = mutable.Map[(String, Int), (Long, Long)]()
  /** Per family: the step `referenceIndex` covers, and the probe of an
    * index built from the same batches delivered at once.
    */
  private val reference = scala.collection.concurrent.TrieMap[String, (Int, (Long, Long))]()

  /** The corpus is the engine's own deterministic generator
    * (`graft.tools.OrganicGen`) and the same for every seed, so final
    * probes can be checked against recorded goldens.
    */
  override def fixedInputs(): Unit = {
    OrganicGen.documents(spark, nDocs).coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents")
    OrganicGen.vectors(spark, nVecs).coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/embeddings")
    spark.read.parquet(s"$corpus/documents").filter($"doc_id" % 50 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$stream/probe_docs")
    Similarity.prepare(spark.read.parquet(s"$corpus/embeddings"), "vec_id", "embedding")
      .filter($"vid" < 20).coalesce(1).write.mode("overwrite").parquet(s"$stream/probe_vecs")
  }

  /** The seeded split of the corpus into micro-batches. */
  def generate(): Unit = {
    val docs = spark.read.parquet(s"$corpus/documents")
    docs.filter($"doc_id" % 10 =!= 0)
      .withColumn("b", pmod(xxhash64($"doc_id", lit(ctx.seed)), lit(nb)))
      .coalesce(1).write.mode("overwrite").partitionBy("b").parquet(s"$stream/docs")
    val vecs = Similarity.prepare(spark.read.parquet(s"$corpus/embeddings"),
      "vec_id", "embedding")
    // the training batch (0) is fixed so the frozen quantizer, and with
    // it every final probe, is the same for all seeds
    vecs.withColumn("b", when($"vid" % 4 === 0, lit(0))
        .otherwise(lit(1) + pmod(xxhash64($"vid", lit(ctx.seed)), lit(nb - 1))))
      .coalesce(1).write.mode("overwrite").partitionBy("b").parquet(s"$stream/vecs")
  }

  private def batchFrames(kind: String): IndexedSeq[DataFrame] = {
    val schema = spark.read.parquet(s"$stream/$kind/b=0").schema
    (0 until nb).map(b => spark.read.schema(schema).parquet(s"$stream/$kind/b=$b"))
  }

  private def prepare(): Unit = {
    docBatches = batchFrames("docs")
    vecBatches = batchFrames("vecs")
    val d = spark.read.parquet(s"$stream/docs").groupBy("b")
      .agg(count(lit(1)), sum(length($"text"))).collect()
    val v = spark.read.parquet(s"$stream/vecs").groupBy("b").count().collect()
    batchRows = (d.map(r => ("docs", r.getInt(0)) -> r.getLong(1)) ++
      v.map(r => ("vecs", r.getInt(0)) -> r.getLong(1))).toMap
    batchBytes = (d.map(r => ("docs", r.getInt(0)) -> r.getLong(2)) ++
      v.map(r => ("vecs", r.getInt(0)) -> r.getLong(1) * 64 * 4)).toMap
    probeDocs = spark.read.parquet(s"$stream/probe_docs").localCheckpoint()
    probeVecs = spark.read.parquet(s"$stream/probe_vecs").localCheckpoint()
  }

  private def kind(f: String) = if (f == "ivf") "vecs" else "docs"
  private def batch(f: String, b: Int) = if (f == "ivf") vecBatches(b) else docBatches(b)

  /** Where family `f` keeps its index in round `tag`. */
  private final class Index(f: String, tag: String) {
    val dir: String = ctx.work.resolve(s"idx/$tag/$f").toString
    val db: String = s"bm25_$tag".replaceAll("[^a-z0-9_]", "_")
    if (f == "bm25") spark.sql(s"CREATE DATABASE $db LOCATION '$dir'")

    def apply(df: DataFrame, id: Long): Boolean = Spans(s"streaming.apply_$f") {
      f match {
        case "bm25" => StreamingIndex.applyBm25Batch(df, "doc_id", "text", db, id)
        case "ivf" => StreamingIndex.applyIvfBatch(df, 64, dir, id)
        case "neardup" => StreamingIndex.applyNearDupBatch(df, "doc_id", "text", dir, id)
        case "dashboard" =>
          StreamingIndex.applyDashboardBatch(df, "text", Seq("doc_id", "n_chars"), dir, id)
      }
    }

    /** The family's probe, materialized: (rows, digest, seconds spent
      * inside the probe function itself — the query build).
      */
    def probe(): (Long, Long, Double) = Spans(s"probe.$f") {
      val (df, build) = Stats.time(Spans("queries.build")(f match {
        case "bm25" => Retrieval.bm25TopKIndexed(spark, db, queries, k = 10)
        case "ivf" => Similarity.ivfProbeIndexed(spark, dir, probeVecs, k = 5)
        case "neardup" => Dedup.nearDupProbeIndexed(spark, dir, probeDocs, "doc_id", "text", 0.8)
        case "dashboard" => LangModel.scoreKnIndexed(spark, dir, probeDocs, "doc_id", "text")
      }))
      val (rows, digest) = ResultHash.of(df)
      (rows, digest, build)
    }

    def drop(): Unit = {
      if (f == "bm25") spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      Io.rmTree(java.nio.file.Paths.get(dir))
    }
  }

  /** Per-step observations of one family round. */
  final case class Step(f: String, applyS: Double, applied: Boolean,
      probeS: Option[Double], probeBuildS: Double, rows: Long)

  /** One family round over the seeded sequence into a fresh index;
    * `hook` runs around each apply and probe (traced runs).
    */
  private def round(f: String, tag: String, hooks: Hooks): Seq[Step] = {
    val idx = new Index(f, tag)
    hooks.startRound()
    try sequence.zipWithIndex.map { case (b, pos) =>
      Spans.beginOp()
      hooks.beforeApply(f)
      val (applied, applyS) = Stats.time(idx.apply(batch(f, b), b.toLong))
      hooks.afterApply(f, idx.dir, batchBytes((kind(f), b)), applied)
      ctx.check(applied == expectApplied(pos),
        s"$f step $pos (batch $b): applied=$applied, expected ${expectApplied(pos)}")
      if (!applied) Step(f, applyS, applied, None, 0.0, 0L)
      else {
        hooks.beforeProbe()
        val ((rows, digest, build), probeS) = Stats.time(idx.probe())
        hooks.afterProbe(f, rows)
        val key = (f, pos)
        if (pos == lastApplied)
          ctx.check(ctx.goldens.check(s"$f.final", rows, digest),
            s"$f final probe: $rows rows digest $digest, golden ${ctx.goldens.expected(s"$f.final")}")
        reference.get(f).filter(_._1 == pos).foreach { case (_, want) =>
          ctx.check(want == (rows, digest),
            s"$f step $pos probe: $rows/$digest, index built at once from the same batches: $want")
        }
        firstDigests.get(key) match {
          case Some(first) => ctx.check(first == (rows, digest),
            s"$f step $pos probe: $rows/$digest differs from the first cycle's $first")
          case None => firstDigests(key) = (rows, digest)
        }
        Step(f, applyS, applied, Some(probeS), build, batchRows((kind(f), b)))
      }
    } finally idx.drop()
  }

  /** Builds, for family `f`, an index from the batches the stream has
    * applied up to its second applied step (the first that appends;
    * which batches those are, and whether the re-delivery comes before
    * it, depend on the seed), delivered at once (for IVF: the training
    * batch, then the rest as one append), and records its probe; the
    * measured rounds check their probe at that step against it.
    */
  private def referenceIndex(f: String): Unit = {
    val pos = sequence.indices.filter(expectApplied)(1)
    val upto = sequence.take(pos + 1).distinct
    val (first, rest) = if (f == "ivf") (Seq(0), upto.filter(_ != 0)) else (upto, Nil)
    val idx = new Index(f, s"ref_$f")
    try {
      def union(bs: Seq[Int]) = bs.map(batch(f, _)).reduce(_ unionByName _)
      idx.apply(union(first), 0L)
      if (rest.nonEmpty) idx.apply(union(rest), 1L)
      val (rows, digest, _) = idx.probe()
      reference(f) = (pos, (rows, digest))
    } finally idx.drop()
  }

  /** The reference index of every family, the families concurrently:
    * it runs each family's build, append and probe paths before timing.
    */
  def warmUp(): Unit = {
    prepare()
    Workload.concurrently(families)(referenceIndex)
  }

  /** A cycle is one round of every family. The cycle count is fixed by
    * `seconds` (one per started `CycleSeconds`), not by the clock, so
    * every run of a configuration measures the same work.
    */
  private def steps(seconds: Double, hooks: Hooks): (Seq[Step], Double) = {
    val cycles = math.max(1, math.ceil(seconds / CycleSeconds).toInt)
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[Step]()
    (1 to cycles).foreach { _ =>
      cycle += 1
      families.foreach(f => out ++= round(f, s"c$cycle", hooks))
    }
    (out.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** An operation is an applier call or a probe. Families differ
    * several-fold in cost, so a pooled median sits on the boundary
    * between two of them and a pooled tail is one or two samples of the
    * slowest; both jump with noise. `op_p50_s` and `op_tail_s` are
    * balanced instead: the mean, over the eight operation kinds (apply
    * and probe of each family), of the kind's median and `tailP`
    * quantile. The apply and probe figures are balanced over families.
    */
  private def summarize(ss: Seq[Step], wall: Double): Window = {
    def balanced(kinds: Seq[Seq[Double]], stat: Seq[Double] => Double) =
      kinds.map(stat).sum / kinds.size
    val applies = families.map(f => ss.filter(_.f == f).map(_.applyS))
    val probes = families.map(f => ss.filter(_.f == f).flatMap(_.probeS))
    val tail = (xs: Seq[Double]) => Stats.quantile(xs, tailP)
    Window(applies.flatten ++ probes.flatten, balanced(applies ++ probes, Stats.median),
      balanced(applies ++ probes, tail), ss.map(_.rows).sum.toDouble, wall,
      Map("apply_p50_s" -> balanced(applies, Stats.median), "apply_tail_s" -> balanced(applies, tail),
        "probe_p50_s" -> balanced(probes, Stats.median), "probe_tail_s" -> balanced(probes, tail)))
  }

  def window(seconds: Double): Window = {
    val (ss, wall) = steps(seconds, Hooks.none)
    summarize(ss, wall)
  }

  def layers(seconds: Double, c: Counters): (Map[String, Double], Window) = {
    val h = new TracedHooks(c)
    val catalog = org.apache.spark.graftbench.Bus.catalogEvents(spark)
    h.catalog = catalog
    val first = { Counters.drain(spark); c.snap() }
    c.resetSkew()
    val (ss, wall) = try steps(seconds, h)
      finally org.apache.spark.graftbench.Bus.removeCatalogEvents(spark, catalog)
    Counters.drain(spark)
    val d = Counters.diff(first, c.snap())
    val n = ss.length.toDouble
    val m = mutable.LinkedHashMap[String, Double]()
    m ++= SparkMetrics.perOp(d, n, ss.map(s => s.applyS + s.probeS.getOrElse(0.0)).sum, ctx.cores)
    families.foreach { f =>
      val mine = ss.filter(_.f == f)
      m(s"streaming.apply_${f}_s") = mine.map(_.applyS).sum / math.max(1, mine.length)
      val ps = mine.flatMap(_.probeS)
      m(s"probe.${f}_s") = ps.sum / math.max(1, ps.length)
    }
    val nProbes = ss.count(_.probeS.isDefined).toDouble
    m("streaming.jobs_per_apply") = h.applyJobs / n
    m("streaming.noop_ratio") = ss.count(!_.applied) / n
    ctx.check(ss.count(!_.applied) * sequence.length == ss.length,
      s"no-op share ${ss.count(!_.applied)}/${ss.length} != 1/${sequence.length}")
    m("streaming.index_files") = h.files / n
    m("streaming.index_mb") = h.bytes / 1e6 / n
    m("streaming.bytes_per_input_byte") = h.bytesPerInput.sum / math.max(1, h.bytesPerInput.length)
    m("catalog.events_per_apply") = h.catalogEvents / math.max(1, ss.count(_.f == "bm25"))
    m("probe.jobs") = h.probeJobs / nProbes
    m("probe.input_mb") = h.probeInputB / 1e6 / nProbes
    m("probe.rows_scanned_per_row") = h.probeRecords / math.max(1.0, h.probeRows)
    // the probes are this workload's queries
    m("queries.build_s") = ss.map(_.probeBuildS).sum / nProbes
    m("queries.rows_scanned_per_row") = m("probe.rows_scanned_per_row")
    m ++= Kernels.all(spark)
    (m.toMap, summarize(ss, wall))
  }

  /** Observation points around applies and probes. */
  private class Hooks {
    def startRound(): Unit = ()
    def beforeApply(f: String): Unit = ()
    def afterApply(f: String, dir: String, inputBytes: Long, applied: Boolean): Unit = ()
    def beforeProbe(): Unit = ()
    def afterProbe(f: String, rows: Long): Unit = ()
  }
  private object Hooks { val none = new Hooks }

  private final class TracedHooks(c: Counters) extends Hooks {
    var catalog: org.apache.spark.graftbench.Bus.CatalogEvents = _
    var applyJobs, files, bytes, catalogEvents = 0.0
    var probeJobs, probeInputB, probeRecords, probeRows = 0.0
    val bytesPerInput = mutable.ArrayBuffer[Double]()
    private var inputSoFar = 0L
    private var mark: Map[String, Double] = Map.empty
    private var catMark = 0L
    private def now() = { Counters.drain(spark); c.snap() }
    override def startRound(): Unit = inputSoFar = 0L
    override def beforeApply(f: String): Unit = { mark = now(); catMark = catalog.count.get }
    override def afterApply(f: String, dir: String, inputBytes: Long, applied: Boolean): Unit = {
      val d = Counters.diff(mark, now())
      applyJobs += d("jobs")
      if (f == "bm25") catalogEvents += catalog.count.get - catMark
      val (n, b) = Io.du(java.nio.file.Paths.get(dir))
      files += n; bytes += b
      if (applied) {
        inputSoFar += inputBytes
        bytesPerInput += b.toDouble / inputSoFar
      }
    }
    override def beforeProbe(): Unit = mark = now()
    override def afterProbe(f: String, rows: Long): Unit = {
      val d = Counters.diff(mark, now())
      probeJobs += d("jobs"); probeInputB += d("input_b"); probeRecords += d("input_rec")
      probeRows += math.max(1L, rows)
    }
  }
}
