package graft.sources

import graft.config.{InputFormat, LoaderConfig}
import graft.operators.TransformStage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Source readers mirroring the reference's input surface (SURVEY.md
  * §2.A #1-#4): delimited text (with small-file packing) and ORC
  * (with the stringly "parity mode" flattening), plus parquet for the
  * harness tables.
  *
  * Small-file combining: the reference packs text files into ≤256 MiB
  * splits by their real bytes (`CombineTextInputFormat`,
  * ClickhouseHdfsLoader.java:161). Spark's equivalent knobs are
  * `spark.sql.files.maxPartitionBytes` + `spark.sql.files.openCostInBytes`,
  * and Spark reads them from the session conf when an action plans its
  * scan, not when the frame is built. [[splitScope]] sets them around a
  * load's own actions and restores them after, so a load never changes
  * the split sizing of later, unrelated queries in the same session.
  */
object Readers {

  /** Delimited text → typed-by-position string columns c0..cN.
    * Reads as raw lines + split (limit -1 keeps trailing empties —
    * `TextRecordDecoder.java:31-46` semantics), NOT the csv reader:
    * the reference does no quoting/escaping, so csv quote handling
    * would silently alter rows. Building the frame changes no session
    * setting; its scan is split by the session conf of the action that
    * runs it (a load's [[splitScope]]). The max-arity inference scan
    * below, an action of its own, runs inside the scope.
    */
  def readText(spark: SparkSession, cfg: LoaderConfig,
      numFields: Option[Int] = None): DataFrame = {
    val lines = spark.read.text(cfg.exportDir)
    val fields = TransformStage.tokenize(col("value"), cfg.fieldsTerminatedBy)
    // column count: explicit (from the catalog — TargetSchema — in a
    // real load) or inferred as the MAX arity over the data. Sampling
    // one arbitrary line would silently truncate wider rows AND make
    // the schema depend on file listing order; max-arity is
    // deterministic, and narrower rows surface as nulls for the arity
    // validation (op #10) instead of disappearing.
    val n = numFields.getOrElse(splitScope(spark, cfg)(
      lines.select(max(size(fields))).collect()
        .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
        .getOrElse(0)))
    // get() (not getItem): rows narrower than the declared arity yield
    // nulls for the arity validation (op #10) instead of an ANSI
    // out-of-bounds error killing the whole load
    lines.select((0 until n).map(i => get(fields, lit(i)).as(s"c$i")): _*)
  }

  /** One concrete input path under `pattern` (globs resolved, then
    * directories walked to the first file, smallest path name first
    * for determinism) — the sample the hive-partition auto-discovery
    * reads its key set from. Falls back to the pattern itself when
    * nothing matches.
    */
  def sampleFilePath(spark: SparkSession, pattern: String): String = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstFile(q: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(q)
      if (st.isFile) Some(q)
      else {
        val children = fs.listStatus(q).sortBy(_.getPath.getName)
        children.iterator.flatMap(c => firstFile(c.getPath)).nextOption()
      }
    }
    val globbed = Option(fs.globStatus(p)).getOrElse(Array.empty)
    globbed.map(_.getPath).sortBy(_.toString).headOption
      .flatMap(firstFile)
      .map(_.toString)
      .getOrElse(pattern)
  }

  /** ORC scan; `parityMode` reproduces the reference's
    * `OrcStruct.getFieldValue(i).toString` flattening
    * (`OrcRecordDecoder.java:27-45`) by casting every column to
    * string. Typed mode returns the native vectorized-read schema.
    */
  def readOrc(spark: SparkSession, path: String, parityMode: Boolean = false): DataFrame = {
    val df = spark.read.orc(path)
    if (parityMode)
      df.select(df.columns.map(c => col(c).cast(StringType).as(c)).toIndexedSeq: _*)
    else df
  }

  /** Parquet with optional explicit schema (arity enforcement at scan). */
  def readParquet(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  /** Route on configured input format. `numFields` (known from the
    * target catalog) skips text max-arity inference — without it the
    * text path pays a full extra scan of the input.
    */
  def read(spark: SparkSession, cfg: LoaderConfig,
      numFields: Option[Int] = None): DataFrame = cfg.inputFormat match {
    case InputFormat.Text    => readText(spark, cfg, numFields)
    case InputFormat.Orc     => readOrc(spark, cfg.exportDir, parityMode = true)
    case InputFormat.Parquet => readParquet(spark, cfg.exportDir)
  }

  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"
  private val OpenCostInBytes = "spark.sql.files.openCostInBytes"

  /** Per-file open cost inside [[splitScope]]: about 0, so files pack
    * by their real bytes and splits come out at about input / cores
    * (capped by `--input-split-max-bytes`). Not exactly 0: an input of
    * fewer bytes than cores would then get a split size of 0, which
    * Spark's file splitter cannot step by ("step cannot be 0").
    */
  val SplitOpenCostBytes: Long = 1L

  /** Runs `body` — the actions of one load — with the load's text split
    * sizing: `maxPartitionBytes` = `cfg.inputSplitMaxBytes` and an
    * open cost of [[SplitOpenCostBytes]]. The session's previous values
    * (or their absence) are restored after, also when `body` throws.
    * The settings are session-wide while `body` runs, so concurrent
    * actions on the same session see them too.
    */
  def splitScope[T](spark: SparkSession, cfg: LoaderConfig)(body: => T): T = {
    val set = spark.conf.getAll
    val saved = Seq(MaxPartitionBytes, OpenCostInBytes).map(k => k -> set.get(k))
    spark.conf.set(MaxPartitionBytes, cfg.inputSplitMaxBytes)
    spark.conf.set(OpenCostInBytes, SplitOpenCostBytes)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
