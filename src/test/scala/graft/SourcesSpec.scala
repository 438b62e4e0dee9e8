package graft

import graft.config.LoaderConfig
import graft.operators.TransformStage
import graft.sources.Readers
import java.nio.file.{Files, Paths}

/** A sink that refuses every batch, so a load fails. */
object RefusingExecutor extends graft.sinks.BatchExecutor {
  override def execute(target: String, batch: Seq[String]): Unit = sys.error("refused")
}

class SourcesSpec extends SparkSpec {

  test("readText decodes pipe-delimited rows incl. the reference's test row") {
    // TextRecordDecoderTest.java:27 fixture line + a trailing-empty-field
    // row (TextLoaderMapperTest.java:26 shape)
    val dir = Files.createTempDirectory("graft-text")
    Files.writeString(Paths.get(dir.toString, "part-0000.txt"),
      "2017-04-16|pc|弹幕|7575|8417|0|0|0|0|0|0|\\N\n" +
        "2017-04-17|h5|x|1|2|3|4|5|6|7|8|\n")
    val cfg = LoaderConfig(exportDir = dir.toString, fieldsTerminatedBy = "|")
    val df = Readers.readText(spark, cfg)
    assert(df.columns.length == 12)
    val rows = df.collect().map(_.toSeq.map(_.asInstanceOf[String]))
    val r1 = rows.find(_.head == "2017-04-16").get
    assert(r1(2) == "弹幕" && r1(11) == "\\N")
    val r2 = rows.find(_.head == "2017-04-17").get
    assert(r2(11) == "", "trailing empty field must be preserved")
  }

  test("text → transform pipeline reproduces reference null/sanitize behavior") {
    val dir = Files.createTempDirectory("graft-text2")
    Files.writeString(Paths.get(dir.toString, "data.txt"),
      "a\\x|\\N|7\n")
    val cfg = LoaderConfig(exportDir = dir.toString, fieldsTerminatedBy = "|")
    val df = Readers.readText(spark, cfg)
    val out = df.select(
      TransformStage.normalizeField(df("c0"), isStringCol = true, cfg),
      TransformStage.normalizeField(df("c1"), isStringCol = false, cfg),
      TransformStage.normalizeField(df("c2"), isStringCol = false, cfg))
      .collect()(0)
    assert(out.getString(0) == "a/x") // backslash sanitized
    assert(out.getString(1) == "0")   // \N null marker → nullNonString
    assert(out.getString(2) == "7")
  }

  test("readOrc parity mode flattens all columns to strings") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/li"
    Tables(spark, sf).lineitem.limit(100).write.mode("overwrite").orc(dir)
    val typed = Readers.readOrc(spark, dir)
    val parity = Readers.readOrc(spark, dir, parityMode = true)
    assert(typed.schema.fields.exists(_.dataType != org.apache.spark.sql.types.StringType))
    assert(parity.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    assert(parity.count() == 100)
    // stringly values match the typed values' string forms
    val t = typed.orderBy("l_orderkey", "l_linenumber").collect()
    val p = parity.orderBy(parity("l_orderkey").cast("long"),
      parity("l_linenumber").cast("int")).collect()
    assert(t.head.getDouble(4).toString == p.head.getString(4))
  }

  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"
  private val OpenCostInBytes = "spark.sql.files.openCostInBytes"

  test("small-file packing conf is applied from LoaderConfig") {
    val cfg = LoaderConfig(inputSplitMaxBytes = 12345678L)
    val inside = Readers.splitScope(spark, cfg)(
      (spark.conf.get(MaxPartitionBytes), spark.conf.get(OpenCostInBytes)))
    assert(inside == ("12345678", Readers.SplitOpenCostBytes.toString))
    // an input of fewer bytes than cores still gets a non-zero split size
    val dir = Files.createTempDirectory("graft-tiny")
    Files.writeString(dir.resolve("f.txt"), "x\n")
    val tiny = cfg.copy(exportDir = dir.toString)
    assert(Readers.splitScope(spark, tiny)(Readers.readText(spark, tiny, Some(1)).count()) == 1)
  }

  /** The session's split settings: the effective values and which
    * `spark.sql.files.*` keys are set at all.
    */
  private def splitConf(): (String, String, Map[String, String]) =
    (spark.conf.get(MaxPartitionBytes), spark.conf.get(OpenCostInBytes),
      spark.conf.getAll.filter(_._1.startsWith("spark.sql.files.")))

  test("split settings do not leak from readText, LoaderJob.plan or runDirect") {
    import graft.catalog.TargetSchema
    import graft.operators.ShardSpec
    import graft.sinks.CollectingExecutor
    val dir = Files.createTempDirectory("graft-leak")
    Files.writeString(dir.resolve("data.txt"), "1|a\n2|b\n")
    val cfg = LoaderConfig(exportDir = dir.toString, table = "leak_t",
      inputSplitMaxBytes = 12345678L)
    val target = TargetSchema.fromDDL("c0 STRING, c1 STRING")
    val before = splitConf()
    def same(step: String): Unit = assert(splitConf() == before, s"after $step")
    Readers.readText(spark, cfg); same("readText (inference scan)")
    Readers.readText(spark, cfg, Some(2)).collect(); same("readText + action")
    LoaderJob.plan(spark, cfg, target, ShardSpec(Seq(1))); same("LoaderJob.plan")
    CollectingExecutor.clear()
    LoaderJob.runDirect(spark, cfg, target, ShardSpec(Seq(1)), CollectingExecutor)
    same("runDirect")
    intercept[IllegalStateException](
      LoaderJob.runDirect(spark, cfg.copy(maxTries = 1), target, ShardSpec(Seq(1)), RefusingExecutor))
    same("a failed runDirect")
    // a value the session set itself comes back, too
    spark.conf.set(OpenCostInBytes, "777")
    try {
      LoaderJob.runDirect(spark, cfg, target, ShardSpec(Seq(1)), CollectingExecutor)
      assert(spark.conf.get(OpenCostInBytes) == "777")
    } finally spark.conf.unset(OpenCostInBytes)
    same("restoring a value the session set")
  }

  test("the load's split scope spreads 3 large + 45 small files over the cores") {
    // the benchmark export's shape, scaled down: per pt directory one
    // large file with a quarter of the rows and 15 small files; the 45
    // small files share the last quarter. Packed with a 4 MiB open
    // cost, one split held the three large files (~80% of the rows).
    val base = Files.createTempDirectory("graft-balance")
    val pts = Seq("ios", "android", "pc")
    val rowsLarge = 2000
    val rowsSmall = rowsLarge / 45
    def lines(from: Int, n: Int) =
      (from until from + n).map(i => s"$i|did$i|2017-04-16 10:00:00|网络汇总|" + "x" * 40)
        .mkString("", "\n", "\n")
    var next = 0
    for (pt <- pts) {
      val d = base.resolve(s"pt=$pt")
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-00000.txt"), lines(next, rowsLarge))
      next += rowsLarge
      for (f <- 1 to 15) {
        Files.writeString(d.resolve(f"part-$f%05d.txt"), lines(next, rowsSmall))
        next += rowsSmall
      }
    }
    val cfg = LoaderConfig(exportDir = s"$base/pt=*")
    val perSplit = Readers.splitScope(spark, cfg) {
      Readers.readText(spark, cfg, Some(5))
        .groupBy(org.apache.spark.sql.functions.spark_partition_id()).count()
        .collect().map(_.getLong(1))
    }
    assert(perSplit.sum == next)
    assert(perSplit.max <= 0.40 * next,
      s"rows per split ${perSplit.sorted.reverse.mkString(",")} of $next")
  }
}
