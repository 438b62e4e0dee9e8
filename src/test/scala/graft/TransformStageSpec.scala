package graft

import graft.config.{LoaderConfig, WireFormat}
import graft.operators.{Sharding, ShardSpec, TransformStage}
import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TransformStageSpec extends SparkSpec {
  import TransformStage._

  private val cfg = LoaderConfig()

  private def one(c: Column): String = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).collect()(0).getString(0)
  }

  test("null and \\N normalize to type-aware replacements (escapeNull=true)") {
    assert(one(normalizeField(lit(null).cast("string"), isStringCol = true, cfg)) == "")
    assert(one(normalizeField(lit(null).cast("string"), isStringCol = false, cfg)) == "0")
    assert(one(normalizeField(lit("\\N"), isStringCol = true, cfg)) == "")
    assert(one(normalizeField(lit("\\N"), isStringCol = false, cfg)) == "0")
  }

  test("escapeNull=false emits literal \\N") {
    val c2 = cfg.copy(escapeNull = false)
    assert(one(normalizeField(lit(null).cast("string"), isStringCol = true, c2)) == "\\N")
    assert(one(normalizeField(lit(null).cast("string"), isStringCol = false, c2)) == "\\N")
  }

  test("sanitization: backslash→slash and separator→replaceChar, non-null only") {
    assert(one(normalizeField(lit("a\\b"), isStringCol = true, cfg)) == "a/b")
    assert(one(normalizeField(lit("a\tb"), isStringCol = true, cfg)) == "a b")
    // the reference's own unit-test row (TextRecordDecoderTest.java:27)
    assert(one(normalizeField(lit("弹\t幕\\"), isStringCol = true, cfg)) == "弹 幕/")

    // parity with the translate / regexp_replace paths sanitize used to
    // take, and with the plain cascade, over both wire separators
    def oldSanitize(c: Column, cf: LoaderConfig): Column = {
      val sep = cf.clickhouseFormat.separator
      if (sep.length == 1 && cf.replaceChar.length == 1)
        translate(c, sep + "\\", cf.replaceChar.replace('\\', '/') + "/")
      else
        regexp_replace(regexp_replace(c, Pattern.quote(sep),
          java.util.regex.Matcher.quoteReplacement(cf.replaceChar)), "\\\\", "/")
    }
    import spark.implicits._
    val values = Seq("a\tb", "a,b", "a\\b", "\t\\\t", ",\\,", "x\\\\y", "弹\t幕\\", "网,络",
      "\uD83D\uDE00\t\uD83D\uDE00\\", "\uD83D\uDE00,", "", "\t", "\\")
    for {
      fmt <- Seq(WireFormat.TabSeparated, WireFormat.CSV)
      repl <- Seq(" ", "\\", "/", "<\\>", "网", "\uD83D\uDE00", "")
    } {
      val cf = cfg.copy(clickhouseFormat = fmt, replaceChar = repl)
      val got = values.toDF("v").select(sanitize($"v", cf), oldSanitize($"v", cf)).collect()
      values.zip(got).foreach { case (v, r) =>
        val expected = v.replace(fmt.separator, repl).replace("\\", "/")
        assert(r.getString(0) == expected && r.getString(1) == expected,
          s"sanitize(${fmt.name}, replaceChar '$repl') of '$v': new '${r.getString(0)}', " +
            s"old '${r.getString(1)}', expected '$expected'")
      }
    }
  }

  test("tokenize keeps trailing empty fields (TextRecordDecoder semantics)") {
    import spark.implicits._
    // TextLoaderMapperTest.java:26 row shape: trailing | → empty last field
    val fields = Seq("a|b||d|").toDF("line")
      .select(tokenize(col("line"), "|").as("f"))
      .collect()(0).getSeq[String](0)
    assert(fields == Seq("a", "b", "", "d", ""))

    // every separator splits exactly like its Pattern.quote form, and a
    // single character takes String.split's no-regex form
    for (sep <- Seq("|", ",", "\t", ".", "$", "^", "\\", "a", "网", "||", "::")) {
      val lines = Seq(s"x${sep}y$sep${sep}z$sep", "", sep, sep * 3, "plain", s"弹${sep.head}幕",
        s"${sep.head}a$sep$sep")
      val got = lines.toDF("line")
        .select(tokenize(col("line"), sep), split(col("line"), Pattern.quote(sep), -1))
        .collect()
      lines.zip(got).foreach { case (l, r) =>
        val expected = l.split(Pattern.quote(sep), -1).toSeq
        assert(r.getSeq[String](0) == expected && r.getSeq[String](1) == expected,
          s"sep '$sep' line '$l': ${r.getSeq[String](0)} vs $expected")
      }
      if (sep.length == 1) assert(splitRegex(sep).length <= 2, s"sep '$sep' → ${splitRegex(sep)}")
    }
  }

  test("excludeFields drops by 0-based position and keeps order") {
    val li = Tables(spark, sf).lineitem
    val out = excludeFields(li, Seq(0, 10))
    assert(out.columns.toSeq == Seq("l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus"))
  }

  test("transform emits wire rows with dt and additional cols appended") {
    val c = LoaderConfig(dt = "2017-01-07", additionalCols = Seq("x"))
    val df = Tables(spark, sf).lineitem.limit(3)
    val out = transform(excludeFields(df, Seq(0, 10)), c,
      stringCols = Set("l_returnflag", "l_linestatus", "dt", "additional_0"))
    val row = out.select("wire_row").collect()(0).getString(0)
    val fields = row.split("\t", -1)
    assert(fields.length == 11)
    assert(fields(9) == "2017-01-07" && fields(10) == "x")
  }

  test("weighted sharding covers all shards proportionally-ish") {
    val spec = ShardSpec(Seq(1, 2, 1))
    val counts = Sharding.assign(Tables(spark, sf).customer, "c_name", spec)
      .groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0, 1, 2))
    // shard 1 has weight 2 of 4 → roughly half the rows
    assert(counts(1) > counts(0) && counts(1) > counts(2))
    assert(counts.values.sum == 150)
  }

  test("quarantine split keeps loading and tags rejects with the reason") {
    import spark.implicits._
    val lines = Seq("1|a|x", "2|b", "3|c|y", "4|d|e|f", "5|e|z").toDF("value")
    val fields = split($"value", "\\|", -1)
    val (valid, rejected) =
      TransformStage.quarantineByArity(lines, fields, expected = 3)
    assert(valid.count() == 3)
    val rej = rejected.select($"value", $"reject_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rej.keySet == Set("2|b", "4|d|e|f"))
    assert(rej("2|b") == "arity 2 != expected 3")
    assert(rej("4|d|e|f") == "arity 4 != expected 3")
    // conservation: nothing dropped, nothing duplicated
    assert(valid.count() + rejected.count() == lines.count())
  }

  test("quarantine routes null-tokenization rows to rejects, not limbo") {
    import spark.implicits._
    // a null fields array makes size() null; both === and =!= are then
    // null, so without the coalesce the row lands in NEITHER frame
    val lines = Seq(Some("1|a|x"), None, Some("3|c|y")).toDF("value")
    val fields = split($"value", "\\|", -1) // null value → null array
    val (valid, rejected) =
      TransformStage.quarantineByArity(lines, fields, expected = 3)
    assert(valid.count() == 2)
    assert(rejected.count() == 1)
    val rej = rejected.select($"reject_reason").as[String].head()
    assert(rej == "arity -1 != expected 3")
    assert(valid.count() + rejected.count() == lines.count())
  }

  test("shard assignment is deterministic and matches the scalar path") {
    val spec = ShardSpec(Seq(1, 2, 1))
    val rows = Sharding.assign(Tables(spark, sf).customer, "c_name", spec)
      .select("c_name", "shard").collect()
    rows.foreach { r =>
      val expected = {
        val idx = graft.functions.Murmur3.shardCode(r.getString(0)) % spec.totalWeight
        spec.bounds.indexWhere(idx < _)
      }
      assert(r.getInt(1) == expected, s"key ${r.getString(0)}")
    }
  }

  test("partitionByShard gives every shard its own k partitions") {
    import spark.implicits._
    val rows = (0 until 2000).map(i => s"row-$i").toDF("wire_row")
    for (weights <- Seq(Seq(1, 2, 1), Seq(1, 1)); k <- Seq(1, 2)) {
      val spec = ShardSpec(weights)
      val sharded = Sharding.partitionByShard(Sharding.assign(rows, "wire_row", spec), spec, k)
      assert(sharded.rdd.getNumPartitions == weights.size * k)
      val layout = sharded.select("shard").rdd
        .mapPartitionsWithIndex((p, it) => it.map(r => (p, r.getInt(0))))
        .distinct().collect().toSeq
      val shardsOf = layout.groupMap(_._1)(_._2)
      assert(shardsOf.values.forall(_.size == 1),
        s"weights $weights, k $k: a partition holds several shards: $shardsOf")
      val partsOf = layout.groupMap(_._2)(_._1)
      assert(partsOf.keySet == weights.indices.toSet && partsOf.values.forall(_.size == k),
        s"weights $weights, k $k: shard → partitions $partsOf")
    }
  }
}
