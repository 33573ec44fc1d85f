package graft.delta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{DeltaLake, SparkSuite}

/** deltaSql (SQL-string emission) + legacy partition-value key shapes. */
class DeltaSqlSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dsql").toString + "/t"

  private def frame = Seq(
    (1L, "x", "A"), (2L, "y", "A"), (3L, "z", "B"), (4L, "w", "B"))
    .toDF("id", "payload", "part")

  test("deltaSql: emitted SQL equals the DataFrame scan") {
    val path = tmp()
    DeltaWriter.write(frame, path, partitionBy = Seq("part"))
    val viaSql = spark.sql(DeltaLake.deltaSql(spark, path)).collect()
      .map(_.toString).sorted.toSeq
    val viaDf = DeltaLake.scanDelta(spark, path).collect()
      .map(_.toString).sorted.toSeq
    assert(viaSql == viaDf && viaSql.size == 4)
  }

  test("deltaSql: conditions prune files at emission and filter rows") {
    val path = tmp()
    DeltaWriter.write(frame, path, partitionBy = Seq("part"))
    val sql = DeltaLake.deltaSql(spark, path, ScanSettings(
      conditions = Seq(Cond("part", "=", "A"), Cond("id", ">", 1L)),
      fields = Some(Seq("id", "part"))))
    // partition pruning already dropped the B files from the SQL text
    assert(!sql.contains("part=B"), sql)
    val rows = spark.sql(sql).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L))
    assert(rows.head.schema.fieldNames.toSeq == Seq("id", "part"))
    // limit + distinct render too
    val lim = spark.sql(DeltaLake.deltaSql(spark, path,
      ScanSettings(distinct = true, limit = Some(2L))))
    assert(lim.count() == 2)
  }

  test("deltaSql: cte-wrap prefix composes into a larger query") {
    val path = tmp()
    DeltaWriter.write(frame, path, partitionBy = Seq("part"))
    val prefix = DeltaLake.deltaSql(spark, path, cteWrapName = Some("t"))
    val out = spark.sql(
      prefix + "\nSELECT part, count(*) AS n FROM t GROUP BY part ORDER BY part")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("A", 2L), ("B", 2L)))
  }

  test("deltaSql: zero live files yields a typed empty relation") {
    val path = tmp()
    DeltaWriter.write(frame, path)
    val sql = DeltaLake.deltaSql(spark, path,
      ScanSettings(actionFilter = _ => false))
    val df = spark.sql(sql)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("id", "payload", "part"))
    assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
  }

  test("deltaSql: null-fills columns a file lacks (schema evolution)") {
    // hand-crafted: two files with different physical schemas under one
    // evolved logical schema (our writer doesn't evolve schemas itself)
    val root = java.nio.file.Files.createTempDirectory("graft_evo").toString
    def stageFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$root/stage_$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$root/$name"))
    }
    stageFile(Seq((1L, "x")).toDF("id", "payload"), "f1.parquet")
    stageFile(Seq((2L, "y", 9.5)).toDF("id", "payload", "score"), "f2.parquet")
    val schemaJson =
      """{"type":"struct","fields":[
        |{"name":"id","type":"long","nullable":true,"metadata":{}},
        |{"name":"payload","type":"string","nullable":true,"metadata":{}},
        |{"name":"score","type":"double","nullable":true,"metadata":{}}]}"""
        .stripMargin.replace("\n", "")
    // size must be the REAL file length: readers (ours included, like
    // delta-spark's file index) trust it for parquet split bounds
    def len(name: String): Long = Files.size(Paths.get(s"$root/$name"))
    val log =
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}
         |{"add":{"path":"f1.parquet","partitionValues":{},"size":${len("f1.parquet")},"modificationTime":0,"dataChange":true}}
         |{"add":{"path":"f2.parquet","partitionValues":{},"size":${len("f2.parquet")},"modificationTime":0,"dataChange":true}}
         |""".stripMargin
    Files.createDirectories(Paths.get(s"$root/_delta_log"))
    Files.write(Paths.get(s"$root/_delta_log/" + f"${0L}%020d.json"),
      log.getBytes(StandardCharsets.UTF_8))
    val rows = spark.sql(DeltaLake.deltaSql(spark, root))
      .orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
    // the DataFrame path null-fills identically
    val viaDf = DeltaLake.scanDelta(spark, root).orderBy("id").collect()
    assert(viaDf(0).isNullAt(viaDf(0).fieldIndex("score")))
  }

  test("deltaSql: column mapping + NULL struct on faker2 (test_empty_struct)") {
    // the reference's get_sql_for_delta NULL-struct test (test_duckdb.py:217):
    // nested physical names rename positionally through the SQL CAST and
    // the all-NULL struct row stays NULL, not a struct of NULLs
    val sql = DeltaLake.deltaSql(spark, fixture("faker2"), cteWrapName = Some("dt"))
    val mc = spark.sql(sql +
      "\nSELECT main_coord FROM dt WHERE new_name = 'Hans Heiri'").collect()
    assert(mc.length == 1)
    assert(mc(0).isNullAt(0))
    // full equivalence with the DataFrame path on a column-mapped table
    val viaSql = spark.sql(DeltaLake.deltaSql(spark, fixture("faker2")))
    val viaDf = DeltaLake.scanDelta(spark, fixture("faker2"))
    assert(viaSql.collect().map(_.toString).sorted.toSeq ==
      viaDf.collect().map(_.toString).sorted.toSeq)
  }

  test("deltaSql: zone-pinned timestamp literals (non-UTC session safe)") {
    val path = tmp()
    val ts = Seq(
      (1L, java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T05:00:00Z"))),
      (2L, java.sql.Timestamp.from(java.time.Instant.parse("2024-06-15T12:30:45Z"))))
      .toDF("id", "at")
    DeltaWriter.write(ts, path, partitionBy = Seq("at"))
    // partition-value literal round-trips as the same instant
    val viaSql = spark.sql(DeltaLake.deltaSql(spark, path)).orderBy("id").collect()
    assert(viaSql.map(_.getAs[java.sql.Timestamp]("at").toInstant).toSeq == Seq(
      java.time.Instant.parse("2024-01-01T05:00:00Z"),
      java.time.Instant.parse("2024-06-15T12:30:45Z")))
    // Instant condition renders zone-pinned and selects the same row as
    // the DataFrame path
    val cond = Seq(Cond("at", "=", java.time.Instant.parse("2024-01-01T05:00:00Z")))
    val sqlRows = spark.sql(DeltaLake.deltaSql(spark, path,
      ScanSettings(conditions = cond))).collect()
    val dfRows = DeltaLake.scanDelta(spark, path,
      ScanSettings(conditions = cond)).collect()
    assert(sqlRows.map(_.getLong(0)).toSeq == Seq(1L))
    assert(dfRows.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("deltaSql subtracts deletion vectors (no resurrected rows)") {
    val path = tmp()
    DeltaWriter.write((1L to 50L).toDF("id"), path)
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 20L)))
    val viaSql = spark.sql(DeltaLake.deltaSql(spark, path))
    assert(viaSql.count() == 30)
    assert(viaSql.agg(org.apache.spark.sql.functions.min("id"))
      .collect()(0).getLong(0) == 21L)
  }

  test("deltaSql: strange column names quote correctly (user fixture)") {
    val sql = DeltaLake.deltaSql(spark, fixture("user"),
      ScanSettings(conditions = Seq(Cond("Age", "=", BigDecimal("23.0")))))
    val rows = spark.sql(sql).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("FirstName") == "Peter")
    assert(rows(0).schema.fieldNames.contains("time stämp"))
  }

  /** Hand-craft a log whose add action uses a legacy key shape. */
  private def writeLegacyTable(
      addExtra: String, partitionValuesJson: Option[String],
      schemaJson: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    // one data file with just `id`
    val stage = s"$root/stage"
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$root/f1.parquet"))
    val pvField = partitionValuesJson.map(p => s""""partitionValues":$p,""").getOrElse("")
    // real file length: readers trust add.size for parquet split bounds
    val size = Files.size(Paths.get(s"$root/f1.parquet"))
    val log =
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":["p"],"configuration":{}}}
         |{"add":{"path":"f1.parquet",$pvField$addExtra"size":$size,"modificationTime":0,"dataChange":true}}
         |""".stripMargin
    Files.createDirectories(Paths.get(s"$root/_delta_log"))
    Files.write(Paths.get(s"$root/_delta_log/" + f"${0L}%020d.json"),
      log.getBytes(StandardCharsets.UTF_8))
    root
  }

  private val plainSchema =
    """{"type":"struct","fields":[
      |{"name":"id","type":"long","nullable":true,"metadata":{}},
      |{"name":"p","type":"string","nullable":true,"metadata":{}}]}"""
      .stripMargin.replace("\n", "")

  test("legacy top-level partition.<name> key scans correctly") {
    val root = writeLegacyTable(""""partition.p":"A",""", None, plainSchema)
    val rows = DeltaLake.scanDelta(spark, root).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("p") == "A"))
  }

  test("legacy partition values survive a checkpoint rewrite") {
    val root = writeLegacyTable(""""partition.p":"A",""", None, plainSchema)
    DeltaWriter.writeCheckpoint(DeltaLake.deltaMeta(spark, root))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/_delta_log/" + f"${0L}%020d.json"), false)
    // replayed from the checkpoint alone: the legacy key must have been
    // folded into partitionValues, not silently dropped
    val rows = DeltaLake.scanDelta(spark, root).collect()
    assert(rows.length == 2 && rows.forall(_.getAs[String]("p") == "A"))
  }

  test("partitionValues keyed by LOGICAL name under column mapping") {
    val mapped =
      """{"type":"struct","fields":[
        |{"name":"id","type":"long","nullable":true,"metadata":{}},
        |{"name":"p","type":"string","nullable":true,"metadata":{"delta.columnMapping.physicalName":"col-abc123"}}]}"""
        .stripMargin.replace("\n", "")
    val root = writeLegacyTable("", Some("""{"p":"B"}"""), mapped)
    val rows = DeltaLake.scanDelta(spark, root).collect()
    assert(rows.length == 2 && rows.forall(_.getAs[String]("p") == "B"))
  }

  test("same-shape files share one brace-glob scan branch") {
    val path = tmp()
    // 6 files across 2 partitions → 2 branches, not 6
    (0 until 3).foreach { i =>
      DeltaWriter.write(
        Seq((i * 2L, "a", "A"), (i * 2 + 1L, "b", "B"))
          .toDF("id", "payload", "part").repartition(2),
        path, partitionBy = Seq("part"),
        mode = if (i == 0) "overwrite" else "append")
    }
    assert(DeltaLog.forPath(spark, path).liveFiles.size >= 6)
    val sql = DeltaLake.deltaSql(spark, path)
    val branches = "SELECT ".r.findAllIn(sql).size - 1 // minus outer SELECT
    assert(branches == 2, s"expected 2 grouped branches:\n$sql")
    assert(sql.contains("{"), "no brace glob emitted")
    // and it still evaluates to exactly the table
    val viaSql = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val viaDf = DeltaLake.scanDelta(spark, path).collect()
      .map(_.toString).sorted.toSeq
    assert(viaSql == viaDf && viaSql.size == 6)

    // a deletion vector forces that file back to its own branch
    DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 0L)))
    val sql2 = DeltaLake.deltaSql(spark, path)
    assert(sql2.contains("NOT IN"), "DV filter missing")
    assert(spark.sql(sql2).count() == 5)
  }

  test("glob metacharacters in partition paths fall back to per-file branches") {
    val path = tmp()
    // partition values with comma and braces — must NOT be emitted
    // inside a brace alternation where they would be re-parsed as glob
    DeltaWriter.write(
      Seq((1L, "a,b"), (2L, "a,b"), (3L, "{c}"), (4L, "plain"))
        .toDF("id", "p").repartition(1),
      path, partitionBy = Seq("p"))
    DeltaWriter.write(Seq((5L, "a,b")).toDF("id", "p"), path,
      partitionBy = Seq("p"), mode = "append")
    val sql = DeltaLake.deltaSql(spark, path)
    val viaSql = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val viaDf = DeltaLake.scanDelta(spark, path).collect()
      .map(_.toString).sorted.toSeq
    assert(viaSql == viaDf && viaSql.size == 5, sql)
  }

  test("legacy partition.<logical> key under column mapping") {
    val mapped =
      """{"type":"struct","fields":[
        |{"name":"id","type":"long","nullable":true,"metadata":{}},
        |{"name":"p","type":"string","nullable":true,"metadata":{"delta.columnMapping.physicalName":"col-abc123"}}]}"""
        .stripMargin.replace("\n", "")
    val root = writeLegacyTable(""""partition.p":"C",""", None, mapped)
    val rows = DeltaLake.scanDelta(spark, root).collect()
    assert(rows.length == 2 && rows.forall(_.getAs[String]("p") == "C"))
    // deltaSql resolves the same legacy shapes
    val viaSql = spark.sql(DeltaLake.deltaSql(spark, root)).collect()
    assert(viaSql.forall(_.getAs[String]("p") == "C"))
  }
}
