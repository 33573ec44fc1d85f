package graft.delta

import java.time.LocalDateTime

import org.apache.spark.sql.types._

import graft.{DeltaLake, SparkSuite}

/** Regression specs for the round-1 advisor findings: wide-path '+'
  * corruption, add.path percent-encoding, typed partition equality,
  * protocol-conformant checkpoint schema, and strict stream replay.
  */
class AdviceRegressionSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_adv").toString + "/t"

  test("literal '+' partition value survives the wide-partition path") {
    val path = tmp()
    val df = Seq((1L, "c++"), (2L, "a b"), (3L, "x+y z")).toDF("id", "lang")
    DeltaWriter.write(df, path, partitionBy = Seq("lang"))
    // a file key built by form-decoding turned '+' into a space and
    // the rows vanished
    val back = DeltaLake.scanDelta(spark, path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("lang")).sorted.toSeq
    assert(back == Seq(1L -> "c++", 2L -> "a b", 3L -> "x+y z"))
  }

  test("hive-escaped partition dirs (':' '%') round-trip through add.path") {
    val path = tmp()
    // ':' and '%' are hive-escaped on disk (%3A / %25); add.path must be
    // percent-encoded so readers that decode it find the real file
    val df = Seq((1L, "a:b"), (2L, "50%off"), (3L, "plain")).toDF("id", "tag")
    DeltaWriter.write(df, path, partitionBy = Seq("tag"))
    val back = DeltaLake.scanDelta(spark, path).orderBy("id").collect()
    assert(back.map(_.getAs[String]("tag")).toSeq == Seq("a:b", "50%off", "plain"))
    // the stored add.path is percent-encoded (no raw '%3A' that would
    // percent-decode to a different on-disk name)
    val snap = DeltaLake.deltaMeta(spark, path)
    val stored = snap.liveFiles.map(_.path)
    assert(stored.exists(_.contains("%253A")), stored.mkString(", "))
  }

  /** DV delete, update and OPTIMIZE over a table partitioned by `part`
    * whose six rows (ids 1..6) spread over three special-character
    * partition values: the scan must return the expected rows after
    * every step (the DV file key is the scan's own path).
    */
  private def dmlThroughScan(path: String, part: String): Unit = {
    val all = DeltaLake.scanDelta(spark, path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String](part)).toMap
    def check(want: Map[Long, String]): Unit = {
      val got = DeltaLake.scanDelta(spark, path).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String](part)).toSeq
      assert(got.sorted == want.toSeq.sorted)
    }
    assert(DeltaWriter.delete(spark, path, Seq(Cond("id", "in", Seq(1L, 2L, 3L)))) == 3L)
    assert(DeltaLake.deltaMeta(spark, path).liveFiles.exists(_.hasDeletionVector))
    val afterDelete = all -- Seq(1L, 2L, 3L)
    check(afterDelete)
    assert(DeltaWriter.update(spark, path, Seq(Cond("id", ">=", 4L)),
      Map("id" -> (org.apache.spark.sql.functions.col("id") + 10))) == 3L)
    val afterUpdate = afterDelete.map { case (k, v) => (k + 10) -> v }
    check(afterUpdate)
    DeltaWriter.compact(spark, path)
    assert(!DeltaLake.deltaMeta(spark, path).liveFiles.exists(_.hasDeletionVector))
    check(afterUpdate)
  }

  test("'+' and ' ' partition paths: DV delete, update, OPTIMIZE") {
    val path = tmp()
    val df = Seq((1L, "c++"), (2L, "a b"), (3L, "x+y z"),
      (4L, "c++"), (5L, "a b"), (6L, "x+y z")).toDF("id", "lang")
    DeltaWriter.write(df.coalesce(1), path, partitionBy = Seq("lang"))
    dmlThroughScan(path, "lang")
  }

  test("':' and '%' partition paths: DV delete, update, OPTIMIZE") {
    val path = tmp()
    val df = Seq((1L, "a:b"), (2L, "50%off"), (3L, "plain"),
      (4L, "a:b"), (5L, "50%off"), (6L, "plain")).toDF("id", "tag")
    DeltaWriter.write(df.coalesce(1), path, partitionBy = Seq("tag"))
    dmlThroughScan(path, "tag")
  }

  test("timestamp-partitioned table scans back (ntz, hive-escaped dirs)") {
    val path = tmp()
    val ts = Seq(
      (1L, LocalDateTime.parse("2024-01-01T00:00:00")),
      (2L, LocalDateTime.parse("2024-06-15T12:30:45"))).toDF("id", "when")
    DeltaWriter.write(ts, path, partitionBy = Seq("when"))
    val back = DeltaLake.scanDelta(spark, path).orderBy("id").collect()
    assert(back.map(_.getAs[LocalDateTime]("when")).toSeq == Seq(
      LocalDateTime.parse("2024-01-01T00:00:00"),
      LocalDateTime.parse("2024-06-15T12:30:45")))
  }

  test("partition equality compares in the typed domain, not strings") {
    def add(pv: String): AddAction =
      AddAction("f.parquet", Map("d" -> Some(pv)), 1L, 0L, None)
    def skips(pv: String, dt: DataType, c: Cond): Boolean =
      FileSkipping.canSkip(add(pv), Seq(c),
        Map("d" -> StructField("d", dt)), Map("d" -> "d"))

    val dec = DecimalType(10, 2)
    // '1.50' on disk vs predicate 1.5: string-compare skipped the file
    assert(!skips("1.50", dec, Cond("d", "=", BigDecimal("1.5"))))
    assert(!skips("1.50", dec, Cond("d", "in", Seq(BigDecimal("1.5")))))
    assert(skips("1.50", dec, Cond("d", "<>", BigDecimal("1.5"))))
    assert(skips("1.50", dec, Cond("d", "=", BigDecimal("2.5"))))
    // timestamp fraction trimming across writers
    assert(!skips("2024-01-01 00:00:00.000", TimestampType,
      Cond("d", "=", java.time.Instant.parse("2024-01-01T00:00:00Z"))))
    // non-orderable types still fall back to string compare
    assert(!skips("abc", StringType, Cond("d", "=", "abc")))
    assert(skips("abc", StringType, Cond("d", "=", "abd")))
  }

  test("checkpoint parquet has the protocol schema (map partitionValues)") {
    val path = tmp()
    val df = Seq((1L, "A"), (2L, "B")).toDF("id", "p")
    DeltaWriter.write(df, path, partitionBy = Seq("p"))
    DeltaWriter.writeCheckpoint(DeltaLake.deltaMeta(spark, path))
    val cp = spark.read.parquet(
      s"$path/_delta_log/" + f"${0L}%020d.checkpoint.parquet")
    val addType = cp.schema("add").dataType.asInstanceOf[StructType]
    assert(addType("partitionValues").dataType ==
      MapType(StringType, StringType, valueContainsNull = true))
    assert(cp.schema.fieldNames.contains("txn"))
    assert(cp.schema.fieldNames.contains("remove"))
    // and our own replay still reads it
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/_delta_log/" + f"${0L}%020d.json"), false)
    assert(DeltaLake.scanDelta(spark, path).count() == 2)
  }

  test("stream replay raises on aged-out commits instead of skipping") {
    val path = tmp()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), path)
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), path, mode = "append")
    DeltaWriter.writeCheckpoint(DeltaLake.deltaMeta(spark, path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0L to 1L).foreach(v => fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/_delta_log/" + f"$v%020d.json"), false))
    intercept[java.io.FileNotFoundException] {
      graft.streaming.DeltaStream.runAvailableNow(spark, path, -1L)((_, _) => ())
    }
  }
}
