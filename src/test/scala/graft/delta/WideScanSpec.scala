package graft.delta

import org.apache.spark.sql.functions._

import graft.{DeltaLake, SparkSuite}

/** The scan of a partitioned table is one parquet scan node whatever
  * the partition count, and types every partition value back in.
  */
class WideScanSpec extends SparkSuite {

  import spark.implicits._

  test("wide path == union path on a partitioned written table") {
    val path = java.nio.file.Files.createTempDirectory("graft_wide").toString + "/t"
    val df = (1 to 50).map(i => (i.toLong, s"v$i", (i % 10).toString))
      .toDF("id", "payload", "bucket")
    DeltaWriter.write(df, path, partitionBy = Seq("bucket"))

    val scan = DeltaLake.scanDelta(spark, path)
    assert(scan.schema.fieldNames.toSeq == Seq("id", "payload", "bucket"))
    assert(scan.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq ==
      (1 to 50).map(i => (i.toLong, s"v$i", (i % 10).toString)))

    // plan shape: exactly one parquet scan node (AQE toString repeats
    // the plan — look at the final section only)
    val planStr = scan.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(planStr).size == 1, planStr)

    // filters still work (on both partition and data columns)
    val filtered = DeltaLake.scanDelta(spark, path,
      ScanSettings(conditions = Seq(Cond("bucket", "=", "3"), Cond("id", "<=", 23))))
    assert(filtered.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(3L, 13L, 23L))
  }

  test("wide path handles column mapping + null partitions (faker2)") {
    val scan = DeltaLake.scanDelta(spark, fixture("faker2"))
    assert(scan.count() == 6)
    // the null-partition row survives with a NULL partition value
    val nullPart = scan.where(col("`Company Very Short`").isNull)
    assert(nullPart.count() == 1)
  }
}
