package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DeltaLake
import graft.delta.{Cond, DeltaWriter}

/** The lineitem Delta table both table workloads use: partitioned by
  * ship year, order keys clustered within each year so file stats can
  * skip, a fixed number of rows per file.
  */
object Lineitem {
  val Years: Seq[Int] = 1995 to 2001
  val MaxOrderKey = 150000L
  // the merge key: (l_orderkey, l_linenumber) repeats in the test data,
  // these four columns are unique
  val Key = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  def source(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/lineitem.parquet")
      .withColumn("l_shipyear", year(col("l_shipdate")))

  def create(spark: SparkSession, rows: DataFrame, path: String,
      rowsPerFile: Int, properties: Map[String, String]): Unit = {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", rowsPerFile.toString)
    // one task per (year, quarter of the key range): balanced over the
    // cores, and each file covers a narrow key range
    try DeltaWriter.write(
      rows.repartition(Years.size * 4, col("l_shipyear"),
        (col("l_orderkey") * 4 / MaxOrderKey).cast("int"))
        .sortWithinPartitions("l_shipyear", "l_orderkey"),
      path, partitionBy = Seq("l_shipyear"), properties = properties)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  /** Delete order keys `[lo, hi)`: deletion vectors on the files that
    * hold them.
    */
  def deleteRange(spark: SparkSession, path: String, lo: Long, hi: Long): Long =
    DeltaLake.deleteWhere(spark, path,
      Seq(Cond("l_orderkey", ">=", lo), Cond("l_orderkey", "<", hi)))
}
