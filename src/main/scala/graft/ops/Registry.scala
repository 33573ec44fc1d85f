package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract: the Spark
  * implementation plus (when SQL-expressible) the DuckDB oracle that must
  * hash-match it. Column names are aligned on both sides — the driver
  * sorts columns by name before hashing. `kernel = true` marks a
  * deliberately-amplified microbenchmark: ScaleRehearsal runs it in its
  * own group and marks its ratio `[k]` instead of counting it as an
  * operator (a typed flag, not a naming convention, so new kernels
  * can't silently pass for operators).
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    kernel: Boolean = false)

object Registry {
  /** Read one of the driver-generated tables (TESTDATA.md). */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def all: Map[String, QueryDef] =
    Relational.defs ++ TextOps.defs ++ DedupOps.defs ++
      SimilarityOps.defs ++ EventOps.defs ++ MultimodalOps.defs ++
      PipelineOps.defs ++ DeltaQueries.defs
}
