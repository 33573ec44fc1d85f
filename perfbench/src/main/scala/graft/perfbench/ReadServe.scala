package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.DeltaLake
import graft.delta.{Cond, ScanSettings}

/** Seeded mix of reads against one table: point reads (partition plus
  * stats predicate, limit, collect), full-table aggregates, time-travel
  * counts of one partition and metadata/schema calls. Each 19-operation
  * cycle holds 10 point reads, 3 time-travel reads, 2 aggregates, 2
  * `deltaMeta` and 2 `deltaSchema` calls: sorted by latency the four
  * metadata calls come first and the point reads fill ranks 5 to 14, so
  * `p50_ms` falls among the point reads.
  *
  * Table: all of lineitem, ~275 files of 2,200 rows. v0 create, v1 a
  * deletion-vector delete of an order-key range, v2 renames
  * `l_quantity` to `l_qty` (column mapping), v3 and v4 are property
  * commits; the checkpoint interval is 3, so v3 is a checkpoint and v4
  * a JSON tail.
  */
final class ReadServe(c: Ctx) extends Workload {
  import c._

  private val rnd = new Random(seed)
  private val RowsPerFile = 2200
  private val PointWidth = 300L
  private val Limit = 50
  private val Latest = 4L
  private val delLo = 1000L + rnd.nextInt(140000)
  private val delHi = delLo + 600L
  // (year, lo): key range [lo, lo + PointWidth) within one year
  private val pointPool: IndexedSeq[(Int, Long)] = IndexedSeq.fill(40)(
    (Lineitem.Years(rnd.nextInt(Lineitem.Years.size)),
      rnd.nextInt((Lineitem.MaxOrderKey - PointWidth).toInt).toLong))

  private var path: String = _
  private var pointExpected: IndexedSeq[Long] = _
  private var yearExpected: Map[Int, (Long, Double)] = _
  private var yearRowsV0: Map[Int, Long] = _
  private var liveRows = 0L

  def setUps: Int = 2

  def setUp(round: Int): Unit = {
    path = s"$work/read_serve_$round"
    Lineitem.create(spark, Lineitem.source(spark, data), path, RowsPerFile,
      Map("delta.checkpointInterval" -> "3"))
    Lineitem.deleteRange(spark, path, delLo, delHi)
    DeltaLake.renameColumn(spark, path, "l_quantity", "l_qty")
    DeltaLake.setTableProperties(spark, path, Map("perfbench.round" -> s"$round"))
    DeltaLake.setTableProperties(spark, path, Map("perfbench.tail" -> "1"))
  }

  def prepare(): Unit = {
    val src = Lineitem.source(spark, data)
    val key = col("l_orderkey")
    val live = src.where(!(key >= delLo && key < delHi))
    val counts = live.agg(count(lit(1)), pointPool.map { case (y, lo) =>
      sum(when(col("l_shipyear") === y && key >= lo && key < lo + PointWidth, 1)
        .otherwise(0)).cast("long")
    }: _*).head()
    pointExpected = pointPool.indices.map(i => counts.getLong(i + 1))
    yearExpected = live.groupBy("l_shipyear")
      .agg(count(lit(1)), sum("l_quantity")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    yearRowsV0 = src.groupBy("l_shipyear").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    liveRows = counts.getLong(0)
  }

  private def point(i: Int): Op = Op("point", () => {
    val (y, lo) = pointPool(i)
    val settings = ScanSettings(conditions = Seq(
      Cond("l_shipyear", "=", y), Cond("l_orderkey", ">=", lo),
      Cond("l_orderkey", "<", lo + PointWidth)))
    val snap = openLatest(path)
    notePruning(snap, settings)
    val df = compile(snap, settings)
    val rows = exec("collect")(df.select("l_shipyear", "l_orderkey").limit(Limit).collect())
    expect(rows.length == math.min(Limit.toLong, pointExpected(i)),
      s"point $i: ${rows.length} rows, expected ${math.min(Limit.toLong, pointExpected(i))}")
    rows.foreach { r =>
      val k = r.getLong(1)
      expect(r.getInt(0) == y && k >= lo && k < lo + PointWidth &&
        !(k >= delLo && k < delHi), s"point $i: row $r outside the predicate")
    }
    rows.length.toLong
  })

  private val aggregate: Op = Op("aggregate", () => {
    val snap = openLatest(path)
    val df = compile(snap)
    val rows = exec("collect")(df.groupBy("l_shipyear")
      .agg(count(lit(1)), sum("l_qty")).collect())
    val got = rows.map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    expect(got.keySet == yearExpected.keySet, s"aggregate years ${got.keySet}")
    got.foreach { case (y, (n, q)) =>
      val (en, eq) = yearExpected(y)
      expect(n == en && math.abs(q - eq) <= 1e-9 * math.abs(eq),
        s"aggregate $y: ($n, $q), expected ($en, $eq)")
    }
    rows.length.toLong
  })

  private def travel(v: Long, y: Int): Op = Op("time_travel", () => {
    val snap = openAt(path, v)
    val df = compile(snap, ScanSettings(conditions = Seq(Cond("l_shipyear", "=", y))))
    val n = exec("count")(df.count())
    val want = if (v == 0) yearRowsV0(y) else yearExpected(y)._1
    expect(n == want, s"time travel v$v, year $y: $n rows, expected $want")
    1L
  })

  private val meta: Op = Op("meta", () => {
    val snap = tr.span("log", "meta")(DeltaLake.deltaMeta(spark, path))
    val live = snap.liveFiles.map(_.liveRecords.getOrElse(-1L)).sum
    expect(snap.version == Latest && live == liveRows,
      s"deltaMeta: v${snap.version} with $live live rows, expected v$Latest, $liveRows")
    1L
  })

  private val schemaOp: Op = Op("schema", () => {
    val s = tr.span("log", "schema")(DeltaLake.deltaSchema(spark, path))
    expect(s.fieldNames.contains("l_qty") && !s.fieldNames.contains("l_quantity") &&
      s.fieldNames.contains("l_shipyear"), s"deltaSchema: ${s.fieldNames.mkString(",")}")
    1L
  })

  def cycle(n: Int): Seq[Op] = {
    val r = new Random(seed * 1000003L + n)
    val ops = Seq.fill(10)(point(r.nextInt(pointPool.size))) ++
      Seq.fill(3)(travel(r.nextInt(Latest.toInt).toLong,
        Lineitem.Years(r.nextInt(Lineitem.Years.size)))) ++
      Seq.fill(2)(aggregate) ++
      Seq(meta, meta, schemaOp, schemaOp)
    r.shuffle(ops)
  }
}
