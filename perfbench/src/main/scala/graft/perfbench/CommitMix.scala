package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DeltaLake
import graft.delta.{Cond, DeltaWriter}

/** Seeded small commits against a lineitem table, each followed by a
  * read-back of the latest version whose row count is checked against
  * an in-memory model. A cycle is two partitioned appends (~2,000 rows
  * each), two single-key deletion-vector deletes, one single-key update
  * and one merge (two matched keys, one new key), with seeded keys:
  * sorted by latency the appends sit in the middle, so `p50_ms` is
  * their mean.
  *
  * Table: the rows whose order key is 0 mod 4 (~150k rows, ~70 files of
  * 2,200 rows), partitioned by ship year. v0 create, v1 a deletion-
  * vector delete, v2 renames `l_quantity` to `l_qty` (column mapping),
  * v3-v7 property commits; the checkpoint interval is the default 10,
  * so the loop's third commit (the update) writes a checkpoint.
  */
final class CommitMix(c: Ctx) extends Workload {
  import c._

  private val rnd = new Random(seed)
  private val RowsPerFile = 2200
  private val delLo = 4L * rnd.nextInt(30000)
  private val delHi = delLo + 400L
  // appended keys are 1 mod 4 and merge-inserted keys 2 mod 4, so
  // neither collides with the table's 0 mod 4 keys; each append takes
  // its own slot of 2,000 consecutive order keys
  private val appendSlots = rnd.shuffle((0 until 70).toVector)

  private var path: String = _
  private var perKey: Map[Long, Long] = _
  // the model: live rows per order key, and in total
  private val live = mutable.Map.empty[Long, Long]
  private var total = 0L
  private var appends = 0
  private var inserts = 0
  private var before = Map.empty[String, Long]
  private val inputBatches = mutable.ArrayBuffer.empty[DataFrame]

  def setUps: Int = 2

  private def src = Lineitem.source(spark, data)
  private def asTable(df: DataFrame) = df.withColumnRenamed("l_quantity", "l_qty")

  def setUp(round: Int): Unit = {
    path = s"$work/commit_mix_$round"
    Lineitem.create(spark, src.where(col("l_orderkey") % 4 === 0), path,
      RowsPerFile, Map.empty)
    Lineitem.deleteRange(spark, path, delLo, delHi)
    DeltaLake.renameColumn(spark, path, "l_quantity", "l_qty")
    (3 to 7).foreach(v =>
      DeltaLake.setTableProperties(spark, path, Map("perfbench.v" -> s"$v")))
  }

  def prepare(): Unit = {
    perKey = src.groupBy("l_orderkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    live.clear()
    perKey.foreach { case (k, n) =>
      if (k % 4 == 0 && !(k >= delLo && k < delHi)) live(k) = n
    }
    total = live.values.sum
    before = Ctx.listing(path)
  }

  private def readBack(what: String): Unit = tr.span("harness", "readback") {
    val snap = openLatest(path)
    val n = exec("count")(compile(snap).count())
    expect(n == total, s"$what: read-back has $n rows, model has $total")
  }

  private def pick(r: Random): Long = {
    val keys = live.keys.toVector.sorted
    keys(r.nextInt(keys.size))
  }

  private def append(r: Random): Op = Op("append", () => {
    val lo = 2000L * appendSlots(appends % appendSlots.size) + 1
    appends += 1
    val keys = (lo until lo + 2000 by 4).filter(perKey.contains)
    val batch = asTable(src.where(col("l_orderkey") >= lo &&
      col("l_orderkey") < lo + 2000 && col("l_orderkey") % 4 === 1))
    inputBatches += batch
    commit("append", path)(DeltaWriter.write(batch, path, mode = "append"))
    keys.foreach(k => live(k) = perKey(k))
    total += keys.map(perKey).sum
    readBack("append")
    keys.map(perKey).sum
  })

  private def delete(r: Random): Op = Op("delete", () => {
    val k = pick(r)
    val n = commit("delete", path)(
      DeltaLake.deleteWhere(spark, path, Seq(Cond("l_orderkey", "=", k))))
    expect(n == live(k), s"delete $k removed $n rows, model has ${live(k)}")
    live.remove(k)
    total -= n
    readBack("delete")
    n
  })

  private def update(r: Random): Op = Op("update", () => {
    val k = pick(r)
    val n = commit("update", path)(DeltaLake.updateWhere(spark, path,
      Seq(Cond("l_orderkey", "=", k)), Map("l_qty" -> (col("l_qty") + 1))))
    expect(n == live(k), s"update $k changed $n rows, model has ${live(k)}")
    readBack("update")
    n
  })

  private def merge(r: Random): Op = Op("merge", () => {
    val matched = Seq(pick(r), pick(r)).distinct
    var fresh = 2L + 4L * ((seed * 7919L + inserts * 104729L) % 37000L).abs
    while (live.contains(fresh)) fresh += 4
    inserts += 1
    val source = asTable(src.where(col("l_orderkey").isin(matched :+ fresh: _*)))
      .withColumn("l_qty", col("l_qty") + 1)
    inputBatches += source
    val st = commit("merge", path)(DeltaWriter.merge(spark, path, source, Lineitem.Key))
    val want = matched.map(live).sum
    val added = perKey.getOrElse(fresh, 0L)
    expect(st.updatedRows == want, s"merge matched ${st.updatedRows} rows, model has $want")
    if (added > 0) { live(fresh) = added; total += added }
    readBack("merge")
    want + added
  })

  // The order is fixed and only the keys are seeded. The first run of a
  // verb, and of the read-back, in a JVM pays its JIT warm-up; the merge
  // (the slowest verb) goes first so the read-back's lands there, the
  // update writes the checkpoint (v10), and the appends, whose mean is
  // `p50_ms`, both come after a warm read-back.
  def cycle(n: Int): Seq[Op] = {
    val r = new Random(seed * 1000003L + n)
    Seq(merge(r), delete(r), update(r), append(r), delete(r), append(r))
  }

  /** Write amplification: bytes newly written under the table root
    * during the loop (data, `_delta_log`, deletion vectors) per byte of
    * the same input batches written once as plain parquet.
    */
  override def report(done: Seq[OpResult]): Seq[(String, Double, String)] = {
    val written = Ctx.written(before, Ctx.listing(path)).map(_._2).sum
    inputBatches.reduceOption(_ unionByName _).toSeq.map { all =>
      all.write.parquet(s"$work/plain")
      ("write_amp", written.toDouble / Ctx.bytesUnder(s"$work/plain"), "ratio")
    }
  }
}
