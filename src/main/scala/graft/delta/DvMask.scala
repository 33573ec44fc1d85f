package graft.delta

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion-vector mask: true unless the row's physical index is set in
  * its file's deletion vector. `filePath` is the scan's
  * `_metadata.file_path` — the string [[DeltaFileIndex.fileKey]] names
  * each file by — and `rowIndex` its `_metadata.row_index`.
  *
  * The per-file bitmaps stay compact: they reach each executor once, as
  * serialized DV data in a Spark broadcast this expression holds by
  * handle, and a task deserializes a file's bitmap when its rows start.
  * Per row the cost is one "same file as the last row?" check and one
  * bitmap probe — no (file, row) expansion, no join, no exchange.
  * `not(mask)` keeps exactly the set rows (the change feed's row
  * extraction).
  */
case class DvMask(
    filePath: Expression,
    rowIndex: Expression,
    deleted: Broadcast[Map[String, Array[Byte]]])
    extends BinaryExpression with Predicate {

  override def left: Expression = filePath
  override def right: Expression = rowIndex
  override def prettyName: String = "dv_mask"
  override def toString: String = s"$prettyName($filePath, $rowIndex)"

  override def checkInputDataTypes(): TypeCheckResult =
    (filePath.dataType, rowIndex.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (p, i) => TypeCheckResult.TypeCheckFailure(
        s"dv_mask expects (file path string, row index bigint), got " +
          s"(${p.simpleString}, ${i.simpleString})")
    }

  @transient private lazy val probe = new DvMask.Probe(deleted.value)

  override def nullSafeEval(p: Any, i: Any): Any =
    probe.keep(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the broadcast handle is the reference object; each generated
    // instance (one per partition) opens its own probe over the
    // executor-cached value, so the last-file state is never shared
    val handle = ctx.addReferenceObj("dvDeleted", deleted,
      classOf[Broadcast[_]].getName)
    val probeClass = classOf[DvMask.Probe].getName
    val p = ctx.addMutableState(probeClass, "dvProbe", v =>
      s"$v = new $probeClass((scala.collection.immutable.Map) $handle.value());")
    nullSafeCodeGen(ctx, ev, (path, idx) => s"${ev.value} = $p.keep($path, $idx);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DvMask = copy(filePath = l, rowIndex = r)
}

object DvMask {

  /** Per-task probe: remembers the last file and its bitmap, so a file's
    * DV is looked up and deserialized once per run of its rows.
    */
  final class Probe(deleted: Map[String, Array[Byte]]) {
    private var lastPath: UTF8String = null
    private var bits: RowIndexBitmap = null

    def keep(path: UTF8String, rowIndex: Long): Boolean = {
      if (lastPath == null || !lastPath.equals(path)) {
        lastPath = path.clone() // the row buffer behind `path` is reused
        bits = deleted.get(lastPath.toString)
          .map(RowIndexBitmap.deserialize).orNull
      }
      bits == null || !bits.contains(rowIndex)
    }
  }

  /** The mask over explicit bitmaps: `deleted` maps file keys to DV data
    * (as [[DeletionVectors.serializeData]] writes it). One broadcast per
    * call; Spark's context cleaner drops it with the plan.
    */
  def apply(spark: org.apache.spark.sql.SparkSession,
      deleted: Map[String, Array[Byte]],
      filePath: Column, rowIndex: Column): Column =
    ColumnBridge.column(DvMask(ColumnBridge.expression(filePath),
      ColumnBridge.expression(rowIndex), spark.sparkContext.broadcast(deleted)))

  /** The mask of `actions`' live deletion vectors — true for the rows
    * they have not deleted. Actions without a DV contribute nothing.
    */
  def live(snap: DeltaSnapshot, actions: Seq[AddAction],
      filePath: Column, rowIndex: Column): Column = {
    val base = snap.deltaPath.stripSuffix("/")
    val key = DeltaFileIndex.fileKey(snap)
    apply(snap.spark, actions.flatMap(a => a.deletionVector.map(dv =>
      key(a) -> DeletionVectors.read(snap.spark, base, dv))).toMap,
      filePath, rowIndex)
  }
}
