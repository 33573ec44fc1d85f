package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StructField, StructType}

/** Catalyst-native file index over a Delta snapshot — the scan's file
  * list and partition values delivered INSIDE the planner instead of
  * baked into the plan at construction:
  *
  *  - partition pruning becomes Catalyst's own
  *    `PruneFileSourcePartitions` driving [[listFiles]], so a CACHED
  *    DataFrame re-prunes under every new predicate (the driver-side
  *    pre-pruning at construction can only ever apply the conditions it
  *    was built with);
  *  - stats zone-map skipping rides the pushed data filters, translated
  *    back into the [[Cond]] domain and applied per add-action via
  *    [[FileSkipping]] (fail-open: untranslatable predicates keep the
  *    file);
  *  - the plan is O(1) in partition count — ONE `FileSourceScanExec`
  *    regardless of how many partitions a 100 TB table has, with
  *    `sizeInBytes` from the log so join-side size estimation sees the
  *    real table size, not a default.
  *
  * File statuses are synthesized from the add actions (size +
  * modificationTime live in the log) — zero filesystem listing, the
  * whole point of a table format at scale.
  *
  * Deletion-vector tables use this index too: the file source serves
  * `_metadata.file_path` and `_metadata.row_index`, and a [[DvMask]]
  * filter over the same single scan node drops the deleted rows. Every
  * file is handed to Spark under the qualified path
  * [[DeltaFileIndex.filePath]] builds, so `_metadata.file_path` equals
  * [[DeltaFileIndex.fileKey]] for its add action: per-file maps (DV
  * bitmaps, row-tracking bases, the DML pass's partial bitmaps) are
  * keyed by that string, with no per-row normalization.
  */
final class DeltaFileIndex(
    snap: DeltaSnapshot,
    actions: Seq[AddAction]) extends FileIndex {

  private val base = snap.deltaPath.stripSuffix("/")
  private val pathOf = DeltaFileIndex.filePath(snap)
  private val schema = snap.schema
  private val logToPhys = DeltaSchema.logicalToPhysical(schema)
  private val physToField = DeltaSchema.physicalToField(schema)
  private val physToLog: Map[String, String] = logToPhys.map(_.swap)
  private val partFields: Seq[StructField] =
    schema.fields.toSeq.filter(f => snap.partitionColumns.contains(f.name))

  /** Physical names (what the relation resolves), logical types. */
  override val partitionSchema: StructType = StructType(partFields.map(f =>
    StructField(logToPhys.getOrElse(f.name, f.name), f.dataType, nullable = true)))

  override def rootPaths: Seq[Path] = Seq(new Path(base))

  private def resolvedPv(a: AddAction): Seq[Option[String]] =
    partFields.map { f =>
      val phys = logToPhys.getOrElse(f.name, f.name)
      a.partitionValueFor(phys, f.name).flatten
    }

  // one entry per distinct partition tuple: typed InternalRow + files
  private lazy val groups: Seq[(InternalRow, Seq[AddAction])] = {
    val converters = partFields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    actions.groupBy(resolvedPv).toSeq.map { case (pv, as) =>
      val row = InternalRow.fromSeq(pv.zipWithIndex.map { case (vOpt, i) =>
        vOpt.map(s => converters(i)(
          PartitionValues.deserialize(s, partFields(i).dataType))).orNull
      })
      row -> as
    }
  }

  private def status(a: AddAction): FileStatus =
    new FileStatus(a.size, false, 1, 128L * 1024 * 1024, a.modificationTime,
      pathOf(a))

  /** Translate a pushed Catalyst predicate back into the [[Cond]] DSL
    * (on LOGICAL column names) for zone-map skipping. Unsupported shapes
    * yield None — fail open, the file is read.
    */
  private def toCond(e: Expression): Option[Cond] = {
    def logical(a: AttributeReference): String = physToLog.getOrElse(a.name, a.name)
    def scala(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
      CatalystTypeConverters.createToScalaConverter(dt)(v)
    import org.apache.spark.sql.catalyst.expressions._
    e match {
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        Some(Cond(logical(a), "=", scala(v, dt)))
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        Some(Cond(logical(a), "=", scala(v, dt)))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        Some(Cond(logical(a), ">", scala(v, dt)))
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        Some(Cond(logical(a), "<", scala(v, dt)))
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        Some(Cond(logical(a), "<", scala(v, dt)))
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        Some(Cond(logical(a), ">", scala(v, dt)))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        Some(Cond(logical(a), ">=", scala(v, dt)))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        Some(Cond(logical(a), "<=", scala(v, dt)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        Some(Cond(logical(a), "<=", scala(v, dt)))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        Some(Cond(logical(a), ">=", scala(v, dt)))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(Cond(logical(a), "in", vs.collect {
          case Literal(v, dt) => scala(v, dt)
        }))
      case IsNull(a: AttributeReference) => Some(Cond(logical(a), "=", null))
      case IsNotNull(a: AttributeReference) => Some(Cond(logical(a), "<>", null))
      case _ => None
    }
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition pruning: bind the pushed filters to the partition row
    val prunable = partitionFilters.filter(
      _.references.forall(r => partitionSchema.fieldNames.contains(r.name)))
    val pruned =
      if (prunable.isEmpty) groups
      else {
        val predicate = Predicate.createInterpreted(
          prunable.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldNames.indexOf(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        groups.filter { case (row, _) => predicate.eval(row) }
      }
    // stats skipping: pushed data filters, per file, fail-open —
    // widened with partition conds implied through generated-column
    // expressions (a filter on `ts` prunes `event_date` partitions)
    val dataConds = dataFilters.flatMap(e =>
      try toCond(e) catch { case scala.util.control.NonFatal(_) => None })
    val conds = dataConds ++
      GeneratedPruning.derive(dataConds, schema, snap.partitionColumns,
        snap.configuration)
    pruned.map { case (row, as) =>
      val kept =
        if (conds.isEmpty) as
        else as.filterNot(a =>
          FileSkipping.canSkip(a, conds, physToField, logToPhys))
      PartitionDirectory(row, kept.map(status).toArray)
    }.filter(_.files.nonEmpty)
  }

  override def inputFiles: Array[String] =
    actions.map(a => DeltaScan.resolvePath(base, a.path)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = actions.map(_.size).sum
}

object DeltaFileIndex {

  /** Where each of `snap`'s add actions is read from: the resolved path,
    * qualified against the table's filesystem (one lookup per call, not
    * per file).
    */
  private def filePath(snap: DeltaSnapshot): AddAction => Path = {
    val base = snap.deltaPath.stripSuffix("/")
    val fs = new Path(base).getFileSystem(snap.spark.sessionState.newHadoopConf())
    a => new Path(DeltaScan.resolvePath(base, a.path))
      .makeQualified(fs.getUri, fs.getWorkingDirectory)
  }

  /** Each add action's `_metadata.file_path` exactly as a scan of it
    * reports it: the file source renders the path through its string
    * form (`new Path(path.toString).toUri.toString`), which drops an
    * empty authority (`file:///t` reads back `file:/t`).
    */
  private[delta] def fileKey(snap: DeltaSnapshot): AddAction => String = {
    val path = filePath(snap)
    a => new Path(path(a).toString).toUri.toString
  }
}
