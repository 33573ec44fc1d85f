package graft.delta

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Scan options — the union of the reference's `PolarsSettings` +
  * scan keyword args (polars.py:42-69,361-378; duckdb.py:374-394).
  */
final case class ScanSettings(
    conditions: Seq[Cond] = Nil,
    fields: Option[Seq[String]] = None,
    excludeFields: Seq[String] = Nil,
    distinct: Boolean = false,
    limit: Option[Long] = None,
    version: Option[Long] = None,
    /** Timestamp time travel: scan the greatest version committed at or
      * before this instant (ignored when `version` is set).
      */
    timestampAsOf: Option[java.time.Instant] = None,
    actionFilter: AddAction => Boolean = _ => true,
    /** Target type overrides for timestamp columns — the reference's
      * `PolarsSettings.timestamp_type` / `timestamp_ntz_type`
      * (polars.py:42-69): e.g. read all TIMESTAMP columns as
      * TIMESTAMP_NTZ (or as StringType for export). Applied as a final
      * cast over the logical schema.
      */
    timestampType: Option[DataType] = None,
    timestampNtzType: Option[DataType] = None)

/** Compile a Delta snapshot into a Spark `DataFrame` — the engine's core.
  *
  * Per-file work (the reference's per-file SELECT list,
  * duckdb.py:450-522 / polars.py:444-550) collapses in Spark to three
  * moves:
  *
  *  1. read the parquet with an explicit *physical* schema
  *     (`spark.read.schema(phys)`): Spark matches nested fields by name
  *     against the footer and null-fills anything missing — schema
  *     evolution (P4) for free, no per-file footer probe needed;
  *  2. one `Cast` per top-level column back to the *logical* type:
  *     struct/array/map casts rename nested fields positionally, preserve
  *     NULL structs (no struct-of-NULLs regression) and absorb type
  *     widening — P1/P3/P5 in a single codegen'd expression;
  *  3. partition values typed per file by the index (P2).
  *
  * The plan is a single `FileSourceScanExec` through [[DeltaFileIndex]]
  * regardless of file or partition count (SURVEY §7 risk register:
  * union width), deletion vectors masked per file by a [[DvMask]] filter
  * over the same scan node.
  * Pruning (partition values + stats zone maps + limit) happens
  * driver-side AND planner-side (the index re-prunes cached frames).
  */
object DeltaScan {

  def scan(spark: SparkSession, path: String,
      settings: ScanSettings = ScanSettings()): DataFrame = {
    val v = settings.version.orElse(settings.timestampAsOf.map(t =>
      DeltaLog.versionAtTimestamp(spark, path, t)))
    val snap = DeltaLog.forPath(spark, path, v)
    scanSnapshot(snap, settings)
  }

  def scanSnapshot(snap: DeltaSnapshot,
      settings: ScanSettings = ScanSettings()): DataFrame = {
    val spark = snap.spark
    snap.checkProtocolSupported()
    val schema = snap.schema
    val partCols = snap.partitionColumns.toSet

    // column pruning pushed into the per-file projection (P6), while
    // partition/stat pruning may still reference any column
    val projected: Seq[StructField] = settings.fields match {
      case Some(fs) =>
        val want = fs.toSet
        schema.fields.toSeq.filter(f => want.contains(f.name))
      case None =>
        schema.fields.toSeq.filterNot(f => settings.excludeFields.contains(f.name))
    }

    // data filters may reference columns outside the projection
    // (pruning "may still reference any column"): read them too, filter,
    // then drop them in the final select
    val condCols = settings.conditions.map(_.column).toSet
    val readFields: Seq[StructField] = projected ++
      schema.fields.toSeq.filter(f =>
        condCols.contains(f.name) && !projected.exists(_.name == f.name))

    val dataFields = readFields.filterNot(f => partCols.contains(f.name))
    val physReadSchema = DeltaSchema.physicalize(StructType(dataFields))

    val actions = snap.addActionsFiltered(
      settings.conditions, settings.limit, settings.actionFilter)

    // one FileSourceScanExec through a DeltaFileIndex whatever the
    // partition count: the index hands the planner the file list, typed
    // partition values and log-derived size, Catalyst re-evaluates
    // partition pruning per query (cached DataFrames re-prune under new
    // predicates), and stats skipping runs on the pushed data filters
    // inside the index.
    //
    // Deletion vectors: a DvMask filter on the relation's own
    // `_metadata.file_path` / `_metadata.row_index` drops deleted rows
    // inside the scan's stage — no join, no exchange. Both are
    // deterministic attributes served by the file source (a
    // nondeterministic input_file_name() anywhere in the plan would stop
    // Catalyst pushing partition predicates through it — silently
    // disabling planner-side pruning on every DV table)
    val df =
      if (actions.isEmpty) emptyTyped(spark, StructType(readFields))
      else {
        val rel = fileRelation(snap, actions, physReadSchema)
        val dvActions = actions.filter(_.hasDeletionVector)
        val live =
          if (dvActions.isEmpty) rel
          else rel.where(DvMask.live(snap, dvActions,
            rel.col("_metadata.file_path"), rel.col("_metadata.row_index")))
        live.select(logicalColumns(snap, readFields): _*)
      }

    val filtered0 =
      if (settings.conditions.nonEmpty)
        df.where(Cond.compile(settings.conditions, Some(schema)))
      else df
    val narrowed =
      if (readFields.lengthCompare(projected.size) == 0) filtered0
      else filtered0.select(projected.map(f =>
        col(s"`${f.name.replace("`", "``")}`")): _*)

    val retyped =
      if (settings.timestampType.isEmpty && settings.timestampNtzType.isEmpty) narrowed
      else narrowed.select(projected.map { f =>
        val target = f.dataType match {
          case org.apache.spark.sql.types.TimestampType => settings.timestampType
          case org.apache.spark.sql.types.TimestampNTZType => settings.timestampNtzType
          case _ => None
        }
        val c = col(s"`${f.name.replace("`", "``")}`")
        target.fold(c)(t => c.cast(t).as(f.name))
      }: _*)

    val distinct = if (settings.distinct) retyped.distinct() else retyped
    settings.limit.fold(distinct)(n =>
      if (n >= Int.MaxValue) distinct // file-level pruning already applied
      else distinct.limit(n.toInt))
  }

  /** The raw file relation over `actions`: ONE `FileSourceScanExec`
    * through a [[DeltaFileIndex]] — `dataSchema` columns by physical
    * name, partition columns typed by the index (physical names), and
    * the file source's `_metadata` columns.
    */
  private[graft] def fileRelation(snap: DeltaSnapshot, actions: Seq[AddAction],
      dataSchema: StructType): DataFrame = {
    val index = new DeltaFileIndex(snap, actions)
    snap.spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, partitionSchema = index.partitionSchema,
        dataSchema = dataSchema, bucketSpec = None,
        fileFormat =
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        options = Map.empty)(snap.spark))
  }

  /** Logical columns `fields` over a [[fileRelation]]: partition
    * columns are typed by the index already (alias only, so their
    * predicates stay recognizable to PruneFileSourcePartitions); data
    * columns get one Cast from the physical column back to the logical
    * type.
    */
  private def logicalColumns(snap: DeltaSnapshot,
      fields: Seq[StructField]): Seq[Column] = {
    val logToPhys = DeltaSchema.logicalToPhysical(snap.schema)
    fields.map { f =>
      if (snap.partitionColumns.contains(f.name)) {
        val phys = logToPhys.getOrElse(f.name, f.name)
        col(s"`${phys.replace("`", "``")}`").as(f.name)
      } else {
        val phys = DeltaSchema.physicalName(f)
        // cast target is nullability-relaxed: the file relation reports
        // everything nullable, and Cast refuses nullable→non-nullable
        col(s"`${phys.replace("`", "``")}`").cast(relax(f.dataType)).as(f.name)
      }
    }
  }

  /** Logical scan of specific files that ALSO exposes `__graft_file`
    * (the file's `_metadata.file_path`, equal to
    * [[DeltaFileIndex.fileKey]] of its action) and `__graft_row_index`
    * (physical row position) — the DML verbs' predicate pass. One
    * [[fileRelation]]; existing deletion vectors are NOT applied (the
    * caller masks with [[DvMask]] where dead rows must not count).
    */
  private[graft] def scanWithRowIndex(
      snap: DeltaSnapshot, actions: Seq[AddAction],
      /** Physical columns read AS-IS beyond the table schema (absent in
        * a file ⇒ null-filled) — the materialized row-tracking columns.
        */
      extraPhysical: Seq[StructField] = Nil): DataFrame = {
    val schema = snap.schema
    val dataFields = schema.fields.toSeq
      .filterNot(f => snap.partitionColumns.contains(f.name))
    val rel = fileRelation(snap, actions, StructType(
      DeltaSchema.physicalize(StructType(dataFields)).fields ++ extraPhysical))
    rel.select(logicalColumns(snap, schema.fields.toSeq) ++
      extraPhysical.map(f => col(s"`${f.name.replace("`", "``")}`")) ++ Seq(
      rel.col("_metadata.file_path").as("__graft_file"),
      rel.col("_metadata.row_index").as("__graft_row_index")): _*)
  }

  /** Scan with STABLE ROW IDS (PROTOCOL.md#row-tracking): the logical
    * table columns plus `_row_id` and `_row_commit_version`, each
    * `coalesce(materialized column, baseRowId + physical row index)` /
    * `coalesce(materialized, defaultRowCommitVersion)` — the protocol's
    * resolution order, so ids survive OPTIMIZE rewrites (which
    * materialize them) and DV DML (which never moves surviving rows).
    * Deletion vectors are applied; files without row-tracking fields
    * yield null ids (tracking was suspended when they were written).
    */
  private[graft] def scanWithStableIds(snap: DeltaSnapshot): DataFrame = {
    val spark = snap.spark
    snap.checkProtocolSupported()
    val schema = snap.schema
    val actions = snap.liveFiles
    val idT = org.apache.spark.sql.types.LongType
    if (actions.isEmpty)
      return emptyTyped(spark, StructType(schema.fields ++ Seq(
        StructField("_row_id", idT), StructField("_row_commit_version", idT))))
    val matId = snap.configuration.get(DeltaWriter.MatRowIdKey)
    val matVer = snap.configuration.get(DeltaWriter.MatRowVersionKey)
    val extra = (matId.toSeq ++ matVer.toSeq).map(StructField(_, idT))
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    val scan = scanWithRowIndex(snap, actions, extra)
    val dvActions = actions.filter(_.hasDeletionVector)
    val live =
      if (dvActions.isEmpty) scan
      else scan.where(DvMask.live(snap, dvActions,
        col("__graft_file"), col("__graft_row_index")))
    import spark.implicits._
    val key = DeltaFileIndex.fileKey(snap)
    val info = actions.map(a => (key(a), a.baseRowId, a.defaultRowCommitVersion))
      .toDF("__graft_file", "__graft_base", "__graft_dver")
    val joined = live.join(broadcast(info), Seq("__graft_file"))
    import org.apache.spark.sql.functions.coalesce
    val rowId = coalesce((matId.map(q).toSeq :+
      (col("__graft_base") + col("__graft_row_index"))): _*).as("_row_id")
    val rowVer = coalesce((matVer.map(q).toSeq :+
      col("__graft_dver")): _*).as("_row_commit_version")
    joined.select(
      schema.fields.toSeq.map(f => q(f.name)) ++ Seq(rowId, rowVer): _*)
  }

  /** Zero live files ⇒ typed empty relation with the full logical schema
    * (duckdb.py:523-528, polars.py:551-558).
    */
  private def emptyTyped(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Deep nullability relaxation (every field/element/value nullable). */
  private[delta] def relax(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, relax(f.dataType), nullable = true, f.metadata)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(relax(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(relax(k), relax(v), valueContainsNull = true)
    case other => other
  }

  /** add.path is percent-encoded in the log (spaces etc.). Percent-decode
    * ONLY — form decoding (URLDecoder) would corrupt literal '+' to a
    * space.
    */
  private[delta] def decodePath(p: String): String =
    java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")

  /** The protocol allows absolute add.path URIs (shallow clones /
    * external files); only relative paths get the table-root prefix.
    * Absolute URIs are percent-encoded like relative paths (delta-spark
    * convention), so the PATH component is decoded the same way —
    * leaving it raw would break any clone whose source has
    * hive-escaped partition directories (their names contain literal
    * '%XX' sequences that the writer re-encodes as '%25XX').
    *
    * A URI is anything opening with an RFC-3986 scheme and a slash —
    * BOTH authority ("file:///t/x", "s3a://bucket/x") and
    * empty-authority single-slash forms ("file:/t/x", what
    * `org.apache.hadoop.fs.Path.toString` emits for local paths): a
    * '://'-only test mistook the latter for a relative path and mangled
    * it to '<base>/file:/t/x'. A relative add.path can never false-match
    * — hive escaping percent-encodes ':' in directory names.
    */
  private val SchemeSlash =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:/")

  private[delta] def resolvePath(base: String, rawPath: String): String =
    if (SchemeSlash.matcher(rawPath).find()) {
      val colon = rawPath.indexOf(':')
      val rest = rawPath.substring(colon + 1)
      if (rest.startsWith("//")) { // authority form: decode after it
        val j = rawPath.indexOf('/', colon + 3)
        if (j < 0) rawPath
        else rawPath.take(j) + decodePath(rawPath.substring(j))
      } else rawPath.take(colon + 1) + decodePath(rest)
    } else {
      val d = decodePath(rawPath)
      if (d.startsWith("/")) d else s"$base/$d"
    }
}
