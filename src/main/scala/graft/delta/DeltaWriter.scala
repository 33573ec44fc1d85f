package graft.delta

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types._

/** Minimal Delta transaction-log writer: parquet data files + commit
  * JSON with per-file partitionValues and footer-derived statistics
  * (numRecords / minValues / maxValues / nullCount — the zone maps the
  * scan's file skipping consumes).
  *
  * The reference is read-only (its roundtrip tests lean on delta-rs,
  * tests/test_polars_read.py:42-192); writing is our extension, kept to
  * the protocol subset the reader supports: reader v1 (v3+timestampNtz
  * when the schema needs it), hive-layout partitioning whose dir values
  * become `partitionValues`. New tables are created unmapped; appends
  * and DML into EXISTING column-mapped tables write physical column
  * names (toPhysical), so renamed-column tables stay fully writable.
  *
  * Scale: the data write is a normal distributed `df.write.parquet`;
  * only the log append (listing the new files + reading their footers)
  * is driver-side, O(files-in-commit).
  */
/** Result of a [[DeltaWriter.merge]]: how many existing target rows were
  * replaced (DV-deleted and re-added as their updated images) and how
  * many source rows were written in total — inserts are the difference.
  * `deletedRows` counts target rows removed by `deleteWhen` delete
  * clauses WITHOUT replacement (0 for a plain upsert merge).
  */
final case class MergeStats(updatedRows: Long, sourceRows: Long,
    deletedRows: Long = 0L)

/** Result of a [[DeltaWriter.restore]]: files re-added (live at the
  * target version but since removed), files removed (added since the
  * target version), and files whose deletion vector was reverted to the
  * target version's descriptor in place.
  */
final case class RestoreStats(
    restoredFiles: Long, removedFiles: Long, dvReverted: Long)

/** Result of a [[DeltaWriter.replaceWhere]]: files removed WHOLE by
  * partition-value proof, rows masked via deletion vectors in files the
  * metadata could not decide, and source rows written. `deletedRows` is
  * exact when every whole-removed file carried `numRecords` stats, None
  * otherwise — counting would force a read of data the commit only
  * needs to drop.
  */
final case class ReplaceWhereStats(
    removedFiles: Long, maskedRows: Long, writtenRows: Long,
    deletedRows: Option[Long])

object DeltaWriter extends Logging {

  /** Pin parquet timestamp encoding to INT64 micros for `body`, then
    * restore the session conf — Delta's physical timestamp encoding;
    * INT96 carries no usable column statistics and breaks strict readers
    * like delta-rs. Every parquet data write in this object must run
    * inside it.
    */
  private def withMicrosTimestamps[A](
      spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val oldTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try body
    finally oldTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
  }

  def write(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String] = Nil,
      mode: String = "overwrite",
      /** Transaction identifier (appId, version) recorded as a `txn`
        * action — the exactly-once ledger for streaming appends
        * (PROTOCOL.md#transaction-identifiers).
        */
      txn: Option[(String, Long)] = None,
      /** Z-order clustering columns: rows are range-partitioned on an
        * interleaved-bit key over these (numeric/string/date/timestamp)
        * columns before writing, so EVERY clustered column gets tight
        * per-file min/max zone maps — multi-dimensional file skipping,
        * where sorting by one column only helps that column. Strings
        * cluster by their byte prefix after common-prefix stripping.
        * The scale lever when queries filter several dimensions of a
        * 100 TB table.
        */
      zOrderBy: Seq[String] = Nil,
      /** Target file count per write when z-ordering (range buckets). */
      zFiles: Int = 8,
      /** Already-current snapshot to commit against, skipping the
        * per-call log replay — for high-frequency writers (DeltaSink)
        * that maintain one incrementally-advanced snapshot.
        */
      priorSnapshot: Option[DeltaSnapshot] = None,
      /** Table properties to set/merge into `metaData.configuration`
        * (TBLPROPERTIES) — e.g. `delta.checkpointInterval`. Existing
        * properties are inherited in every mode; entries given here win.
        */
      properties: Map[String, String] = Map.empty,
      /** Generated columns (PROTOCOL.md#default-columns — delta-spark's
        * `delta.generationExpression` field metadata), declared at
        * create/overwrite as column → SQL expression over the other
        * columns. On EVERY write (appends inherit from the table
        * schema): a batch omitting the column gets it computed; a batch
        * providing it is validated against the expression and rejected
        * on mismatch — a stored generated value may never disagree with
        * its definition.
        */
      generatedColumns: Map[String, String] = Map.empty,
      /** Identity columns (PROTOCOL.md#identity-columns), declared at
        * create/overwrite as column → (start, step). GENERATED ALWAYS:
        * every write that omits the column gets monotonic
        * system-assigned BIGINT values above the table's high-water
        * mark (tracked in `delta.identity.highWaterMark` field
        * metadata); providing the column rejects. The metadata change
        * per append makes concurrent identity appends CONFLICT via OCC
        * instead of silently assigning duplicate values.
        */
      identityColumns: Map[String, (Long, Long)] = Map.empty,
      /** Column defaults (PROTOCOL.md#default-columns — delta-spark's
        * `CURRENT_DEFAULT` field metadata), declared at
        * create/overwrite as column → constant SQL expression. Any
        * later append that omits the column writes the default VALUE,
        * materialized into the data file — readers need no feature
        * support, and explicit values always win. The expression may
        * not reference columns (delta-spark's constant rule).
        */
      defaultColumns: Map[String, String] = Map.empty,
      /** Clustered table (PROTOCOL.md#clustered-table — delta-spark's
        * liquid clustering), declared at create/overwrite: the columns
        * land in the `delta.clustering` domain (physical names) under
        * the `clustering` writer feature, this write lays its data out
        * z-ordered on them, and every later parameterless OPTIMIZE
        * RECLUSTERS on the stored columns instead of bin-packing —
        * the layout spec travels with the table, not the job. Mutually
        * exclusive with `partitionBy` (delta-spark's rule) and with an
        * explicit `zOrderBy` (clusterBy IS the layout declaration).
        */
      clusterBy: Seq[String] = Nil): Unit = {
    require(mode == "overwrite" || mode == "append", s"bad mode $mode")
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)

    val prior = priorSnapshot.orElse {
      if (fs.exists(new Path(root, "_delta_log"))) Some(DeltaLog.forPath(spark, path))
      else None
    }
    val version = prior.map(_.version + 1).getOrElse(0L)

    // generation expressions in force: the declaration at
    // create/overwrite, or the table schema's on append
    val isCreate = version == 0L || mode == "overwrite"
    // append: the TABLE's partitioning is the layout law — inherit it
    // when the caller passes none and reject a contradiction
    // (delta-spark parity: an append can never change partitioning).
    // Without this an argless append to a partitioned table writes
    // files with NO partitionValues — rows a reader then sees with a
    // null partition column instead of their real values.
    val partCols: Seq[String] =
      if (isCreate) partitionBy
      else {
        val tablePart = prior.map(_.partitionColumns).getOrElse(Nil)
        if (partitionBy.isEmpty) tablePart
        else {
          require(tablePart == partitionBy,
            s"append partitionBy (${partitionBy.mkString(",")}) " +
              s"contradicts the table's partitioning " +
              s"(${tablePart.mkString(",")})")
          partitionBy
        }
      }
    require(generatedColumns.isEmpty || isCreate,
      "generatedColumns can only be declared at table create/overwrite" +
        " — appends inherit them from the table schema")
    require(identityColumns.isEmpty || isCreate,
      "identityColumns can only be declared at table create/overwrite" +
        " — appends inherit them from the table schema")
    require(defaultColumns.isEmpty || isCreate,
      "defaultColumns can only be declared at table create/overwrite" +
        " — appends inherit them from the table schema")
    require(clusterBy.isEmpty || isCreate,
      "clusterBy can only be declared at table create/overwrite — use " +
        "alterClusterBy to change a live table's clustering columns")
    require(clusterBy.isEmpty || partitionBy.isEmpty,
      "a table is either clustered or partitioned, not both")
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy IS the layout declaration — do not pass zOrderBy too")
    defaultColumns.foreach { case (n, sql) =>
      require(!generatedColumns.contains(n) && !identityColumns.contains(n),
        s"column '$n' cannot combine a default with generation/identity")
      require(df.columns.contains(n),
        s"defaulted column '$n' is not a schema column")
      validateDefaultExpr(spark, n, sql, df.schema(n).dataType)
    }
    identityColumns.foreach { case (n, (_, step)) =>
      require(step > 0, s"identity column '$n' needs a positive step")
      require(!generatedColumns.contains(n),
        s"column '$n' cannot be both identity and generated")
    }
    // identity assignment runs FIRST — a generation expression may
    // reference the identity value
    val idSpecs: Seq[(String, Long, Long, Option[Long], Boolean)] =
      if (isCreate) identityColumns.toSeq.sortBy(_._1).map {
        case (n, (st, sp)) => (n, st, sp, Option.empty[Long], false)
      }
      else prior.map(p => Constraints.identityColumns(p.schema))
        .getOrElse(Nil)
    val (dfId0, idHwms, idCache) = assignIdentityValues(spark, df, idSpecs)
    // column defaults: an append omitting a defaulted column gets the
    // default VALUE (cast to the table's declared type) materialized
    // into the written file — runs before generation so a generated
    // column may reference a defaulted one. Create-time declarations
    // require the column present in the batch (the batch defines the
    // schema); appends inherit defaults from the table schema.
    val dfId = {
      val defSpecs: Seq[(String, String, org.apache.spark.sql.types.DataType)] =
        if (isCreate) Nil
        else prior.map { p =>
          Constraints.columnDefaults(p.schema).map { case (n, sql) =>
            (n, sql, p.schema(n).dataType)
          }
        }.getOrElse(Nil)
      defSpecs.filterNot(s => dfId0.columns.contains(s._1))
        .foldLeft(dfId0) { case (d, (n, sql, dt)) =>
          d.withColumn(n,
            org.apache.spark.sql.functions.expr(sql).cast(dt))
        }
    }
    val genExprs: Seq[(String, String)] =
      if (isCreate) generatedColumns.toSeq.sortBy(_._1)
      else prior.map(p => Constraints.generatedColumns(p.schema))
        .getOrElse(Nil)
    // a batch omitting a generated column gets it computed up front, so
    // schema derivation, validation and the data write all see it. On
    // append: omitted BASE columns the expression may reference are
    // null-filled first (exactly what a reader of the written file
    // sees — an omitted-nullable-column append is otherwise legal and
    // must not start failing analysis), and the computed value casts to
    // the table's declared type (the expression's natural type can be
    // wider, e.g. BIGINT for an INT column).
    val df0 = if (genExprs.isEmpty) dfId else {
      import org.apache.spark.sql.functions.{expr, lit}
      val priorFieldsByName = prior.map(_.schema)
        .filter(_ => mode == "append")
        .map(_.fields.map(f => f.name -> f).toMap)
        .getOrElse(Map.empty)
      val withBase = priorFieldsByName.values
        .filterNot(f => dfId.columns.contains(f.name))
        .filterNot(f => genExprs.exists(_._1 == f.name))
        .foldLeft(dfId)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
      genExprs.foldLeft(withBase) { case (d, (n, sql)) =>
        if (d.columns.contains(n)) d
        else {
          val computed = priorFieldsByName.get(n)
            .map(f => expr(sql).cast(f.dataType)).getOrElse(expr(sql))
          d.withColumn(n, computed)
        }
      }
    }

    // schema evolution on append: widen the table schema with any NEW
    // top-level columns in this batch (mergeSchema semantics) — existing
    // columns must keep their types (nullability/metadata variance
    // tolerated); readers null-fill the new columns for old files
    // automatically (explicit read schema). New columns are forced
    // nullable — they ARE null in every pre-evolution file. Validated
    // BEFORE the data write so a rejected append strands no files.
    val mergedSchemaPreId: StructType = prior.map(_.schema) match {
      case Some(cur) if mode == "append" && cur.fields.nonEmpty =>
        val curNames = cur.fieldNames.toSet
        df0.schema.fields.filter(f => curNames.contains(f.name)).foreach { f =>
          val old = cur(f.name)
          require(comparableType(old.dataType) == comparableType(f.dataType),
            s"append changes type of '${f.name}': ${old.dataType.simpleString}" +
              s" -> ${f.dataType.simpleString}")
        }
        // evolution-added columns keep the batch's metadata EXCEPT the
        // semantic keys: a df scanned off another Delta table carries
        // delta.generationExpression / columnMapping identities in its
        // field metadata, and copying those in would declare protocol
        // features (or foreign physical names) this table never minted
        StructType(cur.fields ++
          df0.schema.fields.filterNot(f => curNames.contains(f.name))
            .map { f =>
              val cleaned = Seq(Constraints.GenerationKey,
                Constraints.DefaultKey, Constraints.ExistsDefaultKey,
                Constraints.IdentityStartKey, Constraints.IdentityStepKey,
                Constraints.IdentityHighWaterMarkKey,
                Constraints.IdentityAllowExplicitKey,
                DeltaSchema.ColumnIdKey, DeltaSchema.PhysicalNameKey)
                .foldLeft(new MetadataBuilder().withMetadata(f.metadata)) {
                  (b, k) => b.remove(k)
                }.build()
              f.copy(nullable = true, metadata = cleaned)
            })
      case _ =>
        // create/overwrite: stamp declared generation expressions and
        // column defaults into the named fields' metadata (the
        // protocol's persistence shape). EXISTS_DEFAULT is stamped
        // here and ONLY here — at creation no pre-default files exist,
        // so Spark-based readers that honor it can never diverge.
        generatedColumns.keys.foreach(k =>
          require(df0.schema.fieldNames.contains(k),
            s"generated column '$k' is not a schema column"))
        defaultColumns.keys.foreach(k =>
          require(df0.schema.fieldNames.contains(k),
            s"defaulted column '$k' is not a schema column"))
        StructType(df0.schema.fields.map { f =>
          if (!generatedColumns.contains(f.name) &&
              !defaultColumns.contains(f.name)) f
          else {
            val b = new MetadataBuilder().withMetadata(f.metadata)
            generatedColumns.get(f.name)
              .foreach(b.putString(Constraints.GenerationKey, _))
            defaultColumns.get(f.name).foreach { sql =>
              b.putString(Constraints.DefaultKey, sql)
              b.putString(Constraints.ExistsDefaultKey, sql)
            }
            f.copy(metadata = b.build())
          }
        })
    }
    // identity metadata: declaration stamped at create; the advanced
    // high-water mark stamped on EVERY assigning write. The resulting
    // schemaString change flows through schemaEvolved → metaData
    // emission AND canRebase=false, which is load-bearing: two racing
    // identity appends must conflict, not rebase into duplicate values.
    val mergedSchema: StructType =
      if (idSpecs.isEmpty) mergedSchemaPreId
      else StructType(mergedSchemaPreId.fields.map { f =>
        val decl = if (isCreate) identityColumns.get(f.name) else None
        val newHwm = idHwms.get(f.name)
        if (decl.isEmpty && newHwm.isEmpty) f
        else {
          val b = new MetadataBuilder().withMetadata(f.metadata)
          decl.foreach { case (st, sp) =>
            b.putLong(Constraints.IdentityStartKey, st)
            b.putLong(Constraints.IdentityStepKey, sp)
          }
          newHwm.foreach(b.putLong(Constraints.IdentityHighWaterMarkKey, _))
          f.copy(metadata = b.build())
        }
      })
    val schemaEvolved = prior.exists(p =>
      mode == "append" && p.schema.fields.nonEmpty &&
        mergedSchema.json != p.schema.json)

    // table properties: inherited in every mode (a plain overwrite must
    // not wipe TBLPROPERTIES), merged with the caller's entries; a real
    // change forces a metaData re-emission even on a plain append
    val priorCfg =
      prior.flatMap(_.metadata).map(_.configuration).getOrElse(Map.empty)
    val propCfg00 = priorCfg ++ properties
    // generated-column partition pruning is timezone-sensitive: record
    // the zone this session materializes generated partition values
    // under (GeneratedPruning derives only when the recorded zone
    // matches the reading session). An append under a DIFFERENT zone
    // downgrades the property to "mixed" — the appended values are
    // correct, but the cross-zone monotone relation is no longer
    // provable, so derivation must disable rather than silently skip
    // matching partitions. Legacy tables (no recorded zone) are never
    // stamped on append: their history's zone is unknown.
    val propCfg0 = {
      val genPart = genExprs.exists { case (n, _) => partCols.contains(n) }
      if (!genPart) propCfg00
      else {
        val sessionZone = java.time.ZoneId
          .of(spark.sessionState.conf.sessionLocalTimeZone)
          .normalized().getId
        if (isCreate)
          propCfg00 + (GeneratedPruning.WriterZoneKey -> sessionZone)
        else propCfg00.get(GeneratedPruning.WriterZoneKey) match {
          case Some(z) if z != GeneratedPruning.MixedZone &&
              z != sessionZone =>
            propCfg00 +
              (GeneratedPruning.WriterZoneKey -> GeneratedPruning.MixedZone)
          case _ => propCfg00
        }
      }
    }
    // in-commit timestamps: the ENABLING commit records its provenance
    // (spec: enablementVersion = this commit, enablementTimestamp =
    // this commit's own ICT — pinned via ictFixed so they agree).
    // cfgChanged disables the append rebase, so `version` is final here.
    val newlyIct = ictEnabled(propCfg0) && !ictEnabled(priorCfg)
    val ictFixed: Option[Long] =
      if (!newlyIct) None
      else Some(math.max(System.currentTimeMillis(),
        DeltaLog.ictOf(spark, path, version - 1).map(_ + 1L).getOrElse(0L)))
    val propCfg = if (!newlyIct) propCfg0 else propCfg0 +
      ("delta.inCommitTimestamp.enablementVersion" -> version.toString) +
      ("delta.inCommitTimestamp.enablementTimestamp" ->
        ictFixed.get.toString)

    // Column-mapped tables: every field of an emitted schemaString must
    // carry delta.columnMapping.id + physicalName or conforming readers
    // reject the table. This writer APPENDS TO and EVOLVES existing
    // mapped tables (created by a conforming engine), minting conformant
    // ids for new columns INCLUDING nested struct fields; the operations
    // needing a coordinated identity re-assignment are rejected loudly:
    // upgrading an unmapped table to mapping mode (existing files carry
    // logical names — fresh physical names would null-fill all old
    // data) and replacing a mapped table's schema via overwrite.
    val priorMode = priorCfg.getOrElse("delta.columnMapping.mode", "none")
    require(propCfg.getOrElse("delta.columnMapping.mode", "none") == priorMode,
      "changing delta.columnMapping.mode via write(properties) is not " +
        "supported — a mapping upgrade needs coordinated physical-name " +
        "assignment for existing files")
    val mappingMode = priorMode != "none"
    require(!(mappingMode && mode == "overwrite"),
      "overwrite of a column-mapped table is not supported (the " +
        "replacement schema would need fresh column-mapping identities); " +
        "create a new table or use merge/update/restore")
    val (tableSchema, newCfg) =
      if (!mappingMode) (mergedSchema, propCfg)
      else {
        def idsIn(dt: DataType): Seq[Long] = dt match {
          case s: StructType => s.fields.toSeq.flatMap(f =>
            (if (f.metadata.contains(DeltaSchema.ColumnIdKey))
              Seq(f.metadata.getLong(DeltaSchema.ColumnIdKey)) else Nil) ++
              idsIn(f.dataType))
          case ArrayType(et, _) => idsIn(et)
          case MapType(k, v, _) => idsIn(k) ++ idsIn(v)
          case _ => Nil
        }
        val priorSchema = prior.map(_.schema).getOrElse(new StructType())
        val priorFields = priorSchema.fields.map(f => f.name -> f).toMap
        // floored by the ids already in the schema: a stale/absent
        // maxColumnId must never mint a duplicate id
        var maxId = (propCfg.get("delta.columnMapping.maxColumnId")
          .flatMap(_.toLongOption).getOrElse(0L) +:
          idsIn(priorSchema)).max
        val seeded = maxId
        val fields = mergedSchema.fields.map { f =>
          priorFields.get(f.name) match {
            case Some(_) if f.metadata.contains(
                DeltaSchema.PhysicalNameKey) =>
              // mergedSchema's existing fields ARE the prior fields —
              // mapping identity included — possibly with a freshly
              // stamped identity high-water mark; replacing with the
              // prior metadata would silently revert that stamp
              f
            case _ =>
              // conformant id minting for the NEW column AND every
              // nested struct field under it — ONE implementation
              // (mintFieldIdentity) shared with addColumn; toPhysical's
              // relaxed struct cast renames nested fields positionally
              // on the data write, so files land fully physical-named
              val (minted, m2) = mintFieldIdentity(f, maxId)
              maxId = m2
              minted
          }
        }
        val cfg =
          if (maxId == seeded &&
              propCfg.contains("delta.columnMapping.maxColumnId")) propCfg
          else propCfg + ("delta.columnMapping.maxColumnId" -> maxId.toString)
        (StructType(fields), cfg)
      }
    val cfgChanged = newCfg != priorCfg

    // Table-constraint enforcement (Constraints.scala) — all BEFORE the
    // data write, so a rejected batch strands no files. Overwrite of an
    // append-only table destroys committed rows; explicitly passing
    // delta.appendOnly=false in this call's properties lifts the gate
    // (the ALTER TABLE analogue). A CHECK constraint arriving via
    // write(properties) on a table that still carries rows would demand
    // a full-table validation scan hidden inside an append — route that
    // through addCheckConstraint, which does it loudly.
    if (mode == "overwrite" && prior.isDefined)
      Constraints.requireNotAppendOnly(newCfg, "overwrite", path)
    // NEW constraints and CHANGED expressions both demand a full-table
    // validation scan over existing rows — neither may arrive hidden in
    // an append's properties
    val newConstraintKeys = newCfg.collect {
      case (k, v) if k.startsWith(Constraints.Prefix) &&
        !priorCfg.get(k).contains(v) => k
    }.toSet
    // "no existing rows" = every live file provably holds zero live
    // records (an empty-DataFrame create still writes one 0-row part
    // file); absent stats fail closed
    require(newConstraintKeys.isEmpty || mode == "overwrite" ||
        prior.forall(_.liveFiles.forall(_.liveRecords.contains(0L))),
      s"adding or changing CHECK constraints (${newConstraintKeys.mkString(", ")}) " +
        "on a table with existing data via write(properties) is not " +
        "supported — use DeltaWriter.addCheckConstraint, which validates " +
        "existing rows first")
    // row tracking: assignment needs a backfill when rows pre-date the
    // property — only enable at creation (or while PHYSICALLY empty:
    // DV-deleted rows still occupy files that would lack baseRowId, so
    // liveRecords is the wrong predicate here, unlike the constraints
    // guard where only visible rows matter)
    val rtEnabled = rowTrackingEnabled(newCfg)
    require(!rtEnabled || rowTrackingEnabled(priorCfg) ||
        prior.forall(_.liveFiles.forall(
          _.parsedStats.flatMap(_.numRecords).contains(0L))),
      "enabling delta.enableRowTracking on a table with existing rows " +
        "needs a backfill — run DeltaWriter.enableRowTracking(path) " +
        "(one commit that re-states every live file with fresh " +
        "baseRowIds), or enable it at table creation")

    // enforcement persists the batch across validate+write: a
    // non-deterministic batch plan must not pass validation on one
    // materialization and write another
    val enforced = Constraints.hasRules(df0, mergedSchema, newCfg)
    val dfV = if (enforced)
      df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df0
    try Constraints.validateBatch(dfV, mergedSchema, newCfg,
      s"$mode to $path")
    catch {
      case t: Throwable =>
        if (enforced) dfV.unpersist()
        idCache.foreach(_.unpersist())
        throw t
    }

    // Delta stores timestamps as INT64 micros (INT96, Spark's legacy
    // default, also carries no usable column statistics). Data files
    // carry PHYSICAL column names — appending logical-named files to a
    // column-mapped table would null-fill silently on read.
    //
    // Optimized write (`delta.autoOptimize.optimizeWrite`): one AQE
    // REBALANCE shuffle before the write, so output files land near
    // the advisory partition size — undersized shuffle partitions
    // coalesce and skewed ones split, both AQE-native. A partitioned
    // write rebalances ON the partition columns, clustering rows by
    // target directory first: without it every input task writes a
    // file into every matching directory, the classic
    // tasks × partitions small-file explosion at 100 TB. Explicit
    // z-ordering already prescribes its own layout and wins.
    // a clustered table's declaration (the delta.clustering domain)
    // SURVIVES log replay across an overwrite, so an overwrite that
    // does not re-declare must decide its fate explicitly: keep it
    // when it still makes sense (unpartitioned, every stored physical
    // column still in the new schema — the protocol then keeps the
    // clustering feature too), tombstone it otherwise — a silently
    // surviving stale declaration would leave the table "partitioned
    // AND clustered" or point OPTIMIZE at columns that no longer exist
    val priorClusterPhys: Seq[String] =
      if (mode != "overwrite") Nil
      else prior.map(clusteringPhysicalColumns).getOrElse(Nil)
    val keepPriorCluster = clusterBy.isEmpty && priorClusterPhys.nonEmpty &&
      partitionBy.isEmpty && {
        val newPhys = tableSchema.fields.map(DeltaSchema.physicalName).toSet
        priorClusterPhys.forall(newPhys)
      }
    val dropPriorCluster =
      clusterBy.isEmpty && priorClusterPhys.nonEmpty && !keepPriorCluster
    // delta-spark parity: ZORDER BY contradicts a clustering
    // declaration the table keeps — the layout it writes is not the
    // one the next parameterless OPTIMIZE would rebuild
    require(zOrderBy.isEmpty || !keepPriorCluster,
      "zOrderBy on an overwrite that keeps the table's clustering " +
        "declaration is not allowed — re-declare clusterBy instead")

    val optimizeWrite = newCfg.get("delta.autoOptimize.optimizeWrite")
      .exists(_.trim.equalsIgnoreCase("true"))
    val layoutCols = if (clusterBy.nonEmpty) clusterBy else zOrderBy
    // an append may legally omit a nullable partition column — fill it
    // with null so the hive layout records it (HIVE_DEFAULT dir → null
    // partitionValue), exactly what a reader of the omitted column
    // sees. The fill must precede the optimized-write rebalance hint
    // below: the hint's expressions name the partition columns and
    // would fail analysis against a frame missing one.
    val dfF = partCols.filterNot(dfV.columns.contains).foldLeft(dfV) {
      (d, c) => d.withColumn(c, org.apache.spark.sql.functions.lit(null)
        .cast(tableSchema.fields.find(_.name == c)
          .map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.StringType)))
    }
    val df1 =
      if (layoutCols.nonEmpty)
        dfF.repartitionByRange(zFiles, zOrderColumn(dfF, layoutCols).asc)
      else if (optimizeWrite) {
        if (partCols.nonEmpty) dfF.hint("rebalance",
          partCols.map(org.apache.spark.sql.functions.col): _*)
        else dfF.hint("rebalance")
      } else dfF
    val newFiles = try withMicrosTimestamps(spark) {
      withAdvisorySize(spark,
        if (optimizeWrite) targetFileSize(newCfg) else None) {
        writeFiles(fs, root) { dir =>
          toPhysical(df1, tableSchema).write.mode("append")
            .partitionBy(physicalPartitionBy(partCols, tableSchema): _*)
            .parquet(dir)
        }
      }
    } finally {
      if (enforced) dfV.unpersist()
      idCache.foreach(_.unpersist())
    }

    val nf = JsonNodeFactory.instance
    val lines = mutable.ArrayBuffer.empty[String]

    if (version == 0L || mode == "overwrite" || schemaEvolved || cfgChanged) {
      val needsNtz = mergedSchema.exists(f => hasNtz(f.dataType))
      val priorHasNtz = prior.flatMap(_.protocol).exists(p =>
        p.minReaderVersion >= 3 &&
          p.readerFeatures.exists(_.contains("timestampNtz")))
      // a table whose configuration opts into v2 checkpoints must carry
      // the v2Checkpoint feature BEFORE any such checkpoint is written —
      // a featureless reader opening the table must learn from the
      // protocol that UUID-named checkpoints may exist
      val wantsV2Cp = newCfg.get("delta.checkpointPolicy").contains("v2")
      val priorHasV2Cp = prior.flatMap(_.protocol).exists(
        _.readerFeatures.exists(_.contains("v2Checkpoint")))
      val hasConstraints =
        newCfg.keys.exists(_.startsWith(Constraints.Prefix))
      val hasGenerated = Constraints.generatedColumns(mergedSchema).nonEmpty
      val hasIdentity = Constraints.identityColumns(mergedSchema).nonEmpty
      val hasDefaults = Constraints.columnDefaults(mergedSchema).nonEmpty
      val wantIct = ictEnabled(newCfg)
      val declaresCluster = clusterBy.nonEmpty || keepPriorCluster
      if (version == 0L || mode == "overwrite") {
        val rw = (if (needsNtz) Seq("timestampNtz") else Nil) ++
          (if (wantsV2Cp) Seq("v2Checkpoint") else Nil)
        val writerOnly =
          (if (hasConstraints) Seq("checkConstraints") else Nil) ++
            (if (hasGenerated) Seq("generatedColumns") else Nil) ++
            (if (hasIdentity) Seq("identityColumns") else Nil) ++
            (if (hasDefaults) Seq("allowColumnDefaults") else Nil) ++
            (if (wantIct) Seq("inCommitTimestamp") else Nil) ++
            (if (declaresCluster) Seq("clustering") else Nil) ++
            (if (rtEnabled || declaresCluster || dropPriorCluster)
              Seq("domainMetadata") else Nil) ++
            (if (rtEnabled) Seq("rowTracking") else Nil)
        val protocol = nf.objectNode()
        val p = protocol.putObject("protocol")
        if (rw.nonEmpty) {
          // feature form: reader-writer features land in BOTH arrays;
          // checkConstraints/generatedColumns/inCommitTimestamp are
          // writer-only
          p.put("minReaderVersion", 3).put("minWriterVersion", 7)
          val rfa = p.putArray("readerFeatures"); rw.foreach(rfa.add)
          val wfa = p.putArray("writerFeatures")
          (rw ++ writerOnly).foreach(wfa.add)
        } else if (wantIct || rtEnabled || hasDefaults ||
            declaresCluster || dropPriorCluster) {
          // no legacy writer version implies inCommitTimestamp,
          // rowTracking, allowColumnDefaults or clustering (the
          // tombstone for a dropped declaration is a domainMetadata
          // action too): writer features only, reader stays legacy
          p.put("minReaderVersion", 1).put("minWriterVersion", 7)
          val wfa = p.putArray("writerFeatures")
          (Seq("appendOnly", "invariants") ++ writerOnly).foreach(wfa.add)
        } else p.put("minReaderVersion", 1)
          // legacy writer versions imply the features: 3 ⊇
          // checkConstraints, 4 ⊇ generatedColumns, 6 ⊇ identityColumns
          .put("minWriterVersion",
            if (hasIdentity) 6
            else if (hasGenerated) 4
            else if (hasConstraints) 3 else 2)
        // an overwrite must never DOWNGRADE the protocol — the Delta
        // spec only removes features via the explicit drop-feature
        // process, so a replaced table keeps every previously minted
        // feature (clustering, allowColumnDefaults, …) even when the
        // new data no longer exercises it
        val recomputed = ActionCodec.parseProtocol(protocol.get("protocol"))
        val merged = prior.flatMap(_.protocol)
          .map(unionProtocols(recomputed, _)).getOrElse(recomputed)
        val mergedObj = nf.objectNode()
        mergedObj.set[JsonNode]("protocol", protocolNode(merged))
        lines += mergedObj.toString
      } else {
        // evolution introduced an NTZ column and/or the properties newly
        // opted into v2 checkpoints: the protocol must gain the features
        // (folding in what the legacy versions implied). Constraints
        // arriving on an append (only possible while the table holds no
        // rows — the guard above) must announce checkConstraints too.
        val priorImpliesCc = prior.flatMap(_.protocol).exists(p =>
          p.writerFeatures.map(_.contains("checkConstraints"))
            .getOrElse(p.minWriterVersion >= 3))
        val gainsCc = hasConstraints && !priorImpliesCc
        val gained = (if (needsNtz && !priorHasNtz) Seq("timestampNtz")
          else Nil) ++
          (if (wantsV2Cp && !priorHasV2Cp) Seq("v2Checkpoint") else Nil)
        val newlyRt = rtEnabled && !rowTrackingEnabled(priorCfg)
        val gainsW: Seq[(String, Option[Int])] =
          (if (gainsCc) Seq("checkConstraints" -> Some(3)) else Nil) ++
            (if (newlyIct) Seq("inCommitTimestamp" -> None) else Nil) ++
            (if (newlyRt) Seq("rowTracking" -> None,
              "domainMetadata" -> None) else Nil)
        if (gained.nonEmpty)
          lines += upgradedProtocolJson(prior.flatMap(_.protocol),
            gained ++ gainsW.map(_._1): _*)
        else if (gainsW.nonEmpty) {
          // fold writer-only gains into ONE protocol line
          var cur = prior.flatMap(_.protocol)
          var line: Option[String] = None
          gainsW.foreach { case (f, impliedBy) =>
            writerFeatureProtocolLine(cur, f, impliedBy).foreach { l =>
              line = Some(l)
              cur = Some(ActionCodec.parseProtocol(
                ActionCodec.mapper.readTree(l).get("protocol")))
            }
          }
          line.foreach(lines += _)
        }
      }

      val meta = nf.objectNode()
      val m = meta.putObject("metaData")
      m.put("id", prior.flatMap(_.metadata).flatMap(_.id).getOrElse(
        java.util.UUID.nameUUIDFromBytes(
          path.getBytes(StandardCharsets.UTF_8)).toString))
      val fmt = m.putObject("format")
      fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", tableSchema.json)
      val pc = m.putArray("partitionColumns")
      partCols.foreach(pc.add)
      // inherited properties merged with the caller's (never wiped)
      val cfg = m.putObject("configuration")
      newCfg.foreach { case (k, v) => cfg.put(k, v) }
      m.put("createdTime",
        (if (mode == "append") prior.flatMap(_.metadata).flatMap(_.createdTime)
        else None).getOrElse(System.currentTimeMillis()))
      lines += meta.toString
    }
    // clustered table: the clustering columns live in the
    // delta.clustering domain under their PHYSICAL names (the spec's
    // shape), so renames never orphan the declaration
    if (isCreate && clusterBy.nonEmpty) {
      val logToPhys = DeltaSchema.logicalToPhysical(tableSchema)
      clusterBy.foreach(c => require(logToPhys.contains(c),
        s"clusterBy column '$c' is not a schema column"))
      lines += clusteringDomainLine(clusterBy.map(logToPhys))
    } else if (dropPriorCluster) {
      val o = nf.objectNode()
      val d = o.putObject("domainMetadata")
      d.put("domain", "delta.clustering")
      d.put("configuration", "{}")
      d.put("removed", true)
      lines += o.toString
    }

    if (mode == "overwrite") prior.foreach(_.liveFiles.foreach { a =>
      val rm = nf.objectNode()
      val r = rm.putObject("remove")
      r.put("path", a.path)
      r.put("deletionTimestamp", System.currentTimeMillis())
      r.put("dataChange", true)
      lines += rm.toString
    })

    newFiles.foreach { rel =>
      lines += addActionLine(fs, root, rel,
        statsIndexedSchema(DeltaSchema.physicalize(tableSchema), newCfg))
    }

    txn.foreach { case (appId, v) => lines += txnLine(appId, v) }

    val opName = if (mode == "overwrite") "WRITE" else "APPEND"
    lines += commitInfoLine(opName,
      params = Map("mode" -> mode) ++
        (if (partCols.nonEmpty)
          Map("partitionBy" -> partCols.mkString(",")) else Map.empty),
      metrics = Map("numFiles" -> newFiles.size.toLong))

    // Optimistic concurrency. Only a PLAIN data append may rebase past
    // a winner (validated: a winner that changed table metadata aborts
    // it — its files were written under the old schema): a v0 commit
    // carries this writer's protocol/metaData (would clobber the
    // winner's schema), a txn action embeds an exactly-once watermark
    // check that the race invalidates, overwrites/evolutions were
    // computed against state that just changed, and a row-tracked
    // append's winner may have advanced the same high-water mark
    // (rebasing would mint duplicate row ids) — all of those commit at
    // their exact version. `ictFixed` is only set on a cfgChanged
    // write, so the enablement version it records is final.
    val canRebase =
      mode == "append" && !schemaEvolved && !cfgChanged &&
        txn.isEmpty && version > 0L && !rtEnabled
    try commit(spark, path, prior, lines.toSeq,
      if (canRebase) Rebase(Set.empty) else ExactVersion, opName, newCfg,
      ictFixed)
    catch {
      // write() reports every lost race as an IOException
      case e: java.util.ConcurrentModificationException =>
        throw new java.io.IOException(e.getMessage, e)
    }
    // live-file sizes derivable from what this call already holds (the
    // prior snapshot's adds on append, plus the files just written) —
    // so the below-threshold common case never replays the log
    maybeAutoCompact(spark, path, newCfg, {
      val carried = if (mode == "append")
        prior.map(_.liveFiles.map(_.size)).getOrElse(Nil) else Nil
      carried ++ newFiles.map(rel =>
        fs.getFileStatus(new Path(root, rel)).getLen)
    })
  }

  /** `delta.targetFileSize` as bytes (accepts a plain count or a
    * size suffix like `128mb`), when set and parseable.
    */
  private def targetFileSize(cfg: Map[String, String]): Option[Long] =
    cfg.get("delta.targetFileSize").flatMap { raw =>
      try Some(org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(raw.trim))
      catch { case _: NumberFormatException => None }
    }.filter(_ > 0)

  /** Scope AQE's advisory partition size to `body` so an optimized
    * write honors `delta.targetFileSize` — the REBALANCE shuffle then
    * coalesces/splits toward that size instead of the session default.
    * Single-writer assumption: this set/restore mutates the SHARED
    * session conf, so a concurrent query in the same SparkSession can
    * observe the temporary value (or have its own setting clobbered by
    * the restore). Writers are expected to own their session for the
    * duration of a write — the same contract delta-spark's
    * optimized-write path has; a fully isolated alternative would
    * clone the session per write, which breaks relation cache reuse.
    */
  private def withAdvisorySize[A](
      spark: org.apache.spark.sql.SparkSession,
      bytes: Option[Long])(body: => A): A = bytes match {
    case None => body
    case Some(b) =>
      val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, b.toString)
      try body
      finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
  }

  /** `domainMetadata` action declaring the clustering columns
    * (PROTOCOL.md#clustered-table: domain `delta.clustering`,
    * configuration `{"clusteringColumns":[["phys"],…]}` — each inner
    * array is a physical-name path, one element for top-level columns).
    */
  private def clusteringDomainLine(physCols: Seq[String]): String = {
    val nf = JsonNodeFactory.instance
    val o = nf.objectNode()
    val d = o.putObject("domainMetadata")
    d.put("domain", "delta.clustering")
    val cfg = nf.objectNode()
    val arr = cfg.putArray("clusteringColumns")
    physCols.foreach(c => arr.addArray().add(c))
    d.put("configuration", cfg.toString)
    d.put("removed", false)
    o.toString
  }

  /** The table's clustering columns as stored — PHYSICAL names (empty
    * when not a clustered table or when the declaration is tombstoned).
    */
  private[delta] def clusteringPhysicalColumns(
      snap: DeltaSnapshot): Seq[String] =
    snap.domains.get("delta.clustering").toSeq.flatMap { json =>
      val node = ActionCodec.mapper.readTree(json)
      if (node.path("removed").asBoolean(false)) Nil
      else {
        val cfg = ActionCodec.mapper.readTree(
          node.path("configuration").asText("{}"))
        import scala.jdk.CollectionConverters._
        cfg.path("clusteringColumns").elements().asScala.toSeq
          .flatMap(p => Option(p.get(0)).map(_.asText))
      }
    }

  /** The table's clustering columns as LOGICAL names: maps the stored
    * physical names back through the current schema.
    */
  def clusteringColumns(snap: DeltaSnapshot): Seq[String] = {
    val physToField = DeltaSchema.physicalToField(snap.schema)
    clusteringPhysicalColumns(snap)
      .map(phys => physToField.get(phys).map(_.name).getOrElse(phys))
  }

  /** ALTER TABLE … CLUSTER BY: replace the clustering columns (or
    * declare them on an unclustered, unpartitioned table) in one
    * metadata-only commit — existing data keeps its layout; the next
    * OPTIMIZE reclusters on the new columns. `Nil` removes the
    * declaration (ALTER TABLE … CLUSTER BY NONE). Returns the
    * committed version.
    */
  def alterClusterBy(spark: org.apache.spark.sql.SparkSession,
      path: String, cols: Seq[String]): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    require(cols.isEmpty || snap.partitionColumns.isEmpty,
      "a table is either clustered or partitioned, not both")
    val logToPhys = DeltaSchema.logicalToPhysical(snap.schema)
    cols.foreach(c => require(logToPhys.contains(c),
      s"clusterBy column '$c' is not a schema column " +
        s"(have: ${snap.schema.fieldNames.mkString(", ")})"))
    val lines = mutable.ArrayBuffer.empty[String]
    val hasFeature = snap.protocol.exists(p =>
      p.writerFeatures.exists(fs => fs.contains("clustering") &&
        fs.contains("domainMetadata")))
    if (cols.nonEmpty && !hasFeature)
      lines += upgradedProtocolJson(snap.protocol,
        "clustering", "domainMetadata")
    if (cols.isEmpty && clusteringPhysicalColumns(snap).isEmpty)
      // CLUSTER BY NONE on a never-clustered table: committing the
      // tombstone would write a domainMetadata action a legacy
      // protocol never minted the feature for — no-op instead.
      return snap.version
    if (cols.isEmpty) {
      val nf = JsonNodeFactory.instance
      val o = nf.objectNode()
      val d = o.putObject("domainMetadata")
      d.put("domain", "delta.clustering")
      d.put("configuration", "{}")
      d.put("removed", true)
      lines += o.toString
    } else lines += clusteringDomainLine(cols.map(logToPhys))
    lines += commitInfoLine("CLUSTER BY",
      params = Map("clusterBy" -> cols.mkString(",")))
    commit(spark, path, Some(snap), lines.toSeq, Rebase(Set.empty),
      "CLUSTER BY", snap.configuration)
  }

  /** Post-commit auto-compaction (`delta.autoOptimize.autoCompact`):
    * when the table has accumulated at least
    * `graft.autoCompact.minNumFiles` (default 50) live files smaller
    * than half the target file size, run one dataChange=false
    * compaction inline. Best-effort like auto-checkpointing — the
    * append is already durable, so a failed or OCC-beaten compaction
    * only warns. Row-tracked tables skip: compact SUPPORTS them (via
    * materialized row-id columns), but the first such compaction
    * commits a table-property change to do it — a decision an
    * automatic post-commit hook must not take silently; that choice
    * belongs to an explicit OPTIMIZE. `liveSizes` comes from state the
    * committing write already holds, so the below-threshold common
    * case costs one in-memory count — no log replay; only a triggered
    * compaction re-reads the log (inside compact itself). The 100 TB
    * shape: a high-frequency appender self-heals its small-file debt
    * without an external OPTIMIZE scheduler, and the threshold keeps
    * the amortized cost at one rewrite per `minNumFiles` appends.
    */
  private def maybeAutoCompact(
      spark: org.apache.spark.sql.SparkSession, path: String,
      config: Map[String, String], liveSizes: => Seq[Long]): Unit = {
    if (!config.get("delta.autoOptimize.autoCompact")
        .exists(_.trim.equalsIgnoreCase("true"))) return
    if (rowTrackingEnabled(config)) return
    val minFiles = config.get("graft.autoCompact.minNumFiles")
      .flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(50)
    val target = targetFileSize(config).getOrElse(128L * 1024 * 1024)
    try {
      if (liveSizes.count(_ < target / 2) >= minFiles)
        compact(spark, path, target, reclusterIfClustered = false)
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"auto-compact of $path failed", e)
    }
  }

  /** The writer features each legacy minWriterVersion implies
    * (PROTOCOL.md feature table) — shared by every protocol-upgrade
    * path so the implication table cannot drift.
    */
  private val ImpliedWriterFeatures: Seq[(Int, String)] =
    Seq(2 -> "appendOnly", 2 -> "invariants",
      3 -> "checkConstraints", 4 -> "changeDataFeed",
      4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns")

  private def protocolNode(p: DeltaProtocol) = {
    val o = JsonNodeFactory.instance.objectNode()
    o.put("minReaderVersion", p.minReaderVersion)
    o.put("minWriterVersion", p.minWriterVersion)
    p.readerFeatures.foreach { fts =>
      val a = o.putArray("readerFeatures"); fts.foreach(a.add) }
    p.writerFeatures.foreach { fts =>
      val a = o.putArray("writerFeatures"); fts.foreach(a.add) }
    o
  }

  /** VERSION CHECKSUM (`<version>.crc`, delta-spark's shape): a
    * post-commit table-state summary — numFiles / tableSizeBytes plus
    * the post-state metadata and protocol objects — that an independent
    * reader can cross-check replay against (DeltaLog.forPath does, and
    * fails loudly on divergence). State is computed INCREMENTALLY by
    * folding this commit's add/remove lines over the prior snapshot's
    * live set: no log replay lands on the commit path. Best-effort like
    * the auto-checkpoint — the commit is already durable, so a crc
    * failure only warns. Callers skip it when an OCC rebase moved the
    * version (the winners' files are not in `prior`, so incremental
    * accounting would be wrong; an absent crc is always legal).
    */
  private def writeCrc(spark: org.apache.spark.sql.SparkSession,
      deltaPath: String, version: Long,
      prior: Option[DeltaSnapshot], lines: Seq[String]): Unit = try {
    val live = mutable.Map.empty[String, Long]
    prior.foreach(_.liveFiles.foreach(a => live(a.path) = a.size))
    val nodes = lines.map(ActionCodec.mapper.readTree)
    nodes.foreach(n => Option(n.get("remove")).filterNot(_.isNull)
      .flatMap(r => Option(r.get("path")).map(_.asText))
      .foreach(live.remove))
    nodes.foreach(n => Option(n.get("add")).filterNot(_.isNull).foreach { a =>
      live(a.get("path").asText) =
        Option(a.get("size")).filterNot(_.isNull).map(_.asLong).getOrElse(0L)
    })
    val metaNode = nodes
      .flatMap(n => Option(n.get("metaData")).filterNot(_.isNull)).lastOption
      .orElse(prior.flatMap(_.metadata).map(md =>
        ActionCodec.mapper.readTree(metadataLine(deltaPath, md,
          md.configuration)).get("metaData")))
    val protoNode = nodes
      .flatMap(n => Option(n.get("protocol")).filterNot(_.isNull)).lastOption
      .orElse(prior.flatMap(_.protocol).map(protocolNode))
    val o = JsonNodeFactory.instance.objectNode()
    o.put("txnId", java.util.UUID.randomUUID().toString)
    o.put("tableSizeBytes", live.values.sum)
    o.put("numFiles", live.size.toLong)
    o.put("numMetadata", 1L)
    o.put("numProtocol", 1L)
    // ICT tables: delta-spark's VersionChecksum carries the commit's
    // own inCommitTimestamp (`inCommitTimestampOpt`) so a crc-trusting
    // reader can resolve timestamp time travel without opening the
    // commit JSON — mirror it from the stamped commitInfo.
    nodes.flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull)
        .flatMap(c => Option(c.get("inCommitTimestamp")).filterNot(_.isNull)))
      .headOption.foreach(t => o.put("inCommitTimestampOpt", t.asLong))
    metaNode.foreach(m => o.set[JsonNode]("metadata", m))
    protoNode.foreach(p => o.set[JsonNode]("protocol", p))
    val root = new Path(deltaPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val crc = new Path(new Path(root, "_delta_log"), f"$version%020d.crc")
    val out = fs.create(crc, false)
    try out.write((o.toString + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  } catch {
    case scala.util.control.NonFatal(e) =>
      logWarning(s"version checksum for $deltaPath v$version failed", e)
  }

  /** Auto-checkpoint: after committing `version`, write a classic
    * checkpoint when it is a multiple of the table's
    * `delta.checkpointInterval` (default 10, the Delta default).
    * Without this a high-frequency writer (DeltaSink at one commit per
    * micro-batch) grows the log unboundedly and every fresh reader
    * replays it commit by commit — the checkpoint bounds log replay to
    * O(interval) JSON reads. Failures only WARN: the commit already
    * succeeded and is the durable state; surfacing an error here would
    * make callers retry a write that happened (duplicate data), while a
    * missed checkpoint merely costs replay time.
    */
  private def maybeCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String,
      version: Long, config: Map[String, String]): Unit = {
    val interval = config.get("delta.checkpointInterval")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(10)
    if (version > 0L && version % interval == 0L)
      try {
        writeCheckpoint(DeltaLog.forPath(spark, path, Some(version)))
        // delta-spark's cadence: expired-log cleanup piggybacks on the
        // checkpoint (default on, 30-day retention — see cleanupLogs)
        if (!config.get("delta.enableExpiredLogCleanup")
            .exists(_.trim.equalsIgnoreCase("false")))
          cleanupLogs(spark, path, Some(logRetentionMs(config)))
      } catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"auto-checkpoint of $path at v$version failed", e)
      }
  }

  /** Assign identity-column values (PROTOCOL.md#identity-columns):
    * each omitted identity column gets hwm+step, hwm+2·step, … via
    * per-partition offset arithmetic — ONE counting pass + ONE
    * assigning pass, no global sort and no single-partition
    * row_number, so assignment scales with the cluster. Returns the
    * batch with values and the new high-water mark per column. A batch
    * PROVIDING an identity column is rejected (GENERATED ALWAYS
    * semantics) unless the column's metadata allows explicit inserts,
    * in which case the high-water mark syncs past the provided max.
    */
  private def assignIdentityValues(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      specs: Seq[(String, Long, Long, Option[Long], Boolean)])
      : (DataFrame, Map[String, Long], Option[DataFrame]) = {
    if (specs.isEmpty) return (df, Map.empty, None)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, lit, max}
    val (provided, omitted) = specs.partition(s => df.columns.contains(s._1))
    provided.filterNot(_._5).foreach { case (n, _, _, _, _) =>
      throw new DeltaConstraintViolation(
        s"identity column '$n' is GENERATED ALWAYS — omit it from the " +
          "batch and let the writer assign values")
    }
    val providedHwms: Map[String, Long] =
      if (provided.isEmpty) Map.empty
      else {
        val aggs = provided.map(s => max(col(s._1)))
        val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        provided.zipWithIndex.flatMap { case ((n, _, _, hwm, _), i) =>
          Option(r.get(i)).map(v => n -> math.max(
            hwm.getOrElse(Long.MinValue),
            v.asInstanceOf[Number].longValue))
        }.toMap
      }
    if (omitted.isEmpty) return (df, providedHwms, None)

    // the batch is PERSISTED across both passes (and until the data
    // write completes — the caller unpersists): a non-deterministic
    // plan re-materializing between the counting and assigning passes
    // would shift partition sizes and mint duplicate values
    val src = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = src.rdd
      .mapPartitionsWithIndex((i, it) => Iterator(i -> it.size.toLong))
      .collect().toMap
    val total = counts.values.sum
    if (total == 0L) {
      src.unpersist()
      return (omitted.foldLeft(df)((d, s) =>
        d.withColumn(s._1, lit(null).cast("long"))), providedHwms, None)
    }
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.toSeq.sortBy(_._1).map { case (i, c) =>
        val o = i -> acc; acc += c; o
      }.toMap
    }
    val bases = omitted.map { case (n, st, sp, hwm, _) =>
      (n, hwm.map(_ + sp).getOrElse(st), sp)
    }
    val schema2 = StructType(src.schema.fields ++
      bases.map(b => StructField(b._1, LongType, nullable = false)))
    val rdd2 = src.rdd.mapPartitionsWithIndex { (pi, it) =>
      var k = offsets(pi)
      it.map { r =>
        val vals = bases.map { case (_, base, sp) => base + sp * k }
        k += 1
        Row.fromSeq(r.toSeq ++ vals)
      }
    }
    val out = spark.createDataFrame(rdd2, schema2)
    val newHwms = bases.map { case (n, base, sp) =>
      n -> (base + sp * (total - 1))
    }.toMap
    (out, providedHwms ++ newHwms, Some(src))
  }

  /** Parse `delta.logRetentionDuration` ("interval 30 days" /
    * "interval 12 hours" / plain milliseconds) — delta-spark's property
    * shape; default 30 days.
    */
  private[delta] def logRetentionMs(config: Map[String, String]): Long = {
    val Default = 30L * 24 * 3600 * 1000
    config.get("delta.logRetentionDuration") match {
      case None => Default
      case Some(s) => parseIntervalMs(s).getOrElse {
        logWarning(s"unparseable delta.logRetentionDuration '$s'; " +
          "using 30 days")
        Default
      }
    }
  }

  /** Metadata cleanup (delta-spark's expired-log cleanup): delete
    * commit JSONs, version checksums and superseded checkpoint files
    * that are BOTH older than the retention window AND below a
    * checkpoint that can serve as the replay base for every retained
    * version. Current reads and incremental refresh are unaffected
    * (replay starts at the surviving checkpoint); time travel below the
    * deletion boundary raises the documented reconstruction error —
    * the same contract as delta-spark.
    *
    * The 100 TB reason: a streaming sink at one commit per micro-batch
    * accretes ~100k small JSONs a day; unbounded, every fresh reader
    * pays a directory listing over all of them. Runs automatically
    * after each auto-checkpoint unless
    * `delta.enableExpiredLogCleanup=false`.
    *
    * Boundary math: a version is retained iff its commit mtime is
    * inside the window; the deletion base is the greatest checkpoint at
    * or below the oldest retained version, so every retained version
    * stays reconstructible — cleanup never strands a half-window.
    * Sidecars of deleted v2 checkpoint tops become orphans and are
    * [[vacuum]]'s responsibility. Returns the deleted (or, with
    * `dryRun`, merely doomed) log-relative file names.
    */
  def cleanupLogs(spark: org.apache.spark.sql.SparkSession, path: String,
      retentionMs: Option[Long] = None,
      dryRun: Boolean = false): Seq[String] = {
    val logDir = new Path(path.stripSuffix("/") + "/_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logDir)) return Nil
    val retMs = retentionMs.getOrElse(
      logRetentionMs(DeltaLog.forPath(spark, path).configuration))
    val cutoff = System.currentTimeMillis() - retMs

    val listing = fs.listStatus(logDir).toSeq
      .map(st => (st.getPath.getName, st.getModificationTime))
    def versionOf(name: String): Option[Long] =
      if (name.length > 20 && name.take(20).forall(_.isDigit))
        Some(name.take(20).toLong)
      else None
    val commits = listing.collect {
      case (n, m) if n.matches("\\d{20}\\.json") => (n.take(20).toLong, m)
    }
    // Only COMPLETE checkpoints qualify as a deletion base — a crashed
    // multi-part write (maybeCheckpoint swallows failures by design)
    // leaves a partial part set that must never cost the table its real
    // replay base. Classic single files and v2 uuid tops are complete
    // by construction (v2 tops are written AFTER their sidecars); a
    // multi-part set qualifies only when all n declared parts exist.
    val partName = "^(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet$".r
    val partsByVersion = listing.collect {
      case (partName(v, i, n), _) => (v.toLong, i.toInt, n.toInt)
    }.groupBy(_._1)
    val completeMultipart = partsByVersion.collect {
      case (v, ps) if ps.map(_._3).distinct.size == 1 &&
        ps.map(_._2).distinct.size == ps.head._3 => v
    }.toSeq
    val checkpoints = (listing.flatMap { case (n, _) =>
      if (n.matches("\\d{20}\\.checkpoint\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.(parquet|json)"))
        versionOf(n)
      else None
    } ++ completeMultipart).distinct.sorted
    if (checkpoints.isEmpty) return Nil

    // cap at the ADVERTISED checkpoint: forPath resolves the replay
    // base for latest reads solely through _last_checkpoint, so a
    // complete-but-unadvertised checkpoint (parts landed, crash before
    // _last_checkpoint) must never become the base — deleting the
    // advertised one underneath it would make the table unopenable
    val advertised = DeltaLog.lastCheckpointVersion(spark, path)
      .getOrElse(return Nil)
    val retained = commits.filter(_._2 >= cutoff).map(_._1)
    val oldestNeeded = (retained :+ checkpoints.max).min
    val base = checkpoints.filter(v => v <= oldestNeeded && v <= advertised)
      .maxOption.getOrElse(return Nil)

    val doomed = listing.collect {
      case (n, _) if n.matches(
          "\\d{20}\\.(json|crc|checkpoint(\\..*)?\\.(parquet|json))") &&
          versionOf(n).exists(_ < base) => n
    }.sorted
    if (!dryRun) doomed.foreach(n => fs.delete(new Path(logDir, n), false))
    doomed
  }

  /** Rename a logical-schema DataFrame to the table's PHYSICAL column
    * names (nested fields included — struct casts match positionally),
    * the shape data files of a column-mapped table must carry. Columns
    * are mapped by name against the table schema; batch-only columns
    * (append evolution) keep their own name. Identity for unmapped
    * tables, and Catalyst folds the no-op away.
    */
  private def toPhysical(df: DataFrame, table: StructType): DataFrame = {
    val byName = table.fields.map(f => f.name -> f).toMap
    df.select(df.schema.fields.toSeq.map { f =>
      val tf = byName.getOrElse(f.name, f)
      org.apache.spark.sql.functions.col(s"`${f.name.replace("`", "``")}`")
        .cast(DeltaSchema.physicalizeType(tf.dataType))
        .as(DeltaSchema.physicalName(tf))
    }: _*)
  }

  /** Physical names of the partition columns for the data write's hive
    * layout (dir names become physical-keyed partitionValues).
    */
  private def physicalPartitionBy(
      cols: Seq[String], table: StructType): Seq[String] = {
    val logToPhys = DeltaSchema.logicalToPhysical(table)
    cols.map(c => logToPhys.getOrElse(c, c))
  }

  /** Columns that get per-file stats, per
    * `delta.dataSkippingNumIndexedCols`: the first N table columns
    * (default 32, -1 = all — the delta-spark convention). On a
    * 1000-column table, stats over every column would bloat each commit
    * and checkpoint by orders of magnitude while zone maps beyond the
    * leading columns rarely pay for themselves; readers fail open on
    * absent stats.
    */
  private def statsIndexedSchema(
      schema: StructType, config: Map[String, String]): StructType = {
    val n = config.get("delta.dataSkippingNumIndexedCols")
      .flatMap(_.toIntOption).getOrElse(32)
    if (n < 0 || n >= schema.fields.length) schema
    else StructType(schema.fields.take(n))
  }

  /** One `add` JSON line for a freshly-written data file: hive-encoded
    * partition values recovered from the directory layout, size/mtime
    * from the file status, and footer-derived zone-map stats.
    */
  private def addActionLine(fs: FileSystem, root: Path, rel: String,
      statsSchema: StructType): String = {
    val nf = JsonNodeFactory.instance
    val f = new Path(root, rel)
    val status = fs.getFileStatus(f)
    val addObj = nf.objectNode()
    val a = addObj.putObject("add")
    a.put("path", encodePath(rel))
    val pv = a.putObject("partitionValues")
    partitionValuesFromPath(rel).foreach {
      case (k, Some(v)) => pv.put(k, v)
      case (k, None) => pv.putNull(k)
    }
    a.put("size", status.getLen)
    a.put("modificationTime", status.getModificationTime)
    a.put("dataChange", true)
    footerStats(fs, f, statsSchema).foreach(s => a.put("stats", s))
    addObj.toString
  }

  /** Morton (interleaved-bit) key over the given columns, quantized to
    * 2^`bitsPer` levels between each column's min and max (one
    * driver-side agg job). Range-partitioning on this key gives every
    * clustered column locality — tight per-file zone maps in all
    * dimensions at once. Nulls and constant columns quantize to 0;
    * dates/timestamps numify via epoch arithmetic; strings by the
    * zero-padded 8-byte big-endian value AFTER the column's longest
    * common prefix (lexicographic-order preserving; the LCP strip is
    * what keeps URL-style columns from collapsing to one value), which
    * pairs with the reader's string-prefix stats skipping.
    */
  private[delta] def zOrderColumn(
      df: DataFrame, cols: Seq[String], bitsPer: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && bitsPer * cols.size <= 62,
      s"z-order supports up to ${62 / bitsPer} columns at $bitsPer bits")
    def numify(c: Column, dt: DataType): Column = dt match {
      case DateType => datediff(c, lit("1970-01-01")).cast("double")
      case TimestampType | TimestampNTZType =>
        unix_micros(c.cast("timestamp")).cast("double")
      case _: org.apache.spark.sql.types.NumericType => c.cast("double")
      case org.apache.spark.sql.types.StringType =>
        throw new IllegalStateException("strings take the prefix path")
      case other => throw new IllegalArgumentException(
        s"z-order column must be numeric/string/date/timestamp, got $other" +
          " — an unsupported type would cast to null and silently " +
          "contribute no clustering")
    }
    val dts = cols.map(c => df.schema(c).dataType)
    // strings aggregate their RAW min/max (one shared job with the
    // numeric dims): lexicographic monotonicity means the numified
    // bounds are derivable driver-side from the raw bounds
    val aggs = cols.zip(dts).zipWithIndex.flatMap { case ((c, dt), i) =>
      dt match {
        case org.apache.spark.sql.types.StringType =>
          Seq(min(col(c)).as(s"mn_$i"), max(col(c)).as(s"mx_$i"))
        case _ =>
          val n = numify(col(c), dt)
          Seq(min(n).as(s"mn_$i"), max(n).as(s"mx_$i"))
      }
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val maxQ = (1L << bitsPer) - 1
    val qs: Seq[Column] = cols.zip(dts).zipWithIndex.map { case ((c0, dt), i) =>
      val (c, mn, mx) = dt match {
        case org.apache.spark.sql.types.StringType =>
          // a column of URLs or prefixed IDs shares a long common
          // prefix; encoding the first 8 raw bytes would collapse every
          // value to one number (silent zero clustering). Strip the
          // longest common prefix — the LCP of the lexicographic
          // min/max IS the LCP of the whole column — then take the
          // 8-byte big-endian value after it, zero right-padded so
          // numeric order stays lexicographic across lengths.
          val mnB = (if (r.isNullAt(2 * i)) "" else r.getString(2 * i))
            .getBytes("UTF-8")
          val mxB = (if (r.isNullAt(2 * i + 1)) "" else r.getString(2 * i + 1))
            .getBytes("UTF-8")
          val lcp = mnB.zip(mxB).takeWhile { case (a, b) => a == b }.size
          def beVal(bs: Array[Byte]): Double = {
            var v = 0.0
            (0 until 8).foreach { j =>
              val b = if (lcp + j < bs.length) bs(lcp + j) & 0xFF else 0
              v = v * 256.0 + b
            }
            v
          }
          val enc = conv(hex(call_function("rpad",
            substring(col(c0).cast("binary"), lcp + 1, 8),
            lit(8), lit(Array[Byte](0)))), 16, 10).cast("double")
          (enc, beVal(mnB), beVal(mxB))
        case _ =>
          (numify(col(c0), dt),
            if (r.isNullAt(2 * i)) 0.0 else r.getDouble(2 * i),
            if (r.isNullAt(2 * i + 1)) 0.0 else r.getDouble(2 * i + 1))
      }
      if (mx <= mn) lit(0L)
      else least(lit(maxQ), greatest(lit(0L),
        coalesce(floor((c - mn) / (mx - mn) * maxQ).cast("long"), lit(0L))))
    }
    var z: Column = lit(0L)
    for (b <- 0 until bitsPer; i <- cols.indices)
      z = z.bitwiseOR(shiftleft(
        shiftrightunsigned(qs(i), b).bitwiseAND(lit(1L)),
        b * cols.size + i))
    z
  }

  /** Delete rows matching the conditions WITHOUT rewriting data files:
    * per-file deletion vectors (PROTOCOL.md#deletion-vectors) — the
    * protocol feature the reference explicitly cannot read
    * (README.md:39-46); here both produced and honored by the scan.
    *
    * Scale shape: metadata pruning first (only files that can match are
    * scanned), then ONE distributed pass evaluates the predicate with
    * physical row indices, and each task builds per-file partial
    * bitmaps — only their compact serialized bytes (roaring-compressed)
    * reach the driver, which ORs them, writes the DV files and the
    * commit ([[dvActionLines]]). Re-deleting from a file merges with its
    * prior DV.
    *
    * Returns the number of newly deleted rows.
    */
  def delete(spark: org.apache.spark.sql.SparkSession, path: String,
      conditions: Seq[Cond],
      /** Already-current snapshot to delete against, skipping the
        * per-call log replay. */
      priorSnapshot: Option[DeltaSnapshot] = None): Long = {
    require(conditions.nonEmpty, "delete needs at least one condition")
    val snap = priorSnapshot.getOrElse(DeltaLog.forPath(spark, path))
    snap.checkProtocolSupported()
    Constraints.requireNotAppendOnly(snap.configuration, "DELETE", path)
    val base = path.stripSuffix("/")
    val candidates = snap.addActionsFiltered(conditions)
    if (candidates.isEmpty) return 0L

    val matchedDf = DeltaScan.scanWithRowIndex(snap, candidates)
      .where(Cond.compile(conditions, Some(snap.schema)))
    val matching = matchedDf.select("__graft_file", "__graft_row_index")

    val (dvLines, newlyDeleted) =
      dvActionLines(spark, base, snap, candidates, matching)
    if (dvLines.isEmpty) return 0L
    val lines = mutable.ArrayBuffer(dvLines: _*)

    // stored CDF: pre-images of exactly the NEWLY deleted rows (rows a
    // prior DV had already masked are dead and must not re-surface)
    if (cdfEnabled(snap.configuration)) {
      import org.apache.spark.sql.functions.{col, lit}
      def q(n: String) = col(s"`${n.replace("`", "``")}`")
      val cdc = subtractPriorDv(snap, candidates, matchedDf)
        .select(snap.schema.fieldNames.toSeq.map(q): _*)
        .withColumn("_change_type", lit("delete"))
      lines ++= writeCdcFiles(spark, path, snap, cdc)
    }

    val removed = removedPaths(lines.toSeq)
    val all = lines.toSeq :+ commitInfoLine("DELETE",
      params = Map("predicate" -> conditions.mkString(" AND ")),
      metrics = Map("numDeletedRows" -> newlyDeleted,
        "numRemovedFiles" -> removed.size.toLong))
    commit(spark, path, Some(snap), all, Rebase(removed), "DELETE",
      snap.configuration)
    newlyDeleted
  }

  /** min/max bounds of `src`'s key columns as fail-open zone-map Conds
    * — the candidate-file pruning [[merge]] and [[deleteMatching]]
    * share (one tiny agg over the persisted source, so an operation
    * touching recent partitions never scans cold ones). Only orderable
    * key types contribute; an all-NULL key never matches (SQL
    * equality) and yields no bound.
    */
  private def keyBounds(src: DataFrame, keyCols: Seq[String],
      schema: StructType): Seq[Cond] = {
    import org.apache.spark.sql.functions.{col, max, min}
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    val orderableKeys = keyCols.filter(k => schema(k).dataType match {
      case _: NumericType | StringType | DateType | TimestampType |
          TimestampNTZType => true
      case _ => false
    })
    def condValue(v: Any): Any = v match {
      case d: java.sql.Date => d.toLocalDate
      case t: java.sql.Timestamp => t.toInstant
      case d: java.math.BigDecimal => BigDecimal(d)
      case other => other
    }
    if (orderableKeys.isEmpty) Nil
    else {
      val aggs = orderableKeys.zipWithIndex.flatMap { case (k, i) =>
        Seq(min(q(k)).as(s"mn_$i"), max(q(k)).as(s"mx_$i"))
      }
      val r = src.agg(aggs.head, aggs.tail: _*).collect()(0)
      orderableKeys.zipWithIndex.flatMap { case (k, i) =>
        (Option(r.get(2 * i)), Option(r.get(2 * i + 1))) match {
          case (Some(mn), Some(mx)) => Seq(
            Cond(k, ">=", condValue(mn)), Cond(k, "<=", condValue(mx)))
          case _ => Nil // all-NULL key never matches; no bound
        }
      }
    }
  }

  /** DELETE every row whose key tuple appears in `keys` (a DataFrame
    * holding exactly the key columns) — the join-based twin of
    * [[delete]] for retire sets too large to drive a literal in-list
    * (round-12 verdict: a mass-delete micro-batch — a GDPR purge, a
    * tombstone compaction — must not materialize an unbounded driver
    * list). The match is ONE distributed semi-join (the merge
    * machinery's shape): candidate files are pruned through the keys'
    * min/max bounds (fail-open zone maps), matched row indexes become
    * deletion vectors executor-side, and stored-CDF pre-images are
    * emitted exactly like [[delete]]'s. Only compact DV bytes reach
    * the driver. Returns the newly deleted row count.
    */
  private[graft] def deleteMatching(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: DataFrame): Long =
    deleteMatchingImpl(spark, path, keys, anyOfCols = None)

  /** [[deleteMatching]] for the both-endpoints retire shape (a pairs
    * table): DELETE every row where ANY of `anyOfCols` appears in the
    * single key column of `keys`. One pruned scan and ONE DV commit
    * replace the per-endpoint [[deleteMatching]] calls (which cost two
    * full candidate scans + two commits per mass-delete batch on the
    * heaviest table). Candidate files are the UNION of each endpoint's
    * zone-map survivors — the AND-only [[Cond]] list cannot express
    * the endpoint OR — and the row match is ONE hash semi-join against
    * the exploded endpoint column (an OR-equality join condition would
    * degrade to a nested-loop join; the explode keeps it hashable).
    */
  private[graft] def deleteMatchingAny(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keys: DataFrame, anyOfCols: Seq[String]): Long =
    deleteMatchingImpl(spark, path, keys, Some(anyOfCols))

  private def deleteMatchingImpl(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: DataFrame,
      anyOfCols: Option[Seq[String]]): Long = {
    import org.apache.spark.sql.functions.{array, col, explode, lit}
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    Constraints.requireNotAppendOnly(snap.configuration, "DELETE", path)
    val schema = snap.schema
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    val keyCols = keys.schema.fieldNames.toSeq
    require(keyCols.nonEmpty, "deleteMatching needs at least one key column")
    anyOfCols match {
      case Some(cols) =>
        require(keyCols.size == 1,
          "deleteMatchingAny needs exactly one key column")
        require(cols.nonEmpty,
          "deleteMatchingAny needs at least one target column")
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"delete key '$c' is not a table column"))
        val dts = cols.map(c => schema(c).dataType).distinct
        require(dts.size == 1,
          s"deleteMatchingAny target columns must share one type, got $dts")
        // the key column must match too: a mismatch would fall through
        // to implicit casts in both the zone-map pruning and the
        // exploded semi-join, silently weakening matches instead of
        // failing loudly like every other shape here (r14 ADVICE)
        require(keys.schema.head.dataType == dts.head,
          s"deleteMatchingAny key column '${keyCols.head}' has type " +
            s"${keys.schema.head.dataType}, target columns are ${dts.head}")
      case None =>
        keyCols.foreach(k => require(schema.fieldNames.contains(k),
          s"delete key '$k' is not a table column"))
    }
    val src = keys.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val base = path.stripSuffix("/")
      // key bounds -> candidate-file pruning (merge's move): one tiny
      // agg, so a purge touching recent partitions never scans cold
      // ones. In any-of mode the ONE key range prunes per endpoint and
      // the survivor sets union: a file is a candidate if ANY
      // endpoint's zone overlaps the keys.
      val candidates = anyOfCols match {
        case Some(cols) =>
          val b0 = keyBounds(src, keyCols, keys.schema)
          val seen = mutable.LinkedHashMap.empty[String, AddAction]
          cols.foreach { c =>
            snap.addActionsFiltered(b0.map(b => Cond(c, b.op, b.value)))
              .foreach(a => seen.getOrElseUpdate(a.path, a))
          }
          seen.values.toSeq
        case None =>
          snap.addActionsFiltered(keyBounds(src, keyCols, schema))
      }
      if (candidates.isEmpty) return 0L
      val scan = DeltaScan.scanWithRowIndex(snap, candidates)
      val (matchedDf, matching) = anyOfCols match {
        case Some(cols) =>
          val ep = scan.select(q("__graft_file"), q("__graft_row_index"),
            explode(array(cols.map(q): _*)).as("__graft_ep"))
          val m = ep.join(src.select(q(keyCols.head).as("__graft_ep")),
              Seq("__graft_ep"), "left_semi")
            .select("__graft_file", "__graft_row_index").distinct()
          (scan.join(m, Seq("__graft_file", "__graft_row_index"),
            "left_semi"), m)
        case None =>
          val md = scan.join(src, keyCols, "left_semi")
          (md, md.select("__graft_file", "__graft_row_index"))
      }
      val (dvLines, newlyDeleted) =
        dvActionLines(spark, base, snap, candidates, matching)
      if (dvLines.isEmpty) return 0L
      val lines = mutable.ArrayBuffer(dvLines: _*)
      if (cdfEnabled(snap.configuration)) {
        val cdc = subtractPriorDv(snap, candidates, matchedDf)
          .select(schema.fieldNames.toSeq.map(q): _*)
          .withColumn("_change_type", lit("delete"))
        lines ++= writeCdcFiles(spark, path, snap, cdc)
      }
      val removed = removedPaths(lines.toSeq)
      val predicate = anyOfCols match {
        case Some(cols) =>
          s"key semi-join on any of (${cols.mkString(", ")})"
        case None => s"key semi-join on (${keyCols.mkString(", ")})"
      }
      val all = lines.toSeq :+ commitInfoLine("DELETE",
        params = Map("predicate" -> predicate),
        metrics = Map("numDeletedRows" -> newlyDeleted,
          "numRemovedFiles" -> removed.size.toLong))
      commit(spark, path, Some(snap), all, Rebase(removed), "DELETE",
        snap.configuration)
      newlyDeleted
    } finally { src.unpersist(); () }
  }

  /** MERGE (upsert): target rows whose key tuple appears in `source`
    * are replaced by the source row; source rows matching no target row
    * are inserts — `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT *`. The reference is read-only; this is our extension,
    * in the protocol's DV-based MERGE shape.
    *
    * ONE atomic commit carries both halves: matched target rows are
    * removed via per-file deletion vectors (no data-file rewrite —
    * [[delete]]'s machinery) and ALL source rows are appended as new
    * files, the matched ones being their updated images. Source key
    * tuples must be unique (the SQL MERGE cardinality rule — a target
    * row may match at most one source row); NULL keys never match
    * (SQL equality), so null-keyed source rows insert. If several
    * target rows share a matched key they are ALL replaced by the one
    * source row.
    *
    * Scale shape: the persisted source drives (a) one key min/max agg
    * whose bounds prune candidate target files through the existing
    * zone-map/partition skipping — a merge touching recent partitions
    * never scans the cold ones — and (b) one distributed semi-join
    * against only the pruned scan for matched row indices. Bitmaps
    * build executor-side; only compact DV bytes and new-file footer
    * stats reach the driver.
    *
    * Returns (matched target rows replaced, source rows written).
    */
  def merge(spark: org.apache.spark.sql.SparkSession, path: String,
      source: DataFrame, keys: Seq[String],
      /** Transaction identifier (appId, version): the commit carries a
        * `txn` action and the merge is SKIPPED (returning zero stats)
        * when the table's recorded watermark for `appId` is already at
        * or above `version` — exactly-once upserts for streaming CDC
        * replay (DeltaSink.upserter).
        */
      txn: Option[(String, Long)] = None,
      /** Already-current snapshot to merge against, skipping the
        * per-call log replay (DeltaSink's cached-snapshot path). */
      priorSnapshot: Option[DeltaSnapshot] = None,
      /** `WHEN MATCHED AND <deleteWhen> THEN DELETE`: source rows where
        * this predicate is true DELETE their matched target rows (DV
        * mask, nothing re-inserted); unmatched delete rows are no-ops.
        * The predicate is evaluated over the RAW source, so CDC marker
        * columns beyond the table schema (e.g. `_change_type`) may
        * drive it — with `deleteWhen` set, the source needs only to
        * CONTAIN the table columns; extras are dropped before the
        * write. NULL evaluates as false (the row upserts). This is the
        * CDC-apply-with-tombstones shape (DeltaSink.cdcBatch).
        */
      deleteWhen: Option[Column] = None): MergeStats = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(keys.nonEmpty, "merge needs at least one key column")
    val snap = priorSnapshot.getOrElse(DeltaLog.forPath(spark, path))
    snap.checkProtocolSupported()
    // conservative: a merge REPLACES matched rows, which append-only
    // forbids; a provably-insert-only merge would need the match count
    // first, by which point the work is already done
    Constraints.requireNotAppendOnly(snap.configuration, "MERGE", path)
    txn.foreach { case (appId, v) =>
      if (snap.txnVersions.get(appId).exists(_ >= v)) return MergeStats(0L, 0L)
    }
    val schema = snap.schema
    // merge recomputes generated partition values under THIS session's
    // zone without a metadata commit — cross-zone merges must refuse,
    // not silently poison the recorded writer zone
    GeneratedPruning.requireZoneConsistent(snap.configuration, schema,
      snap.partitionColumns, "MERGE")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key '$k' is not a table column"))
    if (deleteWhen.isEmpty)
      require(source.schema.fieldNames.toSet == schema.fieldNames.toSet,
        s"merge source columns [${source.schema.fieldNames.sorted.mkString(",")}]" +
          s" must equal table columns [${schema.fieldNames.sorted.mkString(",")}]" +
          " — merge does not evolve the schema")
    else
      require(schema.fieldNames.toSet.subsetOf(
          source.schema.fieldNames.toSet),
        s"merge source must contain every table column; missing " +
          (schema.fieldNames.toSet -- source.schema.fieldNames.toSet)
            .toSeq.sorted.mkString(","))
    schema.fields.foreach { f =>
      val st = source.schema(f.name).dataType
      require(comparableType(st) == comparableType(f.dataType),
        s"merge source changes type of '${f.name}': " +
          s"${f.dataType.simpleString} -> ${st.simpleString}")
    }
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    require(!schema.fieldNames.contains("__graft_delete") &&
        !source.schema.fieldNames.contains("__graft_delete"),
      "merge reserves the internal column name '__graft_delete'")
    // evaluated once, reused by the dup check, bounds agg, semi-join
    // and the data write. The delete flag is computed over the RAW
    // source (marker columns still visible), then carried alongside
    // the table columns.
    val delFlag = coalesce(
      deleteWhen.getOrElse(lit(false)).cast("boolean"), lit(false))
    val src = source
      .withColumn("__graft_delete", delFlag)
      .select(schema.fieldNames.toSeq.map(q) :+ col("__graft_delete"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val srcRows = src.count()
      if (srcRows == 0L) {
        // an empty batch still advances the exactly-once ledger: a
        // stream reading txnVersions as progress must see batch N
        // applied even when N carried no rows (appendBatch's empty
        // commits behave the same way)
        txn.foreach { case (appId, v) =>
          commit(spark, path, Some(snap),
            Seq(txnLine(appId, v),
              commitInfoLine("MERGE", metrics = Map("numSourceRows" -> 0L))),
            Rebase(Set.empty), "MERGE", snap.configuration)
        }
        MergeStats(0L, 0L)
      }
      else {
        requireUniqueKeys(src, keys, "merge source")
        // constraints apply to the rows that WILL be written — delete
        // rows remove data and carry no enforceable content
        val upserts = src.where(not(col("__graft_delete")))
          .drop("__graft_delete")
        Constraints.validateBatch(upserts, schema, snap.configuration,
          s"MERGE into $path")

        // key bounds → candidate-file pruning (fail-open zone maps)
        val bounds = keyBounds(src, keys, schema)

        val base = path.stripSuffix("/")
        val candidates = snap.addActionsFiltered(bounds)
        val lines = mutable.ArrayBuffer.empty[String]
        var masked = 0L
        var delMatches = 0L
        val scannedOpt =
          if (candidates.isEmpty) None
          else Some(DeltaScan.scanWithRowIndex(snap, candidates))
        scannedOpt.foreach { scanned =>
          if (deleteWhen.isEmpty) {
            val matching = scanned
              .join(src.select(keys.map(q): _*), keys, "left_semi")
              .select("__graft_file", "__graft_row_index")
            val (dvLines, del) =
              dvActionLines(spark, base, snap, candidates, matching)
            lines ++= dvLines
            masked = del
          } else {
            // inner join (source keys are unique: no multiplication)
            // keeps the delete flag so the audit metrics can split
            // deletes from replacements; persisted — it feeds both the
            // split count and the DV build
            val joined = scanned
              .join(src.select(keys.map(q) :+ col("__graft_delete"): _*),
                keys)
              .select(col("__graft_file"), col("__graft_row_index"),
                col("__graft_delete"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              delMatches = joined.where(col("__graft_delete")).count()
              val (dvLines, del) = dvActionLines(spark, base, snap,
                candidates,
                joined.select("__graft_file", "__graft_row_index"))
              lines ++= dvLines
              masked = del
            } finally joined.unpersist()
          }
        }
        // split the masked rows for audit: rows a prior DV had already
        // masked are in delMatches but not in `masked`, so clamp
        val deleted = math.min(delMatches, masked)
        val updated = masked - deleted

        // stored CDF: matched live target rows as pre-images
        // ('update_preimage', or 'delete' for delete-flag matches),
        // matched source rows as 'update_postimage', unmatched source
        // rows as 'insert' — the COMPLETE change data for this commit
        // (CDF readers then ignore its add/remove actions entirely)
        if (cdfEnabled(snap.configuration)) {
          import org.apache.spark.sql.functions.when
          val tableCols = schema.fieldNames.toSeq.map(q)
          val cdc = scannedOpt match {
            case None => upserts.withColumn("_change_type", lit("insert"))
            case Some(sc) =>
              val live = subtractPriorDv(snap, candidates, sc)
              val liveKeys = live.select(keys.map(q): _*).distinct()
              val pre = live
                .join(src.select(keys.map(q) :+ col("__graft_delete"): _*),
                  keys)
                .select(tableCols :+
                  when(col("__graft_delete"), lit("delete"))
                    .otherwise(lit("update_preimage"))
                    .as("_change_type"): _*)
              val post = upserts.join(liveKeys, keys, "left_semi")
                .withColumn("_change_type", lit("update_postimage"))
              val ins = upserts.join(liveKeys, keys, "left_anti")
                .withColumn("_change_type", lit("insert"))
              pre.unionByName(post).unionByName(ins)
          }
          lines ++= writeCdcFiles(spark, path, snap, cdc)
        }

        // only non-delete rows are written; with no deleteWhen this IS
        // the whole source (no extra job to count it)
        val written =
          if (deleteWhen.isEmpty) srcRows else upserts.count()
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val newFiles = if (written == 0L) Nil else withMicrosTimestamps(spark) {
          writeFiles(fs, root) { dir =>
            toPhysical(upserts, schema).write.mode("append")
              .partitionBy(
                physicalPartitionBy(snap.partitionColumns, schema): _*)
              .parquet(dir)
          }
        }
        newFiles.foreach { rel =>
          lines += addActionLine(fs, root, rel, statsIndexedSchema(
            DeltaSchema.physicalize(schema), snap.configuration))
        }

        txn.foreach { case (appId, v) => lines += txnLine(appId, v) }
        val removed = removedPaths(lines.toSeq)
        lines += commitInfoLine("MERGE",
          params = Map("keys" -> keys.mkString(",")) ++
            deleteWhen.map(c => "deleteWhen" -> c.toString),
          metrics = Map("numSourceRows" -> srcRows,
            "numTargetRowsUpdated" -> updated,
            "numTargetRowsDeleted" -> deleted,
            "numSourceRowsWritten" -> written,
            "numTargetFilesRemoved" -> removed.size.toLong))
        commit(spark, path, Some(snap), lines.toSeq,
          Rebase(removed, newDataGuard = Some(bounds)), "MERGE",
          snap.configuration)
        MergeStats(updated, written, deleted)
      }
    } finally src.unpersist()
  }

  /** UPDATE: rows matching `conditions` get the `set` assignments
    * applied. One atomic commit in the protocol's DV-based UPDATE shape:
    * matched rows are deletion-vector masked in place (no data-file
    * rewrite — [[delete]]'s machinery) and their updated images are
    * appended as new files.
    *
    * `set` values are arbitrary Column expressions over the OLD row
    * (SQL UPDATE semantics — `"price" -> col("price") * 1.1`), cast to
    * the column's table type. Partition columns may be assigned:
    * updated rows land in their new hive partition on the append.
    *
    * Scale shape: `conditions` prune candidate files through partition
    * values + zone maps before any data is read; only candidates are
    * scanned; DV bitmaps build executor-side; the image append is a
    * normal distributed write. Rows a prior DV already masked are dead
    * and are excluded (an in-place rewrite must not resurrect them).
    *
    * Returns the number of rows updated.
    */
  def update(spark: org.apache.spark.sql.SparkSession, path: String,
      conditions: Seq[Cond], set: Map[String, Column],
      /** Already-current snapshot to update against, skipping the
        * per-call log replay. */
      priorSnapshot: Option[DeltaSnapshot] = None): Long = {
    import org.apache.spark.sql.functions.col
    require(conditions.nonEmpty, "update needs at least one condition")
    require(set.nonEmpty, "update needs at least one assignment")
    val snap = priorSnapshot.getOrElse(DeltaLog.forPath(spark, path))
    snap.checkProtocolSupported()
    Constraints.requireNotAppendOnly(snap.configuration, "UPDATE", path)
    val schema = snap.schema
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"update assignment '$k' is not a table column"))
    // update recomputes generated partition values under THIS session's
    // zone without a metadata commit — cross-zone updates must refuse,
    // not silently poison the recorded writer zone
    GeneratedPruning.requireZoneConsistent(snap.configuration, schema,
      snap.partitionColumns, "UPDATE")
    val base = path.stripSuffix("/")
    val candidates = snap.addActionsFiltered(conditions)
    if (candidates.isEmpty) return 0L

    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    val matchedRaw = DeltaScan.scanWithRowIndex(snap, candidates)
      .where(Cond.compile(conditions, Some(schema)))
    // scanWithRowIndex yields all PHYSICAL rows; mask prior-DV rows
    // before building images
    val matched = subtractPriorDv(snap, candidates, matchedRaw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      val matching = matched.select("__graft_file", "__graft_row_index")
      val (dvLines, updated) =
        dvActionLines(spark, base, snap, candidates, matching)
      if (dvLines.isEmpty) return 0L
      val lines = mutable.ArrayBuffer.empty[String]
      lines ++= dvLines

      val images0 = matched.select(schema.fields.toSeq.map { f =>
        set.get(f.name)
          .map(_.cast(f.dataType).as(f.name))
          .getOrElse(q(f.name))
      }: _*)
      // generated columns not explicitly assigned recompute from the
      // UPDATED image (assigning a referenced base column must move
      // them; a select-stage expr would read the old values). Explicit
      // assignments stay and are validated like any provided value.
      val images = Constraints.generatedColumns(schema)
        .filterNot { case (n, _) => set.contains(n) }
        .foldLeft(images0) { case (d, (n, sql)) =>
          d.withColumn(n,
            org.apache.spark.sql.functions.expr(sql)
              .cast(schema(n).dataType))
        }
      // the updated images must satisfy the table's constraints — an
      // assignment driving a column below a CHECK bound rejects here,
      // before any DV or image file lands. Enforcement persists the
      // images (matched is cached, but a non-deterministic `set`
      // expression would otherwise re-evaluate between validation and
      // the write)
      val enforced = Constraints.hasRules(images, schema, snap.configuration)
      val imagesV = if (enforced)
        images.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else images
      try Constraints.validateBatch(imagesV, schema, snap.configuration,
        s"UPDATE of $path")
      catch { case t: Throwable => if (enforced) imagesV.unpersist(); throw t }
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val newFiles = try {
        val files = withMicrosTimestamps(spark) {
          writeFiles(fs, root) { dir =>
            toPhysical(imagesV, schema).write.mode("append")
              .partitionBy(
                physicalPartitionBy(snap.partitionColumns, schema): _*)
              .parquet(dir)
          }
        }
        // stored CDF: pre/post images of exactly the updated rows
        if (cdfEnabled(snap.configuration)) {
          import org.apache.spark.sql.functions.lit
          val cdc = matched
            .select(schema.fieldNames.toSeq.map(q): _*)
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(imagesV
              .withColumn("_change_type", lit("update_postimage")))
          lines ++= writeCdcFiles(spark, path, snap, cdc)
        }
        files
      } finally if (enforced) imagesV.unpersist()
      newFiles.foreach { rel =>
        lines += addActionLine(fs, root, rel, statsIndexedSchema(
          DeltaSchema.physicalize(schema), snap.configuration))
      }

      lines += commitInfoLine("UPDATE",
        params = Map("predicate" -> conditions.mkString(" AND ")),
        metrics = Map("numUpdatedRows" -> updated))
      commit(spark, path, Some(snap), lines.toSeq,
        Rebase(removedPaths(lines.toSeq)), "UPDATE", snap.configuration)
      updated
    } finally matched.unpersist()
  }

  /** Predicate-scoped overwrite — delta-spark's `replaceWhere` option:
    * ONE atomic commit deletes every row matching `conditions` and
    * inserts `data`, whose rows must ALL satisfy the predicate
    * (validated before any file lands — rows sneaking outside the scope
    * would break the disjoint-writer partition-backfill pattern this
    * exists for). The reference is read-only; this is our extension in
    * delta-spark's `option("replaceWhere", ...)` shape.
    *
    * Scale shape: files whose partition values PROVE every row matches
    * ([[FileSkipping.provablyAllMatch]], fail-closed) are removed whole
    * — pure metadata, no data read, the O(changed-partitions) path a
    * 100 TB partition backfill needs. Only files the metadata cannot
    * decide (data-column predicates, parse doubt) are scanned and
    * DV-masked via [[delete]]'s machinery. Concurrency: the commit
    * conflicts with any winner whose new data may fall inside the
    * predicate (zone-map tested, fail-closed via `newDataGuard`), so
    * two backfills of disjoint partitions rebase past each other while
    * same-region writers abort.
    */
  def replaceWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      conditions: Seq[Cond], data: DataFrame): ReplaceWhereStats = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(conditions.nonEmpty, "replaceWhere needs at least one condition")
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    Constraints.requireNotAppendOnly(snap.configuration, "REPLACE WHERE", path)
    val schema = snap.schema
    // replaceWhere materializes generated partition values under THIS
    // session's zone with no metadata commit — same cross-zone refusal
    // as merge/update
    GeneratedPruning.requireZoneConsistent(snap.configuration, schema,
      snap.partitionColumns, "REPLACE WHERE")
    require(data.schema.fieldNames.toSet == schema.fieldNames.toSet,
      s"replaceWhere source columns [${data.schema.fieldNames.sorted.mkString(",")}]" +
        s" must equal table columns [${schema.fieldNames.sorted.mkString(",")}]" +
        " — replaceWhere does not evolve the schema")
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    val src = data.select(schema.fieldNames.toSeq.map(q): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val written = src.count()
      val pred = Cond.compile(conditions, Some(schema))
      val offender = src
        .where(not(coalesce(pred.cast("boolean"), lit(false))))
        .limit(1).collect()
      require(offender.isEmpty,
        s"replaceWhere: source rows violate the predicate " +
          s"${conditions.mkString(" AND ")} — e.g. ${offender.headOption.getOrElse("")}")
      Constraints.validateBatch(src, schema, snap.configuration,
        s"REPLACE WHERE into $path")

      val base = path.stripSuffix("/")
      val candidates = snap.addActionsFiltered(conditions)
      val physToField = DeltaSchema.physicalToField(schema)
      val logToPhys = DeltaSchema.logicalToPhysical(schema)
      val (whole, rest) = candidates.partition(a =>
        FileSkipping.provablyAllMatch(a, conditions, physToField, logToPhys))

      val nf = JsonNodeFactory.instance
      val lines = mutable.ArrayBuffer.empty[String]
      whole.foreach { a =>
        val rm = nf.objectNode(); val r = rm.putObject("remove")
        r.put("path", a.path)
        r.put("deletionTimestamp", System.currentTimeMillis())
        r.put("dataChange", true)
        lines += rm.toString
      }
      var masked = 0L
      val restScanOpt =
        if (rest.isEmpty) None
        else Some(DeltaScan.scanWithRowIndex(snap, rest).where(pred))
      restScanOpt.foreach { matchedDf =>
        val matching = matchedDf.select("__graft_file", "__graft_row_index")
        val (dvLines, newlyMasked) =
          dvActionLines(spark, base, snap, rest, matching)
        lines ++= dvLines
        masked = newlyMasked
      }

      // The DERIVED feed cannot express this commit (CdfEngine.spec
      // diffs re-ADDS only; a plain remove carries no row data), so a
      // CDF table stores the complete change set: live rows of
      // whole-removed files + newly-masked rows as 'delete', the source
      // as 'insert'.
      if (cdfEnabled(snap.configuration)) {
        val cols = schema.fieldNames.toSeq.map(q)
        val wholeDel =
          if (whole.isEmpty) None
          else Some(subtractPriorDv(snap, whole,
            DeltaScan.scanWithRowIndex(snap, whole)).select(cols: _*))
        val maskDel = restScanOpt.map(m =>
          subtractPriorDv(snap, rest, m).select(cols: _*))
        val dels = (wholeDel, maskDel) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }
        val ins = src.withColumn("_change_type", lit("insert"))
        val cdc = dels
          .map(_.withColumn("_change_type", lit("delete")).unionByName(ins))
          .getOrElse(ins)
        lines ++= writeCdcFiles(spark, path, snap, cdc)
      }

      val root = new Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val newFiles = if (written == 0L) Nil else withMicrosTimestamps(spark) {
        writeFiles(fs, root) { dir =>
          toPhysical(src, schema).write.mode("append")
            .partitionBy(
              physicalPartitionBy(snap.partitionColumns, schema): _*)
            .parquet(dir)
        }
      }
      newFiles.foreach { rel =>
        lines += addActionLine(fs, root, rel, statsIndexedSchema(
          DeltaSchema.physicalize(schema), snap.configuration))
      }

      val wholeRows = whole.foldLeft(Option(0L)) { (acc, a) =>
        for { s <- acc; n <- a.liveRecords } yield s + n
      }
      val deletedRows = wholeRows.map(_ + masked)
      val removed = removedPaths(lines.toSeq)
      lines += commitInfoLine("WRITE",
        params = Map("mode" -> "Overwrite",
          "predicate" -> conditions.mkString(" AND ")),
        metrics = Map("numSourceRows" -> written,
          "numRemovedFiles" -> removed.size.toLong,
          "numDeletionVectorRows" -> masked) ++
          deletedRows.map("numDeletedRows" -> _))
      commit(spark, path, Some(snap), lines.toSeq,
        Rebase(removed, newDataGuard = Some(conditions)), "REPLACE WHERE",
        snap.configuration)
      ReplaceWhereStats(whole.size.toLong, masked, written, deletedRows)
    } finally src.unpersist()
  }

  /** FSCK REPAIR TABLE: drop from the log every live entry whose data
    * file — or referenced deletion-vector bin — no longer exists on
    * storage, the recovery verb for tables corrupted by an external
    * delete or an overzealous retention job. The existence probe runs
    * as a Spark job over the live set (never a driver loop; at millions
    * of files the probes parallelize like vacuum's listing). Data loss
    * is acknowledged, not hidden: the removed entries' rows are gone
    * (delta-spark's FSCK has the same contract) — but every OTHER file
    * becomes readable again where a scan previously failed wholesale.
    * `dryRun` reports without committing. Returns the removed relative
    * paths.
    */
  def fsckRepair(spark: org.apache.spark.sql.SparkSession, path: String,
      dryRun: Boolean = false): Seq[String] = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val base = path.stripSuffix("/")
    val files = snap.liveFiles
    if (files.isEmpty) return Nil
    val sc = spark.sparkContext
    val confSer = new SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val probes: Seq[(String, Seq[String])] = files.map { a =>
      a.path -> (Seq(DeltaScan.resolvePath(base, a.path)) ++
        a.deletionVector.flatMap(dv =>
          DeletionVectors.relativeFilePath(dv, base).map(r => s"$base/$r")))
    }
    val slices = math.max(1, math.min(probes.size, sc.defaultParallelism))
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft fsck probe: $path")
    val missing =
      try sc.parallelize(probes, slices).filter { case (_, uris) =>
        uris.exists { u =>
          val p = new Path(u)
          !p.getFileSystem(confSer.value).exists(p)
        }
      }.map(_._1).collect().toSeq.sorted
      finally sc.setJobDescription(prevDesc)
    if (missing.isEmpty || dryRun) return missing
    val nf = JsonNodeFactory.instance
    val lines = mutable.ArrayBuffer.empty[String]
    missing.foreach { p =>
      val rm = nf.objectNode(); val r = rm.putObject("remove")
      r.put("path", p)
      r.put("deletionTimestamp", System.currentTimeMillis())
      r.put("dataChange", true)
      lines += rm.toString
    }
    lines += commitInfoLine("FSCK",
      params = Map("dryRun" -> "false"),
      metrics = Map("numRemovedFiles" -> missing.size.toLong))
    commit(spark, path, Some(snap), lines.toSeq, Rebase(missing.toSet),
      "FSCK", snap.configuration)
    missing
  }

  /** RESTORE to an earlier version: one commit that re-states the
    * target version's live file set — re-`add`s for files removed
    * since, `remove`s for files added since, and remove+add pairs
    * reverting changed deletion vectors — plus the target `metaData`
    * when schema/partitioning/configuration changed. Nothing is
    * rewritten and history is preserved (the restore itself is just one
    * more commit); the protocol is NEVER downgraded, so readers that
    * could open the current table keep working.
    *
    * Fails loudly if any data file or DV bin the target version
    * references has been vacuumed away — a partial restore would
    * silently drop rows.
    */
  def restore(spark: org.apache.spark.sql.SparkSession, path: String,
      toVersion: Long): RestoreStats = {
    val cur = DeltaLog.forPath(spark, path)
    require(toVersion <= cur.version,
      s"cannot restore $path to future version $toVersion " +
        s"(current version is ${cur.version})")
    if (toVersion == cur.version) return RestoreStats(0L, 0L, 0L)
    cur.checkProtocolSupported()
    Constraints.requireNotAppendOnly(cur.configuration, "RESTORE", path)
    val tgt = DeltaLog.forPath(spark, path, Some(toVersion))
    require(tgt.version == toVersion && tgt.metadata.isDefined,
      s"version $toVersion of $path is not reconstructible " +
        "(log truncated below it?)")

    val base = path.stripSuffix("/")
    val curByPath = cur.liveFiles.map(a => a.path -> a).toMap
    val tgtByPath = tgt.liveFiles.map(a => a.path -> a).toMap
    val toAdd = tgt.liveFiles.filterNot(a => curByPath.contains(a.path))
    val toRemove = cur.liveFiles.filterNot(a => tgtByPath.contains(a.path))
    val dvChanged = tgt.liveFiles.filter(a => curByPath.get(a.path)
      .exists(c => c.deletionVector != a.deletionVector))
    if (toAdd.isEmpty && toRemove.isEmpty && dvChanged.isEmpty &&
        cur.metadata == tgt.metadata)
      return RestoreStats(0L, 0L, 0L)

    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val needed = (toAdd ++ dvChanged).flatMap { a =>
      Seq(DeltaScan.resolvePath(base, a.path)) ++
        a.deletionVector.flatMap(dv =>
          DeletionVectors.relativeFilePath(dv, base).map(r => s"$base/$r"))
    }
    val missing = needed.filterNot(p => fs.exists(new Path(p)))
    require(missing.isEmpty,
      s"restore of $path to version $toVersion references vacuumed " +
        s"files:\n  ${missing.take(10).mkString("\n  ")}")

    val nf = JsonNodeFactory.instance
    val lines = mutable.ArrayBuffer.empty[String]
    if (cur.metadata != tgt.metadata) tgt.metadata.foreach { md =>
      val meta = nf.objectNode(); val m = meta.putObject("metaData")
      m.put("id", md.id.getOrElse(java.util.UUID.nameUUIDFromBytes(
        path.getBytes(StandardCharsets.UTF_8)).toString))
      val fmt = m.putObject("format")
      fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", md.schemaString)
      val pc = m.putArray("partitionColumns")
      md.partitionColumns.foreach(pc.add)
      val cfg = m.putObject("configuration")
      md.configuration.foreach { case (k, v) => cfg.put(k, v) }
      md.createdTime.foreach(m.put("createdTime", _))
      lines += meta.toString
    }
    (toRemove.map(_.path) ++ dvChanged.map(_.path)).foreach { p =>
      val rm = nf.objectNode(); val r = rm.putObject("remove")
      r.put("path", p)
      r.put("deletionTimestamp", System.currentTimeMillis())
      r.put("dataChange", true)
      lines += rm.toString
    }
    (toAdd ++ dvChanged).foreach(a =>
      lines += addLineFor(a, dataChange = true))
    lines += commitInfoLine("RESTORE",
      params = Map("version" -> toVersion.toString),
      metrics = Map("numRestoredFiles" -> toAdd.size.toLong,
        "numRemovedFiles" -> toRemove.size.toLong))
    commit(spark, path, Some(cur), lines.toSeq, ExactVersion, "RESTORE",
      tgt.configuration)
    RestoreStats(toAdd.size.toLong, toRemove.size.toLong,
      dvChanged.size.toLong)
  }

  /** `metaData` action line re-stating `md` with `cfg` as the
    * configuration — the ALTER-style metadata-only commit shape.
    */
  private def metadataLine(path: String, md: DeltaMetadata,
      cfg: Map[String, String]): String = {
    val nf = JsonNodeFactory.instance
    val meta = nf.objectNode(); val m = meta.putObject("metaData")
    m.put("id", md.id.getOrElse(java.util.UUID.nameUUIDFromBytes(
      path.getBytes(StandardCharsets.UTF_8)).toString))
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", md.schemaString)
    val pc = m.putArray("partitionColumns")
    md.partitionColumns.foreach(pc.add)
    val c = m.putObject("configuration")
    cfg.foreach { case (k, v) => c.put(k, v) }
    md.createdTime.foreach(m.put("createdTime", _))
    meta.toString
  }

  /** Protocol line announcing a WRITER-ONLY feature, or None when the
    * current protocol already implies it (legacy minWriterVersion >=
    * `legacyImpliedBy`, or feature form listing it). When a plain
    * legacy bump can express the feature it is preferred — NOT the
    * feature form, which would churn readers that gain nothing from a
    * writer-only feature. Features no legacy version implies
    * (`legacyImpliedBy = None`, e.g. inCommitTimestamp) upgrade to
    * minWriterVersion 7 with the full writerFeatures list (everything
    * the old legacy version implied, plus this), keeping
    * minReaderVersion untouched.
    */
  private def writerFeatureProtocolLine(prior: Option[DeltaProtocol],
      feature: String, legacyImpliedBy: Option[Int]): Option[String] = {
    val nf = JsonNodeFactory.instance
    def wrap(p: DeltaProtocol): String = {
      val o = nf.objectNode()
      o.set[JsonNode]("protocol", protocolNode(p))
      o.toString
    }
    prior match {
      case Some(p) if p.writerFeatures.isDefined =>
        if (p.writerFeatures.exists(_.contains(feature))) None
        else Some(wrap(p.copy(writerFeatures =
          Some((p.writerFeatures.get :+ feature).distinct))))
      case Some(p) if legacyImpliedBy.exists(p.minWriterVersion >= _) =>
        None
      case p0 =>
        legacyImpliedBy match {
          case Some(v) =>
            val o = nf.objectNode(); val pn = o.putObject("protocol")
            pn.put("minReaderVersion",
              p0.map(_.minReaderVersion).getOrElse(1))
            pn.put("minWriterVersion",
              math.max(v, p0.map(_.minWriterVersion).getOrElse(1)))
            Some(o.toString)
          case None =>
            val legacy = p0.map(_.minWriterVersion).getOrElse(1)
            val wf = ImpliedWriterFeatures.collect {
              case (minV, f) if legacy >= minV => f
            } :+ feature
            Some(wrap(DeltaProtocol(
              p0.map(_.minReaderVersion).getOrElse(1), 7,
              readerFeatures = None,
              writerFeatures = Some(wf.distinct))))
        }
    }
  }

  private def checkConstraintsProtocolLine(
      prior: Option[DeltaProtocol]): Option[String] =
    writerFeatureProtocolLine(prior, "checkConstraints", Some(3))

  /** ALTER TABLE ADD CONSTRAINT: register CHECK constraint `name`
    * (`delta.constraints.<name>` — PROTOCOL.md#check-constraints) after
    * validating that EVERY existing row satisfies it (one distributed
    * scan, short-circuiting at the first violation); all subsequent
    * writes then enforce it ([[Constraints.validateBatch]]). One
    * metadata-only commit; the protocol gains the `checkConstraints`
    * writer feature when it doesn't already imply it. Fail-closed
    * against racers: a concurrent commit adding ANY new data aborts
    * this commit — those rows were never validated. Returns the
    * committed version.
    */
  def addCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String, sqlExpr: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"constraint name '$name' must be an identifier")
    val key = Constraints.Prefix + name
    require(!snap.configuration.contains(key),
      s"table $path already has CHECK constraint '$name' " +
        s"(${snap.configuration(key)})")
    // validate ONLY the new constraint over existing rows; the schema's
    // own NOT NULL and generation rules were enforced when those rows
    // were written (nullable-ized, generation-stripped schema — without
    // this the ALTER would re-evaluate every generated column
    // table-wide and could even reject on unrelated engine variance)
    Constraints.validateBatch(DeltaScan.scanSnapshot(snap),
      StructType(snap.schema.fields.map(f => f.copy(nullable = true,
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .remove(Constraints.GenerationKey).build()))),
      Map(key -> sqlExpr), s"ADD CONSTRAINT '$name' on $path")
    val cfg = snap.configuration + (key -> sqlExpr)
    val lines = checkConstraintsProtocolLine(snap.protocol).toSeq ++ Seq(
      metadataLine(path, snap.metadata.get, cfg),
      commitInfoLine("ADD CONSTRAINT",
        params = Map("name" -> name, "expr" -> sqlExpr)))
    commit(spark, path, Some(snap), lines,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "ADD CONSTRAINT", cfg)
  }

  /** ALTER TABLE DROP CONSTRAINT: remove CHECK constraint `name`. One
    * metadata-only commit; no protocol downgrade (feature lists only
    * grow). Concurrent plain appends rebase cleanly — they validated
    * against a superset of the surviving constraints. Returns the
    * committed version.
    */
  def dropCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val key = Constraints.Prefix + name
    require(snap.configuration.contains(key),
      s"table $path has no CHECK constraint '$name' (existing: " +
        Constraints.fromConfig(snap.configuration).map(_._1)
          .mkString(", ") + ")")
    val cfg = snap.configuration - key
    val lines = Seq(
      metadataLine(path, snap.metadata.get, cfg),
      commitInfoLine("DROP CONSTRAINT", params = Map("name" -> name)))
    commit(spark, path, Some(snap), lines, Rebase(Set.empty),
      "DROP CONSTRAINT", cfg)
  }

  /** Shallow CLONE: create `dstPath` as a new Delta table whose v0
    * commit references the SOURCE's current data files by absolute
    * path — zero data movement, the protocol's sanctioned form (the
    * reader resolves absolute `add.path` URIs). Deletion-vector
    * descriptors are rewritten to absolute "p" form so the clone reads
    * the source's DV bins; they sit outside the clone's root, so the
    * clone's vacuum can never delete them. The clone gets a FRESH table
    * id and copies schema/partitioning/configuration/protocol;
    * subsequent writes (append/delete/update/optimize) are local to the
    * clone and never touch the source. The 100 TB use case: a
    * full-fidelity dev/test copy in one driver-side commit.
    *
    * Caveat (same as every shallow clone): vacuuming or rewriting the
    * SOURCE invalidates the clone's references — clone from a source
    * whose retention you control.
    */
  /** Absolute "p"-form URI for a source table's DV bin during a shallow
    * clone. DV 'u' paths (prefix + deletion_vector_<uuid>.bin) are
    * stored RAW in the descriptor — never percent-encoded like add.path
    * — so the absolute form is plain concatenation + qualification;
    * routing them through resolvePath's percent-decode would corrupt a
    * prefix containing a literal '%XX' sequence.
    */
  private[delta] def dvCloneUri(
      srcFs: FileSystem, srcBase: String, rel: String): String = {
    val q = srcFs.makeQualified(new Path(s"$srcBase/$rel")).toUri
    if (q.getScheme == null) q.getPath
    else s"${q.getScheme}://${Option(q.getAuthority).getOrElse("")}${q.getPath}"
  }

  def cloneTable(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String,
      /** CLONE … VERSION AS OF: clone the source's state at this
        * version (time-travel clone — delta-spark parity). The clone
        * references that version's files; a later source vacuum can
        * invalidate them like any shallow clone.
        */
      srcVersion: Option[Long] = None): Unit = {
    val src = DeltaLog.forPath(spark, srcPath, srcVersion)
    srcVersion.foreach(v => require(src.version == v,
      s"version $v of $srcPath does not exist (head is ${src.version})"))
    src.checkProtocolSupported()
    require(src.metadata.isDefined, s"no Delta table at $srcPath")
    val dstRoot = new Path(dstPath)
    val dstFs = dstRoot.getFileSystem(spark.sessionState.newHadoopConf())
    require(!dstFs.exists(new Path(dstRoot, "_delta_log")),
      s"clone target $dstPath is already a Delta table")
    val srcBase = srcPath.stripSuffix("/")
    val srcFs = new Path(srcPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // fully-qualified URI, scheme and authority INCLUDED — dropping them
    // (a bare .getPath) would re-root an s3a://bucket/... source onto
    // the reader's default filesystem. Scheme-less default FS keeps the
    // plain absolute path.
    def absoluteUri(raw: String): (String, String) = {
      val q = srcFs.makeQualified(
        new Path(DeltaScan.resolvePath(srcBase, raw))).toUri
      if (q.getScheme == null) ("", q.getPath)
      else (s"${q.getScheme}://${Option(q.getAuthority).getOrElse("")}",
        q.getPath)
    }

    val nf = JsonNodeFactory.instance
    val lines = mutable.ArrayBuffer.empty[String]
    src.protocol.foreach { p =>
      val pn = nf.objectNode(); val po = pn.putObject("protocol")
      po.put("minReaderVersion", p.minReaderVersion)
      po.put("minWriterVersion", p.minWriterVersion)
      p.readerFeatures.foreach { fs =>
        val a = po.putArray("readerFeatures"); fs.foreach(a.add) }
      p.writerFeatures.foreach { fs =>
        val a = po.putArray("writerFeatures"); fs.foreach(a.add) }
      lines += pn.toString
    }
    val md = src.metadata.get
    val meta = nf.objectNode(); val m = meta.putObject("metaData")
    m.put("id", java.util.UUID.randomUUID().toString) // fresh identity
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", md.schemaString)
    val pc = m.putArray("partitionColumns")
    md.partitionColumns.foreach(pc.add)
    val cfg = m.putObject("configuration")
    md.configuration.foreach { case (k, v) => cfg.put(k, v) }
    m.put("createdTime", System.currentTimeMillis())
    lines += meta.toString

    src.liveFiles.foreach { a =>
      val dv2 = a.deletionVector.map { dv =>
        dv.storageType match {
          case "u" =>
            // "p" descriptors are read verbatim (no percent-decoding),
            // so the URI is emitted unencoded
            dv.copy(storageType = "p", pathOrInlineDv = dvCloneUri(
              srcFs, srcBase,
              DeletionVectors.relativeFilePath(dv, srcBase).getOrElse(
                sys.error(s"unresolvable DV for ${a.path}"))))
          case _ => dv // inline ("i") and already-absolute ("p") forms
        }
      }
      // add.path stays percent-encoded (the scan decodes the path
      // component of absolute URIs exactly like relative paths)
      val (sch, p) = absoluteUri(a.path)
      lines += addLineFor(
        a.copy(path = sch + encodePath(p), deletionVector = dv2),
        dataChange = true)
    }
    // the source's domainMetadata comes along: a clone of a row-tracked
    // table without its high-water-mark domain would re-assign ids an
    // external engine already handed out
    src.domainMetadataRaw.foreach { raw =>
      val o = JsonNodeFactory.instance.objectNode()
      o.set[JsonNode]("domainMetadata", ActionCodec.mapper.readTree(raw))
      lines += o.toString
    }
    lines += commitInfoLine("CLONE",
      params = Map("source" -> srcPath))
    commit(spark, dstPath, None, lines.toSeq, ExactVersion, "CLONE",
      md.configuration)
  }

  /** Per-file deletion-vector actions for the matched
    * `(__graft_file, __graft_row_index)` rows, built in ONE pass with no
    * shuffle: each task folds its rows into per-file partial bitmaps
    * (only their compact serialized bytes leave the task), the driver
    * ORs the partials of a file split across tasks as each task
    * finishes, then folds in the prior DV of each matched file — read
    * for those files only — plus the protocol feature upgrade on the
    * table's first DV write. Returns the remove+add(DV) JSON lines and
    * the newly-deleted row count — empty when nothing matched. Shared
    * by every DV-writing DML verb.
    *
    * Size guard: a merge touching millions of files would stress driver
    * memory, so the partials are counted as they arrive and the
    * operation fails loudly (with the cure) the moment the distinct
    * files or their bitmap bytes pass the per-commit limit — the driver
    * never holds more than the limit plus one task's output — and again
    * on the final bitmaps, before any DV file or commit is written.
    */
  private def dvActionLines(
      spark: org.apache.spark.sql.SparkSession, base: String,
      snap: DeltaSnapshot, candidates: Seq[AddAction],
      matching: DataFrame): (Seq[String], Long) = {
    val maxFiles = spark.conf
      .getOption("spark.graft.dml.maxDvFilesPerCommit")
      .flatMap(_.toLongOption).getOrElse(500000L)
    val maxBytes = spark.conf
      .getOption("spark.graft.dml.maxDvBytesPerCommit")
      .flatMap(_.toLongOption).getOrElse(2L * 1024 * 1024 * 1024)
    def overLimit(nFiles: Long, bytes: Long): Option[IllegalStateException] =
      if (nFiles <= maxFiles && bytes <= maxBytes) None
      else Some(new IllegalStateException(
        s"this operation would commit deletion vectors for $nFiles " +
          s"files ($bytes bitmap bytes), above the per-commit limit " +
          s"(spark.graft.dml.maxDvFilesPerCommit=$maxFiles, " +
          s"spark.graft.dml.maxDvBytesPerCommit=$maxBytes) — split it " +
          "into narrower predicates / per-partition batches, or raise " +
          "the limit if the driver has the memory for it"))

    val partials = matching.select("__graft_file", "__graft_row_index")
      .queryExecution.toRdd.mapPartitions { rows =>
        val perFile = new java.util.HashMap[
          org.apache.spark.unsafe.types.UTF8String, RowIndexBitmap]
        var last: org.apache.spark.unsafe.types.UTF8String = null
        var bits: RowIndexBitmap = null
        rows.foreach { r =>
          val f = r.getUTF8String(0)
          if (last == null || !last.equals(f)) {
            last = f.clone() // the row buffer behind `f` is reused
            bits = perFile.computeIfAbsent(last, _ => new RowIndexBitmap)
          }
          bits.add(r.getLong(1))
        }
        import scala.jdk.CollectionConverters._
        perFile.asScala.iterator.map { case (k, b) => (k.toString, b.serialize()) }
      }

    // driver side: OR the partials as each task's output arrives
    val merged = mutable.HashMap.empty[String, RowIndexBitmap]
    var received = 0L
    var tripped: Option[IllegalStateException] = None
    try spark.sparkContext.runJob(partials,
      (it: Iterator[(String, Array[Byte])]) => it.toArray,
      (_: Int, part: Array[(String, Array[Byte])]) => if (tripped.isEmpty) {
        part.foreach { case (f, data) =>
          val p = RowIndexBitmap.deserialize(data)
          merged.get(f) match {
            case Some(m) => m.or(p)
            case None => merged(f) = p
          }
          received += data.length
        }
        tripped = overLimit(merged.size.toLong, received)
        tripped.foreach { e => merged.clear(); throw e }
      })
    catch {
      // a result handler's exception reaches the caller wrapped
      case e: org.apache.spark.SparkException
          if tripped.exists(_ eq e.getCause) => throw e.getCause
    }
    if (merged.isEmpty) return (Nil, 0L)

    // fold in each matched file's prior DV; candidates order keeps the
    // commit's action order stable
    val key = DeltaFileIndex.fileKey(snap)
    val perFile: Seq[(AddAction, Array[Byte], Long)] =
      candidates.flatMap(a => merged.remove(key(a)).map { bits =>
        a.deletionVector.foreach(dv => bits.or(
          RowIndexBitmap.deserialize(DeletionVectors.read(spark, base, dv))))
        (a, bits.serialize(), bits.cardinality)
      })
    merged.keysIterator.nextOption().foreach(k =>
      sys.error(s"delete matched unknown file $k"))
    overLimit(perFile.size.toLong, perFile.map(_._2.length.toLong).sum)
      .foreach(e => throw e)

    val nf = JsonNodeFactory.instance
    val lines = mutable.ArrayBuffer.empty[String]

    // protocol upgrade on the first DV write, folding in legacy-implied
    // features — dropping e.g. columnMapping would break other readers
    val hasFeature = snap.protocol.exists(
      _.readerFeatures.exists(_.contains("deletionVectors")))
    if (!hasFeature)
      lines += upgradedProtocolJson(snap.protocol, "deletionVectors")

    var newlyDeleted = 0L
    perFile.foreach { case (action, data, card) =>
      newlyDeleted +=
        card - action.deletionVector.map(_.cardinality).getOrElse(0L)
      val dv = DeletionVectors.descriptorFor(spark, base, data, card)

      val rm = nf.objectNode(); val r = rm.putObject("remove")
      r.put("path", action.path)
      r.put("deletionTimestamp", System.currentTimeMillis())
      r.put("dataChange", true)
      lines += rm.toString

      lines += addLineFor(action.copy(deletionVector = Some(dv)),
        dataChange = true)
    }
    (lines.toSeq, newlyDeleted)
  }

  /** Re-serialize an existing [[AddAction]] as an `add` JSON line —
    * faithful re-emission of everything the log knows about the file
    * (effective partition values, stats, DV descriptor). Used wherever a
    * commit re-states a file it did not write: DV updates
    * (delete/merge/update) and [[restore]].
    */
  private def addLineFor(action: AddAction, dataChange: Boolean): String = {
    val nf = JsonNodeFactory.instance
    val addObj = nf.objectNode(); val a = addObj.putObject("add")
    a.put("path", action.path)
    val pv = a.putObject("partitionValues")
    action.effectivePartitionValues.foreach {
      case (k, Some(v)) => pv.put(k, v)
      case (k, None) => pv.putNull(k)
    }
    a.put("size", action.size)
    a.put("modificationTime", action.modificationTime)
    a.put("dataChange", dataChange)
    action.stats.foreach(a.put("stats", _))
    // external row-tracking fields and tags carry through every restate
    action.baseRowId.foreach(a.put("baseRowId", _))
    action.defaultRowCommitVersion.foreach(
      a.put("defaultRowCommitVersion", _))
    if (action.tags.nonEmpty) {
      val tg = a.putObject("tags")
      action.tags.foreach {
        case (k, Some(v)) => tg.put(k, v)
        case (k, None) => tg.putNull(k)
      }
    }
    action.deletionVector.foreach { dv =>
      val dvn = a.putObject("deletionVector")
      dvn.put("storageType", dv.storageType)
      dvn.put("pathOrInlineDv", dv.pathOrInlineDv)
      dv.offset.foreach(dvn.put("offset", _))
      dvn.put("sizeInBytes", dv.sizeInBytes)
      dvn.put("cardinality", dv.cardinality)
    }
    addObj.toString
  }

  /** The SQL MERGE cardinality rule (a target row may match at most one
    * source row), shared by [[merge]] and DeltaSink's creating batch so
    * batch 0 and steady-state batches can never enforce different
    * invariants.
    */
  private[graft] def requireUniqueKeys(
      df: DataFrame, keys: Seq[String], what: String,
      hint: String = ""): Unit = {
    import org.apache.spark.sql.functions.col
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    require(df.groupBy(keys.map(q): _*).count()
        .where(col("count") > 1).isEmpty,
      s"$what has duplicate key tuples — each target row may" +
        " match at most one source row" + hint)
  }

  /** One `commitInfo` line: operation + operationParameters +
    * operationMetrics + engineInfo — the delta-spark-compatible audit
    * fields DESCRIBE HISTORY surfaces and external tooling parses.
    * Metric values serialize as STRINGS (the delta-spark convention).
    */
  private def commitInfoLine(operation: String,
      params: Map[String, String] = Map.empty,
      metrics: Map[String, Long] = Map.empty): String = {
    val nf = JsonNodeFactory.instance
    val ci = nf.objectNode(); val c = ci.putObject("commitInfo")
    c.put("timestamp", System.currentTimeMillis())
    c.put("operation", operation)
    if (params.nonEmpty) {
      val p = c.putObject("operationParameters")
      params.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    }
    if (metrics.nonEmpty) {
      val m = c.putObject("operationMetrics")
      metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
        m.put(k, v.toString) }
    }
    c.put("engineInfo", "graft-spark/0.5")
    ci.toString
  }

  private[delta] def cdfEnabled(cfg: Map[String, String]): Boolean =
    cfg.get("delta.enableChangeDataFeed")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** One `cdc` JSON line (PROTOCOL.md#add-cdc-file) for a freshly
    * written change-data file: hive-encoded partition values recovered
    * from the directory layout, size from the file status,
    * `dataChange=false` always (change data never alters table state).
    */
  private def cdcLineFor(fs: FileSystem, root: Path, rel: String): String = {
    val nf = JsonNodeFactory.instance
    val status = fs.getFileStatus(new Path(root, rel))
    val o = nf.objectNode(); val c = o.putObject("cdc")
    c.put("path", encodePath(rel))
    val pv = c.putObject("partitionValues")
    partitionValuesFromPath(rel).foreach {
      case (k, Some(v)) => pv.put(k, v)
      case (k, None) => pv.putNull(k)
    }
    c.put("size", status.getLen)
    c.put("dataChange", false)
    o.toString
  }

  /** Stage `rows` (table columns + `_change_type`) as stored change-data
    * parquet under `_change_data/` — physical column names, the table's
    * hive partition layout, micros timestamps, exactly like data files —
    * and return the commit lines: one `cdc` action per new file, plus
    * the `changeDataFeed` writer-feature protocol upgrade when the table
    * doesn't already carry it. The files become durable only when the
    * caller's commit lands (a failed commit strands them for vacuum,
    * same as data files).
    */
  private def writeCdcFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: DeltaSnapshot, rows: DataFrame): Seq[String] = {
    // Empty change set (e.g. a MERGE whose source matched nothing and
    // carried only delete-flagged rows): skip the write job AND the
    // protocol-feature minting — a no-op change must leave no
    // `_change_data` file and no cdc action. The limit-1 probe is one
    // tiny job; the full partitioned write it replaces is not.
    if (rows.isEmpty) return Nil
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val cdcFiles = withMicrosTimestamps(spark) {
      writeFiles(fs, root, into = "_change_data/") { dir =>
        toPhysical(rows, snap.schema).write.mode("append")
          .partitionBy(
            physicalPartitionBy(snap.partitionColumns, snap.schema): _*)
          .parquet(dir)
      }
    }
    writerFeatureProtocolLine(snap.protocol, "changeDataFeed", Some(4)).toSeq ++
      cdcFiles.map(rel => cdcLineFor(fs, root, rel))
  }

  /** Drop the rows a prior deletion vector already masked from a
    * [[DeltaScan.scanWithRowIndex]] frame — those physical rows are
    * dead and must feed neither update images nor change data.
    */
  private def subtractPriorDv(snap: DeltaSnapshot,
      candidates: Seq[AddAction], df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dvCand = candidates.filter(_.hasDeletionVector)
    if (dvCand.isEmpty) df
    else df.where(DvMask.live(snap, dvCand,
      col("__graft_file"), col("__graft_row_index")))
  }

  private[delta] def rowTrackingEnabled(cfg: Map[String, String]): Boolean =
    cfg.get("delta.enableRowTracking")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Materialized row-tracking column names (PROTOCOL.md#row-tracking):
    * the physical columns OPTIMIZE persists stable ids into so they
    * survive bin-packing rewrites.
    */
  private[delta] val MatRowIdKey =
    "delta.rowTracking.materializedRowIdColumnName"
  private[delta] val MatRowVersionKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** Current row-id high-water mark from the `delta.rowTracking`
    * domain (-1 = no ids assigned yet).
    */
  private def rowIdHwm(snap: DeltaSnapshot): Long =
    snap.domains.get("delta.rowTracking")
      .map(ActionCodec.mapper.readTree)
      .filterNot(n => Option(n.get("removed")).exists(_.asBoolean))
      .flatMap(n => Option(n.get("configuration")).filterNot(_.isNull))
      .map(c => if (c.isTextual) ActionCodec.mapper.readTree(c.asText)
        else c)
      .flatMap(c => Option(c.get("rowIdHighWaterMark"))
        .filterNot(_.isNull).map(_.asLong))
      .getOrElse(-1L)

  /** Row tracking (PROTOCOL.md#row-tracking): assign fresh `baseRowId`s
    * to this commit's NEW add actions (row i of the file gets stable id
    * baseRowId + i) and append the advanced `delta.rowTracking` domain.
    * Adds already carrying a baseRowId are restates and keep theirs.
    * Requires numRecords stats on every new add (our writer always
    * emits them). `defaultRowCommitVersion` is stamped separately, per
    * commit attempt ([[withRowVersion]]).
    */
  private def assignRowIds(lines: Seq[String], hwm0: Long): Seq[String] = {
    var hwm = hwm0
    val out = lines.map { l =>
      val n = ActionCodec.mapper.readTree(l)
      val add = n.get("add")
      if (add == null || add.isNull || add.has("baseRowId")) l
      else {
        val rows = Option(add.get("stats")).filterNot(_.isNull)
          .map(_.asText).flatMap(FileStats.fromJson).flatMap(_.numRecords)
          .getOrElse(throw new IllegalStateException(
            "row tracking needs numRecords stats on every new add " +
              "action; this file has none: " + add.get("path")))
        add.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("baseRowId", hwm + 1)
        hwm += rows
        n.toString
      }
    }
    // the domain only re-states when the mark ADVANCED: a DV-only
    // delete assigns nothing, and an unconditional domain line would
    // make every row-tracked DML conflict with every other via the
    // rebase domain check — destroying the "DV DML is naturally safe"
    // concurrency for no protection gain
    if (hwm == hwm0) out
    else {
      val dom = JsonNodeFactory.instance.objectNode()
      dom.putObject("domainMetadata")
        .put("domain", "delta.rowTracking")
        .put("configuration", s"""{"rowIdHighWaterMark":$hwm}""")
        .put("removed", false)
      out :+ dom.toString
    }
  }

  /** Enable row tracking on an EXISTING, possibly populated table — the
    * backfill the write()-path guard points at. ONE commit that (a)
    * upgrades the protocol with the `rowTracking` + `domainMetadata`
    * writer features, (b) sets `delta.enableRowTracking=true`, and (c)
    * re-states every live file `dataChange=false`; commit's row-id
    * assignment then mints each restated add a fresh disjoint
    * `baseRowId` and writes the advanced high-water-mark domain under
    * OCC. Fail-closed against racers (`newDataGuard=Some(Nil)`): a
    * concurrent commit adding data files would leave rows unassigned,
    * so it aborts this commit instead of rebasing. Requires numRecords
    * stats on every live file (our writer and CONVERT always emit
    * them). No-op when already enabled. Returns the committed version.
    */
  def enableRowTracking(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    if (rowTrackingEnabled(snap.configuration)) return snap.version
    val cfg = snap.configuration + ("delta.enableRowTracking" -> "true")
    val lines = mutable.ArrayBuffer.empty[String]
    lines += upgradedProtocolJson(snap.protocol, "rowTracking",
      "domainMetadata")
    lines += metadataLine(path, snap.metadata.get, cfg)
    snap.liveFiles.foreach { a =>
      require(a.parsedStats.flatMap(_.numRecords).isDefined,
        "row-tracking backfill needs numRecords stats on every live " +
          s"file; '${a.path}' has none")
      lines += addLineFor(a, dataChange = false)
    }
    lines += commitInfoLine("ENABLE ROW TRACKING",
      metrics = Map("numBackfilledFiles" -> snap.liveFiles.size.toLong))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(snap.liveFiles.map(_.path).toSet, newDataGuard = Some(Nil)),
      "ENABLE ROW TRACKING", cfg)
  }

  /** Whether `p` already grants the columnMapping reader-writer feature
    * (feature form, or legacy minReader>=2 + minWriter>=5).
    */
  private def impliesColumnMapping(p: DeltaProtocol): Boolean =
    p.readerFeatures.map(_.contains("columnMapping"))
      .getOrElse(p.minReaderVersion >= 2) &&
      p.writerFeatures.map(_.contains("columnMapping"))
        .getOrElse(p.minWriterVersion >= 5)

  /** Stamp column-mapping identities onto an UNMAPPED schema for the
    * mode upgrade: every field (incl. nested struct fields, depth-first
    * like delta-spark) gets a fresh id and physicalName = its CURRENT
    * logical name — so every existing data file, stats blob and
    * partitionValues key resolves unchanged. Returns (schema, maxId).
    */
  private def stampMappingIdentities(schema: StructType): (StructType, Long) = {
    var id = 0L
    def stamp(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        id += 1
        f.copy(
          metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong(DeltaSchema.ColumnIdKey, id)
            .putString(DeltaSchema.PhysicalNameKey, f.name)
            .build(),
          dataType = stamp(f.dataType))
      })
      case ArrayType(et, n) => ArrayType(stamp(et), n)
      case MapType(k, v, n) => MapType(stamp(k), stamp(v), n)
      case p => p
    }
    (stamp(schema).asInstanceOf[StructType], id)
  }

  /** Enable column mapping (`delta.columnMapping.mode=name`) on an
    * existing table with ONE metadata-only commit: identities stamped
    * with physicalName = current logical name, so no data file needs
    * rewriting — the write()-path rejection of mode changes is about
    * uncoordinated upgrades hidden in append properties, not this. The
    * gateway to rename/drop DDL; no-op when already mapped.
    */
  def enableColumnMapping(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    if (snap.configuration.getOrElse("delta.columnMapping.mode", "none")
        != "none") return snap.version
    val (mapped, maxId) = stampMappingIdentities(snap.schema)
    val cfg = snap.configuration +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> maxId.toString)
    val lines = mutable.ArrayBuffer.empty[String]
    if (!snap.protocol.exists(impliesColumnMapping))
      lines += upgradedProtocolJson(snap.protocol, "columnMapping")
    lines += metadataLine(path,
      snap.metadata.get.copy(schemaString = mapped.json), cfg)
    lines += commitInfoLine("SET COLUMN MAPPING",
      params = Map("mode" -> "name"))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "SET COLUMN MAPPING", cfg)
  }

  /** Guard shared by the rename/drop DDL: the column must not be
    * referenced by a CHECK constraint or a generated-column expression
    * (the stored SQL keeps the old name and would silently break).
    * Word-boundary match errs on rejection — a false positive is an
    * explicit error the user can fix by dropping the constraint; a
    * false negative is a corrupted table.
    */
  private def requireUnreferenced(cfg: Map[String, String],
      schema: StructType, col: String, op: String): Unit = {
    val pat = java.util.regex.Pattern.compile(
      s"(?i)(^|[^A-Za-z0-9_`])`?${java.util.regex.Pattern.quote(col)}`?($$|[^A-Za-z0-9_`])")
    cfg.collect { case (k, v) if k.startsWith(Constraints.Prefix) => (k, v) }
      .foreach { case (k, sql) =>
        require(!pat.matcher(sql).find(),
          s"cannot $op column '$col': referenced by constraint " +
            s"${k.stripPrefix(Constraints.Prefix)} ($sql)")
      }
    Constraints.generatedColumns(schema).foreach { case (g, sql) =>
      require(!pat.matcher(sql).find(),
        s"cannot $op column '$col': generated column '$g' derives from it ($sql)")
    }
  }

  /** RENAME COLUMN as a metadata-only commit: the field keeps its
    * column-mapping id and physicalName, only the LOGICAL name changes,
    * so no data file is touched — the operation a 100 TB table needs to
    * be O(1). Auto-enables column mapping (same upgrade as
    * [[enableColumnMapping]], folded into this commit) on unmapped
    * tables. Top-level columns only; partition columns rename too
    * (metaData.partitionColumns holds logical names, add.partitionValues
    * keys stay physical).
    */
  def renameColumn(spark: org.apache.spark.sql.SparkSession,
      path: String, oldName: String, newName: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val mapped0 = snap.configuration
      .getOrElse("delta.columnMapping.mode", "none") != "none"
    val (schema, maxId) =
      if (mapped0) (snap.schema, -1L) else stampMappingIdentities(snap.schema)
    require(schema.fieldNames.contains(oldName),
      s"no column '$oldName' in $path (have: ${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.exists(f =>
        f != oldName && f.equalsIgnoreCase(newName)),
      s"column '$newName' already exists in $path")
    require(newName.nonEmpty && !newName.exists(" ,;{}()\n\t=".contains(_)),
      s"invalid column name '$newName'")
    requireUnreferenced(snap.configuration, schema, oldName, "rename")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val cfg =
      if (mapped0) snap.configuration
      else snap.configuration +
        ("delta.columnMapping.mode" -> "name") +
        ("delta.columnMapping.maxColumnId" -> maxId.toString)
    val md = snap.metadata.get.copy(
      schemaString = renamed.json,
      partitionColumns = snap.metadata.get.partitionColumns
        .map(c => if (c == oldName) newName else c))
    val lines = mutable.ArrayBuffer.empty[String]
    if (!snap.protocol.exists(impliesColumnMapping))
      lines += upgradedProtocolJson(snap.protocol, "columnMapping")
    lines += metadataLine(path, md, cfg)
    lines += commitInfoLine("RENAME COLUMN",
      params = Map("oldName" -> oldName, "newName" -> newName))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "RENAME COLUMN", cfg)
  }

  /** DROP COLUMN as a metadata-only commit: the field leaves the
    * logical schema, its physical data stays in the files and every
    * reader skips it (vacuum-less logical drop, the only O(1) drop at
    * scale). Auto-enables column mapping like [[renameColumn]].
    * Rejects partition columns, constraint/generation references, and
    * dropping the last column.
    */
  def dropColumn(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val mapped0 = snap.configuration
      .getOrElse("delta.columnMapping.mode", "none") != "none"
    val (schema, maxId) =
      if (mapped0) (snap.schema, -1L) else stampMappingIdentities(snap.schema)
    require(schema.fieldNames.contains(colName),
      s"no column '$colName' in $path (have: ${schema.fieldNames.mkString(", ")})")
    require(!snap.metadata.get.partitionColumns.contains(colName),
      s"cannot drop partition column '$colName'")
    require(schema.fields.length > 1,
      s"cannot drop the only column of $path")
    require(!clusteringColumns(snap).contains(colName),
      s"cannot drop clustering column '$colName' — run " +
        "alterClusterBy first to re-declare (or remove) the clustering")
    requireUnreferenced(snap.configuration, schema, colName, "drop")
    val remaining = StructType(schema.fields.filterNot(_.name == colName))
    val cfg =
      if (mapped0) snap.configuration
      else snap.configuration +
        ("delta.columnMapping.mode" -> "name") +
        ("delta.columnMapping.maxColumnId" -> maxId.toString)
    val lines = mutable.ArrayBuffer.empty[String]
    if (!snap.protocol.exists(impliesColumnMapping))
      lines += upgradedProtocolJson(snap.protocol, "columnMapping")
    lines += metadataLine(path,
      snap.metadata.get.copy(schemaString = remaining.json), cfg)
    lines += commitInfoLine("DROP COLUMN", params = Map("column" -> colName))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "DROP COLUMN", cfg)
  }

  /** Fresh column-mapping identity for a NEW field and every nested
    * struct field under it (depth-first, delta-spark's order): the
    * OUTER field takes `start + 1`, nested fields the ids after it,
    * each with a col-uuid physical name. The ONE implementation behind
    * write()-evolution and addColumn — two hand-maintained copies once
    * diverged in argument evaluation order and minted a struct the
    * same id as its last nested field.
    */
  private def mintFieldIdentity(f: StructField,
      start: Long): (StructField, Long) = {
    var maxId = start
    def mintNested(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { nf =>
        maxId += 1
        nf.copy(
          metadata = new MetadataBuilder().withMetadata(nf.metadata)
            .putLong(DeltaSchema.ColumnIdKey, maxId)
            .putString(DeltaSchema.PhysicalNameKey,
              s"col-${java.util.UUID.randomUUID()}")
            .build(),
          dataType = mintNested(nf.dataType))
      })
      case ArrayType(et, n) => ArrayType(mintNested(et), n)
      case MapType(k, v, n) => MapType(mintNested(k), mintNested(v), n)
      case p => p
    }
    maxId += 1
    val outerId = maxId
    val mintedType = mintNested(f.dataType)
    (f.copy(
      metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(DeltaSchema.ColumnIdKey, outerId)
        .putString(DeltaSchema.PhysicalNameKey,
          s"col-${java.util.UUID.randomUUID()}")
        .build(),
      dataType = mintedType), maxId)
  }

  /** ADD COLUMN as a metadata-only commit: the field joins the logical
    * schema and every existing file null-fills it on read (the P4
    * explicit-read-schema path) — O(1) at any table size, no data
    * rewrite. New columns must be nullable (existing rows have no
    * value; delta-spark enforces the same). On column-mapped tables the
    * field minits a FRESH mapping identity (id above maxColumnId,
    * col-uuid physical name, nested struct fields included depth-first)
    * so a re-added previously-dropped name can never resurface the old
    * bytes.
    */
  def addColumn(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String, dataType: DataType,
      comment: Option[String] = None): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val schema = snap.schema
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"column '$colName' already exists in $path")
    require(colName.nonEmpty && !colName.exists(" ,;{}()\n\t=".contains(_)),
      s"invalid column name '$colName'")
    val mapped = snap.configuration
      .getOrElse("delta.columnMapping.mode", "none") != "none"
    val baseMeta = comment.foldLeft(new MetadataBuilder()) {
      (b, c) => b.putString("comment", c)
    }.build()
    val (newField, cfg) =
      if (!mapped)
        (StructField(colName, dataType, nullable = true, baseMeta),
          snap.configuration)
      else {
        def idsIn(dt: DataType): Seq[Long] = dt match {
          case s: StructType => s.fields.toSeq.flatMap(f =>
            (if (f.metadata.contains(DeltaSchema.ColumnIdKey))
              Seq(f.metadata.getLong(DeltaSchema.ColumnIdKey)) else Nil) ++
              idsIn(f.dataType))
          case ArrayType(et, _) => idsIn(et)
          case MapType(k, v, _) => idsIn(k) ++ idsIn(v)
          case _ => Nil
        }
        // floored by ids already in the schema — a stale maxColumnId
        // must never mint a duplicate identity
        val start = (snap.configuration
          .get("delta.columnMapping.maxColumnId")
          .flatMap(_.toLongOption).getOrElse(0L) +: idsIn(schema)).max
        val (f, maxId) = mintFieldIdentity(
          StructField(colName, dataType, nullable = true, baseMeta), start)
        (f, snap.configuration +
          ("delta.columnMapping.maxColumnId" -> maxId.toString))
      }
    val widened = StructType(schema.fields :+ newField)
    val lines = mutable.ArrayBuffer.empty[String]
    lines += metadataLine(path,
      snap.metadata.get.copy(schemaString = widened.json), cfg)
    lines += commitInfoLine("ADD COLUMN",
      params = Map("column" -> colName, "type" -> dataType.simpleString))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "ADD COLUMN", cfg)
  }

  /** Allowed type-widening transitions (the protocol's typeWidening
    * table feature): integer family upward, integer→double,
    * float→double, date→timestampNtz, integer→decimal with enough
    * integral digits, and decimal growth that loses neither integral
    * digits nor scale. Everything else (including any NARROWING) is
    * rejected — old files are read under the new type without rewrite,
    * so the new type must represent every old value exactly.
    */
  private def widensTo(from: DataType, to: DataType): Boolean = {
    def intRank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(1); case ShortType => Some(2)
      case IntegerType => Some(3); case LongType => Some(4); case _ => None
    }
    // integral digits the decimal target must cover (protocol table:
    // byte/short/int need 10, long needs 20)
    def intDigits(dt: DataType): Int =
      if (dt == LongType) 20 else 10
    (from, to) match {
      case (a, b) if intRank(a).isDefined && intRank(b).isDefined =>
        intRank(a).get < intRank(b).get
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (a, d: DecimalType) if intRank(a).isDefined =>
        d.precision - d.scale >= intDigits(a)
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale &&
          (b.precision > a.precision || b.scale > a.scale)
      case _ => false
    }
  }

  /** ALTER COLUMN … TYPE (type widening) as a metadata-only commit:
    * the logical type widens, existing files keep their narrow physical
    * type and every reader up-converts per file (Spark's parquet reader
    * does int32→long/double/decimal, float→double, date→timestampNtz
    * natively — probe-pinned in TypeWideningProbe). Mints the
    * `typeWidening` reader+writer feature and records the change in the
    * field's `delta.typeChanges` metadata, the protocol's shape for
    * third-party readers. Partition columns are rejected (their values
    * live as strings keyed by the OLD serialization; delta-spark
    * rejects them too).
    */
  def widenColumnType(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String, to: DataType): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val schema = snap.schema
    require(schema.fieldNames.contains(colName),
      s"no column '$colName' in $path (have: ${schema.fieldNames.mkString(", ")})")
    val f = schema(colName)
    if (f.dataType == to) return snap.version // idempotent no-op
    require(widensTo(f.dataType, to),
      s"cannot widen '$colName' from ${f.dataType.simpleString} to " +
        s"${to.simpleString} — not a lossless widening the protocol " +
        "allows (integer family upward, integer/float->double, " +
        "date->timestamp_ntz, ->decimal with enough integral digits)")
    require(!snap.metadata.get.partitionColumns.contains(colName),
      s"cannot widen partition column '$colName' (partition values are " +
        "serialized under the old type)")
    val change = new MetadataBuilder()
      .putString("fromType", f.dataType.typeName)
      .putString("toType", to.typeName)
      .build()
    val priorChanges: Array[org.apache.spark.sql.types.Metadata] =
      if (f.metadata.contains("delta.typeChanges"))
        f.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty
    val widened = StructType(schema.fields.map { x =>
      if (x.name != colName) x
      else x.copy(dataType = to,
        metadata = new MetadataBuilder().withMetadata(x.metadata)
          .putMetadataArray("delta.typeChanges", priorChanges :+ change)
          .build())
    })
    val lines = mutable.ArrayBuffer.empty[String]
    val hasFeature = snap.protocol.exists(p =>
      p.readerFeatures.exists(_.contains("typeWidening")))
    if (!hasFeature)
      lines += upgradedProtocolJson(snap.protocol, "typeWidening")
    lines += metadataLine(path,
      snap.metadata.get.copy(schemaString = widened.json),
      snap.configuration)
    lines += commitInfoLine("ALTER COLUMN",
      params = Map("column" -> colName,
        "fromType" -> f.dataType.simpleString,
        "toType" -> to.simpleString))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "ALTER COLUMN",
      snap.configuration)
  }

  /** A column default must be a constant expression: no column
    * references, no non-deterministic functions (delta-spark's rule —
    * a default that changed per row or per read would make "the
    * value an omitting insert gets" unreproducible). Analysis against
    * a zero-column projection rejects column references and typos in
    * one pass, and the cast probe rejects a value that cannot become
    * the column's declared type AT DECLARATION — create and ALTER
    * share this path, so neither defers the failure to the first
    * omitting append.
    */
  private def validateDefaultExpr(
      spark: org.apache.spark.sql.SparkSession, colName: String,
      sql: String, declaredType: DataType): Unit = {
    val e =
      try org.apache.spark.sql.functions.expr(sql)
      catch {
        case t: Throwable => throw new IllegalArgumentException(
          s"default for '$colName' does not parse: $sql", t)
      }
    val analyzed =
      try spark.range(1).toDF("__graft_probe").select(e)
        .queryExecution.analyzed.expressions.head
      catch {
        case t: Throwable => throw new IllegalArgumentException(
          s"default for '$colName' must be a constant expression " +
            s"(no column references): $sql", t)
      }
    require(analyzed.deterministic,
      s"default for '$colName' must be deterministic: $sql")
    try spark.range(1).select(
      org.apache.spark.sql.functions.expr(sql).cast(declaredType)).collect()
    catch {
      case t: Throwable => throw new IllegalArgumentException(
        s"default for '$colName' does not cast to " +
          s"${declaredType.simpleString}: $sql", t)
    }
  }

  /** ALTER TABLE ALTER COLUMN … SET DEFAULT: stamp `CURRENT_DEFAULT`
    * into the column's field metadata (one metadata-only commit) and
    * mint the `allowColumnDefaults` writer feature. Only FUTURE
    * inserts that omit the column are affected — the default value is
    * materialized into each written file, so no reader support is
    * needed and existing rows are untouched (EXISTS_DEFAULT is never
    * stamped here; see [[Constraints.ExistsDefaultKey]]). Returns the
    * committed version.
    */
  def setColumnDefault(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String, sqlExpr: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val schema = snap.schema
    require(schema.fieldNames.contains(colName),
      s"no column '$colName' in $path (have: ${schema.fieldNames.mkString(", ")})")
    val f = schema(colName)
    require(!f.metadata.contains(Constraints.GenerationKey) &&
        !f.metadata.contains(Constraints.IdentityStartKey),
      s"column '$colName' is generated/identity — it cannot also carry " +
        "a default")
    validateDefaultExpr(spark, colName, sqlExpr, f.dataType)
    val updated = StructType(schema.fields.map { x =>
      if (x.name != colName) x
      else x.copy(metadata = new MetadataBuilder().withMetadata(x.metadata)
        .putString(Constraints.DefaultKey, sqlExpr).build())
    })
    val lines = mutable.ArrayBuffer.empty[String]
    val hasFeature = snap.protocol.exists(
      _.writerFeatures.exists(_.contains("allowColumnDefaults")))
    if (!hasFeature)
      lines += upgradedProtocolJson(snap.protocol, "allowColumnDefaults")
    lines += metadataLine(path,
      snap.metadata.get.copy(schemaString = updated.json),
      snap.configuration)
    lines += commitInfoLine("ALTER COLUMN",
      params = Map("column" -> colName, "default" -> sqlExpr))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "ALTER COLUMN",
      snap.configuration)
  }

  /** ALTER TABLE ALTER COLUMN … DROP DEFAULT: remove the column's
    * `CURRENT_DEFAULT` (idempotent; no protocol downgrade — feature
    * lists only grow). Omitting appends go back to null-filling.
    * Returns the committed (or current, on no-op) version.
    */
  def dropColumnDefault(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String): Long = {
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val schema = snap.schema
    require(schema.fieldNames.contains(colName),
      s"no column '$colName' in $path (have: ${schema.fieldNames.mkString(", ")})")
    if (!schema(colName).metadata.contains(Constraints.DefaultKey))
      return snap.version
    val updated = StructType(schema.fields.map { x =>
      if (x.name != colName) x
      else x.copy(metadata = new MetadataBuilder().withMetadata(x.metadata)
        .remove(Constraints.DefaultKey).build())
    })
    val lines = Seq(
      metadataLine(path,
        snap.metadata.get.copy(schemaString = updated.json),
        snap.configuration),
      commitInfoLine("ALTER COLUMN",
        params = Map("column" -> colName, "dropDefault" -> "true")))
    commit(spark, path, Some(snap), lines,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "ALTER COLUMN",
      snap.configuration)
  }

  /** ALTER TABLE SET TBLPROPERTIES: merge `props` into
    * `metaData.configuration` as ONE metadata-only commit — O(1) at any
    * table size. Properties whose enablement needs coordinated
    * machinery route to their dedicated APIs and reject here with the
    * cure; enabling in-commit timestamps IS handled inline (the commit
    * records its own ICT as the enablement provenance and mints the
    * writer-only feature, exactly like `write(properties = ...)`).
    */
  def setTableProperties(spark: org.apache.spark.sql.SparkSession,
      path: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "setTableProperties needs at least one property")
    val guarded: Seq[(String => Boolean, String)] = Seq(
      ((k: String) => k.startsWith("delta.columnMapping."),
        "column mapping needs coordinated identity assignment — use " +
          "enableColumnMapping / renameColumn / dropColumn"),
      ((k: String) => k.startsWith(Constraints.Prefix),
        "CHECK constraints must validate existing rows first — use " +
          "addCheckConstraint / dropCheckConstraint"),
      ((k: String) => k == "delta.enableRowTracking" ||
          k.startsWith("delta.rowTracking."),
        "row tracking and its materialized-column provenance are " +
          "writer-managed — use enableRowTracking"),
      ((k: String) => k.startsWith("delta.inCommitTimestamp."),
        "ICT enablement provenance is writer-managed — set only " +
          "delta.enableInCommitTimestamps"))
    props.keys.foreach(k => guarded.foreach { case (bad, cure) =>
      require(!bad(k), s"cannot set '$k' via setTableProperties: $cure")
    })
    // The ICT-enabling commit is pinned to an exact version (its
    // enablementVersion / enablementTimestamp must name the version and
    // ICT actually taken), so it cannot rebase inside commit like the
    // plain path — instead the WHOLE attempt (snapshot → merge → commit)
    // retries when a concurrent writer takes the version first, exactly
    // the rebase-or-conflict outcome every other ALTER verb gets.
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = DeltaLog.forPath(spark, path)
      snap.checkProtocolSupported()
      require(snap.metadata.isDefined, s"$path is not a Delta table")
      val merged = snap.configuration ++ props
      // Disabling ICT must not strand its enablement provenance: the
      // protocol ties delta.inCommitTimestamp.* to an ENABLED feed, and
      // delta-spark strips the pair in the disabling commit.
      val cfg0 =
        if (ictEnabled(merged)) merged
        else merged.filterNot(_._1.startsWith("delta.inCommitTimestamp."))
      // Feature-backed properties mint their protocol feature IN the
      // enabling commit (delta-spark semantics): until then a
      // protocol-honoring third-party writer is not fenced and could
      // commit changes a stored feed (or DV-aware reader) would miss.
      val wantCdf = cdfEnabled(cfg0) &&
        !snap.protocol.exists(p =>
          p.writerFeatures.exists(_.contains("changeDataFeed")) ||
            (p.writerFeatures.isEmpty && p.minWriterVersion >= 4))
      val wantDv = cfg0.get("delta.enableDeletionVectors")
        .exists(_.trim.equalsIgnoreCase("true")) &&
        !snap.protocol.exists(
          _.readerFeatures.exists(_.contains("deletionVectors")))
      if (cfg0 == snap.configuration && !wantCdf && !wantDv)
        return snap.version // no-op, no commit
      val version = snap.version + 1
      val newlyIct = ictEnabled(cfg0) && !ictEnabled(snap.configuration)
      val ictFixed: Option[Long] =
        if (!newlyIct) None
        else Some(math.max(System.currentTimeMillis(),
          DeltaLog.ictOf(spark, path, snap.version).map(_ + 1L).getOrElse(0L)))
      val cfg = if (!newlyIct) cfg0 else cfg0 +
        ("delta.inCommitTimestamp.enablementVersion" -> version.toString) +
        ("delta.inCommitTimestamp.enablementTimestamp" ->
          ictFixed.get.toString)
      val lines = mutable.ArrayBuffer.empty[String]
      if (wantDv)
        // deletionVectors is a reader-writer feature → features-form
        // protocol; fold changeDataFeed / inCommitTimestamp into the
        // SAME line (one protocol action per commit)
        lines += upgradedProtocolJson(snap.protocol,
          Seq("deletionVectors") ++ (if (wantCdf) Seq("changeDataFeed")
          else Nil) ++ (if (newlyIct) Seq("inCommitTimestamp")
          else Nil): _*)
      else if (wantCdf && newlyIct)
        lines += upgradedProtocolJson(snap.protocol,
          "changeDataFeed", "inCommitTimestamp")
      else if (wantCdf)
        writerFeatureProtocolLine(snap.protocol, "changeDataFeed", Some(4))
          .foreach(lines += _)
      else if (newlyIct)
        writerFeatureProtocolLine(snap.protocol, "inCommitTimestamp", None)
          .foreach(lines += _)
      lines += metadataLine(path, snap.metadata.get, cfg)
      lines += commitInfoLine("SET TBLPROPERTIES", params = props)
      if (newlyIct) {
        // exact-version commit (no rebase): enablementVersion and the
        // crc's view of the configuration must name the version taken.
        // Only a lost race retries; a storage failure surfaces as itself
        try return commit(spark, path, Some(snap), lines.toSeq,
          ExactVersion, "SET TBLPROPERTIES", cfg, ictFixed)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            if (attempt >= 5)
              throw new java.util.ConcurrentModificationException(
                s"SET TBLPROPERTIES on $path lost the commit race " +
                  s"$attempt times; last error: ${e.getMessage}")
            // else: re-snapshot and recompute version + enablement
            // instant from scratch
        }
      } else
        // plain properties rebase past disjoint appends like every other
        // ALTER verb
        return commit(spark, path, Some(snap), lines.toSeq,
          Rebase(Set.empty, newDataGuard = Some(Nil)), "SET TBLPROPERTIES",
          cfg)
    }
    -1L // unreachable
  }

  /** ALTER TABLE UNSET TBLPROPERTIES: drop `keys` from the
    * configuration, metadata-only. Guarded like [[setTableProperties]]
    * — and UNSETTING an enablement property a feature depends on
    * (ICT provenance, row tracking) is rejected rather than silently
    * corrupting the feature's invariants. Absent keys are a no-op
    * (delta-spark's IF EXISTS is the only mode here — unset is
    * idempotent by nature).
    */
  def unsetTableProperties(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetTableProperties needs at least one key")
    keys.foreach { k =>
      require(!k.startsWith("delta.columnMapping."),
        s"cannot unset '$k': readers resolve every file through the " +
          "mapping — dropping it would corrupt the table")
      require(k != "delta.enableRowTracking" &&
          !k.startsWith("delta.rowTracking.") &&
          k != "delta.enableInCommitTimestamps" &&
          !k.startsWith("delta.inCommitTimestamp."),
        s"cannot unset '$k': the feature's enablement provenance must " +
          "survive for readers; disable by setting it to false instead")
      require(!k.startsWith(Constraints.Prefix),
        s"cannot unset '$k': use dropCheckConstraint")
    }
    val snap = DeltaLog.forPath(spark, path)
    snap.checkProtocolSupported()
    require(snap.metadata.isDefined, s"$path is not a Delta table")
    val cfg = snap.configuration -- keys
    if (cfg == snap.configuration) return snap.version // no-op, no commit
    val lines = mutable.ArrayBuffer.empty[String]
    lines += metadataLine(path, snap.metadata.get, cfg)
    lines += commitInfoLine("UNSET TBLPROPERTIES",
      params = Map("keys" -> keys.mkString(",")))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(Set.empty, newDataGuard = Some(Nil)), "UNSET TBLPROPERTIES", cfg)
  }

  /** Stamp `defaultRowCommitVersion` = the commit's actual version on
    * every add lacking one (restates keep their original) — per
    * attempt, like the ICT, because a rebase moves the version.
    */
  private def withRowVersion(lines: Seq[String], v: Long,
      cfg: Map[String, String]): Seq[String] =
    if (!rowTrackingEnabled(cfg)) lines
    else lines.map { l =>
      val n = ActionCodec.mapper.readTree(l)
      val add = n.get("add")
      if (add == null || add.isNull || add.has("defaultRowCommitVersion")) l
      else {
        add.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("defaultRowCommitVersion", v)
        n.toString
      }
    }

  private[delta] def ictEnabled(cfg: Map[String, String]): Boolean =
    cfg.get("delta.enableInCommitTimestamps")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** In-commit timestamps (PROTOCOL.md#in-commit-timestamps): rewrite
    * `lines` so the commitInfo carries `inCommitTimestamp`, strictly
    * above the previous commit's — the table's commit ordering survives
    * clock skew, restored backups and object-store mtime rewrites,
    * which file-mtime time travel does not. Computed PER ATTEMPT: an
    * OCC retry at a higher version re-reads its new predecessor.
    * `fixed` pins the value for the enabling commit, whose
    * `enablementTimestamp` property must equal its own ICT. No-op on
    * tables without the property.
    */
  private def withIct(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Long, lines: Seq[String],
      cfg: Map[String, String], fixed: Option[Long] = None): Seq[String] = {
    if (!ictEnabled(cfg)) return lines
    val ict = fixed.getOrElse(math.max(System.currentTimeMillis(),
      DeltaLog.ictOf(spark, path, v - 1).map(_ + 1L).getOrElse(0L)))
    val (ciLines, others) = lines.partition { l =>
      val n = ActionCodec.mapper.readTree(l)
      n.has("commitInfo") && !n.get("commitInfo").isNull
    }
    val stamped = ciLines.map { l =>
      val n = ActionCodec.mapper.readTree(l)
      n.get("commitInfo")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("inCommitTimestamp", ict)
        .put("timestamp", ict)
      n.toString
    }
    val ci =
      if (stamped.nonEmpty) stamped
      else {
        // every writer path emits commitInfo, but the protocol requires
        // ICT in EVERY commit of an enabled table — synthesize if absent
        val o = JsonNodeFactory.instance.objectNode()
        o.putObject("commitInfo").put("timestamp", ict)
          .put("inCommitTimestamp", ict)
          .put("engineInfo", "graft-spark/0.5")
        Seq(o.toString)
      }
    // the ICT-bearing commitInfo must be the FIRST action of the commit
    // (the protocol lets readers extract it without scanning the file)
    ci ++ others
  }

  /** One `txn` action line — the exactly-once ledger entry, shared by
    * every path that records a streaming watermark.
    */
  private def txnLine(appId: String, version: Long): String = {
    val t = JsonNodeFactory.instance.objectNode()
    val tn = t.putObject("txn")
    tn.put("appId", appId)
    tn.put("version", version)
    tn.put("lastUpdated", System.currentTimeMillis())
    t.toString
  }

  /** The file paths a DML/maintenance commit REMOVES (or re-states with
    * a new DV — the protocol pairs that with a remove of the same path):
    * exactly the files whose content the transaction's outcome depends
    * on. Candidate files that matched no rows never enter the commit and
    * never enter this set — a concurrent writer touching them cannot
    * invalidate anything this transaction wrote.
    */
  private def removedPaths(lines: Seq[String]): Set[String] =
    lines.flatMap { l =>
      val n = ActionCodec.mapper.readTree(l)
      Option(n.get("remove")).filterNot(_.isNull)
        .flatMap(r => Option(r.get("path")).map(_.asText))
    }.toSet

  /** How [[commit]] treats a version another writer already holds. */
  private sealed trait RacePolicy

  /** The actions are valid only at the version after the base — a v0
    * create, RESTORE's re-stated file set, an ICT enablement recording
    * its own version, a write whose metadata or txn watermark was
    * computed against the base: a lost race throws
    * [[java.nio.file.FileAlreadyExistsException]] (an IOException).
    */
  private case object ExactVersion extends RacePolicy

  /** Read-set conflict validation instead of a blind abort: each
    * winning commit is examined ([[validateRebase]]) and the
    * transaction rebases one version up ONLY when the winner is a
    * disjoint plain data append — anything else aborts loudly with a
    * [[java.util.ConcurrentModificationException]]:
    *
    *  - `metaData`/`protocol` change: our data files and compiled
    *    predicates were built under the old schema/features;
    *  - a `remove` (or DV-re-stating `add`) of a file in `readSet`: our
    *    row-index math and rewrite decisions are stale, and committing
    *    would resurrect the winner's deleted rows;
    *  - a `txn` action for an appId this commit also carries: the
    *    exactly-once watermark advanced behind our back.
    *
    * Isolation contract (WriteSerializable, delta-spark's default for
    * blind appends): a rebased outcome equals this transaction having
    * run BEFORE the concurrent append — the append's files are never
    * dropped, masked, or re-stated, so no concurrent write is lost.
    *
    * `newDataGuard`: when set, winner commits' genuinely NEW data files
    * (dataChange adds not paired with a remove of the same path —
    * restates are old rows) are additionally zone-map-tested against
    * these conditions; possible overlap aborts. MERGE passes its source
    * key bounds: without this, two concurrent merges inserting the same
    * previously-absent key would each see an "insert" and rebase into a
    * duplicate-key table no serial order produces. `Some(Nil)` = no
    * provable bounds ⇒ any new data file conflicts (fail-closed).
    */
  private final case class Rebase(readSet: Set[String],
      newDataGuard: Option[Seq[Cond]] = None) extends RacePolicy

  /** The commit pipeline — the only code that creates a
    * `_delta_log/<v>.json`. Claims the version after `base` (0 when
    * `base` is None):
    *
    *  1. row tracking gives new adds fresh baseRowIds above `base`'s
    *     high-water mark, plus the advanced domain;
    *  2. each attempt stamps the actions for the version it tries (ICT
    *     re-reads its predecessor, `defaultRowCommitVersion` names the
    *     version taken), stages the full bytes in a temp file — a
    *     failure never strands a truncated commit JSON — and publishes
    *     it with [[putIfAbsent]];
    *  3. a version already held goes to `onRace`: rebase past a
    *     validated winner, or throw;
    *  4. the `.crc` only when no rebase moved the version (winners'
    *     files are not in `base`, so incremental accounting would be
    *     wrong), then the auto-checkpoint.
    *
    * Returns the committed version.
    */
  private def commit(spark: org.apache.spark.sql.SparkSession,
      path: String, base: Option[DeltaSnapshot], lines: Seq[String],
      onRace: RacePolicy, op: String, config: Map[String, String],
      /** Pins the commit's ICT — the ICT-ENABLING commit must stamp the
        * same instant it recorded as `enablementTimestamp`. */
      ictFixed: Option[Long] = None): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new Path(root, "_delta_log")
    if (base.isEmpty) fs.mkdirs(logDir)
    val lines2 =
      if (!rowTrackingEnabled(config)) lines
      else assignRowIds(lines, base.map(rowIdHwm).getOrElse(-1L))
    lazy val parsedLines = lines2.map(ActionCodec.mapper.readTree)
    lazy val ourTxnApps: Set[String] = parsedLines.flatMap(n =>
      Option(n.get("txn")).filterNot(_.isNull)
        .flatMap(t => Option(t.get("appId")).map(_.asText))).toSet
    lazy val ourDomains: Set[String] = parsedLines.flatMap(n =>
      Option(n.get("domainMetadata")).filterNot(_.isNull)
        .flatMap(d => Option(d.get("domain")).map(_.asText))).toSet
    val first = base.map(_.version + 1).getOrElse(0L)
    var v = first
    while (true) {
      val target = new Path(logDir, f"$v%020d.json")
      if (!fs.exists(target)) {
        val stamped = withRowVersion(
          withIct(spark, path, v, lines2, config, ictFixed), v, config)
        val tmp = new Path(logDir,
          s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, false)
        try out.write(
          (stamped.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (putIfAbsent(fs, tmp, target)) {
          if (v == first) writeCrc(spark, path, v, base, stamped)
          maybeCheckpoint(spark, path, v, config)
          return v
        }
      }
      onRace match {
        case ExactVersion =>
          throw new java.nio.file.FileAlreadyExistsException(
            target.toString, null, s"a concurrent writer took version $v " +
              s"of $path; this $op commits only at that exact version — " +
              "re-run it against the new table state")
        case Rebase(readSet, newDataGuard) =>
          validateRebase(spark, path, v, readSet, ourTxnApps, ourDomains,
            op, newDataGuard, base)
          v += 1
      }
    }
    sys.error("unreachable")
  }

  /** Publish the staged `tmp` as `target` unless `target` exists —
    * atomically; false = another writer holds the version. The staged
    * file is gone afterwards. On the local file system a hard link
    * claims the name: the OS refuses to link onto an existing file,
    * where Hadoop's local `rename` either refuses with a bare `false`
    * or (raw FS) silently replaces the winner's commit. Other schemes
    * use `rename`, which refuses to overwrite on HDFS but is only
    * best-effort on S3A (no atomic put-if-absent; the same caveat as
    * every Hadoop-FS Delta committer without a coordinating LogStore).
    */
  private def putIfAbsent(fs: FileSystem, tmp: Path, target: Path): Boolean =
    if (fs.getUri.getScheme == "file") {
      def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      try { java.nio.file.Files.createLink(local(target), local(tmp)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally fs.delete(tmp, false)
    } else fs.rename(tmp, target) || {
      fs.delete(tmp, false)
      // a refused rename with no winner in place is a storage failure
      if (!fs.exists(target))
        throw new java.io.IOException(s"Could not commit $target")
      false
    }

  /** Examine ONE winning commit for rebase eligibility — throws a
    * [[java.util.ConcurrentModificationException]] with the conflict and
    * the cure unless the winner is a plain data append disjoint from
    * `readSet`.
    */
  private def validateRebase(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Long, readSet: Set[String],
      ourTxnApps: Set[String], ourDomains: Set[String], op: String,
      newDataGuard: Option[Seq[Cond]], base: Option[DeltaSnapshot]): Unit = {
    val nodes = DeltaLog.readCommitJson(spark, path, v).getOrElse(
      throw new java.io.IOException(
        s"Concurrent commit $v of $path exists but could not be read; " +
          s"re-run the $op against the current table state"))
    def conflict(reason: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"Concurrent commit $v of $path $reason; this $op was computed " +
          "against a stale snapshot — re-run it against the current " +
          "table state")
    nodes.foreach { n =>
      if (n.has("metaData") || n.has("protocol"))
        conflict("changed table metadata/protocol")
      Option(n.get("remove")).filterNot(_.isNull)
        .flatMap(r => Option(r.get("path")).map(_.asText))
        .filter(readSet.contains)
        .foreach(p => conflict(s"removed or rewrote file '$p' this $op read"))
      Option(n.get("add")).filterNot(_.isNull)
        .flatMap(a => Option(a.get("path")).map(_.asText))
        .filter(readSet.contains)
        .foreach(p => conflict(
          s"re-stated file '$p' (deletion-vector update) this $op read"))
      Option(n.get("txn")).filterNot(_.isNull)
        .flatMap(t => Option(t.get("appId")).map(_.asText))
        .filter(ourTxnApps.contains)
        .foreach(a => conflict(s"advanced the transaction ledger for appId '$a'"))
      // both commits advancing the same domain (e.g. the row-tracking
      // high-water mark) would assign overlapping state — conflict
      Option(n.get("domainMetadata")).filterNot(_.isNull)
        .flatMap(d => Option(d.get("domain")).map(_.asText))
        .filter(ourDomains.contains)
        .foreach(d => conflict(s"advanced domain '$d' this $op also writes"))
    }
    newDataGuard.foreach { conds =>
      val sch = base.map(_.schema).getOrElse(new StructType())
      val physToField = DeltaSchema.physicalToField(sch)
      val logToPhys = DeltaSchema.logicalToPhysical(sch)
      // restates carry no new rows: an add paired with a remove of the
      // same path in the SAME winner commit is a DV/compaction rewrite
      val removedHere: Set[String] = nodes.flatMap(n =>
        Option(n.get("remove")).filterNot(_.isNull)
          .flatMap(r => Option(r.get("path")).map(_.asText))).toSet
      nodes.foreach { n =>
        Option(n.get("add")).filterNot(_.isNull).foreach { a =>
          val p = Option(a.get("path")).map(_.asText).getOrElse("")
          val isNewData =
            Option(a.get("dataChange")).exists(_.asBoolean()) &&
              !removedHere.contains(p) && !readSet.contains(p)
          if (isNewData) {
            val action = ActionCodec.parseAdd(a)
            val provablyDisjoint = conds.nonEmpty &&
              FileSkipping.canSkip(action, conds, physToField, logToPhys)
            if (!provablyDisjoint) conflict(
              s"added new data file '$p' whose rows may match this " +
                s"$op's source keys (rebasing would break the " +
                "at-most-one-row-per-key contract)")
          }
        }
      }
    }
  }

  /** CONVERT TO DELTA: register an existing plain-parquet directory
    * (hive-partitioned or flat) as a Delta table in place — one v0
    * commit listing every data file with partition values recovered
    * from the directory names and zone-map stats from the footers. No
    * data is rewritten or moved; the schema (including partition-column
    * types) is taken from Spark's own parquet + partition inference.
    */
  def convertParquetToDelta(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(new Path(root, "_delta_log")),
      s"$path is already a Delta table")
    val files = listDataFiles(fs, root)
    require(files.nonEmpty, s"no parquet files under $path")

    val df = spark.read.parquet(path) // partition inference included
    val partCols: Seq[String] = {
      // partition columns = hive keys in the first file's directory path
      partitionValuesFromPath(files.head).map(_._1)
    }
    val dataSchema = StructType(
      df.schema.fields.filterNot(f => partCols.contains(f.name)) ++
        df.schema.fields.filter(f => partCols.contains(f.name)))

    val nf = JsonNodeFactory.instance
    val lines = mutable.ArrayBuffer.empty[String]
    val protocol = nf.objectNode()
    val pn = protocol.putObject("protocol")
    if (dataSchema.exists(f => hasNtz(f.dataType))) {
      pn.put("minReaderVersion", 3).put("minWriterVersion", 7)
      pn.putArray("readerFeatures").add("timestampNtz")
      pn.putArray("writerFeatures").add("timestampNtz")
    } else pn.put("minReaderVersion", 1).put("minWriterVersion", 2)
    lines += protocol.toString
    val meta = nf.objectNode()
    val m = meta.putObject("metaData")
    m.put("id", java.util.UUID.nameUUIDFromBytes(
      path.getBytes(StandardCharsets.UTF_8)).toString)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", dataSchema.json)
    val pc = m.putArray("partitionColumns"); partCols.foreach(pc.add)
    m.putObject("configuration")
    m.put("createdTime", System.currentTimeMillis())
    lines += meta.toString

    files.toSeq.sorted.foreach { rel =>
      val f = new Path(root, rel)
      val status = fs.getFileStatus(f)
      val addObj = nf.objectNode()
      val a = addObj.putObject("add")
      a.put("path", encodePath(rel))
      val pv = a.putObject("partitionValues")
      partitionValuesFromPath(rel).foreach {
        case (k, Some(v)) => pv.put(k, v)
        case (k, None) => pv.putNull(k)
      }
      a.put("size", status.getLen)
      a.put("modificationTime", status.getModificationTime)
      a.put("dataChange", true)
      footerStats(fs, f, statsIndexedSchema(dataSchema, Map.empty))
        .foreach(s => a.put("stats", s))
      lines += addObj.toString
    }
    lines += commitInfoLine("CONVERT")
    commit(spark, path, None, lines.toSeq, ExactVersion, "CONVERT", Map.empty)
  }

  /** Compaction (OPTIMIZE): bin-pack small files per partition into
    * files up to `targetFileBytes`, rewriting with `dataChange=false`
    * (readers see the identical logical table; time travel to earlier
    * versions still works until vacuum). Files carrying deletion vectors
    * are rewritten WITHOUT the deleted rows and their DVs dropped — the
    * natural pairing with [[delete]]: soft-delete via DV, fold in at the
    * next compaction. Physical column names are preserved (raw physical
    * read → raw write), so column-mapped tables stay valid.
    *
    * Scale: the rewrite itself is a distributed read→write per bin; only
    * listing/binning is driver-side, O(live files). Returns the number
    * of source files compacted away.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      /** OPTIMIZE ZORDER BY: when non-empty, EVERY live file of each
        * partition is rewritten, range-partitioned on the Morton key
        * over these columns — reclustering existing data so all the
        * clustered dimensions gain tight zone maps (write-time
        * `zOrderBy` only helps data written that way). DVs fold in as
        * with plain compaction; `dataChange=false` throughout.
        */
      zOrderBy: Seq[String] = Nil,
      /** Already-current snapshot to compact against, skipping the
        * per-call log replay. */
      priorSnapshot: Option[DeltaSnapshot] = None,
      /** OPTIMIZE … WHERE: restrict the compaction to partitions the
        * predicate can match (delta-spark's partition-predicate form —
        * and like it, every referenced column must BE a partition
        * column; at 100 TB one compacts the hot partitions, not the
        * table). Fail-open per file: a file whose partition values
        * can't be proven non-matching is compacted.
        */
      conditions: Seq[Cond] = Nil,
      /** REORG TABLE … APPLY (PURGE): restrict the rewrite to files
        * carrying deletion vectors — their soft-deleted rows are
        * physically dropped and the descriptors disappear, so a
        * follow-up vacuum can reclaim the DV bins and the GDPR-style
        * "make the deletes physical" obligation is dischargeable
        * without rewriting the whole table. DV-free files are never
        * touched, whatever their size.
        */
      purgeOnly: Boolean = false,
      /** When false, a clustered table's stored clustering columns are
        * NOT auto-picked up — plain small-file bin-packing instead of a
        * full recluster. Set by autoCompact, whose job is debt control,
        * not layout maintenance (a threshold-triggered whole-table
        * rewrite after every Nth append would be pathological).
        */
      reclusterIfClustered: Boolean = true): Int = {
    val snap = priorSnapshot.getOrElse(DeltaLog.forPath(spark, path))
    snap.checkProtocolSupported()
    val base = path.stripSuffix("/")
    val schema = snap.schema
    val partCols = snap.partitionColumns.toSet
    val dataFields = schema.fields.toSeq.filterNot(f => partCols.contains(f.name))
    // Row-tracked tables: a bin-pack merges rows from several files, so
    // the stable ids an engine derived from baseRowId are MATERIALIZED
    // into the rewritten files (PROTOCOL.md#row-tracking materialized
    // ids) — physical columns row_id = coalesce(already-materialized,
    // baseRowId + row_index) and likewise for the commit version.
    // Readers coalesce the same way ([[DeltaScan.scanWithStableIds]]),
    // so every surviving row keeps its id through any number of
    // rewrites. The first materialization mints the column names into
    // the table configuration (one metaData line in this commit).
    val rowTracked = rowTrackingEnabled(snap.configuration) ||
      snap.liveFiles.exists(_.baseRowId.isDefined)
    val matCols: Option[(String, String)] =
      if (!rowTracked) None
      else Some((
        snap.configuration.getOrElse(MatRowIdKey,
          "_row-id-col-" + java.util.UUID.randomUUID()),
        snap.configuration.getOrElse(MatRowVersionKey,
          "_row-commit-version-col-" + java.util.UUID.randomUUID())))
    val physReadSchema = StructType(
      DeltaSchema.physicalize(StructType(dataFields)).fields ++
        matCols.toSeq.flatMap { case (i, v) =>
          Seq(StructField(i, LongType), StructField(v, LongType)) })
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    val logToPhys = DeltaSchema.logicalToPhysical(schema)
    // a clustered table's parameterless OPTIMIZE RECLUSTERS on the
    // stored columns (the whole point of the stored declaration);
    // REORG PURGE never reclusters (it is a file-scoped rewrite, not
    // a layout operation). Explicit zOrderBy on a clustered table
    // rejects (delta-spark parity): it would lay out files the next
    // parameterless OPTIMIZE contradicts — change the declaration via
    // alterClusterBy instead.
    require(zOrderBy.isEmpty || clusteringColumns(snap).isEmpty,
      "OPTIMIZE ZORDER BY is not allowed on a clustered table — use " +
        "alterClusterBy to change the clustering columns, then OPTIMIZE")
    val effectiveZ =
      if (zOrderBy.nonEmpty || purgeOnly || !reclusterIfClustered) zOrderBy
      else clusteringColumns(snap)
    val zCols = effectiveZ.map(c => logToPhys.getOrElse(c, c))
    zCols.foreach(c => require(physReadSchema.fieldNames.contains(c),
      s"zOrderBy column '$c' is not a data column of the table"))

    conditions.foreach { c =>
      require(partCols.contains(c.column),
        s"OPTIMIZE predicate column '${c.column}' is not a partition " +
          s"column (partition columns: ${partCols.mkString(", ")})")
      // a scalar-valued 'in' would silently skip NOTHING in
      // FileSkipping (its list cases match Seq values only) and the
      // whole table would compact — the opposite of a scoped OPTIMIZE
      if (c.op == "in" || c.op == "not in")
        require(c.value.isInstanceOf[Seq[_]],
          s"OPTIMIZE predicate '${c.op}' needs a Seq value, " +
            s"got ${Option(c.value).map(_.getClass.getSimpleName).orNull}")
    }
    val candidates0 =
      if (conditions.isEmpty) snap.liveFiles
      else {
        val physToField = DeltaSchema.physicalToField(schema)
        snap.liveFiles.filterNot(a =>
          FileSkipping.canSkip(a, conditions, physToField, logToPhys))
      }
    val candidates =
      if (purgeOnly) candidates0.filter(_.hasDeletionVector) else candidates0

    val nf = JsonNodeFactory.instance
    val lines = mutable.ArrayBuffer.empty[String]
    var nCompacted = 0

    // per-bin preparation: one DeltaFileIndex relation over the bin,
    // DV-deleted rows masked exactly like the scan does, and stable row
    // ids MATERIALIZED on row-tracked tables (coalesce keeps values
    // already materialized by an earlier OPTIMIZE)
    def prepareBin(bin: Seq[AddAction]): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, coalesce, col}
      def q(n: String) = col(s"`${n.replace("`", "``")}`")
      val rel = DeltaScan.fileRelation(snap, bin, physReadSchema)
      val dvActions = bin.filter(_.hasDeletionVector)
      val live =
        if (dvActions.isEmpty) rel
        else rel.where(DvMask.live(snap, dvActions,
          rel.col("_metadata.file_path"), rel.col("_metadata.row_index")))
      val data = physReadSchema.fieldNames.toSeq
      matCols match {
        case None => live.select(data.map(q): _*)
        case Some((matId, matVer)) =>
          import spark.implicits._
          val key = DeltaFileIndex.fileKey(snap)
          val info = bin.map(a => (key(a),
            a.baseRowId, a.defaultRowCommitVersion))
            .toDF("__graft_file", "__graft_base", "__graft_dver")
          live.select(data.map(q) ++ Seq(
              rel.col("_metadata.file_path").as("__graft_file"),
              rel.col("_metadata.row_index").as("__graft_ri")): _*)
            .join(broadcast(info), Seq("__graft_file"))
            .select(data.map {
              case `matId` =>
                coalesce(q(matId), q("__graft_base") + q("__graft_ri")).as(matId)
              case `matVer` => coalesce(q(matVer), q("__graft_dver")).as(matVer)
              case n => q(n)
            }: _*)
      }
    }

    // write `df` into the partition directory of `bin.head` (multi-file
    // tolerated), emit remove lines for the bin and add lines for every
    // output file; same INT64-micros pin as write() — the session
    // default (INT96) would strip footer min/max stats and break strict
    // readers like delta-rs
    def rewrite(df: DataFrame, bin: Seq[AddAction],
        pv: Map[String, Option[String]]): Unit = {
      val relDir = {
        val d = DeltaScan.decodePath(bin.head.path)
        // absolute source paths (shallow clones) must NOT leak the
        // rewrite into the SOURCE table's directory — the source's
        // vacuum would delete it; compacted files always land under
        // THIS table's root (partitionValues come from the action, so
        // the directory name is free)
        if (d.contains("://") || d.startsWith("/")) ""
        else {
          val i = d.lastIndexOf('/')
          if (i < 0) "" else d.substring(0, i + 1)
        }
      }
      val batch = java.util.UUID.randomUUID()
      val tmpDir = new Path(root, s".compact_tmp_$batch")
      withMicrosTimestamps(spark) {
        df.write.mode("overwrite").parquet(tmpDir.toString)
      }
      val parts = fs.listStatus(tmpDir)
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val dests = parts.zipWithIndex.map { case (part, i) =>
        val rel = relDir + s"part-compacted-$batch-$i.parquet"
        val dest = new Path(root, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(part, dest))
          throw new java.io.IOException(s"compaction rename failed: $dest")
        (rel, dest)
      }
      fs.delete(tmpDir, true)

      bin.foreach { a =>
        val rm = nf.objectNode(); val r = rm.putObject("remove")
        r.put("path", a.path)
        r.put("deletionTimestamp", System.currentTimeMillis())
        r.put("dataChange", false)
        lines += rm.toString
      }
      dests.foreach { case (rel, dest) =>
        val status = fs.getFileStatus(dest)
        val addObj = nf.objectNode(); val a = addObj.putObject("add")
        a.put("path", encodePath(rel))
        val pvn = a.putObject("partitionValues")
        pv.foreach {
          case (k, Some(v)) => pvn.put(k, v)
          case (k, None) => pvn.putNull(k)
        }
        a.put("size", status.getLen)
        a.put("modificationTime", status.getModificationTime)
        a.put("dataChange", false)
        // quota base = the full TABLE schema (like write()), so the same
        // delta.dataSkippingNumIndexedCols indexes the same columns
        // before and after OPTIMIZE; partition columns consume slots but
        // match no footer field (they are not in the file)
        footerStats(fs, dest, statsIndexedSchema(
            DeltaSchema.physicalize(schema), snap.configuration))
          .foreach(st => a.put("stats", st))
        lines += addObj.toString
      }
      nCompacted += bin.size
    }

    candidates.groupBy(_.effectivePartitionValues).foreach { case (pv, files) =>
      if (zCols.nonEmpty) {
        // recluster the WHOLE partition on the Morton key; skip only
        // partitions that are already a single clean file at/below the
        // target size (a single OVERSIZED file still splits into
        // Morton-range files — the 'one big unclustered file' case is
        // the recluster's bread and butter)
        if (files.size >= 2 || files.exists(_.hasDeletionVector) ||
            files.exists(_.size > targetFileBytes)) {
          // persisted: the Morton quantization agg, the range
          // partitioner's sampling AND the write would otherwise each
          // re-read the partition (and re-run the DV mask)
          val df = prepareBin(files)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val nOut = math.max(1L,
              (files.map(_.size).sum + targetFileBytes - 1) / targetFileBytes)
            rewrite(df.repartitionByRange(nOut.toInt,
              zOrderColumn(df, zCols).asc), files, pv)
          } finally df.unpersist()
        }
      } else {
        // first-fit bin packing of the small files, largest first; files
        // at/above target that carry a DV still get rewritten (their own
        // bin) — folding DVs in is the other half of compaction's contract
        val (small, big) = files.partition(_.size < targetFileBytes)
        val bins = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[AddAction]]
        small.sortBy(-_.size).foreach { f =>
          bins.find(b => b.map(_.size).sum + f.size <= targetFileBytes) match {
            case Some(b) => b += f
            case None => bins += mutable.ArrayBuffer(f)
          }
        }
        big.filter(_.hasDeletionVector).foreach(f => bins += mutable.ArrayBuffer(f))
        bins.filter(b => b.size >= 2 || b.exists(_.hasDeletionVector))
          .foreach(bin => rewrite(prepareBin(bin.toSeq).coalesce(1), bin.toSeq, pv))
      }
    }
    if (lines.isEmpty) return 0

    // first materialization: persist the minted column names so every
    // later reader/rewriter coalesces the same physical columns
    matCols.foreach { case (matId, matVer) =>
      if (!snap.configuration.contains(MatRowIdKey) ||
          !snap.configuration.contains(MatRowVersionKey))
        metadataLine(path, snap.metadata.get,
          snap.configuration + (MatRowIdKey -> matId) +
            (MatRowVersionKey -> matVer)) +=: lines
    }

    val opName = if (purgeOnly) "REORG" else "OPTIMIZE"
    lines += commitInfoLine(opName,
      params = (if (effectiveZ.isEmpty) Map.empty[String, String]
        else Map("zOrderBy" -> effectiveZ.mkString(","))) ++
        (if (conditions.isEmpty) Map.empty[String, String]
         else Map("predicate" ->
           conditions.map(c => s"${c.column} ${c.op} ${c.value}")
             .mkString(" AND "))) ++
        (if (purgeOnly) Map("applyPurge" -> "true")
         else Map.empty[String, String]),
      metrics = Map("numCompactedFiles" -> nCompacted.toLong))
    commit(spark, path, Some(snap), lines.toSeq,
      Rebase(removedPaths(lines.toSeq)), opName, snap.configuration)
    nCompacted
  }

  /** REORG TABLE … APPLY (PURGE): physically drop soft-deleted rows by
    * rewriting ONLY the deletion-vector-bearing files (optionally
    * scoped by a partition predicate like OPTIMIZE WHERE), leaving
    * every clean file untouched. After the commit no live file carries
    * a DV, so vacuum can reclaim the bins — the delta-spark
    * `REORG TABLE … APPLY (PURGE)` shape. Returns files rewritten.
    */
  def purge(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      conditions: Seq[Cond] = Nil): Int =
    compact(spark, path, targetFileBytes, zOrderBy = Nil,
      priorSnapshot = None, conditions = conditions, purgeOnly = true)

  /** Vacuum: physically delete table-root files no longer referenced by
    * the CURRENT version — data files of overwritten/compacted history
    * and orphaned deletion-vector bins. Zero-retention semantics (the
    * caller decides when history is expendable); time travel to versions
    * whose files are removed stops working, as with any vacuum. Returns
    * the deleted relative paths.
    *
    * CONCURRENCY: zero-retention vacuum and an in-flight writer are
    * mutually unsafe — an uncommitted append's parquet files are "not
    * referenced by the current version" and would be deleted here,
    * corrupting the table when that append then commits. Either ensure no
    * concurrent writers, or pass `graceMs > 0` (the standard
    * retention-interval defense): files whose modificationTime is within
    * the window are spared, so any writer that commits within `graceMs`
    * of staging its files is safe.
    */
  /** Decoded `cdc.path`s in one commit JSON, streamed line by line —
    * runs driver-side for small logs and executor-side inside the
    * vacuum cdc-liveness job for large ones.
    */
  private def cdcPathsIn(fs: FileSystem, commit: Path): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(commit), "UTF-8"))
    try {
      var l = in.readLine()
      while (l != null) {
        if (l.contains("\"cdc\"")) {
          val n = ActionCodec.mapper.readTree(l)
          Option(n.get("cdc")).filterNot(_.isNull)
            .flatMap(c => Option(c.get("path")).filterNot(_.isNull))
            .foreach(p => out += DeltaScan.decodePath(p.asText))
        }
        l = in.readLine()
      }
    } finally in.close()
    out.toSeq
  }

  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
      /** Retention window. Negative (the default) = UNSET: the table's
        * `delta.deletedFileRetentionDuration` property governs, else
        * zero retention. An explicit value — INCLUDING an explicit 0,
        * delta-spark's `RETAIN 0 HOURS` — always wins over the
        * property.
        */
      graceMs: Long = -1L,
      /** DRY RUN: list what would be deleted without touching disk. */
      dryRun: Boolean = false): Seq[String] = {
    val snap = DeltaLog.forPath(spark, path)
    val root = new Path(path)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(hconf)
    val rootUri = root.toUri.getPath.stripSuffix("/")
    // retention resolution order matches delta-spark: explicit caller
    // value (0 included) wins; else the table property; else zero. A
    // PRESENT but unparseable property refuses loudly — silently
    // zeroing it would discard exactly the in-flight-writer protection
    // the property was set to provide (delta-spark throws there too).
    val effectiveGraceMs =
      if (graceMs >= 0L) graceMs
      else snap.configuration.get("delta.deletedFileRetentionDuration") match {
        case None => 0L
        case Some(v) => parseIntervalMs(v).getOrElse(
          throw new IllegalArgumentException(
            s"unparseable delta.deletedFileRetentionDuration '$v' on " +
              s"$path — refusing to vacuum with an unknown retention " +
              "(pass graceMs explicitly to override)"))
      }
    val graceOn = effectiveGraceMs > 0L
    val cutoff = System.currentTimeMillis() - effectiveGraceMs
    val liveData = snap.liveFiles.map(a => DeltaScan.decodePath(a.path)).toSet
    // DV files referenced by the current version — "u" form AND "p"
    // (absolute) files that live under the table root
    val liveDv = snap.liveFiles.flatMap(_.deletionVector)
      .flatMap(dv => DeletionVectors.relativeFilePath(dv, path)).toSet
    // Stored change-data files referenced by any commit JSON still in
    // the log are LIVE: CDF readers resolve cdc actions from those
    // commits, and none of them appear in liveFiles (cdc is not an
    // add). They become vacuumable only when log cleanup ages their
    // commit out — deleting them earlier would break scanDeltaCdf over
    // history the log still advertises. Files stranded by FAILED
    // commits are referenced by no JSON and fall through to deletion.
    // Each commit is STREAMED line by line (a commit can carry an
    // action line per rewritten file — buffering whole commits at
    // 100 TB table sizes is the kind of driver-memory spike vacuum
    // must not have), with a cheap substring prefilter before the JSON
    // parse. Retention-bounded but potentially LARGE (a per-micro-batch
    // streaming committer under 30-day log retention is tens of
    // thousands of commits), so past a small threshold the per-commit
    // scans run as a SPARK JOB — the driver sees only the cdc path
    // list, the same shape as the file-discovery job below. Small logs
    // stay on the driver: a job's scheduling overhead would dominate.
    val logDirP = new Path(root, "_delta_log")
    val commitJson = "^\\d{20}\\.json$".r
    val liveCdc: Set[String] =
      if (!fs.exists(logDirP)) Set.empty
      else {
        val commitPaths = fs.listStatus(logDirP).iterator
          .filter(st => commitJson.matches(st.getPath.getName))
          .map(_.getPath.toString).toSeq
        if (commitPaths.size <= 32)
          commitPaths.flatMap(p => cdcPathsIn(fs, new Path(p))).toSet
        else {
          val sc = spark.sparkContext
          val confSer = new SerializableHadoopConf(hconf)
          val slices =
            math.max(1, math.min(commitPaths.size, sc.defaultParallelism))
          val prevDesc = sc.getLocalProperty("spark.job.description")
          sc.setJobDescription(s"graft vacuum cdc-liveness scan: $path")
          try
            sc.parallelize(commitPaths, slices).mapPartitions { it =>
              it.flatMap { d =>
                val p = new Path(d)
                cdcPathsIn(p.getFileSystem(confSer.value), p)
              }
            }.collect().toSet
          finally sc.setJobDescription(prevDesc)
        }
      }
    val live: Set[String] = liveData ++ liveDv ++ liveCdc

    // File discovery splits at the first level: the driver lists only
    // the table root (O(top-level entries) — partition dirs + root
    // files), then a SPARK JOB recursively lists every subdirectory and
    // filters against the broadcast live set, so only already-doomed
    // paths ever travel back to the driver. At 100 TB (millions of
    // files across thousands of partition dirs) the old driver-side
    // fs.listFiles(root, true) walk was the last O(table-files) driver
    // loop; this is the same shape delta-spark's VacuumCommand uses.
    val top = fs.listStatus(root).toSeq
      .filterNot(_.getPath.getName == "_delta_log")
    val (dirs, rootFiles) = top.partition(_.isDirectory)
    val topDoomed: Seq[String] = rootFiles
      .filter(st => !graceOn || st.getModificationTime < cutoff)
      .map(_.getPath.toUri.getPath.stripPrefix(rootUri + "/"))
      .filterNot(live.contains)
    val subDoomed: Seq[String] =
      if (dirs.isEmpty) Nil
      else {
        val sc = spark.sparkContext
        val confSer = new SerializableHadoopConf(hconf)
        val liveB = sc.broadcast(live)
        val dirStrs = dirs.map(_.getPath.toString)
        val slices = math.max(1, math.min(dirStrs.size, sc.defaultParallelism))
        val prevDesc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"graft vacuum listing: $path")
        try
          sc.parallelize(dirStrs, slices).flatMap { d =>
            val p = new Path(d)
            val pfs = p.getFileSystem(confSer.value)
            val out = mutable.ArrayBuffer.empty[String]
            val it = pfs.listFiles(p, true)
            while (it.hasNext) {
              val st = it.next()
              val uriPath = st.getPath.toUri.getPath
              val rel = uriPath.stripPrefix(rootUri + "/")
              // spare any NESTED table's transaction log (a Delta table
              // under a partition subtree — e.g. a backup or a shallow
              // clone target): its commits are referenced by no action
              // of the OUTER log, but deleting them destroys that table
              if (!uriPath.contains("/_delta_log/") &&
                  !liveB.value.contains(rel) &&
                  (!graceOn || st.getModificationTime < cutoff))
                out += rel
            }
            out
          }.collect().toSeq
        finally {
          sc.setJobDescription(prevDesc)
          liveB.unpersist(false)
        }
      }
    // Content-addressed v2 sidecars orphaned by CRASHED checkpoint
    // writes: a sidecar referenced by NO checkpoint top file can never
    // be read again (top files themselves are never vacuumed, so every
    // successful checkpoint keeps its sidecars referenced). Same grace
    // window as data files — an in-flight checkpoint's fresh sidecar is
    // spared.
    val sidecarDir = new Path(root, "_delta_log/_sidecars")
    val doomedSidecars: Seq[String] =
      if (!fs.exists(sidecarDir)) Nil
      else {
        val logDir = new Path(root, "_delta_log")
        // BOTH v2 top-file forms reference sidecars: parquet (what we
        // write) and line-JSON (what DeltaLog.forPath also reads —
        // external engines emit it); missing the JSON form here would
        // classify their sidecars as orphans and delete live state
        val uuidTop = "^\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.parquet$".r
        val uuidTopJson = "^\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.json$".r
        val all = fs.listStatus(logDir).map(_.getPath)
        val tops = all.filter(p => uuidTop.matches(p.getName))
        val jsonTops = all.filter(p => uuidTopJson.matches(p.getName))
        val refParquet: Set[String] =
          if (tops.isEmpty) Set.empty
          else spark.read.parquet(tops.map(_.toString).toIndexedSeq: _*)
            .select("sidecar.path").na.drop().collect()
            .map(_.getString(0)).toSet
        val refJson: Set[String] = jsonTops.flatMap { p =>
          val in = fs.open(p)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          text.split('\n').filter(_.nonEmpty).flatMap { l =>
            val n = ActionCodec.mapper.readTree(l)
            Option(n.get("sidecar")).filterNot(_.isNull)
              .flatMap(s => Option(s.get("path")).filterNot(_.isNull)
                .map(_.asText))
          }
        }.toSet
        val referenced = refParquet ++ refJson
        fs.listStatus(sidecarDir).toSeq
          .filter(st => !referenced.contains(st.getPath.getName) &&
            (!graceOn || st.getModificationTime < cutoff))
          .map(st => "_delta_log/_sidecars/" + st.getPath.getName)
      }
    val doomedData = (topDoomed ++ subDoomed).sorted
    val doomed = doomedData ++ doomedSidecars.sorted
    if (!dryRun) {
      // large reclaims delete in a Spark job too (deleting millions of
      // files one driver-side RPC at a time is its own bottleneck);
      // small batches and log-dir sidecars stay driver-side
      val (bulk, rest): (Seq[String], Seq[String]) =
        if (doomedData.size > 512) (doomedData, doomedSidecars.sorted)
        else (Nil, doomed)
      if (bulk.nonEmpty) {
        val sc = spark.sparkContext
        val confSer = new SerializableHadoopConf(hconf)
        val rootStr = root.toString
        val slices =
          math.max(1, math.min(bulk.size / 64 + 1, sc.defaultParallelism))
        sc.parallelize(bulk, slices).foreachPartition { batch =>
          val rp = new Path(rootStr)
          val pfs = rp.getFileSystem(confSer.value)
          batch.foreach(rel => pfs.delete(new Path(rp, rel), false))
        }
      }
      rest.foreach(rel => fs.delete(new Path(root, rel), false))
    }
    doomed
  }

  /** The protocol-conformant classic-checkpoint schema (PROTOCOL.md
    * #checkpoint-schema): one row per action, `partitionValues` as
    * MAP<string,string> (NOT an inferred struct — delta-spark/delta-rs
    * would fail to parse a struct there), and the `txn`/`remove` columns
    * present even when empty.
    */
  private val checkpointSchema: StructType = {
    val mapSS = MapType(StringType, StringType, valueContainsNull = true)
    StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", mapSS),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("tags", mapSS),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("description", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", mapSS)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", mapSS),
        StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
  }

  /** Write a checkpoint + `_last_checkpoint` for the snapshot's
    * version, so subsequent replays are O(commits-since-checkpoint)
    * (the reader's checkpoint branch, spec:
    * delta_meta_retrieval.py:406-440). Format dispatch: classic
    * single-file by default; v2 UUID-named + sidecar when the table
    * opted in via `delta.checkpointPolicy=v2` AND the protocol carries
    * the `v2Checkpoint` feature (the writer adds it when the property
    * is set — see write()). Classic is written whenever either half of
    * that gate is missing: it is universally readable, and a v2
    * checkpoint on a featureless table would ambush readers that never
    * learned UUID naming.
    */
  def writeCheckpoint(snap: DeltaSnapshot): Unit =
    if (snap.configuration.get("delta.checkpointPolicy").contains("v2") &&
        snap.protocol.exists(
          _.readerFeatures.exists(_.contains("v2Checkpoint"))))
      writeV2Checkpoint(snap)
    else writeClassicCheckpoint(snap)

  /** One `add` Row in [[checkpointSchema]]'s add shape. Effective map:
    * legacy partition.<name> keys folded in, or a legacy-keyed table
    * loses its partition values at checkpoint. dataChange is normalized
    * to false per the protocol (checkpoint adds never represent new
    * data — change feeds walk commits).
    */
  private def checkpointAddRow(a: AddAction): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.Row
    val dvRow = a.deletionVector.map(dv =>
      Row(dv.storageType, dv.pathOrInlineDv,
        dv.offset.map(Int.box).orNull, dv.sizeInBytes, dv.cardinality)).orNull
    Row(a.path, a.effectivePartitionValues.map { case (k, v) => k -> v.orNull },
      a.size, a.modificationTime, false, a.stats.orNull,
      if (a.tags.isEmpty) null
      else a.tags.map { case (k, v) => k -> v.orNull },
      dvRow,
      a.baseRowId.map(Long.box).orNull,
      a.defaultRowCommitVersion.map(Long.box).orNull)
  }

  /** Write `rows` as ONE parquet file at `target` (tmp dir + rename —
    * a Spark parquet "file" write is a directory). Returns file length.
    */
  private def writeSingleParquet(
      spark: org.apache.spark.sql.SparkSession, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row], target: Path): Long = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val tmpDir = new Path(target.getParent,
      s".cp_tmp_${java.util.UUID.randomUUID()}")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(tmpDir)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.mkdirs(target.getParent)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(part, target))
      throw new java.io.IOException(
        s"Failed to move checkpoint into place: $part -> $target")
    fs.delete(tmpDir, true)
    fs.getFileStatus(target).getLen
  }

  private def writeLastCheckpoint(fs: FileSystem, logDir: String,
      version: Long, size: Long, parts: Option[Int] = None): Unit = {
    val lc = JsonNodeFactory.instance.objectNode()
    lc.put("version", version)
    lc.put("size", size)
    parts.foreach(lc.put("parts", _))
    val out = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try out.write((lc.toString + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Classic `%020d.checkpoint.parquet`: one row per action with the
    * explicit [[checkpointSchema]] — written via a DataFrame so
    * executors do the encoding, and parseable by standard Delta readers.
    */
  private def writeClassicCheckpoint(snap: DeltaSnapshot): Unit = {
    val spark = snap.spark
    import org.apache.spark.sql.Row
    val rows = mutable.ArrayBuffer.empty[Row]

    snap.protocol.foreach { p =>
      rows += Row(null, null, null, null,
        Row(p.minReaderVersion, p.minWriterVersion,
          p.readerFeatures.orNull, p.writerFeatures.orNull), null)
    }
    snap.txnVersions.toSeq.sortBy(_._1).foreach { case (appId, v) =>
      rows += Row(Row(appId, v, null), null, null, null, null, null)
    }
    snap.metadata.foreach { m =>
      rows += Row(null, null, null,
        Row(m.id.orNull, null, null, Row("parquet", Map.empty[String, String]),
          m.schemaString, m.partitionColumns, m.configuration,
          m.createdTime.map(Long.box).orNull),
        null, null)
    }
    // domainMetadata an external engine persisted (row tracking,
    // clustering, …) must survive OUR checkpoint — dropping a domain
    // would corrupt the owning engine's state
    snap.domainMetadataRaw.foreach(raw =>
      rows += Row(null, null, null, null, null, domainMetadataRow(raw)))
    snap.liveFiles.foreach { a =>
      rows += Row(null, checkpointAddRow(a), null, null, null, null)
    }

    val logDir = s"${snap.deltaPath.stripSuffix("/")}/_delta_log"
    val fs = new Path(logDir).getFileSystem(spark.sessionState.newHadoopConf())
    // multi-part classic checkpoint behind delta.checkpoint.partSize
    // (delta-spark's property): on a 100 TB table a single checkpoint
    // parquet serializes millions of add rows through one task and one
    // writer — parts cap the per-file row count so checkpoint writes
    // (and the reader's part scans) parallelize. The reader has
    // consumed the `%020d.checkpoint.%010d.%010d.parquet` layout since
    // round 1; tables can now produce it. Unconfigured tables still
    // split automatically past `spark.graft.checkpoint.autoPartRows`
    // (default 100k, 0 disables): a million-file table must never ship
    // its whole action list through one Spark task because nobody set
    // a property.
    val autoPart = spark.conf
      .getOption("spark.graft.checkpoint.autoPartRows")
      .flatMap(_.toIntOption).getOrElse(100000)
    val partSize = snap.configuration.get("delta.checkpoint.partSize")
      .flatMap(_.toIntOption).filter(_ > 0)
      .orElse(Some(autoPart).filter(n => n > 0 && rows.size > n))
    partSize match {
      case Some(ps) if rows.size > ps =>
        val parts = rows.toSeq.grouped(ps).toSeq
        val n = parts.size
        parts.zipWithIndex.foreach { case (part, i) =>
          val t = new Path(logDir,
            f"${snap.version}%020d.checkpoint.${i + 1}%010d.$n%010d.parquet")
          writeSingleParquet(spark, checkpointSchema, part, t)
        }
        writeLastCheckpoint(fs, logDir, snap.version, rows.size.toLong,
          parts = Some(n))
      case _ =>
        val target =
          new Path(logDir, f"${snap.version}%020d.checkpoint.parquet")
        writeSingleParquet(spark, checkpointSchema, rows.toSeq, target)
        writeLastCheckpoint(fs, logDir, snap.version, rows.size.toLong)
    }
  }

  /** One checkpoint `domainMetadata` Row from the snapshot's raw
    * inner-JSON — shared by both checkpoint writers so classic and v2
    * re-statement can never diverge.
    */
  private def domainMetadataRow(raw: String): org.apache.spark.sql.Row = {
    val n = ActionCodec.mapper.readTree(raw)
    org.apache.spark.sql.Row(
      Option(n.get("domain")).filterNot(_.isNull).map(_.asText).orNull,
      Option(n.get("configuration")).filterNot(_.isNull)
        .map(c => if (c.isTextual) c.asText else c.toString).orNull,
      Option(n.get("removed")).filterNot(_.isNull).exists(_.asBoolean))
  }

  private val v2SidecarSchema: StructType =
    StructType(Seq(checkpointSchema("add"), checkpointSchema("remove")))

  private val v2TopSchema: StructType = {
    val mapSS = MapType(StringType, StringType, valueContainsNull = true)
    StructType(Seq(
      checkpointSchema("txn"), checkpointSchema("metaData"),
      checkpointSchema("protocol"),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType),
        StructField("tags", mapSS)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType),
        StructField("tags", mapSS)))),
      checkpointSchema("domainMetadata")))
  }

  /** V2 UUID-named checkpoint + sidecars (PROTOCOL.md#v2-spec): file
    * actions go to `_delta_log/_sidecars/`; the
    * `<version>.checkpoint.<uuid>.parquet` top file holds
    * protocol/metaData/txns, a `checkpointMetadata` row, and one
    * `sidecar` pointer per sidecar file. The reader side
    * (DeltaLog.forPath) has consumed this layout since round 3; tables
    * can now PRODUCE it (round-4 verdict item 5), keeping the top file
    * O(metadata) no matter how many files the table holds.
    *
    * Sidecars are INCREMENTAL: live files bucket by modificationTime
    * window (`graft.checkpoint.sidecarWindowMs`, default 7 days) and
    * each bucket's sidecar is CONTENT-ADDRESSED — its name derives from
    * a digest of the bucket's re-emitted action lines — so a bucket
    * whose files didn't change since the previous checkpoint resolves
    * to the SAME sidecar file and is reused without a write. The shape
    * that matters at 100 TB: an append-mostly table re-writes one young
    * bucket per checkpoint instead of O(all-files) every interval,
    * while DML/compaction invalidates exactly the buckets it touched
    * (digest covers stats and DV descriptors). Sidecars orphaned by
    * crashed checkpoint writes are collected by [[vacuum]].
    */
  private def writeV2Checkpoint(snap: DeltaSnapshot): Unit = {
    val spark = snap.spark
    import org.apache.spark.sql.Row
    val logDir = s"${snap.deltaPath.stripSuffix("/")}/_delta_log"
    val uuid = java.util.UUID.randomUUID().toString
    val fs = new Path(logDir).getFileSystem(spark.sessionState.newHadoopConf())

    val windowMs = snap.configuration
      .get("graft.checkpoint.sidecarWindowMs")
      .flatMap(_.toLongOption).filter(_ > 0)
      .getOrElse(7L * 24 * 3600 * 1000)
    val buckets = snap.liveFiles.groupBy(_.modificationTime / windowMs)
      .toSeq.sortBy(_._1)
    var sidecarRowCount = 0L
    val sidecars = buckets.map { case (_, files) =>
      val sorted = files.sortBy(_.path)
      val digest = java.security.MessageDigest.getInstance("MD5").digest(
        sorted.map(a => addLineFor(a, dataChange = false))
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
      val name = s"${java.util.UUID.nameUUIDFromBytes(digest)}.parquet"
      val p = new Path(s"$logDir/_sidecars/$name")
      if (!fs.exists(p))
        writeSingleParquet(spark, v2SidecarSchema,
          sorted.map(a => Row(checkpointAddRow(a), null)), p)
      else
        // refresh the mtime on reuse: a sidecar left behind by a CRASHED
        // checkpoint is an orphan with an old timestamp until this top
        // file lands — without the touch, a concurrent vacuum's grace
        // window (which keys on mtime) wouldn't spare it
        fs.setTimes(p, System.currentTimeMillis(), -1)
      sidecarRowCount += sorted.size
      val st = fs.getFileStatus(p)
      (name, st.getLen, st.getModificationTime)
    }

    val top = mutable.ArrayBuffer.empty[Row]
    snap.protocol.foreach { p =>
      top += Row(null, null,
        Row(p.minReaderVersion, p.minWriterVersion,
          p.readerFeatures.orNull, p.writerFeatures.orNull),
        null, null, null)
    }
    snap.txnVersions.toSeq.sortBy(_._1).foreach { case (appId, v) =>
      top += Row(Row(appId, v, null), null, null, null, null, null)
    }
    snap.metadata.foreach { m =>
      top += Row(null,
        Row(m.id.orNull, null, null, Row("parquet", Map.empty[String, String]),
          m.schemaString, m.partitionColumns, m.configuration,
          m.createdTime.map(Long.box).orNull), null, null, null, null)
    }
    // external engines' domainMetadata re-stated (non-file actions live
    // in the top file)
    snap.domainMetadataRaw.foreach(raw =>
      top += Row(null, null, null, null, null, domainMetadataRow(raw)))
    top += Row(null, null, null, Row(snap.version, null), null, null)
    // relative sidecar names — the reader resolves them under _sidecars/
    sidecars.foreach { case (name, len, mtime) =>
      top += Row(null, null, null, null, Row(name, len, mtime, null), null)
    }

    val topPath = new Path(logDir,
      f"${snap.version}%020d.checkpoint.$uuid%s.parquet")
    writeSingleParquet(spark, v2TopSchema, top.toSeq, topPath)
    writeLastCheckpoint(fs, logDir, snap.version,
      top.size.toLong + sidecarRowCount)
  }

  /** Deep nullability- and metadata-insensitive shape, for append-time
    * type compatibility checks (a Dataset-derived primitive field is
    * non-nullable but Delta-compatible with its nullable twin).
    */
  private def comparableType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, comparableType(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(comparableType(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(comparableType(k), comparableType(v), valueContainsNull = true)
    case other => other
  }

  /** Protocol action upgrading to feature-versioned (3,7) with `feature`
    * added, folding in the features the legacy minReader/WriterVersion
    * implied (PROTOCOL.md feature table) — a feature-version protocol
    * must list EVERY active feature.
    */
  /** Least upper bound of two protocols: max min-versions, feature
    * unions, with a legacy side's implied features folded in whenever
    * the result must take the feature form. Used on overwrite so a
    * recomputed protocol can never drop a feature the table already
    * minted (the spec's drop-feature process is the only legal way
    * down).
    */
  private[delta] def unionProtocols(a: DeltaProtocol,
      b: DeltaProtocol): DeltaProtocol = {
    def implied(v: Int, table: Seq[(Int, String)]): Seq[String] =
      table.collect { case (minV, f) if v >= minV => f }
    val impliedReader = Seq(2 -> "columnMapping")
    if (a.writerFeatures.isEmpty && b.writerFeatures.isEmpty)
      return DeltaProtocol(
        math.max(a.minReaderVersion, b.minReaderVersion),
        math.max(a.minWriterVersion, b.minWriterVersion), None, None)
    def wfOf(p: DeltaProtocol) = p.writerFeatures.getOrElse(
      implied(p.minWriterVersion, ImpliedWriterFeatures))
    val wf = (wfOf(a) ++ wfOf(b)).distinct
    if (a.readerFeatures.isDefined || b.readerFeatures.isDefined) {
      def rfOf(p: DeltaProtocol) = p.readerFeatures.getOrElse(
        implied(p.minReaderVersion, impliedReader))
      DeltaProtocol(3, 7, Some((rfOf(a) ++ rfOf(b)).distinct), Some(wf))
    } else DeltaProtocol(
      math.max(a.minReaderVersion, b.minReaderVersion), 7, None, Some(wf))
  }

  private def upgradedProtocolJson(
      prior: Option[DeltaProtocol], features: String*): String = {
    def implied(v: Int, table: Seq[(Int, String)]): Seq[String] =
      table.collect { case (minV, f) if v >= minV => f }
    val impliedReader = Seq(2 -> "columnMapping")
    // reader-WRITER features appear in both arrays; everything else
    // (checkConstraints, appendOnly, …) is writer-only and must never
    // land in readerFeatures
    val readerRelevant = Set("columnMapping", "deletionVectors",
      "timestampNtz", "v2Checkpoint", "typeWidening")
    val rf = (prior.flatMap(_.readerFeatures).getOrElse(
      implied(prior.map(_.minReaderVersion).getOrElse(1), impliedReader)) ++
      features.filter(readerRelevant)).distinct
    val wf = (prior.flatMap(_.writerFeatures).getOrElse(
      implied(prior.map(_.minWriterVersion).getOrElse(1),
        ImpliedWriterFeatures)) ++
      features).distinct
    val nf = JsonNodeFactory.instance
    val o = nf.objectNode(); val pn = o.putObject("protocol")
    pn.put("minReaderVersion", 3).put("minWriterVersion", 7)
    val rfa = pn.putArray("readerFeatures"); rf.foreach(rfa.add)
    val wfa = pn.putArray("writerFeatures"); wf.foreach(wfa.add)
    o.toString
  }

  private def hasNtz(dt: DataType): Boolean = dt match {
    case TimestampNTZType => true
    case s: StructType => s.exists(f => hasNtz(f.dataType))
    case ArrayType(et, _) => hasNtz(et)
    case MapType(k, v, _) => hasNtz(k) || hasNtz(v)
    case _ => false
  }

  /** PROTOCOL.md: `add.path` is the percent-encoded relative path.
    * Spark hive-escapes special chars in partition dirs (':'→'%3A',
    * '%'→'%25'), so the on-disk name itself can contain '%' — emitting it
    * raw would make readers (ours and delta-rs/delta-spark, which all
    * percent-DECODE add.path) look for a nonexistent file. URI's
    * multi-arg constructor percent-encodes the path component ('%',
    * space, non-ASCII) while leaving '/', '+' and unreserved chars —
    * exactly inverse to [[DeltaScan.decodePath]].
    */
  private[delta] def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** Relative paths of all parquet data files under `root`.
    * `_change_data/` is excluded — stored CDF files are never table
    * state.
    */
  private def listDataFiles(fs: FileSystem, root: Path): Set[String] = {
    if (!fs.exists(root)) return Set.empty
    val out = mutable.Set.empty[String]
    val it = fs.listFiles(root, true)
    val rootUri = root.toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toUri.getPath
      if (p.endsWith(".parquet") && !p.contains("/_delta_log/") &&
          !p.contains("/_change_data/"))
        out += p.stripPrefix(rootUri + "/")
    }
    out.toSet
  }

  /** Run `write` — one Spark parquet write into the directory it is
    * handed — then move the files it produced to the same relative
    * paths under `root/<into>` and return those root-relative paths,
    * sorted. Spark writes into a private `.write_tmp_<uuid>` directory
    * (compaction's staging shape), so writers racing on one table never
    * share Spark's `<dir>/_temporary` job directory, which a finishing
    * job deletes under a running one, and each knows exactly its own
    * files instead of diffing table listings that also show the other
    * writer's.
    */
  private def writeFiles(fs: FileSystem, root: Path, into: String = "")(
      write: String => Unit): Seq[String] = {
    // qualified: a relative root must still list as root-relative paths
    val tmpDir = fs.makeQualified(
      new Path(root, s".write_tmp_${java.util.UUID.randomUUID()}"))
    try {
      write(tmpDir.toString)
      listDataFiles(fs, tmpDir).toSeq.sorted.map { rel =>
        val dest = new Path(root, into + rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(new Path(tmpDir, rel), dest))
          throw new java.io.IOException(s"could not move written file to $dest")
        into + rel
      }
    } finally fs.delete(tmpDir, true)
  }

  /** `key=value` hive path segments → partitionValues (URL-decoded;
    * `__HIVE_DEFAULT_PARTITION__` → null).
    */
  private[delta] def partitionValuesFromPath(rel: String): Seq[(String, Option[String])] =
    rel.split("/").dropRight(1).toSeq.filter(_.contains("=")).map { seg =>
      val i = seg.indexOf('=')
      // percent-decode only — hive escaping never encodes '+', and form
      // decoding would corrupt it to a space
      def dec(s: String) =
        java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
      val k = dec(seg.substring(0, i))
      val v = dec(seg.substring(i + 1))
      k -> (if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v))
    }

  /** Per-file stats JSON from the parquet footer (row count + column
    * chunk min/max/null counts aggregated over row groups). Top-level
    * primitive columns only; fail-open on anything exotic.
    */
  private def footerStats(fs: FileSystem, file: Path, schema: StructType): Option[String] =
    try {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(file, fs.getConf))
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks
        val nf = JsonNodeFactory.instance
        val stats = nf.objectNode()
        var numRecords = 0L
        blocks.forEach(b => numRecords += b.getRowCount)
        stats.put("numRecords", numRecords)
        val minV = stats.putObject("minValues")
        val maxV = stats.putObject("maxValues")
        val nullC = stats.putObject("nullCount")

        val fileSchema = footer.getFileMetaData.getSchema
        schema.fields.foreach { sf =>
          val name = sf.name
          if (fileSchema.containsField(name) &&
              fileSchema.getType(Seq(name): _*).isPrimitive) {
            var nulls = 0L
            var hasNulls = true
            // min/max are only valid file-wide if EVERY row group
            // contributed statistics — a chunk without them (e.g. large
            // binaries) would make the merged range too narrow and later
            // skip files that DO contain matching rows
            var minMaxComplete = true
            var min: Option[AnyRef] = None
            var max: Option[AnyRef] = None
            val prim = fileSchema.getType(Seq(name): _*).asPrimitiveType()
            blocks.forEach { b =>
              b.getColumns.forEach { cc =>
                if (cc.getPath.toDotString == name) {
                  val st = cc.getStatistics
                  if (st == null || !st.isNumNullsSet) hasNulls = false
                  else nulls += st.getNumNulls
                  val allNull = st != null && st.isNumNullsSet &&
                    st.getNumNulls == b.getRowCount
                  if (st != null && st.hasNonNullValue) {
                    val (mn, mx) = typedMinMax(
                      st.genericGetMin.asInstanceOf[AnyRef],
                      st.genericGetMax.asInstanceOf[AnyRef], prim, sf.dataType)
                    if (mn.isEmpty || mx.isEmpty) minMaxComplete = false
                    min = mergeMin(min, mn); max = mergeMax(max, mx)
                  } else if (!allNull) minMaxComplete = false
                }
              }
            }
            if (!minMaxComplete) { min = None; max = None }
            if (hasNulls) nullC.put(name, nulls)
            def putVal(target: com.fasterxml.jackson.databind.node.ObjectNode,
                v: AnyRef): Unit = v match {
              case s: String => target.put(name, s)
              case i: java.lang.Long => target.put(name, i.longValue)
              case d: java.lang.Double => target.put(name, d.doubleValue)
              case b: java.math.BigDecimal => target.put(name, b)
              case _ => ()
            }
            min.foreach(putVal(minV, _))
            max.foreach(putVal(maxV, _))
          }
        }
        Some(stats.toString)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Delta interval-property value → milliseconds. ONE parser for every
    * interval-shaped property (log retention, file retention): optional
    * `interval` prefix, one or more `<count> <unit>` terms
    * (week/day/hour/minute/second/millisecond — compound values like
    * "interval 1 week 2 days" are valid delta-spark CalendarIntervals),
    * case-insensitive, plus the plain-milliseconds form. None for
    * anything else — calendar-ambiguous units (month/year), trailing
    * garbage, or counts that overflow a Long — so each property decides
    * its own fallback policy explicitly instead of inheriting one
    * parser's.
    */
  private[delta] def parseIntervalMs(s: String): Option[Long] = {
    val txt = s.trim.toLowerCase
      .stripPrefix("interval").trim.replaceAll("\\s+", " ")
    if (txt.isEmpty) None
    else if (txt.matches("\\d+")) scala.util.Try(txt.toLong).toOption
    else {
      val term = "(\\d+) ?(week|day|hour|minute|second|millisecond)s?".r
      val terms = term.findAllMatchIn(txt).toList
      // the WHOLE string must be covered by terms — partial matches
      // ("1 day xyz", "1 month") must not half-parse
      if (terms.isEmpty || terms.map(_.matched).mkString(" ") != txt) None
      else scala.util.Try {
        terms.map { m =>
          val mult = m.group(2) match {
            case "week" => 7L * 24 * 3600 * 1000
            case "day" => 24L * 3600 * 1000
            case "hour" => 3600L * 1000
            case "minute" => 60L * 1000
            case "second" => 1000L
            case "millisecond" => 1L
          }
          Math.multiplyExact(m.group(1).toLong, mult)
        }.reduce((a, b) => Math.addExact(a, b))
      }.toOption
    }
  }

  /** Stats prefix width for long strings — delta-spark's default. */
  private val StatsStringPrefixLen = 32

  /** Upper-bound truncation for a string MAX statistic: the 32-char
    * prefix with its last incrementable char incremented, which is
    * strictly greater than the original — a prefix alone would be LESS
    * than the value it bounds and could wrongly skip files. A char is
    * skipped (move left) when it is ￿ (no successor), when its
    * successor would land in the surrogate range U+D800–DFFF (e.g.
    * U+D7FF), or when it is itself a surrogate half — incrementing any
    * of those would emit a lone surrogate, i.e. malformed UTF-16, into
    * the commit's stats JSON, which strict UTF-8 consumers reject and
    * whose ordering is undefined across readers. None when no prefix
    * char is incrementable (no representable bound → stats omitted,
    * fail-open on the reader side).
    */
  /** Lower-bound truncation for a string MIN statistic: the 32-char
    * prefix, trimmed by one char when the cut lands mid-surrogate-pair
    * — a shorter prefix is still a valid lower bound, and the dangling
    * high half would be the same malformed UTF-16 [[truncatedMax]]
    * guards against on the upper side.
    */
  private def truncatedMin(s: String): String = {
    val p = s.substring(0, StatsStringPrefixLen)
    if (Character.isHighSurrogate(p.charAt(p.length - 1))) p.dropRight(1)
    else p
  }

  private def truncatedMax(s: String): Option[String] = {
    val p = s.substring(0, StatsStringPrefixLen)
    def bumpable(c: Char): Boolean =
      c != Char.MaxValue && !Character.isSurrogate(c) &&
        !Character.isSurrogate((c + 1).toChar)
    var i = p.length - 1
    while (i >= 0 && !bumpable(p.charAt(i))) i -= 1
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** Convert parquet statistics values to the Delta stats JSON domain:
    * numbers stay numbers, dates/timestamps become ISO strings, long
    * strings truncate to a 32-char prefix (min) / incremented prefix
    * (max) — the delta-spark rule FileSkipping's reader side already
    * understands — so a corpus of megabyte text rows still gets
    * zone maps without megabyte commit JSONs.
    */
  private def typedMinMax(
      mn: AnyRef, mx: AnyRef,
      prim: org.apache.parquet.schema.PrimitiveType,
      sparkType: DataType): (Option[AnyRef], Option[AnyRef]) = {
    def conv(v: AnyRef, isMax: Boolean): Option[AnyRef] = (prim.getPrimitiveTypeName, sparkType) match {
      case (PrimitiveTypeName.INT32, DateType) =>
        Some(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue).toString)
      case (PrimitiveTypeName.INT32, _) | (PrimitiveTypeName.INT64, _)
          if prim.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        val ts = prim.getLogicalTypeAnnotation
          .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
        val micros = ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => v.asInstanceOf[Number].longValue * 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => v.asInstanceOf[Number].longValue
          case LogicalTypeAnnotation.TimeUnit.NANOS => v.asInstanceOf[Number].longValue / 1000L
        }
        Some(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L).toString)
      case (PrimitiveTypeName.INT32, _) | (PrimitiveTypeName.INT64, _) =>
        Some(java.lang.Long.valueOf(v.asInstanceOf[Number].longValue))
      case (PrimitiveTypeName.FLOAT, _) | (PrimitiveTypeName.DOUBLE, _) =>
        Some(java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue))
      case (PrimitiveTypeName.BINARY, StringType) =>
        val s = new String(v.asInstanceOf[org.apache.parquet.io.api.Binary]
          .getBytes, StandardCharsets.UTF_8)
        if (s.length <= 64) Some(s)
        else if (isMax) truncatedMax(s)
        else Some(truncatedMin(s))
      case _ => None
    }
    (conv(mn, isMax = false), conv(mx, isMax = true))
  }

  private def mergeMin(cur: Option[AnyRef], v: Option[AnyRef]): Option[AnyRef] =
    (cur, v) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(a), Some(b)) => Some(if (cmp(a, b) <= 0) a else b)
    }
  private def mergeMax(cur: Option[AnyRef], v: Option[AnyRef]): Option[AnyRef] =
    (cur, v) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(a), Some(b)) => Some(if (cmp(a, b) >= 0) a else b)
    }
  private def cmp(a: AnyRef, b: AnyRef): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    case (x: String, y: String) => x.compareTo(y)
    case _ => 0
  }
}
