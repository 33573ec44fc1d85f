package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.delta._

/** Public API — Spark-native mirror of the reference's surface
  * (deltalake2db/__init__.py exports; SURVEY.md §2.6):
  *
  *  - `polars_scan_delta` / `get_sql_for_delta` → [[scanDelta]] (one lazy
  *    `DataFrame` covers both: Spark's composable IR plays the role of
  *    the sqlglot AST and the LazyFrame at once)
  *  - `duckdb_create_view_for_delta`            → [[createViewForDelta]]
  *  - `get_polars_schema`                       → [[deltaSchema]]
  *  - `get_deltalake_meta`                      → [[deltaMeta]]
  *  - `is_protocol_supported` / `DeltaProtocolError` → [[isProtocolSupported]]
  */
object DeltaLake {

  /** Lazy scan of a Delta table — no data I/O until an action runs. */
  def scanDelta(spark: SparkSession, path: String,
      settings: ScanSettings = ScanSettings()): DataFrame =
    DeltaScan.scan(spark, path, settings)

  /** Snapshot-at-compile-time view (duckdb.py:340-371). */
  def createViewForDelta(spark: SparkSession, path: String, viewName: String,
      settings: ScanSettings = ScanSettings()): Unit =
    scanDelta(spark, path, settings).createOrReplaceTempView(viewName)

  /** The scan as a composable Spark-SQL STRING — `get_sql_for_delta`
    * (duckdb.py:584-623). `cteWrapName = Some(w)` returns a `WITH … w AS
    * (…)` prefix for embedding in a larger hand-written query; `None` a
    * complete statement. See [[graft.delta.DeltaSql]] for the contract.
    */
  def deltaSql(spark: SparkSession, path: String,
      settings: ScanSettings = ScanSettings(),
      cteWrapName: Option[String] = None,
      sqlPrefix: String = "delta"): String =
    DeltaSql.deltaSql(spark, path, settings, cteWrapName, sqlPrefix)

  /** Logical (or physical) schema without reading data
    * (polars.py:226-263).
    */
  def deltaSchema(spark: SparkSession, path: String,
      physical: Boolean = false, version: Option[Long] = None): StructType = {
    val snap = DeltaLog.forPath(spark, path, version)
    snap.checkProtocolSupported()
    val s = snap.schema
    if (physical) DeltaSchema.physicalize(s) else s
  }

  /** Metadata-only access: version, lastWriteTime, live files, pruning. */
  def deltaMeta(spark: SparkSession, path: String,
      version: Option[Long] = None): DeltaSnapshot =
    DeltaLog.forPath(spark, path, version)

  /** True iff a Delta table exists at `path` (a `_delta_log` probe —
    * the canonical existence check every maintenance pipeline needs).
    */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      s"${path.stripSuffix("/")}/_delta_log")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Delete matching rows via deletion vectors (no data rewrite) —
    * beyond reference parity; see [[graft.delta.DeltaWriter.delete]].
    * Returns the number of newly deleted rows.
    */
  def deleteWhere(spark: SparkSession, path: String,
      conditions: Seq[Cond]): Long =
    DeltaWriter.delete(spark, path, conditions)

  /** Update matching rows in place (DV mask + image append, one
    * commit) — beyond reference parity; see
    * [[graft.delta.DeltaWriter.update]]. Returns rows updated.
    */
  def updateWhere(spark: SparkSession, path: String,
      conditions: Seq[Cond],
      set: Map[String, org.apache.spark.sql.Column]): Long =
    DeltaWriter.update(spark, path, conditions, set)

  /** Predicate-scoped overwrite (delta-spark's `replaceWhere`): ONE
    * atomic commit deletes every row matching `conditions` and inserts
    * `data`, which must satisfy the predicate. Partition-provable files
    * are removed whole by metadata; undecidable ones are DV-masked —
    * see [[graft.delta.DeltaWriter.replaceWhere]].
    */
  def replaceWhere(spark: SparkSession, path: String,
      conditions: Seq[Cond],
      data: org.apache.spark.sql.DataFrame): ReplaceWhereStats =
    DeltaWriter.replaceWhere(spark, path, conditions, data)

  /** Roll the table back to an earlier version with one file-set-diff
    * commit (history preserved) — beyond reference parity; see
    * [[graft.delta.DeltaWriter.restore]].
    */
  def restoreTable(spark: SparkSession, path: String,
      toVersion: Long): RestoreStats =
    DeltaWriter.restore(spark, path, toVersion)

  /** RESTORE … TIMESTAMP AS OF: roll back to the greatest version
    * committed at or before the instant (ICT-aware, monotonized — the
    * same resolution as timestamp time travel).
    */
  def restoreTable(spark: SparkSession, path: String,
      toTimestamp: java.time.Instant): RestoreStats =
    DeltaWriter.restore(spark, path,
      graft.delta.DeltaLog.versionAtTimestamp(spark, path, toTimestamp))

  /** FSCK REPAIR TABLE: drop live entries whose data file or DV bin is
    * missing from storage — see [[graft.delta.DeltaWriter.fsckRepair]].
    */
  def fsckRepair(spark: SparkSession, path: String,
      dryRun: Boolean = false): Seq[String] =
    DeltaWriter.fsckRepair(spark, path, dryRun)

  /** REORG TABLE … APPLY (PURGE): rewrite only deletion-vector-bearing
    * files so soft deletes become physical — see
    * [[graft.delta.DeltaWriter.purge]]. Returns files rewritten.
    */
  def reorgPurge(spark: SparkSession, path: String,
      conditions: Seq[Cond] = Nil): Int =
    DeltaWriter.purge(spark, path, conditions = conditions)

  /** Register an existing plain-parquet directory as a Delta table in
    * place (no data movement) — CONVERT TO DELTA.
    */
  def convertParquetToDelta(spark: SparkSession, path: String): Unit =
    DeltaWriter.convertParquetToDelta(spark, path)

  /** Scan with STABLE ROW IDS: the table columns plus `_row_id` and
    * `_row_commit_version`, resolved per the protocol — materialized
    * columns first (what OPTIMIZE persists through rewrites), then
    * `baseRowId + physical row index` / `defaultRowCommitVersion`.
    */
  def scanDeltaWithRowIds(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    DeltaScan.scanWithStableIds(DeltaLog.forPath(spark, path, version))

  /** Enable row tracking on an existing, possibly populated table —
    * one backfill commit assigning disjoint `baseRowId`s to every live
    * file under OCC. Returns the committed version.
    */
  def enableRowTracking(spark: SparkSession, path: String): Long =
    DeltaWriter.enableRowTracking(spark, path)

  /** Enable column mapping (`delta.columnMapping.mode=name`) with one
    * metadata-only commit — physical names = current logical names, so
    * existing files resolve unchanged. Gateway to rename/drop DDL.
    */
  def enableColumnMapping(spark: SparkSession, path: String): Long =
    DeltaWriter.enableColumnMapping(spark, path)

  /** RENAME COLUMN: metadata-only (the field keeps its physical name
    * and id — no data rewrite). Auto-enables column mapping on
    * unmapped tables in the same commit. Returns the committed version.
    */
  def renameColumn(spark: SparkSession, path: String,
      oldName: String, newName: String): Long =
    DeltaWriter.renameColumn(spark, path, oldName, newName)

  /** DROP COLUMN: metadata-only logical drop (physical data stays in
    * the files, readers skip it). Auto-enables column mapping like
    * [[renameColumn]]. Returns the committed version.
    */
  /** ADD COLUMN, metadata-only (existing files null-fill; mapped tables
    * mint a fresh identity) — see [[graft.delta.DeltaWriter.addColumn]].
    */
  def addColumn(spark: SparkSession, path: String, colName: String,
      dataType: org.apache.spark.sql.types.DataType,
      comment: Option[String] = None): Long =
    DeltaWriter.addColumn(spark, path, colName, dataType, comment)

  /** ALTER COLUMN … TYPE (lossless type widening), metadata-only;
    * existing files keep their narrow physical type and readers
    * up-convert per file — see
    * [[graft.delta.DeltaWriter.widenColumnType]].
    */
  def widenColumnType(spark: SparkSession, path: String, colName: String,
      to: org.apache.spark.sql.types.DataType): Long =
    DeltaWriter.widenColumnType(spark, path, colName, to)

  /** ALTER TABLE SET TBLPROPERTIES, metadata-only; guarded keys route
    * to their dedicated APIs — see
    * [[graft.delta.DeltaWriter.setTableProperties]].
    */
  def setTableProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Long =
    DeltaWriter.setTableProperties(spark, path, props)

  /** ALTER TABLE UNSET TBLPROPERTIES, metadata-only, idempotent — see
    * [[graft.delta.DeltaWriter.unsetTableProperties]].
    */
  def unsetTableProperties(spark: SparkSession, path: String,
      keys: Seq[String]): Long =
    DeltaWriter.unsetTableProperties(spark, path, keys)

  def dropColumn(spark: SparkSession, path: String, colName: String): Long =
    DeltaWriter.dropColumn(spark, path, colName)

  /** ALTER TABLE … CLUSTER BY (liquid clustering): declare or replace
    * the clustering columns; `Nil` = CLUSTER BY NONE. The next
    * parameterless OPTIMIZE reclusters on the stored columns — see
    * [[graft.delta.DeltaWriter.alterClusterBy]].
    */
  def alterClusterBy(spark: SparkSession, path: String,
      cols: Seq[String]): Long =
    DeltaWriter.alterClusterBy(spark, path, cols)

  /** The table's clustering columns (logical names; empty when not
    * clustered) — parsed from the `delta.clustering` domain.
    */
  def clusteringColumns(spark: SparkSession, path: String): Seq[String] =
    DeltaWriter.clusteringColumns(DeltaLog.forPath(spark, path))

  /** ALTER TABLE ALTER COLUMN … SET DEFAULT, metadata-only; future
    * omitting inserts materialize the value — see
    * [[graft.delta.DeltaWriter.setColumnDefault]].
    */
  def setColumnDefault(spark: SparkSession, path: String,
      colName: String, sqlExpr: String): Long =
    DeltaWriter.setColumnDefault(spark, path, colName, sqlExpr)

  /** ALTER TABLE ALTER COLUMN … DROP DEFAULT, metadata-only,
    * idempotent — see [[graft.delta.DeltaWriter.dropColumnDefault]].
    */
  def dropColumnDefault(spark: SparkSession, path: String,
      colName: String): Long =
    DeltaWriter.dropColumnDefault(spark, path, colName)

  /** ALTER TABLE ADD CONSTRAINT: register CHECK constraint `name`
    * after one distributed validation pass over the existing rows —
    * see [[graft.delta.DeltaWriter.addCheckConstraint]].
    */
  def addCheckConstraint(spark: SparkSession, path: String,
      name: String, sqlExpr: String): Long =
    DeltaWriter.addCheckConstraint(spark, path, name, sqlExpr)

  /** ALTER TABLE DROP CONSTRAINT, metadata-only — see
    * [[graft.delta.DeltaWriter.dropCheckConstraint]].
    */
  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String): Long =
    DeltaWriter.dropCheckConstraint(spark, path, name)

  /** DESCRIBE DETAIL: the one-row table summary (delta-spark's shape) —
    * format, id, location, createdAt, partitionColumns, numFiles,
    * sizeInBytes, properties, protocol versions and feature lists.
    * Metadata-only: everything comes from the already-replayed snapshot.
    */
  def detail(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val snap = graft.delta.DeltaLog.forPath(spark, path, version)
    val md = snap.metadata
    val p = snap.protocol
    Seq((
      "delta",
      md.flatMap(_.id).getOrElse(""),
      path,
      md.flatMap(_.createdTime).map(new java.sql.Timestamp(_)),
      md.map(_.partitionColumns).getOrElse(Nil),
      DeltaWriter.clusteringColumns(snap),
      snap.liveFiles.size.toLong,
      snap.liveFiles.map(_.size).sum,
      md.map(_.configuration).getOrElse(Map.empty[String, String]),
      p.map(_.minReaderVersion).getOrElse(1),
      p.map(_.minWriterVersion).getOrElse(1),
      p.flatMap(_.readerFeatures).getOrElse(Nil),
      p.flatMap(_.writerFeatures).getOrElse(Nil)))
      .toDF("format", "id", "location", "createdAt", "partitionColumns",
        "clusteringColumns", "numFiles", "sizeInBytes", "properties",
        "minReaderVersion", "minWriterVersion", "tableFeatures_reader",
        "tableFeatures_writer")
  }

  /** DESCRIBE HISTORY: one row per surviving commit, newest first —
    * version, commit timestamp, operation (WRITE/APPEND/DELETE/MERGE/
    * UPDATE/RESTORE/OPTIMIZE/…), file-action counts, and whether the
    * commit changed table metadata. Driver-side walk of the small
    * commit JSONs; versions aged out below a checkpoint are absent
    * (their JSON no longer exists — same visibility rule as timestamp
    * time travel).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // timestamps come from the SAME ICT-aware monotonized timeline that
    // timestamp time travel and the CDF since-resolution use — a
    // history row's timestamp fed back into time travel must land on
    // that row's version, which raw commitInfo.timestamp (wall clock,
    // skewable by external writers) does not guarantee on ICT tables
    val timeline = DeltaLog.commitTimeline(spark, path).toMap
    val versions = timeline.keys.toSeq.sorted
    val rows = versions.map { v =>
      val lines = DeltaLog.readCommitJson(spark, path, v).getOrElse(Nil)
      def n(field: String) =
        lines.count(l => l.has(field) && !l.get(field).isNull).toLong
      val ci = lines.collectFirst {
        case l if l.has("commitInfo") && !l.get("commitInfo").isNull =>
          l.get("commitInfo")
      }
      val ts = timeline.get(v).map(t => new java.sql.Timestamp(t))
      val op = ci.flatMap(c => Option(c.get("operation")))
        .filterNot(_.isNull).map(_.asText)
      val metrics: Map[String, String] = {
        import scala.jdk.CollectionConverters._
        ci.flatMap(c => Option(c.get("operationMetrics")))
          .filterNot(_.isNull)
          .map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty)
      }
      (v, ts.orNull, op.orNull, n("add"), n("remove"), n("metaData") > 0,
        metrics)
    }
    rows.toDF("version", "timestamp", "operation", "num_added_files",
      "num_removed_files", "metadata_changed", "operation_metrics")
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
  }

  def isProtocolSupported(snap: DeltaSnapshot): Boolean =
    try { snap.checkProtocolSupported(); true }
    catch { case _: DeltaProtocolError => false }

  /** Commit-window walk shared by the change-feed paths: per commit in
    * `(sinceVersion, head]`, adds with `dataChange=true` whose path was
    * not live before the window and not already collected (first add
    * wins over later rewrites). Raises if a window commit was aged out.
    */
  private def windowAdds(spark: SparkSession, path: String,
      sinceVersion: Long, before: DeltaSnapshot,
      head: DeltaSnapshot): Seq[AddAction] = {
    val beforeLive = before.liveFiles.map(_.path).toSet
    val added = scala.collection.mutable.LinkedHashMap.empty[String, AddAction]
    (sinceVersion + 1 to head.version).foreach { v =>
      val lines = DeltaLog.readCommitJson(spark, path, v).getOrElse(
        throw new java.io.FileNotFoundException(
          s"Commit $v of $path is missing; cannot compute changes since " +
            s"$sinceVersion"))
      lines.foreach { n =>
        Option(n.get("add")).filterNot(_.isNull)
          .map(ActionCodec.parseAdd)
          .filter(a => a.dataChange && !beforeLive.contains(a.path) &&
            !added.contains(a.path))
          .foreach(a => added(a.path) = a)
      }
    }
    added.values.toSeq
  }

  /** Insert-CDF: the rows ADDED strictly after `sinceVersion`, AS
    * INSERTED — the incremental-ETL extension of the reference's
    * `update_incremental` (delta_meta_retrieval.py:183-200), which
    * refreshes metadata but cannot say what changed.
    *
    * Determined by walking the commit window (not by diffing live sets,
    * whose replayed `dataChange` flags are unreliable across
    * checkpoints): per commit, adds with `dataChange=true` whose path
    * was not live before the window (re-adds = DV deletes) and not
    * already collected (first add wins over later rewrites). Files the
    * window later compacted away are still scanned from their original
    * (pre-vacuum) location, so no window rows are lost. Deletion
    * vectors are NOT subtracted here — retractions are
    * [[scanDeltaDeletedRows]]'s half, and the two compose to the net
    * state delta. Rows RESTORED by a shrinking deletion vector (an
    * external writer un-deleting, e.g. RESTORE) count as inserts here:
    * they became visible in the window. Raises if window commits were
    * aged out.
    */
  def scanDeltaChanges(spark: SparkSession, path: String,
      sinceVersion: Long): DataFrame = {
    val head = DeltaLog.forPath(spark, path)
    head.checkProtocolSupported() // same gate as every other read path
    val before = DeltaLog.forPath(spark, path, Some(sinceVersion))
    val added = windowAdds(spark, path, sinceVersion, before, head)
    // restored rows: still-live files whose DV shrank across the window
    val base = path.stripSuffix("/")
    val beforeDesc = before.liveFiles
      .flatMap(a => a.deletionVector.map(a.path -> _)).toMap
    // restore requires a prior DV to shrink — files without one can't
    // contribute, so skip them before any bitmap read
    val restores: Seq[(AddAction, Seq[Long])] = head.liveFiles
      .filter(a => beforeDesc.contains(a.path))
      .flatMap { a =>
        val rs = DvCdf.diffIndices(spark, base,
          beforeDesc.get(a.path), a.deletionVector)._2
        if (rs.isEmpty) None else Some(a -> rs)
      }
    val inserts =
      if (added.isEmpty) None
      else Some(DeltaScan.scanWithRowIndex(head, added)
        .drop("__graft_file", "__graft_row_index"))
    val restored =
      if (restores.isEmpty) None else Some(DvCdf.rowsAt(head, restores))
    (inserts, restored) match {
      case (Some(i), Some(r)) => i.unionByName(r)
      case (i, r) => i.orElse(r).getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], head.schema))
    }
  }

  /** Delete-CDF: the rows logically DELETED via deletion vectors
    * strictly after `sinceVersion` — the retraction half of the change
    * feed ([[scanDeltaChanges]], which emits window inserts AS INSERTED,
    * is the other half; applying inserts then retractions nets to the
    * state delta). Per still-live file, the row indices in the current
    * DV but not in the `sinceVersion` DV are re-read and returned.
    * Bitmap diffs are computed driver-side (compact bytes; files whose
    * descriptor is unchanged are skipped without any read); row
    * extraction is one distributed scan filtered by the inverted
    * `DvMask` of the wanted (file, row index) sets. Files dropped entirely by overwrites are NOT
    * included (their rows may be gone from disk); DV deletes — the
    * engine's own delete path — are fully covered.
    */
  def scanDeltaDeletedRows(spark: SparkSession, path: String,
      sinceVersion: Long): DataFrame = {
    val before = DeltaLog.forPath(spark, path, Some(sinceVersion))
    val after = DeltaLog.forPath(spark, path)
    after.checkProtocolSupported() // same gate as every other read path
    val base = path.stripSuffix("/")
    val beforeDesc: Map[String, DeletionVectorDescriptor] = before.liveFiles
      .flatMap(a => a.deletionVector.map(a.path -> _)).toMap

    // new deletions require a current DV — skip DV-free files (incl.
    // full restores) before any bitmap read
    val diffs: Seq[(AddAction, Seq[Long])] = after.liveFiles
      .filter(_.deletionVector.nonEmpty)
      .flatMap { a =>
        val dels = DvCdf.diffIndices(spark, base,
          beforeDesc.get(a.path), a.deletionVector)._1
        if (dels.isEmpty) None else Some(a -> dels)
      }
    if (diffs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], after.schema)
    else DvCdf.rowsAt(after, diffs)
  }

  /** Change feed starting AT the given instant — delta-spark's
    * `startingTimestamp` semantics: resolves to the FIRST version whose
    * (ICT-aware, monotonized) commit timestamp is at or after `since`
    * and streams changes from that commit INCLUSIVE, so a commit
    * stamped exactly at the boundary instant is part of the feed. If
    * every commit predates `since`, the feed is empty (delta-spark
    * raises there unless relaxed; an empty batch is the gentler
    * equivalent for a batch read).
    */
  def scanDeltaCdf(spark: SparkSession, path: String,
      since: java.time.Instant): DataFrame =
    scanDeltaCdf(spark, path, since, Nil)

  def scanDeltaCdf(spark: SparkSession, path: String,
      since: java.time.Instant, conditions: Seq[Cond]): DataFrame = {
    val from = graft.delta.DeltaLog.firstVersionAtOrAfter(spark, path, since)
      .getOrElse(DeltaLog.forPath(spark, path).version + 1)
    scanDeltaCdf(spark, path, from - 1, conditions)
  }

  /** Timestamp-windowed change feed — delta-spark's `startingTimestamp`
    * + `endingTimestamp`: starts at the first commit stamped at or
    * after `since` (inclusive boundary) and ends at the greatest commit
    * stamped at or before `until` (inclusive; ICT-aware, monotonized).
    * Empty when no commit falls in the window.
    */
  def scanDeltaCdf(spark: SparkSession, path: String,
      since: java.time.Instant, until: java.time.Instant,
      conditions: Seq[Cond]): DataFrame = {
    require(!until.isBefore(since),
      s"endingTimestamp $until precedes startingTimestamp $since")
    // ONE timeline resolves both bounds — on ICT tables commitTimeline
    // reads every commit JSON, so resolving the ends separately would
    // double that walk
    val timeline = graft.delta.DeltaLog.commitTimeline(spark, path)
    val fromOpt = timeline.find(_._2 >= since.toEpochMilli).map(_._1)
    val toOpt = {
      val eligible = timeline.filter(_._2 <= until.toEpochMilli)
      if (eligible.isEmpty) None else Some(eligible.map(_._1).max)
    }
    def empty() = {
      // Bounded-reader contract (see untilVersion below): batches emit
      // in the bound commit's logical schema — the EMPTY window must
      // honor the same bound, or a rename after `until` leaks
      // post-window column names into a supposedly bounded read. Head
      // only when no commit is at or before `until`.
      val snap = DeltaLog.forPath(spark, path, toOpt)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(snap.schema.fields :+
          org.apache.spark.sql.types.StructField(
            graft.delta.CdfEngine.ChangeTypeCol,
            org.apache.spark.sql.types.StringType)))
    }
    (fromOpt, toOpt) match {
      case (Some(from), Some(to)) if to >= from =>
        scanDeltaCdf(spark, path, from - 1, conditions,
          untilVersion = Some(to))
      case _ => empty() // no commit falls inside the window
    }
  }

  /** Both change-feed halves in one call: rows that became visible
    * strictly after `sinceVersion` tagged `_change_type='insert'`
    * (DV-shrink restores included) unioned with rows retracted in the
    * window tagged `'delete'`. Walks the window COMMIT BY COMMIT over
    * one incrementally-advanced snapshot ([[graft.delta.CdfEngine]],
    * shared with the streaming twin): commits carrying STORED change
    * data (`cdc` actions → `_change_data/` files) contribute exactly
    * those rows — UPDATE/MERGE pre-images from any CDF-writing engine
    * included, `update_pre/postimage` normalized onto delete/insert —
    * while commits without cdc actions fall back to the derived feed
    * (new `dataChange` files as inserts, DV bitmap growth as deletes,
    * shrinkage as restore-inserts). Applying inserts then deletes nets
    * to the state delta. This is the `graft_delta_cdf` TVF's path.
    *
    * Raises if a window commit was aged out past a checkpoint. Batches
    * union by name with null fill, so a window that evolves the schema
    * yields the union schema.
    */
  def scanDeltaCdf(spark: SparkSession, path: String, sinceVersion: Long,
      /** Optional predicate for a FILTERED feed consumer: change files
        * (stored cdc and derived adds alike — both carry
        * `partitionValues`, adds also stats) whose metadata proves no
        * row can match are dropped before any IO, then the compiled
        * predicate filters the surviving rows. A bounded `sinceVersion`
        * plus a partition predicate therefore reads only the matching
        * partitions' change files, not the whole `_change_data/` tree.
        */
      conditions: Seq[Cond] = Nil,
      /** Inclusive upper bound — delta-spark's `endingVersion`. The
        * feed stops at this commit and batches emit in ITS logical
        * schema (a later rename is invisible to a bounded reader).
        * None = current head.
        */
      untilVersion: Option[Long] = None): DataFrame = {
    val head = DeltaLog.forPath(spark, path, untilVersion)
    untilVersion.foreach { u =>
      require(u > sinceVersion,
        s"untilVersion $u must be greater than sinceVersion $sinceVersion")
      require(head.version == u,
        s"version $u of $path does not exist (head is ${head.version})")
    }
    val snap =
      if (sinceVersion < 0) new DeltaSnapshot(spark, path)
      else DeltaLog.forPath(spark, path, Some(sinceVersion))
    val base = path.stripSuffix("/")
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (sinceVersion + 1 to head.version).foreach { v =>
      val lines = DeltaLog.readCommitJson(spark, path, v).getOrElse(
        throw new java.io.FileNotFoundException(
          s"Commit $v of $path is missing; cannot compute changes since " +
            s"$sinceVersion"))
      val priorByPath = snap.liveFiles.map(a => a.path -> a).toMap
      val spec = CdfEngine.spec(spark, base, priorByPath, lines,
        conditions, if (conditions.isEmpty) None else Some(snap.schema))
      lines.foreach(snap.applyActionLine(_, v))
      // Emit every batch in the HEAD logical schema (see
      // CdfEngine.remapToHead — delta-spark refuses reads across a
      // rename on mapped tables; the head schema is the useful
      // superset of that behavior).
      CdfEngine.materialize(snap, spec).foreach(df0 =>
        batches += CdfEngine.remapToHead(df0, snap.schema, head.schema))
    }
    val feed =
      if (batches.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(head.schema.fields :+
            org.apache.spark.sql.types.StructField(CdfEngine.ChangeTypeCol,
              org.apache.spark.sql.types.StringType)))
      else batches.reduce(_.unionByName(_, allowMissingColumns = true))
    if (conditions.isEmpty) feed
    else feed.where(Cond.compile(conditions, Some(head.schema)))
  }
}
