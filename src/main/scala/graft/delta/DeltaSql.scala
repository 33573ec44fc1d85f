package graft.delta

import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Emit a Delta scan as a composable Spark-SQL string — the analogue of
  * the reference's `get_sql_for_delta` (duckdb.py:584-623) with its
  * `cte_wrap_name` composition contract (duckdb.py:549-557,617-622):
  *
  *  - `cteWrapName = None` → a complete, runnable statement:
  *    `WITH <prefix>_file AS (per-file UNION ALL) SELECT … FROM …`
  *  - `cteWrapName = Some(w)` → a `WITH …, w AS (…)` PREFIX the caller
  *    appends their own `SELECT … FROM w` to — embedding the scan in a
  *    larger hand-written query.
  *
  * Structure mirrors the reference: one SELECT per live file with
  * column-mapping renames, casts to the logical type, partition-value
  * literals (all four legacy key shapes) and NULL fills for columns a
  * file lacks (probed from its footer, driver-side O(files) — the same
  * cost the reference pays). Metadata pruning runs first, so conditions
  * shrink the emitted file list.
  *
  * Scale note: SQL text grows with live-file count (as does the
  * reference's). The DataFrame path ([[DeltaScan]]), one scan node at
  * any file or partition count, is the 100 TB surface; this exists for
  * users porting reference code that embeds generated SQL.
  */
object DeltaSql {

  def deltaSql(
      spark: SparkSession,
      path: String,
      settings: ScanSettings = ScanSettings(),
      cteWrapName: Option[String] = None,
      sqlPrefix: String = "delta"): String = {
    val v = settings.version.orElse(settings.timestampAsOf.map(t =>
      DeltaLog.versionAtTimestamp(spark, path, t)))
    val snap = DeltaLog.forPath(spark, path, v)
    snap.checkProtocolSupported()
    val schema = snap.schema
    val partCols = snap.partitionColumns.toSet
    val logToPhys = DeltaSchema.logicalToPhysical(schema)
    val fields = schema.fields.toSeq
    val base = snap.deltaPath.stripSuffix("/")

    val actions = snap.addActionsFiltered(
      settings.conditions, settings.limit, settings.actionFilter)
    val hconf = spark.sessionState.newHadoopConf()

    def quoteId(n: String) = "`" + n.replace("`", "``") + "`"
    def quoteStr(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    // deletion vectors: emitted per-file as a row-index NOT IN list so
    // the SQL string stays self-contained. Bounded — a huge DV would
    // produce megabytes of SQL; past the cap we refuse loudly rather
    // than silently resurrect deleted rows (use scanDelta instead).
    val totalDeleted = actions.flatMap(_.deletionVector).map(_.cardinality).sum
    if (totalDeleted > 100000L)
      throw new DeltaProtocolError(
        s"deltaSql cannot inline $totalDeleted deleted row indices; " +
          "use scanDelta/createViewForDelta for heavily-deleted tables")

    // Per-action emission pieces: the projection (partition literals +
    // footer-probed NULL fills) and the per-file DV row-index filter.
    case class Piece(file: String, colsSql: String, dvFilter: String)
    val pieces: Seq[Piece] = actions.map { a =>
      val file = DeltaScan.resolvePath(base, a.path)
      // footer probe: which top-level physical columns exist in THIS file
      val present: Set[String] = {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(file), hconf))
        try r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSet
        finally r.close()
      }
      val cols = fields.map { f =>
        val phys = logToPhys.getOrElse(f.name, f.name)
        val alias = quoteId(f.name)
        if (partCols.contains(f.name)) {
          val v = a.partitionValueFor(phys, f.name).flatten
          (v, f.dataType) match {
            case (Some(s), TimestampType) =>
              // UTC wall-clock string: pin the zone or a non-UTC session
              // would shift the instant
              s"TIMESTAMP${quoteStr(s + " UTC")} AS $alias"
            case (Some(s), _) =>
              s"CAST(${quoteStr(s)} AS ${f.dataType.sql}) AS $alias"
            case (None, _) => s"CAST(NULL AS ${f.dataType.sql}) AS $alias"
          }
        } else if (present.contains(phys))
          s"CAST(${quoteId(phys)} AS ${f.dataType.sql}) AS $alias"
        else s"CAST(NULL AS ${f.dataType.sql}) AS $alias"
      }
      val dvFilter = a.deletionVector.map { dv =>
        val idx = DeletionVectors.deserializeData(
          DeletionVectors.read(spark, base, dv))
        // an empty bitmap (external writers emit them) must not render
        // the unparseable `NOT IN ()`
        if (idx.isEmpty) ""
        else s"\nWHERE _metadata.row_index NOT IN (${idx.mkString(", ")})"
      }.getOrElse("")
      Piece(file, cols.mkString(", "), dvFilter)
    }

    // Files that can share ONE scan branch — identical projection
    // (same partition literals AND same footer column set) and no DV
    // filter (`_metadata.row_index` is per-file) — are grouped into a
    // single SELECT over a Hadoop brace glob `{f1,f2,…}`, expanded at
    // planning time. The emitted PLAN is then O(projection groups)
    // (≈ partition tuples), not O(files): 10x the files per partition
    // keeps a constant branch count (the string still lists each file,
    // as the reference's emission does). Paths containing glob
    // metacharacters keep their own per-file branch — a brace/comma in
    // a partition value must not be re-interpreted as alternation.
    def globSafe(p: String): Boolean = !p.exists("{}[]*?,\\".contains(_))
    def split(p: String): (String, String) = {
      val i = p.lastIndexOf('/')
      (p.take(i), p.drop(i + 1))
    }
    val (groupable, solo) = pieces.partition(p =>
      p.dvFilter.isEmpty && globSafe(p.file) && p.file.lastIndexOf('/') > 0)
    val fileSelects: Seq[String] =
      groupable.groupBy(p => (p.colsSql, split(p.file)._1)).toSeq
        .sortBy(_._2.head.file).map { case ((colsSql, parent), ps) =>
          val src =
            if (ps.size == 1) ps.head.file
            else
              s"$parent/{${ps.map(x => split(x.file)._2).sorted.mkString(",")}}"
          s"SELECT $colsSql FROM parquet.${quoteId(src)}"
        } ++ solo.map(p =>
        s"SELECT ${p.colsSql} FROM parquet.${quoteId(p.file)}${p.dvFilter}")

    val union =
      if (fileSelects.nonEmpty) fileSelects.mkString("\nUNION ALL\n")
      else {
        // zero live files: typed empty relation (duckdb.py:523-528)
        val cols = fields.map(f =>
          s"CAST(NULL AS ${f.dataType.sql}) AS ${quoteId(f.name)}")
        s"SELECT ${cols.mkString(", ")} WHERE 1=0"
      }

    val fileCte = s"${sqlPrefix}_file"
    val projected = settings.fields match {
      case Some(fs) => fs.map(quoteId).mkString(", ")
      case None =>
        val kept = fields.filterNot(f => settings.excludeFields.contains(f.name))
        if (kept.size == fields.size && settings.excludeFields.isEmpty) "*"
        else kept.map(f => quoteId(f.name)).mkString(", ")
    }
    val where =
      if (settings.conditions.isEmpty) ""
      else "\nWHERE " + settings.conditions.map(condSql(_, schema)).mkString(" AND ")
    val distinct = if (settings.distinct) "DISTINCT " else ""
    val limit = settings.limit.filter(_ < Int.MaxValue).fold("")(n => s"\nLIMIT $n")
    val select = s"SELECT $distinct$projected FROM $fileCte$where$limit"

    cteWrapName match {
      case Some(w) =>
        s"WITH $fileCte AS (\n$union\n),\n${quoteId(w)} AS (\n$select\n)"
      case None =>
        s"WITH $fileCte AS (\n$union\n)\n$select"
    }
  }

  /** One condition as Spark SQL over the logical columns — the textual
    * twin of [[Cond.compile]] (null ⇒ IS [NOT] NULL, in ⇒ IN list).
    */
  private[delta] def condSql(c: Cond, schema: StructType): String = {
    val col = "`" + c.column.replace("`", "``") + "`"
    def lit(v: Any): String = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
      case d: java.time.LocalDate => s"DATE '$d'"
      case i: java.time.Instant =>
        val ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
          .format(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
        // zone-pinned: an unsuffixed literal parses in the SESSION zone
        // and would shift the instant under any non-UTC session
        s"TIMESTAMP '$ts UTC'"
      case l: java.time.LocalDateTime =>
        s"TIMESTAMP_NTZ '${DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").format(l)}'"
      case b: Boolean => b.toString
      case n => n.toString
    }
    (c.op, c.value) match {
      case ("=", null) => s"$col IS NULL"
      case ("<>", null) => s"$col IS NOT NULL"
      case ("in", vs: Seq[_]) => s"$col IN (${vs.map(lit).mkString(", ")})"
      case ("not in", vs: Seq[_]) => s"$col NOT IN (${vs.map(lit).mkString(", ")})"
      case (op, v) => s"$col $op ${lit(v)}"
    }
  }
}
