package graft.delta

import java.io.FileNotFoundException

import scala.collection.mutable
import scala.io.Source

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

class DeltaProtocolError(msg: String) extends RuntimeException(msg)

/** Snapshot of a Delta table at a version: the folded result of log
  * replay. Spec: `MetaState` + `get_meta`
  * (deltalake2db/delta_meta_retrieval.py:96-216,406-455).
  *
  * Replay is driver-side: action counts are O(live files), which even for
  * a 100 TB table with ~1 GB files is ~10^5 — comfortably driver-resident.
  * The checkpoint parquet is read through `spark.read.parquet` (executors
  * do the columnar decode); JSON commits after the checkpoint are small
  * and read directly through the Hadoop FileSystem API, which covers
  * local, HDFS and cloud (abfs/s3a) URIs uniformly.
  */
final class DeltaSnapshot(
    val spark: SparkSession,
    val deltaPath: String) {

  private[delta] var lastMetadata: Option[DeltaMetadata] = None
  private[delta] var protocolOpt: Option[DeltaProtocol] = None
  // insertion-ordered: replay order == file order, like the reference's dict
  private[delta] val addActions = mutable.LinkedHashMap.empty[String, AddAction]
  private[delta] var lastCommitInfo: Option[CommitInfo] = None
  private[delta] val txns = mutable.Map.empty[String, Long]
  // domainMetadata actions (PROTOCOL.md#domain-metadata): per-domain
  // state persisted in the log (row tracking, liquid clustering, …).
  // Replayed for foreign engines AND originated by us — write()/
  // alterClusterBy mint `delta.clustering` domains. A checkpoint WE
  // write must re-state every domain — dropping one would corrupt the
  // owning engine's state. Raw inner-JSON per domain, latest wins
  // (removal tombstones retained verbatim).
  private[delta] val domains = mutable.LinkedHashMap.empty[String, String]
  var version: Long = 0L

  def protocol: Option[DeltaProtocol] = protocolOpt
  def metadata: Option[DeltaMetadata] = lastMetadata
  def liveFiles: Seq[AddAction] = addActions.values.toSeq

  /** Per-application streaming watermarks (txn actions): the idempotence
    * ledger DeltaSink consults for exactly-once appends.
    */
  def txnVersions: Map[String, Long] = txns.toMap

  def schema: StructType =
    DeltaSchema.parse(lastMetadata.map(_.schemaString)
      .getOrElse("""{"type":"struct","fields":[]}"""))

  def partitionColumns: Seq[String] =
    lastMetadata.map(_.partitionColumns).getOrElse(Nil)

  def configuration: Map[String, String] =
    lastMetadata.map(_.configuration).getOrElse(Map.empty)

  def lastWriteTime: Option[java.time.Instant] =
    lastCommitInfo.flatMap(_.timestamp).map(java.time.Instant.ofEpochMilli)

  /** Protocol gate — refuse tables whose reader features we cannot honor.
    * Spec: protocol_check.py:7-44. Unlike the reference (which rejects
    * deletion vectors outright, README.md:39-46), deletionVectors are a
    * SUPPORTED feature here: the scan applies them (DeltaScan's
    * [[DvMask]] filter) and the writer produces them (DeltaWriter.delete).
    * v2Checkpoint is supported too: forPath discovers UUID-named
    * checkpoint files in its listing and resolves sidecar actions.
    */
  def checkProtocolSupported(): Unit = {
    val supported = Set("columnMapping", "timestampNtz", "typeWidening",
      "vacuumProtocolCheck", "deletionVectors", "v2Checkpoint")
    protocolOpt.foreach { p =>
      if (p.minReaderVersion >= 3) {
        val unsupported = p.readerFeatures.getOrElse(Nil).filterNot(supported)
        if (unsupported.nonEmpty)
          throw new DeltaProtocolError(
            s"Delta table features not supported: ${unsupported.mkString(", ")}")
      }
    }
  }

  def applyActionLine(node: JsonNode, v: Long): Unit = {
    Option(node.get("metaData")).filterNot(_.isNull)
      .foreach(n => lastMetadata = Some(ActionCodec.parseMetadata(n)))
    Option(node.get("protocol")).filterNot(_.isNull)
      .foreach(n => protocolOpt = Some(ActionCodec.parseProtocol(n)))
    Option(node.get("add")).filterNot(_.isNull).foreach { n =>
      val a = ActionCodec.parseAdd(n)
      addActions(a.path) = a
    }
    Option(node.get("commitInfo")).filterNot(_.isNull)
      .foreach(n => lastCommitInfo = Some(ActionCodec.parseCommitInfo(n)))
    Option(node.get("txn")).filterNot(_.isNull).foreach { n =>
      val t = ActionCodec.parseTxn(n)
      // highest version wins (replay order usually guarantees it anyway)
      if (txns.get(t.appId).forall(_ <= t.version)) txns(t.appId) = t.version
    }
    Option(node.get("remove")).filterNot(_.isNull).foreach { n =>
      Option(n.get("path")).foreach(p => addActions.remove(p.asText))
    }
    Option(node.get("domainMetadata")).filterNot(_.isNull).foreach { n =>
      Option(n.get("domain")).filterNot(_.isNull)
        .foreach(d => domains(d.asText) = n.toString)
    }
    version = v
  }

  /** Latest domainMetadata state per domain (raw inner-JSON objects,
    * removal tombstones included) — what a checkpoint must re-state.
    */
  def domainMetadataRaw: Seq[String] = domains.values.toSeq

  /** Structural copy. The snapshot cache publishes IMMUTABLE masters and
    * hands every caller its own private copy — `updateIncremental` is
    * public (the streaming source and DeltaSink advance their snapshots
    * in place), so returning the master itself would let one caller's
    * catch-up mutate the add-file set under another caller's running
    * scan. O(live files) map copies: microseconds against the log
    * replay it replaces.
    */
  private[delta] def copySnap(): DeltaSnapshot = {
    val s = new DeltaSnapshot(spark, deltaPath)
    s.lastMetadata = lastMetadata
    s.protocolOpt = protocolOpt
    s.addActions ++= addActions
    s.lastCommitInfo = lastCommitInfo
    s.txns ++= txns
    s.domains ++= domains
    s.version = version
    s
  }

  /** Continue replay from `version+1` until a commit file is missing.
    * Spec: MetaState.update_incremental (delta_meta_retrieval.py:183-200).
    */
  def updateIncremental(upToVersion: Option[Long] = None): Unit = {
    var v = version + 1
    var continue = true
    while (continue && upToVersion.forall(v <= _)) {
      DeltaLog.readCommitJson(spark, deltaPath, v) match {
        case Some(lines) =>
          lines.foreach(applyActionLine(_, v)); v += 1
        case None => continue = false
      }
    }
  }

  /** Surviving add-actions after metadata pruning (partition values +
    * file stats) and limit pushdown. Spec: get_add_actions_filtered
    * (delta_meta_retrieval.py:115-151) — including its edges: limit only
    * engages when there are no conditions, and always yields at least one
    * file (the cumulative-rows check runs post-yield).
    */
  def addActionsFiltered(
      conditions: Seq[Cond] = Nil,
      limit: Option[Long] = None,
      actionFilter: AddAction => Boolean = _ => true): Seq[AddAction] = {
    val sch = schema
    val physToField = DeltaSchema.physicalToField(sch)
    val logToPhys = DeltaSchema.logicalToPhysical(sch)
    // widen with partition conds implied through generated-column
    // expressions (GeneratedPruning) — derived, sound to AND on
    val conditions0 = conditions ++
      GeneratedPruning.derive(conditions, sch, partitionColumns,
        configuration)
    val out = mutable.ArrayBuffer.empty[AddAction]
    var total = 0L
    val it = addActions.values.iterator
    var break = false
    while (it.hasNext && !break) {
      val ac = it.next()
      if (actionFilter(ac) &&
          !(conditions0.nonEmpty &&
            FileSkipping.canSkip(ac, conditions0, physToField, logToPhys))) {
        out += ac
        if (conditions.isEmpty) limit.foreach { lim =>
          // count rows the scan will actually yield (minus DV deletions)
          ac.liveRecords.foreach { nr =>
            total += nr
            if (total >= lim) break = true
          }
        }
      }
    }
    out.toSeq
  }
}

object DeltaLog {

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def logDir(deltaPath: String): String =
    deltaPath.stripSuffix("/") + "/_delta_log"

  private def fmtVersion(v: Long): String = f"$v%020d"

  private def readSmallFile(spark: SparkSession, path: String): Option[Seq[String]] = {
    logReads.incrementAndGet()
    val (filesystem, p) = fs(spark, path)
    if (!filesystem.exists(p)) None
    else {
      val in = filesystem.open(p)
      try Some(Source.fromInputStream(in, "UTF-8").getLines().toVector)
      finally in.close()
    }
  }

  private[graft] def readCommitJson(
      spark: SparkSession, deltaPath: String, v: Long): Option[Seq[JsonNode]] =
    readSmallFile(spark, s"${logDir(deltaPath)}/${fmtVersion(v)}.json")
      .map(_.filter(_.nonEmpty).map(ActionCodec.mapper.readTree))

  /** Version advertised by `_last_checkpoint`, if any — the cheap
    * staleness probe for cached snapshots (a checkpoint newer than the
    * cache means intervening commits may have been aged out, so
    * `updateIncremental` alone can no longer catch up).
    */
  def lastCheckpointVersion(
      spark: SparkSession, deltaPath: String): Option[Long] =
    readSmallFile(spark, s"${logDir(deltaPath)}/_last_checkpoint")
      .flatMap(_.headOption)
      .flatMap { line =>
        val n = ActionCodec.mapper.readTree(line)
        Option(n.get("version")).map(_.asLong)
      }

  /** `commitInfo.inCommitTimestamp` of commit `v`, if recorded
    * (PROTOCOL.md#in-commit-timestamps — tables with
    * `delta.enableInCommitTimestamps` carry a clock-skew-proof
    * monotonic timestamp INSIDE each commit).
    */
  private[delta] def ictOf(
      spark: SparkSession, deltaPath: String, v: Long): Option[Long] =
    if (v < 0) None
    else readCommitJson(spark, deltaPath, v).toSeq.flatten
      .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull))
      .flatMap(c =>
        Option(c.get("inCommitTimestamp")).filterNot(_.isNull))
      .headOption.map(_.asLong)

  /** Greatest version whose commit file landed at or before `ts` —
    * timestamp time travel. A commit carrying an `inCommitTimestamp`
    * is resolved by it (immune to clock skew, restored backups, and
    * object-store mtime rewrites); others fall back to commit-file
    * modification times (the standard Delta approach). Raises if every
    * surviving commit is newer than `ts`.
    */
  def versionAtTimestamp(
      spark: SparkSession, deltaPath: String, ts: java.time.Instant): Long = {
    val mono = commitTimeline(spark, deltaPath)
    val eligible = mono.filter(_._2 <= ts.toEpochMilli).map(_._1)
    require(eligible.nonEmpty,
      s"no version of $deltaPath existed at or before $ts " +
        s"(earliest surviving commit: ${mono.map(_._2).min})")
    eligible.max
  }

  /** Smallest version whose (monotonized) commit timestamp is at or
    * after `ts` — the resolution rule of delta-spark's CDF
    * `startingTimestamp`, which INCLUDES a commit stamped exactly at
    * the boundary instant. None when every surviving commit is older
    * than `ts` (nothing has happened since — an empty feed, where
    * delta-spark would raise unless relaxed by a flag).
    */
  def firstVersionAtOrAfter(spark: SparkSession, deltaPath: String,
      ts: java.time.Instant): Option[Long] =
    commitTimeline(spark, deltaPath)
      .find(_._2 >= ts.toEpochMilli).map(_._1)

  /** Surviving commits as (version, effective-timestamp), timestamps
    * monotonized in version order (clock skew / restored backups can
    * reorder mtimes; a version must never appear older than its
    * predecessor or timestamp resolution would include newer commits).
    * ICT-aware: if the newest commit carries an inCommitTimestamp, all
    * commits resolve by theirs (mtime fallback per commit).
    */
  private[graft] def commitTimeline(
      spark: SparkSession, deltaPath: String): Seq[(Long, Long)] = {
    val (filesystem, dir) = fs(spark, logDir(deltaPath))
    require(filesystem.exists(dir), s"no Delta log under $deltaPath")
    val listed = filesystem.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("\\d{20}\\.json"))
      .map(s => (s.getPath.getName.take(20).toLong, s.getModificationTime))
      .sortBy(_._1)
    require(listed.nonEmpty, s"no commits under $deltaPath")
    // probe the NEWEST commit once: only ICT tables pay the
    // per-commit JSON reads; everyone else keeps the one-listing path
    val lastIct = ictOf(spark, deltaPath, listed.last._1)
    val commits =
      if (lastIct.isEmpty) listed
      else listed.map { case (v, mtime) =>
        val ict = if (v == listed.last._1) lastIct
          else ictOf(spark, deltaPath, v)
        (v, ict.getOrElse(mtime))
      }
    commits.scanLeft((Long.MinValue, Long.MinValue)) {
      case ((_, prevT), (v, t)) => (v, math.max(prevT, t))
    }.drop(1)
  }

  // ---------------------------------------------------------------
  // Session-scoped snapshot cache (round 13): every repeated open of
  // an unchanged table — a probe's per-cond-set scans, the drains'
  // batch seams, DeltaQueries staging, the SQL TVFs — costs one
  // staleness probe instead of a full log replay. The reference gets
  // the same behavior from MetaState reuse
  // (delta_meta_retrieval.py:183-200).
  //
  // Consistency: an entry is anchored on the IDENTITY of the loaded
  // version's on-disk tail — (modTime, length) of the tail commit
  // JSON and of its optional .crc — plus a probe for the next commit.
  // A new commit is caught by the probe (and folded in incrementally,
  // cloned — masters are immutable once published); a rewritten /
  // recreated / restored-from-backup table changes the tail files'
  // identity and forces a full replay; checkpoint-aged log cleanup
  // deletes a contiguous log PREFIX, so a vanished tail commit (full
  // replay, correct either way) also covers the aged-gap case — a
  // checkpoint newer than the cached version cannot exist while the
  // cached version's commit JSON still does.
  // ---------------------------------------------------------------

  /** Full log replays performed — spec/audit probe. */
  private[graft] val fullReplays = new java.util.concurrent.atomic.AtomicLong
  /** Small log-file reads (commit JSONs, _last_checkpoint, .crc) —
    * spec/audit probe.
    */
  private[graft] val logReads = new java.util.concurrent.atomic.AtomicLong

  /** (modTime, len) of the tail commit JSON and its .crc — the cached
    * version's on-disk identity. None = file absent.
    */
  private final case class TailId(commit: Option[(Long, Long)],
      crc: Option[(Long, Long)])

  private final case class CachedSnap(master: DeltaSnapshot, tail: TailId)

  private val MaxCacheEntries = 64
  private val cache =
    new java.util.LinkedHashMap[(SparkSession, String), CachedSnap](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), CachedSnap]) =
        size() > MaxCacheEntries
    }

  private def cacheGet(k: (SparkSession, String)): Option[CachedSnap] =
    cache.synchronized(Option(cache.get(k)))
  private def cachePut(k: (SparkSession, String), v: CachedSnap): Unit =
    cache.synchronized {
      // drop entries pinning stopped sessions (test suites, multi-
      // session servers): without this sweep a stopped session's whole
      // object graph plus an O(live files) snapshot master survives
      // until LRU displacement
      cache.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
      cache.put(k, v); ()
    }

  /** Drop every cached snapshot — spec hook (e.g. before asserting
    * replay behavior) and part of [[graft.ops.OpCaches.deepClean]].
    */
  private[graft] def clearSnapshotCache(): Unit =
    cache.synchronized(cache.clear())

  private def statusOf(filesystem: FileSystem, p: Path): Option[(Long, Long)] =
    try {
      val st = filesystem.getFileStatus(p)
      Some((st.getModificationTime, st.getLen))
    } catch { case _: FileNotFoundException => None }

  private def tailIdOf(spark: SparkSession, deltaPath: String,
      v: Long): TailId = {
    val (filesystem, _) = fs(spark, deltaPath)
    val dir = logDir(deltaPath)
    TailId(
      statusOf(filesystem, new Path(s"$dir/${fmtVersion(v)}.json")),
      statusOf(filesystem, new Path(s"$dir/${fmtVersion(v)}.crc")))
  }

  /** Snapshot of the LATEST version, through the cache: a hit pays one
    * tail-identity status check plus one next-commit probe (new commits
    * fold in incrementally on a private clone). Explicit `version`
    * requests (time travel) bypass the cache — a snapshot is a forward
    * fold and cannot rewind. Returned snapshots are always private
    * copies: callers may `updateIncremental` them freely.
    */
  def forPath(
      spark: SparkSession,
      deltaPath: String,
      version: Option[Long] = None): DeltaSnapshot = {
    if (version.isDefined) return replay(spark, deltaPath, version)
    val key = (spark, deltaPath.stripSuffix("/"))
    def loadAndCache(): DeltaSnapshot = {
      val snap = replay(spark, deltaPath, None)
      val tail = tailIdOf(spark, deltaPath, snap.version)
      // only anchor-able snapshots are cacheable: a table whose tail
      // commit JSON is already aged out has no cheap identity check
      if (tail.commit.isDefined) {
        cachePut(key, CachedSnap(snap.copySnap(), tail))
      }
      snap
    }
    cacheGet(key) match {
      case None => loadAndCache()
      case Some(CachedSnap(master, tail)) =>
        if (tailIdOf(spark, deltaPath, master.version) != tail)
          loadAndCache() // rewritten / recreated / aged — start over
        else readCommitJson(spark, deltaPath, master.version + 1) match {
          case None => master.copySnap() // current
          case Some(lines) =>
            val adv = master.copySnap()
            lines.foreach(adv.applyActionLine(_, master.version + 1))
            adv.updateIncremental()
            verifyCrc(spark, deltaPath, adv)
            val newTail = tailIdOf(spark, deltaPath, adv.version)
            if (newTail.commit.isDefined)
              cachePut(key, CachedSnap(adv.copySnap(), newTail))
            adv
        }
    }
  }

  /** Replay the log to `version` (or latest). Checkpoint-aware:
    * O(commits-since-checkpoint) JSON reads, not O(all versions).
    * Spec: get_meta (delta_meta_retrieval.py:406-455); instead of the
    * reference's "nearest lower multiple of 10" guess for time travel we
    * list the log directory once and pick the greatest checkpoint ≤
    * version — exact at the cost of one listing.
    */
  private def replay(
      spark: SparkSession,
      deltaPath: String,
      version: Option[Long]): DeltaSnapshot = {
    fullReplays.incrementAndGet()
    val snap = new DeltaSnapshot(spark, deltaPath)
    val lastCp: Option[Long] = lastCheckpointVersion(spark, deltaPath)

    val cpVersion: Option[Long] = lastCp match {
      case Some(cv) if version.forall(cv <= _) => Some(cv)
      case Some(_) =>
        // time travel below the latest checkpoint: find best earlier one
        val (filesystem, dir) = fs(spark, logDir(deltaPath))
        if (!filesystem.exists(dir)) None
        else {
          val cpName = "^(\\d{20})\\.checkpoint(\\..*)?\\.parquet$".r
          filesystem.listStatus(dir).toSeq
            .map(_.getPath.getName)
            .collect { case cpName(v, _) => v.toLong }
            .filter(v => version.forall(v <= _))
            .maxOption
        }
      case None => None
    }

    val startVersion: Long = cpVersion match {
      case Some(cv) =>
        try {
          // single-file classic (<v>.checkpoint.parquet), multi-part
          // classic (<v>.checkpoint.<i>.<n>.parquet) or v2 UUID-named
          // (<v>.checkpoint.<uuid>.{parquet,json}) checkpoints — the
          // latter may delegate file actions to sidecar parquets
          val single = s"${logDir(deltaPath)}/${fmtVersion(cv)}.checkpoint.parquet"
          val (filesystem, p) = fs(spark, single)
          val (cpParquet: Seq[String], cpJson: Seq[String]) =
            if (filesystem.exists(p)) (Seq(single), Nil)
            else {
              val dir = new Path(logDir(deltaPath))
              val prefix = s"${fmtVersion(cv)}.checkpoint."
              val parts = filesystem.listStatus(dir).toSeq
                .map(_.getPath)
                .filter(_.getName.startsWith(prefix))
                .sortBy(_.getName)
              val pq = parts.filter(_.getName.endsWith(".parquet")).map(_.toString)
              val js = parts.filter(_.getName.endsWith(".json")).map(_.toString)
              if (pq.isEmpty && js.isEmpty) throw new FileNotFoundException(single)
              (pq, js)
            }
          // Executors decode parquet checkpoints; toJSON drops null
          // columns so each row looks exactly like a commit-line action
          // object. JSON-format v2 checkpoints are read line-wise.
          // STREAMED to the driver (`toLocalIterator`: one partition
          // resident at a time), never collect()ed whole — a 100 TB
          // table's checkpoint holds millions of add actions, and the
          // only driver-resident state should be the folded NET live
          // set inside the snapshot, not the raw action rows.
          import scala.jdk.CollectionConverters._
          val parquetRows: Iterator[String] =
            if (cpParquet.nonEmpty)
              spark.read.parquet(cpParquet: _*).toJSON.toLocalIterator().asScala
            else Iterator.empty
          val jsonRows: Iterator[String] = cpJson.iterator
            .flatMap(f => readSmallFile(spark, f).getOrElse(Nil))
            .filter(_.nonEmpty)
          // v2: sidecar actions point at parquets under _sidecars/
          // carrying the file actions (PROTOCOL.md#v2-spec)
          val sidecarPaths = mutable.ArrayBuffer.empty[String]
          (parquetRows ++ jsonRows).foreach { r =>
            val n = ActionCodec.mapper.readTree(r)
            snap.applyActionLine(n, cv)
            Option(n.get("sidecar")).filterNot(_.isNull)
              .flatMap(s => Option(s.get("path")).filterNot(_.isNull).map(_.asText))
              .foreach { sp =>
                sidecarPaths += (if (sp.contains("://") || sp.startsWith("/")) sp
                  else s"${logDir(deltaPath)}/_sidecars/$sp")
              }
          }
          if (sidecarPaths.nonEmpty)
            spark.read.parquet(sidecarPaths.toSeq: _*).toJSON
              .toLocalIterator().asScala
              .foreach(r => snap.applyActionLine(ActionCodec.mapper.readTree(r), cv))
          cv + 1
        } catch { case _: FileNotFoundException => 0L }
      case None => 0L
    }

    var v = startVersion
    var continue = true
    while (continue && version.forall(v <= _)) {
      readCommitJson(spark, deltaPath, v) match {
        case Some(lines) => lines.foreach(snap.applyActionLine(_, v)); v += 1
        case None => continue = false
      }
    }
    if (v > 0) snap.version = v - 1
    // A checkpoint was advertised but neither it nor commit 0 could be
    // read (e.g. aged-out JSON commits): raise rather than silently
    // return an empty table.
    if (snap.lastMetadata.isEmpty && lastCp.isDefined)
      throw new FileNotFoundException(
        s"Cannot reconstruct $deltaPath at version ${version.getOrElse("latest")}: " +
          "checkpoint unreadable and commit JSONs missing")
    verifyCrc(spark, deltaPath, snap)
    snap
  }

  /** VERSION CHECKSUM cross-check: when the loaded version carries a
    * `<version>.crc` (delta-spark emits one per commit; so does our
    * writer), the replayed live set must agree with its recorded
    * numFiles / tableSizeBytes — a cheap end-to-end guard that catches
    * log corruption and replay bugs at open time instead of as silent
    * wrong results. An absent or unparseable crc is legal (the file is
    * best-effort by design); a PARSEABLE one that disagrees is not.
    */
  private def verifyCrc(spark: SparkSession, deltaPath: String,
      snap: DeltaSnapshot): Unit = {
    val txt = readSmallFile(spark,
      s"${logDir(deltaPath)}/${fmtVersion(snap.version)}.crc")
      .map(_.mkString).filter(_.nonEmpty)
    txt.foreach { t =>
      val n = try ActionCodec.mapper.readTree(t)
      catch { case scala.util.control.NonFatal(_) => return }
      val live = snap.liveFiles
      Option(n.get("numFiles")).filterNot(_.isNull).map(_.asLong)
        .filter(_ != live.size.toLong).foreach { exp =>
          throw new IllegalStateException(
            s"version checksum mismatch for $deltaPath v${snap.version}: " +
              s".crc records numFiles=$exp, log replay found ${live.size} — " +
              "the log or the checksum file is corrupted")
        }
      Option(n.get("tableSizeBytes")).filterNot(_.isNull).map(_.asLong)
        .filter(_ != live.map(_.size).sum).foreach { exp =>
          throw new IllegalStateException(
            s"version checksum mismatch for $deltaPath v${snap.version}: " +
              s".crc records tableSizeBytes=$exp, log replay found " +
              s"${live.map(_.size).sum} — the log or the checksum file " +
              "is corrupted")
        }
    }
  }
}
