package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.delta.{DeltaLog, DeltaScan, DeltaSnapshot, ScanSettings}

/** A wrong result: the operation counts as failed. */
final class WrongResult(msg: String) extends RuntimeException(msg)

/** One closed-loop operation. `prepare` runs untimed just before it;
  * `run` returns the rows the operation produced and throws on a wrong
  * result.
  */
final case class Op(kind: String, run: () => Long,
    prepare: () => Unit = () => ())

/** What one benchmark workload supplies to the closed loop. */
trait Workload {
  /** How many times [[setUp]] runs; `setup_s` is their median. */
  def setUps: Int
  /** Builds the workload's tables and state from scratch. The tables of
    * the last round serve the loop.
    */
  def setUp(round: Int): Unit
  /** Computes the expected outputs the operations check against. Not
    * timed: it reads the source parquet with plain Spark, not graft.
    */
  def prepare(): Unit
  /** Operations of closed-loop cycle `n`: the same composition in every
    * cycle, with seeded parameters.
    */
  def cycle(n: Int): Seq[Op]
  /** The latencies `p50_ms` is the median of: by default one per
    * operation.
    */
  def latenciesMs(done: Seq[OpResult]): Seq[Double] = done.map(_.ms)
  /** Workload-specific figures for the human-readable report, as
    * (name, value, unit).
    */
  def report(done: Seq[OpResult]): Seq[(String, Double, String)] = Nil
  /** Removes anything the workload made outside the run's work dir. */
  def cleanUp(): Unit = ()
}

final case class OpResult(id: Int, kind: String, startNs: Long,
    endNs: Long, rowsOut: Long, error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The session, tracer and paths one run shares, and the benchmark's
  * spans around graft's public entry points.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer, val data: String,
    val work: String, val seed: Long) {

  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongResult(what)

  /** Latest-version open through the snapshot cache. */
  def openLatest(path: String, name: String = "open"): DeltaSnapshot = {
    val replays0 = DeltaLog.fullReplays.get
    val snap = tr.span("log", name)(DeltaLog.forPath(spark, path))
    if (tr.on) {
      tr.note("log.latest_opens", 1)
      if (DeltaLog.fullReplays.get == replays0) tr.note("log.latest_hits", 1)
    }
    snap
  }

  /** Time-travel open: always a replay, never the cache. */
  def openAt(path: String, version: Long): DeltaSnapshot =
    tr.span("log", "travel_open")(DeltaLog.forPath(spark, path, Some(version)))

  def compile(snap: DeltaSnapshot, settings: ScanSettings = ScanSettings()): DataFrame =
    tr.span("scan", "compile")(DeltaScan.scanSnapshot(snap, settings))

  /** Traced run only: the pruning decision as its own call, for the
    * file counts and `scan.prune_ms`.
    */
  def notePruning(snap: DeltaSnapshot, settings: ScanSettings): Unit =
    if (tr.on) {
      val kept = tr.span("trace", "prune")(
        snap.addActionsFiltered(settings.conditions, settings.limit)).size
      tr.note("scan.pruned_scans", 1)
      tr.note("scan.files_live", snap.liveFiles.size)
      tr.note("scan.files_kept", kept)
    }

  def exec[T](name: String)(body: => T): T = tr.span("exec", name)(body)

  /** A commit through `verb`. In the traced run the table root is listed
    * before and after, for the bytes the commit wrote and whether it
    * wrote a checkpoint.
    */
  def commit[T](verb: String, root: String)(body: => T): T =
    if (!tr.on) tr.span("commit", verb)(body)
    else {
      val before = tr.span("trace", "listing")(Ctx.listing(root))
      val t0 = System.nanoTime()
      val out = tr.span("commit", verb)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      val after = tr.span("trace", "listing")(Ctx.listing(root))
      val (log, data) = Ctx.written(before, after).partition(_._1.contains("/_delta_log/"))
      tr.note("commit.data_bytes", data.map(_._2).sum.toDouble)
      tr.note("commit.log_bytes", log.map(_._2).sum.toDouble)
      if (log.exists(_._1.contains(".checkpoint."))) tr.note("commit.ckpt_ms", ms)
      out
    }
}

object Ctx {
  /** Every regular file under `root` with its size. */
  def listing(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Files new in `after`, or whose size changed, with their sizes. */
  def written(before: Map[String, Long], after: Map[String, Long]): Seq[(String, Long)] =
    after.toSeq.filter { case (f, n) => !before.get(f).contains(n) }

  def bytesUnder(root: String): Long = listing(root).values.sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
