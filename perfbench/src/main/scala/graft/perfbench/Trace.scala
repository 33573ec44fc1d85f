package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one operation. Spans the benchmark records
  * around its own calls into a layer carry their parent's id; spans
  * made from listener events (Spark jobs, Catalyst phases) have
  * `parent = -1` and are placed by time when self time is computed.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Long, end: Long) {
  def ns: Long = end - start
  def ms: Double = ns / 1e6
}

/** Spans and per-operation counts of the traced run, kept in memory
  * and read once the run ends. When off, [[span]] only evaluates its
  * body and [[note]] does nothing, so the untraced run pays nothing
  * but a by-name call.
  */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val notes = mutable.Map.empty[(Int, String), Double]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1

  def beginOp(id: Int): Unit = { op = id; stack = Nil }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Adds `v` to the current operation's count `key`. */
  def note(key: String, v: Double): Unit =
    if (on) notes((op, key)) = notes.getOrElse((op, key), 0.0) + v

  def recorded: Seq[Span] = spans.toSeq
  def noteOf(op: Int, key: String): Double = notes.getOrElse((op, key), 0.0)
  def noteTotal(key: String): Double =
    notes.iterator.collect { case ((_, k), v) if k == key => v }.sum
}

/** Spark job and task counters plus Catalyst phase intervals, gathered
  * from Spark's listener bus during the traced run only.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0L
    var inputBytes = 0L
    var recordsRead = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  // (phase, startMs, endMs); a Dataset that runs several actions
  // reports the same phases once per action, so duplicates collapse
  private val phaseSet = mutable.LinkedHashSet.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsById(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobsById.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def phasesOf(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phaseSet += ((name, p.startTimeMs, p.endTimeMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phasesOf(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phasesOf(qe)

  def jobs: Seq[Job] = synchronized(jobsById.values.filter(_.endMs >= 0).toSeq)
  def phases: Seq[(String, Long, Long)] = synchronized(phaseSet.toSeq)
}

object SelfTime {

  /** Length of the union of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer of one operation: each span's duration minus
    * the part of it its child spans cover. `own` are the benchmark's
    * spans (nested through `parent`); each listener span in `ext` goes
    * under the innermost own span holding its midpoint, clipped to it,
    * and listener spans under one own span nest among themselves by
    * containment.
    */
  def perLayer(own: Seq[Span], ext: Seq[Span]): Map[String, Long] = {
    val byId = own.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      Iterator.iterate(s)(x => byId.getOrElse(x.parent, null))
        .takeWhile(_ != null).size
    val children = mutable.Map.empty[AnyRef, mutable.ArrayBuffer[(Long, Long)]]
    def addChild(parent: AnyRef, iv: (Long, Long)): Unit =
      children.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += iv
    own.foreach(s => byId.get(s.parent).foreach(p => addChild(p, (s.start, s.end))))

    val placed = ext.flatMap { e =>
      val mid = (e.start + e.end) / 2
      val holders = own.filter(s => s.start <= mid && mid <= s.end)
      if (holders.isEmpty) None
      else {
        val p = holders.maxBy(depth)
        Some(p -> e.copy(start = math.max(e.start, p.start),
          end = math.min(e.end, p.end)))
      }
    }
    val clippedExt = mutable.ArrayBuffer.empty[Span]
    placed.groupBy(_._1).foreach { case (p, es) =>
      var stack = List.empty[Span]
      es.map(_._2).sortBy(e => (e.start, -e.end)).foreach { e0 =>
        while (stack.nonEmpty && stack.head.end <= e0.start) stack = stack.tail
        val e = stack.headOption match {
          case Some(top) =>
            val c = e0.copy(end = math.min(e0.end, top.end))
            addChild(top, (c.start, c.end)); c
          case None =>
            addChild(p, (e0.start, e0.end)); e0
        }
        clippedExt += e
        stack = e :: stack
      }
    }
    (own ++ clippedExt).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L,
        s.ns - unionNs(children.getOrElse(s, mutable.ArrayBuffer.empty).toSeq
          .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })))
        .sum
    }
  }
}
