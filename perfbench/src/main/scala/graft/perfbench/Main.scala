package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.delta.DeltaLog

/** One benchmark run: set up one workload, run its closed loop (one
  * client thread) for at least `--seconds`, check every result, print a
  * report of every metric and, as the last line, one JSON object.
  * `--trace 0` reports the end-to-end metrics, `--trace 1` the
  * per-layer ones from spans and Spark's listeners.
  *
  * Usage: Main --workload <read_serve|commit_mix|curate_pipeline>
  *   --seed <n> --seconds <s> --trace <0|1> --data <sf dir>
  *   --work <scratch dir> --fingerprints <file> --spans <file>
  */
object Main {

  val CurateKeys = Seq("d6_dedup_components", "d4_fast_jaccard",
    "t7_chunk_windows", "t16_bm25_topk", "s6_ann_probe_store", "p1_curation",
    "p3_leakage_split", "t8b_contamination_bloom")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_ms" -> "ms",
    "live_heap_mb" -> "MB")

  /** Per-layer metrics only `read_serve` exercises: in its report, not
    * in the JSON line.
    */
  val ReadServeLayer: Seq[(String, String)] = Seq(
    "log.travel_open_ms" -> "ms", "scan.prune_ms" -> "ms",
    "scan.files_live" -> "count", "scan.files_kept" -> "count",
    "scan.keep_ratio" -> "ratio")

  /** The per-layer metrics of the JSON line, reported by every workload
    * (0 where the workload does no such work).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "log.open_ms" -> "ms",
    "log.full_replays" -> "count", "log.reads" -> "count",
    "log.cache_hit_ratio" -> "ratio", "log.self_ms" -> "ms",
    "scan.compile_ms" -> "ms", "scan.self_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.self_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.input_bytes" -> "bytes", "exec.rows_in_per_row_out" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.self_ms" -> "ms") ++
    CurateKeys.flatMap(k => Seq(s"ops.$k.build_ms" -> "ms", s"ops.$k.run_ms" -> "ms")) ++
    Seq("ops.self_ms" -> "ms",
    "commit.append_ms" -> "ms", "commit.delete_ms" -> "ms",
    "commit.update_ms" -> "ms", "commit.merge_ms" -> "ms",
    "commit.spark_ms" -> "ms", "commit.driver_ms" -> "ms",
    "commit.jobs" -> "count", "commit.tasks" -> "count",
    "commit.data_bytes" -> "bytes", "commit.log_bytes" -> "bytes",
    "commit.ckpt_ms" -> "ms", "commit.readback_ms" -> "ms",
    "commit.self_ms" -> "ms", "harness.self_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "trace.p50_ms" -> "ms", "trace.extra_ms" -> "ms")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  private def gcTotals(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum.toDouble)
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * cached blocks and broadcasts only after a collection has cleared
    * their weak references, so collect until the figure stops falling.
    */
  private def liveHeapMb(): Double = {
    def usedAfterGc(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = usedAfterGc()
    var next = usedAfterGc()
    var rounds = 2
    while (next < last * 0.99 && rounds < 6) {
      last = next
      next = usedAfterGc()
      rounds += 1
    }
    math.min(last, next)
  }

  private def loop(wl: Workload, tr: Tracer, seconds: Double): Seq[OpResult] = {
    val out = mutable.ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    var n = 0
    // whole cycles only, so every run has the same operation mix
    while (n == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      wl.cycle(n).foreach { op =>
        op.prepare()
        val id = out.size
        tr.beginOp(id)
        val replays0 = DeltaLog.fullReplays.get
        val reads0 = DeltaLog.logReads.get
        val s = System.nanoTime()
        val res =
          try Right(tr.span("harness", op.kind)(op.run()))
          catch { case NonFatal(e) => Left(e) }
        val e = System.nanoTime()
        tr.note("log.full_replays", (DeltaLog.fullReplays.get - replays0).toDouble)
        tr.note("log.reads", (DeltaLog.logReads.get - reads0).toDouble)
        val err = res.left.toOption.map(x => s"${x.getClass.getName}: ${x.getMessage}")
        err.foreach(m => System.err.println(s"perfbench: FAILED op $id (${op.kind}): $m"))
        out += OpResult(id, op.kind, s, e, res.getOrElse(0L), err)
      }
      n += 1
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val need = Seq("workload", "seed", "seconds", "trace", "data", "work",
      "fingerprints", "spans")
    val missing = need.filterNot(o.contains)
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: missing ${missing.map("--" + _).mkString(" ")}")
      sys.exit(2)
    }
    val trace = o("trace") == "1"
    val work = o("work")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(trace)
    val ctx = new Ctx(spark, tr, o("data"), work, o("seed").toLong)
    val wl: Workload = o("workload") match {
      case "read_serve" => new ReadServe(ctx)
      case "commit_mix" => new CommitMix(ctx)
      case "curate_pipeline" =>
        new CuratePipeline(ctx, Fingerprints.load(o("fingerprints"),
          new java.io.File(o("data")).getName))
      case other =>
        System.err.println(s"perfbench: unknown workload '$other'")
        spark.stop()
        sys.exit(2)
    }
    try run(spark, wl, tr, o("workload"), o("seconds").toDouble, o("spans"))
    finally {
      wl.cleanUp()
      spark.stop()
    }
  }

  private def run(spark: SparkSession, wl: Workload, tr: Tracer,
      name: String, seconds: Double, spansFile: String): Unit = {
    val setups = (1 to wl.setUps).map { r =>
      val t0 = System.nanoTime()
      wl.setUp(r)
      (System.nanoTime() - t0) / 1e9
    }
    wl.prepare()
    val listener = if (!tr.on) None else {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    }
    val clock = (System.nanoTime(), System.currentTimeMillis())
    val (gcMs0, gcN0) = gcTotals()
    val done = loop(wl, tr, seconds)
    val (gcMs1, gcN1) = gcTotals()
    // Spark's own listeners (the status store) hold the run's events
    // until they have processed them
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val heap = liveHeapMb()

    val ok = done.filter(_.error.isEmpty)
    val lat = wl.latenciesMs(done)
    val e2e = Seq(
      "setup_s" -> median(setups),
      "ops_per_s" -> ok.size / (done.map(_.ms).sum / 1000),
      "p50_ms" -> median(lat),
      "live_heap_mb" -> heap)
    val layers = listener.map(l => layerMetrics(done, lat, tr, l, clock,
      (gcMs1 - gcMs0, gcN1 - gcN0), spansFile)).getOrElse(Map.empty)

    val lines = mutable.ArrayBuffer.empty[String]
    def line(n: String, v: Double, u: String, note: String = ""): Unit =
      lines += f"$n%-40s $v%16.4f $u%-6s $note"
    lines += s"workload $name: ${done.size} ops attempted, " +
      s"${done.size - ok.size} failed, ${setups.size} set-ups " +
      s"(${setups.map(s => f"$s%.2f").mkString(", ")} s), trace ${if (tr.on) 1 else 0}"
    done.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      line(s"op.$k.p50_ms", median(rs.map(_.ms)), "ms", s"n=${rs.size}")
    }
    EndToEnd.foreach { case (n, u) =>
      line(n, e2e.toMap.apply(n), u, s"n=${if (n == "p50_ms") lat.size else done.size}")
    }
    line("error_rate", (done.size - ok.size).toDouble / done.size, "ratio", s"n=${done.size}")
    if (lat.size >= 200) line("p95_ms", percentile(lat, 95), "ms", s"n=${lat.size}")
    else lines += s"p95_ms not reported: n=${lat.size} < 200 operations"
    wl.report(done).foreach { case (n, v, u) => line(n, v, u) }
    (PerLayer ++ ReadServeLayer).foreach { case (n, u) =>
      layers.get(n).foreach(v => line(n, v, u)) }
    if (tr.on) lines += s"spans written to $spansFile"
    done.flatMap(r => r.error.map(e => s"failed op ${r.id} (${r.kind}): $e"))
      .foreach(lines += _)
    lines.foreach(println)

    val metrics =
      if (tr.on) PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => (n, e2e.toMap.apply(n), u) }
    println(Json.result(done.size - ok.size == 0, done.size,
      done.size - ok.size, metrics))
  }

  /** All spans of the traced run, one per line: op, id, parent, layer,
    * name, start and end in ns since the loop began. Listener spans
    * (Spark jobs, Catalyst phases) have parent -1.
    */
  private def writeSpans(file: String, spans: Seq[Span], t0: Long): Unit = {
    val out = new java.io.PrintWriter(file, "UTF-8")
    try {
      out.println("op\tid\tparent\tlayer\tname\tstart_ns\tend_ns")
      spans.sortBy(s => (s.op, s.start)).foreach(s => out.println(
        s"${s.op}\t${s.id}\t${s.parent}\t${s.layer}\t${s.name}\t${s.start - t0}\t${s.end - t0}"))
    } finally out.close()
  }

  /** The per-layer metrics of a traced run. Times of one call into a
    * layer are medians over the run; counts, bytes, self times and
    * Catalyst phases are means per operation.
    */
  private def layerMetrics(done: Seq[OpResult], lat: Seq[Double], tr: Tracer,
      l: LayerListener, clock: (Long, Long), gc: (Double, Double),
      spansFile: String): Map[String, Double] = {
    val (nano0, ms0) = clock
    def ns(ms: Long): Long = nano0 + (ms - ms0) * 1000000L
    val own = tr.recorded
    val roots = own.filter(s => s.parent == -1 && s.layer == "harness")
    def opAt(start: Long, end: Long): Int = {
      val mid = (start + end) / 2
      roots.find(r => r.start <= mid && mid <= r.end).map(_.op).getOrElse(-1)
    }
    val jobs = l.jobs.map(j => (j, ns(j.startMs), ns(j.endMs)))
    val ext = jobs.zipWithIndex.map { case ((_, s, e), i) =>
      Span(1000000 + i, -1, opAt(s, e), "exec", "job", s, e)
    } ++ l.phases.zipWithIndex.map { case ((p, s, e), i) =>
      Span(2000000 + i, -1, opAt(ns(s), ns(e)), "catalyst", p, ns(s), ns(e))
    }
    writeSpans(spansFile, own ++ ext, nano0)
    val nOps = math.max(1, done.size).toDouble
    val ownByOp = own.groupBy(_.op)
    val extByOp = ext.filter(_.op >= 0).groupBy(_.op)
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    done.foreach { r =>
      SelfTime.perLayer(ownByOp.getOrElse(r.id, Nil), extByOp.getOrElse(r.id, Nil))
        .foreach { case (k, v) => self(k) += v }
    }
    def named(layer: String, name: String) =
      own.filter(s => s.layer == layer && s.name == name)
    def medMs(ss: Seq[Span]) = median(ss.map(_.ms))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val opJobs = jobs.filter { case (_, s, e) => opAt(s, e) >= 0 }
    val phaseMs = ext.filter(s => s.layer == "catalyst" && s.op >= 0)
      .groupBy(_.name).map { case (k, ss) => k -> ss.map(_.ms).sum }
    val commits = own.filter(_.layer == "commit")
    def jobsIn(c: Span) = jobs.filter { case (_, s, e) =>
      val mid = (s + e) / 2; c.start <= mid && mid <= c.end }
    def sparkNs(c: Span) = SelfTime.unionNs(jobsIn(c).map { case (_, s, e) =>
      (math.max(s, c.start), math.min(e, c.end)) })
    val nCommits = commits.size.toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("log.open_ms") = medMs(named("log", "open"))
    m("log.travel_open_ms") = medMs(named("log", "travel_open"))
    m("log.full_replays") = tr.noteTotal("log.full_replays") / nOps
    m("log.reads") = tr.noteTotal("log.reads") / nOps
    m("log.cache_hit_ratio") =
      ratio(tr.noteTotal("log.latest_hits"), tr.noteTotal("log.latest_opens"))
    m("scan.prune_ms") = medMs(named("trace", "prune"))
    m("scan.files_live") = ratio(tr.noteTotal("scan.files_live"), tr.noteTotal("scan.pruned_scans"))
    m("scan.files_kept") = ratio(tr.noteTotal("scan.files_kept"), tr.noteTotal("scan.pruned_scans"))
    m("scan.keep_ratio") = ratio(tr.noteTotal("scan.files_kept"), tr.noteTotal("scan.files_live"))
    m("scan.compile_ms") = medMs(named("scan", "compile"))
    Seq("analysis", "optimization", "planning").foreach(p =>
      m(s"catalyst.${p}_ms") = phaseMs.getOrElse(p, 0.0) / nOps)
    m("exec.ms") = opJobs.groupBy { case (_, s, e) => opAt(s, e) }.values
      .map(js => SelfTime.unionNs(js.map(j => (j._2, j._3)))).sum / 1e6 / nOps
    m("exec.jobs") = opJobs.size / nOps
    m("exec.tasks") = opJobs.map(_._1.tasks).sum / nOps
    m("exec.input_bytes") = opJobs.map(_._1.inputBytes).sum / nOps
    m("exec.rows_in_per_row_out") =
      ratio(opJobs.map(_._1.recordsRead).sum.toDouble, done.map(_.rowsOut).sum.toDouble)
    m("exec.shuffle_write_bytes") = opJobs.map(_._1.shuffleWriteBytes).sum / nOps
    m("exec.spill_bytes") = opJobs.map(_._1.spillBytes).sum / nOps
    CurateKeys.foreach { k =>
      m(s"ops.$k.build_ms") = medMs(named("ops", s"build:$k"))
      m(s"ops.$k.run_ms") = medMs(named("exec", s"run:$k"))
    }
    Seq("append", "delete", "update", "merge").foreach(v =>
      m(s"commit.${v}_ms") = medMs(named("commit", v)))
    m("commit.spark_ms") = ratio(commits.map(sparkNs).sum / 1e6, nCommits)
    m("commit.driver_ms") = ratio(commits.map(c => c.ns - sparkNs(c)).sum / 1e6, nCommits)
    m("commit.jobs") = ratio(commits.map(jobsIn(_).size).sum, nCommits)
    m("commit.tasks") = ratio(commits.map(jobsIn(_).map(_._1.tasks).sum).sum, nCommits)
    m("commit.data_bytes") = ratio(tr.noteTotal("commit.data_bytes"), nCommits)
    m("commit.log_bytes") = ratio(tr.noteTotal("commit.log_bytes"), nCommits)
    m("commit.ckpt_ms") = median(done.map(r => tr.noteOf(r.id, "commit.ckpt_ms")).filter(_ > 0))
    m("commit.readback_ms") = medMs(named("harness", "readback"))
    Seq("log", "scan", "catalyst", "exec", "ops", "commit", "harness").foreach(k =>
      m(s"$k.self_ms") = self(k) / 1e6 / nOps)
    m("jvm.gc_ms") = gc._1
    m("jvm.gc_count") = gc._2
    m("trace.p50_ms") = median(lat)
    m("trace.extra_ms") = self("trace") / 1e6 / nOps
    m.toMap
  }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
      }.mkString(", ") + "}}"
}

object Fingerprints {
  /** The stored per-operator fingerprints for one data directory name,
    * from a file of lines `<data dir name> <operator> <rows> <hash>`.
    */
  def load(file: String, dataName: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect {
        case Array(d, k, rows, hash) if d == dataName => k -> (rows.toLong, hash.toLong)
      }.toMap
    finally src.close()
  }
}
