package graft

import org.apache.spark.sql.SparkSession

/** sf1 scale rehearsal (round-4 verdict item 2; full registry since
  * round 8): run EVERY registry query at sf0.1 and the ScaleGen-derived
  * sf1 with the Bench protocol (stage → clear caches → cold pass →
  * warm pass), and report per-query sf1/sf0.1 warm ratios plus the d6
  * connected-components round count at both scales. A query whose warm
  * ratio blows past ~12x (10x data + shuffle growth) is a scale
  * pathology; d6's round count must stay flat (O(log n) convergence
  * claim).
  *
  * PROTOCOL (round 10): one FRESH FORKED JVM per scale —
  * `--one <dir> <out.tsv>` runs a single scale and writes a TSV,
  * `--merge <sf01.tsv> <sf1.tsv>` prints the ratio table. The r8/r9
  * three-passes-in-one-JVM shape (sf0.1 warmup → sf1 → sf0.1 base)
  * re-broke in r10: with 110 registry entries the base pass runs in a
  * JVM whose heap has already staged and cached two full suites, and
  * its numbers measured GC pressure, not the operators (warm ratios
  * inverted below 1.0 suite-wide; that run was discarded). Per-scale
  * JVMs make the two warm passes equally fresh — each JVM stages, runs
  * every query once cold (JIT + cache build), then once warm — so the
  * ratio isolates the data-volume effect, which is the thing being
  * rehearsed.
  *
  * Round 15 ports the bench's per-family deepClean into both passes
  * (see the comment at the pass loop), so the rehearsal's sf0.1 warm
  * total is directly comparable to the bench's warm total — the one
  * cross-protocol sanity check between the two tools. LAUNCH
  * CONVENTION (r15 finding): fork with the SAME jvm args as Bench's
  * children — in particular NO -Xmx override. The historical 24g cap
  * (vs the children's ergonomic ~32g) added a uniform ~30% GC drag
  * across all 110 operators (sf0.1 warm 67.8 s at 24g vs 49.7 s at
  * default, bench 52.1 s on the same code/day) — a confounder that
  * read as protocol accumulation for two rounds.
  *
  * Kernel-flagged entries (d7: deliberately-amplified hash
  * microbenchmarks) are included but marked `[k]` — their ratios
  * measure the amplified kernel, not an operator.
  *
  * "The bench" and "Bench" below mean the round-17 timing main this
  * rehearsal mirrored; it has been deleted, and `perfbench/run.py` is
  * the benchmark now. The notes describe that protocol as it was.
  */
object ScaleRehearsal {

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--one", dir, out) => runOne(dir, out)
    case Seq("--merge", a, b) => merge(a, b)
    case other => sys.error(
      s"usage: --one <sfDir> <out.tsv> | --merge <sf01.tsv> <sf1.tsv>" +
        s" (got: ${other.mkString(" ")})")
  }

  private def runOne(dir: String, out: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val allKeys = graft.ops.Registry.all.keys.toSeq.sorted

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }

    val qs = allKeys.map(k => k -> graft.ops.Registry.all(k).fn)
    // stage the one-time artifacts (invoking runs the idempotent side
    // effects) — the timed passes below never pay table staging
    qs.foreach { case (_, fn) =>
      try { fn(spark, dir); () } catch { case _: Throwable => () } }
    def one(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double =
      try time(fn(spark, dir).count()) catch { case _: Throwable => -1.0 }
    // r15: the SAME per-family deepClean boundaries as the bench
    // children. The r14 shape (one deepClean, then a full cold pass
    // and a full warm pass) let the warm pass accumulate ~110 queries
    // of cached blocks, reading ~20 s above the bench's warm total on
    // the same code at sf0.1 — which blurred the one cross-protocol
    // sanity check we have. Cold: deepClean at each d/e/m/p/q/s/t/x
    // prefix boundary, one timed pass. Warm: deepClean at the same
    // boundaries, one untimed priming pass (the definition of warm —
    // a fresh session's first execution populating the operator
    // caches), then the timed pass — structurally the bench's warm
    // child, except for the in-JVM history of the cold pass before it.
    // r15 ADVICE: kernels get their OWN group, not a seat in their
    // prefix family — Bench's cold/warm children group operators only
    // (kernels are partitioned out), so letting the amplified d7
    // kernels run inside the d group's deepClean window gave the
    // d-family a different in-JVM history than the bench child this
    // pass claims structural identity with.
    def familyGroups = {
      val (kern, ops) = qs.partition { case (k, _) =>
        graft.ops.Registry.all(k).kernel }
      ops.groupBy(_._1.head).toSeq.sortBy(_._1).map(_._2) ++
        (if (kern.isEmpty) Nil else Seq(kern))
    }
    val cold = familyGroups.flatMap { g =>
      graft.ops.OpCaches.deepClean(spark)
      g.map { case (k, fn) => k -> one(fn) }
    }.toMap
    // warm = min of two adjacent timed passes: the bench's warm is a
    // min over two symmetric warm FORKS, so a single-shot here would
    // systematically read above it by per-shot noise alone (measured
    // ~10-20% suite-wide on this box); both in-JVM passes are
    // post-prime steady state, so the min estimates the same quantity
    val warm = familyGroups.flatMap { g =>
      graft.ops.OpCaches.deepClean(spark)
      g.foreach { case (_, fn) =>
        try { fn(spark, dir).count(); () } catch { case _: Throwable => () } }
      val t1 = g.map { case (k, fn) => k -> one(fn) }
      val t2 = g.map { case (k, fn) => k -> one(fn) }
      t1.zip(t2).map { case ((k, a), (_, b)) =>
        k -> (if (a < 0) b else if (b < 0) a else math.min(a, b)) }
    }.toMap

    // r16 (r15 verdict item 1): the cold column above is one-shot, and
    // one-shot cold at the sf1 tile swings 10-100 s on identical
    // binaries (GC + page cache; the r15 table shipped d3_fast_vs_md5
    // at 307.8 s against a 1.64 s warm). Port the bench's cold_min3
    // pattern: the top-10 one-shot-cold queries re-measured min-of-3,
    // each shot behind a fresh deepClean — the variance-proof series a
    // scale regression should be read from.
    val top10 = cold.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map(_._1)
    val coldMin3 = top10.map { k =>
      val fn = graft.ops.Registry.all(k).fn
      val ts = (1 to 3).map { _ =>
        graft.ops.OpCaches.deepClean(spark)
        try time(fn(spark, dir).count()) catch { case _: Throwable => -1.0 }
      }.filter(_ >= 0)
      k -> (if (ts.isEmpty) -1.0 else ts.min)
    }

    val rounds = {
      import org.apache.spark.sql.functions.col
      val edges = graft.ops.DedupOps.minhashPairs(spark, dir)
        .where(col("est_jaccard") >= 0.2)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val (_, r) =
        graft.ops.DedupOps.connectedComponentsWithRounds(docs, edges)
      r
    }

    val lines = allKeys.map { k =>
      val kern = if (graft.ops.Registry.all(k).kernel) 1 else 0
      f"$k\t${cold(k)}%.3f\t${warm(k)}%.3f\t$kern"
    } ++ coldMin3.map { case (k, v) => f"#coldmin3\t$k\t$v%.3f" } :+
      s"#d6rounds\t$rounds"
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"rehearsal tsv written to ${p.toAbsolutePath}")
    spark.stop()
  }

  private def merge(sf01Tsv: String, sf1Tsv: String): Unit = {
    def read(f: String): (Map[String, (Double, Double, Boolean)], Int,
        Map[String, Double]) = {
      val ls = scala.io.Source.fromFile(f).getLines().toSeq
      val rounds = ls.find(_.startsWith("#d6rounds"))
        .map(_.split("\t")(1).toInt).getOrElse(-1)
      val cm3 = ls.filter(_.startsWith("#coldmin3")).map { l =>
        val a = l.split("\t"); a(1) -> a(2).toDouble
      }.toMap
      val rows = ls.filterNot(_.startsWith("#")).map { l =>
        val a = l.split("\t")
        a(0) -> (a(1).toDouble, a(2).toDouble, a(3) == "1")
      }.toMap
      (rows, rounds, cm3)
    }
    val (base, r01, cm301) = read(sf01Tsv)
    val (scaled, r1, cm31) = read(sf1Tsv)
    val keys = base.keys.toSeq.sorted
    println(f"${"query"}%-26s ${"sf0.1 cold"}%10s ${"warm"}%8s " +
      f"${"sf1 cold"}%10s ${"warm"}%8s ${"ratio(warm)"}%12s")
    keys.foreach { k =>
      val (c0, w0, kern) = base(k)
      val (c1, w1, _) = scaled.getOrElse(k, (-1.0, -1.0, false))
      val tag = if (kern) s"$k [k]" else k
      val ratio = if (w0 > 0 && w1 > 0) f"${w1 / w0}%12.1f" else f"${"n/a"}%12s"
      println(f"$tag%-26s $c0%10.2f $w0%8.2f $c1%10.2f $w1%8.2f $ratio")
    }
    val opKeys = keys.filter(k => !base(k)._3 &&
      base(k)._2 > 0 && scaled.get(k).exists(_._2 > 0))
    val tw0 = opKeys.map(base(_)._2).sum
    val tw1 = opKeys.map(scaled(_)._2).sum
    println(f"TOTAL warm (operators): sf0.1 $tw0%.2f s, sf1 $tw1%.2f s, " +
      f"ratio ${tw1 / tw0}%.1f")
    println(s"d6 rounds: sf0.1 = $r01, sf1 = $r1")
    // the variance-proof cold series: min-of-3 per shot behind a fresh
    // deepClean, over each scale's top-10 one-shot-cold queries. A
    // cold ratio > 30 (3x over linear on 10x data) is the scale-alarm
    // threshold; one-shot swings that large are exactly what this
    // series exists to dismiss.
    if (cm301.nonEmpty || cm31.nonEmpty) {
      println(f"%ncold_min3 (per-shot deepClean, each scale's top-10 cold):")
      (cm301.keySet ++ cm31.keySet).toSeq.sorted.foreach { k =>
        val c0 = cm301.getOrElse(k, -1.0)
        val c1 = cm31.getOrElse(k, -1.0)
        val r = if (c0 > 0 && c1 > 0) f"${c1 / c0}%8.1f" else f"${"n/a"}%8s"
        val alarm = if (c0 > 0 && c1 > 0 && c1 / c0 > 30) "  <-- >3x linear"
          else ""
        println(f"$k%-26s $c0%10.2f $c1%10.2f $r$alarm")
      }
    }
  }
}
