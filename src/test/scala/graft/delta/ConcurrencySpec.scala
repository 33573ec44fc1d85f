package graft.delta

import org.apache.spark.sql.functions._

import graft.{DeltaLake, SparkSuite}

/** Read-set conflict validation for DML racing concurrent writers
  * (round-4 verdict item 4): a DML computed against a stale snapshot
  * must either rebase cleanly over a disjoint plain append — never
  * dropping the concurrent write — or abort loudly when the winner
  * touched its read set / table metadata. Plus the DV commit-path size
  * guard (item 3).
  *
  * The interleaving is driven through the writers' `priorSnapshot`
  * hooks: take a snapshot, let a "concurrent" writer commit, then run
  * the DML against the stale snapshot — exactly the plan-to-commit race
  * window of two independent processes. The race specs below run real
  * threads released together, so the version claim itself is contended.
  */
class ConcurrencySpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_conc").toString + "/t"

  /** 100 rows over 4 hive partitions; one data file per partition. */
  private def target(path: String): Unit = {
    val df = (1L to 100L).map(i => (i, (i % 4).toString, i * 10L))
      .toDF("id", "bucket", "v")
    DeltaWriter.write(df, path, partitionBy = Seq("bucket"))
  }

  test("merge rebases over an interleaved disjoint append; nothing lost") {
    val path = tmp()
    target(path)
    val snap0 = DeltaLog.forPath(spark, path)

    // concurrent plain append wins version 1 while the merge is planned
    val appended = (201L to 205L).map(i => (i, (i % 4).toString, -1L))
      .toDF("id", "bucket", "v")
    DeltaWriter.write(appended, path, mode = "append",
      partitionBy = Seq("bucket"))

    val source = ((1L to 5L).map(i => (i, (i % 4).toString, -i)) ++
      Seq((101L, "1", 1010L))).toDF("id", "bucket", "v")
    val stats = DeltaWriter.merge(spark, path, source, Seq("id"),
      priorSnapshot = Some(snap0))
    assert(stats == MergeStats(5L, 6L))

    val snap = DeltaLog.forPath(spark, path)
    assert(snap.version == 2L, "merge must land one version past the append")
    val byId = DeltaLake.scanDelta(spark, path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
    assert(byId.size == 106) // 100 original + 5 appended + 1 inserted
    assert((1L to 5L).forall(i => byId(i) == -i)) // merge updates applied
    assert(byId(101L) == 1010L) // merge insert applied
    assert((201L to 205L).forall(i => byId(i) == -1L),
      "the concurrent append's rows must survive the rebase")
  }

  test("delete rebases over an interleaved append and keeps its rows") {
    val path = tmp()
    target(path)
    val snap0 = DeltaLog.forPath(spark, path)
    DeltaWriter.write(Seq((500L, "0", 5L)).toDF("id", "bucket", "v"),
      path, mode = "append", partitionBy = Seq("bucket"))
    val n = DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 10L)),
      priorSnapshot = Some(snap0))
    assert(n == 10L)
    val ids = DeltaLake.scanDelta(spark, path).select("id")
      .as[Long].collect().toSet
    assert(!ids.exists(_ <= 10L))
    assert(ids.contains(500L), "appended row must survive the rebased delete")
    assert(DeltaLog.forPath(spark, path).version == 2L)
  }

  test("update rebases over TWO interleaved appends (multi-winner walk)") {
    val path = tmp()
    target(path)
    val snap0 = DeltaLog.forPath(spark, path)
    DeltaWriter.write(Seq((501L, "0", 1L)).toDF("id", "bucket", "v"),
      path, mode = "append", partitionBy = Seq("bucket")) // v1
    DeltaWriter.write(Seq((502L, "0", 2L)).toDF("id", "bucket", "v"),
      path, mode = "append", partitionBy = Seq("bucket")) // v2
    val n = DeltaWriter.update(spark, path,
      Seq(Cond("id", "=", 5L)), Map("v" -> lit(-5L)),
      priorSnapshot = Some(snap0))
    assert(n == 1L)
    val snap = DeltaLog.forPath(spark, path)
    assert(snap.version == 3L, "update must walk past both winners")
    val byId = DeltaLake.scanDelta(spark, path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
    assert(byId(5L) == -5L)
    assert(byId(501L) == 1L && byId(502L) == 2L,
      "both interleaved appends must survive")
    // compact through a stale snapshot rebases over a disjoint plain
    // append the same way (the append's file is not in any bin)
    val snap3 = DeltaLog.forPath(spark, path)
    DeltaWriter.write(Seq((503L, "2", 3L)).toDF("id", "bucket", "v"),
      path, mode = "append", partitionBy = Seq("bucket")) // v4
    val c = DeltaWriter.compact(spark, path, priorSnapshot = Some(snap3))
    assert(c > 0)
    val after = DeltaLake.scanDelta(spark, path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
    assert(after.size == 103 && after(503L) == 3L,
      "the append racing the compaction must survive")
    assert(after(5L) == -5L, "compaction must preserve the DV-updated row")
  }

  test("concurrent DML touching the read set aborts loudly") {
    val path = tmp()
    target(path)
    // seed the deletionVectors protocol upgrade so the racing delete's
    // commit carries only file actions (isolates the read-set check
    // from the metadata/protocol check)
    DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 99L)))
    val snap1 = DeltaLog.forPath(spark, path)

    // winner: DV-deletes rows the merge below also touches (bucket 1)
    DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 1L)))

    val source = Seq((5L, "1", -5L)).toDF("id", "bucket", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaWriter.merge(spark, path, source, Seq("id"),
        priorSnapshot = Some(snap1))
    }
    assert(e.getMessage.contains("MERGE") &&
      e.getMessage.contains("re-run"), e.getMessage)
  }

  test("concurrent DML on a DISJOINT file set rebases cleanly") {
    val path = tmp()
    target(path)
    DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 99L))) // protocol seed
    val snap1 = DeltaLog.forPath(spark, path)

    // winner DV-deletes in bucket 2; the stale update touches only
    // id=5 (bucket 1) — read sets are file-disjoint, so precision of
    // the conflict check is what's under test
    DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 2L)))
    val stats = DeltaWriter.merge(spark, path,
      Seq((5L, "1", -555L)).toDF("id", "bucket", "v"), Seq("id"),
      priorSnapshot = Some(snap1))
    assert(stats.updatedRows == 1L)
    val byId = DeltaLake.scanDelta(spark, path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
    assert(byId(5L) == -555L)
    assert(!byId.contains(2L), "winner's delete must survive")
    assert(!byId.contains(99L))
  }

  test("racing merges inserting the same absent key conflict, not duplicate") {
    val path = tmp()
    target(path)
    val snap0 = DeltaLog.forPath(spark, path)
    // winner merge inserts key 300 (absent at v0)
    DeltaWriter.merge(spark, path,
      Seq((300L, "0", 1L)).toDF("id", "bucket", "v"), Seq("id"))
    // loser computed against v0 inserts the SAME key: its read set is
    // empty (nothing matched), but the winner's new file overlaps its
    // source key range — rebasing would yield two rows for key 300,
    // a state no serial order of the two merges produces
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaWriter.merge(spark, path,
        Seq((300L, "0", 2L)).toDF("id", "bucket", "v"), Seq("id"),
        priorSnapshot = Some(snap0))
    }
    assert(e.getMessage.contains("source keys"), e.getMessage)
    assert(DeltaLake.scanDelta(spark, path)
      .where(col("id") === 300L).count() == 1L, "no duplicate key")
    // a KEY-DISJOINT merge over the same stale snapshot still rebases
    // (the winner's new file is provably outside its key bounds)
    val stats = DeltaWriter.merge(spark, path,
      Seq((400L, "0", 4L)).toDF("id", "bucket", "v"), Seq("id"),
      priorSnapshot = Some(snap0))
    assert(stats == MergeStats(0L, 1L))
    val byId = DeltaLake.scanDelta(spark, path).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
    assert(byId.size == 102 && byId(300L) == 1L && byId(400L) == 4L)
  }

  test("concurrent metadata change always aborts") {
    val path = tmp()
    target(path)
    val snap0 = DeltaLog.forPath(spark, path)
    // winner evolves the schema (append with a new column → metaData)
    DeltaWriter.write(
      Seq((300L, "0", 3L, "x")).toDF("id", "bucket", "v", "note"),
      path, mode = "append", partitionBy = Seq("bucket"))
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaWriter.merge(spark, path,
        Seq((5L, "1", -5L)).toDF("id", "bucket", "v"), Seq("id"),
        priorSnapshot = Some(snap0))
    }
    assert(e.getMessage.contains("metadata"), e.getMessage)
  }

  /** Run `body(1..n)` on n threads released together by a barrier;
    * each writer's result or the exception it threw, in writer order.
    */
  private def race[A](n: Int)(body: Int => A): Seq[Either[Throwable, A]] = {
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try (1 to n).map { w =>
      pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = { barrier.await(); body(w) }
      })
    }.map(f => scala.util.Try(f.get()).toEither.left.map {
      case e: java.util.concurrent.ExecutionException => e.getCause
      case e => e
    })
    finally pool.shutdown()
  }

  test("N appenders racing from one base snapshot each claim one version") {
    // real threads released together by a barrier, all committing
    // against the same stale snapshot: every version 1..N must be
    // claimed by exactly one appender (the staged put-if-absent never
    // overwrites a winner nor fails with "Could not commit"), and every
    // acknowledged append's rows must read back exactly once. Long and
    // string columns only: each write flips the shared session's parquet
    // timestamp conf around its data write, so racing writers see each
    // other's value (and can leave it set — restored below).
    val n = 4
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsConf = spark.conf.getOption(tsKey)
    try for (round <- 1 to 5) {
      val path = tmp()
      DeltaWriter.write(Seq((0L, "base")).toDF("id", "writer"), path)
      val snap0 = DeltaLog.forPath(spark, path)
      val batches = (1 to n).map(w =>
        (1 to 3).map(i => (w * 100L + i, s"w$w")).toDF("id", "writer"))
      val outcomes = race(n) { w =>
        DeltaWriter.write(batches(w - 1), path, mode = "append",
          priorSnapshot = Some(snap0))
      }
      val failures = outcomes.collect { case Left(e) => e }
      assert(failures.isEmpty,
        s"round $round: disjoint appends must all rebase and land: " +
          failures.map(_.toString).mkString("; "))

      val logDir = new java.io.File(path, "_delta_log")
      val versions = logDir.list().toSeq
        .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).sorted
      assert(versions == (0L to n.toLong), s"round $round: $versions")
      // a loser that replaced a winner's commit would drop its rows
      val rows = DeltaLake.scanDelta(spark, path)
        .select("id", "writer").as[(Long, String)].collect().toSeq
      val expected = (0L, "base") +: (1 to n).flatMap(w =>
        (1 to 3).map(i => (w * 100L + i, s"w$w")))
      assert(rows.sorted == expected.sorted, s"round $round")
    } finally tsConf match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
  }

  test("N DV deletes racing on disjoint files all rebase; none lost") {
    val n = 4
    for (round <- 1 to 5) {
      val path = tmp()
      target(path) // one file per bucket
      // protocol seed: the racers' commits then carry file actions only
      DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 100L)))
      val snap1 = DeltaLog.forPath(spark, path)
      // writer w deletes id w: buckets 1, 2, 3, 0 — file-disjoint
      val outcomes = race(n) { w =>
        DeltaWriter.delete(spark, path, Seq(Cond("id", "=", w.toLong)),
          priorSnapshot = Some(snap1))
      }
      assert(outcomes.forall(_ == Right(1L)), s"round $round: $outcomes")
      assert(DeltaLog.forPath(spark, path).version == 1L + n)
      val ids = DeltaLake.scanDelta(spark, path).select("id")
        .as[Long].collect().toSet
      assert(ids == (5L to 99L).toSet, s"round $round")
    }
  }

  test("N ALTERs racing for one version: one claim each, losers conflict") {
    // metadata-only commits run no Spark job, so barrier-released
    // writers reach the claim within microseconds of each other: every
    // version is taken exactly once, and a loser either rebases onto a
    // fresh snapshot or fails with the conflict — never "Could not
    // commit", never by replacing the winner
    val n = 8
    for (round <- 1 to 5) {
      val path = tmp()
      DeltaWriter.write(Seq((0L, "base")).toDF("id", "writer"), path)
      val outcomes = race(n) { w =>
        DeltaWriter.setTableProperties(spark, path,
          Map(s"graft.race.w$w" -> "1"))
      }
      val unexpected = outcomes.collect {
        case Left(e) if !e.isInstanceOf[
          java.util.ConcurrentModificationException] => e
      }
      assert(unexpected.isEmpty, s"round $round: " +
        unexpected.map(_.toString).mkString("; "))
      val won = outcomes.collect { case Right(v) => v }
      assert(won.nonEmpty && won.distinct.size == won.size,
        s"round $round: two writers acknowledged one version: $won")
      val snap = DeltaLog.forPath(spark, path)
      assert(won.sorted == (1L to snap.version), s"round $round: $won")
      // every acknowledged writer's property survived: no commit
      // replaced another
      val winners = (1 to n).filter(w => outcomes(w - 1).isRight)
      assert(winners.forall(w =>
        snap.configuration.contains(s"graft.race.w$w")), s"round $round")
    }
  }

  test("DV commit size guard fails loudly with the cure, then clears") {
    val path = tmp()
    target(path) // 4 files, one per bucket
    spark.conf.set("spark.graft.dml.maxDvFilesPerCommit", "2")
    try {
      val e = intercept[IllegalStateException] {
        DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 100L)))
      }
      assert(e.getMessage.contains("would commit deletion vectors for"),
        e.getMessage)
      assert(e.getMessage.contains("maxDvFilesPerCommit"), e.getMessage)
      // the guard must abort BEFORE any commit: table is unchanged
      assert(DeltaLog.forPath(spark, path).version == 0L)
      assert(DeltaLake.scanDelta(spark, path).count() == 100L)
    } finally spark.conf.unset("spark.graft.dml.maxDvFilesPerCommit")
    // within limits the same delete goes through
    assert(DeltaWriter.delete(spark, path,
      Seq(Cond("id", "<=", 100L))) == 100L)
    assert(DeltaLake.scanDelta(spark, path).count() == 0L)
  }

  test("byte limit guard trips on a tiny threshold") {
    val path = tmp()
    target(path)
    spark.conf.set("spark.graft.dml.maxDvBytesPerCommit", "1")
    try {
      val e = intercept[IllegalStateException] {
        DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 7L)))
      }
      assert(e.getMessage.contains("maxDvBytesPerCommit"), e.getMessage)
    } finally spark.conf.unset("spark.graft.dml.maxDvBytesPerCommit")
  }
}
