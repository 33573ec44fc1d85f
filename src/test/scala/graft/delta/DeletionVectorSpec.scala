package graft.delta

import org.apache.spark.sql.functions._

import graft.{DeltaLake, SparkSuite}

/** Deletion-vector round trip: DeltaWriter.delete produces
  * protocol-format DVs (z85, roaring bitmap array, DV file layout) and
  * the scan subtracts them — the feature the reference rejects.
  */
class DeletionVectorSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dv").toString + "/t"

  test("z85 codec round-trips bytes and uuids") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val bytes = Array.fill(4 * (1 + rnd.nextInt(8)))(rnd.nextInt().toByte)
      val enc = DeletionVectors.z85Encode(bytes)
      assert(DeletionVectors.z85Decode(enc).toSeq == bytes.toSeq)
    }
    val u = java.util.UUID.randomUUID()
    assert(DeletionVectors.bytesToUuid(DeletionVectors.z85Decode(
      DeletionVectors.z85Encode(DeletionVectors.uuidToBytes(u)))) == u)
  }

  test("bitmap array round-trips, including >32-bit row indices") {
    val idx = Seq(0L, 1L, 7L, 100000L, (1L << 32) | 5L, (3L << 32) | 9L, 7L)
    val (data, card) = DeletionVectors.serializeData(idx.iterator)
    assert(card == 6) // duplicate collapses
    assert(DeletionVectors.deserializeData(data).toSeq == idx.distinct.sorted)
  }

  test("delete writes DVs, scan subtracts, time travel sees all rows") {
    val path = tmp()
    val df = (1L to 100L).map(i => (i, (i % 10).toString)).toDF("id", "bucket")
    DeltaWriter.write(df, path, partitionBy = Seq("bucket"))
    val n = DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 30L)))
    assert(n == 30L)

    val snap = DeltaLake.deltaMeta(spark, path)
    assert(snap.version == 1L)
    assert(snap.liveFiles.exists(_.hasDeletionVector))
    // protocol upgraded to readerFeatures [deletionVectors]
    assert(snap.protocol.exists(_.readerFeatures.exists(_.contains("deletionVectors"))))

    val now = DeltaLake.scanDelta(spark, path)
    assert(now.count() == 70)
    assert(now.agg(min("id")).collect()(0).getLong(0) == 31L)
    // time travel to v0 still sees every row
    assert(DeltaLake.scanDelta(spark, path,
      ScanSettings(version = Some(0L))).count() == 100)
    // conditions compose with DV subtraction
    val f = DeltaLake.scanDelta(spark, path,
      ScanSettings(conditions = Seq(Cond("id", "<=", 50L))))
    assert(f.collect().map(_.getAs[Long]("id")).sorted.toSeq == (31L to 50L))
  }

  test("second delete merges with the prior deletion vector") {
    val path = tmp()
    DeltaWriter.write((1L to 50L).toDF("id"), path)
    assert(DeltaWriter.delete(spark, path, Seq(Cond("id", "<", 10L))) == 9L)
    assert(DeltaWriter.delete(spark, path, Seq(Cond("id", "<", 20L))) == 10L)
    val back = DeltaLake.scanDelta(spark, path)
    assert(back.count() == 31)
    assert(back.agg(min("id")).collect()(0).getLong(0) == 20L)
    // single live file carries ONE merged DV of cardinality 19
    val snap = DeltaLake.deltaMeta(spark, path)
    val dvs = snap.liveFiles.flatMap(_.deletionVector)
    assert(dvs.map(_.cardinality).sum == 19L)
  }

  test("deletes survive a checkpoint") {
    val path = tmp()
    DeltaWriter.write((1L to 40L).toDF("id"), path)
    DeltaWriter.delete(spark, path, Seq(Cond("id", ">", 35L)))
    DeltaWriter.writeCheckpoint(DeltaLake.deltaMeta(spark, path))
    // drop the JSON commits: replay must come from the checkpoint alone
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0L to 1L).foreach(v => fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/_delta_log/" + f"$v%020d.json"), false))
    val back = DeltaLake.scanDelta(spark, path)
    assert(back.count() == 35)
    assert(DeltaLake.deltaMeta(spark, path)
      .liveFiles.flatMap(_.deletionVector).map(_.cardinality).sum == 5L)
  }

  test("wide-partition path applies deletion vectors too") {
    val path = tmp()
    val df = (1L to 60L).map(i => (i, (i % 6).toString)).toDF("id", "b")
    DeltaWriter.write(df, path, partitionBy = Seq("b"))
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 12L)))
    val scan = DeltaLake.scanDelta(spark, path)
    assert(scan.collect().map(_.getAs[Long]("id")).sorted.toSeq == (13L to 60L))
  }

  test("inline ('i') deletion vectors read back") {
    val (data, card) = DeletionVectors.serializeData(Iterator(2L, 4L, 8L))
    val dv = DeletionVectorDescriptor(
      "i", DeletionVectors.z85Encode(padTo4(data)), None, data.length, card)
    // inline payloads are z85 of the data itself (padded to 4 bytes by
    // the writer convention; deserializeData ignores trailing bytes)
    val back = DeletionVectors.deserializeData(
      DeletionVectors.z85Decode(dv.pathOrInlineDv))
    assert(back.toSeq == Seq(2L, 4L, 8L))
  }

  private def padTo4(b: Array[Byte]): Array[Byte] =
    if (b.length % 4 == 0) b else b ++ Array.fill(4 - b.length % 4)(0.toByte)

  test("delete-CDF returns exactly the rows each delete removed") {
    val path = tmp()
    DeltaWriter.write((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"),
      path)
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 10L))) // v1
    DeltaWriter.delete(spark, path, Seq(Cond("id", ">", 45L))) // v2
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getAs[Long]("id")).sorted.toSeq
    // since v0: both deletes
    assert(ids(DeltaLake.scanDeltaDeletedRows(spark, path, 0L)) ==
      ((1L to 10L) ++ (46L to 50L)))
    // since v1: only the second delete
    assert(ids(DeltaLake.scanDeltaDeletedRows(spark, path, 1L)) ==
      (46L to 50L))
    // since v2 (head): nothing
    assert(DeltaLake.scanDeltaDeletedRows(spark, path, 2L).count() == 0)
    // payload columns come back too (full deleted rows, not just keys)
    val row = DeltaLake.scanDeltaDeletedRows(spark, path, 1L)
      .where(col("id") === 46L).collect()
    assert(row.length == 1 && row(0).getAs[String]("v") == "v46")
  }

  test("delete's protocol upgrade folds in legacy-implied features") {
    val path = tmp()
    DeltaWriter.write((1L to 10L).toDF("id"), path)
    // simulate an old-protocol table that legacy-implies columnMapping
    // (reader v2 / writer v5) by rewriting the protocol line
    val log = s"$path/_delta_log"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commit0 = s"$log/" + f"${0L}%020d.json"
    val lines = scala.io.Source.fromInputStream(
      fs.open(new org.apache.hadoop.fs.Path(commit0)), "UTF-8")
      .getLines().toVector
    val patched = lines.map(l =>
      if (l.contains("\"protocol\""))
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
      else l)
    fs.delete(new org.apache.hadoop.fs.Path(commit0), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(commit0), false)
    try out.write((patched.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()

    DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 1L)))
    val p = DeltaLake.deltaMeta(spark, path).protocol.get
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.get.toSet == Set("columnMapping", "deletionVectors"))
    assert(p.writerFeatures.get.contains("columnMapping"))
    assert(p.writerFeatures.get.contains("appendOnly"))
    assert(p.writerFeatures.get.contains("deletionVectors"))
  }

  test("compact rewrites large files that carry deletion vectors") {
    val path = tmp()
    DeltaWriter.write((1L to 30L).toDF("id"), path)
    DeltaWriter.delete(spark, path, Seq(Cond("id", ">", 25L)))
    // tiny target: every file is "large", but the DV'd file must still
    // be rewritten so the DV folds in
    DeltaWriter.compact(spark, path, targetFileBytes = 1L)
    val snap = DeltaLake.deltaMeta(spark, path)
    assert(!snap.liveFiles.exists(_.hasDeletionVector))
    assert(DeltaLake.scanDelta(spark, path).count() == 25)
  }

  test("compact bin-packs small files; logical table unchanged") {
    val path = tmp()
    val df = (1L to 100L).map(i => (i, (i % 2).toString)).toDF("id", "b")
    DeltaWriter.write(df.repartition(4), path, partitionBy = Seq("b"))
    val before = DeltaLake.deltaMeta(spark, path)
    assert(before.liveFiles.size >= 4)
    val n = DeltaWriter.compact(spark, path)
    assert(n >= 4)
    val after = DeltaLake.deltaMeta(spark, path)
    assert(after.version == before.version + 1)
    assert(after.liveFiles.size == 2, "one compacted file per partition")
    val back = DeltaLake.scanDelta(spark, path)
    assert(back.count() == 100)
    assert(back.agg(org.apache.spark.sql.functions.sum("id"))
      .collect()(0).getLong(0) == (1L to 100L).sum)
    // time travel to the pre-compaction version still works
    assert(DeltaLake.scanDelta(spark, path,
      ScanSettings(version = Some(before.version))).count() == 100)
    // compacted files carry stats (skipping keeps working)
    assert(after.liveFiles.forall(_.parsedStats.exists(_.numRecords.isDefined)))
  }

  test("compact folds deletion vectors into the rewrite") {
    val path = tmp()
    DeltaWriter.write((1L to 60L).toDF("id").repartition(3), path)
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 15L)))
    assert(DeltaLake.deltaMeta(spark, path).liveFiles.exists(_.hasDeletionVector))
    DeltaWriter.compact(spark, path)
    val snap = DeltaLake.deltaMeta(spark, path)
    assert(!snap.liveFiles.exists(_.hasDeletionVector), "DVs must be folded in")
    val back = DeltaLake.scanDelta(spark, path)
    assert(back.count() == 45)
    assert(back.agg(org.apache.spark.sql.functions.min("id"))
      .collect()(0).getLong(0) == 16L)
  }

  test("vacuum deletes unreferenced files, keeps live data + DV bins") {
    val path = tmp()
    DeltaWriter.write((1L to 40L).toDF("id").repartition(2), path)
    DeltaWriter.write((41L to 60L).toDF("id"), path, mode = "overwrite")
    DeltaWriter.delete(spark, path, Seq(Cond("id", ">", 55L)))
    val deleted = DeltaWriter.vacuum(spark, path)
    // the overwritten v0 parquets go (plus writer markers like _SUCCESS)
    assert(deleted.count(_.endsWith(".parquet")) >= 2)
    assert(!deleted.exists(_.contains("_delta_log")))
    assert(!deleted.exists(_.startsWith("deletion_vector_")),
      "live DV bins must survive vacuum")
    // current version intact, DV still applied
    val back = DeltaLake.scanDelta(spark, path)
    assert(back.count() == 15)
    // second vacuum is a no-op
    assert(DeltaWriter.vacuum(spark, path).isEmpty)
  }

  test("z-ordered write: multi-dimensional file skipping beats row order") {
    val rows = (0 until 10000).map(i =>
      (i.toLong, (i % 100).toLong, ((i * 7919) % 100).toLong))
    val df = rows.toDF("id", "x", "y")
    val conds = Seq(Cond("x", "<", 25L), Cond("y", "<", 25L))

    val naive = tmp()
    DeltaWriter.write(df.repartition(8), naive)
    val keptNaive = DeltaLake.deltaMeta(spark, naive)
      .addActionsFiltered(conds).size

    val zed = tmp()
    DeltaWriter.write(df, zed, zOrderBy = Seq("x", "y"), zFiles = 8)
    val zMeta = DeltaLake.deltaMeta(spark, zed)
    assert(zMeta.liveFiles.size == 8)
    val keptZ = zMeta.addActionsFiltered(conds).size

    // hash-random layout: every file spans the full x/y range → nothing
    // skips; z-order clusters both dims → most files provably miss
    assert(keptNaive == 8, s"naive kept $keptNaive")
    assert(keptZ <= 4, s"z-order kept $keptZ of 8 files")
    // correctness identical on both layouts
    def result(p: String) = DeltaLake.scanDelta(spark, p,
      ScanSettings(conditions = conds))
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(result(zed) == result(naive))
    assert(result(zed).nonEmpty)
  }

  test("tiny deletes inline their DV; scattered big ones use a bin file") {
    val path = tmp()
    val df = (0L until 50000L).map(i => (i, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "v")
    DeltaWriter.write(df.coalesce(1), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def binFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).count(_.startsWith("deletion_vector_"))

    // a 1-row delete inlines: no filesystem object minted
    assert(DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 7L))) == 1L)
    val d1 = DeltaLake.deltaMeta(spark, path).liveFiles.head.deletionVector.get
    assert(d1.storageType == "i", s"expected inline DV, got $d1")
    assert(binFiles() == 0)
    assert(DeltaLake.scanDelta(spark, path).count() == 49999)
    // the inline form survives a checkpoint round trip
    DeltaWriter.writeCheckpoint(DeltaLog.forPath(spark, path))
    assert(DeltaLake.scanDelta(spark, path).count() == 49999)

    // a scattered half-table delete (alternating row indices compress
    // poorly) merges the prior inline bitmap and spills to a bin file
    assert(DeltaWriter.delete(spark, path, Seq(Cond("v", "=", "x"))) == 25000L)
    val d2 = DeltaLake.deltaMeta(spark, path).liveFiles.head.deletionVector.get
    assert(d2.storageType == "u", s"expected file DV, got $d2")
    assert(d2.cardinality == 25001L)
    assert(binFiles() == 1)
    val left = DeltaLake.scanDelta(spark, path)
    assert(left.count() == 24999)
    assert(left.where(col("v") === "x").count() == 0)
  }

  test("OPTIMIZE ZORDER reclusters existing files for multi-dim skipping") {
    val rows = (0 until 10000).map(i =>
      (i.toLong, (i % 100).toLong, ((i * 7919) % 100).toLong))
    val df = rows.toDF("id", "x", "y")
    val conds = Seq(Cond("x", "<", 25L), Cond("y", "<", 25L))
    val path = tmp()
    DeltaWriter.write(df.repartition(8), path) // hash-random layout
    // plant a DV so the recluster must fold deletions in too
    assert(DeltaWriter.delete(spark, path, Seq(Cond("id", "<", 100L))) == 100L)
    assert(DeltaLake.deltaMeta(spark, path)
      .addActionsFiltered(conds).size == 8) // nothing skips pre-recluster

    val n = DeltaWriter.compact(spark, path,
      targetFileBytes = 16 * 1024, zOrderBy = Seq("x", "y"))
    assert(n == 8, s"every source file should be rewritten, got $n")
    val snap = DeltaLake.deltaMeta(spark, path)
    assert(snap.liveFiles.nonEmpty)
    assert(snap.liveFiles.forall(!_.hasDeletionVector)) // DVs folded in
    val keptZ = snap.addActionsFiltered(conds).size
    assert(keptZ.toDouble / snap.liveFiles.size <= 0.5,
      s"recluster kept $keptZ of ${snap.liveFiles.size} files")
    // logical content identical (minus the DV-deleted rows); the
    // recluster is layout-only
    val ids = DeltaLake.scanDelta(spark, path)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(ids == (100L until 10000L).toSeq)
    val pruned = DeltaLake.scanDelta(spark, path,
      ScanSettings(conditions = conds))
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(pruned ==
      rows.filter(r => r._1 >= 100 && r._2 < 25 && r._3 < 25).map(_._1))
    // dataChange=false: time travel to the pre-recluster version intact
    val v1 = DeltaLake.scanDelta(spark, path,
      ScanSettings(version = Some(1L)))
    assert(v1.count() == 9900)
  }

  test("OPTIMIZE ZORDER splits a single oversized unclustered file") {
    val rows = (0 until 10000).map(i =>
      (i.toLong, (i % 100).toLong, ((i * 7919) % 100).toLong))
    val path = tmp()
    DeltaWriter.write(rows.toDF("id", "x", "y").coalesce(1), path)
    assert(DeltaLake.deltaMeta(spark, path).liveFiles.size == 1)
    val n = DeltaWriter.compact(spark, path,
      targetFileBytes = 16 * 1024, zOrderBy = Seq("x", "y"))
    assert(n == 1, "the single oversized file must be reclustered")
    val snap = DeltaLake.deltaMeta(spark, path)
    assert(snap.liveFiles.size >= 2,
      s"expected a Morton-range split, got ${snap.liveFiles.size} file(s)")
    val conds = Seq(Cond("x", "<", 25L), Cond("y", "<", 25L))
    assert(snap.addActionsFiltered(conds).size < snap.liveFiles.size,
      "recluster produced no skippable zone maps")
    assert(DeltaLake.scanDelta(spark, path).count() == 10000)
  }

  test("z-order clusters STRING keys by byte prefix (skipping + order)") {
    // mixed string + numeric z-order: the string dimension numifies to
    // its zero-padded 8-byte big-endian prefix, so equality/prefix
    // predicates skip files via the reader's string zone maps
    val rows = (0 until 8000).map { i =>
      (i.toLong, f"key${i % 40}%03d", ((i * 7919) % 100).toLong)
    }
    val df = rows.toDF("id", "k", "y")
    val conds = Seq(Cond("k", "=", "key007"))

    val naive = tmp()
    DeltaWriter.write(df.repartition(8), naive)
    val keptNaive = DeltaLake.deltaMeta(spark, naive)
      .addActionsFiltered(conds).size
    val zed = tmp()
    DeltaWriter.write(df, zed, zOrderBy = Seq("k", "y"), zFiles = 8)
    val keptZ = DeltaLake.deltaMeta(spark, zed).addActionsFiltered(conds).size
    assert(keptNaive == 8, s"naive kept $keptNaive")
    // 2-D Morton with 8 files: the string dim holds ~1.5 of the top 3
    // interleaved bits, so one key can touch up to half the files; +1
    // tolerance because repartitionByRange draws its boundaries by
    // RESERVOIR SAMPLING (seeded per RDD id — suite order shifts it),
    // and an unlucky draw can land one boundary inside the key's run
    assert(keptZ <= 5, s"z-order kept $keptZ of 8 files for one string key")
    // different-length strings: numeric order must stay lexicographic
    // ("b" after "aa"), proven through the full write+skip path
    val mixed = tmp()
    val df2 = (0 until 2000).map { i =>
      (i.toLong, Seq("aa", "ab", "b", "ba", "c")(i % 5))
    }.toDF("id", "s")
    DeltaWriter.write(df2, mixed, zOrderBy = Seq("s"), zFiles = 5)
    val kept = DeltaLake.deltaMeta(spark, mixed)
      .addActionsFiltered(Seq(Cond("s", "<", "ab"))).size
    assert(kept <= 2, s"kept $kept of 5 files for s < 'ab'")
    val got = DeltaLake.scanDelta(spark, mixed,
      ScanSettings(conditions = Seq(Cond("s", "<", "ab"))))
      .select("s").distinct().collect().map(_.getString(0)).toSet
    assert(got == Set("aa"))

    // URL-style shared prefix longer than the 8-byte encoding window:
    // without common-prefix stripping every value numifies identically
    // and the dimension silently stops clustering
    val urls = tmp()
    val df3 = (0 until 4000).map { i =>
      (i.toLong, f"https://site-${i % 20}%02d.example.com/p$i")
    }.toDF("id", "url")
    DeltaWriter.write(df3, urls, zOrderBy = Seq("url"), zFiles = 8)
    val keptUrl = DeltaLake.deltaMeta(spark, urls)
      .addActionsFiltered(Seq(
        Cond("url", "<", "https://site-05"))).size
    assert(keptUrl <= 3,
      s"kept $keptUrl of 8 files — common-prefix strip not clustering")
  }

  test("v2 (uuid-named) checkpoint with sidecar file actions replays") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = tmp()
    DeltaWriter.write((1L to 20L).toDF("id"), path)
    val snap = DeltaLake.deltaMeta(spark, path)
    val log = s"$path/_delta_log"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

    def writeOneParquet(df: org.apache.spark.sql.DataFrame, dest: String): Long = {
      val tmpDir = s"$log/.v2tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmpDir))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val size = fs.getFileStatus(part).getLen
      fs.rename(part, new org.apache.hadoop.fs.Path(dest))
      fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
      size
    }

    // sidecar parquet: ALL the add actions live here, not in the main file
    val mapSS = MapType(StringType, StringType, valueContainsNull = true)
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", mapSS),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val sidecarRows = snap.liveFiles.map(a => Row(Row(
      a.path, a.partitionValues.map { case (k, v) => k -> v.orNull },
      a.size, a.modificationTime, true, a.stats.orNull)))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$log/_sidecars"))
    val sidecarName = s"${java.util.UUID.randomUUID()}.parquet"
    val scSize = writeOneParquet(
      spark.createDataFrame(
        spark.sparkContext.parallelize(sidecarRows, 1),
        StructType(Seq(StructField("add", addType)))),
      s"$log/_sidecars/$sidecarName")

    // main v2 checkpoint: protocol (with v2Checkpoint feature), metaData,
    // checkpointMetadata, and the sidecar pointer — NO add actions
    val m = snap.metadata.get
    val mainSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", mapSS)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType))))))
    val mainRows = Seq(
      Row(Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null, null),
      Row(null, Row("t", m.schemaString, m.partitionColumns, m.configuration),
        null, null),
      Row(null, null, Row(0L), null),
      Row(null, null, null, Row(sidecarName, scSize)))
    val uuid = java.util.UUID.randomUUID()
    writeOneParquet(
      spark.createDataFrame(spark.sparkContext.parallelize(mainRows, 1), mainSchema),
      s"$log/" + f"${0L}%020d.checkpoint.$uuid.parquet")

    // point _last_checkpoint at it and remove the JSON commit entirely
    val lc = s"""{"version":0,"size":${mainRows.size}}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$log/_last_checkpoint"), true)
    try out.write((lc + "\n").getBytes("UTF-8")) finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$log/" + f"${0L}%020d.json"), false)

    val replayed = DeltaLake.deltaMeta(spark, path)
    assert(replayed.protocol.exists(
      _.readerFeatures.exists(_.contains("v2Checkpoint"))))
    assert(replayed.liveFiles.size == snap.liveFiles.size)
    assert(DeltaLake.scanDelta(spark, path).count() == 20)
  }

  test("DV shrink (external RESTORE) surfaces as CDF inserts, not silence") {
    // an external writer can commit a re-add whose DV covers FEWER rows
    // (delta-rs RESTORE); the CDF halves must surface the un-deleted
    // rows as inserts — dropping them would make "inserts then deletes
    // nets to the state" silently false
    val path = tmp()
    DeltaWriter.write((1L to 10L).toDF("id").coalesce(1), path)
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 3L)))
    val snap = DeltaLog.forPath(spark, path)
    val a = snap.liveFiles.head
    // hand-written restore commit: same file, no deletionVector
    val commit = new org.apache.hadoop.fs.Path(
      f"$path/_delta_log/${snap.version + 1}%020d.json")
    val fs = commit.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(commit, false)
    try out.write(
      (s"""{"add":{"path":"${a.path}","partitionValues":{},""" +
        s""""size":${a.size},"modificationTime":${a.modificationTime},""" +
        s""""dataChange":true}}\n""").getBytes("UTF-8"))
    finally out.close()

    // batch scan sees all rows again
    assert(DeltaLake.scanDelta(spark, path).count() == 10)
    // batch CDF: restored rows are inserts of the window; nothing
    // was deleted between the delete version and head
    val changes = DeltaLake.scanDeltaChanges(spark, path, snap.version)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(changes == Seq(1L, 2L, 3L), s"restored rows missing: $changes")
    assert(DeltaLake.scanDeltaDeletedRows(spark, path, snap.version)
      .count() == 0)

    // streaming CDF replay: v0 inserts 1..10, delete retracts 1..3,
    // restore re-inserts 1..3 — net = full table
    val state = scala.collection.mutable.Set.empty[Long]
    graft.streaming.DeltaStream.runAvailableNowCdf(spark, path, -1L) { (_, df) =>
      df.collect().foreach { r =>
        if (r.getAs[String]("_change_type") == "insert") state += r.getAs[Long]("id")
        else state -= r.getAs[Long]("id")
      }
    }
    assert(state.toSet == (1L to 10L).toSet, s"streamed state: $state")
  }

  test("a file read by several tasks: DML ORs their partial bitmaps") {
    val path = tmp()
    val n = 20000L
    val confKeys = Seq("parquet.block.size", "spark.sql.files.maxPartitionBytes")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k))
    try {
      // ONE data file with small row groups, so that several splits of
      // it each own rows
      spark.conf.set("parquet.block.size", 16L * 1024)
      DeltaWriter.write((1L to n).toDF("id")
        .withColumn("payload", sha2(col("id").cast("string"), 256))
        .coalesce(1), path)
      val files = DeltaLog.forPath(spark, path).liveFiles
      assert(files.size == 1)
      val orig = files.head
      spark.conf.set("spark.sql.files.maxPartitionBytes", math.max(orig.size / 4, 1L))
      // physical row index of each id, read without graft
      val rowIndexOf: Map[Long, Long] =
        spark.read.parquet(DeltaScan.resolvePath(path, orig.path))
          .select(col("id"), col("_metadata.row_index")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // precondition: the first and last rows are read by different tasks
      assert(DeltaLake.scanDelta(spark, path).where(col("id").isin(1L, n))
        .select(spark_partition_id()).distinct().count() == 2)

      // the head commit has ONE remove/add pair for the file, and its DV
      // is exactly the union of the rows deleted so far
      def checkCommit(deleted: Set[Long]): Unit = {
        val snap = DeltaLog.forPath(spark, path)
        val log = new org.apache.hadoop.fs.Path(
          f"$path/_delta_log/${snap.version}%020d.json")
        val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
        val src = scala.io.Source.fromInputStream(fs.open(log), "UTF-8")
        val actions = try src.getLines().map(ActionCodec.mapper.readTree).toList
          finally src.close()
        def count(kind: String) =
          actions.count(_.path(kind).path("path").asText() == orig.path)
        assert(count("remove") == 1 && count("add") == 1, actions.mkString("\n"))
        val dv = snap.liveFiles.find(_.path == orig.path).get.deletionVector.get
        assert(dv.cardinality == deleted.size.toLong)
        assert(DeletionVectors.deserializeData(DeletionVectors.read(spark, path, dv))
          .toSet == deleted.map(rowIndexOf))
      }

      assert(DeltaWriter.delete(spark, path,
        Seq(Cond("id", "in", Seq(1L, n)))) == 2L)
      checkCommit(Set(1L, n))
      assert(DeltaWriter.update(spark, path, Seq(Cond("id", "in", Seq(2L, n - 1))),
        Map("payload" -> lit("u"))) == 2L)
      checkCommit(Set(1L, n, 2L, n - 1))
      val st = DeltaWriter.merge(spark, path,
        Seq((3L, "m"), (n - 2, "m"), (n + 1, "new")).toDF("id", "payload"), Seq("id"))
      assert(st.updatedRows == 2L)
      checkCommit(Set(1L, n, 2L, n - 1, 3L, n - 2))

      val back = DeltaLake.scanDelta(spark, path)
      assert(back.count() == n - 1)
      assert(back.where(col("id").isin(1L, n)).count() == 0)
      assert(back.where(col("payload").isin("u", "m", "new")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap ==
        Map(2L -> "u", (n - 1) -> "u", 3L -> "m", (n - 2) -> "m", (n + 1) -> "new"))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("DV masking adds no join or exchange; a one-key DELETE shuffles nothing") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val path = tmp()
    val df = (1L to 200L).map(i => (i, (i % 4).toString)).toDF("id", "bucket")
    DeltaWriter.write(df, path, partitionBy = Seq("bucket"))
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 10L)))

    val scan = DeltaLake.scanDelta(spark, path)
    assert(scan.collect().map(_.getAs[Long]("id")).sorted.toSeq == (11L to 200L))
    val plan = scan.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case s: FileSourceScanExec => s }.size == 1, plan)
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan)
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[DvMask]))), plan)

    // shuffle bytes written by a one-key DELETE; a sentinel job run after
    // it marks the point where every earlier event has been delivered
    val sentinel = "dv-spec-sentinel"
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val sentinelJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          tasks.incrementAndGet()
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == sentinel)
          sentinelJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) drained.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(DeltaWriter.delete(spark, path, Seq(Cond("id", "=", 150L))) == 1L)
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.get > 1) // the delete's own tasks were seen
    assert(shuffled.get == 0L, s"${shuffled.get} shuffle bytes")
    assert(DeltaLake.scanDelta(spark, path).count() == 189L)
  }
}
