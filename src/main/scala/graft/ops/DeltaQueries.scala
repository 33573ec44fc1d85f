package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DeltaLake
import graft.delta.{Cond, DeltaWriter, ScanSettings}
import Registry.table

/** Driver-facing exercises of the CORE Delta engine: materialize a Delta
  * table (our writer: commit log + footer stats) from the plain parquet
  * test data, scan it back through the full pipeline (log replay →
  * pruning → projection → union), and let DuckDB check the result
  * against the original table. This puts log replay, partition-value
  * injection, file skipping and the scan projection under the hash
  * oracle, not just ScalaTest.
  */
object DeltaQueries {

  /** Deterministic per-sfDir staging location. */
  private def stage(dir: String, name: String): String =
    s"/tmp/graft_delta_stage/${dir.replaceAll("[^A-Za-z0-9]", "_")}/$name"

  /** Suffixes of derived sibling artifacts a staging script may write
    * next to its table — cleaned up together with the table on
    * re-staging (see [[stagedOnce]]).
    */
  private val ArtifactSuffixes =
    Seq("_before_ids", "_bands", "_vecs", "_manifest",
      "_src", "_store", "_store_bands", "_ckpt")

  /** Run `setup` at most once per (sfDir, name, source-data version) —
    * ACROSS JVMs, via an on-disk `_STAGED_OK` marker holding the source
    * table's fingerprint; a session-conf marker then skips even the
    * marker read on repeat calls in the same session. The cross-JVM
    * check is load-bearing for correctness, not just speed: staging
    * scripts append COMMITS (write → update → …), and a second JVM
    * re-running them on the already-staged table would double the
    * history — any history-reading query (x8's CDF from version 0)
    * then sees commits that were never scripted. The fingerprint
    * re-stages from scratch when the driver regenerates the testdata;
    * a missing marker (crash mid-setup) also rebuilds from scratch.
    *
    * SINGLE-WRITER ASSUMPTION: the marker protocol is not a mutex. The
    * harness runs Verify / perfbench / sbt test sequentially, never two
    * JVMs staging the same sfDir concurrently — if that ever changes,
    * the delete+setup below needs a lock file (or stage-into-temp +
    * atomic rename), because two JVMs could both see a stale marker
    * and one would delete the table root mid-query of the other.
    */
  private[ops] def stagedOnce(s: SparkSession, dir: String, name: String,
      srcTable: String)(setup: String => Unit): String = {
    val path = stage(dir, name)
    val marker = s"graft.delta.staged.$path"
    if (!s.conf.getOption(marker).contains("1")) {
      val fp = OpCaches.tableVersion(s, dir, srcTable)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      val ok = new org.apache.hadoop.fs.Path(path + "._STAGED_OK")
      val fresh =
        try {
          val in = fs.open(ok)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString == fp
          finally in.close()
        } catch { case _: java.io.IOException => false }
      if (!fresh) {
        fs.delete(root, true)
        // Sibling artifacts derived from the old staging (x10's
        // `<name>_before_ids` row-id snapshot) must go with the table:
        // ids snapshotted against old source data would otherwise be
        // joined against the freshly staged table, and a crash between
        // their write and the marker write would leave them behind.
        // EXPLICIT suffix list, not a `<name>_*` prefix glob — a glob
        // would also match another staged TABLE whose name extends this
        // one, deleting it under a still-set session marker. Any new
        // derived artifact must register its suffix here.
        ArtifactSuffixes.foreach(sfx =>
          fs.delete(new org.apache.hadoop.fs.Path(path + sfx), true))
        setup(path)
        val out = fs.create(ok, true)
        try out.write(fp.getBytes("UTF-8")) finally out.close()
      }
      s.conf.set(marker, "1")
    }
    path
  }

  private def ensureLineitemDelta(s: SparkSession, dir: String): String =
    stagedOnce(s, dir, "lineitem_delta", "lineitem") { path =>
      DeltaWriter.write(
        table(s, dir, "lineitem"), path, partitionBy = Seq("l_returnflag"))
    }

  def defs: Map[String, QueryDef] = Map(

    // Partition-pruned Delta scan: only the l_returnflag=R files are
    // read (pruning is driver-side against partitionValues), then the
    // quantity filter is pushed into the parquet scan.
    "x1_delta_scan_pruned" -> QueryDef(
      (s, dir) => {
        val path = ensureLineitemDelta(s, dir)
        DeltaLake.scanDelta(s, path, ScanSettings(
          conditions = Seq(Cond("l_returnflag", "=", "R"), Cond("l_quantity", ">", 45.0))))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Full-table Delta scan aggregation: partition values come from the
    // log (not the files) and must aggregate identically to the source.
    "x2_delta_scan_agg" -> QueryDef(
      (s, dir) => {
        val path = ensureLineitemDelta(s, dir)
        DeltaLake.scanDelta(s, path)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
            sum("l_extendedprice").as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
        |  sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Delta scan as a SQL view (the reference's create_view_for_delta
    // path): register + query through Spark SQL.
    "x3_delta_view_sql" -> QueryDef(
      (s, dir) => {
        val path = ensureLineitemDelta(s, dir)
        DeltaLake.createViewForDelta(s, path, "lineitem_delta_view")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
                |FROM lineitem_delta_view
                |WHERE l_quantity BETWEEN 10 AND 20
                |GROUP BY l_returnflag, l_linestatus
                |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem WHERE l_quantity BETWEEN 10 AND 20
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Delta scan as an EMITTED SQL STRING (the reference's
    // get_sql_for_delta + cte_wrap composition): the generated WITH
    // prefix is embedded in a larger hand-written aggregation and run
    // through spark.sql — partition pruning happens at emission time
    // (only the l_returnflag=A files appear in the SQL).
    "x4_delta_sql_string" -> QueryDef(
      (s, dir) => {
        val path = ensureLineitemDelta(s, dir)
        val prefix = DeltaLake.deltaSql(s, path,
          ScanSettings(conditions = Seq(Cond("l_returnflag", "=", "A"))),
          cteWrapName = Some("li_sql"))
        s.sql(prefix + """
          |SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
          |FROM li_sql GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
      },
      Some("""SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // MERGE (DV-based upsert) under the oracle: stage customer as a
    // partitioned Delta table, upsert a deterministic source (negated
    // balances for custkey%7=3; shifted new keys for custkey%11=0) in
    // ONE commit, scan the result back through the full pipeline. DuckDB
    // replays the same upsert relationally (anti-join + union).
    "x5_delta_merge" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val path = stagedOnce(s, dir, "customer_merge_delta", "customer") { path =>
          val cust = table(s, dir, "customer")
          DeltaWriter.write(cust, path, partitionBy = Seq("c_mktsegment"))
          val updates = cust.where(col("c_custkey") % 7 === 3)
            .withColumn("c_acctbal", -col("c_acctbal"))
          val inserts = cust.where(col("c_custkey") % 11 === 0)
            .withColumn("c_custkey", col("c_custkey") + 10000000L)
          DeltaWriter.merge(s, path, updates.unionByName(inserts),
            Seq("c_custkey"))
        }
        DeltaLake.scanDelta(s, path)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""WITH src AS (
        |  SELECT c_custkey, c_mktsegment, -c_acctbal AS c_acctbal
        |  FROM customer WHERE c_custkey % 7 = 3
        |  UNION ALL
        |  SELECT c_custkey + 10000000 AS c_custkey, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 11 = 0)
        |SELECT c_custkey, c_mktsegment, c_acctbal FROM (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |ORDER BY c_custkey""".stripMargin)),

    // UPDATE (DV mask + image append, one commit) under the oracle:
    // stage orders partitioned by status, negate o_totalprice for a key
    // range (the range prunes candidate files through zone maps), scan
    // back through the full pipeline. DuckDB replays the assignment as
    // a CASE expression.
    "x6_delta_update" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "orders_update_delta", "orders") { path =>
          DeltaWriter.write(table(s, dir, "orders"), path,
            partitionBy = Seq("o_orderstatus"))
          DeltaLake.updateWhere(s, path,
            Seq(Cond("o_orderkey", "<=", 5000L)),
            Map("o_totalprice" -> -col("o_totalprice")))
        }
        DeltaLake.scanDelta(s, path)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey <= 5000 THEN -o_totalprice
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // RESTORE under the oracle: stage part, deface it (DV delete, then
    // an append of shifted keys), roll back to v0 in one file-set-diff
    // commit, and scan — the result must equal the PRISTINE source
    // table, proving both halves of the diff (re-added DV revert,
    // removed append files) actually reverted.
    "x7_delta_restore" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "part_restore_delta", "part") { path =>
          DeltaWriter.write(table(s, dir, "part"), path) // v0
          DeltaLake.deleteWhere(s, path,
            Seq(Cond("p_partkey", "<=", 50L))) // v1: DV delete
          val extra = table(s, dir, "part").limit(10)
            .withColumn("p_partkey", col("p_partkey") + 9000000L)
          DeltaWriter.write(extra, path, mode = "append") // v2: append
          DeltaLake.restoreTable(s, path, 0L) // v3: roll it all back
        }
        DeltaLake.scanDelta(s, path)
          .select("p_partkey", "p_type", "p_retailprice")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_type, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // Stored-vs-derived CDF differential: ONE update on a CDF-enabled
    // staged table. scanDeltaCdf prefers the commit's STORED change
    // data (cdc actions → _change_data/ files, update_pre/postimages
    // normalized onto delete/insert) while the window halves
    // (scanDeltaChanges / scanDeltaDeletedRows) derive the same
    // changes from adds + DV bitmap diffs and never read cdc. Any
    // disagreement — a missing pre-image, a double-counted add under
    // the protocol's cdc-exclusivity rule, a value diverging between
    // the cdc copy and the data file — breaks the pinned constants.
    "x8_cdf_stored_vs_derived" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "customer_cdf_delta", "customer") { path =>
          DeltaWriter.write(table(s, dir, "customer"), path,
            properties = Map("delta.enableChangeDataFeed" -> "true"))
          DeltaLake.updateWhere(s, path,
            Seq(Cond("c_custkey", "<=", 1000L)),
            Map("c_acctbal" -> -col("c_acctbal")))
        }
        val stored = DeltaLake.scanDeltaCdf(s, path, 0L)
        val derived = DeltaLake.scanDeltaChanges(s, path, 0L)
          .withColumn("_change_type", lit("insert"))
          .unionByName(DeltaLake.scanDeltaDeletedRows(s, path, 0L)
            .withColumn("_change_type", lit("delete")))
        stored.agg(count(lit(1)).as("n_changes"))
          .crossJoin(stored.exceptAll(derived)
            .agg(count(lit(1)).as("only_stored")))
          .crossJoin(derived.exceptAll(stored)
            .agg(count(lit(1)).as("only_derived")))
      },
      Some("""SELECT CAST(2 * count(*) AS BIGINT) AS n_changes,
        |  CAST(0 AS BIGINT) AS only_stored,
        |  CAST(0 AS BIGINT) AS only_derived
        |FROM customer WHERE c_custkey <= 1000""".stripMargin)),

    // Column-mapping DDL under the oracle: stage part as Delta, RENAME
    // p_type → part_type and DROP p_name — both METADATA-ONLY commits
    // (the staged files are never rewritten; the renamed field keeps
    // its physical name, the dropped one stays in the files unread) —
    // then scan through the full mapped pipeline. DuckDB states the
    // same result relationally over the pristine parquet (alias +
    // projection), so a wrong physical resolution, a resurfaced
    // dropped column or a lost row hash-mismatches.
    "x9_delta_rename_drop" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "part_ddl_delta", "part") { path =>
          DeltaWriter.write(table(s, dir, "part"), path)
          DeltaLake.renameColumn(s, path, "p_type", "part_type")
          DeltaLake.dropColumn(s, path, "p_name")
        }
        DeltaLake.scanDelta(s, path)
          .where(col("p_size") <= 25)
          .select("p_partkey", "part_type", "p_retailprice")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_type AS part_type, p_retailprice
        |FROM part WHERE p_size <= 25 ORDER BY p_partkey""".stripMargin)),

    // Row-tracking stability under the oracle: stage customer with
    // `delta.enableRowTracking`, snapshot each row's stable id, then
    // OPTIMIZE (bin-pack rewrite, which materializes the ids into
    // physical columns so they survive the file rewrite per the
    // protocol's resolution order). The scan after OPTIMIZE must show
    // every row keeping its pre-OPTIMIZE id, all ids distinct — a
    // renumbering or collision breaks the pinned constants.
    "x10_row_ids_stable" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "customer_rowtrack_delta", "customer") { path =>
          DeltaWriter.write(table(s, dir, "customer"), path,
            properties = Map("delta.enableRowTracking" -> "true"))
          DeltaLake.scanDeltaWithRowIds(s, path)
            .select(col("c_custkey"), col("_row_id").as("id0"))
            .write.mode("overwrite").parquet(path + "_before_ids")
          DeltaWriter.compact(s, path)
        }
        val before = s.read.parquet(path + "_before_ids")
        val after = DeltaLake.scanDeltaWithRowIds(s, path)
          .select(col("c_custkey"), col("_row_id"))
        before.join(after, "c_custkey")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            countDistinct(col("_row_id")).as("n_distinct_ids"),
            sum(when(col("_row_id") === col("id0"), 0L).otherwise(1L))
              .cast("long").as("n_changed"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct_ids,
        |  CAST(0 AS BIGINT) AS n_changed
        |FROM customer""".stripMargin)),

    // Every scan MODIFIER in one pass through scanDelta, under the hash
    // oracle (reference: duckdb.py:532-546 distinct/limit composition,
    // delta_meta_retrieval.py:140-151 limit's file-level pruning):
    // `fields` projects (P6), `actionFilter` drops the l_returnflag=N
    // files at the ACTION level before any IO (M5), `distinct` dedups
    // (U2), and `limit` exercises the file-pruning + row-limit path
    // (M4/U3) — sized above any test scale factor so the retained row
    // set, and therefore the hash, stays deterministic while the limit
    // code path still runs (file selection stops at the cumulative-
    // rows>=limit cutoff; a smaller limit would make WHICH files
    // satisfy it an implementation detail the oracle can't mirror).
    // The REGISTERED FORMAT path (r8) under the hash oracle:
    // spark.read.format("graft-delta") resolves through the
    // ServiceLoader registry into GraftDeltaRelation — Catalyst pushes
    // the filters into PrunedFilteredScan.buildScan, where they
    // translate to Cond for partition pruning + stats skipping, and the
    // required columns prune the projection. Same staged table as x1,
    // different entry point: a divergence between the format path and
    // the library path (filter translation, column order, partition
    // typing) hash-mismatches here while x1 stays green.
    "x12_format_read" -> QueryDef(
      (s, dir) => {
        val path = ensureLineitemDelta(s, dir)
        s.read.format("graft-delta").load(path)
          .where(col("l_returnflag") === "R" && col("l_quantity") > 45.0)
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("sum_price"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus, count(*) AS n,
        |  sum(l_extendedprice) AS sum_price
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45.0
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    "x11_delta_scan_modifiers" -> QueryDef(
      (s, dir) => {
        val path = ensureLineitemDelta(s, dir)
        DeltaLake.scanDelta(s, path, ScanSettings(
          fields = Some(Seq("l_returnflag", "l_linestatus", "l_shipdate")),
          distinct = true,
          // must exceed lineitem's row count at ANY plausible test
          // scale (sf300 ≈ 1.8B rows) while staying under Int.MaxValue
          // so the row-limit code path still executes — a smaller value
          // would truncate the file selection and hash-diverge from
          // the LIMIT-less oracle
          limit = Some(2000000000L),
          actionFilter =
            _.partitionValues.get("l_returnflag").flatten.exists(_ != "N")))
          .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
      },
      Some("""SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem WHERE l_returnflag <> 'N'
        |ORDER BY l_returnflag, l_linestatus, l_shipdate""".stripMargin)),

    // REPLACE WHERE under the oracle, both execution paths in one
    // staged history: v1 replaces two partitions by PARTITION-VALUE
    // PROOF (whole-file removes, no data read — the O(changed-
    // partitions) backfill path), v2 replaces by a DATA-column
    // predicate with an empty source (DV-mask path, pure predicate
    // delete). DuckDB replays both steps relationally.
    "x13_delta_replace_where" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "supplier_rw_delta", "supplier") { path =>
          val sup = table(s, dir, "supplier")
          DeltaWriter.write(sup, path, partitionBy = Seq("s_nationkey"))
          // v1: partition backfill — nations 3 and 7 replaced by their
          // even-keyed rows with negated balances
          val repl = sup
            .where(col("s_nationkey").isin(3, 7) &&
              col("s_suppkey") % 2 === 0)
            .withColumn("s_acctbal", -col("s_acctbal"))
          DeltaWriter.replaceWhere(s, path,
            Seq(Cond("s_nationkey", "in", Seq(3, 7))), repl)
          // v2: data-column scope, empty source = predicate delete via
          // the DV path (s_acctbal is not a partition column)
          DeltaWriter.replaceWhere(s, path,
            Seq(Cond("s_acctbal", ">", 9000.0)), sup.limit(0))
        }
        DeltaLake.scanDelta(s, path)
          .select("s_suppkey", "s_nationkey", "s_acctbal")
          .orderBy("s_suppkey")
      },
      Some("""WITH after1 AS (
        |  SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
        |  WHERE s_nationkey NOT IN (3, 7)
        |  UNION ALL
        |  SELECT s_suppkey, s_nationkey, -s_acctbal AS s_acctbal
        |  FROM supplier
        |  WHERE s_nationkey IN (3, 7) AND s_suppkey % 2 = 0)
        |SELECT s_suppkey, s_nationkey, s_acctbal FROM after1
        |WHERE s_acctbal <= 9000.0
        |ORDER BY s_suppkey""".stripMargin)),

    // Type widening + ADD COLUMN under the oracle: the staged table
    // holds MIXED physical types (v0 files carry p_size as int32, the
    // post-widen append carries int64 beyond int range) plus a column
    // absent from the old files — the per-file up-convert and null-fill
    // paths a 100 TB table hits after years of schema evolution. DuckDB
    // replays both steps with casts over the pristine source.
    "x14_delta_widen_evolve" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.types.{DoubleType, LongType}
        val path = stagedOnce(s, dir, "part_widen_delta", "part") { path =>
          val p = table(s, dir, "part")
          DeltaWriter.write(p, path) // v0: p_size is int32
          DeltaWriter.widenColumnType(s, path, "p_size", LongType) // v1
          DeltaWriter.addColumn(s, path, "p_margin", DoubleType) // v2
          val extra = p
            .withColumn("p_partkey", col("p_partkey") + 7000000L)
            .withColumn("p_size", col("p_size").cast("long") + 3000000000L)
            .withColumn("p_margin", col("p_retailprice") * 0.1)
          DeltaWriter.write(extra, path, mode = "append") // v3: wide rows
        }
        DeltaLake.scanDelta(s, path)
          .select("p_partkey", "p_size", "p_margin")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(NULL AS DOUBLE) AS p_margin FROM part
        |UNION ALL
        |SELECT p_partkey + 7000000 AS p_partkey,
        |  CAST(p_size AS BIGINT) + 3000000000 AS p_size,
        |  p_retailprice * 0.1 AS p_margin FROM part
        |ORDER BY p_partkey""".stripMargin)),

    // The STREAMING change feed under the hash oracle: a scripted
    // history (write → UPDATE → DELETE → append, CDF stored) is
    // drained through the registered `graft-delta` source with
    // readChangeFeed=true from version 0 — per-commit admission,
    // (version, index) offsets, stored-CDC-preferred batches — and the
    // drained feed is reduced to per-(change_type, commit) counts and
    // checksums DuckDB replays relationally. Any divergence in change
    // attribution (a lost preimage, a double-counted update add file,
    // a snapshot leaking into the v0 replay) hash-mismatches here.
    // Disjoint UPDATE/DELETE predicates keep the relational replay
    // exact: deleted rows still carry their original prices.
    "x16_stream_cdf" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "orders_cdfstream_delta", "orders") { path =>
          val orders = table(s, dir, "orders")
          DeltaWriter.write(orders, path,
            properties = Map("delta.enableChangeDataFeed" -> "true")) // v0
          DeltaWriter.update(s, path,
            Seq(Cond("o_orderpriority", "=", "1-URGENT")),
            Map("o_totalprice" -> (col("o_totalprice") * 2))) // v1
          DeltaWriter.delete(s, path,
            Seq(Cond("o_orderpriority", "=", "5-LOW"))) // v2
          DeltaWriter.write(
            orders.where(col("o_orderpriority") === "3-MEDIUM")
              .withColumn("o_orderkey", col("o_orderkey") + 100000000L),
            path, mode = "append") // v3
        }
        // fresh checkpoint per drain: the feed must replay from v0
        // every invocation, not resume a prior run's offsets
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_x16_ckpt").toString
        // foreachBatch incremental aggregate: every micro-batch reduces
        // DISTRIBUTED to per-(change_type, commit) partials and only
        // those K rows reach the driver, where they merge into a
        // running map — the feed is never materialized driver-side, so
        // drain memory is O(change_types × commits) no matter the
        // change volume (the prior memory-sink shape held every CDF
        // row on the driver before aggregating).
        val acc = new java.util.concurrent.ConcurrentHashMap[
          (String, Long), (Long, Long, Double)]()
        // foreachBatch is at-least-once: a replayed batchId must not
        // merge its partials twice (the memory sink this replaced
        // deduped on batchId internally)
        val seen = java.util.concurrent.ConcurrentHashMap
          .newKeySet[Long]()
        val q = s.readStream.format("graft-delta")
          .option("readChangeFeed", "true")
          .option("startingVersion", "0")
          .load(path)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (seen.add(batchId)) {
              batch.groupBy(col("_change_type"), col("_commit_version"))
                .agg(count(lit(1)).as("n"),
                  sum("o_orderkey").cast("long").as("key_sum"),
                  sum("o_totalprice").as("price_sum"))
                .collect().foreach { r =>
                  acc.merge((r.getString(0), r.getLong(1)),
                    (r.getLong(2), r.getLong(3), r.getDouble(4)),
                    (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
                }
            }
            ()
          }
          .start()
        try q.processAllAvailable()
        finally {
          q.stop()
          // the throwaway checkpoint would otherwise accumulate per
          // invocation
          val cp = new org.apache.hadoop.fs.Path(ckpt)
          cp.getFileSystem(s.sessionState.newHadoopConf())
            .delete(cp, true)
        }
        import org.apache.spark.sql.types.{DoubleType, LongType,
          StringType, StructField, StructType}
        import scala.jdk.CollectionConverters._
        val rows = acc.asScala.toSeq.map { case ((ct, v), (n, ks, ps)) =>
          org.apache.spark.sql.Row(ct, v, n, ks,
            BigDecimal(ps).setScale(2, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)
        }
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("_change_type", StringType),
            StructField("_commit_version", LongType, nullable = false),
            StructField("n", LongType, nullable = false),
            StructField("key_sum", LongType, nullable = false),
            StructField("price_sum", DoubleType, nullable = false))))
          .orderBy("_change_type", "_commit_version")
      },
      Some("""WITH feed AS (
        |  SELECT 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version,
        |    o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT 'delete', 1, o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT 'insert', 1, o_orderkey, o_totalprice * 2 FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT 'delete', 2, o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderpriority = '5-LOW'
        |  UNION ALL
        |  SELECT 'insert', 3, o_orderkey + 100000000, o_totalprice FROM orders
        |  WHERE o_orderpriority = '3-MEDIUM')
        |SELECT _change_type, _commit_version, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  round(sum(o_totalprice), 2) AS price_sum
        |FROM feed GROUP BY _change_type, _commit_version
        |ORDER BY _change_type, _commit_version""".stripMargin)),

    // Clustered table (liquid clustering) end-to-end under the hash
    // oracle: clustered create -> unclustered appends -> parameterless
    // OPTIMIZE that RECLUSTERS on the stored columns. The staging
    // requires the layout facts (domain present, every live file
    // rewritten, per-file o_custkey ranges pairwise disjoint), so a
    // recluster that silently stopped clustering would fail here even
    // though the row set alone could not see it; the oracle then pins
    // the data: reclustering must be a pure layout change.
    "x17_delta_clustered" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "orders_clustered_delta", "orders") { path =>
          val orders = table(s, dir, "orders")
          DeltaWriter.write(
            orders.where(col("o_orderkey") % 2 === 0), path,
            clusterBy = Seq("o_custkey"), zFiles = 4) // v0: clustered
          DeltaWriter.write(
            orders.where(col("o_orderkey") % 2 === 1), path,
            mode = "append") // v1: unclustered debt
          val nBefore = DeltaLake.deltaMeta(s, path).liveFiles.size
          val n = DeltaWriter.compact(s, path) // v2: recluster
          val snap = DeltaLake.deltaMeta(s, path)
          require(DeltaWriter.clusteringColumns(snap) == Seq("o_custkey"),
            "clustering declaration lost")
          require(n == nBefore,
            s"recluster must rewrite all $nBefore live files, got $n")
          val ranges = snap.liveFiles.flatMap { a =>
            val st = a.parsedStats
            for {
              mn <- st.flatMap(_.minValues.get("o_custkey"))
              mx <- st.flatMap(_.maxValues.get("o_custkey"))
            } yield (mn.asLong, mx.asLong)
          }.sortBy(_._1)
          ranges.sliding(2).foreach {
            case Seq((_, aMax), (bMin, _)) => require(aMax <= bMin,
              s"recluster left overlapping o_custkey ranges: $ranges")
            case _ =>
          }
        }
        DeltaLake.scanDelta(s, path,
            ScanSettings(conditions =
              Seq(Cond("o_custkey", ">=", 100L),
                Cond("o_custkey", "<", 400L))))
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey >= 100 AND o_custkey < 400
        |ORDER BY o_orderkey""".stripMargin)),

    // DELETE → REORG PURGE under the oracle: soft-delete the negative
    // balances via DVs, then physically purge — the scan afterwards
    // reads only rewritten, DV-free files and must still equal DuckDB's
    // relational replay of the delete. The staging asserts no live DV
    // survives, so the oracle genuinely exercises the purged layout.
    "x15_delta_purge" -> QueryDef(
      (s, dir) => {
        val path = stagedOnce(s, dir, "customer_purge_delta", "customer") { path =>
          DeltaWriter.write(table(s, dir, "customer"), path,
            partitionBy = Seq("c_mktsegment")) // v0
          DeltaLake.deleteWhere(s, path,
            Seq(Cond("c_acctbal", "<", 0.0))) // v1: DV soft delete
          DeltaWriter.purge(s, path) // v2: rewrite DV-bearing files
          require(!DeltaLake.deltaMeta(s, path).liveFiles
              .exists(_.hasDeletionVector),
            "purge left a live deletion vector")
        }
        DeltaLake.scanDelta(s, path)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE c_acctbal >= 0.0
        |ORDER BY c_custkey""".stripMargin)),

    // Generated-column partition pruning under the oracle: events live
    // in a Delta table partitioned by event_date GENERATED ALWAYS AS
    // (CAST(ts AS DATE)) — the canonical 100 TB event-log layout — and
    // the query filters only on ts. Stats indexing is switched OFF at
    // staging, so the ONLY way the scan can avoid a file is the
    // partition cond derived through the generation expression
    // (GeneratedPruning); staging requires the ts window to touch <= 4
    // of the ~30 daily partitions, so a derivation regression fails
    // correctness. The oracle then pins that pruning changed nothing:
    // the aggregate must equal DuckDB's over the raw parquet.
    "x18_delta_generated_prune" -> QueryDef(
      (s, dir) => {
        val lo = java.time.Instant.parse("2024-01-10T06:00:00Z")
        val hi = java.time.Instant.parse("2024-01-13T18:00:00Z")
        val conds = Seq(Cond("ts", ">=", lo), Cond("ts", "<", hi))
        val path = stagedOnce(s, dir, "events_genpart_delta", "events") { path =>
          DeltaWriter.write(table(s, dir, "events"), path,
            partitionBy = Seq("event_date"),
            generatedColumns = Map("event_date" -> "CAST(ts AS DATE)"),
            properties = Map("delta.dataSkippingNumIndexedCols" -> "0"))
          val snap = DeltaLake.deltaMeta(s, path)
          val touched = snap.addActionsFiltered(conds)
            .flatMap(_.partitionValues.get("event_date").flatten).distinct
          require(touched.size <= 4 && touched.nonEmpty,
            s"generated pruning touched ${touched.size} partitions " +
              s"(${touched.sorted.mkString(",")}) — expected the 4 dates " +
              "the ts window can reach")
        }
        DeltaLake.scanDelta(s, path, ScanSettings(conditions = conds))
          .groupBy("event_date", "event_type")
          .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
          .orderBy("event_date", "event_type")
      },
      Some("""SELECT CAST(ts AS DATE) AS event_date, event_type,
        |  count(*) AS n, sum(value) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 06:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 18:00:00'
        |GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin)))
}
