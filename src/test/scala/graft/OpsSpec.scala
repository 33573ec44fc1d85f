package graft

import org.apache.spark.sql.functions._

import graft.functions.SimHash64
import graft.ops.{DedupOps, MultimodalOps, Registry, SimilarityOps}

/** Behavioral checks of the pipeline operators (beyond the driver's
  * oracle harness): planted duplicates must be found, sketches must be
  * deterministic, ANN variants must agree with brute force.
  */
class OpsSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  test("simhash: identical token bags hash identically, deterministic") {
    SimHash64.register(spark)
    val df = Seq(
      ("a b c d e f g h", 1), ("a b c d e f g h", 2),
      ("totally different words here now ok", 3))
      .toDF("text", "id")
      .select(col("id"),
        call_function("simhash64", split(col("text"), " ")).as("sh"))
    val rows = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows(1) == rows(2))
    assert(rows(1) != rows(3))
    // deterministic across evaluations
    val again = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == again)
  }

  test("simhash: near-identical docs are close in Hamming distance") {
    SimHash64.register(spark)
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val mutated = (1 to 60).map(i => if (i % 20 == 0) s"chg$i" else s"tok$i").mkString(" ")
    val df = Seq(base, mutated).toDF("text")
      .select(call_function("simhash64", split(col("text"), " ")).as("sh"))
    val Array(a, b) = df.collect().map(_.getLong(0))
    assert(java.lang.Long.bitCount(a ^ b) <= 16,
      s"expected small hamming distance, got ${java.lang.Long.bitCount(a ^ b)}")
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    // two docs sharing most shingles must appear as a candidate pair
    val q = DedupOps.defs("d3_minhash_pairs")
    val pairs = q.fn(spark, dir).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    val est = pairs.map(_.getDouble(2))
    assert(est.forall(e => e >= 0.2 && e <= 1.0))
  }

  test("ngram jaccard agrees with minhash estimate within tolerance") {
    val mh = DedupOps.defs("d3_minhash_pairs").fn(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val ex = DedupOps.defs("d4_ngram_jaccard").fn(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val joined = mh.join(ex, Seq("doc_a", "doc_b")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getDouble(2); val exact = r.getDouble(3)
      assert(math.abs(est - exact) <= 0.35,
        s"minhash estimate $est too far from exact $exact")
    }
  }

  test("ann LSH: planted near-duplicates collide at two signature widths") {
    // a vector and a slightly-perturbed copy have cosine ≈ 0.999; across
    // 4 independent sign-LSH tables they must share at least one
    // signature (deterministic given the md5-parity hyperplanes) — at
    // both a narrow and a wide signature (no hardcoded width anywhere)
    val rnd = new scala.util.Random(7)
    val v = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val vNear = v.zipWithIndex.map { case (x, i) =>
      if (i % 16 == 0) x + 0.01f else x }
    val df = Seq((0L, v.toSeq), (1L, vNear.toSeq)).toDF("vec_id", "embedding")
    for (bits <- Seq(8, 12)) {
      val sigs = SimilarityOps.lshTables(df, "embedding", bits)
        .select("vec_id", "tbl", "sig").collect()
        .groupBy(_.getLong(0))
        .map { case (id, rows) =>
          id -> rows.map(r => (r.getInt(1), r.getLong(2))).toSet }
      assert(sigs(0L).intersect(sigs(1L)).nonEmpty,
        s"near-identical vectors share no LSH signature at $bits bits")
    }
    // signature width scales with corpus size, clamped to [4, 20]
    assert(SimilarityOps.derivedBits(500) == 4)
    assert(SimilarityOps.derivedBits(100000) == 12)
    assert(SimilarityOps.derivedBits(1L << 40) == 20)
    assert(SimilarityOps.derivedBits(1) == 4)
    // exact at powers of two: 2^bits buckets of exactly TargetBucket
    assert(SimilarityOps.derivedBits(32 * 16) == 4)
    assert(SimilarityOps.derivedBits(32 * 16 + 1) == 5)
    // and the full query still runs end-to-end on real data
    val lsh = SimilarityOps.defs("s2_ann_lsh").fn(spark, dir)
    val rows = lsh.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(1) <= 5))
  }

  test("ann probe-from-store: a repeated query_id yields each neighbor once") {
    val idx = java.nio.file.Files.createTempDirectory("graft_annrep")
      .toString + "/idx"
    def vecs(ids: Seq[Long]) = ids.toDF("vec_id").withColumn("embedding",
      expr("transform(sequence(0, 63), " +
        "j -> cast(sin((vec_id % 5) * 1.3 + j * 0.1) + " +
        "0.01 * vec_id AS float))"))
    SimilarityOps.buildOrRefreshAnnIndex(spark, idx, vecs(0L until 40L))
    val once = vecs(0L until 3L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val k = 4
    def probe(q: org.apache.spark.sql.DataFrame) =
      SimilarityOps.annProbeFromStore(spark, idx, q, k)
        .select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // every query row sent three times in one batch
    val out = probe(once.union(once).union(once))
    assert(out.nonEmpty, "probe returned nothing — vectors never collide")
    assert(out.map(r => (r._1, r._3)).distinct.size == out.size,
      "a (query, neighbor) pair came back more than once")
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted == (1 to rows.size),
        s"query $q ranks ${rows.map(_._2).sorted} are not 1..n")
      assert(rows.size <= k)
    }
    assert(out.toSet == probe(once).toSet)
  }

  test("ivf quantizer K scales with the corpus: bounded cluster size") {
    // K ≈ ceil(n / TargetCluster), clamped [16, 2^22] — so the
    // expected cluster size n/K stays ≤ TargetCluster (=32) everywhere
    // below the upper clamp, which is what keeps d12's within-cluster
    // pairwise join Σ|cluster|² ≈ n·32 LINEAR in the corpus instead of
    // the quadratic n²/K a fixed K gives. (r13: the clamp moved out
    // from 65536 to 2^22 — the two-level quantizer removed the
    // driver-side K×Dim literal that justified the old bound.)
    assert(SimilarityOps.derivedK(1) == 16)
    assert(SimilarityOps.derivedK(500) == 16) // harness floor: sf0.01
    assert(SimilarityOps.derivedK(512) == 16)
    assert(SimilarityOps.derivedK(513) == 17)
    assert(SimilarityOps.derivedK(2000) == 63) // sf0.1
    assert(SimilarityOps.derivedK(20000) == 625) // sf1
    assert(SimilarityOps.derivedK(1L << 40) == (1 << 22)) // upper clamp
    // expected-cluster-size bound holds for every n below the clamp
    for (n <- Seq(1L, 100L, 500L, 2000L, 20000L, 1000000L, 2000000L,
        100000000L)) {
      val k = SimilarityOps.derivedK(n).toLong
      assert(n <= k * 32L,
        s"n=$n K=$k: expected cluster size ${n / k} exceeds the target")
    }
    // monotone in n — a growing corpus never shrinks the quantizer
    val ks = Seq(16L, 512L, 1000L, 5000L, 100000L, 10000000L)
      .map(SimilarityOps.derivedK(_))
    assert(ks == ks.sorted)
  }

  test("lsh signature kernel matches the reference fold, null-safe") {
    import graft.functions.LshSignature
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 50).map(_ => Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("id", "v")
      .select(col("id"),
        LshSignature.lshSignature(spark, col("v"), 12, 3, 64).as("sig"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference computation: left-to-right double fold per bit
    vecs.zipWithIndex.foreach { case (v, i) =>
      var expect = 0L
      for (b <- 0 until 12) {
        var acc = 0.0
        for (j <- 0 until 64) acc += v(j).toDouble * LshSignature.sign(3, b, j)
        if (acc >= 0) expect |= 1L << b
      }
      assert(got(i.toLong) == expect, s"vector $i")
    }
    // null vector → null signature
    val withNull = Seq((0L, Some(vecs.head.toSeq)), (1L, None)).toDF("id", "v")
      .select(LshSignature.lshSignature(spark, col("v"), 8, 0, 64).as("sig"))
      .collect()
    assert(!withNull(0).isNullAt(0) && withNull(1).isNullAt(0))
  }

  test("nearest-centroid kernel matches the composed argmax form") {
    import graft.functions.{NearestCentroid, VectorCosine}
    val rnd = new scala.util.Random(23)
    val cents: Seq[Seq[Double]] =
      (1 to 16).map(_ => Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    val df = (1 to 80).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("id", "v")
    val viaKernel = df.select(col("id"),
      NearestCentroid.nearestCentroid(spark, col("v"), typedlit(cents)).as("cl"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sims = array(cents.map(c =>
      VectorCosine.vectorCosine(spark, typedlit(c), col("v"))): _*)
    val viaComposed = df.select(col("id"),
      (array_position(sims, array_max(sims)) - 1).cast("int").as("cl"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaKernel == viaComposed)
  }

  test("fast-vs-md5 differentials report agreement (the harness signal)") {
    // round-4 verdict item 1: the former spec-only agreement check is
    // retired into the driver harness via the d{3,4,6}_fast_vs_md5
    // entries — here we pin their local behavior: one row, zero
    // one-sided counts, agree = true on the fixture corpus
    for (name <- Seq("d3_fast_vs_md5", "d4_fast_vs_md5", "d6_fast_vs_md5")) {
      val rows = Registry.all(name).fn(spark, dir).collect()
      assert(rows.length == 1, s"$name must reduce to one row")
      val r = rows(0)
      assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getBoolean(2),
        s"$name reports flavor divergence: $r")
    }
  }

  test("q22 approx twin stays within 1% relative error at the bench SF") {
    // round-4 verdict item 7: the approx_percentile production twin is
    // error-bounded against the exact baseline at sf0.1 (the driver's
    // bench scale), via the same differential the harness checks
    val row = Registry.all("q22_approx_vs_exact")
      .fn(spark, "/root/testdata/sf0.1").collect()
    assert(row.length == 1 && row(0).getBoolean(0),
      "approx_percentile exceeded 1% relative error at sf0.1")
  }

  test("public minhashPairs defaults to the fast xxhash64 path") {
    import graft.ops.DedupOps
    // production callers must not pay the md5 oracle-parity tax unless
    // they opt in; the driver/oracle entries pin fastHash = false
    val plan = DedupOps.minhashPairs(spark, dir)
      .queryExecution.analyzed.toString
    assert(plan.contains("xxhash64"), "default path lost the fast hash")
    val oraclePlan = Registry.all("d3_minhash_pairs").fn(spark, dir)
      .queryExecution.analyzed.toString
    assert(!oraclePlan.contains("xxhash64"),
      "oracle entry must stay on md5 for DuckDB parity")
  }

  test("op caches: no growth across repeat invocations, releasable") {
    import graft.ops.OpCaches
    import org.apache.spark.storage.StorageLevel
    OpCaches.clear()
    DedupOps.minhashPairs(spark, dir).count()
    val n1 = OpCaches.size
    assert(n1 > 0)
    DedupOps.minhashPairs(spark, dir).count()
    assert(OpCaches.size == n1,
      "repeat invocation must reuse tracked caches, not add entries")
    val dfs = OpCaches.tracked.toSeq
    OpCaches.clear()
    assert(OpCaches.size == 0)
    assert(dfs.forall(_.storageLevel == StorageLevel.NONE),
      "clear() must unpersist every tracked relation")
    // ops still correct after release (re-derive and re-cache)
    assert(DedupOps.minhashPairs(spark, dir).count() > 0)
    OpCaches.clear()
  }

  test("connected components converge on a long-diameter chain") {
    // a 51-node path (diameter 50): plain min-label propagation would
    // need ~50 rounds; large-star/small-star must star-collapse it in
    // O(log n) — the convergence-speed contract, not just correctness.
    // Also walks the localCheckpoint lineage-truncation branch.
    val n = 51L
    val docs = (0L until n).toDF("doc_id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = chain.unionByName(
      chain.select(col("dst").as("src"), col("src").as("dst")))
    val (labelDf, rounds) =
      DedupOps.connectedComponentsWithRounds(docs, edges)
    val labels = labelDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (0L until n).map(_ -> 0L).toMap)
    assert(rounds <= 12,
      s"diameter-50 path took $rounds rounds — not the O(log n) contract")
    // two components stay separate
    val docs2 = (0L until 4L).toDF("doc_id")
    val e2 = Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val two = DedupOps.connectedComponents(docs2, e2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("ann IVF: good recall vs brute force on real data") {
    val bf = SimilarityOps.defs("s1_ann_bruteforce").fn(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.defs("s4_ann_ivf").fn(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = bf.count(ivf.contains).toDouble / bf.size
    // nprobe = derivedNprobe(derivedK(n)) of derivedK(n) lists (4 of 16
    // at this corpus's size — the clamp floor) must recover a
    // reasonable share of the true top-5
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("ann IVF recall holds where K exceeds the clamp floor (derived nprobe)") {
    // 2,000 synthetic vectors => derivedK = 63, derivedNprobe = 8: the
    // regime the fixed nprobe=4 silently degraded in (probing 4/63 of
    // the lists) — unobserved before because the only recall spec ran
    // at the 500-vector corpus where derivedK == 16
    import spark.implicits._
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ivf_recall").toString
    (0L until 2000L).map { i =>
      (i, (0 until 64).map(j =>
        (math.sin((i % 40) * 1.7 + j * 0.23) +
          0.02 * math.cos(i * 0.011 + j)).toFloat).toArray)
    }.toDF("vec_id", "embedding")
      .write.parquet(dir2 + "/embeddings.parquet")
    assert(SimilarityOps.derivedK(2000L) == 63)
    assert(SimilarityOps.derivedNprobe(63) == 8)
    val bf = SimilarityOps.defs("s1_ann_bruteforce").fn(spark, dir2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.defs("s4_ann_ivf").fn(spark, dir2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ivf.contains).toDouble / bf.size
    assert(recall >= 0.3, s"IVF recall $recall too low at derived K=63")
  }

  test("ivf model degrades to |corpus| lists below the K clamp floor") {
    // 8 vectors: derivedK clamps to 16 but only 8 seeds exist — the
    // quantizer must degrade to 8 lists (like the oracle's seeds CTE),
    // not throw on seeds(8..15)
    import spark.implicits._
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ivf_tiny").toString
    (0L until 8L).map { i =>
      (i, (0 until 64).map(j =>
        math.sin(i * 1.3 + j * 0.1).toFloat).toArray)
    }.toDF("vec_id", "embedding")
      .write.parquet(dir2 + "/embeddings.parquet")
    val (n, k, _, mx) = SimilarityOps.semDedupCandidateStats(spark, dir2)
    assert(n == 8L)
    assert(k == 8, s"expected 8 degraded lists, got $k")
    assert(mx <= 8L)
    // the dependent operators run end-to-end on the tiny corpus
    assert(SimilarityOps.defs("d12_sem_dedup").fn(spark, dir2).count() == 8L)
  }

  test("bucketed join plan has no shuffle exchange before the join") {
    val df = Registry.all("q18_bucketed_join").fn(spark, dir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1)
    assert(joinSection.nonEmpty, s"no sort-merge/hash join in:\n${plan.take(1500)}")
    // exchanges may exist later (groupBy/orderBy) but none below the join
    assert(!joinSection.mkString.contains("Exchange hashpartitioning"),
      s"join still shuffles:\n${plan.take(2500)}")
  }

  test("q15 heavy-hitter salting: equals the plain join; replication " +
      "confined to the hot leg") {
    val out = Registry.all("q15_salted_join").fn(spark, dir)
    val li = Registry.table(spark, dir, "lineitem")
    val o = Registry.table(spark, dir, "orders")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .orderBy("o_orderpriority")
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty,
      "heavy-hitter salted join diverged from the plain join")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the K-row hot set reaches every leg as a broadcast, never a shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-key set not broadcast:\n${plan.take(2000)}")
    // exactly ONE explode: the hot build leg. The retired r15 shape
    // replicated the ENTIRE orders side ×salts (its blanket Generate
    // was the worst sf1 warm ratio in the table); the cold leg must
    // join plain.
    assert("Generate".r.findAllIn(plan).length == 1,
      s"salt replication leaked past the hot leg:\n${plan.take(2500)}")
  }

  test("e3 as-of plan is a window, not a join — no row explosion") {
    val df = Registry.all("e3_asof_join").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"as-of should not join:\n${plan.take(2000)}")
    assert(plan.contains("Window"), s"expected a window plan:\n${plan.take(2000)}")
  }

  test("s2 LSH candidate probe is a broadcast join (no corpus shuffle)") {
    val df = SimilarityOps.defs("s2_ann_lsh").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"probe should broadcast:\n${plan.take(2000)}")
  }

  test("t8 contamination joins broadcast the probe side (no corpus SMJ)") {
    val df = Registry.all("t8_contamination").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"),
      s"probe joins must broadcast, not sort-merge:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast join found:\n${plan.take(2000)}")
  }

  test("e5 funnel: stage timestamps strictly ordered, steps consistent") {
    val df = Registry.all("e5_funnel").fn(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = Option(r.get(1)); val c = Option(r.get(2)); val p = Option(r.get(3))
      val steps = r.getInt(4)
      // a stage can only exist if the previous one does, strictly earlier
      assert(c.isEmpty || v.isDefined)
      assert(p.isEmpty || c.isDefined)
      Seq(v, c, p).flatten
        .map(_.asInstanceOf[java.time.LocalDateTime]).sliding(2).foreach {
          case Seq(a, b) => assert(a.isBefore(b), s"stages out of order: $a !< $b")
          case _ =>
        }
      assert(steps == Seq(v, c, p).count(_.isDefined))
    }
    // the funnel is one user_id shuffle: three window ops, no self-join
    // (plan read from the SAME execution as the collect above)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"funnel must not self-join:\n${plan.take(1500)}")
  }

  test("t9 pii scrub: planted emails and numbers redacted, counted") {
    // the fixture corpus is PII-free, so the oracle only proves the
    // no-op path; plant real matches
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pii").toString
    import spark.implicits._
    Seq(
      (1L, "contact alice.smith+x@ex-ample.org or bob@b.co today"),
      (2L, "card 1234567890123456 and id 987654321 leaked"),
      (3L, "clean text with short 12345 number and no at sign"),
      // digit run consumed by the email pass: audit counts must match
      // placeholders inserted, not raw-text matches
      (4L, "mail 123456789@spam.com now"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val out = Registry.all("t9_pii_scrub").fn(spark, dir2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._1 == "contact <EMAIL> or <EMAIL> today")
    assert(out(1L)._2 == 2 && out(1L)._3 == 0)
    assert(out(2L)._1 == "card <NUM> and id <NUM> leaked")
    assert(out(2L)._2 == 0 && out(2L)._3 == 2)
    assert(out(3L) == (("clean text with short 12345 number and no at sign", 0L, 0L)))
    assert(out(4L) == (("mail <EMAIL> now", 1L, 0L)),
      s"digit run inside a redacted email double-counted: ${out(4L)}")
  }

  test("e5 funnel: partial and out-of-order funnels (planted corpus)") {
    // every fixture user completes all 3 steps, so the null-propagation
    // and steps 0/1/2 branches need a planted corpus: write an events
    // table in the fixture encoding (ts = INT64 epoch-nanos)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    def ev(id: Long, t: Long, u: Long, typ: String) =
      (id, t * 1000000000L, u, typ, 1.0, "{}")
    import spark.implicits._
    Seq(
      ev(1, 10, 1, "view"), ev(2, 20, 1, "click"), ev(3, 30, 1, "purchase"),
      ev(4, 10, 2, "view"), ev(5, 20, 2, "click"),
      ev(6, 10, 3, "view"),
      ev(7, 10, 4, "click"), ev(8, 20, 4, "purchase"),  // no view: 0 steps
      // purchase BEFORE the funnel, then view+click: purchase must not count
      ev(9, 5, 5, "purchase"), ev(10, 10, 5, "view"), ev(11, 20, 5, "click"),
      // click before view: only the view counts
      ev(12, 20, 6, "view"), ev(13, 10, 6, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val out = Registry.all("e5_funnel").fn(spark, dir2)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(out == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0, 5L -> 2, 6L -> 1),
      s"funnel steps wrong: $out")
  }

  test("t7 chunking is one linear pass: no join, one exchange (the sort)") {
    val df = Registry.all("t7_chunk_windows").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"chunking must not join:\n${plan.take(1500)}")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,  // rangepartitioning for the final orderBy (+AQE read)
      s"chunking shuffled more than the final sort ($exchanges):\n${plan.take(1500)}")
  }

  test("dedup components: cluster labels are transitive fixpoints") {
    import graft.ops.DedupOps
    val pairs = DedupOps.defs("d3_minhash_pairs").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = DedupOps.defs("d6_dedup_components").fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 500)
    // every directly-connected pair shares a representative…
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // …the representative is a member of its own cluster…
    labels.values.foreach(rep => assert(labels(rep) == rep))
    // …and untouched docs are singletons
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot { case (d, _) => touched.contains(d) }
      .foreach { case (d, rep) => assert(d == rep) }
  }

  test("t12 vocabulary: counts match a driver-side tally, order strict") {
    val rows = Registry.all("t12_vocabulary").fn(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // independent driver-side tally (the fixture vocab is < K, so the
    // result is the WHOLE vocabulary — still top-K-shaped in the plan)
    val tally = Registry.table(spark, dir, "documents")
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    assert(rows.length == math.min(100, tally.size))
    // strictly ordered by (n desc, token asc) — the determinism contract
    rows.sliding(2).foreach { case Array((ta, na), (tb, nb)) =>
      assert(na > nb || (na == nb && ta < tb), s"order broken at $ta/$tb")
    }
    rows.foreach { case (t, n) => assert(tally(t) == n, s"count of '$t'") }
    assert(rows.map(_._2).head == tally.values.max)
  }

  test("e8 anomalies: every flagged hour exceeds 3 sigma of a driver-side tally") {
    val rows = Registry.all("e8_anomaly").fn(spark, dir).collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "fixture should contain at least one 3-sigma hour")
    // independent tally: hourly counts and per-type moments, driver-side
    val hourly = graft.ops.EventOps.readEvents(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .collect().map(r => (r.get(0).toString, r.getString(1)))
      .groupBy(identity).map { case (k, a) => k -> a.length.toLong }
    val byType = hourly.groupBy(_._1._2)
    rows.foreach { case (h, typ, n, z) =>
      assert(hourly((h, typ)) == n, s"count of ($h,$typ)")
      val ns = byType(typ).values.map(_.toDouble).toSeq
      val mean = ns.sum / ns.size
      val sd = math.sqrt(ns.map(x => (x - mean) * (x - mean)).sum / (ns.size - 1))
      assert(math.abs(n - mean) > 3 * sd, s"($h,$typ) not 3-sigma: n=$n")
      assert(math.abs((n - mean) / sd - z) < 0.001, s"z mismatch at ($h,$typ)")
    }
    // completeness: no 3-sigma hour is missing from the result
    val flagged = rows.map(r => (r._1, r._2)).toSet
    byType.foreach { case (typ, hs) =>
      val ns = hs.values.map(_.toDouble).toSeq
      val mean = ns.sum / ns.size
      val sd = math.sqrt(ns.map(x => (x - mean) * (x - mean)).sum / (ns.size - 1))
      if (sd > 0) hs.foreach { case ((h, _), n) =>
        if (math.abs(n - mean) > 3 * sd)
          assert(flagged.contains((h, typ)), s"missed anomaly ($h,$typ)")
      }
    }
  }

  test("e6 retention: offset-0 equals cohort size, later offsets never exceed it") {
    val rows = Registry.all("e6_retention").fn(spark, dir).collect()
      .map(r => (r.get(0).toString, r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 >= 0), "negative day offset")
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val day0 = rs.find(_._2 == 0)
      assert(day0.isDefined, s"cohort $c missing its own first day")
      assert(rs.forall(_._3 <= day0.get._3),
        s"cohort $c retains more users than it has")
    }
    // every user appears in exactly one cohort (first-event day)
    val users = Registry.all("e6_retention").fn(spark, dir)
    val totalDay0 = byCohort.values.map(_.find(_._2 == 0).get._3).sum
    val distinctUsers = {
      import spark.implicits._
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Registry.table(spark, dir, "events").select("user_id").distinct().count()
    }
    assert(totalDay0 == distinctUsers, s"$totalDay0 != $distinctUsers")
  }

  test("m4 frame sample: 4 in-range, increasing frames per clip") {
    val rows = Registry.all("m4_frame_sample").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val n = Registry.table(spark, dir, "documents").count()
    assert(rows.length == 4 * n)
    rows.groupBy(_._1).foreach { case (id, fs) =>
      val sorted = fs.sortBy(_._2)
      val total = sorted.head._3
      assert(total >= 8 && total < 64, s"clip $id frame count $total")
      assert(sorted.forall(f => f._2 >= 0 && f._2 < total))
      assert(sorted.map(_._2).distinct.length == 4,
        s"clip $id sampled duplicate frames")
      assert(sorted.head._2 == 0L) // always anchors the first frame
      assert(fs.forall(f => f._4 >= 0.0 && f._4 < 1.0))
    }
    // deterministic stub: rerun is identical
    val again = Registry.all("m4_frame_sample").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.toSeq == again.toSeq)
  }

  test("m5 real PNG roundtrip: decode matches the generator, one codec init per partition") {
    import org.apache.spark.sql.functions.col
    val ids = spark.range(0, 37).toDF("doc_id").repartition(5)
    val blobs = MultimodalOps.generatePngs(spark, ids)
    // real PNG bytes on the wire (magic header)
    val first = blobs.orderBy("doc_id").select("blob").head.getAs[Array[Byte]](0)
    assert(first.take(4).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))

    val inits = spark.sparkContext.longAccumulator("codec_inits")
    val staged = blobs.repartition(5)
    val out = MultimodalOps.decodePng(staged, Some(inits))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(inits.value == 5L, s"codec inits ${inits.value} != partitions 5")

    assert(out.length == 37)
    out.foreach { case (id, w, h, ch, sum) =>
      assert(w == MultimodalOps.genWidth(id))
      assert(h == MultimodalOps.genHeight(id))
      assert(ch == 3)
      var exp = 0L
      // channel-weighted like the decoder: a band-order mixup must fail
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        exp += (c + 1) * MultimodalOps.genSample(id, x, y, c)
      assert(sum == exp, s"doc $id pixel sum $sum != $exp — lossy roundtrip")
    }
    // decode is narrow: partition count flows through unchanged
    assert(MultimodalOps.decodePng(staged).rdd.getNumPartitions == 5)
    assert(ids.select(col("doc_id")).count() == 37)
  }

  // the pure-arithmetic m6 reference: pixels -> cells -> threshold,
  // straight from the generator's closed form, never touching the
  // PNG codec — so a lossy stage, band mixup, or cell-grid drift in
  // the decode path breaks equality below like m5's px_sum check
  private def refAHash(id: Long): Long = {
    val g = MultimodalOps.m6Group(id)
    val w = MultimodalOps.genWidth(g); val h = MultimodalOps.genHeight(g)
    val cs = new Array[Long](64); val cn = new Array[Long](64)
    var tot = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val gray = (0 until 3).map(c => MultimodalOps.m6Sample(id, x, y, c))
        .sum.toLong
      val b = (y * 8 / h) * 8 + (x * 8 / w)
      cs(b) += gray; cn(b) += 1; tot += gray
    }
    val n = w.toLong * h
    (0 until 64).foldLeft(0L) { (a, b) =>
      if (cs(b) * n > tot * cn(b)) a | (1L << b) else a
    }
  }

  test("m6 aHash: decoded hash equals the closed form; planted near-dups " +
      "are near in Hamming, cross-group images far") {
    val ids = spark.range(0, 25).toDF("doc_id").repartition(3)
    val hashed = MultimodalOps.aHash64(
      MultimodalOps.generateNearDupPngs(spark, ids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed.size == 25)
    hashed.foreach { case (id, ah) =>
      assert(ah == refAHash(id), s"doc $id: decoded aHash diverged")
    }
    // planted structure: every within-group pair within the verify
    // threshold; the copy-0 docs of distinct groups (unrelated base
    // images) far apart
    for (g <- 0L until 5L; a <- 0 until 5; b <- (a + 1) until 5) {
      val d = java.lang.Long.bitCount(hashed(g * 5 + a) ^ hashed(g * 5 + b))
      assert(d <= 8, s"group $g copies $a,$b: hamming $d")
    }
    val far = for (g1 <- 0L until 5L; g2 <- (g1 + 1) until 5L)
      yield java.lang.Long.bitCount(hashed(g1 * 5) ^ hashed(g2 * 5))
    assert(far.count(_ > 8) >= 8,
      s"cross-group hashes implausibly close: $far")
  }

  test("m6 base-image aHash bands stay near-uniform — the banded join's " +
      "health condition") {
    // the r16 rehearsal caught the LINEAR base form funneling ~6% of
    // all groups into one (band, bits) bucket (m6 sf1 warm 197 s,
    // ratio 69.8x on 10x docs — quadratic candidates). The mixed form
    // must keep every bucket small and the candidate count within a
    // constant of the uniform floor; this is pure closed-form
    // arithmetic over 1000 base images, no Spark, so a regression in
    // the generator shows up at test speed.
    val hashes = (0L until 1000L).map(g => refAHash(g * 5))
    var worst = 0
    var cand = 0L
    for (band <- 0 until 4) {
      val sizes = hashes.groupBy(h => (h >>> (band * 16)) & 0xFFFFL)
        .values.map(_.size)
      worst = math.max(worst, sizes.max)
      cand += sizes.map(n => n.toLong * (n - 1) / 2).sum
    }
    // linear-form measurements at this scale: worst ~125, cand ~31k
    assert(worst <= 20, s"hot band bucket: $worst of 1000 groups")
    assert(cand <= 2500, s"candidate group-pairs $cand — banded join " +
      "headed quadratic")
  }

  test("m6 plan: banded candidate generation, never an all-pairs join") {
    val df = Registry.all("m6_image_neardup").fn(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty, "near-dup corpus surfaced no pairs")
    assert(rows.forall(_.getLong(2) <= 8))
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"m6 candidates degenerated to all-pairs:\n${plan.take(1500)}")
    // candidates come from the (band, bits) bucket equi-join
    assert(plan.contains("band"), plan.take(1500))
  }

  test("dedup corpus keeps exactly the cluster representatives") {
    val labels = DedupOps.defs("d6_dedup_components").fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Registry.all("d8_dedup_corpus").fn(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == labels.values.toSet,
      "materialized corpus must be exactly the representative set")
    assert(kept.forall(d => labels(d) == d))
    assert(kept.size <= labels.size)
  }

  test("p1 curation: every stage's invariant holds on the output") {
    val out = Registry.all("p1_curation").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out.nonEmpty)
    val ids = out.map(_._1).toSet
    val docs = Registry.table(spark, dir, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    // quality gate: survivors satisfy it
    ids.foreach { id =>
      val tk = docs(id)._1.toLowerCase.split("\\s+")
      assert(tk.distinct.length.toDouble / tk.length >= 0.5)
      assert(tk.length >= 20 && tk.length <= 2000)
    }
    // dedup: no two survivors share a text
    assert(ids.map(docs(_)._1).size == ids.size, "duplicate texts survived")
    // mixture: per-source counts within the sqrt quota of the POST-dedup,
    // post-quality pool (never more than the whole source either)
    val srcTotals = docs.values.groupBy(_._2).map { case (s, a) => s -> a.size }
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.size <= math.ceil(math.sqrt(srcTotals(src).toDouble)))
    }
  }

  test("dedup exact: grouping is lossless (copies sum to corpus size)") {
    val total = Registry.table(spark, dir, "documents").count()
    val grouped = DedupOps.defs("d1_dedup_exact").fn(spark, dir)
      .agg(sum("n_copies")).collect()(0).getLong(0)
    assert(grouped == total)
  }

  test("chunking: windows tile every token with the configured overlap") {
    val rows = Registry.all("t7_chunk_windows").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(rows.nonEmpty)
    val tokenCounts = Registry.table(spark, dir, "documents")
      .select(col("doc_id"), size(split(lower(col("text")), "\\s+")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (docId, chunks) =>
      val n = tokenCounts(docId)
      // chunk ids are dense from 0; chunk i covers tokens
      // [16i+1, 16i+32]; the LAST chunk is the first whose window
      // reaches the end — no chunk may be a subset of another
      val sorted = chunks.sortBy(_._2)
      assert(sorted.map(_._2) == (0L until sorted.size).toSeq)
      assert(sorted.size == math.max(0L, Math.floorDiv(n - 17, 16)) + 1,
        s"doc $docId (n=$n) has ${sorted.size} chunks")
      sorted.foreach(c => assert(c._3 == math.min(32L, n - 16L * c._2),
        s"chunk ${c._2} of doc $docId has ${c._3} tokens (n=$n)"))
      // the final window reaches the last token (full coverage)
      assert(16L * sorted.last._2 + sorted.last._3 == n)
      // chunk text round-trips its token count
      sorted.foreach(c => assert(c._4.split(" ", -1).length == c._3))
    }
  }

  test("t10 repetition: planted repeats scored, distinct text clean") {
    val dir2 = java.nio.file.Files.createTempDirectory("graft-rep").toString
    Seq(
      (1L, "spam spam spam spam"),     // one token repeated
      (2L, "one two three four five"), // fully distinct
      (3L, "solo"),                    // single-token edge: no 2-grams
      (4L, "ab ab cd ab ab"))          // mixed repetition
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val out = Registry.all("t10_repetition").fn(spark, dir2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4, 1.0 - 1.0 / 3, 1.0)), s"got ${out(1L)}")
    assert(out(2L) == ((5, 0.0, 1.0 / 5)), s"got ${out(2L)}")
    assert(out(3L) == ((1, 0.0, 1.0)), s"got ${out(3L)}")
    assert(out(4L) == ((5, 1.0 - 3.0 / 4, 4.0 / 5)), s"got ${out(4L)}")
  }

  test("t10 plan: no explode, no aggregation exchange (fused top-token)") {
    // r16 shape: the per-doc top-token multiplicity is computed by the
    // fused TopTokenCount kernel in the same projection pass as the
    // gram ratio, so the token stream is never exploded and never
    // shuffled — the plan's only exchange is the presentation sort.
    // (This supersedes the pre-r16 guard that pinned the dup-ratio
    // tree BELOW the Generate: with no Generate, the re-evaluation-
    // per-exploded-token trap it guarded against no longer exists.)
    val df = Registry.all("t10_repetition").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Generate"), s"unexpected explode:\n${plan.take(800)}")
    assert(plan.contains("toptokencount"),
      s"expected the fused kernel in the projection:\n${plan.take(2000)}")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"expected only the orderBy exchange:\n${plan.take(2000)}")
  }

  test("t11 plan: capped rank window, broadcast quota frame only") {
    // r14 shape (bottomQByHash): the rank window's input is the
    // hash-prefix survivor set, never a source's whole corpus. In the
    // plan that means the only join is the BROADCAST of the per-source
    // quota/threshold literal frame (a sort-merge join against the
    // corpus would mean the quotas shuffled corpus volume), and the
    // exchanges are bounded: the broadcast, hash(source) for the one
    // rank window, and the final presentation sort.
    val df = Registry.all("t11_mixture_sample").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"),
      s"quota frame must broadcast, not shuffle:\n${plan.take(1500)}")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"expected <=3 exchanges, got $exchanges:\n${plan.take(1500)}")
    // exactly one rank window, fed by the threshold filter (the
    // corpus-sized pre-filter rows never reach it)
    assert("Window".r.findAllIn(plan).size == 1,
      s"expected exactly one window:\n${plan.take(1500)}")
  }

  test("t11 mixture sample: quota is ceil(sqrt(n_src)), deterministic") {
    val counts = Registry.table(spark, dir, "documents")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Registry.all("t11_mixture_sample").fn(spark, dir).collect()
    val bySource = out.groupBy(_.getString(0))
    assert(bySource.keySet == counts.keySet, "every source must survive")
    bySource.foreach { case (src, rows) =>
      val quota = math.ceil(math.sqrt(counts(src).toDouble)).toLong
      assert(rows.length.toLong == quota,
        s"source $src kept ${rows.length}, quota $quota of ${counts(src)}")
      // ranks are dense from 1 and n_src echoes the true group size
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to rows.length).toSeq)
      assert(rows.forall(_.getLong(1) == counts(src)))
    }
    // hash-ranked ⇒ identical sample on rerun
    val again = Registry.all("t11_mixture_sample").fn(spark, dir).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("t16 bm25: crafted corpus matches a first-principles recompute") {
    // 6 docs, deliberately overlapping vocab; recompute BM25 with
    // plain Scala collections (tokenize, tf/df/dl, idf, round-6 score,
    // rank) and compare the full top-k relation — an independent path
    // through the same definition the DuckDB oracle pins at sf scale
    val docsSeq = Seq(
      1L -> "apple banana apple cherry",
      2L -> "banana cherry date",
      3L -> "apple apple apple",
      4L -> "cherry date elderberry fig",
      5L -> "fig banana apple date",
      6L -> "elderberry elderberry fig")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    docsSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val out = graft.ops.Registry.all("t16_bm25_topk").fn(spark, dir2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // expected, from first principles
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = docsSeq.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").toSeq }.toMap
    val queries = docsSeq.map(_._1)
      .sortBy(id => (md5hex(s"$id:bm25q"), id)).take(3)
    val nDocs = docsSeq.size.toDouble
    val dl = toks.map { case (id, ts) => id -> ts.size }
    val avgdl = dl.values.sum.toDouble / dl.size
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    val expected = queries.flatMap { q =>
      val qts = toks(q).distinct
      val scored = toks.keys.filter(_ != q).toSeq.flatMap { d =>
        val s = qts.collect {
          case t if toks(d).contains(t) =>
            val tf = toks(d).count(_ == t).toDouble
            math.log(1 + (nDocs - df(t) + 0.5) / (df(t) + 0.5)) *
              tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl(d) / avgdl))
        }.sum
        if (s > 0)
          Some(d -> BigDecimal(s).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None
      }.sortBy { case (d, s) => (-s, d) }.take(10)
      scored.zipWithIndex.map { case ((d, s), i) => (q, i + 1, d, s) }
    }.sortBy(r => (r._1, r._2))
    assert(out.toSeq == expected,
      s"got ${out.toSeq}\nexpected $expected")
  }

  test("t16 bm25: dense ranks, strict order, deterministic") {
    val out = graft.ops.Registry.all("t16_bm25_topk").fn(spark, dir)
    // the salted-vs-naive-window exactness is pinned by the crafted
    // recompute above and the DuckDB oracle (whose ranked CTE IS the
    // naive global window); here: within each query the ranks are
    // dense from 1 and the (score DESC, doc_id) order is strict
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq,
        s"query $q ranks not dense")
      sorted.sliding(2).foreach {
        case Array((_, _, d1, s1), (_, _, d2, s2)) =>
          assert(s1 > s2 || (s1 == s2 && d1 < d2),
            s"query $q order violated at ($d1,$s1) -> ($d2,$s2)")
        case _ => ()
      }
    }
    // and determinism: a rerun returns the identical relation
    val again = graft.ops.Registry.all("t16_bm25_topk").fn(spark, dir)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("t16 plan: salted two-pass rank, broadcast query frames") {
    val df = graft.ops.Registry.all("t16_bm25_topk").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // exactly two rank windows (the regex excludes the
    // WindowGroupLimit nodes Spark 4 inserts for rank pushdown): the
    // salted local pass and the exact pass over <=320 survivors per
    // query — a single global window would funnel a query's whole
    // candidate set through one task
    assert("Window \\[".r.findAllIn(plan).size == 2,
      s"expected exactly two windows:\n${plan.take(2000)}")
    // the rank-limit pushdown must hold: each window gets a Partial
    // WindowGroupLimit before its exchange, so only ~10 rows per
    // (partition, key) ever shuffle
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"rank-limit pushdown missing:\n${plan.take(2000)}")
    // the salt attribute (pmod(xxhash64(doc_id), 32) — printed only as
    // _w0: Catalyst folds it into the score HashAggregate's result
    // projection, whose toString elides expressions) must partition
    // the first window alongside query_id
    assert("""\[query_id#\d+L, _w0#\d+L\]""".r.findFirstIn(plan).isDefined,
      s"salt missing from the local rank partition:\n${plan.take(2000)}")
    // query terms and idf reach the corpus through broadcasts; the
    // only sort-merge-join-shaped shuffle allowed is the doc-count-
    // sized dl attach
    assert(plan.contains("BroadcastHashJoin"),
      s"query frames must broadcast:\n${plan.take(2000)}")
  }

  test("contamination: planted benchmark copies flagged, clean docs not") {
    // the probe set is the md5-bottom-3 of the doc ids: compute it the
    // same way FIRST, then assign texts, so the clean negative controls
    // are guaranteed non-probes (a clean doc inside the probe set would
    // pollute the probe grams and make the control vacuous)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-cont").toString
    val probeText = (1 to 30).map(i => s"bench$i").mkString(" ")
    val cleanText = (1 to 30).map(i => s"web$i").mkString(" ")
    val ids = (0L to 11L).toSeq
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val probes = ids.sortBy(id => (md5hex(id.toString), id)).take(3).toSet
    val nonProbes = ids.filterNot(probes)
    val copies = nonProbes.take(2).toSet  // verbatim benchmark copies
    val cleans = nonProbes.drop(2).toSet  // disjoint vocabulary
    val docs = ids.map(i =>
      (i, if (probes(i) || copies(i)) probeText else cleanText))
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val out = Registry.all("t8_contamination").fn(spark, dir2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    copies.foreach(id => assert(out.get(id).exists(_ > 0.99),
      s"verbatim copy $id under-flagged: $out"))
    cleans.foreach(id => assert(!out.contains(id),
      s"clean doc $id falsely flagged: $out"))
    assert(cleans.nonEmpty && copies.nonEmpty)
  }

  test("e9 transitions: rows are a probability matrix over true pair counts") {
    val rows = Registry.all("e9_transitions").fn(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // per-prev probabilities sum to 1 (within the 1e-6 rounding grain)
    rows.groupBy(_._1._1).foreach { case (prev, rs) =>
      val p = rs.map(_._3).sum
      assert(math.abs(p - 1.0) < 1e-4, s"$prev probabilities sum to $p")
    }
    // total pair count = total events - one per user (each user's
    // timeline of n events contributes exactly n-1 transitions)
    val ev = graft.ops.EventOps.readEvents(spark, dir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._2).sum == expected)
    // spot-check one cell against a driver-side tally
    val timeline = ev.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getLong(2), r.getString(3)))
      .groupBy(_._1).values.flatMap { es =>
        val sorted = es.sortBy(e => (e._2, e._3)).map(_._4).toSeq
        sorted.zip(sorted.tail)
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { case ((a, b), n, _) =>
      assert(timeline((a, b)) == n, s"pair ($a,$b)") }
    assert(timeline.size == rows.length, "missing pairs in the matrix")
  }

  test("p5 stratified sample: exact per-stratum budget, deterministic") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.Registry.all("p5_stratified_sample").fn(spark, dir)
    val perLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every stratum keeps exactly min(cap, stratum size)
    corpus.foreach { case (lang, n) =>
      assert(perLang.getOrElse(lang, 0L) == math.min(60L, n),
        s"stratum $lang: ${perLang.get(lang)} of $n")
    }
    // hash-rank selection is order-independent: a shuffled input
    // yields the SAME sample (rand() never survives this)
    val again = graft.ops.Registry.all("p5_stratified_sample").fn(spark, dir)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("p6 concat-chunks: per-shard spans tile with no gaps or overlaps") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.Registry.all("p6_concat_chunks").fn(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
        r.getLong(3))) // (shard, doc_id, seq_first, seq_last)
    out.groupBy(_._1).foreach { case (shard, docs) =>
      val ordered = docs.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array((_, _, _, prevLast), (_, id, nextFirst, _)) =>
          // the next doc starts in the sequence the previous one ended
          // in (shared boundary) or the immediately following one —
          // anything else is a gap or an overlap in the packing
          assert(nextFirst == prevLast || nextFirst == prevLast + 1,
            s"shard $shard doc $id: span $nextFirst after $prevLast")
        case _ => ()
      }
      assert(ordered.head._3 == 0L, s"shard $shard does not start at seq 0")
    }
  }

  test("p6 distributed prefix sum is row-identical to the window twin") {
    import org.apache.spark.sql.expressions.Window
    val out = graft.ops.Registry.all("p6_concat_chunks").fn(spark, dir)
    // the single-window DEFINITION (what the DuckDB oracle runs),
    // rebuilt inline: any divergence in the two-pass carry — a wrong
    // offset at a partition boundary, a shard straddling partitions —
    // shows up here at test scale, not just in the driver's oracle
    val B = 256L
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val twin = graft.ops.Registry.table(spark, dir, "documents")
      .withColumn("shard", pmod(col("doc_id"), lit(4L)))
      .withColumn("n_tokens",
        size(split(lower(col("text")), "\\s+")).cast("long"))
      .withColumn("start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
        floor(col("start") / B).cast("long").as("seq_first"),
        floor((col("start") + col("n_tokens") - 1) / B).cast("long")
          .as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1L)
    assert(out.exceptAll(twin).isEmpty && twin.exceptAll(out).isEmpty,
      "distributed prefix sum diverged from the window definition")
  }

  test("p6 plan: no window on the constant-shard key (carry path)") {
    val df = graft.ops.Registry.all("p6_concat_chunks").fn(spark, dir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // shard = doc_id % 4 is constant-cardinality: a window partitioned
    // on it holds corpus/4 in ONE task at 100 TB. The r15 shape feeds
    // the query from the mapPartitions carry (an RDD scan) — no Window
    // node may appear anywhere in the final plan
    assert(!plan.contains("Window"),
      s"p6 regressed to a shard-partitioned window:\n${plan.take(1500)}")
    assert(plan.contains("ExistingRDD"),
      s"p6 no longer routes through the distributed carry:\n${plan.take(1500)}")
  }

  test("p7 domain filter: keeps exactly the sources at/above the mean") {
    import org.apache.spark.sql.functions._
    val out = Registry.all("p7_domain_filter").fn(spark, dir)
    val keptSources = out.select("source").distinct().collect()
      .map(_.getString(0)).toSet
    // recompute the per-source decision independently (plain Scala over
    // the collected per-doc diversity scores)
    val toks = split(lower(col("text")), "\\s+")
    val perDoc = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        (size(array_distinct(toks)).cast("long") * 1000L).as("num"),
        size(toks).cast("long").as("den"))
      .collect().map(r => (r.getString(0), r.getLong(1) / r.getLong(2)))
    val bySrc = perDoc.groupBy(_._1).map { case (s0, xs) =>
      s0 -> (xs.length.toLong, xs.map(_._2).sum) }
    val nn = BigInt(bySrc.values.map(_._1).sum)
    val ss = BigInt(bySrc.values.map(_._2).sum)
    val expected = bySrc.collect {
      case (s0, (n, sd)) if BigInt(sd) * nn >= ss * BigInt(n) => s0 }.toSet
    assert(keptSources == expected, s"kept $keptSources vs $expected")
    // the scale claim: the corpus joins the tiny kept-source list via
    // BROADCAST semi-join — the only corpus-sized exchange in the plan
    // is the final presentation orderBy, never a join shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"p7 semi-join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"p7 semi-join degraded to a shuffle join:\n$plan")
    // a genuine filter: some sources survive, some are dropped
    assert(expected.nonEmpty && expected.size < bySrc.size)
    // doc-level output covers every doc of every kept source
    val nKept = out.count()
    val nExpected = bySrc.collect {
      case (s0, (n, _)) if expected(s0) => n }.sum
    assert(nKept == nExpected, s"$nKept docs kept, expected $nExpected")
  }

  test("p4 mixture weights: normalized, and flatter than proportional") {
    val rows = Registry.all("p4_mixture_weights").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    // alpha=0.5 upsamples small sources: weight ratios must sit between
    // 1 and the raw token-mass ratios (strictly flatter than
    // proportional sampling, never inverted)
    val sorted = rows.sortBy(_._3)
    val (small, big) = (sorted.head, sorted.last)
    if (big._3 > small._3) {
      val wRatio = big._4 / small._4
      val tRatio = big._3.toDouble / small._3
      assert(wRatio > 1.0 - 1e-9 && wRatio < tRatio,
        s"weight ratio $wRatio not in (1, $tRatio)")
      assert(math.abs(wRatio - math.sqrt(tRatio)) / math.sqrt(tRatio) < 0.01)
    }
  }

  test("t15 classifier: weights match a driver-side model, decision exact") {
    val rows = Registry.all("t15_classifier_filter").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // independent reimplementation of the hashed linear model for a
    // sample of docs: same tokenization, same md5-hex-prefix weights
    def w(f: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(f.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val byId = rows.map(r => r._1 -> r).toMap
    for (id <- docs.keys.toSeq.sorted.take(25)) {
      val toks = docs(id).toLowerCase.split("\\s+").toSeq
      val feats = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val (_, nFeats, wSum, kept) = byId(id)
      assert(nFeats == feats.size, s"doc $id n_feats")
      assert(wSum == feats.map(w).sum, s"doc $id w_sum")
      assert(kept == (wSum >= 0L))
    }
    // the filter is a genuine split at this corpus
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("t15 scoring is per-row only: no exchange in the plan") {
    val plan = Registry.all("t15_classifier_filter").fn(spark, dir)
      .queryExecution.executedPlan.toString
    // the trailing presentation orderBy is the only allowed exchange
    assert(plan.split("Exchange").length - 1 <= 1,
      s"t15 shuffled more than the final sort:\n$plan")
  }

  test("d11 segment dedup: kept segments are globally unique and rebuild docs") {
    val out = Registry.all("d11_segment_dedup").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out.length == docs.size)
    // driver-side reference: first occurrence per segment across the
    // corpus in (doc_id, seg_idx) order
    def segsOf(text: String): Seq[String] =
      text.toLowerCase.split("\\s+").toSeq.grouped(16).map(_.mkString(" ")).toSeq
    val seen = collection.mutable.Set[String]()
    val expect = docs.keys.toSeq.sorted.map { id =>
      val kept = segsOf(docs(id)).filter(sg => seen.add(sg))
      id -> kept
    }.toMap
    for ((id, total, nKept, clean) <- out) {
      val segs = segsOf(docs(id))
      assert(total == segs.size, s"doc $id total")
      assert(nKept == expect(id).size, s"doc $id kept")
      assert(clean == expect(id).mkString(" "), s"doc $id text")
    }
    // something was actually deduplicated, but not everything
    assert(out.exists(r => r._3 < r._2))
    assert(out.forall(_._3 >= 0) && out.exists(_._3 > 0))
  }

  test("d12 semantic dedup: drop decisions match a driver-side replay") {
    val out = Registry.all("d12_sem_dedup").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toMap
    val cl = out.map(r => r._1 -> r._2).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // a vector is dropped iff SOME lower-id clustermate is >= tau close
    // (driver replay at a tolerance window: the exact boundary is the
    // oracle's job, the RULE is this spec's)
    var drops = 0
    for ((id, c, kept) <- out) {
      val conflict = out.exists { case (pid, pc, _) =>
        pid < id && pc == c && cos(emb(pid), emb(id)) >= 0.35 }
      assert(kept == !conflict, s"vec $id kept=$kept conflict=$conflict")
      if (!kept) drops += 1
    }
    assert(drops > 0 && drops < out.length)
    // every cluster retains at least its lowest-id member
    assert(out.groupBy(_._2).forall { case (_, vs) => vs.minBy(_._1)._3 })
  }
}
