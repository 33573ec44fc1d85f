package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64
import Registry.table

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline. Four levels of "duplicate":
  *
  *  - exact bytes          → [[defs d1_dedup_exact]] (hash group-by)
  *  - same token bag       → [[defs d2_dedup_bag]] (order-insensitive hash)
  *  - similar shingle sets → MinHash + LSH band join ([[defs d3_minhash_pairs]])
  *    verified with exact n-gram Jaccard ([[defs d4_ngram_jaccard]])
  *  - similar bit profile  → SimHash + banded Hamming join ([[defs d5_simhash_pairs]])
  *
  * Scale design: every candidate-pair generator is blocked (LSH bands /
  * hash prefixes), never an all-pairs product — the shuffle key is the
  * bucket id, so cost is Σ bucket², not n². All hashes are seeded and
  * deterministic.
  *
  * Hash primitive: TWO flavors with identical structure and candidate
  * semantics (OpsSpec checks they agree on planted pairs):
  *  - `fastHash = true` — xxhash64, the PUBLIC API DEFAULT: production
  *    callers get the ~3× hash throughput by default.
  *  - `fastHash = false` — seeded md5 (lexicographic min over
  *    fixed-width hex), which every engine computes identically; the
  *    driver/oracle entries in [[defs]] pin this flavor explicitly so
  *    d3/d4/d6 stay DuckDB-oracle-checked end to end.
  */
object DedupOps {

  /** THE corpus tokenization — shared with the t/p-families so every
    * oracle's regexp_split_to_array twin matches one definition. */
  private def tokens(c: Column): Column = TextOps.tokens(c)

  /** Release every cached relation the ops registry holds (shingles,
    * signatures, LSH bands, IVF lists) — the session-lifetime hook for
    * long-lived callers.
    */
  def clearCaches(): Unit = OpCaches.clear()

  /** 3-word shingles; short docs fall back to the whole token array.
    * Only ever applied to a MATERIALIZED token column: expressions
    * referenced inside a lambda are re-evaluated per element (no CSE in
    * interpreted higher-order functions), so `slice(tokens(text), …)`
    * would re-split the full text once per shingle — measured 90s vs 3s
    * at sf0.1.
    *
    * r16: the n-gram projection runs through the fused codegen kernel
    * (graft.functions.WordNgrams) instead of the interpreted
    * transform/sequence/slice/concat_ws chain — value-identical
    * (WordNgramsSpec), one array pass, no per-shingle slice allocation.
    */
  private def shingles(s: SparkSession, toks: Column): Column =
    when(size(toks) >= 3,
      graft.functions.WordNgrams.wordNgrams(s, toks, 3))
      .otherwise(array(concat_ws(" ", toks)))

  /** Fingerprint of the documents table, computed ONCE per op
    * invocation and threaded through every cache site — each
    * [[OpCaches.tableVersion]] call is a recursive driver-side listing,
    * so recomputing it per nested helper would multiply that latency
    * for identical information.
    */
  private def docsVersion(s: SparkSession, dir: String): String =
    OpCaches.tableVersion(s, dir, "documents")

  /** doc_id → shingle array, tokenized once, cached, and repartitioned:
    * the docs parquet arrives as few splits, and the hash stages are
    * CPU-bound — spread them over all cores. At 100 TB the same holds:
    * persist the small shingle/signature relations, never re-derive them
    * from the corpus.
    */
  private def toksTable(
      s: SparkSession, dir: String, ver: String): DataFrame =
    OpCaches.cached(s, s"dedup:toks:$dir", ver) {
      table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
    }

  private def shingleTable(
      s: SparkSession, dir: String, ver: String): DataFrame =
    OpCaches.cached(s, s"dedup:sh:$dir", ver) {
      toksTable(s, dir, ver)
        .select(col("doc_id"), shingles(s, col("toks")).as("sh"))
    }

  private[ops] val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands

  /** k seeded min-hashes of the shingle set. MinHash only needs A
    * consistent total order per seed, so each flavor uses its natural
    * one: md5 (the oracle flavor) takes the lexicographic min over
    * fixed-width hex, which DuckDB reproduces exactly; xxhash64 (the
    * fast flavor) takes the numeric min over the RAW signed longs — an
    * earlier draft hex-padded them to reuse the string min and the
    * measured "fast" path came out 0.8x of md5, all of it hex/lpad
    * allocation per (shingle x seed).
    *
    * r16: computed by the FUSED whole-stage-codegen kernel
    * (graft.functions.MinHashSig) — one pass over the shingle array
    * derives all 32 per-seed minima, where the previous composed
    * `array(array_min(transform(…)) × 32)` form re-traversed the array
    * 32 times through interpreted (CodegenFallback) higher-order
    * functions: per (shingle, seed) it allocated a concat + to_binary +
    * a fresh MessageDigest + a 32-char hex string on the md5 flavor,
    * and re-hashed the full shingle bytes per seed on the xxhash64
    * flavor (the seed only enters the FINAL int mix, so 31 of those 32
    * string hashes computed the same value). Value-identical by
    * construction — MinHashSigSpec pins both flavors element-for-
    * element against the composed form, nulls and empties included —
    * so every persisted signature store and the d3/d4/d6/d9 oracle
    * family read the same bytes. Measured (d7 kernel pair, min-of-3
    * post-prime at sf0.1, 3× amplified): md5 1.43/1.45 → 0.44/0.37 s
    * (3.4×), fast 0.34/0.42 → 0.13/0.14 s (2.7×).
    */
  private def minhashes(
      s: SparkSession, sh: Column, fastHash: Boolean): Column =
    graft.functions.MinHashSig.minhashSig(s, sh, NumHashes, fastHash)

  /** doc_id + banded minhash signature, one row per band.
    *
    * The signature table is cached: without a materialization barrier,
    * `CollapseProject` inlines the 32-hash minhash expression into every
    * band struct and both sides of the self-join — recomputing it ~100×
    * (measured 172s → 3s at sf0.1). At 100 TB this is the same design
    * decision: persist the tiny signature relation (n_docs × 8 rows of
    * ~40 bytes), never re-derive it from the corpus.
    */
  private def bandedDocs(
      s: SparkSession, dir: String, fastHash: Boolean,
      ver: String): DataFrame = {
    val docs = OpCaches.cached(s, s"dedup:mh:$dir:$fastHash", ver) {
      shingleTable(s, dir, ver)
        .select(col("doc_id"), minhashes(s, col("sh"), fastHash).as("mh"))
    }
    bandedFrom(docs, fastHash)
  }

  /** Band explosion over ANY `(doc_id, mh)` signature relation — the
    * session-cached corpus signatures and the PERSISTED store
    * ([[incrementalSignatures]]) share it, so the two paths can never
    * band differently.
    *
    * Band key: md5 over the joined hex strings for the oracle flavor
    * (DuckDB recomputes it byte-for-byte); xxhash64 straight over the
    * long-array slice for the fast flavor — no string materialization.
    */
  private def bandedFrom(sigs: DataFrame, fastHash: Boolean): DataFrame = {
    def bandSig(b: Int): Column =
      if (fastHash)
        xxhash64(slice(col("mh"), b * RowsPerBand + 1, RowsPerBand))
      else md5(to_binary(
        concat_ws("|", slice(col("mh"), b * RowsPerBand + 1, RowsPerBand)),
        lit("utf-8")))
    sigs.select(col("doc_id"), col("mh"),
      explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band"), bandSig(b).as("sig"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("mh"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Candidate pairs from any band collision, with the minhash-estimated
    * Jaccard similarity. Public default is the xxhash64 fast path; the
    * oracle entries in [[defs]] pass `fastHash = false` for md5 parity.
    */
  private[graft] def minhashPairs(
      s: SparkSession, dir: String, fastHash: Boolean = true,
      ver: Option[String] = None): DataFrame =
    pairsFrom(bandedDocs(s, dir, fastHash, ver.getOrElse(docsVersion(s, dir))))

  /** The LSH candidate join over a banded relation ([[bandedFrom]]).
    *
    * r16: the similarity estimate is computed BEFORE the pair dedup,
    * not after. est_jaccard is a pure function of the two signatures,
    * so every duplicate collision row (a pair colliding in up to 8
    * bands) carries the identical value and `dropDuplicates` keeps the
    * same result either way — but carrying the estimate instead of the
    * two 32-element signature arrays makes the dedup exchange ship ~24
    * bytes/row instead of ~2 KB (guide §2.3, project before the
    * exchange) and turns the aggregate from Sort → SortAggregate →
    * Sort (array-typed first() can't use hash aggregation) into a
    * plain partial/final HashAggregate — two sorts gone from every
    * d3/d4/d6 pipeline (plans/r16/d3_minhash_pairs_{before,after}.txt).
    */
  private def pairsFrom(b: DataFrame): DataFrame = {
    val l = b.select(col("band"), col("sig"),
      col("doc_id").as("doc_a"), col("mh").as("mh_a"))
    val r = b.select(col("band"), col("sig"),
      col("doc_id").as("doc_b"), col("mh").as("mh_b"))
    l.join(r, Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        estJaccard(b.sparkSession, col("mh_a"), col("mh_b"))
          .as("est_jaccard"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Fraction of agreeing minhash positions — the LSH Jaccard
    * estimate, one definition for the batch and store-driven paths.
    * r16: fused codegen kernel (SigAgreeCount) instead of the
    * interpreted zip_with + aggregate chain — this is the per-
    * CANDIDATE-ROW inner loop, the relation that scales with near-dup
    * density at 100 TB. Value identity pinned by SigAgreeCountSpec.
    */
  private def estJaccard(
      s: SparkSession, a: Column, b: Column): Column =
    graft.functions.SigAgreeCount.sigAgreeCount(s, a, b)
      .cast("double") / NumHashes

  /** Md5-flavor MinHash signatures straight from `(doc_id, text)` rows
    * — the per-document computation [[incrementalSignatures]] runs on
    * exactly the NEW documents of an increment.
    */
  private def signaturesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingles(docs.sparkSession, col("toks")).as("sh"))
      .select(col("doc_id"),
        minhashes(docs.sparkSession, col("sh"), fastHash = false).as("mh"))

  /** PERSISTED incremental signature store — the production shape of
    * corpus dedup at 100 TB: signature computation (shingling + k
    * hashes over the full text, the term that scales with corpus
    * BYTES) runs once per document EVER, not once per dedup run. The
    * store is a graft Delta table `(doc_id, mh)`; each call diffs the
    * incoming corpus against the stored doc_ids (anti-join on the
    * narrow id projection) and appends signatures for the NEW
    * documents only — an increment's cost tracks the increment, not
    * the corpus. No new documents ⇒ no commit (the store's history
    * stays one commit per real increment). Returns the full store
    * scan; [[incrementalMinhashPairs]] bands it with the exact
    * machinery the batch path uses, so store-driven pairs are
    * definitionally the batch pairs (d9's oracle row pins that).
    *
    * Deletes/edits: a REMOVED document's signature is retired with a
    * plain Delta DELETE on the store; an EDITED document is a retire +
    * re-add (its doc_id would otherwise pin the stale signature).
    */
  def incrementalSignatures(s: SparkSession, storePath: String,
      docs: DataFrame): DataFrame = {
    appendIncrement(s, storePath, docs)
    graft.DeltaLake.scanDelta(s, storePath)
  }

  /** The banded projection's table path — a sibling of the signature
    * store (registered in DeltaQueries.ArtifactSuffixes so restaging
    * deletes both together).
    */
  private[ops] def bandStorePath(storePath: String): String =
    storePath + "_bands"

  private def tableExists(s: SparkSession, path: String): Boolean =
    graft.DeltaLake.tableExists(s, path)

  /** Cap on driver-collected probe in-lists, shared by the synchronous
    * ([[probePairs]]) and streaming ([[drainBatchSeam]]) increment
    * paths — above it the scans fall back to the streamed corpus
    * shape.
    */
  private def probeCap(s: SparkSession): Int =
    s.conf.getOption("graft.dedup.maxProbeIds").map(_.toInt).getOrElse(16384)

  /** The PERSISTED banded projection `(band, sig, doc_id)` of a
    * signature store, partitioned by band (8 directories — the probe
    * join's shuffle key is (band, sig), and the narrow 3-column rows
    * make the whole index a rounding error next to the corpus). Built
    * once from the full store for stores created before the projection
    * existed; [[appendIncrement]] keeps it in sync afterwards.
    */
  private def bandStore(s: SparkSession, storePath: String): DataFrame = {
    val bp = bandStorePath(storePath)
    if (!tableExists(s, bp)) {
      // lexicographic (band, sig) range layout at constant rows per
      // file: each file holds ONE band's contiguous sig range with a
      // tight sig zone map, so [[probePairs]]'s in-list pushdown prunes
      // the store-side read to ~1 file per probed (band, sig). A
      // sig-only (or z-curve) range would align the sig buckets ACROSS
      // the 8 band directories and multiply every hit by the band
      // count (measured 647 vs ~200 file hits for a 200-sig probe).
      // File count scales with the store — the pruned FRACTION shrinks
      // as the store grows while absolute probe I/O stays flat.
      // Increments APPEND unclustered files (uniform-hash sigs span
      // the space); `DeltaWriter.compact(bp, zOrderBy = Seq("sig"))`
      // re-clusters each band partition and restores the layout — the
      // periodic maintenance step for a long-lived drained store
      // (DedupIncrementalSpec pins that it improves pruning without
      // changing answers; DrainMaintenanceSpec pins it racing a drain).
      val rowsPerFile = s.conf.getOption("graft.dedup.bandsRowsPerFile")
        .map(_.toLong).getOrElse(2500000L)
      val docs = graft.DeltaLake.scanDelta(s, storePath).count()
      val parts = math.max(1L,
        (docs * Bands + rowsPerFile - 1) / rowsPerFile).toInt
      graft.delta.DeltaWriter.write(
        bandedFrom(graft.DeltaLake.scanDelta(s, storePath),
          fastHash = false).select(col("band"), col("sig"), col("doc_id"))
          .repartitionByRange(parts, col("band"), col("sig")),
        bp, partitionBy = Seq("band"))
    }
    graft.DeltaLake.scanDelta(s, bp)
  }

  /** Appends an increment to the signature store AND its banded
    * projection (one commit each, none when the increment brings
    * nothing new); returns the new documents' id relation when
    * anything was appended. Shingling, hashing AND banding run over
    * the increment only.
    */
  private def appendIncrement(s: SparkSession, storePath: String,
      docs: DataFrame): Option[DataFrame] = {
    val freshIds: Option[DataFrame] =
      if (!tableExists(s, storePath)) {
        graft.delta.DeltaWriter.write(signaturesOf(docs), storePath)
        Some(docs.select("doc_id"))
      } else {
        val known = graft.DeltaLake.scanDelta(s, storePath).select("doc_id")
        // materialize once: the anti-join scans the store's id column,
        // and the emptiness check, the signature write and the bands
        // semi-join would otherwise each re-execute it
        val fresh = docs.join(known, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        if (fresh.isEmpty) None
        else {
          graft.delta.DeltaWriter.write(signaturesOf(fresh), storePath,
            mode = "append")
          Some(fresh.select("doc_id"))
        }
      }
    freshIds.foreach { ids =>
      val bp = bandStorePath(storePath)
      if (!tableExists(s, bp)) { bandStore(s, storePath); () }
      else {
        // band ONLY the increment's signatures, read back from the
        // store so the projection can never band values the store
        // doesn't hold; the increment's id set broadcasts into the
        // semi-join so the store scan streams unshuffled
        val sigs = graft.DeltaLake.scanDelta(s, storePath)
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
        graft.delta.DeltaWriter.write(
          bandedFrom(sigs, fastHash = false)
            .select(col("band"), col("sig"), col("doc_id")),
          bp, mode = "append", partitionBy = Seq("band"))
      }
    }
    freshIds
  }

  /** Retire documents from the signature store AND its banded
    * projection — the delete/edit flow's first half (an edit is a
    * retire + re-increment).
    */
  def retireSignatures(s: SparkSession, storePath: String,
      ids: Seq[Long]): Unit = {
    val cond = Seq(graft.delta.Cond("doc_id", "in", ids))
    graft.DeltaLake.deleteWhere(s, storePath, cond)
    if (tableExists(s, bandStorePath(storePath)))
      graft.DeltaLake.deleteWhere(s, bandStorePath(storePath), cond)
  }

  /** Near-dup pairs with an endpoint in `ids`, probed from the
    * PERSISTED banded projection: only the probe set's banded rows (8
    * per doc) drive the collision join, so an increment's pairing cost
    * tracks the INCREMENT, not the corpus — the production complement
    * to [[appendIncrement]]'s incremental signature compute. Byte-equal
    * to the batch d3 definition restricted to pairs touching `ids`
    * (d9b pins that under the DuckDB oracle).
    *
    * `ids` is an INCREMENT by contract (micro-batch-sized, not the
    * corpus — full-store pairing is [[incrementalMinhashPairs]]): the
    * probe side is built by re-banding the probe set's ~|ids| signature
    * rows (banding is deterministic, so this equals the persisted
    * projection's rows for those ids) and is BROADCAST into the
    * collision join. Every store-side scan is PRUNED by a pushed
    * in-list — the increment's doc_ids against the signature store,
    * its ~8 sigs/doc against the (sig-sorted, [[bandStore]]) banded
    * projection, the candidates' endpoints against the store again for
    * the estimate — so the increment's I/O tracks the INCREMENT's file
    * hits, not the store: zone maps skip every file whose sig/doc_id
    * range contains no probe value. An over-cap probe
    * (`graft.dedup.maxProbeIds`, default 16384 — not an increment)
    * falls back to streamed corpus-shape scans.
    */
  def pairsTouching(s: SparkSession, storePath: String,
      ids: DataFrame): DataFrame =
    probePairs(s, storePath, ids).pairs

  /** [[pairsTouching]] plus the metadata predicates each store-side
    * scan pushed (empty = that scan streamed unpruned) — the audit seam
    * for IncrementRehearsal/DedupIncrementalSpec to measure file-level
    * pruning through exactly the conditions production used.
    * `bandConds` holds one AND-set per probed band (the projection is
    * probed band-by-band so partition pruning and the per-band sig
    * in-list compose).
    */
  private[graft] final case class ProbePlan(
      pairs: DataFrame,
      storeConds: Seq[graft.delta.Cond],
      bandConds: Seq[Seq[graft.delta.Cond]],
      estConds: Seq[graft.delta.Cond])

  private[graft] def probePairs(s: SparkSession, storePath: String,
      ids: DataFrame): ProbePlan = {
    val bands0 = bandStore(s, storePath) // ensure/adopt the projection
    val cap = probeCap(s)
    val idVals = ProbePushdown.collectCapped(ids.select("doc_id"), cap)
      .map(_.map(_.getLong(0)).toSeq)
    if (idVals.isEmpty) {
      // over-cap probe: the corpus-shape scans (broadcasting the id set
      // or compiling a corpus-sized in-list would not survive)
      val sigs = graft.DeltaLake.scanDelta(s, storePath)
      val probeSigs = sigs.join(broadcast(ids.select("doc_id")),
        Seq("doc_id"), "left_semi")
      val probe = bandedFrom(probeSigs, fastHash = false)
        .select("band", "sig", "doc_id").localCheckpoint()
      return ProbePlan(pairsOver(broadcast(probe), bands0, sigs)
        .orderBy("doc_a", "doc_b"), Nil, Nil, Nil)
    }
    val (probeSigs, storeConds) =
      ProbePushdown.inListScan(s, storePath, "doc_id", idVals)
    val probe = bandedFrom(probeSigs, fastHash = false)
      .select("band", "sig", "doc_id").localCheckpoint()
    val probeKeys = probe.select("band", "sig").distinct()
      .collect().map(r => (r.getInt(0): Any, r.getString(1): Any)).toSeq
    if (probeKeys.isEmpty) { // no probed id is in the store
      import s.implicits._
      return ProbePlan(
        Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "est_jaccard"),
        storeConds, Nil, Nil)
    }
    // probe the projection BAND BY BAND: the condition DSL is AND-only,
    // so a single sig in-list would hit each probed sig's range file in
    // every band directory (8x the file reads) — `band = b AND sig IN
    // (b's probe sigs)` composes partition pruning with the zone-map
    // in-list, ~1 file per probed (band, sig)
    val (bands, bandConds) = ProbePushdown.groupedScan(s,
      bandStorePath(storePath), "band", "sig", probeKeys,
      Seq("band", "sig", "doc_id"))
    val cand = candidatesOver(broadcast(probe), bands).localCheckpoint()
    val endVals = ProbePushdown.collectCapped(
      cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))), 8 * cap)
      .map(_.map(_.getLong(0)).toSeq)
    val (sigsForEst, estConds) =
      ProbePushdown.inListScan(s, storePath, "doc_id", endVals)
    ProbePlan(estimateOver(cand, sigsForEst).orderBy("doc_a", "doc_b"),
      storeConds, bandConds, estConds)
  }

  /** The store-driven LSH pair join, shared by the synchronous
    * ([[pairsTouching]]) and streaming ([[drainBatch]]) paths so the two
    * can never band or estimate differently: collide `probeBands`
    * against `allBands` on (band, sig), then estimate Jaccard from the
    * endpoints' signatures in `allSigs`.
    */
  private def pairsOver(probeBands: DataFrame, allBands: DataFrame,
      allSigs: DataFrame): DataFrame =
    estimateOver(candidatesOver(probeBands, allBands), allSigs)

  /** The collision half of [[pairsOver]]: distinct candidate pairs from
    * any shared (band, sig) bucket.
    */
  private def candidatesOver(probeBands: DataFrame,
      allBands: DataFrame): DataFrame =
    probeBands
      .select(col("band"), col("sig"), col("doc_id").as("p"))
      .join(allBands.select(col("band"), col("sig"), col("doc_id").as("q")),
        Seq("band", "sig"))
      .where(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("doc_a"),
        greatest(col("p"), col("q")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** The estimate half of [[pairsOver]]: look up both endpoints'
    * signatures and keep pairs above the similarity floor.
    */
  private def estimateOver(cand: DataFrame, allSigs: DataFrame): DataFrame =
    cand
      .join(allSigs.select(col("doc_id").as("doc_a"), col("mh").as("mh_a")),
        "doc_a")
      .join(allSigs.select(col("doc_id").as("doc_b"), col("mh").as("mh_b")),
        "doc_b")
      .withColumn("est_jaccard",
        estJaccard(cand.sparkSession, col("mh_a"), col("mh_b")))
      .where(col("est_jaccard") >= 0.2)
      .select("doc_a", "doc_b", "est_jaccard")

  /** One production dedup increment: append `docs`' new documents to
    * the stores and return the near-dup pairs the increment introduced
    * (empty when nothing was new). Cost tracks the increment on BOTH
    * terms — signature compute and pairing.
    */
  def incrementAndPair(s: SparkSession, storePath: String,
      docs: DataFrame): DataFrame =
    appendIncrement(s, storePath, docs) match {
      case Some(ids) => pairsTouching(s, storePath, ids)
      case None =>
        import s.implicits._
        Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "est_jaccard")
    }

  /** LSH near-dup pairs over the FULL persisted store — byte-equal to
    * the batch d3 definition over the same corpus. Reads the persisted
    * banded projection (probe set = every stored doc) instead of
    * re-deriving bands from the signatures; a corpus-sized probe is a
    * shuffled self-collision join, NOT [[pairsTouching]]'s broadcast
    * shape (broadcasting every stored id would not survive a real
    * store).
    */
  def incrementalMinhashPairs(s: SparkSession,
      storePath: String): DataFrame = {
    val bands = bandStore(s, storePath)
    pairsOver(bands, bands, graft.DeltaLake.scanDelta(s, storePath))
      .orderBy("doc_a", "doc_b")
  }

  /** One streaming dedup increment, applied EXACTLY ONCE even when
    * Structured Streaming replays the batch after a crash — the
    * `foreachBatch` body of [[streamDedupDrain]], usable directly on any
    * stream of `(doc_id, text)` micro-batches.
    *
    * The crash-consistency protocol: the increment (the batch's docs not
    * yet in the signature store) is decided against the store, and the
    * store commits LAST — so every replay of an interrupted batch
    * recomputes the SAME increment. The three commits — near-dup pairs,
    * banded projection, signatures — each carry the `(appId, batchId)`
    * txn ledger ([[graft.streaming.DeltaSink.appendBatch]]), so a leg
    * that already committed skips itself on replay. Whatever the crash
    * point, replay converges to the uninterrupted outcome: no pair is
    * ever emitted twice (the ledger) and none is lost (the increment
    * stays recomputable until the final leg lands).
    *
    * Pairing probes only the increment's ~8 banded rows/doc against the
    * stored projection ∪ the increment itself, so a pair is emitted by
    * exactly the batch that completes it and the batch's cost tracks the
    * INCREMENT, not the corpus — in I/O too: every store-side scan
    * pushes the same in-lists as [[probePairs]] (batch ids, probe sigs
    * band-by-band, candidate endpoints), so zone maps prune the reads
    * to the batch's file hits. Readers between legs see the table pair
    * as if the increment had not happened yet (single-writer pipeline
    * assumed, as with any Delta streaming sink).
    *
    * Multiple pipelines (distinct appIds) may share one store SERIALLY
    * — the increment is decided against the committed store, not the
    * ledger, so a peer's already-signed docs are a no-op and the
    * per-table (appId, batchId) ledgers never cross-skip or cross-trip
    * the retire guards (ConcurrentDrainSpec pins the convergence). Two
    * drains must NOT process the same source commit CONCURRENTLY: each
    * reads the store before the peer's commit lands, and a mid-batch
    * race would sign the same docs twice.
    */
  def drainBatch(s: SparkSession, storePath: String, pairsPath: String,
      appId: String)(batch: DataFrame, batchId: Long): Unit =
    drainBatchSeam(s, storePath, pairsPath, appId)(batch, batchId)

  /** [[drainBatch]] with a crash-injection seam: throw after the
    * `crashAfterLeg`-th commit (1 = pairs, 2 = bands), so specs can pin
    * the replay convergence the docstring promises.
    */
  private[ops] def drainBatchSeam(s: SparkSession, storePath: String,
      pairsPath: String, appId: String,
      crashAfterLeg: Int = Int.MaxValue)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.streaming.DeltaSink
    val storeExists = tableExists(s, storePath)
    val cap = probeCap(s)
    // the per-batch store-side scans are PRUNED exactly like
    // [[probePairs]]: the batch's doc_ids into the store (the anti-join
    // only cares about store rows whose id is IN the batch), its ~8
    // sigs/doc into the banded projection, the candidates' endpoints
    // into the store for the estimate — so a micro-batch's I/O tracks
    // the BATCH, not the accumulated store. An over-cap batch falls
    // back to the streamed corpus-shape scans.
    val batchIds: Option[Seq[Long]] =
      ProbePushdown.collectCapped(batch.select("doc_id"), cap)
        .map(_.map(_.getLong(0)).toSeq)
    val fresh =
      if (!storeExists) batch
      else batch.join(
        ProbePushdown.inListScan(s, storePath, "doc_id", batchIds)
          ._1.select("doc_id"),
        Seq("doc_id"), "left_anti")
    // materialize the increment's signatures once: three consumers
    // (bands, pairs, the store append) and a shingling pass we must not
    // repeat per consumer
    val incSigs = signaturesOf(fresh).localCheckpoint()
    if (incSigs.isEmpty) return // no-op increment: no commit anywhere
    // an adopted pre-projection store needs its banded projection
    // backfilled before this increment's bands are appended to it
    if (storeExists) { bandStore(s, storePath); () }
    val incBands = bandedFrom(incSigs, fastHash = false)
      .select("band", "sig", "doc_id").localCheckpoint()
    val bp = bandStorePath(storePath)
    val storedBands: Option[DataFrame] =
      if (!storeExists) None
      else if (batchIds.isEmpty) // over-cap batch: corpus-shape scans
        Some(graft.DeltaLake.scanDelta(s, bp)
          .select("band", "sig", "doc_id"))
      else ProbePushdown.collectCapped(
          incBands.select("band", "sig"), 8 * cap) match {
        case Some(keys) => Some(ProbePushdown.groupedScan(s, bp,
          "band", "sig",
          keys.map(r => (r.getInt(0): Any, r.getString(1): Any)).toSeq,
          Seq("band", "sig", "doc_id"))._1)
        case None => Some(graft.DeltaLake.scanDelta(s, bp)
          .select("band", "sig", "doc_id"))
      }
    val allBands = storedBands match {
      case Some(stored) => stored.unionByName(incBands)
      case None => incBands
    }
    // collision candidates first, then PRUNED endpoint lookups for the
    // estimate — materialized once (the emptiness check and the
    // ledgered append would otherwise re-run the collision join)
    val cand = candidatesOver(broadcast(incBands), allBands)
      .localCheckpoint()
    val endpoints: Option[Seq[Long]] =
      if (!storeExists || batchIds.isEmpty) None
      else ProbePushdown.collectCapped(
        cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))), 8 * cap)
        .map(_.map(_.getLong(0)).toSeq)
    val allSigs =
      if (!storeExists) incSigs.select("doc_id", "mh")
      else ProbePushdown.inListScan(s, storePath, "doc_id", endpoints)
        ._1.select("doc_id", "mh")
        .unionByName(incSigs.select("doc_id", "mh"))
    val pairs = estimateOver(cand, allSigs).localCheckpoint()
    def crashPoint(leg: Int): Unit =
      if (leg >= crashAfterLeg)
        throw new IllegalStateException(s"injected crash after leg $leg")
    // pair-less batches skip the pairs commit: the empty result is
    // deterministic on replay, so no ledger entry is needed
    if (!pairs.isEmpty) DeltaSink.appendBatch(pairs, pairsPath, appId, batchId)
    crashPoint(1)
    DeltaSink.appendBatch(incBands, bp, appId, batchId,
      partitionBy = Seq("band"))
    crashPoint(2)
    DeltaSink.appendBatch(incSigs, storePath, appId, batchId)
    ()
  }

  /** STREAMING drain of a documents Delta table through the increment
    * machinery: every micro-batch runs one [[drainBatch]] — pairs,
    * banded projection and signature store each advance by at most one
    * ledgered commit per batch (none for no-op batches), exactly once
    * under crash replay. `feed` drives the script — it receives a sync
    * callback (processAllAvailable) to call between source appends, so
    * each append becomes its own increment. The accumulated pairs table
    * equals the batch d3 definition over the full corpus (the d10
    * oracle pins that).
    */
  def streamDedupDrain(s: SparkSession, srcPath: String,
      storePath: String, pairsPath: String)(
      feed: (() => Unit) => Unit): Unit = {
    // the ledger identity must survive restarts: derive it from the
    // pipeline's output location, not from a session-random id
    val appId = "graft-dedup-drain:" + pairsPath
    graft.streaming.DrainHarness.drain(s, srcPath, readChangeFeed = false,
      outputPath = pairsPath, appId = appId,
      ledgerTables = Seq(pairsPath, storePath, bandStorePath(storePath)))(
      drainBatch(s, storePath, pairsPath, appId))(feed)
  }

  /** One CDF-following dedup increment: deletes and update-preimages
    * RETIRE documents (signatures, banded rows, and every near-dup pair
    * touching them), then the documents whose NET batch effect is a
    * live row run the normal [[drainBatch]] increment — so the dedup
    * state continuously tracks a MUTATING source table, not just an
    * append-only feed. An UPDATE is a retire + re-sign: its pairs are
    * recomputed against the new text. Net effect is the doc's LAST
    * change in the batch (postimage outranks preimage within a commit),
    * so insert-then-delete nets to absent and insert-then-update nets
    * to the final image — a micro-batch may span several source
    * commits.
    *
    * Crash replay: the increment half is [[drainBatch]]'s ledgered
    * protocol, and EACH table's retire is guarded by that table's own
    * ledger watermark — it runs iff this batch's append to that table
    * has NOT landed yet. Without the per-table guards, replaying an
    * UPDATE batch after one of its commits landed would delete rows
    * that very batch freshly committed and then ledger-skip re-adding
    * them (pairs after the pairs leg; bands/signatures after theirs —
    * the latter reachable by a no-pairs update batch, whose skipped
    * empty pairs commit never advances the pairs watermark). The retire
    * set is micro-batch-sized by contract — it rides a Cond IN list,
    * the same boundedness assumption as [[retireSignatures]].
    */
  def cdfDrainBatch(s: SparkSession, storePath: String, pairsPath: String,
      appId: String)(batch: DataFrame, batchId: Long): Unit =
    cdfDrainBatchSeam(s, storePath, pairsPath, appId)(batch, batchId)

  /** [[cdfDrainBatch]] with [[drainBatchSeam]]'s crash-injection seam. */
  private[ops] def cdfDrainBatchSeam(s: SparkSession, storePath: String,
      pairsPath: String, appId: String,
      crashAfterLeg: Int = Int.MaxValue)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    // EACH table's retire is guarded by THAT table's own ledger
    // watermark (same per-leg argument as the ANN drain): the retire
    // runs iff this batch's append to that table has not landed. A
    // single pairs-watermark guard is NOT enough — a no-pairs update
    // batch never advances the pairs watermark (drainBatch skips the
    // empty pairs commit), so its replay after the bands/signature
    // legs would re-retire the doc's freshly committed rows and then
    // ledger-skip re-adding them.
    def applied(p: String): Boolean = tableExists(s, p) &&
      graft.delta.DeltaLog.forPath(s, p)
        .txnVersions.get(appId).exists(_ >= batchId)
    // retire set CAPPED like the probe sides (round-12 verdict): a
    // mass-delete micro-batch (GDPR purge, tombstone compaction) above
    // the cap retires through a distributed key semi-join instead of
    // materializing an unbounded driver in-list
    val goneDf = batch
      .where(col("_change_type").isin("delete", "update_preimage"))
      .select("doc_id").distinct()
    val gone: Option[Seq[Long]] =
      ProbePushdown.collectCapped(goneDf, probeCap(s))
        .map(_.map(_.getLong(0)).toSeq)
    if (!gone.exists(_.isEmpty)) {
      def retire(p: String, keyCols: String*): Unit = gone match {
        case Some(ids) => keyCols.foreach { k =>
          // AND-only Cond DSL: a pair touches the retired set through
          // either endpoint, so one one-sided delete per key column
          graft.DeltaLake.deleteWhere(s, p,
            Seq(graft.delta.Cond(k, "in", ids)))
        }
        case None => keyCols match {
          case Seq(k) =>
            graft.delta.DeltaWriter.deleteMatching(s, p,
              goneDf.select(col("doc_id").as(k)))
            ()
          case many =>
            // a pair touches the retired set through EITHER endpoint:
            // one pruned scan + ONE DV commit for the whole batch, not
            // one deleteMatching (scan + commit) per endpoint
            graft.delta.DeltaWriter.deleteMatchingAny(s, p, goneDf, many)
            ()
        }
      }
      if (tableExists(s, storePath) && !applied(storePath))
        retire(storePath, "doc_id")
      val bp = bandStorePath(storePath)
      if (tableExists(s, bp) && !applied(bp))
        retire(bp, "doc_id")
      if (tableExists(s, pairsPath) && !applied(pairsPath))
        retire(pairsPath, "doc_a", "doc_b")
    }
    // the doc's LAST change in the batch decides its net effect;
    // within one commit an update's postimage outranks its preimage
    val w = Window.partitionBy("doc_id").orderBy(
      col("_commit_version").desc,
      when(col("_change_type").isin("insert", "update_postimage"), 1)
        .otherwise(0).desc)
    val added = batch.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1 &&
        col("_change_type").isin("insert", "update_postimage"))
      .select("doc_id", "text")
    drainBatchSeam(s, storePath, pairsPath, appId, crashAfterLeg)(
      added, batchId)
  }

  /** STREAMING drain of a MUTATING documents Delta table through its
    * change feed: `readChangeFeed` delivers inserts, deletes and both
    * update images, and every micro-batch applies one [[cdfDrainBatch]]
    * — the production shape where the dedup index FOLLOWS the source
    * table (the d13 oracle pins the accumulated pairs against the batch
    * d3 definition over the source's FINAL LIVE rows).
    */
  def streamDedupFollowCdf(s: SparkSession, srcPath: String,
      storePath: String, pairsPath: String)(
      feed: (() => Unit) => Unit): Unit = {
    val appId = "graft-dedup-cdf:" + pairsPath
    graft.streaming.DrainHarness.drain(s, srcPath, readChangeFeed = true,
      outputPath = pairsPath, appId = appId,
      ledgerTables = Seq(pairsPath, storePath, bandStorePath(storePath)))(
      cdfDrainBatch(s, storePath, pairsPath, appId))(feed)
  }

  /** d3 body: LSH candidate pairs above the similarity floor. Shared by
    * the md5 oracle entry, the xxhash64 fast twin, and the fast-vs-md5
    * differential — cached per flavor under the corpus version so the
    * three consumers pay the band join once per session (the d8/d6
    * pattern: small derived relations are artifacts, not per-query
    * recomputations).
    */
  private def lshPairs(
      s: SparkSession, dir: String, fastHash: Boolean): DataFrame =
    OpCaches.cached(s, s"dedup:d3out:$dir:$fastHash", docsVersion(s, dir)) {
      minhashPairs(s, dir, fastHash)
        .where(col("est_jaccard") >= 0.2)
        .orderBy("doc_a", "doc_b")
    }

  /** d4 body: exact n-gram Jaccard over the LSH candidates. Cached per
    * flavor for the same three consumers as [[lshPairs]].
    */
  private def jaccardVerified(
      s: SparkSession, dir: String, fastHash: Boolean): DataFrame = {
    val ver = docsVersion(s, dir)
    OpCaches.cached(s, s"dedup:d4out:$dir:$fastHash", ver) {
      val sh = shingleTable(s, dir, ver)
        .select(col("doc_id"), array_distinct(col("sh")).as("sh"))
      val cand = minhashPairs(s, dir, fastHash, Some(ver))
        .select("doc_a", "doc_b")
      // r17: fused overlap kernel (OverlapCountSpec pins the Jaccard
      // against the composed array_intersect/array_union form) — one
      // hash-probe pass per candidate pair instead of two interpreted
      // set builds materializing intersection AND union arrays; with
      // both sides array_distinct'ed, |union| = |a| + |b| - overlap,
      // so the union array never needs to exist. Subexpression
      // elimination shares the kernel only within one projection: the
      // `jaccard >= 0.1` filter pushed below the projection re-evaluates
      // it, so a row may run the kernel 2-3 times.
      val inter = graft.functions.OverlapCount.overlapCount(
        s, col("sh_a"), col("sh_b"))
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("jaccard",
          inter.cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - inter))
        .where(col("jaccard") >= 0.1)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    }
  }

  /** d7 body: full minhash derivation reduced to a checksum row — see
    * the registry comment for why this stays uncached. The corpus is
    * amplified 3x (explode over the cached shingle relation — no extra
    * tokenize cost) because at sf0.1 the raw kernel drowns in ~0.1 s of
    * fixed job overhead: measured at 20x, md5 4.9 s vs xxhash64-long
    * 0.96 s (5.1x) — amplification is what makes the bench SEE that.
    * r5: capped from 5x (round-4 note — the amplified md5 kernel alone
    * was 8.4 s of a 28 s cold driver total; 3x keeps the flavor ratio
    * visible without one microbench dominating cold totals).
    */
  private def sigThroughput(
      s: SparkSession, dir: String, fastHash: Boolean): DataFrame =
    // no repartition: the cached shingle relation is already spread
    // over defaultParallelism and explode amplifies every partition
    // uniformly — a shuffle here would run INSIDE the timed region,
    // identically for both flavors, diluting the ratio being measured
    shingleTable(s, dir, docsVersion(s, dir))
      .select(explode(sequence(lit(1), lit(3))).as("rep"), col("sh"))
      .select(minhashes(s, col("sh"), fastHash).as("mh"))
      .agg(count(lit(1)).as("n_docs"), max(hash(col("mh"))).as("sig_checksum"))
      // a bare COUNT over an ungrouped agg lets Catalyst prove "1 row"
      // and prune the whole minhash projection — the bench would time
      // nothing. Filtering on the checksum forces its evaluation under
      // any terminal action.
      .where(col("sig_checksum").isNotNull)

  /** d7 body (simhash flavor): same amplified-checksum shape over the
    * SimHash64 codegen kernel, fed TOKENS (not shingles) — the string
    * length distribution d5 actually hashes; shingles would triple the
    * bytes per hash call and skew the md5-vs-xxhash ratio.
    */
  private def simhashThroughput(
      s: SparkSession, dir: String, fast: Boolean): DataFrame =
    toksTable(s, dir, docsVersion(s, dir))
      .select(explode(sequence(lit(1), lit(3))).as("rep"), col("toks"))
      .select(SimHash64.simhash64(s, col("toks"), fast).as("sh64"))
      .agg(count(lit(1)).as("n_docs"), max(col("sh64")).as("sig_checksum"))
      .where(col("sig_checksum").isNotNull)

  /** d6 body: connected components over the near-dup pairs — every
    * document labeled with the MIN doc_id of its duplicate cluster.
    * The LABELING itself is cached under the corpus version (per hash
    * flavor): one clustering serves every downstream consumer — d6's
    * own entry, d8's corpus materialization, and the fast-vs-md5
    * differential — the production shape where the cluster map is a
    * derived artifact, not a per-query recomputation. The cold bench
    * pass still pays the full propagation loop (caches are cleared
    * first); warm measures the cache-hit path.
    */
  private[ops] def dedupClusters(
      s: SparkSession, dir: String, fastHash: Boolean): DataFrame = {
    val ver = docsVersion(s, dir)
    OpCaches.cached(s, s"dedup:d6labels:$dir:$fastHash", ver) {
      // tracked cache, not per-call: repeat invocations reuse the
      // near-dup edge relation instead of re-paying the band join
      val pairs = OpCaches.cached(s, s"dedup:d6pairs:$dir:$fastHash", ver) {
        minhashPairs(s, dir, fastHash, Some(ver))
          .where(col("est_jaccard") >= 0.2)
          .select("doc_a", "doc_b")
      }
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val docs = table(s, dir, "documents").select("doc_id")
      connectedComponents(docs, edges)
        .select(col("doc_id"), col("label").as("cluster_rep"))
        .orderBy("doc_id")
    }
  }

  /** One-row two-sided set difference between the fast (xxhash64) and
    * oracle (md5) flavors of a dedup output — the driver-checkable
    * signal for the fast twins. Both sides reduce to counts, so the
    * result is one row of three constants under agreement and a
    * hash-mismatching row under any divergence.
    */
  private def flavorDiff(fast: DataFrame, md5F: DataFrame): DataFrame = {
    val onlyF = fast.exceptAll(md5F).agg(count(lit(1)).as("only_fast"))
    val onlyM = md5F.exceptAll(fast).agg(count(lit(1)).as("only_md5"))
    onlyF.crossJoin(onlyM)
      .select(col("only_fast"), col("only_md5"),
        (col("only_fast") === 0 && col("only_md5") === 0).as("agree"))
  }

  /** The oracle every differential entry pins: zero one-sided rows. */
  private val diffOracle =
    """SELECT CAST(0 AS BIGINT) AS only_fast,
      |  CAST(0 AS BIGINT) AS only_md5, true AS agree""".stripMargin

  /** The SQL twin of tokenize → shingle → minhash → band → collide,
    * shared by the d3/d4 oracles. Yields `pairs(doc_a, doc_b, mh_a,
    * mh_b)` plus the `sh(doc_id, sh)` shingle relation. `from` names
    * the corpus relation — `documents`, or an aliased derived table
    * (d13 replays the batch definition over the FINAL LIVE rows of a
    * mutated source).
    */
  private[ops] def pairsSqlOver(from: String): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
       |  FROM $from),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 3
       |    THEN [array_to_string(tk[j+1:j+3], ' ') for j in range(len(tk) - 2)]
       |    ELSE [array_to_string(tk, ' ')] END AS sh
       |  FROM toks),
       |mh AS (
       |  SELECT doc_id,
       |    [list_min(list_transform(sh, x -> md5(x || ':' || i::VARCHAR)))
       |     for i in range($NumHashes)] AS mh
       |  FROM sh),
       |keyed AS (
       |  SELECT doc_id, mh, bb.band,
       |    md5(array_to_string(mh[bb.band*$RowsPerBand+1 : bb.band*$RowsPerBand+$RowsPerBand], '|')) AS sig
       |  FROM mh CROSS JOIN range($Bands) bb(band)),
       |pairs AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |    any_value(l.mh) AS mh_a, any_value(r.mh) AS mh_b
       |  FROM keyed l JOIN keyed r
       |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
       |  GROUP BY l.doc_id, r.doc_id)""".stripMargin

  private[ops] val pairsSql: String = pairsSqlOver("documents")

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * every node gets the MIN id of its component. `edges` rows are
    * undirected and accepted in ANY orientation (canonicalized
    * internally — do not pre-symmetrize, it only doubles the first
    * shuffle).
    *
    * Each round halves long chains instead of shaving one hop, so
    * convergence is O(log n) rounds regardless of component DIAMETER —
    * plain min-label propagation is O(diameter), and a pathological
    * 10k-hop chain at 100 TB would mean 10k shuffle rounds. The edge
    * relation only shrinks (toward one star per component), so per-round
    * cost is bounded by the LSH-pruned input.
    *
    * Lineage discipline: every `checkpointEvery` rounds (DEFAULT 1 —
    * each round's plan references the previous edge relation ~8 times
    * through the symmetrize/large-star/small-star pipeline, so lineage
    * grows 8^rounds and even plan STRINGIFICATION explodes by round 5)
    * the edge relation is `localCheckpoint`ed; the returned relation is
    * checkpointed too, so it survives the internal caches being
    * released. The per-round probe `collect()` is a single signature
    * row.
    */
  private[graft] def connectedComponents(
      docs: DataFrame, edges0: DataFrame, maxIter: Int = 20,
      checkpointEvery: Int = 1): DataFrame =
    connectedComponentsWithRounds(docs, edges0, maxIter, checkpointEvery)._1

  /** [[connectedComponents]] plus the number of rounds it took —
    * exposed so the convergence-speed contract (O(log n), not
    * O(diameter)) is spec-checkable.
    */
  private[graft] def connectedComponentsWithRounds(
      docs: DataFrame, edges0: DataFrame, maxIter: Int = 20,
      checkpointEvery: Int = 1): (DataFrame, Int) = {
    // parent-pointer form: one row per undirected edge, larger endpoint
    // first (self-loops dropped)
    var e = edges0
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct().cache()
    var iter = 0
    var lastSig = ("", -1L)
    var eCheckpointed = false
    var done = e.isEmpty
    while (!done && iter < maxIter) {
      // large-star: over the symmetrized neighborhood of each node a,
      // attach every LARGER neighbor to min(neighborhood ∪ {a}) —
      // long chains collapse from both ends at once
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      val nmin = sym.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      // no distinct here: duplicate (u, v) rows are cheap to carry for
      // one pass and the small-star distinct collapses them — a
      // distinct would cost an extra full shuffle per round
      val ls = sym.join(nmin, "a").where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
      // small-star: each node's parents are now all smaller; attach the
      // node and every parent to the MIN parent (star formation)
      val pmin = ls.groupBy("u").agg(min("v").as("m"))
      val ss = ls.join(pmin, "u")
        .select(col("m"), explode(array(col("u"), col("v"))).as("x"))
        .where(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct()
      // LAZY checkpoint: the signature aggregation below is the action
      // that materializes it — one job per round, not two
      val checkpointThis = (iter + 1) % checkpointEvery == 0
      val next =
        if (checkpointThis) ss.localCheckpoint(false)
        else ss.cache()
      eCheckpointed = checkpointThis
      // fixpoint when the edge set is stable: order-independent
      // signature (count + xor of per-edge hashes — xor can't overflow
      // under ANSI, and the set is distinct so nothing self-cancels)
      val sigRow = next
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(xxhash64(u, v))").as("x")).collect()(0)
      val sig = (s"${sigRow.getLong(0)}",
        if (sigRow.isNullAt(1)) 0L else sigRow.getLong(1))
      e.unpersist()
      e = next
      done = sig == lastSig || sigRow.getLong(0) == 0L
      lastSig = sig
      iter += 1
    }
    // never silently return intermediate labels: components that fail
    // to star-collapse within the round cap must fail loudly
    require(done,
      s"large-star/small-star did not converge in $iter rounds " +
        "(raise the iteration limit)")
    // at the fixpoint each component is a star: every non-root node
    // carries exactly one edge to the component min
    val lab = e.groupBy("u").agg(min("v").as("label"))
      .withColumnRenamed("u", "doc_id")
    val labels = docs.select("doc_id")
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("label"))
    // checkpoint the result, then release the internal caches. Lazy
    // (no extra job — the caller's first action materializes it) is
    // only sound when the final edge relation is itself checkpointed;
    // if the last round merely cached it (checkpointEvery > 1), the
    // unpersist below would strand the label lineage on the expanded
    // 8x-per-round plan, so materialize eagerly first.
    val out =
      if (eCheckpointed) labels.localCheckpoint(false)
      else labels.localCheckpoint()
    e.unpersist()
    (out, iter)
  }

  def defs: Map[String, QueryDef] = Map(

    // Exact dedup: one representative (min id) per identical text.
    "d1_dedup_exact" -> QueryDef(
      (s, dir) =>
        table(s, dir, "documents")
          .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("text_hash"))
          .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
          .orderBy("text_hash"),
      Some("""SELECT md5(text) AS text_hash,
        |  min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin)),

    // Bag dedup: catches token-shuffled copies via the sorted-distinct-
    // token fingerprint.
    "d2_dedup_bag" -> QueryDef(
      (s, dir) =>
        table(s, dir, "documents")
          .groupBy(md5(to_binary(
            array_join(array_sort(array_distinct(tokens(col("text")))), " "),
            lit("utf-8"))).as("bag_fp"))
          .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_docs"))
          .orderBy("bag_fp"),
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(lower(text), '\s+'))), ' ')) AS bag_fp,
        |  min(doc_id) AS keep_doc_id, count(*) AS n_docs
        |FROM documents
        |GROUP BY 1 ORDER BY bag_fp""".stripMargin)),

    // MinHash+LSH near-dup candidates — oracle-checked: the DuckDB twin
    // recomputes the identical md5 minhash signatures and band keys.
    "d3_minhash_pairs" -> QueryDef(
      (s, dir) => lshPairs(s, dir, fastHash = false),
      Some(s"""WITH $pairsSql,
        |est AS (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |      for i in range($NumHashes)]) AS DOUBLE) / $NumHashes AS est_jaccard
        |  FROM pairs)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin)),

    // Exact n-gram Jaccard verification of the LSH candidates —
    // oracle-checked against DuckDB's list_intersect/list_distinct.
    "d4_ngram_jaccard" -> QueryDef(
      (s, dir) => jaccardVerified(s, dir, fastHash = false),
      Some(s"""WITH $pairsSql,
        |shd AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
        |jac AS (
        |  SELECT p.doc_a, p.doc_b,
        |    CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.shd, b.shd))) AS jaccard
        |  FROM pairs p
        |  JOIN shd a ON a.doc_id = p.doc_a
        |  JOIN shd b ON b.doc_id = p.doc_b)
        |SELECT doc_a, doc_b, jaccard FROM jac
        |WHERE jaccard >= 0.1 ORDER BY doc_a, doc_b""".stripMargin)),

    // Connected components over the near-dup pairs: every document gets
    // the MIN doc_id of its duplicate cluster as canonical
    // representative — the terminal step of the dedup pipeline (keep one
    // doc per cluster). Large-star/small-star alternation: each round is
    // two join+groupBy passes on the (tiny, LSH-pruned) edge set, and
    // rounds are O(log n) independent of cluster diameter — the shape
    // that survives pathological chain clusters at 100 TB. Oracle:
    // DuckDB computes the identical components with a recursive CTE.
    "d6_dedup_components" -> QueryDef(
      (s, dir) => dedupClusters(s, dir, fastHash = false),
      Some(s"""WITH RECURSIVE $pairsSql,
        |est AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  WHERE CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |    for i in range($NumHashes)]) AS DOUBLE) / $NumHashes >= 0.2),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM est
        |  UNION ALL SELECT doc_b, doc_a FROM est),
        |reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node)
        |SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_rep
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)),

    // Deduplicated-corpus materialization — the artifact a training
    // pipeline actually consumes: one representative document per
    // near-dup cluster (cluster representatives ARE members, so this is
    // a filter, not a re-election). The cluster map is computed once
    // and cached under the corpus version (the real production shape —
    // one clustering serves every downstream materialization); the
    // corpus pass is a semi-join against it, broadcastable while the
    // representative set is small relative to executors' memory,
    // shuffled beyond.
    "d8_dedup_corpus" -> QueryDef(
      (s, dir) => {
        val labels = dedupClusters(s, dir, fastHash = false)
        val reps = labels.where(col("doc_id") === col("cluster_rep"))
          .select("doc_id")
        table(s, dir, "documents")
          .join(reps, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $pairsSql,
        |est AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  WHERE CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |    for i in range($NumHashes)]) AS DOUBLE) / $NumHashes >= 0.2),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM est
        |  UNION ALL SELECT doc_b, doc_a FROM est),
        |reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node),
        |labels AS (
        |  SELECT node AS doc_id, min(label) AS rep FROM reach GROUP BY node)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN labels l
        |  ON l.doc_id = d.doc_id AND l.rep = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // INCREMENTAL dedup against the persisted signature store, under
    // the SAME oracle as d3: the staging seeds the store from half the
    // corpus, then increments it with the full corpus (signatures
    // computed only for the new half, appended as one Delta commit),
    // and the query bands the STORE — store-driven pairs must
    // hash-equal the batch definition over the whole corpus, so a
    // drift between the incremental path and the one-shot path fails
    // the correctness gate. Append-only semantics, commit counting,
    // and the no-op re-increment are spec'd in DedupIncrementalSpec.
    "d9_dedup_incremental" -> QueryDef(
      (s, dir) => {
        val store = DeltaQueries.stagedOnce(
          s, dir, "minhash_sig_store", "documents") { path =>
          val docs = table(s, dir, "documents")
          incrementalSignatures(s, path, docs.where(col("doc_id") % 2 === 0))
          incrementalSignatures(s, path, docs)
          ()
        }
        incrementalMinhashPairs(s, store)
      },
      Some(s"""WITH $pairsSql,
        |est AS (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |      for i in range($NumHashes)]) AS DOUBLE) / $NumHashes AS est_jaccard
        |  FROM pairs)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin)),

    // INCREMENTAL PAIRING against the persisted BANDED projection
    // (r9 verdict item 1 — the join half of the incremental story):
    // the probe set is the increment's banded rows only, so pairing
    // cost tracks the increment, not the corpus. The oracle is the
    // batch d3 definition RESTRICTED to pairs touching the increment
    // (here: the odd doc_ids the second incrementalSignatures call
    // appended) — any divergence between the store-probe join and the
    // one-shot definition fails the correctness gate. The append/
    // retire mechanics of the banded store are spec'd in
    // DedupIncrementalSpec.
    "d9b_incremental_pairs" -> QueryDef(
      (s, dir) => {
        val store = DeltaQueries.stagedOnce(
          s, dir, "minhash_sig_store", "documents") { path =>
          val docs = table(s, dir, "documents")
          incrementalSignatures(s, path, docs.where(col("doc_id") % 2 === 0))
          incrementalSignatures(s, path, docs)
          ()
        }
        pairsTouching(s, store,
          table(s, dir, "documents")
            .where(col("doc_id") % 2 === 1).select("doc_id"))
      },
      Some(s"""WITH $pairsSql,
        |est AS (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |      for i in range($NumHashes)]) AS DOUBLE) / $NumHashes AS est_jaccard
        |  FROM pairs)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 AND (doc_a % 2 = 1 OR doc_b % 2 = 1)
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // STREAMING incremental dedup (r10): continuous ingestion drives
    // the SAME increment machinery. A documents Delta table is drained
    // as a stream in three scripted appends; foreachBatch appends each
    // micro-batch to the persisted signature store + banded projection
    // and writes the batch's `incrementAndPair` result to a Delta
    // pairs table. Each near-dup pair is emitted EXACTLY ONCE — by the
    // batch that completes it (the probe side is only the increment's
    // banded rows, so a pair both of whose endpoints predate the batch
    // can never re-join) — which is why the ACCUMULATED pairs table
    // must equal the batch d3 definition over the full corpus: that
    // equality is the oracle. The drain runs once at staging (the
    // production shape: a continuously-fed pipeline materializes
    // pairs; queries read the result), so a lost batch, a double-fed
    // increment, or a pair emitted twice all hash-mismatch here.
    "d10_stream_dedup" -> QueryDef(
      (s, dir) => {
        val pairsPath = DeltaQueries.stagedOnce(
          s, dir, "stream_dedup_pairs", "documents") { path =>
          val src = path + "_src"
          val store = path + "_store"
          val docs = table(s, dir, "documents")
          graft.delta.DeltaWriter.write(
            docs.where(col("doc_id") % 3 === 0), src)
          streamDedupDrain(s, src, store, path) { sync =>
            sync()
            graft.delta.DeltaWriter.write(
              docs.where(col("doc_id") % 3 === 1), src, mode = "append")
            sync()
            graft.delta.DeltaWriter.write(
              docs.where(col("doc_id") % 3 === 2), src, mode = "append")
            sync()
          }
        }
        graft.DeltaLake.scanDelta(s, pairsPath)
          .select("doc_a", "doc_b", "est_jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $pairsSql,
        |est AS (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |      for i in range($NumHashes)]) AS DOUBLE) / $NumHashes AS est_jaccard
        |  FROM pairs)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin)),

    // CDF-FOLLOWING dedup (r10): the dedup state tracks a MUTATING
    // source — the documents table takes an append, an UPDATE (text
    // rewritten) and a DELETE after the drain starts, and every
    // micro-batch retires the changed docs' signatures/bands/pairs
    // before running the normal increment. The accumulated pairs table
    // must equal the batch d3 definition over the source's FINAL LIVE
    // rows (updated text included, deleted docs absent) — a stale pair
    // surviving an update, a retire that missed a table, or a replay
    // that dropped a batch all hash-mismatch against DuckDB's replay
    // of the final corpus.
    "d13_cdf_dedup" -> QueryDef(
      (s, dir) => {
        val pairsPath = DeltaQueries.stagedOnce(
          s, dir, "cdf_dedup_pairs", "documents") { path =>
          val src = path + "_src"
          val store = path + "_store"
          val docs = table(s, dir, "documents")
          val updIds = docs.where(col("doc_id") % 10 === 7)
            .select("doc_id").collect().map(_.getLong(0)).toSeq
          val delIds = docs.where(col("doc_id") % 10 === 3)
            .select("doc_id").collect().map(_.getLong(0)).toSeq
          graft.delta.DeltaWriter.write(
            docs.where(col("doc_id") % 2 === 0), src,
            properties = Map("delta.enableChangeDataFeed" -> "true"))
          streamDedupFollowCdf(s, src, store, path) { sync =>
            sync()
            graft.delta.DeltaWriter.write(
              docs.where(col("doc_id") % 2 === 1), src, mode = "append")
            sync()
            graft.delta.DeltaWriter.update(s, src,
              Seq(graft.delta.Cond("doc_id", "in", updIds)),
              Map("text" -> concat(col("text"), lit(" upd"))))
            sync()
            graft.delta.DeltaWriter.delete(s, src,
              Seq(graft.delta.Cond("doc_id", "in", delIds)))
            sync()
          }
        }
        graft.DeltaLake.scanDelta(s, pairsPath)
          .select("doc_a", "doc_b", "est_jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${pairsSqlOver(
          "(SELECT doc_id, CASE WHEN doc_id % 10 = 7 THEN text || ' upd' " +
            "ELSE text END AS text FROM documents WHERE doc_id % 10 <> 3) " +
            "live_corpus")},
        |est AS (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |      for i in range($NumHashes)]) AS DOUBLE) / $NumHashes AS est_jaccard
        |  FROM pairs)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin)),

    // FULL MAINTENANCE LIFECYCLE under the oracle (r13): drain →
    // OPTIMIZE → resumed drain (append + update + delete) → OPTIMIZE →
    // probe. DrainMaintenanceSpec pins the race/answer invariance at
    // spec scale and 94dd916 pins the layout restore; this key pins
    // the production cycle END TO END under the DuckDB hash oracle at
    // the harness SFs: the stream checkpoint and txn ledgers must
    // survive the compaction commits (dataChange=false), the
    // re-invoked drain must RESUME (not re-consume or skip), the
    // bands' sig re-cluster must not change answers, and the
    // accumulated pairs must equal the batch d3 definition over the
    // source's FINAL LIVE rows.
    "d14_drain_optimize_probe" -> QueryDef(
      (s, dir) => {
        val pairsPath = DeltaQueries.stagedOnce(
          s, dir, "lifecycle_dedup_pairs", "documents") { path =>
          val src = path + "_src"
          val store = path + "_store"
          val docs = table(s, dir, "documents")
          val updIds = docs.where(col("doc_id") % 10 === 4)
            .select("doc_id").collect().map(_.getLong(0)).toSeq
          val delIds = docs.where(col("doc_id") % 10 === 6)
            .select("doc_id").collect().map(_.getLong(0)).toSeq
          graft.delta.DeltaWriter.write(
            docs.where(col("doc_id") % 2 === 0), src,
            properties = Map("delta.enableChangeDataFeed" -> "true"))
          // drain session 1: the seed snapshot
          streamDedupFollowCdf(s, src, store, path)(sync => sync())
          // maintenance between drain sessions: bin-pack everything,
          // re-cluster the banded projection on sig (the layout the
          // probe pushdown prunes by)
          def maintain(): Unit =
            Seq(path, store, bandStorePath(store)).foreach { p =>
              if (tableExists(s, p))
                graft.delta.DeltaWriter.compact(s, p,
                  targetFileBytes = 1L << 20,
                  zOrderBy =
                    if (p == bandStorePath(store)) Seq("sig") else Nil)
            }
          maintain()
          // drain session 2 RESUMES the checkpoint over the mutations
          streamDedupFollowCdf(s, src, store, path) { sync =>
            graft.delta.DeltaWriter.write(
              docs.where(col("doc_id") % 2 === 1), src, mode = "append")
            sync()
            graft.delta.DeltaWriter.update(s, src,
              Seq(graft.delta.Cond("doc_id", "in", updIds)),
              Map("text" -> concat(col("text"), lit(" upd"))))
            sync()
            graft.delta.DeltaWriter.delete(s, src,
              Seq(graft.delta.Cond("doc_id", "in", delIds)))
            sync()
          }
          maintain()
        }
        graft.DeltaLake.scanDelta(s, pairsPath)
          .select("doc_a", "doc_b", "est_jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${pairsSqlOver(
          "(SELECT doc_id, CASE WHEN doc_id % 10 = 4 THEN text || ' upd' " +
            "ELSE text END AS text FROM documents WHERE doc_id % 10 <> 6) " +
            "live_corpus")},
        |est AS (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum([CASE WHEN mh_a[i+1] = mh_b[i+1] THEN 1 ELSE 0 END
        |      for i in range($NumHashes)]) AS DOUBLE) / $NumHashes AS est_jaccard
        |  FROM pairs)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin)),

    // Segment-level dedup (the CCNet/RefinedWeb "line-level" pass,
    // segmented here as non-overlapping 16-token chunks since the
    // synthetic corpus has no newlines): every repeated segment keeps
    // only its FIRST occurrence — ordered by (doc_id, seg_idx) — and
    // each document is rebuilt from its surviving segments in order.
    // Unlike document-level dedup (d1–d8) this removes boilerplate
    // REGIONS from otherwise-unique documents. Scale shape: the
    // keeper-per-hash reduction is ONE corpus shuffle with map-side
    // combine — `min(struct(doc_id, seg_idx, seg))` needs no join-back
    // because the minimal struct CARRIES the surviving text, and the
    // combiner absorbs hot segments (a boilerplate line duplicated 10^6
    // times arrives at its reducer as one row per map task, so no skew
    // sort); the rebuild is a second shuffle proportional to the
    // DEDUPED corpus. No window over the raw corpus anywhere.
    "d11_segment_dedup" -> QueryDef(
      (s, dir) => {
        val ver = docsVersion(s, dir)
        // r17: fused strided-window kernel (StridedNgramsSpec pins it
        // against the composed transform/slice/concat_ws form, trailing
        // partial segment included) — one codegen pass, no per-segment
        // slice copy; width = stride = 16 gives exactly the
        // ceil(n/16) non-overlapping segments the count column expects
        val segs = toksTable(s, dir, ver)
          .select(col("doc_id"),
            posexplode(graft.functions.StridedNgrams.stridedNgrams(
              s, col("toks"), 16, 16))
              .as(Seq("seg_idx", "seg")))
        val kept = segs
          .groupBy(md5(col("seg")).as("h"))
          .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg"))).as("k"))
          .select(col("k.doc_id").as("doc_id"),
            col("k.seg_idx").as("seg_idx"), col("k.seg").as("seg"))
        val rebuilt = kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_segs_kept"),
            array_join(transform(
              sort_array(collect_list(struct(col("seg_idx"), col("seg")))),
              x => x.getField("seg")), " ").as("clean_text"))
        table(s, dir, "documents")
          .select(col("doc_id"), floor((size(tokens(col("text"))) + 15) / 16)
            .cast("long").as("n_segs_total"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_segs_total"),
            coalesce(col("n_segs_kept"), lit(0L)).as("n_segs_kept"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
        |  FROM documents),
        |segsarr AS (
        |  SELECT doc_id,
        |    [struct_pack(i := j, seg := array_to_string(tk[j*16+1 : j*16+16], ' '))
        |     for j in range((len(tk)+15)//16)] AS sa
        |  FROM toks),
        |segs AS (
        |  SELECT doc_id, u.i AS seg_idx, u.seg AS seg, md5(u.seg) AS h
        |  FROM (SELECT doc_id, unnest(sa) AS u FROM segsarr)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) rn
        |  FROM segs),
        |kept AS (SELECT * FROM ranked WHERE rn = 1),
        |tot AS (SELECT doc_id, (len(tk)+15)//16 AS n_segs_total FROM toks)
        |SELECT t.doc_id, t.n_segs_total, count(k.doc_id)::BIGINT AS n_segs_kept,
        |  coalesce(string_agg(k.seg, ' ' ORDER BY k.seg_idx), '') AS clean_text
        |FROM tot t LEFT JOIN kept k USING (doc_id)
        |GROUP BY t.doc_id, t.n_segs_total ORDER BY t.doc_id""".stripMargin)),

    // Production fast-path twins (xxhash64 signatures — the public API
    // default): rows-only entries, no SQL oracle (xxhash64 isn't
    // reproducible in DuckDB), so the bench times what public callers
    // actually run. Candidate agreement with the md5 flavor on planted
    // near-dups is spec'd in OpsSpec. NOTE these end-to-end twins hit
    // the signature CACHE on the warm pass, so they measure pipeline
    // parity, not hash speed — the d7 pair below isolates that.
    "d3_fast_minhash" -> QueryDef(
      (s, dir) => lshPairs(s, dir, fastHash = true), None),
    "d4_fast_jaccard" -> QueryDef(
      (s, dir) => jaccardVerified(s, dir, fastHash = true), None),
    "d6_fast_components" -> QueryDef(
      (s, dir) => dedupClusters(s, dir, fastHash = true), None),

    // Driver-checkable differentials for the fast twins (round-4
    // verdict item 1): each reduces the two-sided exceptAll between
    // the xxhash64 and md5 flavors to one row whose oracle pins the
    // constants — any flavor divergence flips `agree` to false and the
    // row hash-mismatches in CORRECTNESS. Soundness envelope
    // (FastDiffProbe): at the harness SFs (0.001/0.01 correctness, 0.1
    // bench) ALL sets are measured IDENTICAL, zero one-sided rows
    // including raw candidates. At sf1 (the 10x rehearsal corpus) the
    // est-threshold sets start to drift as expected — 6 one-sided
    // band-boundary candidates out of ~350k docs, 1 thresholded d3
    // pair, 2 d6 labels — while d4's differential stayed EXACT: its
    // verification is exact n-gram Jaccard, so it can only differ if a
    // candidate set misses a true pair (measured 0 at every SF). d4 is
    // therefore the structurally robust differential; d3/d6 are
    // measured-equal checks pinned to the harness scale and would need
    // margin-based comparison if the harness SF ever grows 10x.
    // d3 compares pair membership only — est_jaccard is estimated from
    // each flavor's own signatures and is NOT flavor-stable; membership
    // above the threshold is. d6 compares the full labeling.
    "d3_fast_vs_md5" -> QueryDef(
      (s, dir) => flavorDiff(
        lshPairs(s, dir, fastHash = true).select("doc_a", "doc_b"),
        lshPairs(s, dir, fastHash = false).select("doc_a", "doc_b")),
      Some(diffOracle)),
    "d4_fast_vs_md5" -> QueryDef(
      (s, dir) => flavorDiff(
        jaccardVerified(s, dir, fastHash = true),
        jaccardVerified(s, dir, fastHash = false)),
      Some(diffOracle)),
    "d6_fast_vs_md5" -> QueryDef(
      (s, dir) => flavorDiff(
        dedupClusters(s, dir, fastHash = true),
        dedupClusters(s, dir, fastHash = false)),
      Some(diffOracle)),

    // Signature-derivation throughput, UNCACHED by design: recomputes
    // the 32-hash minhash projection over the (shared, cached) shingle
    // table on every execution and reduces to one checksum row, so the
    // bench isolates the hash kernel itself — the stage `fastHash`
    // exists to accelerate and the one the cached end-to-end twins
    // can't show. The murmur3 hash() over the full array defeats
    // column pruning (a bare count would optimize the hashing away).
    "d7_minhash_md5" -> QueryDef(
      (s, dir) => sigThroughput(s, dir, fastHash = false), None, kernel = true),
    "d7_minhash_fast" -> QueryDef(
      (s, dir) => sigThroughput(s, dir, fastHash = true), None, kernel = true),
    "d7_simhash_md5" -> QueryDef(
      (s, dir) => simhashThroughput(s, dir, fast = false), None, kernel = true),
    "d7_simhash_fast" -> QueryDef(
      (s, dir) => simhashThroughput(s, dir, fast = true), None, kernel = true),

    // SimHash (custom Catalyst expression) + banded Hamming-distance
    // join — oracle-checked: the default md5-nibble token hash lets the
    // DuckDB twin rebuild bit-identical sketches (same trick as the md5
    // minhash family); `fast = true` swaps in xxhash64 for production.
    "d5_simhash_pairs" -> QueryDef(
      (s, dir) => {
        // r16: the (doc_id, sh) sketch is session-cached (16 bytes/doc)
        // — both sides of the banded self-join read it, and the
        // uncached plan re-tokenized and re-simhashed the full corpus
        // once per side (same decode-once argument as m6)
        val docs = OpCaches.cached(s, s"dedup:d5sh:$dir",
            docsVersion(s, dir)) {
          table(s, dir, "documents")
            .select(col("doc_id"),
              SimHash64.simhash64(s, tokens(col("text"))).as("sh"))
        }
        // 4 bands of 16 bits: a pair within Hamming distance 3 must
        // agree on at least one band (pigeonhole), so recall is EXACT
        // up to distance 3. The hamming<=8 verify filter below keeps
        // any band-colliding pair up to distance 8 — for distances
        // 4..8 recall is PARTIAL by design (a pair can spread its
        // differing bits one-per-band and collide nowhere): the
        // standard SimHash trade that keeps candidate generation a
        // bucket join instead of all-pairs. The DuckDB oracle mirrors
        // the identical banding, so the two engines agree on exactly
        // which pairs surface.
        val banded = docs.select(col("doc_id"), col("sh"),
          explode(array((0 until 4).map { b =>
            struct(lit(b).as("band"),
              shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))
                .as("bits"))
          }: _*)).as("bk"))
          .select(col("doc_id"), col("sh"),
            col("bk.band").as("band"), col("bk.bits").as("bits"))
        val l = banded.select(col("band"), col("bits"),
          col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        val r = banded.select(col("band"), col("bits"),
          col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        l.join(r, Seq("band", "bits"))
          .where(col("doc_a") < col("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
          .withColumn("hamming",
            bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
          .where(col("hamming") <= 8)
          .select("doc_a", "doc_b", "hamming")
          .orderBy("doc_a", "doc_b")
      },
      // The twin never assembles the 64-bit value (1<<63 overflows
      // BIGINT): it derives the per-bit tallies, folds them into the
      // same four 16-bit band keys, and sums per-band popcounts for the
      // Hamming distance.
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
        |  FROM documents),
        |tok1 AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
        |tokh AS (SELECT doc_id, md5(tok) AS h FROM tok1),
        |bits AS (
        |  SELECT doc_id, r.b AS b,
        |    CASE WHEN sum(CASE WHEN
        |        ((strpos('0123456789abcdef', substring(h, (r.b // 4) + 1, 1)) - 1)
        |          >> (r.b % 4)) % 2 = 1
        |      THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM tokh CROSS JOIN range(64) r(b)
        |  GROUP BY doc_id, r.b),
        |bands AS (
        |  SELECT doc_id, b // 16 AS band,
        |    CAST(sum(bit << (b % 16)) AS BIGINT) AS bv
        |  FROM bits GROUP BY doc_id, b // 16),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM bands a JOIN bands b2
        |    ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id),
        |ham AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(sum(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands ba ON ba.doc_id = c.doc_a
        |  JOIN bands bb ON bb.doc_id = c.doc_b AND bb.band = ba.band
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT doc_a, doc_b, hamming FROM ham
        |WHERE hamming <= 8 ORDER BY doc_a, doc_b""".stripMargin)))
}
