package graft.ops

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry for the small cached relations the ops derive
  * (token/shingle tables, minhash signatures, LSH-banded corpora, IVF
  * inverted lists).
  *
  * Why a registry instead of bare `.cache()` calls: Spark's CacheManager
  * dedups by canonicalized plan, so repeated invocations never duplicate
  * storage — but nothing ever RELEASES those entries either, and a
  * long-lived session accumulates one cached relation per distinct
  * (table dir × variant) forever. Tracking them here keeps repeat
  * invocations at zero net storage growth (same key → same cached
  * DataFrame instance) and gives the session an explicit release hook:
  * [[clear]] unpersists everything tracked.
  *
  * Entries carry a `version` token — the ops pass [[tableVersion]], a
  * digest of the source table's file listing — so a table rewritten
  * mid-session yields a version mismatch, evicting the stale relation
  * instead of serving results derived from files that no longer exist.
  */
private[graft] object OpCaches {

  private val entries = TrieMap.empty[String, (String, DataFrame)]

  /** Non-DataFrame memo (trained models and the like) with the same
    * (session, key, version) discipline as [[cached]]. Entries may hold
    * checkpointed DataFrames, so [[clear]] forgets them too — a memo
    * surviving a deepClean would serve DataFrames whose RDD blocks the
    * clean just released.
    */
  private val objects = TrieMap.empty[String, (String, SparkSession, AnyRef)]

  /** Build-and-memoize an arbitrary value once per (session, key,
    * version). Unlike [[cached]] nothing is persisted here — `make` is
    * responsible for its own caching/checkpointing; this only prevents
    * re-RUNNING an expensive build (e.g. IVF training collects +
    * checkpoints) when the inputs are unchanged.
    *
    * `make` runs under a PER-KEY latch, not the global monitor: an IVF
    * training build is minutes of Spark jobs, and holding the registry
    * lock through it would block every unrelated [[cached]] caller
    * (whose makes are microsecond plan builds) for the duration.
    *
    * A DISPLACED entry (stale version / new session) is simply
    * forgotten: dropping the memo's strong reference hands the old
    * model's checkpoint blocks to Spark's ContextCleaner, which
    * reclaims them on GC — the same weak-reference discipline all
    * Spark lineage cleanup uses — and [[deepClean]] reclaims
    * everything at pass boundaries regardless.
    */
  def cachedObj[T <: AnyRef](spark: SparkSession, key: String,
      version: String)(make: => T): T = {
    def hit(): Option[T] = objects.get(key) match {
      case Some((v, sess, o)) if v == version && (sess eq spark) &&
          !sess.sparkContext.isStopped =>
        Some(o.asInstanceOf[T])
      case _ => None
    }
    hit().getOrElse {
      val latch = building.computeIfAbsent(key, _ => new Object)
      latch.synchronized {
        hit().getOrElse {
          val fresh = make
          objects.put(key, (version, spark, fresh))
          fresh
        }
      }
    }
  }

  /** Per-key build latches for [[cachedObj]] (never removed: one small
    * object per distinct key, bounded by the registry's key space).
    */
  private val building =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Build-and-cache once per (session, key, version); later calls from
    * the same session with the same version return the SAME cached
    * DataFrame. `make` must be deterministic for (key, version). An
    * entry from a different (or stopped) SparkSession, or with a stale
    * version token, is dropped and rebuilt — a cached plan bound to a
    * dead session would throw on first use, and one bound to rewritten
    * source files would silently serve stale rows.
    *
    * The check-build-put sequence is synchronized so two racing threads
    * can't both build and strand one never-unpersisted copy. SCOPE
    * NOTE: the registry is process-global but entries are per-session —
    * TWO live sessions querying the same dir would evict each other's
    * entry on every call (rebuild thrash, never wrong results). The
    * harness is single-session; a multi-session serving layer should
    * key this map by (session, key).
    */
  def cached(spark: SparkSession, key: String, version: String = "")(
      make: => DataFrame): DataFrame = synchronized {
    entries.get(key) match {
      case Some((v, df)) if v == version && (df.sparkSession eq spark) => df
      case stale =>
        stale.foreach { case (_, df) =>
          if (!df.sparkSession.sparkContext.isStopped) df.unpersist() }
        val fresh = make.cache()
        entries.put(key, (version, fresh))
        fresh
    }
  }

  /** Snapshot fingerprint of the files backing `dir/name.parquet`: a
    * digest over (path, length, modificationTime) of every file under
    * it. One driver-side metadata listing per op invocation — the same
    * order of work as the footer reads the scan itself does, and the
    * price of never serving dedup/ANN results for a table that was
    * rewritten after the cache was populated. Missing paths fingerprint
    * to a constant (the build will fail loudly in `make` instead).
    *
    * KNOWN LIMIT: a rewrite that keeps every file's name AND byte
    * length AND lands within the store's mtime granularity (1 s on
    * some object stores) fingerprints identically. Closing that would
    * need a content read per file per invocation — not worth it for a
    * metadata-only check; Spark's own relation cache makes the same
    * trade.
    */
  def tableVersion(spark: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        parts += s"${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}"
      }
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(parts.sorted.mkString("\n").getBytes("UTF-8"))
    digest.map("%02x".format(_)).mkString.take(16)
  }

  def size: Int = entries.size

  private[graft] def tracked: Iterable[DataFrame] = entries.values.map(_._2)

  /** Unpersist and forget every tracked relation. Safe to call between
    * jobs; the next invocation re-derives and re-caches.
    */
  def clear(): Unit = {
    entries.values.foreach { case (_, df) =>
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist() }
    entries.clear()
    objects.clear()
  }

  /** Release EVERYTHING a benchmark pass may have left in storage, not
    * just the tracked entries: `localCheckpoint` results hold RDD
    * blocks the DataFrame-level unpersist in [[clear]] cannot reach
    * (they belong to the RDD and are only reclaimed after the wrapper
    * is garbage-collected), and memory-sink tables from streaming
    * drains live outside the registry entirely. A multi-pass session
    * that only calls [[clear]] accumulates those until late passes
    * measure storage eviction instead of the operators — perfbench's
    * curate_pipeline and the sf1 rehearsal call this at pass boundaries
    * so every pass starts from the same storage state. The System.gc()
    * nudge lets the ContextCleaner's weak references fire NOW instead
    * of during the next timed query.
    */
  def deepClean(spark: SparkSession): Unit = {
    clear()
    // the Delta snapshot cache is part of "everything a pass may have
    // left": a cold pass that served staging-cached snapshots would
    // skip log replay and understate a fresh session's first execution
    graft.delta.DeltaLog.clearSnapshotCache()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
