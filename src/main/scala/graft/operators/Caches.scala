package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release for the engine's shared cached subtrees, and the
  * one memo the operators keep derived state in.
  *
  * Several operators cache an intermediate that later queries in the same
  * family reuse through CacheManager plan substitution (the tokenized
  * `termCounts` frame feeds n1–n5/n13/x61; the Duplicates TF and pair
  * frames feed n6/n7/n10/n11/p1) and deliberately never unpersist —
  * unpersisting at the call site would evict a subtree another consumer is
  * about to substitute (`Relevance.scala` documents the reasoning). The
  * cost of that policy is a long-lived session touching many corpora:
  * entries accumulate until LRU eviction, and the memory/GC pressure lands
  * on whatever runs late in the session.
  *
  * [[withScope]] bounds the lifetime without giving up sharing: every
  * [[shared]] cache registered while a scope is active (same thread — the
  * driver-side plan-construction thread) is unpersisted when the scope
  * exits, after the body has evaluated whatever it needed. Outside a
  * scope, [[shared]] is exactly `.cache()` — the cache-and-leave default
  * stands for interactive sessions, where the next query is unknown.
  *
  * [[Memo]] is the JVM-level reuse of derived state across queries
  * (trained models, collected edge lists, dup-mass verdicts, result
  * frames), keyed by [[planMemoKey]] plus the call's parameters: a bounded
  * LRU with hit/miss/evict counters that applies the frame rules (session
  * guard, cache re-registration, unpersist on eviction, no escape past a
  * released checkpoint) in one place. Two memos stay outside it on
  * purpose:
  *  - `Artifacts.servedMemo` builds each served artifact once even under
  *    concurrent callers and must never evict: rebuilding an evicted
  *    artifact into the same directory would rewrite files a live probe
  *    frame still reads.
  *  - the [[graft.Tables]] reader memo is keyed by (session, path) and is
  *    invalidated by path prefix through `Tables.forget`, not by a plan
  *    fingerprint.
  */
object Caches {

  /** One active [[withScope]]: what to run at its exit, and the ids of the
    * checkpoint RDDs [[checkpointed]] registered in it.
    */
  private final class Scope {
    val releases = scala.collection.mutable.ArrayBuffer[() => Unit]()
    val checkpointIds = scala.collection.mutable.Set[Int]()
  }

  private val scopes = new ThreadLocal[java.util.ArrayDeque[Scope]] {
    override def initialValue() = new java.util.ArrayDeque[Scope]()
  }

  private def register(release: () => Unit): Unit =
    Option(scopes.get().peek()).foreach(_.releases += release)

  /** Cache `df`; when a [[withScope]] is active on this thread, register
    * it for release at scope exit. Nested scopes release at the innermost
    * active scope (the registration point), matching who asked for it.
    * A plan the CacheManager already holds is not cached again (that is a
    * no-op which only logs "Asked to cache already cached data").
    */
  def shared(df: DataFrame): DataFrame = {
    if (df.sparkSession.sharedState.cacheManager.lookupCachedData(castToImpl(df)).isEmpty)
      df.cache()
    register(() => try df.unpersist(blocking = false) catch { case _: Throwable => () })
    df
  }

  /** `df.localCheckpoint()` that a scope can release. A checkpointed RDD
    * is registered with the ContextCleaner, not the SQL CacheManager, so
    * neither `unpersist` on the frame nor `clearCache()` frees it — without
    * explicit release it parks executor memory until its Dataset is GC'd.
    * Inside a [[withScope]], the underlying RDD is blocking-unpersisted at
    * scope exit (the body must have evaluated anything derived from it, the
    * same contract [[shared]] carries). WARNING — this contract is STRICTER
    * than [[shared]]'s in one way: a released `shared` frame silently
    * recomputes from lineage, but a released localCheckpoint CANNOT (its
    * lineage is truncated), so a checkpointed frame that escapes the scope
    * unevaluated throws "checkpoint block not found" when a later caller
    * finally evaluates it. A frame (or anything derived from it) that may
    * outlive the scope must either be fully materialized inside the scope
    * or not be checkpointed through this helper ([[Memo]] drops the frames
    * it holds over such a checkpoint when the scope exits, using the ids
    * recorded here). Outside a scope it behaves exactly like
    * `localCheckpoint()`. Call sites that stop needing the checkpoint
    * mid-flight (a collected edge list, a superseded loop iterate) should
    * additionally release eagerly via [[releaseCheckpoint]] — release is
    * idempotent.
    */
  def checkpointed(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    Option(scopes.get().peek()).foreach(_.checkpointIds ++= rddsUnder(ck).map(_.id))
    register(() => releaseCheckpoint(ck))
    ck
  }

  /** Blocking-unpersist the checkpoint RDD(s) backing a frame returned by
    * [[checkpointed]] (or `localCheckpoint()` directly). Synchronous: the
    * RDD leaves `sc.getPersistentRDDs` before this returns. Idempotent.
    */
  def releaseCheckpoint(ck: DataFrame): Unit =
    rddsUnder(ck).foreach { rdd =>
      try rdd.unpersist(blocking = true)
      catch { case _: Throwable => () }
    }

  private def rddsUnder(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Run `drop` when the innermost active scope that checkpointed an RDD
    * under `df` exits — the point where `df` stops being evaluable. No-op
    * when no active scope did.
    */
  private def onCheckpointRelease(df: DataFrame)(drop: () => Unit): Unit = {
    val ids = rddsUnder(df).map(_.id).toSet
    if (ids.nonEmpty)
      scopes.get().asScala.find(_.checkpointIds.exists(ids)).foreach(_.releases += drop)
  }

  /** Run `body` (which must EVALUATE what it builds — write, collect,
    * count), then release every [[shared]] / [[checkpointed]] frame
    * registered inside. Cache unpersist is idempotent and non-blocking
    * (CacheManager drops entries immediately, block cleanup async);
    * checkpoint release is blocking (the RDD leaves the persistent map
    * synchronously — a long-lived service stays flat on both).
    */
  def withScope[T](body: => T): T = {
    val scope = new Scope
    scopes.get().push(scope)
    try body
    finally {
      scopes.get().pop()
      scope.releases.foreach(release => try release() catch { case _: Throwable => () })
    }
  }

  /** A bounded, session-level memo of derived state, keyed by
    * [[memoKey]] (or a bare [[planMemoKey]]); the empty key means "not
    * memoizable" (always a miss, never stored). Eviction is LRU, one entry
    * at a time: an access-ordered `LinkedHashMap` behind a lock, with
    * builds ([[getOrElseUpdate]]'s `build`) running outside the lock, so
    * two concurrent misses may both build and the later `put` wins.
    *
    * `frameOf` names the DataFrame inside a value, for memos that hold
    * frames (null for the rest). For those:
    *  - a frame built in a session other than the caller's misses;
    *  - a hit goes back through [[shared]], so a `clearCache()` between
    *    consumers degrades to a rebuild, never a stale read, and an active
    *    scope releases it like any other shared frame;
    *  - an evicted frame is unpersisted. Its checkpoints are not released —
    *    a caller may still hold the frame; once the memo drops its
    *    reference, Spark's ContextCleaner frees them;
    *  - a frame stored inside a [[withScope]] whose lineage reads a
    *    checkpoint that scope registered (the iterative components arm) is
    *    dropped at that scope's exit: the checkpoint is released there and
    *    the frame could not be evaluated again. Inside the scope it is
    *    reused as usual.
    *
    * `hits`/`misses`/`evictions` count lookups and capacity evictions (a
    * scope-exit drop is not an eviction).
    */
  final class Memo[V](capacity: Int, frameOf: V => DataFrame = (_: Any) => null) {
    private val entries = new java.util.LinkedHashMap[String, V](16, 0.75f, true)
    private val hitCount, missCount, evictCount = new AtomicLong()

    def hits: Long = hitCount.get()
    def misses: Long = missCount.get()
    def evictions: Long = evictCount.get()

    /** The entry under `key`; `spark` is the caller's session (frame
      * memos only).
      */
    def get(key: String, spark: SparkSession = null): Option[V] = {
      val hit = (if (key.isEmpty) None else entries.synchronized(Option(entries.get(key))))
        .filter(v => Option(frameOf(v)).forall(_.sparkSession eq spark))
      (if (hit.isEmpty) missCount else hitCount).incrementAndGet()
      hit.flatMap(v => Option(frameOf(v))).foreach(shared)
      hit
    }

    /** Store `value` under `key` (not when the key is empty); returns it. */
    def put(key: String, value: V): V = {
      if (key.nonEmpty) {
        val evicted = entries.synchronized {
          entries.put(key, value)
          if (entries.size <= capacity) None
          else {
            val eldest = entries.values.iterator
            val v = eldest.next()
            eldest.remove()
            Some(v)
          }
        }
        evicted.foreach { v =>
          evictCount.incrementAndGet()
          Option(frameOf(v)).foreach(f =>
            try f.unpersist(blocking = false) catch { case _: Throwable => () })
        }
        Option(frameOf(value)).foreach(f => onCheckpointRelease(f)(() =>
          entries.synchronized(entries.remove(key, value): Unit)))
      }
      value
    }

    def getOrElseUpdate(key: String, spark: SparkSession = null)(build: => V): V =
      get(key, spark).getOrElse(put(key, build))
  }

  /** Memo key for a file-backed plan, or "" when the plan is not safely
    * memoizable — the key every [[Memo]] and `Artifacts.servedMemo` build
    * on. Only plans whose every leaf is a file relation qualify: a
    * LocalRelation's canonicalized form omits its data, so two different
    * in-memory corpora would collide on the same key.
    *
    * The key folds in a fingerprint of the underlying FILES (name, length,
    * mtime), not just the root paths: a parquet directory rewritten in
    * place (compaction, an external refresh) must miss the memo, or a
    * long-lived session would serve stale models forever. Listing the
    * leaves' files is one namenode round-trip — noise next to the
    * computation the memo exists to skip.
    *
    * Freshness assumption: a rewrite that keeps every file's name and
    * length and lands within one mtime tick of the original (about 1 s on
    * many local filesystems) yields the same fingerprint, and the memos
    * then serve the old corpus's models and frames.
    */
  private[graft] def planMemoKey(df: DataFrame): String = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val filePaths = leaves.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    if (filePaths.length == leaves.length)
      pathsFingerprint(df.sparkSession, filePaths) match {
        case Some(fp) =>
          df.queryExecution.analyzed.canonicalized.toString + "|" +
            filePaths.mkString(";") + "|fp=" + fp
        case None => "" // can't attest freshness -> not memoizable
      }
    else ""
  }

  /** A [[Memo]] key: [[planMemoKey]]`(df)` + `"|" + params`, or "" when
    * `df` is not memoizable.
    */
  private[operators] def memoKey(df: DataFrame, params: String): String = {
    val key = planMemoKey(df)
    if (key.isEmpty) "" else s"$key|$params"
  }

  /** 64-bit fold of (file name, length, modification time) over every file
    * under the given roots — the in-place-rewrite detector for
    * [[planMemoKey]]. None when any root can't be listed: an unverifiable
    * fingerprint must disable memoization, never risk a stale hit.
    */
  private def pathsFingerprint(spark: org.apache.spark.sql.SparkSession,
                               roots: Seq[String]): Option[String] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      Some(roots.flatMap(_.split(",")).map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        val it = fs.listFiles(hp, true)
        var h = 1125899906842597L
        while (it.hasNext) {
          val st = it.next()
          h = h * 31 + st.getPath.getName.hashCode
          h = h * 31 + st.getLen
          h = h * 31 + st.getModificationTime
        }
        java.lang.Long.toHexString(h)
      }.mkString(","))
    } catch { case _: Throwable => None }
}
