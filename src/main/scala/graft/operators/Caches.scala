package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Deterministic release for the engine's shared cached subtrees.
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
  */
object Caches {

  private val scopes =
    new ThreadLocal[java.util.ArrayDeque[scala.collection.mutable.ArrayBuffer[() => Unit]]] {
      override def initialValue() =
        new java.util.ArrayDeque[scala.collection.mutable.ArrayBuffer[() => Unit]]()
    }

  private def register(release: () => Unit): Unit = {
    val stack = scopes.get()
    if (!stack.isEmpty) stack.peek() += release
  }

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
    * or not be checkpointed through this helper. Outside a scope it behaves
    * exactly like `localCheckpoint()`. Call sites that stop needing the
    * checkpoint mid-flight (a collected edge list, a superseded loop
    * iterate) should additionally release eagerly via [[releaseCheckpoint]]
    * — release is idempotent.
    */
  def checkpointed(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    register(() => releaseCheckpoint(ck))
    ck
  }

  /** Blocking-unpersist the checkpoint RDD(s) backing a frame returned by
    * [[checkpointed]] (or `localCheckpoint()` directly). Synchronous: the
    * RDD leaves `sc.getPersistentRDDs` before this returns. Idempotent.
    */
  def releaseCheckpoint(ck: DataFrame): Unit =
    ck.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { rdd =>
      try rdd.unpersist(blocking = true)
      catch { case _: Throwable => () }
    }

  /** Run `body` (which must EVALUATE what it builds — write, collect,
    * count), then release every [[shared]] / [[checkpointed]] frame
    * registered inside. Cache unpersist is idempotent and non-blocking
    * (CacheManager drops entries immediately, block cleanup async);
    * checkpoint release is blocking (the RDD leaves the persistent map
    * synchronously — a long-lived service stays flat on both).
    */
  def withScope[T](body: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer[() => Unit]()
    scopes.get().push(buf)
    try body
    finally {
      scopes.get().pop()
      buf.foreach(release => try release() catch { case _: Throwable => () })
    }
  }

  /** Memo key for a file-backed plan, or "" when the plan is not safely
    * memoizable — shared by the JVM-level derived-model memos (the
    * Duplicates kernel/edge memos, the Bpe merge-table memo). Only plans
    * whose every leaf is a file relation qualify: a LocalRelation's
    * canonicalized form omits its data, so two different in-memory corpora
    * would collide on the same key.
    *
    * The key folds in a fingerprint of the underlying FILES (name, length,
    * mtime), not just the root paths: a parquet directory rewritten in
    * place (compaction, an external refresh) must miss the memo, or a
    * long-lived session would serve stale models forever. Listing the
    * leaves' files is one namenode round-trip — noise next to the
    * computation the memo exists to skip.
    */
  private[operators] def planMemoKey(df: DataFrame): String = {
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
