package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for shared query artifacts — checkpointed frames,
  * trained models — keyed by (session, key). The shared-artifact contract
  * behind the quality gate, the pair graph, the adaptation feed, and the
  * trained quantizers: compute once per (session, corpus), reuse everywhere.
  *
  * Unlike a bare static map (the r5 shape), entries are EVICTED when the
  * owning session's SparkContext stops: every `getOrBuild` arms an
  * application-end listener (once per context), and on that event every memo
  * drops THAT context's entries (identity-prefixed keys — a second live
  * context in the same JVM is untouched) and releases what the values pinned —
  * localCheckpoint RDD blocks reachable through `LogicalRDD` leaves are
  * unpersisted best-effort (after a stop the block manager is gone and the
  * drop alone un-pins the session object graph for GC). A long-lived service
  * cycling sessions no longer accumulates dead (session, corpus) state, and
  * a FIFO `maxEntries` cap bounds growth even on one long-lived context
  * cycling discarded `newSession()`s, which no listener can observe.
  *
  * Builds run OUTSIDE the map's compute hook: builders may recursively
  * consult this or another memo (`ConcurrentHashMap` forbids re-entrant
  * mapping functions — recursive computeIfAbsent can throw or stall when
  * keys share a bin). A racing duplicate build is harmless; values are
  * deterministic per key.
  */
final class SessionMemo[V <: AnyRef](maxEntries: Int = 256) {
  require(maxEntries > 0)
  // insertion-ordered for the FIFO cap; all access under the map's own lock
  // (builds run OUTSIDE it — see getOrBuild)
  private val map = new java.util.LinkedHashMap[String, V](16, 0.75f, false)
  SessionMemo.register(this)

  def getOrBuild(s: SparkSession, key: String)(build: => V): V = {
    SessionMemo.armEviction(s)
    // context id leads the key so application-end eviction can drop exactly
    // the ended context's entries — a second live context in the same JVM
    // (multi-tenant driver, test harness) keeps its own
    val k = System.identityHashCode(s.sparkContext) + "|" +
      System.identityHashCode(s) + "|" + key
    val hit = map.synchronized(map.get(k))
    if (hit != null) hit
    else {
      val v = build
      map.synchronized {
        val prev = map.get(k)
        if (prev != null) prev
        else {
          map.put(k, v)
          // Bound growth on a long-lived context cycling sessions (the
          // application-end listener can't see a discarded newSession()):
          // drop the OLDEST entries' references only — never unpersist here,
          // a consumer may still hold the frame; once nothing references it,
          // GC + ContextCleaner reclaim the checkpoint blocks safely.
          val it = map.entrySet().iterator()
          while (map.size > maxEntries && it.hasNext) { it.next(); it.remove() }
          v
        }
      }
    }
  }

  /** Drop ONE entry — the versioned-artifact refresh path
    * ([[graft.streaming.ModelRefit]]): when a refit publishes version k+1,
    * version k's entry is removed and whatever it pinned is released. No-op
    * if the key is absent. Safe against live readers of the old value: drop
    * removes the MAP's reference only; a consumer mid-query keeps its own. */
  def drop(s: SparkSession, key: String): Unit = {
    val k = System.identityHashCode(s.sparkContext) + "|" +
      System.identityHashCode(s) + "|" + key
    val v = map.synchronized(map.remove(k))
    if (v != null) SessionMemo.release(v)
  }

  private[graft] def evictAll(): Unit = {
    val vals = map.synchronized {
      val vs = new java.util.ArrayList[V](map.values)
      map.clear()
      vs
    }
    vals.forEach(v => SessionMemo.release(v))
  }

  /** Drop only entries owned by the given context (key prefix match). */
  private[graft] def evictContext(ctxPrefix: String): Unit = {
    val vals = map.synchronized {
      val vs = new java.util.ArrayList[V]()
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(ctxPrefix)) { vs.add(e.getValue); it.remove() }
      }
      vs
    }
    vals.forEach(v => SessionMemo.release(v))
  }

  private[graft] def entryCount: Int = map.synchronized(map.size)
}

object SessionMemo {
  private val memos =
    new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_ <: AnyRef]]()
  private val hookedContexts = ConcurrentHashMap.newKeySet[String]()

  private def register(m: SessionMemo[_ <: AnyRef]): Unit = memos.add(m)

  /** Total live entries across every memo — observability for the eviction
    * contract (MemoEvictionSpec) and for service health checks. */
  def totalEntries: Int = {
    var n = 0
    memos.forEach(m => n += m.entryCount)
    n
  }

  /** Arm the application-end hook once per SparkContext. When the context
    * stops, every session on it is dead — eviction drops exactly the entries
    * keyed under THAT context (identity prefix), so a second live context in
    * the same JVM keeps its (deterministically rebuildable, but warm) state. */
  private def armEviction(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val key = sc.applicationId + "#" + System.identityHashCode(sc)
    if (hookedContexts.add(key)) {
      val ctxPrefix = System.identityHashCode(sc) + "|"
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          hookedContexts.remove(key)
          memos.forEach(_.evictContext(ctxPrefix))
        }
      })
    }
  }

  /** Best-effort release of what an evicted value pins: a checkpointed
    * DataFrame holds its blocks through `LogicalRDD` leaves. On a live
    * context (future per-session eviction paths) this frees the blocks; on
    * a stopped one the block manager already released them and dropping the
    * reference is the whole job. */
  private def release(v: AnyRef): Unit = v match {
    case df: DataFrame => unpersistLeaves(df)
    case _ => ()
  }

  /** Best-effort unpersist of the localCheckpoint blocks `df` pins
    * (reachable as `LogicalRDD` leaves — the RDD layer, which
    * `Dataset.unpersist` does not reach). A no-op on a stopped context,
    * whose block manager already released them. */
  private[graft] def unpersistLeaves(df: DataFrame): Unit =
    try {
      if (!df.sparkSession.sparkContext.isStopped)
        df.queryExecution.logical.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
        }.foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => () }
}
