package graft

import org.apache.spark.sql.SparkSession

/**
 * Session-scoped driver-side memo: a TrieMap keyed by the SESSION OBJECT
 * plus a string key, with eviction wired to the session's application end.
 *
 * Exists to close two r17-audit findings at once (VERDICT "What's wrong"
 * #2/#3): the fixture caches keyed map entries by
 * `System.identityHashCode(session)` — identity hashes can collide between
 * live sessions (and be reused after GC), silently handing one session's
 * fixture to another — and the relation memo held strong references to
 * stopped sessions forever. Keying by the object fixes aliasing; a
 * SparkListener registered once per SparkContext drops every entry whose
 * session rode that context when the application ends (stopping ANY
 * session stops its shared context, so application end is exactly the
 * lifetime boundary of all its sessions' cached plans). `onEvict` runs on
 * every entry that eviction or [[clear]] drops — [[Fixture]] deletes a
 * fixture's temp directory there.
 */
private[graft] final class SessionCache[V](onEvict: V => Unit = (_: V) => ()) {
  private val m = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]
  SessionCache.register(this)

  def getOrElseUpdate(s: SparkSession, key: String)(v: => V): V = {
    SessionCache.hookEviction(s)
    m.getOrElseUpdate((s, key), v)
  }

  def put(s: SparkSession, key: String, v: V): Unit = {
    SessionCache.hookEviction(s)
    m.put((s, key), v)
  }

  private[graft] def evict(sc: org.apache.spark.SparkContext): Unit =
    m.keys.foreach { k =>
      // a stopped session's context reference stays valid after stop —
      // comparing contexts (not sessions) evicts every session that rode it
      if (k._1.sparkContext eq sc) m.remove(k).foreach(onEvict)
    }

  def clear(): Unit = m.keys.foreach(k => m.remove(k).foreach(onEvict))

  private[graft] def entriesForTesting(s: SparkSession): Int =
    m.keys.count(_._1 eq s)
}

private[graft] object SessionCache {
  // all caches ever constructed (a handful of static singletons — Tables'
  // memos and one per Fixture — so the set is tiny and fixed)
  private val caches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SessionCache[_]]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  private def register(c: SessionCache[_]): Unit = caches.add(c)

  /** Register the eviction listener once per context. */
  private def hookEviction(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (hooked.add(sc)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          evictAll(sc)
      })
    }
  }

  /** Drop every cache entry of every session that rode `sc` (exposed so a
    * test can drive the eviction path without stopping the shared test
    * context). */
  private[graft] def evictAll(sc: org.apache.spark.SparkContext): Unit = {
    caches.forEach(_.evict(sc))
    hooked.remove(sc)
  }
}
