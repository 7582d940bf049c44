package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A memo whose entries live no longer than the SparkSession that owns
  * them — the one cache policy behind every session-scoped dimension,
  * fixture, store and manifest memo in the engine.
  *
  * FRESHNESS CONTRACT: a hit is served for an EQUAL key and nothing else
  * is checked. Callers put every input that determines the value in the
  * key: DataFrame keys compare by object identity, so data re-written
  * under a reused frame object serves the stale value (callers build a
  * new frame, e.g. by re-reading the path); store keys carry a stamp of
  * the files on disk (see [[graft.dedup.DedupIndexIO.storeStamp]]).
  *
  * Policy:
  *  - `compute` runs OUTSIDE the map lock (it may run a Spark job, or
  *    re-enter this memo); the first value published wins, and a losing
  *    value is passed to `release`;
  *  - every call drops the entries of stopped sessions without `release`
  *    (their context is dead), so they cannot pin plans or block managers
  *    of dead sessions for the JVM lifetime;
  *  - past `cap` entries the memo releases its values and clears — the
  *    memos exist for repeated calls within one run, not for key churn.
  */
final class SessionMemo[K, V](cap: Int = 64, release: V => Unit = (_: V) => ())(
    sessionOf: K => SparkSession) {

  private val entries = new ConcurrentHashMap[K, V]()

  def apply(key: K)(compute: => V): V = {
    sweep()
    val hit = entries.get(key)
    if (hit != null) hit
    else {
      val v = compute
      val prev = entries.putIfAbsent(key, v)
      if (prev == null) v else { release(v); prev }
    }
  }

  /** Memoize under `key` when there is one; `None` (e.g. a store whose
    * stamp cannot be read) computes on every call and never hits.
    */
  def whenKeyed(key: Option[K])(compute: => V): V =
    key.fold(compute)(apply(_)(compute))

  /** Publish a value computed elsewhere; an existing entry wins. */
  def seed(key: K, v: V): Unit = {
    sweep()
    entries.putIfAbsent(key, v)
  }

  /** Release the values of live sessions and drop every entry. */
  def clear(): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      try {
        if (!sessionOf(e.getKey).sparkContext.isStopped) release(e.getValue)
      } catch { case NonFatal(_) => }
      it.remove()
    }
  }

  private def sweep(): Unit = {
    val it = entries.keySet().iterator()
    while (it.hasNext) {
      if (sessionOf(it.next()).sparkContext.isStopped) it.remove()
    }
    if (entries.size > cap) clear()
  }
}
