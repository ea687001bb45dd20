package graft.util

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession

/** Keyed memo for session-owned values (persisted DataFrames, built
  * index structures) — the ONE copy of the getOrElseUpdate + clear
  * boilerplate.
  *
  * Semantics:
  *  - `getOrBuild(spark, key)` memoizes `build` per (session, key):
  *    entries are keyed by the session object itself, so two live
  *    sessions never share an entry, and a stopped session's entries
  *    are simply never looked up again (a new session is a new key).
  *  - `clear` runs `release` (typically `unpersist`) on every value
  *    whose session is still live, then forgets everything.
  *
  * Every instance registers itself at construction, so
  * [[SessionCache.clearAll]] reaches every memo in the process — no
  * hand-kept list of caches to drift out of date.
  */
final class SessionCache[K, V](release: V => Unit) {
  private val m = TrieMap.empty[(SparkSession, K), V]
  SessionCache.all.add(this)

  /** The cached value iff present — never builds. Lets callers choose
    * a cheaper input when the shared one isn't already warm (e.g. a7's
    * kmeans report falling back to the raw corpus scan when the cell
    * table would have to be built just for it). */
  def peek(spark: SparkSession, key: K): Option[V] = m.get((spark, key))

  def getOrBuild(spark: SparkSession, key: K)(build: => V): V =
    m.getOrElseUpdate((spark, key), build)

  def clear(): Unit = {
    m.foreach { case ((s, _), v) => if (!s.sparkContext.isStopped) release(v) }
    m.clear()
  }
}

object SessionCache {
  import org.apache.spark.sql.DataFrame

  private val all = new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_, _]]

  /** Unpersist and forget every memo in the process: the index
    * artifacts, the coarse index, the eval legs, the quantile memos.
    * Called after anything that changes what the memos were computed
    * from (a corpus rewritten in place) and between test phases; never
    * on a query path. */
  def clearAll(): Unit = all.forEach(_.clear())

  /** Cache of persisted DataFrames: release = unpersist. */
  def forDf[K]: SessionCache[K, DataFrame] =
    new SessionCache[K, DataFrame](df => { df.unpersist(); () })

  /** Cache of plain values (routing stats, a few longs, a cloned
    * session) — nothing to release. */
  def forValue[K, V]: SessionCache[K, V] =
    new SessionCache[K, V](_ => ())
}
