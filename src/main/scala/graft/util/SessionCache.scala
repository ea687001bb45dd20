package graft.util

import scala.collection.concurrent.TrieMap

/** Keyed memo for session-owned values (persisted DataFrames, built
  * index structures) with stopped-session recovery — the ONE copy of
  * the getOrElseUpdate + isStopped-rebuild + clear boilerplate.
  *
  * Semantics:
  *  - `getOrBuild` memoizes `build` per key; if the cached value's
  *    owning SparkSession has been stopped (a test tore it down), the
  *    value is rebuilt against the live session and re-cached.
  *  - `clear` runs `release` (typically `unpersist`) on every value
  *    whose session is still live, then forgets everything.
  *
  * Every instance registers itself at construction, so
  * [[SessionCache.clearAll]] reaches every memo in the process — no
  * hand-kept list of caches to drift out of date.
  *
  * `live` must be cheap and side-effect-free (it runs on every hit);
  * for DataFrames it is `!df.sparkSession.sparkContext.isStopped`.
  * Keys must embed the session identity (the callers key on
  * `System.identityHashCode(spark)`) so two live sessions never share
  * an entry.
  */
final class SessionCache[K, V](live: V => Boolean, release: V => Unit) {
  private val m = TrieMap.empty[K, V]
  SessionCache.all.add(this)

  /** The cached value iff present AND its session is live — never
    * builds. Lets callers choose a cheaper input when the shared one
    * isn't already warm (e.g. a7's kmeans report falling back to the
    * raw corpus scan when the cell table would have to be built just
    * for it). */
  def peek(key: K): Option[V] = m.get(key).filter(live)

  def getOrBuild(key: K)(build: => V): V = {
    val v = m.getOrElseUpdate(key, build)
    if (live(v)) v
    else {
      // the owning session was stopped; rebuild against the live one
      val fresh = build
      m.put(key, fresh)
      fresh
    }
  }

  def clear(): Unit = {
    m.values.foreach(v => if (live(v)) release(v))
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

  private def dfLive(df: DataFrame): Boolean =
    !df.sparkSession.sparkContext.isStopped

  /** Cache of persisted DataFrames: stopped-session detection via the
    * owning context, release = unpersist. */
  def forDf[K]: SessionCache[K, DataFrame] =
    new SessionCache[K, DataFrame](dfLive, df => { df.unpersist(); () })

  /** Cache of plain values (routing stats, a few longs) — always live,
    * nothing to release. */
  def forValue[K, V]: SessionCache[K, V] =
    new SessionCache[K, V](_ => true, _ => ())
}
