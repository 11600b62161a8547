package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Small bounded per-(session, key) artifact cache.
  *
  * Its values are built and held per session: a second session asking
  * for the same key builds its own. That fits state that IS per session
  * (a router's heat, a segment cache's admissions, the semi-reduction
  * selectivities); an artifact every session would compute alike from
  * the same source files belongs in [[Artifacts]], which builds it once
  * per source version and keeps each session's use of it, and its
  * per-session tables, in two of these caches (so
  * [[SessionCache.releaseAll]] releases those too).
  *
  * Weak session keys do NOT work when the cached value is a DataFrame:
  * the value strongly references its SparkSession, which re-reaches the
  * key through the map and pins the entry forever (the WeakHashMap
  * value→key pitfall). So retention is bounded instead: access-ordered
  * LRU over (session, key) with a small capacity — the worst case is
  * `maxEntries` retained artifacts, not one per session×dir ever seen.
  *
  * The explicit [[SessionCache.releaseAll]] below runs the instance's
  * `releaseValue` hook, so a checkpointed frame's storage blocks are
  * freed EAGERLY (unpersist) rather than waiting for the ContextCleaner
  * to notice the dropped reference after a GC. Artifacts pinned for a
  * whole benchmark suite were measured evicting working memory out from
  * under unrelated late-suite queries (q03 0.34→1.7 s with an identical
  * plan); on a cluster the same pinning steals executor storage from the
  * running job, so callers that know a family of queries is done should
  * release its artifacts. Capacity eviction, by contrast, defers: the
  * evicted value parks on a bounded list and is released at the NEXT
  * quiescence-point call (see the map) — eager release is safe
  * exclusively at the caller-declared quiescence points.
  *
  * Builds run OUTSIDE the monitor: a multi-second artifact build (k-means
  * training, label propagation) must not block cache hits for other
  * entries. Two racing builders for the same key both build; the first
  * insert wins and the loser's value is discarded (artifacts here are
  * idempotent and side-effect-free, so the duplicate work is benign —
  * but the loser's value IS released, it would otherwise leak storage).
  */
final class SessionCache[V](maxEntries: Int = 8,
    releaseValue: V => Unit = (_: V) => ()) {

  SessionCache.register(this)

  // Capacity eviction must NOT run the release hook inline: an evicted
  // frame may still be mid-consumption by the caller that just built it
  // (builds run outside the monitor), and unpersisting a localCheckpoint's
  // blocks under a running job is a use-after-free (lineage is truncated;
  // blocks can't be recomputed). But dropping ONLY the reference leaves
  // the blocks to GC + ContextCleaner — under key churn, executor storage
  // fills with unreachable checkpoint blocks between release calls. So an
  // evicted value goes onto a DEFERRED list instead, drained (released)
  // at the next explicit releaseSession/releaseAll — the caller-declared
  // quiescence point where eager release is safe. The list is bounded
  // ([[DeferredCap]]): if no release point ever comes, the oldest deferred
  // values fall back to the old drop-the-reference/GC path rather than
  // pinning storage forever. Inline eager release remains only for the
  // losing racer below (whose value was never handed out).
  private val DeferredCap = 64
  private val deferred = new java.util.ArrayDeque[(SparkSession, V)]()
  private val map = new java.util.LinkedHashMap[(SparkSession, String), V](
    16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(SparkSession, String), V]): Boolean = {
      if (size() <= maxEntries) return false
      deferred.addLast((e.getKey._1, e.getValue()))
      while (deferred.size() > DeferredCap) deferred.pollFirst() // → GC path
      true
    }
  }

  private def releaseQuietly(v: V): Unit =
    try releaseValue(v)
    catch { case _: Throwable => () } // release is best-effort bookkeeping

  def getOrBuild(s: SparkSession, key: String)(build: => V): V = {
    val k = (s, key)
    synchronized {
      val cur = map.get(k)
      if (cur != null) return cur
    }
    val v = build
    synchronized {
      val cur = map.get(k)
      if (cur != null) {
        releaseQuietly(v) // losing racer: free its storage, keep the winner
        cur
      } else {
        map.put(k, v)
        v
      }
    }
  }

  /** Drop (and release) every entry belonging to `s`, including values
    * capacity-evicted since the last release (deferred list). */
  def releaseSession(s: SparkSession): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) { releaseQuietly(e.getValue); it.remove() }
    }
    val dit = deferred.iterator()
    while (dit.hasNext) {
      val (ds, v) = dit.next()
      if (ds eq s) { releaseQuietly(v); dit.remove() }
    }
  }

  /** Deferred (capacity-evicted, not yet released) values for `s` (spec hook). */
  def deferredEntries(s: SparkSession): Int = synchronized {
    var n = 0
    deferred.forEach(d => if (d._1 eq s) n += 1)
    n
  }

  /** Number of live entries for `s` (spec hook). */
  def liveEntries(s: SparkSession): Int = synchronized {
    var n = 0
    map.keySet().forEach(k => if (k._1 eq s) n += 1)
    n
  }
}

object SessionCache {

  // Registry of every instance, so a suite runner can release one
  // session's artifacts across ALL families without knowing which
  // operator objects hold caches. Shipped instances are singletons held
  // by `object`s, but nothing enforces that (specs construct throwaway
  // caches), so the registry holds them WEAKLY — a dead cache and its
  // retained values must not be pinned for the JVM lifetime.
  private val instances = new java.util.concurrent.CopyOnWriteArrayList[
    java.lang.ref.WeakReference[SessionCache[_]]]

  private def register(c: SessionCache[_]): Unit = {
    instances.removeIf(r => r.get == null) // purge collected caches
    instances.add(new java.lang.ref.WeakReference(c))
  }

  private def live(): Iterator[SessionCache[_]] = {
    import scala.jdk.CollectionConverters._
    instances.iterator().asScala.flatMap(r => Option(r.get))
  }

  /** Release every cached artifact of `s` in every [[SessionCache]] —
    * unpersists checkpoint/persist blocks eagerly. Call ONLY at a
    * quiescence point for `s`'s artifact consumers (e.g. a query family
    * just completed): a released frame mid-consumption elsewhere is a
    * use-after-free, since checkpoint blocks can't be recomputed. The
    * next `getOrBuild` for a released key simply rebuilds. */
  def releaseAll(s: SparkSession): Unit =
    live().foreach(_.releaseSession(s))

  /** Total live entries for `s` across all caches (spec hook). */
  def totalLiveEntries(s: SparkSession): Int =
    live().map(_.liveEntries(s)).sum

  /** Eagerly free a materialized frame's storage: the Dataset-level cache
    * entry (if persisted) AND the block-manager blocks behind any
    * `localCheckpoint()` in its plan. A locally-checkpointed Dataset's
    * data lives in the persisted RDD wrapped by its [[LogicalRDD]] leaf —
    * `Dataset.unpersist()` alone never reaches it, which is why dropped
    * artifacts otherwise linger until ContextCleaner + GC. */
  def releaseFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _              => ()
    }
  }
}
