package graft.cache

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache key: one column-projection segment of a table — the reference's
  * `SegmentKey` is (partition, column, byte-range)
  * (`fpdb-cache/include/fpdb/cache/SegmentKey.h`). In Spark the natural
  * cacheable unit is a column-pruned projection; `region` carries the
  * reference's PARTITION dimension (r12): "" is the whole table (the
  * pre-r12 key, unchanged for every existing call site), and a
  * `"col=value"` region names one partition's column segment — the unit
  * the reference's per-partition Mode wiring caches and evicts
  * independently (`PrePToS3PTransformer.cpp:197-460`,
  * `fpdb-catalogue/.../Partition.h:23-41`). At 100 TB the hot
  * days/regions are hot, never the whole table: a region-keyed segment
  * admits, serves, and evicts per partition, so warming the hot region
  * never triggers a full-table load. */
case class SegmentKey(table: String, columns: Seq[String], region: String = "")

/** Replacement policies of the reference's segment cache
  * (`fpdb-cache/src/policy/` — one .cpp per policy, `README.md:100`): LRU,
  * LFU, size-normalized LFU-S, and weighted-LFU (frequency × benefit
  * weight — the reference weights by measured pullup-vs-pushdown time
  * savings, `Globals.h:28-32`), plus the Belady/MIN research oracle. */
sealed trait CachePolicy
case object LRU extends CachePolicy
case object LFU extends CachePolicy
/** LFU-S — size-normalized LFU (`fpdb-cache/src/policy/LFUSCachingPolicy.cpp`):
  * priority = frequency / size, so a rarely-hit giant segment yields before
  * a frequently-hit small one and capacity buys the most hits per byte. */
case object LFUS extends CachePolicy
/** weight(key) = estimated recompute benefit per hit. */
case class WLFU(weight: SegmentKey => Double) extends CachePolicy
/** W-LFU with the weight MEASURED by the cache itself: on every miss the
  * admitted segment is loaded eagerly (the reference's `CacheLoadPOp` is
  * likewise an explicit load) and the observed load wall-time becomes the
  * segment's benefit-per-hit — echoing the reference weighting cache
  * priority by measured pullup-vs-pushdown savings
  * (`fpdb-executor/include/fpdb/executor/physical/Globals.h:28-32`), with
  * no caller-supplied estimate to get wrong. */
case object MeasuredWLFU extends CachePolicy
/** Belady/MIN — the reference's offline oracle policy
  * (`BeladyCachingPolicy.cpp`): evict the segment whose next use lies
  * farthest in the known future access trace (one entry per `get` call,
  * in order). Benchmarking aid, not an operational policy. */
case class Belady(futureTrace: Seq[SegmentKey]) extends CachePolicy

/** Admission/eviction bookkeeping + `persist()` as the storage mechanism.
  *
  * The reference's hybrid per-segment cache hands cache-hit columns and
  * storage-fetched columns of the *same rows* to a `MergePOp`
  * (`merge/MergeKernel.cpp:10-57`); Spark has no per-column block
  * assembly, so per SURVEY.md §7 the *policy* (what stays resident, hit
  * accounting, capacity, eviction order) is reproduced faithfully and the
  * *mechanism* is `persist(MEMORY_AND_DISK)` of the projected plan — the
  * documented deviation. On a cluster the same policy object drives which
  * hot projections stay pinned across the job graph.
  */
class SegmentCache(val capacityBytes: Long, val policy: CachePolicy = LRU) {

  private case class Entry(df: DataFrame, var sizeBytes: Long,
      var hits: Long, var lastAccess: Long, costSecs: Double = 0.0)

  private val entries = mutable.LinkedHashMap.empty[SegmentKey, Entry]
  private var clock = 0L
  private var hitCount = 0L
  private var missCount = 0L
  private var evictCount = 0L
  private var refusalCount = 0L
  private var refusedByteCount = 0L
  /** Keys whose MEASURED bytes exceeded [[capacityBytes]] (MeasuredWLFU's
    * eager load): capacity is fixed, so such a key can never be admitted,
    * and [[get]] refuses it before its load runs again. Ordinal keys
    * embed `table@fingerprint`, so a rewritten table is tried afresh.
    * Bounded: past [[MaxOversizeKeys]] the set is cleared (a forgotten
    * key costs one more load, never a wrong route). */
  private val oversize = mutable.Set.empty[SegmentKey]
  private val MaxOversizeKeys = 4096
  /** Miss counter driving the [[trueUpSizes]] throttle — atomic because
    * it ticks on the UNLOCKED miss path (a racing non-atomic var could
    * under-fire the periodic true-up arbitrarily, r12 ADVICE); the
    * refusal-path guard below covers the decision that matters either
    * way. */
  private val missesSinceTrueUp = new java.util.concurrent.atomic.AtomicLong(0)
  private val TrueUpEveryMisses = 8L

  def usedBytes: Long = entries.valuesIterator.map(_.sizeBytes).sum
  def hits: Long = hitCount
  def misses: Long = missCount
  /** Capacity evictions (admission displacing residents) — invalidateAll
    * is a teardown, not an eviction, and is not counted. The reference's
    * cache metrics report hit/miss/eviction per run
    * (`fpdb-cache` policy bookkeeping); [[graft.Bench]] surfaces these
    * three counters in its `modes` block so a cache-policy regression
    * shows up in the round record, not only in CacheSpec. */
  def evictions: Long = evictCount
  /** Admissions the cache refused (capacity or priority), including
    * keys refused outright because they can never fit. */
  def refusals: Long = synchronized(refusalCount)
  /** Bytes an eager policy loaded and then refused — storage reads that
    * bought no residency. Zero under the lazy policies, which refuse
    * before anything is read. */
  def refusedBytes: Long = synchronized(refusedByteCount)
  def keys: Seq[SegmentKey] = entries.keys.toSeq

  // under withActive: stats estimation reads the THREAD's conf (CBO
  // visitor choice), and admission pricing must not flip ~2× because a
  // server/pool thread never inherited an active session (r13 review)
  private def sizeOf(df: DataFrame): Long =
    org.apache.spark.sql.GraftBridge.withActive(df.sparkSession) {
      df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
    }

  /** BLOCK-MANAGER truth for a persisted frame's bytes — memSize +
    * diskSize of its columnar-buffer RDD, only when EVERY partition is
    * resident (a partially-cached frame would under-report and
    * over-admit). None until the frame has actually materialized.
    * Overridable so specs calibrated in stats bytes can pin policy
    * behavior with deterministic sizes. */
  protected def measuredBytes(df: DataFrame): Option[Long] =
    org.apache.spark.sql.GraftBridge.cachedBufferRddId(df).flatMap { id =>
      df.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == id)
        .filter(i => i.numCachedPartitions == i.numPartitions && i.numPartitions > 0)
        .map(i => i.memSize + i.diskSize)
    }

  /** Replace plan-stats size estimates with block-manager truth for every
    * fully-materialized resident segment. The stats estimate is all a
    * LAZY admission can price (nothing has run yet), but it is a LOGICAL
    * width — it multiplies across joins without CBO and prices strings at
    * declared width, so ordinal (zip-capable) segments were measured
    * tripping capacity refusals their compressed bytes fit comfortably
    * (r10 capacity sweep). Called from [[get]]'s miss path — throttled
    * (every [[TrueUpEveryMisses]] misses, plus unconditionally before a
    * would-be refusal) so `usedBytes` converges to what the segments
    * actually occupy without paying O(residents × RDDs) on every miss.
    * Sizes can true up in EITHER direction — columnar in-memory bytes can
    * exceed a parquet-compressed stats estimate too. */
  def trueUpSizes(): Unit = {
    // measure OUTSIDE the monitor: the lookup canonicalizes each entry's
    // plan, and the hit path takes this monitor — a slow true-up must
    // not block concurrent hits (the same rule produce/measureLoad
    // follow). Sizes re-apply by key afterwards; an entry evicted in
    // between is simply skipped, and one replaced by a racing winner
    // gets the old frame's measured bytes — plan-equal frames occupy
    // the same blocks, and the next miss re-measures regardless.
    val snapshot = synchronized { entries.toSeq }
    val measured = snapshot.flatMap { case (k, e) =>
      try measuredBytes(e.df).filter(_ > 0).map(k -> _)
      catch { case _: Throwable => None }
    }
    if (measured.nonEmpty) synchronized {
      measured.foreach { case (k, b) =>
        entries.get(k).foreach(_.sizeBytes = b)
      }
    }
  }

  /** Eviction priority — evict the SMALLEST value first. */
  private def priority(k: SegmentKey, hits: Long, lastAccess: Long,
      sizeBytes: Long, costSecs: Double = 0.0): Double = policy match {
    case LRU          => lastAccess.toDouble
    case LFU          => hits.toDouble
    case LFUS         => hits.toDouble / math.max(sizeBytes, 1L).toDouble
    case WLFU(w)      => hits.toDouble * w(k)
    case MeasuredWLFU => hits.toDouble * costSecs
    case Belady(trace) =>
      // clock = accesses so far; the next use of k at/after this point
      val next = trace.indexWhere(_ == k, math.min(clock, Int.MaxValue).toInt)
      if (next < 0) Double.NegativeInfinity else -next.toDouble
  }

  /** Get-or-compute: cache hit returns the persisted plan; miss computes
    * `produce`, admits it if it can fit (evicting lower-priority segments),
    * and returns it either way.
    *
    * Only the bookkeeping (hit accounting, admit/evict) runs under the
    * monitor. `produce`, `persist()` and above all MeasuredWLFU's
    * `measureLoad` (a full materialization job) run UNLOCKED, so a slow
    * load never blocks concurrent hits on other keys. Two racers may load
    * the same key concurrently; the loser finds the key resident at
    * admit time, discards its own copy, and returns the winner's. A key
    * whose measured load once exceeded the whole capacity is refused
    * without loading it again (see [[oversize]]). */
  def get(key: SegmentKey)(produce: => DataFrame): DataFrame = {
    val (hit, neverFits) = synchronized {
      clock += 1
      entries.get(key) match {
        case Some(e) =>
          hitCount += 1; e.hits += 1; e.lastAccess = clock
          (Some(e.df), false)
        case None =>
          missCount += 1
          val nf = oversize.contains(key)
          if (nf) refusalCount += 1
          (None, nf)
      }
    }
    hit match {
      case Some(df) =>
        // hits drain too: a hit-only steady state (warm workload, no
        // further misses) must not pin a refused frame's blocks for the
        // rest of the session — drainCondemned is one uncontended
        // monitor acquire when nothing is parked
        drainCondemned()
        return df
      case None => ()
    }
    // a key that can never fit is refused before any load: its frame
    // comes back unpersisted and unmeasured, as a lazy refusal's does
    if (neverFits) return produce
    // miss path — no lock held while Spark jobs run. Release any
    // admission-refused-but-materialized frames that have AGED OUT
    // (see [[drainCondemned]]'s age rule).
    drainCondemned()
    val df = produce
    val statsSize = sizeOf(df)
    val (size, cost) = policy match {
      case MeasuredWLFU =>
        // eager load (the reference's CacheLoadPOp is an explicit load
        // op): materialize under persist() and time it — the measured
        // wall-time IS the segment's benefit-per-hit weight, and the
        // MEASURED bytes (block-manager truth, available because the
        // load just ran) are its admission size — the reference's cache
        // accounts segments in actual bytes (`SegmentData` buffers), not
        // planner estimates
        df.persist(StorageLevel.MEMORY_AND_DISK)
        val c = measureLoad(df)
        val measured = measuredBytes(df)
        if (measured.exists(_ > capacityBytes)) synchronized {
          if (oversize.size >= MaxOversizeKeys) oversize.clear()
          oversize += key
        }
        (measured.getOrElse(statsSize), c)
      case _ => (statsSize, 0.0)
    }
    // True up resident sizes before the admission DECIDES — but not on
    // every miss: per resident the true-up canonicalizes a plan and
    // scans getRDDStorageInfo (O(residents × RDDs) driver work on the
    // hot miss path — r11 ADVICE). Throttled to (a) every
    // [[TrueUpEveryMisses]] misses, keeping usedBytes convergent under
    // miss-heavy churn, or (b) whenever THIS admission would be refused
    // at the currently-recorded usedBytes — refusal is the only decision
    // stale sizes can get wrong in a way that matters (a stale-small
    // accept is transient over-budget the next true-up corrects; a
    // stale-large refusal forgoes the admission permanently).
    if (missesSinceTrueUp.incrementAndGet() % TrueUpEveryMisses == 0 ||
        synchronized(usedBytes) + size > capacityBytes)
      trueUpSizes()
    synchronized {
      entries.get(key) match {
        case Some(e) => // losing racer: the key was admitted while we loaded
          // this records a second access event (the first was counted as
          // the miss at entry), so advance the clock with it — reusing the
          // stale tick would skew LRU ordering. Exception: Belady's
          // priority searches the trace FROM the clock position
          // (trace.indexWhere(_, clock)), so its clock must stay exactly
          // "get() calls so far" — an extra tick would skip a trace slot
          // and invert evictions. The plain-miss admit below never ticks:
          // its access was already counted at entry.
          policy match {
            case Belady(_) => ()
            case _         => clock += 1
          }
          e.hits += 1; e.lastAccess = clock
          // Spark's CacheManager keys cached data by CANONICALIZED plan:
          // when the two racers' plans are plan-equal, the loser's
          // persist() was a no-op against the winner's entry and an
          // unpersist() here would silently drop the winner's cached
          // data (the entry would look resident while every "hit"
          // re-reads storage). Only a genuinely different plan — a
          // distinct CacheManager entry — may be released.
          if (policy == MeasuredWLFU &&
              !df.queryExecution.analyzed.sameResult(e.df.queryExecution.analyzed))
            df.unpersist(blocking = false)
          e.df
        case None =>
          policy match {
            case MeasuredWLFU =>
              if (admit(key, size, cost)) {
                // re-assert residency: if a racing winner was admitted AND
                // evicted while we loaded, that eviction unpersisted the
                // shared plan-equal CacheManager entry — our own earlier
                // persist() with it. persist() is a no-op when still
                // registered and re-registers (lazily) when not, so the
                // admitted entry is never a looks-resident ghost.
                df.persist(StorageLevel.MEMORY_AND_DISK)
                entries.put(key, Entry(df, size, 1L, clock, cost))
              } else {
                refusedByteCount += size
                // refused AFTER the eager load: unpersisting NOW would
                // force the caller's one execution to re-read storage —
                // the full segment bytes paid TWICE per refusal (measured:
                // the mwlfu capacity sweep moved 209 MB/pass where the
                // lazy policies moved ~half). Keep the materialized
                // blocks for that single execution and release them once
                // AGED (or on the caller's [[leaseRefused]] release) —
                // transiently over budget by one refused segment, bounded
                // and honest.
                condemned += new Condemned(df, clock)
              }
            case _ =>
              if (admit(key, size)) {
                df.persist(StorageLevel.MEMORY_AND_DISK)
                entries.put(key, Entry(df, size, 1L, clock))
              }
          }
          df
      }
    }
  }

  /** Admission-refused frames whose eager load already materialized —
    * kept persisted for their caller's one execution. Release is by AGE
    * (the frame survives at least [[CondemnedAgeTicks]] further cache
    * interactions — a drain on the very next miss could unpersist it
    * out from under a caller that has not executed yet, silently
    * re-introducing the measured 2×-bytes-per-refusal regression under
    * concurrency) or, absolutely, by a [[leaseRefused]] lease: a leased
    * frame is never drained until its caller releases it. An unreleased
    * lease is released by [[invalidateAll]] (teardown). The worst case
    * of an early unleased drain is a recompute from lineage — a storage
    * re-read, never a wrong result. The plan-equality check mirrors the
    * loser-racer rule: Spark's CacheManager keys cached data by
    * canonicalized plan, so unpersisting a frame plan-equal to a CURRENT
    * resident would drop the resident's blocks out from under it. */
  private final class Condemned(val df: DataFrame, var tick: Long,
      var leased: Boolean = false)
  private val CondemnedAgeTicks = 2L
  private val condemned = mutable.Buffer.empty[Condemned]

  /** Pin a just-refused frame until the caller has executed it: returns
    * the release function when `df` is currently parked condemned (the
    * eager-admission policies), None otherwise (lazy policies never
    * condemn — the caller should fall back to its unmaterialized-frame
    * route). The release marks the frame immediately drainable and
    * drains; callers hand it to whatever brackets their execution
    * (HybridScan wires it into the ScanLease close). */
  def leaseRefused(df: DataFrame): Option[() => Unit] = synchronized {
    condemned.find(c => (c.df eq df) && !c.leased).map { c =>
      c.leased = true
      () => {
        // re-tick to "already aged" relative to the CURRENT clock (an
        // absolute sentinel like Long.MinValue would overflow the age
        // subtraction) so the drain below takes it immediately
        synchronized { c.leased = false; c.tick = clock - CondemnedAgeTicks }
        drainCondemned()
      }
    }
  }

  /** Refused frames still pinned by an open [[leaseRefused]] lease —
    * zero once every lease a caller took has closed (spec hook). */
  private[graft] def leasedRefusals: Int = synchronized(condemned.count(_.leased))

  private def drainCondemned(): Unit = {
    // The plan canonicalization behind sameResult is the expensive part
    // and must not run under the monitor (the hit path takes it) — but
    // the keep-or-release DECISION must: between an unlocked snapshot
    // and the unpersist a racer can admit a plan-equal resident (whose
    // CacheManager blocks the unpersist would then drop out from under
    // it) or evict one (leaking the condemned frame persisted forever).
    // So: snapshot + canonicalize unlocked, decide + release against the
    // CURRENT residents under the monitor — where the pre-warmed
    // sameResult is a cheap tree compare, and where admit() already
    // calls unpersist anyway (no new lock ordering). Only UNLEASED
    // frames older than CondemnedAgeTicks interactions are taken.
    val toCheck = synchronized {
      val (aged, keep) = condemned.partition(c =>
        !c.leased && clock - c.tick >= CondemnedAgeTicks)
      condemned.clear(); condemned ++= keep
      aged.toList
    }
    if (toCheck.isEmpty) return
    toCheck.foreach(c => c.df.queryExecution.analyzed.canonicalized)
    synchronized {
      val residents = entries.valuesIterator.map(_.df.queryExecution.analyzed).toList
      // Plan-equal frames share ONE CacheManager entry, so the release
      // must also spare frames plan-equal to a SIBLING still parked in
      // `condemned` (two refusals of the same plan: the first to age
      // must not drop blocks out from under the second, possibly
      // still-leased, caller — r11 ADVICE). Compared against the
      // CURRENT buffer, not the pre-drain snapshot: a frame parked by a
      // racer between the snapshot and here is still-executing by
      // definition. Frames added since the unlocked warm pay their
      // canonicalization under the monitor — rare (a racing refusal in
      // a drain window), bounded (one plan), and the alternative is
      // exactly the use-after-unpersist this guard exists to prevent.
      val kept = condemned.map(_.df.queryExecution.analyzed).toList
      toCheck.foreach { c =>
        val plan = c.df.queryExecution.analyzed
        val shared = residents.exists(_.sameResult(plan)) ||
          kept.exists(_.sameResult(plan))
        if (!shared) c.df.unpersist(blocking = false)
      }
    }
  }

  /** Materialize a just-persisted segment and return the load wall-time in
    * seconds (overridable so specs can inject deterministic costs). */
  protected def measureLoad(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Admission: a new segment enters iff the needed space can be freed by
    * evicting only residents whose priority does not exceed the candidate's
    * own would-be priority (hits = 1, lastAccess = now) — the reference's
    * LFU admission compares the incoming segment's frequency against the
    * eviction candidate's (`fpdb-cache/src/policy/LFUCachingPolicy.cpp`),
    * so one cold insert can never displace a hotter resident. Feasibility
    * is decided before anything is evicted: a rejected admission leaves the
    * cache untouched. Ties go to the newcomer (fresh data wins over an
    * equally-cold resident). */
  private def admit(key: SegmentKey, size: Long, costSecs: Double = 0.0): Boolean = {
    val ok = makeRoom(key, size, costSecs)
    if (!ok) refusalCount += 1
    ok
  }

  private def makeRoom(key: SegmentKey, size: Long, costSecs: Double): Boolean = {
    if (size > capacityBytes) return false
    val candP = priority(key, hits = 1L, lastAccess = clock, sizeBytes = size, costSecs)
    val asc = entries.toSeq
      .map { case (k, e) => (k, e, priority(k, e.hits, e.lastAccess, e.sizeBytes, e.costSecs)) }
      .sortBy(_._3)
      .iterator
    var freed = 0L
    val victims = mutable.ArrayBuffer.empty[(SegmentKey, Entry)]
    while (usedBytes + size - freed > capacityBytes) {
      if (!asc.hasNext) return false
      val (vk, ve, vp) = asc.next()
      if (vp > candP) return false // next-coldest resident outranks the candidate
      victims += ((vk, ve)); freed += ve.sizeBytes
    }
    victims.foreach { case (vk, ve) =>
      ve.df.unpersist(blocking = false)
      entries.remove(vk)
      evictCount += 1
    }
    true
  }

  def invalidateAll(): Unit = synchronized {
    entries.valuesIterator.foreach(_.df.unpersist(blocking = false))
    entries.clear()
    condemned.foreach(_.df.unpersist(blocking = false))
    condemned.clear()
  }
}
