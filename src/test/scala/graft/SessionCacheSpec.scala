package graft

import graft.util.SessionCache

/** The per-session cache behind the router and segment state and behind
  * `Artifacts`' per-session uses and tables: hit-returns-cached, bounded
  * LRU eviction, access refreshes recency. */
class SessionCacheSpec extends SparkSpec {

  test("hits return the cached value without rebuilding") {
    val c = new SessionCache[String](maxEntries = 2)
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    assert(c.getOrBuild(spark, "a")(build("va")) == "va")
    assert(c.getOrBuild(spark, "a")(build("IGNORED")) == "va")
    assert(builds == 1)
  }

  test("bounded LRU evicts the least recently used entry") {
    val c = new SessionCache[String](maxEntries = 2)
    c.getOrBuild(spark, "a")("va")
    c.getOrBuild(spark, "b")("vb")
    c.getOrBuild(spark, "a")("x") // refresh a => b is now LRU
    c.getOrBuild(spark, "c")("vc") // evicts b
    var rebuiltB = false
    assert(c.getOrBuild(spark, "b")({ rebuiltB = true; "vb2" }) == "vb2" && rebuiltB,
      "evicted entry must rebuild")
    // a was evicted when b rebuilt (capacity 2: c + b resident now)
    var rebuiltC = false
    assert(c.getOrBuild(spark, "c")({ rebuiltC = true; "x" }) == "vc" && !rebuiltC,
      "recently used entry must survive")
  }

  test("capacity eviction defers the hook to the next releaseSession") {
    var released = List.empty[String]
    val c = new SessionCache[String](maxEntries = 2, releaseValue = v => released ::= v)
    c.getOrBuild(spark, "a")("va")
    c.getOrBuild(spark, "b")("vb")
    c.getOrBuild(spark, "c")("vc") // evicts a → deferred, not released
    // eviction must NOT release inline: the evicted frame may be
    // mid-consumption by the caller that just built it (checkpoint blocks
    // can't be recomputed) — eager release belongs to the explicit
    // quiescence-point calls only. The evicted value parks on the
    // deferred list so the quiescence point can free its storage.
    assert(released.isEmpty,
      "LRU eviction ran the release hook on a value a caller may still hold")
    assert(c.liveEntries(spark) == 2)
    assert(c.deferredEntries(spark) == 1, "evicted value must be deferred")
    c.releaseSession(spark)
    assert(released.toSet == Set("va", "vb", "vc"),
      "releaseSession must release the cached AND the deferred values")
    assert(c.liveEntries(spark) == 0)
    assert(c.deferredEntries(spark) == 0, "deferred list must drain")
  }

  /** The round-5 regression pin: pinned session artifacts (dup groups,
    * IVF index, semantic-dup sets) degraded UNRELATED late-suite entries
    * 2–5× through storage-memory pressure alone — their plans never
    * referenced the artifacts. Two invariants keep that fixed: (1) no
    * q-family plan embeds cached-artifact lineage (a LogicalRDD/
    * InMemoryRelation leaf), so releasing artifacts can never change a
    * q-entry's result or plan; (2) releaseAll actually empties every
    * registered cache for the session, freeing the pinned blocks. */
  test("q-family plans are artifact-free; releaseAll empties the registry") {
    // build a real artifact first so the assertions are non-vacuous
    SparkEntry.queries("d08_dup_groups")(spark, sfDir)
    assert(SessionCache.totalLiveEntries(spark) > 0, "d08 must register an artifact")
    val artifactLeaves = Set("LogicalRDD", "InMemoryRelation")
    for ((name, fn) <- SparkEntry.queries if name.startsWith("q")) {
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      val bad = plan.collect {
        case p if artifactLeaves(p.getClass.getSimpleName) => p.getClass.getSimpleName
      }
      assert(bad.isEmpty, s"$name plan references session-artifact lineage: $bad")
    }
    SessionCache.releaseAll(spark)
    assert(SessionCache.totalLiveEntries(spark) == 0, "releaseAll must drop every entry")
  }
}
