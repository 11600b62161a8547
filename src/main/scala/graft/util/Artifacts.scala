package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SparkContext-wide registry of derived artifacts: a frame computed from
  * base tables and materialized once per version of its sources, shared
  * by every session that asks for that version — SparkCruise's (VLDB'21)
  * computation reuse across consumers, instead of one build per session.
  *
  * The key is the artifact's name, each source's [[graft.sources.Tables.version]]
  * (path, write mark and file fingerprint, so a graft write and an
  * external same-path rewrite both rotate it) and the session's
  * [[confDigest]] (so a session whose `spark.sql.*` confs can change the
  * rows gets its own entry). Each session gets the one materialization
  * rebound into itself (`Dataset.ofRows` over the checkpointed plan), so
  * views and analysis stay session-scoped.
  *
  * Release follows the [[SessionCache]] discipline: a session's uses sit
  * in a `SessionCache`, so [[SessionCache.releaseAll]] (the caller's
  * quiescence point) releases them, and a use displaced by capacity or a
  * newer version is released at the session's next such point. Releasing
  * a use drops the session's temp view named after the artifact when it
  * still reads it; the materialization itself is unpersisted only when
  * no other live use remains — a release by one session never frees
  * blocks another session is reading. Retention is bounded: at most
  * `MaxEntries` entries are registered (an evicted entry is dropped from
  * the map only; its remaining uses still release it, or GC and the
  * ContextCleaner reclaim it), and uses are bounded per session.
  */
object Artifacts {

  /** One materialization and the uses not yet released. */
  private final class Entry(val key: String, val sc: SparkContext, val frame: DataFrame) {
    private val uses = new java.util.HashSet[Use]
    /** The uses whose session is still alive (callers hold `entries`'
      * monitor): a collected session reads nothing any more. */
    def live: java.util.Set[Use] = { uses.removeIf(_.session == null); uses }
  }

  /** One session's use of an entry. The session is held weakly, so an
    * entry never pins the sessions that used it; the plan is the
    * materialization's, rebound into the session on every call. */
  private final class Use(s: SparkSession, val name: String, val entry: Entry,
      val plan: LogicalPlan) {
    private val ref = new java.lang.ref.WeakReference(s)
    def session: SparkSession = ref.get
  }

  private val MaxEntries = 8
  private val entries = new java.util.LinkedHashMap[String, Entry](
    16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > MaxEntries
  }

  private val uses = new SessionCache[Use](releaseValue = release)

  /** The artifact `name` over `sources` (`(dir, table)` pairs) for
    * `spark`, building it with `build` (a materialized frame, e.g. a
    * `localCheckpoint()`) only when no session has registered this
    * version yet. The build runs outside the registry's monitor; of two
    * racing builds the first registered wins and the other is released. */
  def getOrBuild(spark: SparkSession, name: String, sources: Seq[(String, String)])(
      build: => DataFrame): DataFrame = {
    val key = (name +: sources.map { case (d, t) => graft.sources.Tables.version(spark, d, t) } :+
      confDigest(spark)).mkString("|")
    GraftBridge.ofRows(spark, uses.getOrBuild(spark, key)(resolve(spark, name, key, build)).plan)
  }

  private def resolve(spark: SparkSession, name: String, key: String,
      build: => DataFrame): Use = {
    val sc = spark.sparkContext
    def live: Option[Entry] = Option(entries.get(key)).filter(_.sc eq sc)
    def use(e: Entry): Use = {
      val u = new Use(spark, name, e, e.frame.queryExecution.analyzed)
      e.live.add(u)
      u
    }
    entries.synchronized(live.map(use)).getOrElse {
      val v = build
      entries.synchronized {
        live match {
          case Some(e) => SessionCache.releaseFrame(v); use(e) // never handed out
          case None =>
            val e = new Entry(key, sc, v)
            entries.put(key, e)
            use(e)
        }
      }
    }
  }

  private def release(u: Use): Unit = {
    val s = u.session // alive: the session's cache still holds it
    val (lastOfSession, lastUse) = entries.synchronized {
      val live = u.entry.live
      live.remove(u)
      val last = live.isEmpty
      if (last && (entries.get(u.entry.key) eq u.entry)) entries.remove(u.entry.key)
      (!live.stream.anyMatch(_.session eq s), last)
    }
    // the view goes with the session's last use (a losing racer's
    // release must not drop the view its session's winner registered):
    // once the blocks are gone it could only fail mid-execution, where
    // without it a reference fails at analysis or the caller rebuilds
    if (lastOfSession && s != null) try {
      if (s.table(u.name).queryExecution.analyzed.sameResult(u.plan))
        s.catalog.dropTempView(u.name)
    } catch { case _: Throwable => () }
    if (lastUse) SessionCache.releaseFrame(u.entry.frame)
  }

  /** Digest of `spark`'s `spark.sql.*` confs whose value differs from
    * the SparkContext's ("" when none does). Two sessions with equal
    * digests read, infer and compute alike; one that changes e.g.
    * decimal precision loss or parquet type mapping gets its own
    * registry entries. */
  def confDigest(spark: SparkSession): String = {
    val ctx = spark.sparkContext.getConf
    val diff = spark.conf.getAll.toSeq.filter { case (k, v) =>
      k.startsWith("spark.sql.") && !ctx.getOption(k).contains(v)
    }.sorted
    if (diff.isEmpty) ""
    else graft.cache.HybridScan.shortDigest(diff.map { case (k, v) => s"$k=$v" }.mkString("\n"), 16)
  }
}
