package graft.sources

import org.apache.spark.sql.SparkSession

/** Write-once derived-copy discipline shared by [[Layout]] and
  * [[JsonLines]]: a fixture directory derived from a source dir, built
  * at most once per JVM and REUSED across JVMs.
  *
  * Two hazards this centralizes away:
  *  - path collision: a readable sanitization of the source dir alone is
  *    lossy (`sf0.1` and `sf0_1` both sanitize to `sf0_1`), so the path
  *    carries an md5 suffix of the exact dir string;
  *  - overwrite-vs-read race: `mode("overwrite")` DELETES the directory
  *    first, so a second JVM rebuilding a fixture (its own in-process
  *    guard is empty) would yank files out from under the first JVM's
  *    lazy scans. A completed write is detected by Spark's `_SUCCESS`
  *    marker and reused — concurrent JVMs converge to one writer and
  *    many readers. (Two JVMs racing the FIRST build of the same fixture
  *    remain unsynchronized — acceptable for derived test fixtures; a
  *    production writer would take a filesystem lease.)
  *
  * When a fixture's DEFINITION changes (different columns, different
  * clustering), rename its `name` — the marker check cannot distinguish
  * a stale layout from a current one. Source-DATA changes need no such
  * discipline: the path carries a fingerprint of the source dir's
  * file names, sizes, and mtimes, so regenerating the testdata under
  * the same path lands fixtures in a fresh directory instead of
  * silently reusing derived copies of the old data.
  */
private[graft] object Fixtures {

  private val Root = "/tmp/graft-fixtures"

  /** Fingerprint of the SOURCE data the fixture derives from: every
    * file's (relative name, length, mtime) under `dir`, one level deep —
    * the testdata layout is flat parquet files (TESTDATA.md). Listing a
    * handful of entries is plan-time cheap; hashing contents would scan
    * the corpus. */
  private def sourceStamp(dir: String): String = {
    val f = new java.io.File(dir)
    val entries = Option(f.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).sortBy(_.getName)
      .map(x => s"${x.getName}:${x.length}:${x.lastModified}")
    entries.mkString("|")
  }

  def path(dir: String, name: String): String = {
    val readable = dir.replaceAll("[^A-Za-z0-9]", "_")
    val exact = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir ${sourceStamp(dir)}".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(8)
    s"$Root/$readable-$exact/$name"
  }

  // per-(session, dir#name) memo of built fixture paths — the shared
  // two-level idiom Layout/JsonLines/Orc each used to hand-roll. Weak
  // session keys (values are task holders, not the session, so the
  // WeakHashMap value→key pitfall does not apply); the fixture NAME is
  // part of the key, so fixtures of different modules over the same dir
  // never clash. Values are FutureTasks, NOT results: the multi-minute
  // Spark write runs OUTSIDE the map's bin lock (r11 ADVICE — I/O
  // inside computeIfAbsent serializes unrelated same-bin fixtures and
  // a reentrant same-session cached() call from inside a build violates
  // the CHM contract). putIfAbsent elects one builder; everyone else
  // awaits the task. A reentrant call for a DIFFERENT fixture now just
  // runs; a same-key reentrant call would self-deadlock on its own task
  // (a programming error either way — CHM threw IllegalStateException).
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.FutureTask[String]]])

  // keys THIS THREAD is currently building — a same-key reentrant call
  // would get() the FutureTask its own run() is live on: an unbounded
  // silent hang where the pre-FutureTask CHM at least threw "Recursive
  // update". Detect and fail fast with the same loudness.
  private val building = ThreadLocal.withInitial[java.util.HashSet[String]](
    () => new java.util.HashSet[String])

  /** [[ensure]] behind a per-(session, dir, name) memo: compute the
    * fixture path once, build at most once per JVM, reuse across JVMs.
    * `build` receives the output path. A failed build is removed from
    * the memo (and its cause rethrown to every waiter), so a later call
    * retries instead of replaying a cached failure. A same-key
    * reentrant call from inside its own build fails fast (see
    * [[building]]). */
  def cached(s: SparkSession, dir: String, name: String)(
      build: String => Unit): String = {
    val m = memo.computeIfAbsent(s, // cheap: allocates a map, no I/O
      _ => new java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.FutureTask[String]])
    val key = s"$dir#$name"
    if (building.get.contains(key))
      throw new IllegalStateException(
        s"reentrant Fixtures.cached for '$key' from inside its own build")
    val mine = new java.util.concurrent.FutureTask[String]({ () =>
      building.get.add(key)
      try {
        val out = path(dir, name)
        ensure(s, out)(build(out))
      } finally building.get.remove(key)
    })
    val task = Option(m.putIfAbsent(key, mine)).getOrElse { mine.run(); mine }
    try task.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        m.remove(key, task)
        throw e.getCause
    }
  }

  /** A sharded copy of `dir`'s orders: `layout` of the table, projected
    * to `schema`'s columns and written as `format` ("csv" pipe-delimited
    * without a header, or "json") under the fixture `name`, plus its
    * [[ShardSummary]]. The summary is built only when the fixture lacks a
    * readable one; otherwise it comes through the memoized reader, so a
    * later session resolving the fixture runs no Spark job. */
  def sharded(s: SparkSession, dir: String, name: String, format: String,
      schema: Seq[(String, org.apache.spark.sql.types.DataType)],
      zoneCols: Seq[String], bloomKeys: Seq[(String, BloomPruner.KeyKind)] = Nil)(
      layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (TableSpec, ShardSummary) = {
    import org.apache.spark.sql.functions.col
    val out = ensure(s, path(dir, name)) {
      val w = layout(Tables.orders(s, dir)).select(schema.map(c => col(c._1)): _*)
        .write.mode("overwrite")
      if (format == "csv") w.option("delimiter", "|").option("header", "false").csv(path(dir, name))
      else w.json(path(dir, name))
    }
    val spec = TableSpec(name, format, Nil, Some(org.apache.spark.sql.types.StructType(
      schema.map { case (c, t) => org.apache.spark.sql.types.StructField(c, t) })), "|")
    val summary = ShardSummary.read(s, out).getOrElse {
      ShardSummary.write(s, out, ShardSummary.build(s, out, spec, zoneCols, bloomKeys))
      ShardSummary.read(s, out).getOrElse(sys.error(s"unreadable shard summary under $out"))
    }
    (spec.copy(paths = summary.shards.map(_.zone.path)), summary)
  }

  /** Register `view` as a plain read of a [[sharded]] fixture's
    * directory, the way a user reaches it before the conf route does. */
  def viewOver(s: SparkSession, spec: TableSpec, view: String): Unit = {
    val r = s.read.schema(spec.schema.get)
    (if (spec.format == "csv") r.option("delimiter", "|") else r).format(spec.format)
      .load(new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString)
      .createOrReplaceTempView(view)
  }

  /** Return `out` with the fixture present: reuse a completed write,
    * else run `write` (which must produce a Spark `_SUCCESS` marker). */
  def ensure(s: SparkSession, out: String)(write: => Unit): String = {
    val marker = new org.apache.hadoop.fs.Path(out, "_SUCCESS")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) write
    out
  }
}
