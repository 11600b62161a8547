package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Catalog layer: named parquet tables under a scale-factor directory.
  *
  * Mirrors the reference's catalogue (schema dirs of
  * `fpdb-catalogue/include/fpdb/catalogue/Catalogue.h`, loaded from
  * `resources/metadata/<schema>/schema.json`) — but Spark-native: the parquet
  * footer IS the schema, multi-file tables are handled by
  * `FileSourceScanExec`, and row-group min/max stats replace `zoneMap.json`
  * (SURVEY.md §1). At cluster scale the same API points at
  * `s3a://bucket/prefix/<table>.parquet` directories; nothing here assumes a
  * local filesystem or a single file per table.
  */
object Tables {

  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Pipeline tables beyond the reference surface (TESTDATA.md). */
  val pipeline: Seq[String] = Seq("events", "documents", "embeddings")

  val all: Seq[String] = tpch ++ pipeline

  /** Path convention from TESTDATA.md; a directory of part-files works too. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Cross-engine content checksum of a text column: the first 8 hex
    * chars of its md5 as a BIGINT — summed per group, any mangled
    * character in any row changes the value. [[md5ChecksumSql]] is the
    * DuckDB-equivalent twin; the pair must change together (shared by
    * the JSONL/ORC round-trip entries). */
  def md5Checksum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  }

  /** DuckDB twin of [[md5Checksum]] over a SQL expression string. */
  def md5ChecksumSql(expr: String): String =
    s"('0x' || substring(md5($expr), 1, 8))::BIGINT"

  /** Hash-stable double summation (r12). A raw `sum(double)` is not
    * deterministic across engines: the hybrid zip (and any plan whose
    * row order differs from DuckDB's scan order) re-associates double
    * addition, and for sums ≥~1e7 the few-ulp difference approaches
    * the driver hash's rounding granularity — fs02 went red on exactly
    * a 9e-7 absolute difference on a 5.6e8 sum in round 11.
    *
    * The fix is exact by construction: the PER-ROW expression is
    * bit-identical in both engines (same text, IEEE ops, same
    * associativity); casting that double to DECIMAL(25,6) is one
    * deterministic rounding (measured: Spark and DuckDB agree on
    * double→decimal rounding including .5 ties — both HALF_UP away
    * from zero); and decimal addition is associative, so the sum is
    * identical under ANY plan order. One final decimal→double cast on
    * both sides keeps the output dtype class unchanged.
    * [[exactSumSql]] is the DuckDB twin; the pair must change
    * together. 6 fractional digits cover every money/value expression
    * in the corpus (2-decimal operands, ≤3-factor products); 19
    * integer digits ≫ any 100 TB sum. */
  def exactSum(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.sum(e.cast("decimal(25,6)")).cast("double")

  /** DuckDB twin of [[exactSum]] over a SQL expression string. */
  def exactSumSql(expr: String): String =
    s"CAST(sum(CAST($expr AS DECIMAL(25,6))) AS DOUBLE)"

  // Resolved-relation memo (r17 optimization). `spark.read.parquet`
  // re-resolves the source on EVERY call — hadoop-conf copy, file
  // listing, footer schema read — measured 70–80 ms per table on this
  // host, ~400 ms for a 5-table star, paid inside every timed run of
  // every DataFrame-API entry. The SQL path never pays it twice because
  // Engine registration caches each table as a view (the reference
  // caches its catalogue per connection the same way, `Client.cpp:
  // 118-132`); this memo gives the DataFrame path the same catalogue
  // discipline: one resolution per (session, dir, table), the ANALYZED
  // frame reused afterwards. Plan-metadata caching only — no rows are
  // cached, every execution still scans the files. The resolution
  // itself is cheap after the first session: the inferred schema is
  // shared SparkContext-wide ([[schemas]]), so a new session lists the
  // files but runs no inference job. A writer that rewrites one of
  // these paths calls [[wrote]], which drops every session's entries
  // for it (and Engine re-points that table's view on the session's
  // next query). Self-joins of one memoized frame are de-duplicated by
  // Catalyst's DeduplicateRelations, same as two references to one
  // registered view.
  // Retention is BOUNDED, not weak (r18, r17 ADVICE): a weak session key
  // does not work when the value is a DataFrame — the frame strongly
  // references its SparkSession, which re-reaches the key through the
  // entry's own value and pins it forever (the value→key pitfall
  // documented at graft.util.SessionCache). Access-ordered LRU over
  // (session, dir#table) with a generous cap: the worst case is
  // `MaxEntries` retained analyzed plans, not one per session×dir ever
  // seen — spec suites that spin up dozens of `newSession()`s no longer
  // pin every SessionState for the JVM lifetime, and an evicted entry
  // simply re-resolves on next use (plan metadata only, nothing to
  // release). 128 ≫ tables(10) × the dirs a real session touches.
  private val MaxEntries = 128
  private val relCache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > MaxEntries
    }

  // Inferred schemas, shared by every session of the SparkContext (the
  // reference loads its catalogue once and never infers per client,
  // PAPER.md "Schema system"). Inference is a Spark job per table
  // (parquet footers are read by tasks): ten of them made a fresh
  // session's registration cost ~1 s on a dir another session already
  // served. Keyed on (table path, [[writeMark]], the session's
  // `Artifacts.confDigest` — `legacy.parquet.nanosAsLong` changes what
  // events infers to); the value carries the listing fingerprint it was
  // inferred over, and a relation whose own listing fingerprints
  // differently (an external same-path rewrite) re-infers. Each session
  // still builds its own relation over the path, so its confs govern
  // its scans. Bounded like the memo; a schema holds no session.
  private val schemas =
    new java.util.LinkedHashMap[(String, Long, String), (String, StructType)](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), (String, StructType)]): Boolean =
        size() > MaxEntries
    }

  /** Write sequence: bumped by [[wrote]] AFTER it drops memo entries, so
    * a relation resolved before a write is served once but never cached
    * past it (the listing-epoch fence of `HybridScan.listPathSession`). */
  private val writeSeq = new java.util.concurrent.atomic.AtomicLong(0)
  /** Per table path (scheme-less URI path): the write sequence of its
    * last rewrite through [[wrote]]. */
  private val writeMarks =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def pathKey(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath.stripSuffix("/")

  /** Graft's writer hook: the files under `path` were just rewritten
    * (Sink's maintenance ops, sidecar rebuilds). Everything that
    * remembers the old files forgets them:
    *  - the router's session listings and resolved frames
    *    (`HybridScan.invalidateListings`);
    *  - Spark's file indexes and cached data over the path
    *    (`refreshByPath`) — a persisted hybrid segment of the old files
    *    is plan-equal to its rebuild under the rotated fingerprint
    *    (`InMemoryFileIndex` equality is by root paths), so without the
    *    refresh the CacheManager would serve the replaced rows;
    *  - this memo's entries for the path, across sessions, and the
    *    path's [[writeMark]], which `Engine` compares to re-point only
    *    the rewritten table's view. */
  private[graft] def wrote(spark: SparkSession, path: String): Unit = {
    graft.cache.HybridScan.invalidateListings(path)
    spark.catalog.refreshByPath(path)
    val k = pathKey(path)
    relCache.synchronized {
      relCache.keySet.removeIf { case (_, key) =>
        val i = key.lastIndexOf('#')
        pathKey(this.path(key.take(i), key.drop(i + 1))) == k
      }
    }
    writeMarks.put(k, writeSeq.incrementAndGet())
  }

  /** Write sequence of the last [[wrote]] over `dir`'s table `name`
    * (0 when it was never rewritten in this JVM). */
  private[graft] def writeMark(dir: String, name: String): Long =
    writeMarks.getOrDefault(pathKey(path(dir, name)), 0L)

  /** Drop a session's memoized relations (all of them — this is a rare
    * safety hatch, not a hot path). */
  def invalidate(spark: SparkSession): Unit = relCache.synchronized {
    val it = relCache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq spark) it.remove()
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val k = (spark, s"$dir#$name")
    relCache.synchronized {
      val cur = relCache.get(k)
      if (cur != null) return cur
    }
    // build OUTSIDE the monitor (file listing + footer read can take
    // ~100 ms; concurrent sessions must not serialize on it); racing
    // builders are benign — both frames are equivalent plan metadata,
    // first insert wins; a build that raced a write is not kept
    val seq0 = writeSeq.get
    val v = build(spark, dir, name)
    relCache.synchronized {
      val cur = relCache.get(k)
      if (cur != null) cur
      else { if (writeSeq.get == seq0) relCache.put(k, v); v }
    }
  }

  private def build(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") buildEvents(spark, dir) else readParquet(spark, path(dir, name))

  /** `spark.read.parquet(p)`, with the schema taken from [[schemas]] when
    * this version of `p` was inferred before. The version is `asOf` (a
    * listing fingerprint the caller already holds) or, without one, the
    * fingerprint of the files the new relation lists. */
  private[graft] def readParquet(spark: SparkSession, p: String,
      asOf: Option[String] = None): DataFrame = {
    val k = (p, writeMarks.getOrDefault(pathKey(p), 0L).longValue,
      graft.util.Artifacts.confDigest(spark))
    val known = schemas.synchronized(Option(schemas.get(k))).flatMap { case (fp, schema) =>
      if (asOf.exists(_ != fp)) None
      else Some(spark.read.schema(schema).parquet(p))
        .filter(df => asOf.nonEmpty || listing(df).fingerprint == fp)
    }
    known.getOrElse {
      val df = spark.read.parquet(p)
      schemas.synchronized(schemas.put(k, (listing(df).fingerprint, df.schema)))
      df
    }
  }

  /** The data files `df`'s file relation resolved to, from its own file
    * index (no new listing). */
  private def listing(df: DataFrame): graft.cache.HybridScan.TableListing = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val files = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.listFiles(Nil, Nil).flatMap(_.files)
        case _ => Nil
      }
    }.flatten.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    graft.cache.HybridScan.TableListing(files.sortBy(_._1))
  }

  /** The version of `dir`'s table `name` that `spark` reads: its path,
    * [[writeMark]] and the fingerprint of the files the session's
    * relation listed (so an external same-path rewrite rotates it too).
    * Derived artifacts key on it (`graft.util.Artifacts`). */
  private[graft] def version(spark: SparkSession, dir: String, name: String): String =
    s"${path(dir, name)}@${writeMark(dir, name)}:${listing(load(spark, dir, name)).fingerprint}"

  // Typed accessors — keeps query code terse and typo-proof.
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped under three physical parquet encodings across
    * testdata generations: TIMESTAMP(NANOS) (vectorized reader rejects it;
    * surfaced as raw-nanos LongType under the legacy conf), timestamp[us]
    * with no UTC adjustment (surfaced as TIMESTAMP_NTZ — which
    * `withWatermark` rejects and parquet min/max stats pruning mishandles),
    * and plain UTC-adjusted TIMESTAMP. Normalize all three to TimestampType
    * at the source boundary; the session runs in UTC so the NTZ→TZ cast is
    * value-preserving. */
  def normalizeEventTime(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  /** The raw-nanos encoding reads as LongType only under
    * `spark.sql.legacy.parquet.nanosAsLong`, which `GraftSession.builder`
    * sets for the whole context. */
  private def buildEvents(s: SparkSession, d: String): DataFrame =
    normalizeEventTime(readParquet(s, path(d, "events")))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Spread `df` across all cores when it offers fewer input files than
    * the session's parallelism. The planner rule
    * [[graft.plans.SpreadScans]] makes this decision for every query; a
    * call stays only where that rule refuses the site, and each call names
    * the clause it refuses on and the measured cost of dropping the call
    * (r20: sf0.1, 4 cores, `graft.Bench` min of 5, with → without). A
    * single-row-group parquet file cannot be split finer at the
    * scan; on a cluster whose inputs offer that many splits this is a
    * no-op. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Decide from the file count (our testdata is single-row-group files, so
    // files ≈ usable splits) rather than df.rdd.getNumPartitions — the RDD
    // conversion forces full physical planning per call. A file-less plan
    // (in-memory test frames) reports 0 files and gets spread, which is the
    // safe direction for the CPU-heavy pipelines this guards.
    if (df.inputFiles.length < p) df.repartition(p) else df
  }

  /** Register every table as a temp view so `spark.sql(...)` works — the
    * Spark analog of the reference's `Client::executeQuery` catalogue fetch
    * (`fpdb-main/src/Client.cpp:118-132`).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
