package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  // cached, every execution still scans the files. Safe while the named
  // tables' files do not change under a session. A writer to one of these
  // paths must call [[invalidate]] for every session that read it:
  // `Sink.mergeInto` rewrites a table in place (a directory swap) and
  // does not, so a session that merged into a table it has read keeps
  // resolving the replaced files until it calls [[invalidate]] and
  // re-registers its views. Self-joins of
  // one memoized frame are de-duplicated by Catalyst's
  // DeduplicateRelations, same as two references to one registered view.
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
    // first insert wins
    val v = build(spark, dir, name)
    relCache.synchronized {
      val cur = relCache.get(k)
      if (cur != null) cur else { relCache.put(k, v); v }
    }
  }

  private def build(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") buildEvents(spark, dir)
    else spark.read.parquet(path(dir, name))

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

  private def buildEvents(s: SparkSession, d: String): DataFrame = {
    // session-global BY DESIGN, not scoped: the flag affects row decode
    // at execution time, so restoring it after this call could break the
    // returned (lazy) frame's later scans. Documented side effect: any
    // OTHER parquet table with TIMESTAMP(NANOS) columns read on this
    // session surfaces them as raw-nanos LongType rather than failing —
    // acceptable for a flag whose alternative is an unconditional read
    // error on nanos data (and the testdata's events is the only nanos
    // producer in scope).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTime(s.read.parquet(path(d, "events")))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Spread a CPU-heavy pipeline's input across all cores when the source
    * offers fewer splits than the session's parallelism. Needed because a
    * single-row-group parquet file cannot be split finer at the scan, so
    * e.g. per-document hashing would run on one core; on a real cluster the
    * input split count exceeds the core count and this guard makes it a
    * no-op (no shuffle added at scale). */
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
