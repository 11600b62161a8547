package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed (co-located) joins — the Spark-native form of the reference's
  * storage-side co-located hash join (`SeparableTraits.cpp:19-27`: a hash
  * join is pushable when both inputs are partitioned on the join key at
  * the storage tier).
  *
  * Writing both fact tables bucketed by the join key pins an identical
  * hash-partitioning into the table layout; Catalyst then plans
  * fact-fact joins WITHOUT a shuffle exchange on either side — at 100 TB
  * the single biggest cost in a star join pipeline. The bucket count is
  * chosen once at ingest (like the reference's fixed `numPartitions` in
  * schema.json) and should be a multiple of the cluster's parallelism.
  */
object Bucketing {

  /** Persist `df` as a bucketed managed table (parquet). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    writeBucketedMulti(df, table, buckets, Seq(key))

  /** Reclaim a managed table's name AND its warehouse location: a JVM
    * that died (or a test run that never hit its release point) leaves
    * the location directory behind while the next JVM's in-memory
    * catalog has no such table — `saveAsTable` then refuses with
    * LOCATION_ALREADY_EXISTS even in Overwrite mode (overwrite replaces
    * a CATALOG table, not an orphaned directory). Every index/corpus
    * writer calls this first so a crashed predecessor can never poison
    * the name. The location comes from the CATALOG's own path rule
    * (`defaultTablePath` — current database and `.db` layout included),
    * not a hand-built warehouse/<name> string that would miss (or worse,
    * hit the wrong) directory outside the default database. */
  def reclaim(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // PARSE the name: TableIdentifier("db.tbl") would treat the whole
    // string as an unqualified table in the current database, resolving
    // the location to <warehouse>/db.tbl instead of <warehouse>/db.db/tbl
    // — deleting a directory that may belong to someone else while the
    // real orphan survives
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(id))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  private val tableNonce = new java.util.concurrent.atomic.AtomicLong()

  /** Name of one build attempt of a managed artifact table:
    * `<prefix>_<session-hex>_<md5(dir) 6 bytes>_<nonce>`. The tables are
    * per session ([[graft.util.Artifacts.table]]): a table name resolves
    * in the session's current database, so sessions do not share them.
    * The nonce makes every attempt's name unique: racing builds run
    * outside the cache's monitor and the loser's table is dropped, which
    * with a shared name would drop the winner's. The session hash and
    * dir id are for reading a catalog listing, not for identity. A failed
    * attempt reclaims its own table ([[buildArtifactTable]]); a crashed
    * JVM's orphans stay on disk, never reused and small. */
  def sessionTableName(prefix: String, s: SparkSession, dir: String): String = {
    val dirId = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    prefix + "_" + Integer.toHexString(System.identityHashCode(s)) +
      "_" + dirId + "_" + tableNonce.incrementAndGet()
  }

  /** The artifact tables' release hook: DROP the table (managed — the
    * location goes with it). */
  val dropTable: ((SparkSession, String)) => Unit = { case (s, t) =>
    try s.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Throwable => () } }

  /** Run an artifact-table build under a fresh per-attempt name; on
    * failure the attempt's table AND location are reclaimed before the
    * error propagates. Without this, nonce'd names would turn every
    * failed-then-retried build into an orphan (the retry gets a new
    * name, so no later reclaim ever targets the failed one's). Returns
    * the (session, name) pair [[dropTable]] releases. */
  def buildArtifactTable(s: SparkSession, prefix: String, dir: String)(
      write: String => Unit): (SparkSession, String) = {
    val name = sessionTableName(prefix, s, dir)
    try { write(name); (s, name) }
    catch { case e: Throwable =>
      try reclaim(s, name) catch { case _: Throwable => () }
      throw e
    }
  }

  /** Multi-key form: bucket (and sort) by ALL of `keys`. Joins and
    * aggregations clustering on exactly these keys reuse the on-disk
    * partitioning with zero Exchange. The keys must be the FULL
    * clustering set of the consuming operator: Spark's co-partition
    * check (`spark.sql.requireAllClusterKeysForCoPartition`, default
    * true) does not let a bucket-key subset stand in for compound join
    * keys. */
  def writeBucketedMulti(df: DataFrame, table: String, buckets: Int, keys: Seq[String],
      sortKeys: Seq[String] = Nil): Unit = {
    // sortKeys defaults to the bucket keys; a caller mirroring an
    // existing bucket spec (compaction) passes its sortColumnNames so a
    // layout whose sort differs from its bucketing survives the rewrite
    val sk = if (sortKeys.isEmpty) keys else sortKeys
    reclaim(df.sparkSession, table)
    // cluster by the bucket function BEFORE the write (guide §6 "coalesce
    // on write"; r17): a bucketed V1 write emits one file per (task ×
    // bucket), so an unclustered N-partition input writes up to N×buckets
    // tiny files — the d18 band index measured 2,049 files for 3.7 MB,
    // and every downstream scan paid 2,049 listings + opens per query.
    // repartition(buckets, keys) uses the SAME HashPartitioning the
    // bucket-id expression uses, so each write task holds exactly one
    // bucket: one file per non-empty bucket, at the cost of one shuffle
    // at build time (artifact builds run once per session/ingest batch).
    import org.apache.spark.sql.functions.col
    df.repartition(buckets, keys.map(col): _*)
      .write
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(sk.head, sk.tail: _*)
      .saveAsTable(table)
  }

  /** Read a bucketed table back (bucket metadata comes from the catalog). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
