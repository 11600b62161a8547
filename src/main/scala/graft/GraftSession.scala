package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Session factory with the engine's tuned defaults.
  *
  * The reference tunes an actor engine (parallel degree, 100k-row buffers,
  * 15MB S3 ranges — `fpdb-executor/include/fpdb/executor/physical/Globals.h`);
  * the Spark-native equivalents are shuffle partitioning and AQE. The
  * engine's predicate transfer (SURVEY.md §4.1) is the injected optimizer
  * rule [[graft.plans.AutoSemiReduction]], not the runtime bloom filters
  * enabled below (see the note there). When an under-split scan is fanned
  * out across the `cpus` cores is decided by one injected physical rule,
  * [[graft.plans.SpreadScans]], for every query of the session alike; it
  * adds no conf. These settings are the ones that transfer to a real
  * cluster: on 1000 executors only `master` and the partition counts
  * change, and scans that offer that many splits are never spread.
  */
object GraftSession {

  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String, cpus: Int = defaultParallelism): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE skew-join split: the scale path for skewed join keys.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime bloom filter injection (the nearest Spark analog of the
      // reference's BloomFilterCreate/UsePOp, SURVEY.md §2.2). It is NOT
      // how this engine transfers predicates: Spark injects a filter only
      // when the application side scans more than
      // `runtime.bloomFilter.applicationSideScanSizeThreshold` (10 GB by
      // default), so it never fires on inputs below that — which is why
      // turning it off moved no entry's wall time at sf0.1. Left on for
      // tables that large; AutoSemiReduction does the transfer here.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "false")
      // Cost-based optimization incl. stats-driven join reordering — the
      // Spark-native analog of the reference's Calcite heuristic join
      // ordering over its own row-count metadata
      // (fpdb-calcite/java/.../Optimizer.java:156-175, FPDBRelMdRowCount).
      // Both confs are inert until a relation carries catalog statistics:
      // the corpus entries read parquet through temp views (no rowCount),
      // so their plans are unchanged; tables registered in the catalog
      // and ANALYZEd get cost-ordered joins regardless of the FROM
      // clause's declared order (pinned by CboReorderSpec on the
      // reference's own Q5/Q9 join-order variant pairs).
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // `events.ts` has shipped as parquet TIMESTAMP(NANOS), which the
      // vectorized reader rejects; under this flag it surfaces as raw-nanos
      // LongType and `Tables.normalizeEventTime` converts it. Set here, once
      // for the context, not by the first `events` read: a session conf
      // changed mid-life rotates `Artifacts.confDigest`, so a session that
      // had read `events` keyed every shared schema and artifact apart from
      // one that had not. Side effect: any other TIMESTAMP(NANOS) column
      // also reads as LongType instead of failing.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // managed (bucketed) tables land outside the repo checkout
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      // one shared catalog across thrift-server JDBC connections (the
      // reference's server model: N client sessions, one engine —
      // `fpdb-main/src/Server.cpp`). Static conf, so it lives here: a
      // [[graft.Server]] mounted on any engine session serves that
      // session's views to every connection. Inert without the server.
      .config("spark.sql.hive.thriftServer.singleSession", "true")

  /** Surfaces the engine's observed metrics (e.g. the LSH bucket-cap drop
    * counters `graft.lsh.cap*` from `Dedup.bucketPairs`) in the log: a
    * dropped bucket is a recall trade the operator made silently at plan
    * level, so the run must say so. */
  private final class GraftMetricsListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft.lsh.cap") && row.getAs[Long]("dropped_buckets") > 0L)
          org.slf4j.LoggerFactory.getLogger("graft.lsh").warn(
            s"$name: dropped ${row.getAs[Long]("dropped_buckets")} LSH bucket(s) " +
              s"over the size cap (largest seen: ${row.getAs[Int]("max_bucket_size")}); " +
              "pairs meeting only in dropped buckets are lost (recall trade)")
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // getOrCreate can hand back the same session many times; register once.
  private val listened = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  def get(appName: String, cpus: Int = defaultParallelism): SparkSession = {
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (listened.add(spark)) spark.listenerManager.register(new GraftMetricsListener)
    spark
  }
}
