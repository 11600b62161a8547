package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-shard Bloom sketches: plan-time shard pruning for EQUALITY
  * lookups on columns with no range correlation to the shard layout —
  * exactly where [[ZoneMapPruner]] is blind. A hash-bucketed table (the
  * common data-lake layout) gives every shard a (min, max) spanning the
  * whole key domain, so zone maps prune nothing; but each key lives in
  * few shards, so a membership sketch prunes almost all of them. The two
  * are complements: zone maps answer range predicates on range-correlated
  * layouts, blooms answer point predicates on hashed layouts, and one
  * [[ShardSummary]] persists both per shard. Reference analog: the
  * catalogue's partition metadata slot (`fpdb-catalogue/include/fpdb/
  * catalogue/Partition.h:23-41`), with a sketch instead of min/max
  * scalars.
  *
  * At 100 TB the sketches stay tiny relative to data (1 bloom per file
  * per key, ~100 KB at 1% fpp for 100k keys) and pruning happens before
  * the file list reaches `spark.read` — skipped shards never become input
  * splits, the same contract as the reference's plan-construction-time
  * pruner (`fpdb-executor/src/physical/prune/PartitionPruner.cpp:23-51`).
  * This object keeps the key encodings and the pruning reads; the
  * summary owns persistence, drift checks and rebuilds.
  */
object BloomPruner {

  /** One shard's membership sketch over one key column. False positives
    * only — a bloom says "maybe here" or "definitely not". */
  case class ShardBloom(path: String, keyCol: String, bloom: BloomFilter)

  /** Key kind a bloom was built over: `long` blooms insert the column
    * cast/encoded to long (epoch days/micros for temporal columns);
    * `string` blooms insert xxhash64 of the string — the lookup side
    * must hash the same way, so the kind is part of the persisted
    * contract. */
  sealed abstract class KeyKind(val name: String)
  case object LongKey extends KeyKind("long")
  case object StringKey extends KeyKind("string")

  /** One column's per-shard sketches — a [[ShardSummary]] carries one
    * per lookup column (r17, mirroring the zone map's bounds-per-column
    * shape). */
  case class ColumnBlooms(keyCol: String, kind: KeyKind,
      shards: Seq[ShardBloom])

  /** The insert-side encoding of a key column, BY KIND — the same
    * expression the lookup side must evaluate (kind gates keep them
    * paired). Long kind follows the zone-map discipline (r16 review):
    * DATE keys insert as epoch DAYS and TIMESTAMP keys as epoch
    * MICROS — the SAME dimensions [[graft.plans.ModeExec.rangePreds]]
    * encodes those literals in. A bare `cast("long")` on a timestamp
    * yields epoch SECONDS, so a micros-valued lookup would miss every
    * shard's bloom — a false NEGATIVE, i.e. row loss behind a "sound"
    * sketch. String kind hashes through the engine's own `xxhash64`
    * ([[xx64]] evaluates the identical expression driver-side). */
  private def encFor(df: DataFrame, keyCol: String, kind: KeyKind): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    kind match {
      case StringKey => xxhash64(col(keyCol))
      case LongKey => df.schema(keyCol).dataType match {
        case DateType      => unix_date(col(keyCol)).cast("long")
        case TimestampType => unix_micros(col(keyCol))
        case _             => col(keyCol).cast("long")
      }
    }
  }

  /** The `BloomFilterAggregate` over one key column — Spark's own
    * expression behind runtime join filters — inserting [[encFor]]. */
  private[sources] def bloomAgg(df: DataFrame, keyCol: String, kind: KeyKind,
      expectedItems: Long): Column =
    GraftBridge.column(new BloomFilterAggregate(
      GraftBridge.expression(encFor(df, keyCol, kind)), expectedItems)
      .toAggregateExpression())

  /** A shard's sketch from its [[bloomAgg]] bytes. An all-NULL shard gets
    * an EMPTY bloom (the aggregate returns null when nothing was
    * inserted): it rejects every key, which is sound — equality is
    * null-rejecting, no row there can match. */
  private[sources] def bloomOf(bytes: Array[Byte]): BloomFilter =
    if (bytes == null) BloomFilter.create(1) else BloomFilter.readFrom(bytes)

  /** Build per-shard blooms for SEVERAL key columns in ONE distributed
    * pass grouped by `input_file_name()` ([[ShardSummary.aggregate]]) —
    * no per-file driver loop and no per-key re-scan, so ingest cost is a
    * single scan however many shards or keys exist. */
  def buildMulti(df: DataFrame, keys: Seq[(String, KeyKind)],
      expectedItems: Long = 100000L): Seq[ColumnBlooms] = {
    require(keys.nonEmpty, "buildMulti: no key columns")
    val rows = ShardSummary.aggregate(df, Nil, keys, expectedItems)
    keys.zipWithIndex.map { case ((c, k), i) =>
      ColumnBlooms(c, k, rows.map { case (z, bs) => ShardBloom(z.path, c, bs(i)) })
    }
  }

  /** Single long-kind key convenience over [[buildMulti]] (integral,
    * date, or timestamp columns — see [[encFor]] for the encoding).
    * String keys must use [[buildString]]. */
  def build(df: DataFrame, keyCol: String, expectedItems: Long = 100000L): Seq[ShardBloom] =
    buildMulti(df, Seq(keyCol -> LongKey), expectedItems).head.shards

  /** [[build]] for a STRING key column (r16): entity-id strings (UUIDs,
    * "cust-42"-style composite ids) are THE common hash-bucketed lake
    * key. Spark's `BloomFilterAggregate` takes a LONG child, so the
    * string hashes through the engine's own `xxhash64` — the SAME
    * expression the lookup side evaluates driver-side ([[xx64]]), so a
    * key present in the data can never miss its shard's bloom (hash
    * collisions only ever ADD false positives; the residual equality is
    * mandatory anyway). */
  def buildString(df: DataFrame, keyCol: String,
      expectedItems: Long = 100000L): Seq[ShardBloom] =
    buildMulti(df, Seq(keyCol -> StringKey), expectedItems).head.shards

  /** The engine's own 64-bit hash of a string, evaluated driver-side —
    * MUST be the exact `xxhash64` the build pass used, or a present key
    * could miss its bloom (a false NEGATIVE — row loss). */
  private[graft] def xx64(key: String): Long =
    // the auxiliary constructor carries the SQL function's default seed
    // (42), the same seed `xxhash64(col)` compiles to on the build side
    new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[Long]

  /** Shards that may contain `key` (false positives possible, never false
    * negatives — pruning is always sound). */
  def prune(shards: Seq[ShardBloom], key: Long): Seq[ShardBloom] =
    shards.filter(_.bloom.mightContainLong(key))

  /** [[prune]] for a string key against a [[buildString]] sidecar. */
  def pruneString(shards: Seq[ShardBloom], key: String): Seq[ShardBloom] =
    prune(shards, xx64(key))

  /** Read only the shards whose bloom admits `key`, then re-apply the
    * exact equality (false positives make the residual mandatory). An
    * empty sidecar (a table with no shards at build time) reads
    * nothing — no key column to consult. */
  def readPruned(spark: SparkSession, spec: TableSpec,
      shards: Seq[ShardBloom], key: Long): DataFrame =
    readKept(spark, spec, shards, prune(shards, key), LongKey, lit(key))

  /** [[readPruned]] for a string key against a [[buildString]] sidecar. */
  def readPrunedString(spark: SparkSession, spec: TableSpec,
      shards: Seq[ShardBloom], key: String): DataFrame =
    readKept(spark, spec, shards, pruneString(shards, key), StringKey, lit(key))

  /** IN-list lookup through the library route (r17): read the shards
    * whose bloom admits SOME member — the per-member membership UNION
    * the conf route's [[graft.plans.ModeExec.bloomKeeps]] computes for
    * `IN` — then re-apply the exact membership as the residual. An
    * empty key list selects nothing. */
  def readPrunedIn(spark: SparkSession, spec: TableSpec,
      shards: Seq[ShardBloom], keys: Seq[Long]): DataFrame = {
    val kept = keys.flatMap(k => prune(shards, k)).distinct
    readKeptIn(spark, spec, shards, kept, LongKey, keys)
  }

  /** [[readPrunedIn]] for string keys against a [[buildString]] sidecar. */
  def readPrunedStringIn(spark: SparkSession, spec: TableSpec,
      shards: Seq[ShardBloom], keys: Seq[String]): DataFrame = {
    val kept = keys.flatMap(k => pruneString(shards, k)).distinct
    readKeptIn(spark, spec, shards, kept, StringKey, keys)
  }

  private def readKeptIn(spark: SparkSession, spec: TableSpec,
      shards: Seq[ShardBloom], kept: Seq[ShardBloom], kind: KeyKind,
      keys: Seq[Any]): DataFrame = {
    if (shards.isEmpty || keys.isEmpty)
      return Catalog.read(spark, spec).limit(0)
    val df =
      if (kept.isEmpty) Catalog.read(spark, spec).limit(0)
      else Catalog.read(spark, spec.copy(paths = kept.map(_.path)))
    df.filter(encodedKeyCol(df, shards.head.keyCol, kind).isin(keys: _*))
  }

  private def readKept(spark: SparkSession, spec: TableSpec,
      shards: Seq[ShardBloom], kept: Seq[ShardBloom], kind: KeyKind,
      key: Column): DataFrame = {
    if (shards.isEmpty) return Catalog.read(spark, spec).limit(0)
    val keep = kept.map(_.path)
    val df =
      if (keep.isEmpty) Catalog.read(spark, spec).limit(0) // definitely absent
      else Catalog.read(spark, spec.copy(paths = keep))
    df.filter(encodedKeyCol(df, shards.head.keyCol, kind) === key)
  }

  /** The key column rendered in the KEY's dimension for the residual
    * comparison (r16 ADVICE): a long key against a DATE/TIMESTAMP
    * column carries epoch days/micros (the [[encFor]] contract), and
    * Spark has no date-vs-long coercion — a bare `col === key` would
    * fail analysis. Encoded the same way the build pass did; for plain
    * columns this is the identity. */
  private def encodedKeyCol(df: DataFrame, keyCol: String,
      kind: KeyKind): Column = kind match {
    case StringKey => col(keyCol)
    case LongKey => df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col(keyCol)).cast("long")
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(keyCol))
      case _ => col(keyCol)
    }
  }

  // ---- end-to-end demonstration entries -----------------------------------

  import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

  /** Ingest-once fixture: `orders` hash-sharded 8 ways by o_custkey into
    * CSV (each custkey lands in exactly one shard; every shard's key
    * RANGE spans the whole domain, so zone maps cannot prune this layout
    * at all) with one bloom per shard in its [[ShardSummary]]. */
  private[graft] def shardedByCustkey(s: SparkSession, dir: String): (TableSpec, ShardSummary) =
    Fixtures.sharded(s, dir, "orders_bloom_csv", "csv", Seq("o_orderkey" -> LongType,
      "o_custkey" -> LongType, "o_totalprice" -> DoubleType,
      "o_orderstatus" -> StringType), Nil, Seq("o_custkey" -> LongKey))(
      _.repartition(8, col("o_custkey")))

  /** z02 — bloom-sidecar point lookup end-to-end: `o_custkey = 42`
    * against the hash-sharded CSV table reads only the (expectedly 1 of
    * 8, ± false positives — `SourcesSpec` asserts the count) shards whose
    * bloom admits the key; the result must equal DuckDB running the same
    * predicate over the parquet original. */
  private def z02BloomPrune(s: SparkSession, dir: String): DataFrame = {
    val (spec, summary) = shardedByCustkey(s, dir)
    readPruned(s, spec, summary.blooms.head.shards, 42L)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), Tables.exactSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val z02Sql =
    """SELECT o_orderstatus, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      |FROM orders WHERE o_custkey = 42
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** STRING-keyed twin of [[shardedByCustkey]]: orders hash-bucketed 8
    * ways by the synthesized entity id `cust_id = 'cust-' || o_custkey`
    * — the UUID/composite-id lake shape where the key is a string and
    * zone maps prune nothing (every shard's string interval spans the
    * domain). */
  private[graft] def shardedByCustId(s: SparkSession, dir: String)
      : (TableSpec, ShardSummary) =
    Fixtures.sharded(s, dir, "orders_bloomstr_csv", "csv", Seq(
      "cust_id" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderstatus" -> StringType), Nil, Seq("cust_id" -> StringKey))(
      _.withColumn("cust_id", concat(lit("cust-"), col("o_custkey")))
        .repartition(8, col("cust_id")))

  /** z13 (r16) — STRING-key bloom point lookup end-to-end:
    * `cust_id = 'cust-42'` against the string-hash-bucketed CSV table
    * reads only the shards whose bloom admits xxhash64('cust-42')
    * (expectedly 1 of 8 ± false positives — spec-pinned); the oracle is
    * the equivalent numeric predicate over the parquet original
    * ('cust-' || o_custkey = 'cust-42'  ⇔  o_custkey = 42). */
  private def z13BloomStringPrune(s: SparkSession, dir: String): DataFrame = {
    val (spec, summary) = shardedByCustId(s, dir)
    readPrunedString(s, spec, summary.blooms.head.shards, "cust-42")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), Tables.exactSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  // same oracle shape as z02 by construction ('cust-' || o_custkey =
  // 'cust-42' iff o_custkey = 42): one definition, three consumers
  private def z13Sql = z02Sql

  /** Run `sql` over a temp view of the string-bucketed bloom directory
    * through the DEPLOYMENT path: `SET spark.graft.scanMode=hybrid`, no
    * library call anywhere — the conf-mode rewriter reads the
    * directory's [[ShardSummary]] and prunes by sketch membership. */
  private def confOverCustId(s: SparkSession, dir: String, sql: String): DataFrame = {
    Fixtures.viewOver(s, shardedByCustId(s, dir)._1, "orders_bloomstr_csv")
    ZoneMapPruner.withScanMode(s, "hybrid")(graft.Engine.executeQuery(s, dir, sql))
  }

  /** z14 (r16) — the bloom sidecar through the deployment path: a plain
    * view over the string-hash-bucketed directory + `SET
    * spark.graft.scanMode=hybrid`, no library call anywhere. The
    * conf-mode rewriter reads the summary, routes the leaf per
    * shard (zones bound-free — a hash layout has no ranges
    * to prune), and the `cust_id = 'cust-42'` equality drops every
    * shard whose sketch rejects xxhash64('cust-42'). Oracle = the
    * equivalent numeric predicate over the parquet original. */
  private def z14ConfBloom(s: SparkSession, dir: String): DataFrame =
    confOverCustId(s, dir,
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
        |FROM orders_bloomstr_csv
        |WHERE cust_id = 'cust-42'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  /** z15 (r17) — IN-LIST bloom membership pruning through the conf
    * route: `cust_id IN ('cust-42','cust-900')` keeps a shard iff SOME
    * member's sketch admits it (a per-member membership UNION —
    * expectedly ≤ 2 of 8 shards; the zone envelope alone is useless on
    * a hash layout where every shard spans the domain). The reference's
    * IN and OR arms composed: its deserializer expands IN over the
    * pruner's OR recursion (`fpdb-calcite/.../CalcitePlanJsonDeserializer
    * .cpp:239-267`, `PartitionPruner.cpp:70-88`). Oracle = the
    * equivalent numeric IN over the parquet original. */
  private def z15InBloom(s: SparkSession, dir: String): DataFrame =
    confOverCustId(s, dir,
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
        |FROM orders_bloomstr_csv
        |WHERE cust_id IN ('cust-42', 'cust-900')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  private val z15Sql =
    """SELECT o_orderstatus, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      |FROM orders WHERE o_custkey IN (42, 900)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** TWO-KEY fixture (r17): orders hash-bucketed 8 ways by the string
    * entity id, with blooms on BOTH lookup keys — `o_orderkey` (long)
    * and `cust_id` (string) — built in ONE pass into one summary. The
    * shape a real lake table has: bucketed by one key, point-looked-up
    * by several. */
  private[graft] def shardedTwoKey(s: SparkSession, dir: String)
      : (TableSpec, ShardSummary) =
    Fixtures.sharded(s, dir, "orders_bloom2_csv", "csv", Seq(
      "o_orderkey" -> LongType, "cust_id" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderstatus" -> StringType), Nil,
      Seq("o_orderkey" -> LongKey, "cust_id" -> StringKey))(
      _.withColumn("cust_id", concat(lit("cust-"), col("o_custkey")))
        .repartition(8, col("cust_id")))

  private def confOverTwoKey(s: SparkSession, dir: String, sql: String): DataFrame = {
    Fixtures.viewOver(s, shardedTwoKey(s, dir)._1, "orders_bloom2_csv")
    ZoneMapPruner.withScanMode(s, "hybrid")(graft.Engine.executeQuery(s, dir, sql))
  }

  /** z16 (r17) — multi-key sidecar, FIRST key: a point lookup on
    * `o_orderkey` against the cust_id-bucketed directory prunes by the
    * ORDER-KEY column's sketches (each order lives in exactly one shard
    * regardless of the bucketing key). Oracle = the same predicate over
    * the parquet original. */
  private def z16TwoKeyOrder(s: SparkSession, dir: String): DataFrame =
    confOverTwoKey(s, dir,
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
        |FROM orders_bloom2_csv
        |WHERE o_orderkey = 1000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  private val z16Sql =
    """SELECT o_orderstatus, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      |FROM orders WHERE o_orderkey = 1000
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** z17 (r17) — multi-key sidecar, SECOND key: the same directory
    * prunes a `cust_id` point lookup by the CUSTOMER column's sketches.
    * Together with z16 this pins that ONE sidecar serves both lookup
    * keys (the r16 verdict's "what's missing 3"); the two-key
    * INTERSECTION on a conjunction is spec-pinned
    * (`ShardRouterSpec`). */
  private def z17TwoKeyCust(s: SparkSession, dir: String): DataFrame =
    confOverTwoKey(s, dir,
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
        |FROM orders_bloom2_csv
        |WHERE cust_id = 'cust-7'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  private val z17Sql =
    """SELECT o_orderstatus, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      |FROM orders WHERE o_custkey = 7
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z02_bloom_prune" -> z02BloomPrune _,
    "z13_bloom_string" -> z13BloomStringPrune _,
    "z14_conf_bloom"  -> z14ConfBloom _,
    "z15_bloom_in"    -> z15InBloom _,
    "z16_twokey_order" -> z16TwoKeyOrder _,
    "z17_twokey_cust" -> z17TwoKeyCust _,
  )

  val oracleSql: Map[String, String] = Map(
    "z02_bloom_prune" -> z02Sql,
    "z13_bloom_string" -> z13Sql,
    "z14_conf_bloom"  -> z13Sql,
    "z15_bloom_in"    -> z15Sql,
    "z16_twokey_order" -> z16Sql,
    "z17_twokey_cust" -> z17Sql,
  )
}
