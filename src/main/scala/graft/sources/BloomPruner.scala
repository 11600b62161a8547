package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-shard Bloom-filter sidecar: plan-time shard pruning for EQUALITY
  * lookups on columns with no range correlation to the shard layout —
  * exactly where [[ZoneMapPruner]] is blind. A hash-bucketed table (the
  * common data-lake layout) gives every shard a (min, max) spanning the
  * whole key domain, so zone maps prune nothing; but each key lives in
  * few shards, so a membership sketch prunes almost all of them. The two
  * sidecars are complements: zone maps answer range predicates on
  * range-correlated layouts, blooms answer point predicates on hashed
  * layouts. Reference analog: the same `zoneMap.json`-style
  * catalogue-sidecar slot (`fpdb-catalogue/include/fpdb/catalogue/
  * Partition.h:23-41`), with a sketch instead of min/max scalars.
  *
  * At 100 TB the sidecar stays tiny relative to data (1 bloom per file
  * per key, ~100 KB at 1% fpp for 100k keys) and pruning happens before
  * the file list reaches `spark.read` — skipped shards never become input
  * splits, the same contract as the reference's plan-construction-time
  * pruner (`fpdb-executor/src/physical/prune/PartitionPruner.cpp:23-51`).
  *
  * r17: the sidecar carries a sketch set PER COLUMN (the zone sidecar's
  * per-column shape — a table with two lookup keys, order id AND
  * customer id, prunes on both), persists ROOT-RELATIVE file paths
  * (v=2 — basenames collapse on nested layouts with repeated part-file
  * names), and has the full lifecycle the zone sidecar got in r15:
  * [[rebuildSidecar]] as the one-call drift repair, and regeneration
  * around [[Sink.compact]]/[[Sink.mergeInto]]'s directory swaps (the
  * reference regenerates partition metadata with the data — the sidecar
  * IS the catalogue slot, `Partition.h:23-41`).
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

  /** One column's per-shard sketches — the unit the multi-key sidecar
    * stores one of per lookup column (r17, mirroring the zone sidecar's
    * bounds-per-column shape). */
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

  /** Build per-shard blooms for SEVERAL key columns in ONE distributed
    * pass: Spark's own `BloomFilterAggregate` (the expression behind
    * runtime join filters), one aggregate per key, grouped by
    * `input_file_name()` — no per-file driver loop and no per-key
    * re-scan, so ingest cost is a single scan however many shards or
    * keys exist. An all-NULL shard gets an EMPTY bloom (the aggregate
    * returns null when nothing inserted): it rejects every key, which
    * is sound — equality is null-rejecting, no row there can match. */
  def buildMulti(df: DataFrame, keys: Seq[(String, KeyKind)],
      expectedItems: Long = 100000L): Seq[ColumnBlooms] = {
    require(keys.nonEmpty, "buildMulti: no key columns")
    val aggs = keys.zipWithIndex.map { case ((c, k), i) =>
      GraftBridge.column(
        new BloomFilterAggregate(GraftBridge.expression(encFor(df, c, k)),
          expectedItems).toAggregateExpression()).as(s"__bloom_$i")
    }
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per shard — sidecar construction, not a data path
    keys.zipWithIndex.map { case ((c, k), i) =>
      ColumnBlooms(c, k, rows.map { r =>
        val bytes = r.getAs[Array[Byte]](s"__bloom_$i")
        ShardBloom(r.getAs[String]("__file"), c,
          if (bytes == null) BloomFilter.create(1) // all-NULL shard: admits nothing
          else BloomFilter.readFrom(bytes))
      }.toSeq)
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

  // ---- persisted sidecar (r16; multi-key v=2 in r17) ----------------------

  /** The bloom sidecar's file name — underscore-prefixed like the zone
    * sidecar so file indexes skip it as data; same catalogue-sidecar
    * slot as the reference's partition metadata (`Partition.h:23-41`).
    *
    * v=2 format (r17): header `v=2<TAB>keys=<col>:<kind>,<col>:<kind>…`,
    * then one line per shard: `relativePath<TAB>base64(bloom₁)<TAB>…`
    * with one blob per declared key, in header order. Paths are
    * ROOT-RELATIVE (not basenames — r16 ADVICE: on a nested layout with
    * repeated part-file basenames a name-set gate collapses duplicates
    * and `Path(root, name)` resolves wrongly), so the directory can
    * still move as a unit. v=1 single-key files (older writers) still
    * parse. */
  val SidecarName = "_graft_bloom"

  /** `file`'s path relative to `root`, or None when `file` is not under
    * `root` — both compared by URI path, so `file:/x` and `file:///x`
    * spellings agree. The write side refuses a None (a sidecar must
    * describe its own directory); the routing gate treats a None as
    * drift. */
  private[graft] def relPath(root: org.apache.hadoop.fs.Path,
      file: String): Option[String] = {
    val r = root.toUri.getPath.stripSuffix("/")
    val f = new org.apache.hadoop.fs.Path(file).toUri.getPath
    if (f.startsWith(r + "/")) Some(f.substring(r.length + 1)) else None
  }

  /** Persist per-column blooms as `dir/_graft_bloom` (tmp + rename —
    * readers never see a torn file). Every column must cover the SAME
    * file set (one build pass does this by construction), every file
    * must live under `dir`, and key-column names must be free of the
    * format's own delimiters. */
  def writeSidecar(s: SparkSession, dir: String,
      cols: Seq[ColumnBlooms]): Unit = {
    require(cols.nonEmpty, "writeSidecar: no column blooms")
    cols.foreach(cb => require(!cb.keyCol.exists(c =>
      c == ':' || c == ',' || c == '\t' || c == '\n'),
      s"writeSidecar: key column name '${cb.keyCol}' contains a delimiter"))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def relsOf(cb: ColumnBlooms): Map[String, ShardBloom] =
      cb.shards.map { b =>
        relPath(root, b.path).getOrElse(sys.error(
          s"writeSidecar: ${b.path} is not under $dir")) -> b
      }.toMap
    val byCol = cols.map(relsOf)
    val rels = byCol.head.keySet
    require(byCol.forall(_.keySet == rels),
      s"writeSidecar: column blooms cover different file sets under $dir")
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".${SidecarName}.tmp.${System.nanoTime}")
    val target = new org.apache.hadoop.fs.Path(root, SidecarName)
    val text = new StringBuilder("v=2\tkeys=")
      .append(cols.map(cb => s"${cb.keyCol}:${cb.kind.name}").mkString(","))
      .append('\n')
    rels.toSeq.sorted.foreach { rel =>
      text.append(rel)
      byCol.foreach { m =>
        val buf = new java.io.ByteArrayOutputStream()
        m(rel).bloom.writeTo(buf)
        text.append('\t')
          .append(java.util.Base64.getEncoder.encodeToString(buf.toByteArray))
      }
      text.append('\n')
    }
    val out = fs.create(tmp, true)
    try out.write(text.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      sys.error(s"could not publish bloom sidecar $target")
  }

  /** Single-key convenience over the multi-column [[writeSidecar]]. */
  def writeSidecar(s: SparkSession, dir: String, keyCol: String,
      kind: KeyKind, blooms: Seq[ShardBloom]): Unit =
    writeSidecar(s, dir, Seq(ColumnBlooms(keyCol, kind, blooms)))

  // Parsed-sidecar memo keyed by (fully-qualified sidecar path, len,
  // mtime) — fully-qualified (r16 ADVICE: a bare uri path drops the
  // filesystem scheme/authority, so two tables at the same path on
  // different filesystems could serve each other's parses) and
  // SELF-invalidating: any rewrite changes (len, mtime) and misses, so
  // no writer hook is needed (the conf route classifies per query per
  // leaf, and re-decoding base64 sketches of 5k shards per query is
  // exactly the per-decision cost the r15 driver-cheap work removed;
  // one stat per query replaces the full decode). Bounded LRU; values
  // are immutable parses, nothing to release on eviction.
  private val SidecarCacheMax = 64
  private val sidecarCache = new java.util.LinkedHashMap[
      (String, Long, Long), Option[Seq[ColumnBlooms]]](
      16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, Long, Long), Option[Seq[ColumnBlooms]]]): Boolean =
      size() > SidecarCacheMax
  }

  /** Load `dir/_graft_bloom` if present: one [[ColumnBlooms]] per
    * declared key column, shard paths resolved back to absolute under
    * `dir`. Malformed → None (pruning is an optimization, never a
    * correctness input). Parses are memoized on the sidecar file's
    * qualified path + (length, mtime) — see [[sidecarCache]]. */
  def readSidecar(s: SparkSession, dir: String): Option[Seq[ColumnBlooms]] =
    try {
      val root0 = new org.apache.hadoop.fs.Path(dir)
      val fs0 = root0.getFileSystem(s.sparkContext.hadoopConfiguration)
      val target0 = new org.apache.hadoop.fs.Path(root0, SidecarName)
      if (!fs0.exists(target0)) return None
      val st = fs0.getFileStatus(target0)
      val ck = (fs0.makeQualified(target0).toString,
        st.getLen, st.getModificationTime)
      sidecarCache.synchronized {
        val hit = sidecarCache.get(ck)
        if (hit != null) return hit
      }
      val parsed = parseSidecar(s, dir)
      sidecarCache.synchronized { sidecarCache.put(ck, parsed) }
      parsed
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"ignoring unreadable bloom sidecar under $dir: ${e.getMessage}")
      None
    }

  private def kindOf(name: String): Option[KeyKind] = name match {
    case "long"   => Some(LongKey)
    case "string" => Some(StringKey)
    case _        => None
  }

  private def parseSidecar(s: SparkSession, dir: String)
      : Option[Seq[ColumnBlooms]] =
    try {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val target = new org.apache.hadoop.fs.Path(root, SidecarName)
      if (!fs.exists(target)) return None
      val in = fs.open(target)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
      val lines = text.linesIterator.toSeq
      val header = lines.headOption.getOrElse(return None).split('\t')
      def bloom(b64: String): BloomFilter =
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(b64)))
      header.headOption match {
        case Some("v=1") => // single-key legacy: name<TAB>b64 lines
          if (header.length < 3) return None
          val keyCol = header(1).stripPrefix("keyCol=")
          val kind = kindOf(header(2).stripPrefix("kind=")).getOrElse(return None)
          Some(Seq(ColumnBlooms(keyCol, kind,
            lines.drop(1).filter(_.nonEmpty).map { line =>
              val Array(name, b64) = line.split('\t')
              ShardBloom(new org.apache.hadoop.fs.Path(root, name).toString,
                keyCol, bloom(b64))
            })))
        case Some("v=2") => // relPath<TAB>b64 per key, header order
          if (header.length < 2) return None
          val keys = header(1).stripPrefix("keys=").split(',').toSeq.map { kv =>
            val Array(c, k) = kv.split(':')
            c -> kindOf(k).getOrElse(return None)
          }
          val rows = lines.drop(1).filter(_.nonEmpty).map { line =>
            val parts = line.split('\t')
            if (parts.length != keys.length + 1) return None
            (parts.head, parts.tail)
          }
          Some(keys.zipWithIndex.map { case ((c, k), i) =>
            ColumnBlooms(c, k, rows.map { case (rel, blobs) =>
              ShardBloom(new org.apache.hadoop.fs.Path(root, rel).toString,
                c, bloom(blobs(i)))
            })
          })
        case _ => None
      }
    } catch { case e: Exception =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"ignoring unreadable bloom sidecar under $dir: ${e.getMessage}")
      None
    }

  /** Rebuild `dir`'s bloom sidecar from the data files currently on
    * disk — ONE distributed pass ([[buildMulti]], all keys in one scan)
    * published tmp+rename like [[writeSidecar]], then the
    * writer-invalidation hooks (the same pair
    * [[graft.sources.Sink.compact]] fires after its swap) so cached
    * listings and Spark's file-status/CacheManager state see the new
    * shard set. This is the one-call repair the drift warning names —
    * the bloom twin of [[ZoneMapPruner.rebuildSidecar]] (r16 verdict:
    * a drifted bloom sidecar had no documented fix short of re-running
    * the build by hand). `template`'s format/schema/options describe how
    * to parse the shards; its paths are ignored — the DIRECTORY is
    * listed fresh (underscore/dot names skipped), because a drifted
    * sidecar is exactly the state where any cached path set is wrong. */
  def rebuildSidecar(s: SparkSession, dir: String, template: TableSpec,
      keys: Seq[(String, KeyKind)],
      expectedItems: Long = 100000L): Seq[ColumnBlooms] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root).toSeq
      .filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
    require(files.nonEmpty, s"rebuildSidecar: no data files under $dir")
    val cols = buildMulti(Catalog.read(s, template.copy(paths = files)),
      keys, expectedItems)
    writeSidecar(s, dir, cols)
    Tables.wrote(s, dir)
    cols
  }

  // ---- end-to-end demonstration entries -----------------------------------

  /** Ingest-once artifact: `orders` hash-sharded 8 ways by o_custkey into
    * CSV (each custkey lands in exactly one shard; every shard's key
    * RANGE spans the whole domain, so zone maps cannot prune this layout
    * at all) with one bloom per shard built in a single pass. */
  private val artifact = new graft.util.SessionCache[(TableSpec, Seq[ShardBloom])]()

  private[graft] def shardedByCustkey(s: SparkSession, dir: String): (TableSpec, Seq[ShardBloom]) =
    artifact.getOrBuild(s, dir) {
      // write-once via Fixtures: the old mode("overwrite") into a
      // dir-keyed /tmp path let a SECOND session on the same dir delete
      // the part-files the first session's cached spec still points at
      val out = Fixtures.ensure(s, Fixtures.path(dir, "orders_bloom_csv")) {
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
          .repartition(8, col("o_custkey"))
          .write.mode("overwrite")
          .option("delimiter", "|").option("header", "false")
          .csv(Fixtures.path(dir, "orders_bloom_csv"))
      }
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val files = fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
        .map(_.getPath.toString).sorted.toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType)))
      val spec = TableSpec("orders_bloom_csv", "csv", files, Some(schema), "|")
      val blooms = build(Catalog.read(s, spec), "o_custkey")
      // publish the sidecar next to the data (write-once like the
      // files): the conf-mode rewriter detects it and prunes point
      // lookups with no library call (r16)
      val sidecar = new org.apache.hadoop.fs.Path(out, SidecarName)
      if (!fs.exists(sidecar))
        writeSidecar(s, out.toString, "o_custkey", LongKey, blooms)
      (spec, blooms)
    }

  /** z02 — bloom-sidecar point lookup end-to-end: `o_custkey = 42`
    * against the hash-sharded CSV table reads only the (expectedly 1 of
    * 8, ± false positives — `SourcesSpec` asserts the count) shards whose
    * bloom admits the key; the result must equal DuckDB running the same
    * predicate over the parquet original. */
  private def z02BloomPrune(s: SparkSession, dir: String): DataFrame = {
    val (spec, blooms) = shardedByCustkey(s, dir)
    readPruned(s, spec, blooms, 42L)
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
      : (TableSpec, Seq[ShardBloom]) =
    artifact.getOrBuild(s, s"$dir#custid") {
      val out = Fixtures.ensure(s, Fixtures.path(dir, "orders_bloomstr_csv")) {
        Tables.orders(s, dir)
          .select(concat(lit("cust-"), col("o_custkey")).as("cust_id"),
            col("o_totalprice"), col("o_orderstatus"))
          .repartition(8, col("cust_id"))
          .write.mode("overwrite")
          .option("delimiter", "|").option("header", "false")
          .csv(Fixtures.path(dir, "orders_bloomstr_csv"))
      }
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val files = fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
        .map(_.getPath.toString).sorted.toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cust_id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType)))
      val spec = TableSpec("orders_bloomstr_csv", "csv", files, Some(schema), "|")
      val blooms = buildString(Catalog.read(s, spec), "cust_id")
      val sidecar = new org.apache.hadoop.fs.Path(out, SidecarName)
      if (!fs.exists(sidecar))
        writeSidecar(s, out.toString, "cust_id", StringKey, blooms)
      (spec, blooms)
    }

  /** z13 (r16) — STRING-key bloom point lookup end-to-end:
    * `cust_id = 'cust-42'` against the string-hash-bucketed CSV table
    * reads only the shards whose bloom admits xxhash64('cust-42')
    * (expectedly 1 of 8 ± false positives — spec-pinned); the oracle is
    * the equivalent numeric predicate over the parquet original
    * ('cust-' || o_custkey = 'cust-42'  ⇔  o_custkey = 42). */
  private def z13BloomStringPrune(s: SparkSession, dir: String): DataFrame = {
    val (spec, blooms) = shardedByCustId(s, dir)
    readPrunedString(s, spec, blooms, "cust-42")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), Tables.exactSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  // same oracle shape as z02 by construction ('cust-' || o_custkey =
  // 'cust-42' iff o_custkey = 42): one definition, three consumers
  private def z13Sql = z02Sql

  /** Run `sql` over a temp view of the string-bucketed bloom directory
    * through the DEPLOYMENT path: `SET spark.graft.scanMode=hybrid`, no
    * library call anywhere — the conf-mode rewriter detects
    * `_graft_bloom` and prunes by sketch membership. */
  private def confOverCustId(s: SparkSession, dir: String, sql: String): DataFrame = {
    val (spec, _) = shardedByCustId(s, dir)
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_bloomstr_csv")
    val prev = s.conf.getOption("spark.graft.scanMode")
    s.conf.set("spark.graft.scanMode", "hybrid")
    try graft.Engine.executeQuery(s, dir, sql)
    finally prev match {
      case Some(v) => s.conf.set("spark.graft.scanMode", v)
      case None    => s.conf.unset("spark.graft.scanMode")
    }
  }

  /** z14 (r16) — the bloom sidecar through the deployment path: a plain
    * view over the string-hash-bucketed directory + `SET
    * spark.graft.scanMode=hybrid`, no library call anywhere. The
    * conf-mode rewriter detects `_graft_bloom`, routes the leaf per
    * shard (zones synthesized bound-free — a hash layout has no ranges
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

  /** TWO-KEY artifact (r17): orders hash-bucketed 8 ways by the string
    * entity id, with blooms on BOTH lookup keys — `o_orderkey` (long)
    * and `cust_id` (string) — built in ONE pass and persisted as one
    * v=2 sidecar. The shape a real lake table has: bucketed by one key,
    * point-looked-up by several. */
  private val artifact2 =
    new graft.util.SessionCache[(TableSpec, Seq[ColumnBlooms])]()

  private[graft] def shardedTwoKey(s: SparkSession, dir: String)
      : (TableSpec, Seq[ColumnBlooms]) =
    artifact2.getOrBuild(s, s"$dir#twokey") {
      val out = Fixtures.ensure(s, Fixtures.path(dir, "orders_bloom2_csv")) {
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            concat(lit("cust-"), col("o_custkey")).as("cust_id"),
            col("o_totalprice"), col("o_orderstatus"))
          .repartition(8, col("cust_id"))
          .write.mode("overwrite")
          .option("delimiter", "|").option("header", "false")
          .csv(Fixtures.path(dir, "orders_bloom2_csv"))
      }
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val files = fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
        .map(_.getPath.toString).sorted.toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cust_id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType)))
      val spec = TableSpec("orders_bloom2_csv", "csv", files, Some(schema), "|")
      val cols = buildMulti(Catalog.read(s, spec),
        Seq("o_orderkey" -> LongKey, "cust_id" -> StringKey))
      val sidecar = new org.apache.hadoop.fs.Path(out, SidecarName)
      if (!fs.exists(sidecar)) writeSidecar(s, out.toString, cols)
      (spec, cols)
    }

  private def confOverTwoKey(s: SparkSession, dir: String, sql: String): DataFrame = {
    val (spec, _) = shardedTwoKey(s, dir)
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_bloom2_csv")
    val prev = s.conf.getOption("spark.graft.scanMode")
    s.conf.set("spark.graft.scanMode", "hybrid")
    try graft.Engine.executeQuery(s, dir, sql)
    finally prev match {
      case Some(v) => s.conf.set("spark.graft.scanMode", v)
      case None    => s.conf.unset("spark.graft.scanMode")
    }
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
