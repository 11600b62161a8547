package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{BloomPruner, Catalog, ShardSummary, TableSpec, ZoneMapPruner}
import graft.sources.ZoneMapPruner.{Between, EqTo, Ge, Gt, Lt}
import graft.sources.Tables
import graft.TempDirs.rm

/** Catalog layer: CSV round-trip with declared schemas, schema.json
  * parsing, and zone-map shard pruning. */
class SourcesSpec extends SparkSpec {

  test("schema.json-style spec parses to Spark types") {
    val spec = Catalog.parseTableSpec(
      """{"name": "mini", "format": "csv", "delimiter": "|",
        |  "fields": [
        |    {"name": "k", "type": "int64"},
        |    {"name": "price", "type": "decimal"},
        |    {"name": "label", "type": "string"},
        |    {"name": "d", "type": "date"}]}""".stripMargin,
      _ => Seq("/tmp/unused"))
    assert(spec.format == "csv" && spec.delimiter == "|")
    val types = spec.schema.get.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types == Map("k" -> "bigint", "price" -> "double",
      "label" -> "string", "d" -> "date"))
  }

  test("CSV shards round-trip through the catalog with full fidelity") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_csv").toFile.getAbsolutePath
    val orig = Tables.supplier(spark, sfDir)
    orig.repartition(3).write.option("delimiter", "|").mode("overwrite").csv(tmp)
    val spec = TableSpec("supplier_csv", "csv", Seq(tmp),
      Some(orig.schema), "|")
    val back = Catalog.read(spark, spec)
    assert(back.schema == orig.schema)
    assert(back.count() == orig.count())
    val sumA = orig.agg(sum($"s_acctbal")).collect().head.getDouble(0)
    val sumB = back.agg(sum($"s_acctbal")).collect().head.getDouble(0)
    assert(math.abs(sumA - sumB) < 1e-6)
  }

  test("gzipped CSV shards decompress transparently through the catalog") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_gz").toFile.getAbsolutePath
    val orig = Tables.nation(spark, sfDir)
    orig.repartition(2).write
      .option("delimiter", "|").option("codec", "gzip")
      .mode("overwrite").csv(tmp)
    val back = Catalog.read(spark,
      TableSpec("nation_gz", "csv.gz", Seq(tmp), Some(orig.schema), "|"))
    assert(back.count() == orig.count())
    assert(back.agg(sum($"n_nationkey")).collect().head.getLong(0)
      == orig.agg(sum($"n_nationkey")).collect().head.getLong(0))
  }

  test("Engine SQL reaches the pipeline tables too") {
    val df = Engine.executeQuery(spark, sfDir,
      """SELECT lang, count(*) AS n, avg(n_chars) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    assert(df.collect().length >= 2)
    val knn = Engine.executeQuery(spark, sfDir,
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS c
        |FROM embeddings a JOIN embeddings b ON a.vec_id = b.vec_id
        |LIMIT 5""".stripMargin)
    knn.collect().foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }

  test("zone maps prune shards at plan time and preserve results") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_zm").toFile.getAbsolutePath
    val ord = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    // range-partition by price so shards have disjoint-ish price ranges
    ord.repartitionByRange(4, $"o_totalprice")
      .write.option("delimiter", "|").mode("overwrite").csv(tmp)
    val spec = TableSpec("orders_csv", "csv", Seq(tmp),
      Some(ord.schema), "|")
    val full = Catalog.read(spark, spec)
    val zones = ZoneMapPruner.build(full, Seq("o_totalprice"))
    assert(zones.size == 4, s"expected 4 shards, got ${zones.size}")

    val preds = Seq(Gt("o_totalprice", 400000.0))
    val kept = ZoneMapPruner.prune(zones, preds)
    assert(kept.size < zones.size, "high-price predicate should drop shards")

    val pruned = ZoneMapPruner.readPruned(spark, spec, zones, preds,
      residual = Some($"o_totalprice" > 400000.0))
    val expected = full.filter($"o_totalprice" > 400000.0)
    assert(pruned.count() == expected.count())
    assert(pruned.agg(sum($"o_orderkey")).collect().head.getLong(0)
      == expected.agg(sum($"o_orderkey")).collect().head.getLong(0))
  }

  test("z01 entry scans fewer files than the full sharded table") {
    import org.apache.spark.sql.functions._
    val (spec, summary) = ZoneMapPruner.shardedOrders(spark, sfDir)
    val zones = summary.zones
    assert(spec.paths.size == 8, s"expected 8 CSV shards, got ${spec.paths.size}")
    val pruned = ZoneMapPruner.readPruned(spark, spec, zones,
      Seq(ZoneMapPruner.Le("o_orderkey", 1000.0)),
      residual = Some(col("o_orderkey") <= 1000L))
    val scanned = pruned.inputFiles.length
    assert(scanned < spec.paths.size && scanned >= 1,
      s"zone maps must drop shards at plan time (scanned $scanned of ${spec.paths.size})")
    // and the pruned read loses no rows vs the parquet original
    val expected = graft.sources.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") <= 1000L).count()
    assert(pruned.count() == expected)
  }

  test("bloom sidecar prunes hash-sharded files where zone maps cannot") {
    import org.apache.spark.sql.functions._
    val (spec, summary) = BloomPruner.shardedByCustkey(spark, sfDir)
    val blooms = summary.blooms.head.shards
    assert(spec.paths.size == 8, s"expected 8 CSV shards, got ${spec.paths.size}")
    // the layout defeats zone maps: every shard's custkey range spans
    // nearly the whole domain, so a min/max pruner keeps all 8
    val zones = ZoneMapPruner.build(Catalog.read(spark, spec), Seq("o_custkey"))
    val zoneKept = ZoneMapPruner.prune(zones, Seq(EqTo("o_custkey", 42.0)))
    assert(zoneKept.size == spec.paths.size,
      s"hash layout should be zone-map-blind (kept ${zoneKept.size} of ${spec.paths.size})")
    // the bloom prunes to the one shard hash(42) landed in (+ rare fps)
    val kept = BloomPruner.prune(blooms, 42L)
    assert(kept.size >= 1 && kept.size <= 2,
      s"bloom should keep ~1 of 8 shards, kept ${kept.size}")
    val pruned = BloomPruner.readPruned(spark, spec, blooms, 42L)
    assert(pruned.inputFiles.length == kept.size)
    val expected = graft.sources.Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === 42L).count()
    assert(pruned.count() == expected)
    // soundness on a definitely-absent key: no shard may contain it, and
    // the read must return empty without scanning anything
    val absent = BloomPruner.readPruned(spark, spec, blooms, -12345L)
    assert(absent.count() == 0L)
  }

  test("string-keyed blooms prune via the engine's own xxhash64 (no false negatives)") {
    // r16: entity-id STRINGS (UUIDs, composite ids) are the common
    // hash-bucketed lake key; the long-only builder left them
    // unprunable. The lookup side hashes driver-side with the SAME
    // xxhash64 (seed 42) the build pass compiled to - a mismatch would
    // be a false NEGATIVE, i.e. row loss, so the agreement is pinned
    // against the distributed expression first.
    import org.apache.spark.sql.functions._
    val hashed = spark.range(1, 50)
      .select(concat(lit("cust-"), col("id")).as("k"))
      .select(col("k"), xxhash64(col("k")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    hashed.foreach { case (k, h) =>
      assert(BloomPruner.xx64(k) == h,
        s"driver-side xx64('$k') must equal the engine's xxhash64")
    }
    val (spec, summary) = BloomPruner.shardedByCustId(spark, sfDir)
    val blooms = summary.blooms.head.shards
    assert(spec.paths.size == 8, s"expected 8 CSV shards: ${spec.paths.size}")
    val kept = BloomPruner.pruneString(blooms, "cust-42")
    assert(kept.size >= 1 && kept.size <= 2,
      s"bloom should keep ~1 of 8 shards, kept ${kept.size}")
    val pruned = BloomPruner.readPrunedString(spark, spec, blooms, "cust-42")
    assert(pruned.inputFiles.length == kept.size)
    val expected = graft.sources.Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === 42L).count()
    assert(pruned.count() == expected)
    // every present key must hit its shard (false negatives forbidden):
    // sample 20 keys and check the shard holding the key survives
    val present = graft.sources.Catalog.read(spark, spec)
      .select(col("cust_id"), input_file_name().as("f"))
      .limit(2000).collect().map(r => r.getString(0) -> r.getString(1))
      .distinct.take(20)
    // compared by URI path: the summary renders `file:/x`,
    // input_file_name() `file:///x`
    def up(p0: String) = new org.apache.hadoop.fs.Path(p0).toUri.getPath
    present.foreach { case (k, f) =>
      val keptPaths = BloomPruner.pruneString(blooms, k).map(b => up(b.path)).toSet
      assert(keptPaths.contains(up(f)),
        s"present key $k must keep its shard $f")
    }
    val absent = BloomPruner.readPrunedString(spark, spec, blooms, "cust-nope")
    assert(absent.count() == 0L)
  }

  test("IN-list lookups through the library route read only member-union shards") {
    // r17: the library twin of the conf route's per-member membership
    // union (z15) — read the shards SOME member's sketch admits, then
    // re-apply the exact membership as the residual.
    import org.apache.spark.sql.functions._
    val (spec, summary) = BloomPruner.shardedByCustkey(spark, sfDir)
    val blooms = summary.blooms.head.shards
    val keys = Seq(42L, 900L)
    val union = keys.flatMap(k => BloomPruner.prune(blooms, k)).distinct
    assert(union.size >= 1 && union.size <= 3,
      s"two members live in ~2 of 8 shards (± false positives): ${union.size}")
    val df = BloomPruner.readPrunedIn(spark, spec, blooms, keys)
    assert(df.inputFiles.length == union.size,
      "only member-union shards may be read")
    val expect = graft.sources.Tables.orders(spark, sfDir)
      .filter(col("o_custkey").isin(keys: _*)).count()
    assert(expect > 0 && df.count() == expect,
      s"union + residual must select exactly the members' rows")
    // string twin over the string-bucketed fixture
    val (sSpec, sSummary) = BloomPruner.shardedByCustId(spark, sfDir)
    val sBlooms = sSummary.blooms.head.shards
    val sdf = BloomPruner.readPrunedStringIn(spark, sSpec, sBlooms,
      Seq("cust-42", "cust-900"))
    assert(sdf.count() == expect)
    // degenerate arms: empty list selects nothing; all-absent members
    // read nothing (every sketch rejects them)
    assert(BloomPruner.readPrunedIn(spark, spec, blooms, Nil).count() == 0L)
    assert(BloomPruner.readPrunedStringIn(spark, sSpec, sBlooms,
      Seq("cust-nope", "cust-never")).count() == 0L)
  }

  test("temporal bloom keys encode like zone maps: micros/days, never cast-seconds") {
    // r16 review: cast("long") on a timestamp yields epoch SECONDS
    // while the extractor's equality literals carry epoch MICROS - a
    // dimension mismatch makes every present key miss its shard's
    // bloom (false negative = row loss). build() now encodes
    // timestamps as unix_micros and dates as unix_date, the zone-map
    // dimensions.
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-bloom-ts")
    try {
      val s = spark
      val df = s.range(0, 40)
        .select(col("id"),
          expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,id)").as("ts"),
          expr("date'2024-03-01' + CAST(id AS INT)").as("d"))
      df.repartition(4, col("id")).write.mode("overwrite").parquet(root.toString)
      val back = s.read.parquet(root.toString)
      val tsBlooms = BloomPruner.build(back, "ts")
      val dBlooms = BloomPruner.build(back, "d")
      // the present key's shard must survive a lookup in the
      // extractor's dimension (micros / days)
      val probe = back.filter(col("id") === 7L)
        .select(unix_micros(col("ts")), unix_date(col("d")).cast("long"),
          input_file_name()).head()
      val (micros, days, file) = (probe.getLong(0), probe.getLong(1), probe.getString(2))
      def up(p0: String) = new org.apache.hadoop.fs.Path(p0).toUri.getPath
      assert(BloomPruner.prune(tsBlooms, micros).map(b => up(b.path))
        .contains(up(file)),
        "a micros-valued lookup must keep the shard holding the timestamp")
      assert(BloomPruner.prune(dBlooms, days).map(b => up(b.path))
        .contains(up(file)),
        "a days-valued lookup must keep the shard holding the date")
      // and the SECONDS dimension (the old cast) must NOT be how the
      // sketch answers - seconds of a distinct hour-grid timestamp
      // would collide with nothing present in micros space
      val absent = BloomPruner.prune(tsBlooms, micros / 1000000L)
      assert(absent.size < tsBlooms.size || tsBlooms.size == 1,
        "sanity: the sketches discriminate between dimensions")
      // library-route LOOKUP on a temporal key (r16 ADVICE): readPruned's
      // residual must compare in the key's encoded dimension — a bare
      // `col === lit(micros)` on a TimestampType column has no coercion
      // and failed analysis; now the residual encodes like the build
      val spec = graft.sources.TableSpec("bloom_ts", "parquet",
        tsBlooms.map(_.path), None)
      val hit = BloomPruner.readPruned(spark, spec, tsBlooms, micros)
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      assert(hit == Seq(7L),
        s"temporal point lookup through the library route: $hit")
      val dHit = BloomPruner.readPruned(spark, spec, dBlooms, days)
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      assert(dHit == Seq(7L), s"date point lookup: $dHit")
      assert(BloomPruner.readPruned(spark, spec, tsBlooms, micros + 1L)
        .count() == 0L, "an absent micros key selects nothing")
    } finally {
      rm(root.toFile)
    }
  }

  test("shard summary: relative paths, outside-root refusal, legacy bloom file unread") {
    // r16 ADVICE: basenames collapse on nested layouts (repeated
    // part-file names) — the summary stores ROOT-RELATIVE paths and the
    // writer refuses files that do not live under its directory.
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-bloom-v2")
    try {
      val dir = root.resolve("t").toString
      spark.range(0, 20).select(col("id"), (col("id") % 4).as("g"))
        .repartition(2, col("g")).write.parquet(dir)
      val cols = BloomPruner.buildMulti(spark.read.parquet(dir),
        Seq("id" -> BloomPruner.LongKey))
      val template = TableSpec("t", "parquet", Nil, None)
      ShardSummary.write(spark, dir, ShardSummary.build(spark, dir, template, Nil,
        Seq("id" -> BloomPruner.LongKey)))
      // round-trip: same shard keep-sets
      val re = ShardSummary.read(spark, dir).get.blooms
      def up(p0: String) = new org.apache.hadoop.fs.Path(p0).toUri.getPath
      (0L to 19L).foreach { k =>
        assert(BloomPruner.prune(re.head.shards, k).map(b => up(b.path)).toSet ==
          BloomPruner.prune(cols.head.shards, k).map(b => up(b.path)).toSet,
          s"summary round-trip must prune identically for $k")
      }
      // a shard whose file lives OUTSIDE the directory is refused
      val built = ShardSummary.build(spark, dir, template, Seq("id"))
      val foreign = built.copy(shards = built.shards.map(sh =>
        sh.copy(zone = sh.zone.copy(path = "/somewhere/else/" +
          new org.apache.hadoop.fs.Path(sh.zone.path).getName))))
      intercept[RuntimeException] {
        ShardSummary.write(spark, dir, foreign)
      }
      // a nested layout repeating part-file basenames keeps one entry per
      // file, each resolving back to its own path
      val nested = root.resolve("n")
      val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      Seq("a", "b").foreach { d =>
        Files.createDirectories(nested.resolve(d))
        parts.foreach(f => Files.copy(f.toPath, nested.resolve(d).resolve(f.getName)))
      }
      ShardSummary.write(spark, nested.toString,
        ShardSummary.build(spark, nested.toString, template, Seq("id")))
      val nestedZones = ShardSummary.read(spark, nested.toString).get.zones
      assert(nestedZones.map(z => up(z.path)).toSet == Seq("a", "b").flatMap(d =>
        parts.map(f => nested.resolve(d).resolve(f.getName).toString)).toSet,
        s"nested shards must keep distinct relative paths: ${nestedZones.map(_.path)}")
      // an earlier release's bloom sidecar carries no length or mtime and
      // is not parsed: a directory holding only it has no summary
      val legacyDir = root.resolve("legacy")
      Files.createDirectories(legacyDir)
      Files.write(legacyDir.resolve("_graft_bloom"),
        "v=1\tkeyCol=id\tkind=long\n".getBytes("UTF-8"))
      assert(ShardSummary.read(spark, legacyDir.toString).isEmpty)
    } finally {
      rm(root.toFile)
    }
  }

  test("partitioned parquet sink prunes directories on read-back") {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft-sink-test/events_by_type"
    val events = graft.sources.Tables.events(spark, sfDir)
    graft.sources.Sink.writePartitioned(events, out, "event_type")
    val clicks = graft.sources.Sink.readPartitioned(spark, out)
      .filter(col("event_type") === "click")
    val scan = clicks.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"),
      s"partition filter must reach the scan:\n$scan")
    val touched = clicks.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(_.contains("event_type=click")),
      s"only the matching partition directory may be scanned: ${touched.mkString(",")}")
    assert(clicks.count() ==
      events.filter(col("event_type") === "click").count())
  }

  test("compact rewrites a fragmented table to few files, content-identical") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath
    val out = s"$tmp/orders_fragmented"
    val orders = graft.sources.Tables.orders(spark, sfDir)
    // simulate micro-batch litter: 64 tiny files
    orders.repartition(64).write.parquet(out)
    // order-independent content fingerprint: row count + summed row hash
    val fingerprint = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(count(lit(1)),
        sum(hash(df.columns.map(col): _*).cast("long")))
        .collect().head.toSeq
    val before = fingerprint(spark.read.parquet(out))
    val (nBefore, nAfter) = graft.sources.Sink.compact(spark, out)
    assert(nBefore == 64, s"fixture should fragment to 64 files, got $nBefore")
    assert(nAfter < nBefore && nAfter >= 1,
      s"compaction must reduce the file count ($nBefore -> $nAfter)")
    val dir = new java.io.File(out)
    assert(dir.listFiles().count(f => f.getName.endsWith(".parquet")) == nAfter,
      "swapped-in directory must hold exactly the compacted files")
    assert(fingerprint(spark.read.parquet(out)) == before,
      "compaction must preserve content exactly")
  }

  test("mergeInto heals a swap interrupted between its two renames") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val tmp = Files.createTempDirectory("graft_swapcrash").toFile.getAbsolutePath
    val table = s"$tmp/users"
    graft.sources.Sink.mergeInto(spark, table,
      Seq((1L, 10.0, 1L), (2L, 20.0, 2L)).toDF("k", "v", "ord"), "k", "ord")
    // simulate a process dying INSIDE the swap window: the current table
    // has been moved aside to the .merge.bak snapshot, the new tmp dir
    // never swapped in — the exact state mergeInto's two-rename sequence
    // can leave behind (Sink.scala swap discipline)
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(p.getParent, s".${p.getName}.merge.bak")
    assert(fs.rename(p, bak) && !fs.exists(p), "failed to stage the crash state")
    // the next merge must first restore the snapshot, then apply itself —
    // NOT treat the missing table as empty (which would silently drop
    // every pre-existing row)
    graft.sources.Sink.mergeInto(spark, table,
      Seq((2L, 21.0, 3L)).toDF("k", "v", "ord"), "k", "ord")
    val rows = spark.read.parquet(table)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 10.0, 2L -> 21.0),
      s"recovery lost pre-crash rows or the merge: $rows")
    // recoverSwap alone is also safe to call when nothing is wrong
    assert(!graft.sources.Sink.recoverSwap(spark, table),
      "recoverSwap must be a no-op on a healthy table")
    // an EMPTY batch applies nothing and must not rewrite the table (or
    // enter the swap window at all): the parquet files stay untouched
    val filesBefore = fs.listStatus(p).map(_.getPath.getName).toSet
    graft.sources.Sink.mergeInto(spark, table,
      Seq.empty[(Long, Double, Long)].toDF("k", "v", "ord"), "k", "ord")
    assert(fs.listStatus(p).map(_.getPath.getName).toSet == filesBefore,
      "empty batch must short-circuit before the rewrite")
  }

  test("compact heals its own interrupted swap before recompacting") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val tmp = Files.createTempDirectory("graft_compactcrash").toFile.getAbsolutePath
    val out = s"$tmp/t"
    (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4).write.parquet(out)
    val p = new Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the compact crash window: table moved aside, new dir never swapped
    val bak = new Path(p.getParent, s".${p.getName}.compact.bak")
    assert(fs.rename(p, bak) && !fs.exists(p), "failed to stage the crash state")
    // a re-run must restore the snapshot and compact it — the mergeInto
    // self-healing contract, honored by compact itself (previously a raw
    // FileNotFoundException)
    val (nBefore, nAfter) = graft.sources.Sink.compact(spark, out)
    assert(nBefore >= 2 && nAfter >= 1 && nAfter < nBefore, s"$nBefore -> $nAfter")
    assert(spark.read.parquet(out).count() == 8, "healed table lost rows")
    // a genuinely missing table (no snapshot) still fails loudly
    intercept[RuntimeException] {
      graft.sources.Sink.compact(spark, s"$tmp/never_existed")
    }
  }

  test("orderCol ties resolve to one deterministic survivor") {
    import spark.implicits._
    // two updates for key 1 with the SAME orderCol value but different
    // payloads: last-writer-wins has no winner by order alone. The
    // survivor must be a pure function of the batch CONTENT (md5
    // tiebreak), not of input row order or partitioning — otherwise a
    // replayed batch could flip the row and break the CDC sink's
    // replay-idempotence contract.
    val batch = Seq((1L, "x", 5L), (1L, "y", 5L), (2L, "z", 1L))
    def apply(rows: Seq[(Long, String, Long)], parts: Int): Map[Long, String] = {
      val dir = Files.createTempDirectory("graft_tie").toFile.getAbsolutePath
      val table = s"$dir/t"
      graft.sources.Sink.mergeInto(spark, table,
        rows.toDF("k", "v", "ord").repartition(parts), "k", "ord")
      spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val a = apply(batch, 1)
    val b = apply(batch.reverse, 4) // reversed order, different partitioning
    assert(a == b, s"tie survivor depends on input order/partitioning: $a vs $b")
    assert(a.keySet == Set(1L, 2L) && (a(1L) == "x" || a(1L) == "y"))
  }

  test("contradictory predicate prunes everything and yields empty") {
    import spark.implicits._
    val shards = Seq(
      graft.sources.ShardZoneMap("a", Map("x" -> (0.0, 10.0))),
      graft.sources.ShardZoneMap("b", Map("x" -> (10.0, 20.0))))
    assert(ZoneMapPruner.prune(shards, Seq(Gt("x", 25.0))).isEmpty)
    assert(ZoneMapPruner.prune(shards, Seq(Between("x", 5.0, 15.0))).size == 2)
    assert(ZoneMapPruner.prune(shards, Seq(Lt("x", 5.0))).map(_.path) == Seq("a"))
    // unknown column stays conservative
    assert(ZoneMapPruner.prune(shards, Seq(Ge("y", 99.0))).size == 2)
  }

  test("mergeInto refreshes hybrid segments admitted over the table") {
    import graft.cache.{LRU, SegmentCache}
    import graft.cache.HybridScan.{AdaptiveScanRouter, ModeHybrid}
    val dir = Files.createTempDirectory("graft-merge-segment").toString
    spark.read.parquet(s"$sfDir/orders.parquet").write.parquet(s"$dir/orders.parquet")
    val path = s"$dir/orders.parquet"
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    val pred = col("o_orderkey") <= 2000
    val cache = new SegmentCache(1L << 30, LRU)
    // hotAdmitAfter = 1: the first miss admits a zip-capable segment
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8, hotAdmitAfter = 1)
    def routed() = {
      val lease = router.scanMode(spark, dir, "orders", cols, pred, ModeHybrid)
      try lease.df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
      finally lease.close()
    }
    def oracle() = spark.read.parquet(path).filter(pred).select(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    try {
      assert(routed() == oracle())
      assert(cache.keys.exists(_.table.startsWith("orders@")),
        "the first read must admit an orders segment")
      val updates = spark.read.parquet(path).filter(col("o_orderkey") <= 100)
        .withColumn("o_orderstatus", lit("X"))
      graft.sources.Sink.mergeInto(spark, path, updates, "o_orderkey", "o_orderkey")
      val want = oracle()
      assert(want.exists(_(1) == "X"), "the merge must change rows for this test to bite")
      assert(routed() == want, "a hybrid read after mergeInto served replaced rows")
    } finally cache.invalidateAll()
  }
}
