package graft

import org.apache.spark.sql.functions._

import graft.cache.{HybridScan, LRU, SegmentCache}
import graft.cache.HybridScan.{AdaptiveScanRouter, CacheOnly, Hybrid,
  ModeCachingOnly, ModeHybrid, ModePullup, ModePushdownOnly, Pushdown}
import graft.sources.{BloomPruner, ShardSummary, TableSpec, ZoneMapPruner}
import graft.sources.ZoneMapPruner.Le
import graft.TempDirs.rm

/** Per-SHARD routing over a zone-mapped sharded flat table (r14) — the
  * reference's `SegmentKey` RANGE component
  * (`fpdb-cache/include/fpdb/cache/SegmentKey.h`): per-shard caching over
  * the numbered-shard-file layout its catalogue enumerates
  * (`T.csv.0 … T.csv.N`), with the zone-map sidecar pruning shards BEFORE
  * the cache tier sees them (`PartitionPruner.cpp:23-51`). */
class ShardRouterSpec extends SparkSpec {

  private lazy val fixture = {
    val (spec, summary) = ZoneMapPruner.shardedOrders(spark, sfDir)
    (spec, summary.zones)
  }
  private val cols = Seq("o_orderstatus", "o_totalprice")

  private def via(router: AdaptiveScanRouter, hi: Long,
      mode: HybridScan.ScanMode = ModeHybrid) = {
    val (spec, zones) = fixture
    val lease = router.scanShardedMode(spark, spec, "orders_sharded", zones,
      Seq(Le("o_orderkey", hi.toDouble)), cols, col("o_orderkey") <= hi, mode)
    try (lease.route, lease.df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(25,6)"))
        .cast("double").as("total"))
      .orderBy("o_orderstatus").collect().map(_.toSeq).toSeq)
    finally lease.close()
  }

  /** The rebuild template of a flat parquet directory. */
  private def parquetAt(dir: String) =
    TableSpec(new org.apache.hadoop.fs.Path(dir).getName, "parquet", Nil, None)

  private def oracle(hi: Long) =
    graft.sources.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") <= hi)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(25,6)"))
        .cast("double").as("total"))
      .orderBy("o_orderstatus").collect().map(_.toSeq).toSeq

  test("all four modes are row-identical on the sharded path") {
    val want = oracle(2000L)
    assert(want.nonEmpty, "fixture must select rows")
    Seq(ModePullup, ModePushdownOnly, ModeCachingOnly, ModeHybrid).foreach {
      mode =>
        val cache = new SegmentCache(1L << 30, LRU)
        val router = new AdaptiveScanRouter(cache, pushdownSlots = 8,
          hotAdmitAfter = 2)
        val (_, got) = via(router, 2000L, mode)
        assert(got == want, s"mode $mode must be result-identical")
        cache.invalidateAll()
    }
  }

  test("hot shards admit as shard-keyed segments; wider spans route Hybrid") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8,
      hotAdmitAfter = 2)
    val want = oracle(1000L)
    // heat the low-key window: per-shard admission on the second access,
    // resident serve from the third
    (1 to 3).foreach { _ => assert(via(router, 1000L)._2 == want) }
    val regions = cache.keys.filter(_.region.nonEmpty).map(_.region)
    assert(regions.nonEmpty && regions.forall(_.startsWith("shard=")),
      s"expected shard-keyed segments, got ${cache.keys}")
    assert(!cache.keys.exists(_.region.isEmpty),
      "no whole-table segment may exist on the sharded path")
    val (route3, _) = via(router, 1000L)
    assert(route3 == CacheOnly,
      s"an all-hot window must serve cache-side, got $route3")
    // a wider key range: the hot shards serve cache-side, the newly
    // touched shards ride the cold multi-path scan — ONE Hybrid lease
    val wantWide = oracle(3000L)
    val (routeWide, gotWide) = via(router, 3000L)
    assert(gotWide == wantWide, "hybrid union must equal the plain scan")
    assert(routeWide == Hybrid, s"hot+cold span must route Hybrid: $routeWide")
    val d = router.decisions.last
    assert(d._4.contains("per-shard") && d._4.contains("cache=[") &&
      d._4.contains("storage=["), d._4)
    cache.invalidateAll()
  }

  test("zone-pruned shards are never read, heated, or admitted") {
    val (_, zones) = fixture
    assert(zones.size == 8, s"fixture is 8 range shards: ${zones.size}")
    val surviving = ZoneMapPruner.prune(zones, Seq(Le("o_orderkey", 1000.0)))
    assert(surviving.size < zones.size,
      "fixture: the key predicate must zone-prune some shards")
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8,
      hotAdmitAfter = 2)
    (1 to 3).foreach { _ => via(router, 1000L) }
    // only surviving shards can have become resident
    val residentShards = cache.keys.map(_.region).toSet
    val survivingNames = surviving.map(z =>
      "shard=" + new org.apache.hadoop.fs.Path(z.path).getName).toSet
    assert(residentShards.subsetOf(survivingNames),
      s"a zone-pruned shard must never admit: $residentShards vs $survivingNames")
    assert(residentShards.size <= surviving.size)
    assert(router.decisions.last._4.contains("after zone pruning"),
      router.decisions.last._4)
    cache.invalidateAll()
  }

  test("conf-mode routes a zone-mapped sharded CSV directory per shard") {
    // r14: scanShardedMode is DEPLOYMENT-reachable — a plain view over
    // the sharded directory (the persisted shard summary is
    // the detector's authority, like the reference's zoneMap.json in
    // its catalogue) + SET spark.graft.scanMode=hybrid routes per
    // shard with zone pruning composed in, no library call anywhere.
    val s = spark.newSession()
    val (spec, summary) = ZoneMapPruner.shardedOrders(s, sfDir)
    val zones = summary.zones
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_sharded_csv")
    def sqlOf(hi: Int) =
      s"""SELECT o_orderstatus, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
         |FROM orders_sharded_csv WHERE o_orderkey <= $hi
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val expect = rows(Engine.plan(s, sfDir, sqlOf(1000)))
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      for (_ <- 1 to 3)
        assert(rows(Engine.executeQuery(s, sfDir, sqlOf(1000))) == expect,
          "conf-routed per-shard hybrid must match the pristine plan")
      val regions = cache.keys.filter(_.region.nonEmpty)
      assert(regions.nonEmpty && regions.forall(_.region.startsWith("shard=")),
        s"shard-keyed residents expected through the conf route: ${cache.keys}")
      assert(!cache.keys.exists(_.region.isEmpty),
        "no whole-table segment on the sharded path")
      // only zone-surviving shards may be resident
      val surviving = ZoneMapPruner.prune(zones,
        Seq(Le("o_orderkey", 1000.0)))
      assert(surviving.size < zones.size, "fixture: pruning must bite")
      val names = surviving.map(z =>
        "shard=" + new org.apache.hadoop.fs.Path(z.path).getName).toSet
      assert(regions.map(_.region).toSet.subsetOf(names),
        s"zone-pruned shards must never admit via the conf route")
      // wider span stays row-identical (hot + cold in one plan)
      val expectWide = rows(Engine.plan(s, sfDir, sqlOf(3000)))
      assert(rows(Engine.executeQuery(s, sfDir, sqlOf(3000))) == expectWide,
        "hot+cold shard span through the conf route")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("a flat PARQUET shard directory with a sidecar routes per shard via conf too") {
    // the parquet arm of shardedLeaf (r14): parquet self-describes, so a
    // user-published sidecar over a flat parquet dir routes with no
    // option/timestamp gates — zone pruning + per-shard caching on top
    // of parquet's own row-group stats
    import org.apache.spark.sql.functions.{col => c}
    val s = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("graft-shard-pq")
    try {
      val table = root.resolve("t").toString
      graft.sources.Tables.orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(4, c("o_orderkey"))
        .write.parquet(table)
      val zones = ShardSummary.rebuild(s, table, parquetAt(table),
        Seq("o_orderkey")).zones
      s.read.parquet(table).createOrReplaceTempView("orders_pq_sharded")
      val sql =
        """SELECT count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
          |FROM orders_pq_sharded WHERE o_orderkey <= 600""".stripMargin
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      val cache = HybridScan.segmentCache(s, sfDir)
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        (1 to 3).foreach { _ =>
          val got = Engine.executeQuery(s, sfDir, sql).collect().map(_.toSeq).toSeq
          assert(got == expect, "conf-routed parquet shards must match")
        }
        val regions = cache.keys.filter(_.region.nonEmpty)
        assert(regions.nonEmpty && regions.forall(_.region.startsWith("shard=")),
          s"parquet shard residents expected: ${cache.keys}")
        assert(!cache.keys.exists(_.region.isEmpty),
          "no whole-table segment on the parquet sharded path")
        // pruning bites: only the low-key shards can be resident
        val surviving = ZoneMapPruner.prune(zones, Seq(Le("o_orderkey", 600.0)))
        assert(surviving.size < zones.size, "fixture: pruning must bite")
        val names = surviving.map(z =>
          "shard=" + new org.apache.hadoop.fs.Path(z.path).getName).toSet
        assert(regions.map(_.region).toSet.subsetOf(names),
          "zone-pruned parquet shards must never admit")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
        cache.invalidateAll()
      }
    } finally {
      rm(root.toFile)
    }
  }

  test("a sidecar that drifted from the directory leaves the leaf UNROUTED") {
    // row-safety guard: a new shard landing without a sidecar rebuild
    // must not lose rows to sidecar-enumerated routing — the detector
    // requires name-set equality and falls back to the plain plan.
    import java.nio.file.Files
    val s = spark.newSession()
    val (spec, _) = ZoneMapPruner.shardedOrders(s, sfDir)
    val root = Files.createTempDirectory("graft-shard-drift")
    try {
      // copy the fixture dir (files + summary), then add one shard the
      // summary does not know
      TempDirs.copyFiles(new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString, root)
      // the drifting shard: one extra row with a huge key
      Files.write(root.resolve("part-extra.csv"),
        "999999|1|123.45|X\n".getBytes("UTF-8"))
      s.read.schema(spec.schema.get).option("delimiter", "|")
        .csv(root.toString).createOrReplaceTempView("orders_drifted")
      val sql =
        """SELECT count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
          |FROM orders_drifted WHERE o_orderkey <= 1000000""".stripMargin
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      val cache = HybridScan.segmentCache(s, sfDir)
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        (1 to 3).foreach { _ =>
          val got = Engine.executeQuery(s, sfDir, sql).collect().map(_.toSeq).toSeq
          assert(got == expect,
            "a drifted sidecar must not lose the unlisted shard's rows")
        }
        assert(!cache.keys.exists(_.region.startsWith("shard=")),
          s"a drifted-sidecar leaf must be left unrouted: ${cache.keys}")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
        cache.invalidateAll()
      }
    } finally {
      rm(root.toFile)
    }
  }

  test("zone-pred extraction skips literals whose double rendering is inexact") {
    // r14 second review pass: zone bounds are doubles and rounding is
    // monotone — Le/Ge/EqTo stay safe under rounding, but a STRICT
    // compare against a rounded literal can wrongly prune (v = 2^53+1
    // rounds to 2^53; a shard whose min is exactly 2^53 fails
    // `lo < v_rounded` yet contains 2^53 < v — row loss). The extractor
    // must emit the exact literals and SKIP the inexact ones.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    import graft.sources.ZoneMapPruner.{Lt => ZLt, Le => ZLe}
    val a = AttributeReference("k", LongType)()
    val exact = (1L << 53)       // representable
    val inexact = (1L << 53) + 1 // rounds to 2^53
    val preds = graft.plans.ModeExec.rangePreds(Seq(
      LessThan(a, Literal(exact, LongType)),
      LessThan(a, Literal(inexact, LongType)),
      LessThanOrEqual(a, Literal(7L, LongType))))
    assert(preds.contains(ZLt("k", exact.toDouble)),
      s"exact literals must extract: $preds")
    assert(preds.contains(ZLe("k", 7.0)))
    assert(!preds.exists {
      case ZLt("k", v) => v != exact.toDouble
      case _ => false
    }, s"the inexact 2^53+1 literal must be SKIPPED, not rounded: $preds")
    assert(preds.size == 2, s"exactly the two sound predicates: $preds")
  }

  test("IN-lists extract as a disjunction of equalities; null members drop; inexact members widen outward") {
    // x IN (v1..vn) admits a shard iff some vi lands inside its zone.
    // r17 (r16 verdict item 2): an all-exact list extracts as
    // OrPred(EqTo vi) — zone-side it prunes the gaps BETWEEN members a
    // single envelope keeps, and bloom-side it is the per-member
    // membership union. NULL members match no row, so they drop; a
    // member with no exact double rendering degrades the WHOLE list to
    // the outward-widened Between envelope (an EqTo against a rounded
    // literal could wrongly prune). Both In and its OptimizeIn form
    // InSet extract.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    import graft.sources.ZoneMapPruner.{Between => ZBetween, EqTo => ZEqTo,
      OrPred => ZOrPred}
    val a = AttributeReference("k", LongType)()
    val preds = graft.plans.ModeExec.rangePreds(Seq(
      In(a, Seq(Literal(7L, LongType), Literal(3L, LongType),
        Literal(null, LongType), Literal(11L, LongType)))))
    assert(preds == Seq(ZOrPred(Seq(Seq(ZEqTo("k", 7.0)),
      Seq(ZEqTo("k", 3.0)), Seq(ZEqTo("k", 11.0))))),
      s"IN over non-null exact members is a disjunction of equalities: $preds")
    val inset = graft.plans.ModeExec.rangePreds(Seq(
      InSet(a, Set[Any](5L, 2L, 9L))))
    inset match {
      case Seq(ZOrPred(branches)) =>
        assert(branches.flatten.toSet ==
          Set(ZEqTo("k", 5.0), ZEqTo("k", 2.0), ZEqTo("k", 9.0)),
          s"InSet (OptimizeIn's form) must extract the same members: $inset")
      case other => fail(s"expected a disjunction of equalities: $other")
    }
    // inexact member (2^53+1): its end widens outward, never inward
    val big = (1L << 53) + 1
    val wide = graft.plans.ModeExec.rangePreds(Seq(
      In(a, Seq(Literal(1L, LongType), Literal(big, LongType)))))
    wide match {
      case Seq(ZBetween("k", lo, hi)) =>
        assert(lo == 1.0 && new java.math.BigDecimal(hi)
          .compareTo(java.math.BigDecimal.valueOf(big)) >= 0,
          s"the inexact upper member must widen OUTWARD: $wide")
      case other => fail(s"expected one Between envelope: $other")
    }
    // an all-NULL list matches nothing: no predicate extracted (sound —
    // fewer predicates only under-prune); the shard-level zero-row
    // result rides the residual filter
    assert(graft.plans.ModeExec.rangePreds(Seq(
      In(a, Seq(Literal(null, LongType))))).isEmpty)
    // end-to-end: an IN over two low shards prunes the rest
    val (_, zones) = fixture
    val kept = ZoneMapPruner.prune(zones, graft.plans.ModeExec.rangePreds(Seq(
      In(AttributeReference("o_orderkey", LongType)(),
        Seq(Literal(10L, LongType), Literal(900L, LongType))))))
    assert(kept.nonEmpty && kept.size < zones.size,
      s"the IN envelope must prune high shards: ${kept.size}/${zones.size}")
  }

  test("date literals extract as epoch days and prune date-sharded shards via conf") {
    // r14 verdict "what's missing" 1: date ranges are THE canonical
    // log-pruning predicate. Extraction pin first (epoch days/micros are
    // the dimensions build() encodes date/timestamp columns in), then
    // the z07 shape end-to-end with the shard count pinned.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, TimestampType}
    import graft.sources.ZoneMapPruner.{Ge => ZGe, Lt => ZLt}
    val d = AttributeReference("d", DateType)()
    val ts = AttributeReference("t", TimestampType)()
    val days = java.time.LocalDate.of(1998, 1, 1).toEpochDay
    val micros = 1234567890123456L // double-exact (< 2^53)
    val preds = graft.plans.ModeExec.rangePreds(Seq(
      GreaterThanOrEqual(d, Literal(days.toInt, DateType)),
      LessThan(ts, Literal(micros, TimestampType))))
    assert(preds == Seq(ZGe("d", days.toDouble), ZLt("t", micros.toDouble)),
      s"date→days / timestamp→micros extraction: $preds")
    // the fixture's epoch-day zone bounds prune the 1998 window
    val s = spark.newSession()
    val (spec, summary) = ZoneMapPruner.dateShardedOrders(s, sfDir)
    val zones = summary.zones
    val lo = java.time.LocalDate.of(1998, 1, 1).toEpochDay.toDouble
    val hi = java.time.LocalDate.of(1999, 1, 1).toEpochDay.toDouble
    val kept = ZoneMapPruner.prune(zones,
      Seq(ZGe("o_orderdate", lo), ZLt("o_orderdate", hi)))
    assert(kept.nonEmpty && kept.size <= zones.size / 2,
      s"a one-year window over 8 date-range shards must prune measurably: " +
      s"${kept.size}/${zones.size}")
    // conf route: rows identical to the pristine plan, residents only
    // from surviving shards
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_datezone_csv")
    val sql =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders_datezone_csv
        |WHERE o_orderdate >= DATE '1998-01-01' AND o_orderdate < DATE '1999-01-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "date-pruned conf route must match the pristine plan")
      }
      val regions = cache.keys.filter(_.region.nonEmpty)
      assert(regions.nonEmpty && regions.forall(_.region.startsWith("shard=")),
        s"shard residents expected through the date conf route: ${cache.keys}")
      val names = kept.map(z =>
        "shard=" + new org.apache.hadoop.fs.Path(z.path).getName).toSet
      assert(regions.map(_.region).toSet.subsetOf(names),
        "only date-surviving shards may admit")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("widened sharded-leaf formats route via conf: JSONL, ORC, header'd+timestamp CSV") {
    // r14 verdict item 4: the sharded path was parquet + bare CSV only.
    // relationOptions carries the user relation's reader options
    // verbatim, so header=true CSV with a timestamp column, JSONL, and
    // ORC all route — each pinned here conf-route row-identical with
    // shard-keyed residents.
    import java.nio.file.Files
    val s = spark.newSession()
    val cache = HybridScan.segmentCache(s, sfDir)
    def pinRoutes(view: String, df: org.apache.spark.sql.DataFrame,
        dir: String, keyCol: String, template: TableSpec): Unit = {
      ShardSummary.write(s, dir, ShardSummary.build(s, dir, template, Seq(keyCol)))
      df.createOrReplaceTempView(view)
      val sql = s"SELECT count(*) AS n, sum($keyCol) AS sk FROM $view " +
        s"WHERE $keyCol <= 600"
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      val before = cache.keys.count(_.region.startsWith("shard="))
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sql).collect()
            .map(_.toSeq).toSeq == expect, s"$view conf route must match")
        }
        assert(cache.keys.count(_.region.startsWith("shard=")) > before,
          s"$view must produce shard-keyed residents: ${cache.keys}")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    }
    val root = Files.createTempDirectory("graft-shard-fmt")
    try {
      val base = graft.sources.Tables.orders(s, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate")) // timestamp column rides along
        .repartitionByRange(4, col("o_orderkey"))
      val jsonDir = root.resolve("j").toString
      base.write.json(jsonDir)
      pinRoutes("fmt_jsonl", s.read
        .schema(base.schema).json(jsonDir), jsonDir, "o_orderkey",
        TableSpec("j", "json", Nil, Some(base.schema)))
      val orcDir = root.resolve("o").toString
      base.write.orc(orcDir)
      pinRoutes("fmt_orc", s.read.orc(orcDir), orcDir, "o_orderkey",
        TableSpec("o", "orc", Nil, None))
      val csvDir = root.resolve("c").toString
      base.write.option("header", "true").option("delimiter", "|").csv(csvDir)
      pinRoutes("fmt_csv_hdr", s.read.schema(base.schema)
        .option("header", "true").option("delimiter", "|").csv(csvDir),
        csvDir, "o_orderkey", TableSpec("c", "csv", Nil, Some(base.schema),
          relationOptions = Some(Map("header" -> "true", "delimiter" -> "|"))))
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("Sink.compact regenerates the zone sidecar its swap destroys") {
    // compact/mergeInto swap the WHOLE directory: the shard summary moves
    // out with the old dir and is deleted with the .bak snapshot —
    // without the rebuild a zone-mapped table silently stops routing per
    // shard after every maintenance op (nothing even counts as drift,
    // the summary is simply gone).
    import java.nio.file.Files
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-compact-zone")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      val table = root.resolve("t").toString
      graft.sources.Tables.orders(s, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(4, col("o_orderkey"))
        .write.parquet(table)
      ShardSummary.rebuild(s, table, parquetAt(table), Seq("o_orderkey"))
      def view(): Unit = s.read.parquet(table)
        .createOrReplaceTempView("orders_compact_zone")
      view()
      val sql =
        """SELECT count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
          |FROM orders_compact_zone WHERE o_orderkey <= 600""".stripMargin
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      s.conf.set("spark.graft.scanMode", "hybrid")
      try {
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sql).collect()
            .map(_.toSeq).toSeq == expect, "pre-compact conf route")
        }
        assert(cache.keys.exists(_.region.startsWith("shard=")),
          "fixture: pre-compact route must produce shard residents")
        cache.invalidateAll()
        val (nBefore, nAfter) = graft.sources.Sink.compact(s, table)
        assert(nBefore == 4 && nAfter >= 1, s"compact: $nBefore -> $nAfter")
        // the summary must exist again and NAME the new file set
        val rezoned = ShardSummary.read(s, table).map(_.zones)
        assert(rezoned.isDefined, "compact must regenerate the summary")
        val fs = org.apache.hadoop.fs.FileSystem.get(
          s.sparkContext.hadoopConfiguration)
        val nowFiles = fs.globStatus(
          new org.apache.hadoop.fs.Path(table, "part-*"))
          .map(_.getPath.getName).toSet
        assert(rezoned.get.map(z => new org.apache.hadoop.fs.Path(z.path)
          .getName).toSet == nowFiles,
          "the regenerated sidecar must match the compacted file set")
        // and the conf route still works over the compacted table
        view()
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sql).collect()
            .map(_.toSeq).toSeq == expect, "post-compact conf route")
        }
        assert(cache.keys.exists(_.region.startsWith("shard=")),
          s"post-compact route must still produce shard residents: ${cache.keys}")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("drift is counted and rebuildSidecar restores per-shard routing") {
    // r14 verdict item 5: drift silently unrouted. Now it logs + counts,
    // and ShardSummary.rebuild (one distributed pass, tmp+rename, writer
    // invalidation hooks) brings the leaf back.
    import java.nio.file.Files
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-shard-rebuild")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      Files.write(root.resolve("part-0.csv"), "1|10\n2|20\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-1.csv"), "5|50\n6|60\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      val template = graft.sources.TableSpec("t_rebuild", "csv", Nil,
        Some(schema), "|")
      def readDir = s.read.schema(schema).option("delimiter", "|")
        .csv(root.toString)
      ShardSummary.rebuild(s, root.toString, template, Seq("k"))
      // a new shard lands without a rebuild: drift counted, unrouted
      Files.write(root.resolve("part-2.csv"), "9|90\n".getBytes("UTF-8"))
      HybridScan.invalidateListings(root.toString)
      s.catalog.refreshByPath(root.toString)
      readDir.createOrReplaceTempView("t_rebuild")
      val sql = "SELECT count(*) AS n, sum(v) AS sv FROM t_rebuild WHERE k <= 100"
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      assert(expect == Seq(Seq(5L, 230L)), s"fixture: $expect")
      val drift0 = ShardSummary.driftCount
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "a drifted leaf must stay row-identical (unrouted)")
        assert(ShardSummary.driftCount == drift0 + 1,
          "drift must be observable, and counted EXACTLY once per query " +
          "per drifted leaf (r15 ADVICE: the Filter arm re-classified an " +
          s"unroutable leaf, inflating driftCount 2x): ${ShardSummary.driftCount - drift0}")
        assert(!cache.keys.exists(_.region.startsWith("shard=")),
          s"drifted leaf must be unrouted: ${cache.keys}")
        // rebuild: one pass over the CURRENT directory → routed again
        val zones = ShardSummary.rebuild(s, root.toString,
          template, Seq("k")).zones
        assert(zones.size == 3, s"rebuild must cover all shards: $zones")
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sql).collect()
            .map(_.toSeq).toSeq == expect, "rebuilt leaf must match")
        }
        assert(cache.keys.exists(_.region.startsWith("shard=")),
          s"rebuilt sidecar must restore per-shard routing: ${cache.keys}")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("rewriting a shard in place rotates its segment (fingerprint includes size/mtime)") {
    // build a tiny 2-shard CSV fixture of our own so the rewrite cannot
    // disturb the shared shardedOrders fixture
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-shard-rot")
    val s0 = root.resolve("t.csv.0"); val s1 = root.resolve("t.csv.1")
    Files.write(s0, "1|10.0\n2|20.0\n".getBytes("UTF-8"))
    Files.write(s1, "5|50.0\n6|60.0\n".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val spec = graft.sources.TableSpec("t_sharded", "csv",
      Seq(s0.toString, s1.toString), Some(schema), "|")
    val zones = Seq(
      graft.sources.ShardZoneMap(s0.toString, Map("k" -> ((1.0, 2.0)))),
      graft.sources.ShardZoneMap(s1.toString, Map("k" -> ((5.0, 6.0)))))
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8,
      hotAdmitAfter = 1) // admit on first touch: the rotation is the point
    def sumV(): Double = {
      val lease = router.scanShardedMode(spark, spec, "t_sharded", zones,
        Seq(Le("k", 10.0)), Seq("k", "v"), lit(true), ModeCachingOnly)
      try lease.df.agg(sum("v")).collect()(0).getDouble(0)
      finally lease.close()
    }
    try {
      assert(sumV() == 140.0)
      assert(cache.keys.count(_.region.nonEmpty) == 2, s"${cache.keys}")
      // rewrite shard 0 in place with different bytes (and ensure the
      // mtime moves even on coarse-grained filesystems)
      Files.write(s0, "1|11.0\n2|20.0\n3|30.0\n".getBytes("UTF-8"))
      Files.setLastModifiedTime(s0,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000))
      // an external rewrite needs BOTH refreshes — graft's listing cache
      // (the fingerprint source) and Spark's own (REFRESH TABLE
      // semantics: the file-status cache AND the CacheManager, whose
      // plan-equality substitution would otherwise serve the still-
      // persisted OLD segment into the re-keyed rebuild — observed on
      // this test's first run: the rotation re-keyed correctly but the
      // fresh build materialized from the stale plan-equal IMR)
      HybridScan.invalidateListings(root.toString)
      spark.catalog.refreshByPath(root.toString)
      val got = sumV()
      assert(got == 171.0,
        s"a rewritten shard must rotate its segment, not serve stale bytes: $got")
    } finally {
      cache.invalidateAll()
      Files.deleteIfExists(s0); Files.deleteIfExists(s1)
      Files.deleteIfExists(root)
    }
  }

  test("the shard routing decision stays bounded at 5000 shards; the caps bind") {
    // r14 verdict item 7: the RANGE leg's 5k-partition discipline — the
    // per-shard decision is O(#shards) off ONE parent listing, with the
    // resident lookup a keyed map (not a scan of cache.keys per shard),
    // the hot-union width capped by maxHotRegions, and the heat-counter
    // cap quarter-evicting. 5000 one-row CSV shards written directly
    // (no Spark job), sidecar zones authored in-memory.
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-shard5k")
    val N = 5000
    (0 until N).foreach { i =>
      Files.write(root.resolve(f"part-$i%05d.csv"),
        s"$i|${i.toLong * 2}\n".getBytes("UTF-8"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val files = (0 until N).map(i => root.resolve(f"part-$i%05d.csv").toString)
    val spec = graft.sources.TableSpec("ids5k", "csv", files, Some(schema), "|")
    val zones = files.zipWithIndex.map { case (p, i) =>
      graft.sources.ShardZoneMap(p, Map("id" -> (i.toDouble, i.toDouble)))
    }
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8,
      hotAdmitAfter = 2, maxHotRegions = 2)
    // stuff the heat map past its 65536 cap: the next access must
    // quarter-evict survivors, never clear the map
    router.seedHeat((0 until 66000).map(i => s"seen.x|t$i|c=1").mkString("\n"))
    assert(router.heatKeyCount >= 66000, "fixture: heat map must be over cap")
    try {
      val t0 = System.nanoTime()
      val lease = router.scanShardedMode(spark, spec, "probe5kshard", zones,
        Seq(ZoneMapPruner.Le("id", 2499.0)), Seq("v"),
        col("id") <= 2499L, ModeCachingOnly)
      val decisionSecs = (System.nanoTime() - t0) / 1e9
      info(f"5k-shard decision: $decisionSecs%.2f s")
      try {
        // margin discipline: measured 9.3 s isolated on this host —
        // almost all of it Spark's per-path existence checks while
        // constructing the 2498-path cold-side reader, an O(#shards)
        // per-decision cost by design (the probe guards against n^2 and
        // per-shard jobs, not against Spark's path resolution). Bound =
        // ~3x measured.
        assert(decisionSecs < 30.0,
          f"5k-shard routing decision took $decisionSecs%.1f s")
        assert(lease.df.count() == 2500L,
          "zone pruning must keep exactly the matching half")
      } finally lease.close()
      // the WARM decision: the repeated window hits the session-cached
      // multi-path relation (r15 — DataFrameReader existence-checks
      // every explicit path, O(#shards) store RPCs per decision
      // otherwise). Measured ~0.1 s isolated; bounded generously.
      val t1 = System.nanoTime()
      val lease2 = router.scanShardedMode(spark, spec, "probe5kshard", zones,
        Seq(ZoneMapPruner.Le("id", 2499.0)), Seq("v"),
        col("id") <= 2499L, ModeCachingOnly)
      val decision2Secs = (System.nanoTime() - t1) / 1e9
      info(f"5k-shard decision (warm): $decision2Secs%.2f s")
      try assert(decision2Secs < 8.0,
        f"warm 5k-shard routing decision took $decision2Secs%.1f s")
      finally lease2.close()
      assert(cache.keys.count(_.region.nonEmpty) <= 2,
        s"maxHotRegions=2 must bind at 5000 shards: ${cache.keys.size}")
      assert(!cache.keys.exists(_.region.isEmpty),
        "no whole-table segment on the sharded path")
      val heatAfter = router.heatKeyCount
      assert(heatAfter < 66000 && heatAfter > 30000,
        s"the heat cap must QUARTER-evict (not clear, not grow): $heatAfter")
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("zone bounds past 2^53 round OUTWARD: strict Gt/Lt lose no rows") {
    // r14 verdict "what's wrong" 1: min/max through cast("double")
    // rounded-to-NEAREST, so a long bound past 2^53 could round INWARD
    // and a strict compare against an exact literal wrongly pruned the
    // shard (silent row loss for snowflake-style 64-bit ids). Fixture:
    //  - shard A holds id 2^53+1 (rounds DOWN to 2^53: the Gt hazard —
    //    `id > 2^53` must keep it);
    //  - shard B holds id 2^53+3 (rounds UP to 2^53+4: the Lt hazard —
    //    `id < 2^53+4` must keep it);
    //  - shard C holds low keys, proving pruning still bites.
    // Both predicates' literals ARE double-exact, so they pass the
    // rangePreds gate and reach mayMatch's strict arms.
    import java.nio.file.Files
    val P53 = 9007199254740992L // 2^53
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-shard-2p53")
    try {
      Files.write(root.resolve("part-a.csv"), s"${P53 + 1}|7\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-b.csv"), s"${P53 + 3}|11\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-c.csv"), "1|13\n2|17\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      def readDir = s.read.schema(schema).option("delimiter", "|")
        .csv(root.toString)
      val zones = ZoneMapPruner.build(readDir, Seq("id"))
      // build-level pin: every stored bound brackets the true value
      zones.foreach { z =>
        val (lo, hi) = z.ranges("id")
        val name = new org.apache.hadoop.fs.Path(z.path).getName
        val trueVals = name match {
          case "part-a.csv" => Seq(P53 + 1)
          case "part-b.csv" => Seq(P53 + 3)
          case _            => Seq(1L, 2L)
        }
        assert(new java.math.BigDecimal(lo)
          .compareTo(java.math.BigDecimal.valueOf(trueVals.min)) <= 0,
          s"$name: stored lo $lo must not exceed true min ${trueVals.min}")
        assert(new java.math.BigDecimal(hi)
          .compareTo(java.math.BigDecimal.valueOf(trueVals.max)) >= 0,
          s"$name: stored hi $hi must not undercut true max ${trueVals.max}")
      }
      // prune-level pin: the strict predicates keep their shards, and
      // pruning still bites on the disjoint low shard
      import graft.sources.ZoneMapPruner.{Gt, Lt}
      val gtKept = ZoneMapPruner.prune(zones, Seq(Gt("id", P53.toDouble)))
        .map(z => new org.apache.hadoop.fs.Path(z.path).getName).toSet
      assert(gtKept.contains("part-a.csv"),
        s"id > 2^53 must keep the shard holding 2^53+1: $gtKept")
      assert(!gtKept.contains("part-c.csv"), "pruning must still bite")
      val ltKept = ZoneMapPruner.prune(zones,
        Seq(Lt("id", (P53 + 4).toDouble)))
        .map(z => new org.apache.hadoop.fs.Path(z.path).getName).toSet
      assert(ltKept.contains("part-b.csv"),
        s"id < 2^53+4 must keep the shard holding 2^53+3: $ltKept")
      // end-to-end through the conf route (persisted sidecar + SET
      // scanMode): strict-compare SQL loses no rows vs the pristine plan
      ShardSummary.write(s, root.toString, ShardSummary.build(s, root.toString,
        TableSpec("ids", "csv", Nil, Some(schema)), Seq("id")))
      readDir.createOrReplaceTempView("ids_2p53")
      def sumOf(sql: String): Seq[Seq[Any]] =
        Engine.executeQuery(s, sfDir, sql).collect().map(_.toSeq).toSeq
      val gtSql = s"SELECT count(*) AS n, sum(v) AS sv FROM ids_2p53 WHERE id > $P53"
      val ltSql = s"SELECT count(*) AS n, sum(v) AS sv FROM ids_2p53 WHERE id < ${P53 + 4}"
      val gtWant = Engine.plan(s, sfDir, gtSql).collect().map(_.toSeq).toSeq
      val ltWant = Engine.plan(s, sfDir, ltSql).collect().map(_.toSeq).toSeq
      assert(gtWant == Seq(Seq(2L, 18L)), s"fixture: $gtWant") // a + b rows
      val cache = HybridScan.segmentCache(s, sfDir)
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        assert(sumOf(gtSql) == gtWant,
          "strict Gt past 2^53 must lose no rows through the conf route")
        assert(sumOf(ltSql) == ltWant,
          "strict Lt past 2^53 must lose no rows through the conf route")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
        cache.invalidateAll()
      }
      // parse-side pin: a summary from ANOTHER tool carrying an exact
      // DECIMAL bound between adjacent doubles must round outward too
      // (fresh dir: overwriting ShardSummary.write's file raw would trip
      // the local filesystem's checksum sidecar)
      val foreign = Files.createTempDirectory("graft-shard-foreign")
      Files.write(foreign.resolve(ShardSummary.FileName),
        s"v=1\tnum=id\tstr=\tbloom=\npart-a.csv\t6\t1\t${P53 + 1},${P53 + 1}\n"
          .getBytes("UTF-8"))
      val reread =
        try ShardSummary.read(s, foreign.toString).get.zones.head
        finally rm(foreign.toFile)
      val (plo, phi) = reread.ranges("id")
      assert(new java.math.BigDecimal(plo)
        .compareTo(java.math.BigDecimal.valueOf(P53 + 1)) <= 0,
        s"parsed lo $plo must round down")
      assert(new java.math.BigDecimal(phi)
        .compareTo(java.math.BigDecimal.valueOf(P53 + 1)) >= 0,
        s"parsed hi $phi must round up")
    } finally {
      rm(root.toFile)
    }
  }
  test("string-typed zone bounds prune a status-sharded layout via conf (v=2 sidecar)") {
    // r15 verdict "what's missing" 1: the zone model was doubles-only, so
    // `WHERE status = 'F'` pruned nothing on a string-sharded layout. The
    // reference prunes on TYPED Scalars including strings (litToScalar on
    // StringLiteral, fpdb-executor/src/physical/prune/PartitionPruner
    // .cpp:100-104). Extraction pin, prune pin, sidecar v=2 round-trip,
    // then the z09 shape end-to-end.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, Literal => CLit}
    import org.apache.spark.sql.types.StringType
    import graft.sources.ZoneMapPruner.{SEq, SGe}
    val a = AttributeReference("st", StringType)()
    val preds = graft.plans.ModeExec.rangePreds(Seq(
      EqualTo(a, CLit.create("F", StringType))))
    assert(preds == Seq(SEq("st", "F")), s"string equality extracts: $preds")
    val ge = graft.plans.ModeExec.rangePreds(Seq(
      org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
        a, CLit.create("M", StringType))))
    assert(ge == Seq(SGe("st", "M")), s"string range extracts: $ge")

    val s = spark.newSession()
    val (spec, summary) = ZoneMapPruner.statusShardedOrders(s, sfDir)
    val zones = summary.zones
    assert(zones.forall(_.strRanges.contains("o_orderstatus")),
      s"string bounds must be in the zone map: $zones")
    assert(zones.forall(_.ranges.contains("o_orderkey")),
      "numeric tiebreaker bounds ride the same sidecar")
    val kept = ZoneMapPruner.prune(zones, Seq(SEq("o_orderstatus", "F")))
    assert(kept.nonEmpty && kept.size < zones.size,
      s"status equality must prune shards: ${kept.size}/${zones.size}")
    // soundness cross-check against the actual shard contents
    val withF = zones.filter { z =>
      val (lo, hi) = z.strRanges("o_orderstatus")
      ZoneMapPruner.utf8Cmp(lo, "F") <= 0 && ZoneMapPruner.utf8Cmp("F", hi) <= 0
    }
    assert(kept.map(_.path).toSet == withF.map(_.path).toSet)

    // summary round-trip: the header declares the string column, and the
    // persisted bounds equal a fresh in-memory build of both kinds
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    val sidecarText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(root,
        ShardSummary.FileName).toUri.getPath)), "UTF-8")
    assert(sidecarText.startsWith("v=1\tnum=o_orderkey\tstr=o_orderstatus\t"),
      s"a string-bearing summary must declare its string column: ${sidecarText.take(60)}")
    val built = ZoneMapPruner.build(graft.sources.Catalog.read(s, spec),
      Seq("o_orderstatus", "o_orderkey"))
    def byName(zs: Seq[graft.sources.ShardZoneMap]) =
      zs.map(z => new org.apache.hadoop.fs.Path(z.path).getName ->
        (z.ranges, z.strRanges)).toMap
    assert(byName(built) == byName(zones),
      "summary round-trip must preserve both bound kinds")

    // end-to-end through the conf route: rows identical, residents only
    // from status-surviving shards
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_statuszone_csv")
    val sql =
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders_statuszone_csv WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "string-pruned conf route must match the pristine plan")
      }
      val regions = cache.keys.filter(_.region.startsWith("shard="))
      assert(regions.nonEmpty,
        s"shard residents expected through the string conf route: ${cache.keys}")
      val names = kept.map(z =>
        "shard=" + new org.apache.hadoop.fs.Path(z.path).getName).toSet
      assert(regions.map(_.region).toSet.subsetOf(names),
        "only status-surviving shards may admit")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("OR-trees prune: a shard survives iff SOME branch's envelope admits it") {
    // r15 verdict "what's missing" 2: rangePreds took top-level conjuncts
    // only, so `k < 10 OR k > 5000` pruned nothing. The reference's
    // pruner recurses through OR and invalidates a partition only when
    // EVERY branch is invalid (PartitionPruner.cpp:70-88).
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
      GreaterThan, LessThan, Literal => CLit, Or}
    import org.apache.spark.sql.types.LongType
    import graft.sources.ZoneMapPruner.{Ge => ZGe, Gt => ZGt, Lt => ZLt,
      OrPred}
    val k = AttributeReference("k", LongType)()
    val k2 = AttributeReference("k2", LongType)()
    val or = Or(LessThan(k, CLit(10L)), GreaterThan(k, CLit(750L)))
    val preds = graft.plans.ModeExec.rangePreds(Seq(or))
    assert(preds == Seq(OrPred(Seq(Seq(ZLt("k", 10.0)), Seq(ZGt("k", 750.0))))),
      s"OR extraction: $preds")
    // a branch with nothing prunable poisons the whole disjunction
    // (it may match anything) — sound refusal, not a partial envelope
    assert(graft.plans.ModeExec.rangePreds(Seq(
      Or(LessThan(k, CLit(10L)), GreaterThan(k, k2)))).isEmpty,
      "an unprunable branch must refuse the whole OR")
    // conjunctions INSIDE branches extract per branch
    val nested = graft.plans.ModeExec.rangePreds(Seq(Or(
      And(GreaterThan(k, CLit(5L)), LessThan(k, CLit(10L))),
      GreaterThan(k, CLit(750L)))))
    assert(nested == Seq(OrPred(Seq(Seq(ZGt("k", 5.0), ZLt("k", 10.0)),
      Seq(ZGt("k", 750.0))))), s"nested AND-in-OR: $nested")

    // prune pin on synthetic contiguous shards: only the edges survive
    val zones8 = (0 until 8).map(i => graft.sources.ShardZoneMap(
      s"part-$i", Map("k" -> (i * 100.0, i * 100.0 + 99.0))))
    val keptNames = ZoneMapPruner.prune(zones8, preds).map(_.path)
    assert(keptNames == Seq("part-0", "part-7"),
      s"k < 10 OR k > 750 must keep exactly the edge shards: $keptNames")

    // end-to-end through the conf route on a real sharded dir
    import java.nio.file.Files
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-shard-or")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      Files.write(root.resolve("part-0.csv"), "1|10\n5|50\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-1.csv"), "100|7\n200|9\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-2.csv"), "800|3\n900|4\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      def readDir = s.read.schema(schema).option("delimiter", "|")
        .csv(root.toString)
      ShardSummary.write(s, root.toString, ShardSummary.build(s, root.toString,
        TableSpec("t_or", "csv", Nil, Some(schema)), Seq("k")))
      readDir.createOrReplaceTempView("t_or")
      val sql = "SELECT count(*) AS n, sum(v) AS sv FROM t_or WHERE k < 10 OR k > 750"
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      assert(expect == Seq(Seq(4L, 67L)), s"fixture: $expect")
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "OR-pruned conf route must match the pristine plan")
      }
      // the middle shard must never have admitted
      val resident = cache.keys.map(_.region).filter(_.startsWith("shard="))
      assert(!resident.contains("shard=part-1.csv"),
        s"the OR-pruned middle shard must never admit: $resident")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("NaN double bounds widen to infinities: NaN-bearing shards are never pruned") {
    // r15 ADVICE (medium): Spark orders NaN ABOVE all values, so max()
    // of a NaN-bearing double column is NaN — and every strict zone
    // compare against a NaN bound is false, pruning a shard whose
    // non-NaN rows match (row loss). NaN bounds widen to the matching
    // infinity at build AND at summary parse.
    import java.nio.file.Files
    import graft.sources.ZoneMapPruner.{Gt => ZGt, Lt => ZLt}
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-shard-nan")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      Files.write(root.resolve("part-a.csv"), "1|NaN\n2|5.0\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-b.csv"), "10|1.0\n11|1.5\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-c.csv"), "20|NaN\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.DoubleType)))
      def readDir = s.read.schema(schema).option("delimiter", "|")
        .csv(root.toString)
      val zones = ZoneMapPruner.build(readDir, Seq("x"))
      val byName = zones.map(z =>
        new org.apache.hadoop.fs.Path(z.path).getName -> z.ranges("x")).toMap
      assert(byName("part-a.csv")._1 == 5.0 &&
        byName("part-a.csv")._2.isPosInfinity,
        s"NaN max must widen to +Inf: ${byName("part-a.csv")}")
      assert(byName("part-c.csv") ==
        (Double.NegativeInfinity, Double.PositiveInfinity),
        s"all-NaN shard widens both ways: ${byName("part-c.csv")}")
      assert(byName("part-b.csv") == (1.0, 1.5), "NaN-free bounds stay tight")
      // `x > 2`: NaN rows MATCH under Spark's ordering (NaN is largest),
      // so both NaN-bearing shards must survive; the low shard prunes
      val kept = ZoneMapPruner.prune(zones, Seq(ZGt("x", 2.0)))
        .map(z => new org.apache.hadoop.fs.Path(z.path).getName).toSet
      assert(kept == Set("part-a.csv", "part-c.csv"), s"kept: $kept")
      // parse-side: a foreign summary carrying literal NaN widens too
      val foreign = Files.createTempDirectory("graft-shard-nan-foreign")
      Files.write(foreign.resolve(ShardSummary.FileName),
        ("v=1\tnum=x\tstr=\tbloom=\npart-a.csv\t12\t1\t5.0,NaN\n" +
          "part-c.csv\t7\t1\tNaN,NaN\n").getBytes("UTF-8"))
      val reread = try ShardSummary.read(s, foreign.toString).get.zones
        finally rm(foreign.toFile)
      val rByName = reread.map(z =>
        new org.apache.hadoop.fs.Path(z.path).getName -> z.ranges("x")).toMap
      assert(rByName("part-a.csv") == (5.0, Double.PositiveInfinity) &&
        rByName("part-c.csv") ==
          (Double.NegativeInfinity, Double.PositiveInfinity),
        s"parsed NaN bounds must widen: $rByName")
      // end-to-end: the conf route returns the NaN rows a pruned plan
      // would have lost (Spark: NaN > 2.0 is TRUE)
      ShardSummary.write(s, root.toString, ShardSummary.build(s, root.toString,
        TableSpec("t_nan", "csv", Nil, Some(schema)), Seq("x")))
      readDir.createOrReplaceTempView("t_nan")
      val sql = "SELECT count(*) AS n, sum(k) AS sk FROM t_nan WHERE x > 2.0"
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      assert(expect == Seq(Seq(3L, 23L)), s"fixture (NaN matches Gt): $expect")
      s.conf.set("spark.graft.scanMode", "hybrid")
      assert(Engine.executeQuery(s, sfDir, sql).collect()
        .map(_.toSeq).toSeq == expect,
        "NaN-bearing shards must not be pruned through the conf route")
      // and the LOW shard still prunes: Lt keeps only part-b
      val keptLt = ZoneMapPruner.prune(zones, Seq(ZLt("x", 2.0)))
        .map(z => new org.apache.hadoop.fs.Path(z.path).getName).toSet
      assert(keptLt == Set("part-b.csv", "part-c.csv"),
        s"Lt keeps the low shard and the conservatively-widened all-NaN: $keptLt")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("prefix predicates (LIKE 'p%') extract and prune string-sharded layouts") {
    // r16: LIKE 'p%' simplifies to StartsWith; SPrefix prunes by BYTE
    // intersection with the zone's string interval (no nextPrefix
    // construction - incrementing a UTF-8 prefix's last byte can make
    // an invalid sequence that cannot round-trip through String).
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      Literal => CLit, StartsWith}
    import org.apache.spark.sql.types.StringType
    import graft.sources.ZoneMapPruner.SPrefix
    val a = AttributeReference("pr", StringType)()
    val preds = graft.plans.ModeExec.rangePreds(Seq(
      StartsWith(a, CLit.create("1-", StringType))))
    assert(preds == Seq(SPrefix("pr", "1-")), s"prefix extraction: $preds")
    // interval intersection pins: [lo,hi] vs prefix range
    def z(lo: String, hi: String) = graft.sources.ShardZoneMap("s",
      Map.empty, Map("pr" -> (lo, hi)))
    assert(!ZoneMapPruner.mayMatch(z("2-HIGH", "5-LOW"), SPrefix("pr", "1-")),
      "a shard entirely above the prefix range must prune")
    assert(!ZoneMapPruner.mayMatch(z("0-A", "0-Z"), SPrefix("pr", "1-")),
      "a shard entirely below the prefix must prune (hi < prefix)")
    assert(ZoneMapPruner.mayMatch(z("0-A", "2-Z"), SPrefix("pr", "1-")),
      "a shard spanning the prefix range must survive")
    assert(ZoneMapPruner.mayMatch(z("1-URGENT", "1-URGENT"), SPrefix("pr", "1-")),
      "a shard of exactly-prefixed values must survive")

    // end-to-end: the priority-sharded fixture through the conf route
    val s = spark.newSession()
    val (spec, summary) = ZoneMapPruner.priorityShardedOrders(s, sfDir)
    val zones = summary.zones
    val kept = ZoneMapPruner.prune(zones, Seq(SPrefix("o_orderpriority", "1-")))
    assert(kept.nonEmpty && kept.size < zones.size,
      s"the prefix must prune shards: ${kept.size}/${zones.size}")
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_priorityzone_csv")
    val sql =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders_priorityzone_csv WHERE o_orderpriority LIKE '1-%'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "prefix-pruned conf route must match the pristine plan")
      }
      val regions = cache.keys.filter(_.region.startsWith("shard="))
      val names = kept.map(zz =>
        "shard=" + new org.apache.hadoop.fs.Path(zz.path).getName).toSet
      assert(regions.map(_.region).toSet.subsetOf(names),
        "only prefix-surviving shards may admit")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("<> prunes single-value shards and IS NOT NULL prunes all-NULL shards") {
    // r16: Not(EqualTo) extracts as Neq/SNeq (a shard whose interval is
    // exactly the excluded value has no matching row - the
    // status/category-sharded shape); IsNotNull extracts as NotNull and
    // rejects the numeric all-NULL empty interval.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, IsNotNull, Literal => CLit, Not}
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.sources.ZoneMapPruner.{Neq => ZNeq, NotNull => ZNotNull,
      SNeq => ZSNeq}
    val a = AttributeReference("st", StringType)()
    val k = AttributeReference("k", LongType)()
    assert(graft.plans.ModeExec.rangePreds(Seq(
      Not(EqualTo(a, CLit.create("F", StringType))))) == Seq(ZSNeq("st", "F")))
    assert(graft.plans.ModeExec.rangePreds(Seq(
      Not(EqualTo(CLit(7L), k)))) == Seq(ZNeq("k", 7.0)))
    assert(graft.plans.ModeExec.rangePreds(Seq(IsNotNull(k))) ==
      Seq(ZNotNull("k")))
    // prune pins
    def zs(lo: String, hi: String) = graft.sources.ShardZoneMap("s",
      Map.empty, Map("st" -> (lo, hi)))
    assert(!ZoneMapPruner.mayMatch(zs("F", "F"), ZSNeq("st", "F")),
      "a single-value shard at the excluded value must prune")
    assert(ZoneMapPruner.mayMatch(zs("F", "O"), ZSNeq("st", "F")),
      "a multi-value shard must survive <>")
    val allNull = graft.sources.ShardZoneMap("n",
      Map("k" -> (Double.PositiveInfinity, Double.NegativeInfinity)))
    assert(!ZoneMapPruner.mayMatch(allNull, ZNotNull("k")),
      "IS NOT NULL must prune the all-NULL empty interval")
    assert(!ZoneMapPruner.mayMatch(allNull, ZNeq("k", 5.0)),
      "<> is null-rejecting: the all-NULL shard prunes")
    assert(ZoneMapPruner.mayMatch(graft.sources.ShardZoneMap("m",
      Map("k" -> (1.0, 9.0))), ZNotNull("k")))

    // end-to-end: the status-sharded fixture, F-shards never admitted
    val s = spark.newSession()
    val (spec, summary) = ZoneMapPruner.statusShardedOrders(s, sfDir)
    val zones = summary.zones
    val kept = ZoneMapPruner.prune(zones, Seq(ZSNeq("o_orderstatus", "F")))
    assert(kept.size < zones.size,
      s"<> must prune the single-status shards: ${kept.size}/${zones.size}")
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_statuszone_csv_neq")
    val sql =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders_statuszone_csv_neq WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "<>-pruned conf route must match the pristine plan")
      }
      val names = kept.map(zz =>
        "shard=" + new org.apache.hadoop.fs.Path(zz.path).getName).toSet
      assert(cache.keys.filter(_.region.startsWith("shard="))
        .map(_.region).toSet.subsetOf(names),
        "only <>-surviving shards may admit")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("a bloom-only directory routes via conf; point lookups prune by membership") {
    // r16: a shard summary with blooms and no zone columns makes
    // hash-bucketed point-lookup pruning deployment-reachable - a plain
    // view + SET scanMode, no library call. Zones are bound-free (a hash
    // layout has no ranges); the equality conjunct prunes by sketch
    // membership.
    val s = spark.newSession()
    val (spec, summary) = BloomPruner.shardedByCustId(s, sfDir)
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    // the persisted summary round-trips (kind + key + per-shard sketches)
    // against a fresh in-memory build
    val blooms = BloomPruner.buildString(graft.sources.Catalog.read(s, spec), "cust_id")
    val Seq(cb) = summary.blooms
    assert(cb.keyCol == "cust_id" && cb.kind == BloomPruner.StringKey)
    assert(summary.zoneCols.isEmpty, "a bloom-only summary carries no zone columns")
    val reread = cb.shards
    assert(reread.map(b => new org.apache.hadoop.fs.Path(b.path).getName).sorted ==
      blooms.map(b => new org.apache.hadoop.fs.Path(b.path).getName).sorted)
    val sampleKeys = Seq("cust-1", "cust-42", "cust-7")
    // compare by URI path: the fixture renders `file:/x`, the sidecar
    // reader's Path(root, name) renders `file:///x` — same file (the
    // production keep-set comparison normalizes the same way)
    def up(p0: String) = new org.apache.hadoop.fs.Path(p0).toUri.getPath
    sampleKeys.foreach { k =>
      assert(BloomPruner.pruneString(reread, k).map(b => up(b.path)).toSet ==
        BloomPruner.pruneString(blooms, k).map(b => up(b.path)).toSet,
        s"round-tripped sketches must prune identically for $k")
    }
    val kept = BloomPruner.pruneString(blooms, "cust-42")
    assert(kept.size < spec.paths.size, "the lookup must prune shards")

    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_bloomstr_csv")
    val sql =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders_bloomstr_csv WHERE cust_id = 'cust-42'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "bloom-pruned conf route must match the pristine plan")
      }
      val names = kept.map(b =>
        "shard=" + new org.apache.hadoop.fs.Path(b.path).getName).toSet
      val regions = cache.keys.filter(_.region.startsWith("shard="))
      assert(regions.nonEmpty,
        s"shard residents expected through the bloom conf route: ${cache.keys}")
      assert(regions.map(_.region).toSet.subsetOf(names),
        "only bloom-surviving shards may admit")
      // a definitely-absent key reads ZERO rows through the route
      val absentSql =
        """SELECT count(*) AS n FROM orders_bloomstr_csv
          |WHERE cust_id = 'cust-nope'""".stripMargin
      assert(Engine.executeQuery(s, sfDir, absentSql).collect()
        .head.getLong(0) == 0L)
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("bloomKeeps: member union for IN/OR, branch veto, cross-key intersection") {
    // r17 (r16 verdict items 2+4) unit pins for the conf route's bloom
    // arm: an OrPred (the shape IN-lists and OR-of-equality extract to)
    // keeps a shard iff SOME member's sketch admits it; a branch with no
    // checkable equality on the column vetoes the whole disjunction for
    // it (that branch could match anywhere); several constrained
    // conjuncts/columns INTERSECT; fractional literals skip the long
    // bloom rather than truncate-mismatch.
    import graft.sources.BloomPruner.{ColumnBlooms, ShardBloom}
    import graft.sources.ZoneMapPruner.{EqTo => ZEq, SEq => ZSEq, Gt => ZGt,
      OrPred => ZOr}
    import org.apache.spark.util.sketch.BloomFilter
    def bfL(keys: Long*): BloomFilter = {
      val b = BloomFilter.create(100); keys.foreach(b.putLong); b
    }
    def bfS(keys: String*): BloomFilter = {
      val b = BloomFilter.create(100)
      keys.foreach(k => b.putLong(BloomPruner.xx64(k))); b
    }
    // 3 shards; long key `ok`: {1,2} | {3,4} | {5,6}; string key `cid`:
    // {a,b} | {c} | {d}
    val paths = Seq("/t/p0", "/t/p1", "/t/p2")
    val okCol = ColumnBlooms("ok", BloomPruner.LongKey, Seq(
      ShardBloom(paths(0), "ok", bfL(1, 2)),
      ShardBloom(paths(1), "ok", bfL(3, 4)),
      ShardBloom(paths(2), "ok", bfL(5, 6))))
    val cidCol = ColumnBlooms("cid", BloomPruner.StringKey, Seq(
      ShardBloom(paths(0), "cid", bfS("a", "b")),
      ShardBloom(paths(1), "cid", bfS("c")),
      ShardBloom(paths(2), "cid", bfS("d"))))
    val cols = Seq(okCol, cidCol)
    import graft.plans.ModeExec.bloomKeeps
    // point equality: one shard
    assert(bloomKeeps(cols, Seq(ZEq("ok", 3.0))) == Some(Set(paths(1))))
    // IN / OR member UNION: ok IN (1, 5) keeps p0 ∪ p2
    assert(bloomKeeps(cols, Seq(ZOr(Seq(Seq(ZEq("ok", 1.0)),
      Seq(ZEq("ok", 5.0)))))) == Some(Set(paths(0), paths(2))))
    // string member union: cid IN ('a','d') keeps p0 ∪ p2
    assert(bloomKeeps(cols, Seq(ZOr(Seq(Seq(ZSEq("cid", "a")),
      Seq(ZSEq("cid", "d")))))) == Some(Set(paths(0), paths(2))))
    // VETO: one branch constrains a column with no bloom — the whole
    // disjunction gives no constraint (it could match anywhere)
    assert(bloomKeeps(cols, Seq(ZOr(Seq(Seq(ZSEq("cid", "a")),
      Seq(ZSEq("other", "x")))))) == None)
    // VETO: a branch whose only conjunct is a non-equality
    assert(bloomKeeps(cols, Seq(ZOr(Seq(Seq(ZEq("ok", 1.0)),
      Seq(ZGt("ok", 4.0)))))) == None)
    // a branch with an extra non-checkable conjunct still constrains
    // via its equality (superset of the branch's true matches — sound)
    assert(bloomKeeps(cols, Seq(ZOr(Seq(Seq(ZEq("ok", 1.0), ZGt("x", 0.0)),
      Seq(ZEq("ok", 5.0)))))) == Some(Set(paths(0), paths(2))))
    // cross-key INTERSECTION: ok=3 ∧ cid='c' → p1; ok=3 ∧ cid='d' → ∅
    assert(bloomKeeps(cols, Seq(ZEq("ok", 3.0), ZSEq("cid", "c")))
      == Some(Set(paths(1))))
    assert(bloomKeeps(cols, Seq(ZEq("ok", 3.0), ZSEq("cid", "d")))
      == Some(Set.empty[String]))
    // fractional literal on a long bloom: skipped (no constraint)
    assert(bloomKeeps(cols, Seq(ZEq("ok", 3.5))) == None)
    // kind mismatch never consults the wrong sketch: a numeric equality
    // on the STRING column's name gives no constraint
    assert(bloomKeeps(cols, Seq(ZEq("cid", 3.0))) == None)
  }

  test("IN-list bloom pruning through the conf route reads only member shards (z15)") {
    // r16 verdict item 2 end-to-end: `cust_id IN ('cust-42','cust-900')`
    // over the hash-bucketed directory keeps a shard iff SOME member's
    // sketch admits it — ≤ 2 of 8 shards — where the zone envelope alone
    // is useless (every shard spans the domain).
    val s = spark.newSession()
    val (spec, summary) = BloomPruner.shardedByCustId(s, sfDir)
    val blooms = summary.blooms.head.shards
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    val members = Seq("cust-42", "cust-900")
    val union = members.flatMap(k =>
      BloomPruner.pruneString(blooms, k).map(b =>
        new org.apache.hadoop.fs.Path(b.path).getName)).toSet
    assert(union.size <= 2 && union.nonEmpty,
      s"two members live in at most two of 8 shards: $union")
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_bloomstr_csv")
    val sql =
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders_bloomstr_csv WHERE cust_id IN ('cust-42', 'cust-900')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "IN-pruned conf route must match the pristine plan")
      }
      val regions = cache.keys.filter(_.region.startsWith("shard="))
      assert(regions.nonEmpty, s"shard residents expected: ${cache.keys}")
      assert(regions.map(_.region).toSet.subsetOf(
        union.map("shard=" + _)),
        s"only member-union shards may admit: ${regions.map(_.region)} vs $union")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("one two-key sidecar prunes on both keys; a conjunction intersects (z16/z17)") {
    // r16 verdict item 4: the shard summary carries a sketch set PER
    // COLUMN; the same directory prunes an o_orderkey lookup AND a
    // cust_id lookup, and a two-key conjunction keeps only the
    // intersection.
    val s = spark.newSession()
    val (spec, summary) = BloomPruner.shardedTwoKey(s, sfDir)
    assert(summary.bloomKeys ==
      Seq(("o_orderkey", BloomPruner.LongKey),
        ("cust_id", BloomPruner.StringKey)))
    val root = new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString
    // the persisted summary round-trips both columns
    val reread = summary.blooms
    assert(reread.map(c => (c.keyCol, c.kind)) == summary.bloomKeys)
    def up(p0: String) = new org.apache.hadoop.fs.Path(p0).toUri.getPath
    // a REAL row's (orderkey, cust) pair: both keys' keeps share its shard
    val row = graft.sources.Catalog.read(s, spec)
      .filter(col("o_orderkey") === 1000L)
      .select(col("cust_id"),
        org.apache.spark.sql.functions.input_file_name()).head()
    val (cust, file) = (row.getString(0), up(row.getString(1)))
    val okKeep = BloomPruner.prune(
      reread.find(_.keyCol == "o_orderkey").get.shards, 1000L)
      .map(b => up(b.path)).toSet
    val cidKeep = BloomPruner.pruneString(
      reread.find(_.keyCol == "cust_id").get.shards, cust)
      .map(b => up(b.path)).toSet
    assert(okKeep.contains(file) && cidKeep.contains(file),
      "both keys' sketches must admit the row's own shard")
    assert(okKeep.size <= 2 && cidKeep.size <= 2,
      s"point lookups keep ~1 of 8 shards: ok=$okKeep cid=$cidKeep")
    // the conjunction intersects (ModeExec.bloomKeeps over the parsed cols)
    import graft.sources.ZoneMapPruner.{EqTo => ZEq, SEq => ZSEq}
    val both = graft.plans.ModeExec.bloomKeeps(reread,
      Seq(ZEq("o_orderkey", 1000.0), ZSEq("cust_id", cust)))
    assert(both == Some(okKeep intersect cidKeep) && both.get.contains(file))
    // end-to-end: the conjunction through the conf route is
    // row-identical and admits only intersection shards
    s.read.schema(spec.schema.get).option("delimiter", "|").csv(root)
      .createOrReplaceTempView("orders_bloom2_csv")
    val sql =
      s"""SELECT count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
         |FROM orders_bloom2_csv
         |WHERE o_orderkey = 1000 AND cust_id = '$cust'""".stripMargin
    val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    assert(expect.head.head == 1L, s"the pair selects its one row: $expect")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "two-key conjunction conf route must match the pristine plan")
      }
      val names = both.get.map(p =>
        "shard=" + new org.apache.hadoop.fs.Path(p).getName)
      val regions = cache.keys.filter(_.region.startsWith("shard="))
      assert(regions.nonEmpty, s"shard residents expected: ${cache.keys}")
      assert(regions.map(_.region).toSet.subsetOf(names),
        s"only intersection shards may admit: ${regions.map(_.region)}")
      // a cross pair that no single shard satisfies both sketches of
      // still returns the right answer (0 rows) — soundness under
      // intersection is the residual's job, pruning only narrows files
      val crossSql =
        """SELECT count(*) AS n FROM orders_bloom2_csv
          |WHERE o_orderkey = 1000 AND cust_id = 'cust-nope'""".stripMargin
      assert(Engine.executeQuery(s, sfDir, crossSql).collect()
        .head.getLong(0) == 0L)
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("Sink.compact and mergeInto regenerate the bloom sidecar their swap destroys") {
    // r16 verdict item 1: compact/mergeInto swap the WHOLE directory —
    // without the rebloom hook a bloom-bucketed table silently loses
    // its sketches (not even drift: just gone) after every maintenance
    // op, verbatim the §22.5 zone hazard. The reference regenerates
    // partition metadata with the data (`Partition.h:23-41`).
    import java.nio.file.Files
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-compact-bloom")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      val table = root.resolve("t").toString
      graft.sources.Tables.orders(s, sfDir)
        .select(col("o_orderkey"),
          concat(lit("cust-"), col("o_custkey")).as("cust_id"),
          col("o_totalprice"))
        .repartition(4, col("cust_id"))
        .write.parquet(table)
      ShardSummary.rebuild(s, table, parquetAt(table), Nil,
        Seq("o_orderkey" -> BloomPruner.LongKey,
          "cust_id" -> BloomPruner.StringKey))
      def view(): Unit = s.read.parquet(table)
        .createOrReplaceTempView("orders_compact_bloom")
      view()
      val sql =
        """SELECT count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
          |FROM orders_compact_bloom WHERE cust_id = 'cust-7'""".stripMargin
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      assert(expect.head.head.asInstanceOf[Long] > 0L, s"fixture: $expect")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      def partNames() = fs.globStatus(
        new org.apache.hadoop.fs.Path(table, "part-*"))
        .map(_.getPath.getName).toSet
      def sidecarNamesAndKeys() = {
        val re = ShardSummary.read(s, table)
        assert(re.isDefined, "shard summary must exist")
        (re.get.zones.map(z => new org.apache.hadoop.fs.Path(z.path)
          .getName).toSet, re.get.bloomKeys)
      }
      s.conf.set("spark.graft.scanMode", "hybrid")
      try {
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sql).collect()
            .map(_.toSeq).toSeq == expect, "pre-compact conf route")
        }
        assert(cache.keys.exists(_.region.startsWith("shard=")),
          "fixture: pre-compact route must produce shard residents")
        cache.invalidateAll()
        val (nBefore, nAfter) = graft.sources.Sink.compact(s, table)
        assert(nBefore == 4 && nAfter >= 1, s"compact: $nBefore -> $nAfter")
        // the sidecar must exist again, NAME the new file set, and keep
        // BOTH key columns with their kinds
        val (names1, keys1) = sidecarNamesAndKeys()
        assert(names1 == partNames(),
          "the regenerated bloom sidecar must match the compacted file set")
        assert(keys1 == Seq(("o_orderkey", BloomPruner.LongKey),
          ("cust_id", BloomPruner.StringKey)),
          s"both keys must survive the compact: $keys1")
        view()
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sql).collect()
            .map(_.toSeq).toSeq == expect, "post-compact conf route")
        }
        assert(cache.keys.exists(_.region.startsWith("shard=")),
          s"post-compact route must still produce shard residents: ${cache.keys}")
        cache.invalidateAll()
        // mergeInto: same discipline through the OTHER maintenance swap
        val one = s.read.parquet(table).filter(col("cust_id") === "cust-7")
          .limit(1).collect().head
        val updates = s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(
            one.getAs[Long]("o_orderkey"), "cust-7",
            one.getAs[Double]("o_totalprice") + 1.0)),
          s.read.parquet(table).schema)
        graft.sources.Sink.mergeInto(s, table, updates,
          key = "o_orderkey", orderCol = "o_totalprice")
        val (names2, keys2) = sidecarNamesAndKeys()
        assert(names2 == partNames() && keys2 == keys1,
          "mergeInto must regenerate the bloom sidecar over its new files")
        view()
        val after = Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq
        assert(after.head.head == expect.head.head &&
          after.head(1).asInstanceOf[Double] >
            expect.head(1).asInstanceOf[Double],
          s"post-merge route must see the update: $after vs $expect")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("bloom drift is counted and ShardSummary.rebuild restores membership pruning") {
    // the bloom side of the drift/rebuild contract: a new shard
    // lands without a rebuild → the leaf is unrouted (correct, counted,
    // warned with the repair name); one ShardSummary.rebuild call (one
    // distributed pass, tmp+rename, writer-invalidation hooks) brings
    // membership pruning back.
    import java.nio.file.Files
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-bloom-rebuild")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      Files.write(root.resolve("part-0.csv"), "1|10\n2|20\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-1.csv"), "5|50\n6|60\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      val template = graft.sources.TableSpec("t_bloomrebuild", "csv", Nil,
        Some(schema), "|")
      def readDir = s.read.schema(schema).option("delimiter", "|")
        .csv(root.toString)
      ShardSummary.rebuild(s, root.toString, template, Nil,
        Seq("k" -> BloomPruner.LongKey))
      Files.write(root.resolve("part-2.csv"), "9|90\n".getBytes("UTF-8"))
      HybridScan.invalidateListings(root.toString)
      s.catalog.refreshByPath(root.toString)
      readDir.createOrReplaceTempView("t_bloomrebuild")
      val sql = "SELECT sum(v) AS sv FROM t_bloomrebuild WHERE k = 9"
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      assert(expect == Seq(Seq(90L)), s"fixture: $expect")
      val drift0 = ShardSummary.driftCount
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        assert(Engine.executeQuery(s, sfDir, sql).collect()
          .map(_.toSeq).toSeq == expect,
          "a drifted bloom leaf must stay row-identical (unrouted) — " +
          "NOT lose the unlisted shard's rows")
        assert(ShardSummary.driftCount == drift0 + 1,
          s"bloom drift must count once: ${ShardSummary.driftCount - drift0}")
        assert(!cache.keys.exists(_.region.startsWith("shard=")),
          s"drifted bloom leaf must be unrouted: ${cache.keys}")
        val cols = ShardSummary.rebuild(s, root.toString, template, Nil,
          Seq("k" -> BloomPruner.LongKey)).blooms
        assert(cols.head.shards.size == 3, s"rebuild must cover all shards")
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sql).collect()
            .map(_.toSeq).toSeq == expect, "rebuilt bloom leaf must match")
        }
        val regions = cache.keys.filter(_.region.startsWith("shard="))
        assert(regions.nonEmpty && regions.map(_.region).toSet
          .subsetOf(Set("shard=part-2.csv")),
          s"rebuilt sidecar must restore membership pruning: ${cache.keys}")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }


  test("a shard rewritten in place under the same name is drift: oracle rows, leaf unrouted") {
    // the summary records each shard's (length, mtime): a same-name
    // rewrite that puts rows OUTSIDE the recorded bounds must not be
    // pruned by its stale bounds (a name-only check routed it and
    // silently dropped the new rows)
    import java.nio.file.Files
    val s = spark.newSession()
    val (spec, _) = ZoneMapPruner.shardedOrders(s, sfDir)
    val root = Files.createTempDirectory("graft-shard-rewrite")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      TempDirs.copyFiles(new org.apache.hadoop.fs.Path(spec.paths.head).getParent.toString, root)
      def view(): Unit = s.read.schema(spec.schema.get).option("delimiter", "|")
        .csv(root.toString).createOrReplaceTempView("orders_rewritten")
      def rows(sql: String, routed: Boolean) =
        (if (routed) Engine.executeQuery(s, sfDir, sql) else Engine.plan(s, sfDir, sql))
          .collect().map(_.toSeq).toSeq
      val low = "SELECT count(*) AS n FROM orders_rewritten WHERE o_orderkey <= 1000"
      val high = """SELECT count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders_rewritten WHERE o_orderkey >= 900000""".stripMargin
      s.conf.set("spark.graft.scanMode", "hybrid")
      try {
        view()
        (1 to 3).foreach(_ => assert(rows(low, routed = true) == rows(low, routed = false)))
        assert(cache.keys.exists(_.region.startsWith("shard=")),
          s"fixture: the copy must route per shard before the rewrite: ${cache.keys}")
        // rewrite the first shard in place: same name, one extra row far
        // above every recorded bound, and an explicit later mtime
        val shard = root.resolve(new org.apache.hadoop.fs.Path(spec.paths.head).getName)
        val mtime = Files.getLastModifiedTime(shard).toMillis
        Files.write(shard, "999999|1|123.45|X\n".getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.APPEND)
        Files.setLastModifiedTime(shard,
          java.nio.file.attribute.FileTime.fromMillis(mtime + 5000))
        view()
        val expect = rows(high, routed = false)
        assert(expect == Seq(Seq(1L, 123.45)), s"oracle: $expect")
        val router = HybridScan.sessionRouter(s, sfDir)
        val (drift0, decisions0) = (ShardSummary.driftCount, router.decisionsTotal)
        assert(rows(high, routed = true) == expect,
          "a same-name rewrite must not be pruned by its stale bounds")
        assert(ShardSummary.driftCount == drift0 + 1,
          s"the rewrite must count as drift once: ${ShardSummary.driftCount - drift0}")
        assert(router.decisionsTotal == decisions0,
          "the drifted leaf must be left unrouted")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("a directory with only a legacy zone sidecar is drift: oracle rows, no shard segments") {
    // earlier releases' sidecars carry no length or mtime, so they are
    // never routed on; the directory counts as drift until a rebuild
    import java.nio.file.Files
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-shard-legacy")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      Files.write(root.resolve("part-0.csv"), "1|10\n2|20\n".getBytes("UTF-8"))
      Files.write(root.resolve("part-1.csv"), "5|50\n6|60\n".getBytes("UTF-8"))
      Files.write(root.resolve("_graft_zonemap"),
        "v=1\npart-0.csv\tk=1.0,2.0\npart-1.csv\tk=5.0,6.0\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq("k", "v").map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.LongType)))
      s.read.schema(schema).option("delimiter", "|").csv(root.toString)
        .createOrReplaceTempView("t_legacy")
      val sql = "SELECT count(*) AS n, sum(v) AS sv FROM t_legacy WHERE k <= 5"
      val expect = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
      assert(expect == Seq(Seq(3L, 80L)), s"fixture: $expect")
      val drift0 = ShardSummary.driftCount
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        assert(Engine.executeQuery(s, sfDir, sql).collect().map(_.toSeq).toSeq == expect)
        assert(ShardSummary.driftCount == drift0 + 1,
          s"a legacy-only directory counts as drift once: ${ShardSummary.driftCount - drift0}")
        assert(!cache.keys.exists(_.region.startsWith("shard=")),
          s"a legacy-only directory must be left unrouted: ${cache.keys}")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("Sink.compact keeps a string-only zone summary: the conf route still prunes on it") {
    // the rebuild after the swap must carry STRING zone columns too; a
    // summary with only string columns used to be dropped with the swap
    import java.nio.file.Files
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft-compact-strzone")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      val table = root.resolve("t").toString
      graft.sources.Tables.orders(s, sfDir)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(4, col("o_orderstatus"))
        .write.parquet(table)
      ShardSummary.rebuild(s, table, parquetAt(table), Seq("o_orderstatus"))
      graft.sources.Sink.compact(s, table)
      val summary = ShardSummary.read(s, table)
      assert(summary.map(_.strCols) == Some(Seq("o_orderstatus")),
        s"compact must rebuild the string zone column: $summary")
      s.read.parquet(table).createOrReplaceTempView("orders_compact_strzone")
      def sqlOf(v: String) =
        s"SELECT count(*) AS n FROM orders_compact_strzone WHERE o_orderstatus = '$v'"
      val router = HybridScan.sessionRouter(s, sfDir)
      try {
        s.conf.set("spark.graft.scanMode", "hybrid")
        (1 to 3).foreach { _ =>
          assert(Engine.executeQuery(s, sfDir, sqlOf("F")).collect().map(_.toSeq).toSeq ==
            Engine.plan(s, sfDir, sqlOf("F")).collect().map(_.toSeq).toSeq)
        }
        assert(cache.keys.exists(_.region.startsWith("shard=")),
          s"the compacted table must still route per shard: ${cache.keys}")
        assert(Engine.executeQuery(s, sfDir, sqlOf("Z")).collect().head.getLong(0) == 0L)
        assert(router.decisions.last._4.contains("all shards zone-pruned"),
          s"a status outside every shard's bounds must prune: ${router.decisions.last}")
      } finally {
        try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      }
    } finally {
      cache.invalidateAll()
      rm(root.toFile)
    }
  }

  test("a maintenance op whose summary rebuild fails still fires the writer hook") {
    // the swap already replaced the files: listings and Spark's caches
    // must learn it even when the summary cannot be rebuilt
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-compact-hook")
    try {
      val table = graft.sources.Tables.path(root.toString, "t")
      spark.range(0, 40).repartition(4).write.parquet(table)
      // a summary naming a column the table does not have: its rebuild throws
      Files.write(java.nio.file.Paths.get(table, ShardSummary.FileName),
        "v=1\tnum=\tstr=\tbloom=missing:long\n".getBytes("UTF-8"))
      val mark0 = graft.sources.Tables.writeMark(root.toString, "t")
      intercept[Exception](graft.sources.Sink.compact(spark, table))
      assert(graft.sources.Tables.writeMark(root.toString, "t") > mark0,
        "Tables.wrote must run although the rebuild failed")
      assert(spark.read.parquet(table).count() == 40L, "the compacted table is in place")
    } finally rm(root.toFile)
  }

  test("a second session resolves the sharded fixtures with no Spark job") {
    // the first session builds (or finds) each fixture's summary; later
    // sessions read it through the memoized reader instead of re-running
    // the zone/bloom aggregation
    ZoneMapPruner.shardedOrders(spark, sfDir)
    BloomPruner.shardedTwoKey(spark, sfDir)
    val s2 = spark.newSession()
    val ((orders, twoKey), jobs) = jobsDuring(
      (ZoneMapPruner.shardedOrders(s2, sfDir), BloomPruner.shardedTwoKey(s2, sfDir)))
    assert(jobs == 0, s"a second session ran $jobs job(s) resolving the fixtures")
    assert(orders._1.paths.size == 8 && orders._2.zones.size == 8)
    assert(twoKey._2.blooms.map(_.keyCol) == Seq("o_orderkey", "cust_id"))
  }
}
