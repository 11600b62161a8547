package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.cache.{HybridScan, LRU, SegmentCache}
import graft.cache.HybridScan.{AdaptiveScanRouter, ModeCachingOnly, ModeHybrid,
  ModePullup, ModePushdownOnly, ScanMode}
import graft.operators.SsbCorpus
import graft.plans.ModeExec
import graft.TempDirs.rm

/** Whole-suite mode comparison — the reference's `HybridTest.cpp` /
  * `exec.conf` Mode discipline run over graft's SSB corpus: every query
  * must return identical rows under PULLUP / PUSHDOWN_ONLY /
  * CACHING_ONLY / HYBRID, with each mode's plan signature verified. */
class ModeExecSpec extends SparkSpec {

  // every fresh router's cache is invalidated when the suite ends: the
  // hot-admission loop can persist segments mid-query (e.g. h11 scans
  // partsupp twice), and a leaked persisted scan would be substituted
  // into later suites' plan-equal queries session-wide (CacheManager)
  private val routerCaches = scala.collection.mutable.Buffer.empty[SegmentCache]
  private def freshRouter(slots: Int = 8): AdaptiveScanRouter = {
    val cache = new SegmentCache(1L << 30, LRU)
    synchronized { routerCaches += cache }
    new AdaptiveScanRouter(cache, pushdownSlots = slots)
  }
  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    try super.withFixture(test)
    finally synchronized {
      routerCaches.foreach(_.invalidateAll()); routerCaches.clear()
    }
  }

  /** Rows sorted deterministically (group keys are unique per row, so
    * doubles never decide the order). Compared with a relative tolerance
    * on doubles: a mode changes partitioning and therefore double-sum
    * accumulation ORDER — bit-identity is not the contract, row identity
    * up to float associativity is. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.map {
      case d: java.lang.Double => f"${d.doubleValue}%.3f"
      case x => String.valueOf(x)
    }.mkString("|"))

  private def assertRowsEqual(got: Seq[Seq[Any]], want: Seq[Seq[Any]],
      label: String): Unit = {
    assert(got.size == want.size, s"$label: ${got.size} rows vs ${want.size}")
    got.zip(want).foreach { case (g, w) =>
      g.zip(w).foreach {
        case (a: java.lang.Double, b: java.lang.Double) =>
          val tol = 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
          assert(math.abs(a - b) <= tol, s"$label: $a vs $b in row $g vs $w")
        case (a, b) =>
          assert(String.valueOf(a) == String.valueOf(b), s"$label: $a vs $b in $g vs $w")
      }
    }
  }

  test("all 13 SSB queries are row-identical under all four modes") {
    for (name <- SsbCorpus.names) {
      val sql = SsbCorpus.sql(name)
      val expect = rows(Engine.executeQuery(spark, sfDir, sql))
      for (mode <- ScanMode.all) {
        val router = freshRouter()
        val got = ModeExec.runQueryMode(spark, sfDir, sql, mode, router)(rows)
        assertRowsEqual(got, expect, s"SSB $name under ${mode.name}")
      }
    }
  }

  test("pullup mode: every leaf pulls up, nothing is cached, reader pushdown off") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    val prev = spark.conf.get("spark.sql.parquet.filterPushdown")
    assert(prev == "true")
    ModeExec.runQueryMode(spark, sfDir, SsbCorpus.sql("1_1"), ModePullup, router) { df =>
      // the mode bracket disables the parquet reader's predicate
      // evaluation — the reference's "raw bytes up" semantics (the
      // PushedFilters METADATA still prints; the conf governs execution)
      assert(spark.conf.get("spark.sql.parquet.filterPushdown") == "false")
      df.collect()
    }
    assert(spark.conf.get("spark.sql.parquet.filterPushdown") == prev,
      "mode bracket must restore the session conf")
    assert(router.pullups > 0 && router.pushdowns == 0 && router.hybrids == 0,
      s"pullup mode must route every leaf pullup: pu=${router.pullups} pd=${router.pushdowns}")
    assert(cache.keys.isEmpty,
      s"pullup mode must not admit segments, resident=${cache.keys}")
  }

  test("pushdown mode: predicates reach storage, slots leased and released") {
    val router = freshRouter(slots = 8)
    ModeExec.runQueryMode(spark, sfDir, SsbCorpus.sql("1_1"), ModePushdownOnly, router) { df =>
      assert(router.availableSlots < 8,
        "leaf leases must hold pushdown slots during execution")
      df.collect()
      // the lineitem leaf carries its discount/quantity range into the
      // scan (formatted explain: AQE wraps the tree, so grep the string)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pushedLines = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
      assert(pushedLines.contains("l_discount"),
        s"pushdown mode must push the lineitem predicate to storage:\n$pushedLines")
    }
    assert(router.availableSlots == 8, "slots must be released after the mode run")
    assert(router.pushdowns > 0 && router.pullups == 0)
  }

  test("caching mode: cold run loads segments, warm run serves them resident") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    val sql = SsbCorpus.sql("1_3")
    val cold = ModeExec.runQueryMode(spark, sfDir, sql, ModeCachingOnly, router)(rows)
    assert(router.pullups > 0 && router.pushdowns == 0,
      s"cold caching run must load (pullup), pu=${router.pullups} pd=${router.pushdowns}")
    val warmRouter = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    val warm = ModeExec.runQueryMode(spark, sfDir, sql, ModeCachingOnly, warmRouter) { df =>
      val r = rows(df)
      assert(df.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        "warm caching run must serve leaf segments from the cache")
      r
    }
    assert(warmRouter.cacheOnlys > 0 && warmRouter.pullups == 0,
      s"warm caching run must be cache-only, co=${warmRouter.cacheOnlys} pu=${warmRouter.pullups}")
    assertRowsEqual(cold, warm, "caching cold vs warm")
    cache.invalidateAll()
  }

  test("hybrid mode: a real SSB query routes Hybrid from a partial segment") {
    val cache = new SegmentCache(1L << 30, LRU)
    // partial ordinal segment: 3 of the 4 lineitem columns Q1.1 needs
    HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = None, cache = cache).count()
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    val sql = SsbCorpus.sql("1_1")
    val expect = rows(Engine.executeQuery(spark, sfDir, sql))
    val got = ModeExec.runQueryMode(spark, sfDir, sql, ModeHybrid, router)(rows)
    assertRowsEqual(got, expect, "hybrid mode Q1.1")
    assert(router.hybrids >= 1,
      s"lineitem leaf must route Hybrid from the partial segment, " +
      s"hy=${router.hybrids} pd=${router.pushdowns} pu=${router.pullups} co=${router.cacheOnlys}")
    assert(router.pushdowns >= 1,
      "the uncovered orders leaf should take a pushdown slot")
    cache.invalidateAll()
  }

  test("all 22 TPC-H queries run row-identical under all four modes") {
    import graft.operators.TpchCorpus
    // the reference's `TPCHBench.cpp` discipline: its ENTIRE primary
    // corpus under every Mode.h mode, not a structural sample (r12,
    // was h01/h04/h06/h11/h17). This is exactly where leaf rewriting
    // could mis-route: h04/h21/h22 correlated EXISTS, h02/h11/h16 the
    // derived-partsupp session artifact (a checkpointed leaf — left
    // alone, its SIBLING scans must still route), h15 the revenue CTE
    // read twice, h17/h20 correlated scalar subqueries
    for (i <- TpchCorpus.ids) {
      val sql = TpchCorpus.sql(i)
      val expect = rows(Engine.executeQuery(spark, sfDir, sql))
      for (mode <- ScanMode.all) {
        val router = freshRouter()
        val got = ModeExec.runQueryMode(spark, sfDir, sql, mode, router)(rows)
        assertRowsEqual(got, expect, s"TPC-H q$i under ${mode.name}")
        assert(router.pushdowns + router.pullups + router.cacheOnlys + router.hybrids > 0,
          s"q$i under ${mode.name}: no leaf was routed at all")
      }
    }
  }

  test("compareModes reports a (mode, pass) row with seconds and the route mix") {
    val qs = Seq("1_1" -> SsbCorpus.sql("1_1"), "1_2" -> SsbCorpus.sql("1_2"))
    val raw = ModeExec.compareModes(spark, sfDir, qs,
      prime = Map("lineitem" -> Seq("l_extendedprice", "l_discount", "l_quantity")))
      .collect()
    // on a non-store scheme the byte column is NULL, never a fake zero
    assert(raw.forall(_.isNullAt(7)), "store_mb must be null on file:")
    val rep = raw.map(r => (r.getString(0), r.getString(1), r.getDouble(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rep.length == 6, s"4 modes, stateful ones twice: ${rep.toSeq}")
    assert(rep.forall(_._3 > 0), s"every pass must take measurable time: ${rep.toSeq}")
    // stateless modes: one pure-route pass
    val pu = rep.find(_._1 == "pullup").get
    assert(pu._2 == "single" && pu._5 > 0 && pu._4 == 0 && pu._6 == 0 && pu._7 == 0, s"$pu")
    val pd = rep.find(_._1 == "pushdown").get
    assert(pd._4 > 0 && pd._5 == 0 && pd._6 == 0 && pd._7 == 0, s"$pd")
    // caching: cold loads (pullup-routed), warm serves everything resident
    val cw = rep.find(r => r._1 == "caching" && r._2 == "warm").get
    assert(cw._6 > 0 && cw._4 == 0 && cw._5 == 0, s"$cw")
    // hybrid: the primed PARTIAL lineitem segment must zip in both passes
    val hw = rep.find(r => r._1 == "hybrid" && r._2 == "warm").get
    assert(hw._7 > 0, s"primed partial segment must produce a Hybrid route: $hw")
  }

  test("explainRoutes reports per-leaf decisions with reasons") {
    val cache = new SegmentCache(1L << 30, LRU)
    // a partial lineitem ordinal segment left by "prior workload"
    HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = None, cache = cache)
    val r = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    val rep = ModeExec.explainRoutes(spark, sfDir, SsbCorpus.sql("1_1"),
      ModeHybrid, Some(r)).collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2), x.getString(3)))
    assert(rep.nonEmpty)
    val li = rep.find(_._1 == "lineitem").get
    assert(li._3 == "Hybrid" && li._4.contains("partial segment") &&
      li._4.contains("fetching"), s"$li")
    assert(rep.filter(_._1 != "lineitem").forall(_._3 == "Pushdown"),
      s"segment-free leaves must push down: ${rep.toSeq}")
    // pullup mode explains itself on every leaf
    val pu = ModeExec.explainRoutes(spark, sfDir, SsbCorpus.sql("1_1"),
      ModePullup, Some(freshRouter())).collect()
    assert(pu.nonEmpty && pu.forall(x =>
      x.getString(2) == "Pullup" && x.getString(3).contains("mode=pullup")))
    cache.invalidateAll()
  }

  test("the spark.graft.scanMode conf routes every engine query") {
    val sql = SsbCorpus.sql("1_3")
    val expect = rows(Engine.executeQuery(spark, sfDir, sql)) // conf unset: pristine
    val cache = HybridScan.segmentCache(spark, sfDir)
    try {
      spark.conf.set("spark.graft.scanMode", "caching")
      val got = rows(Engine.executeQuery(spark, sfDir, sql))
      assertRowsEqual(got, expect, "conf-routed caching")
      assert(cache.keys.nonEmpty,
        "the conf route must admit segments into the session cache")
      val r = HybridScan.sessionRouter(spark, sfDir)
      assert(r.pullups + r.cacheOnlys > 0, "the session router must have routed")
      // second run: resident segments serve, rows unchanged — and the
      // SAME long-lived router accumulates the history
      val again = rows(Engine.executeQuery(spark, sfDir, sql))
      assertRowsEqual(again, expect, "warm conf-routed caching")
      assert(r.cacheOnlys > 0, "warm pass must serve cache-resident")
      // a bad mode value fails loudly at submission, not silently pristine
      spark.conf.set("spark.graft.scanMode", "nonsense")
      intercept[IllegalArgumentException] {
        Engine.executeQuery(spark, sfDir, sql)
      }
    } finally {
      spark.conf.unset("spark.graft.scanMode")
      cache.invalidateAll()
    }
  }

  test("conf-mode hybrid warms across engine queries via the session router") {
    val cache = HybridScan.segmentCache(spark, sfDir)
    val sql = SsbCorpus.sql("2_1")
    val expect = rows(Engine.plan(spark, sfDir, sql)) // raw path, conf-immune
    val r = HybridScan.sessionRouter(spark, sfDir)
    val co0 = r.cacheOnlys
    try {
      spark.conf.set("spark.graft.scanMode", "hybrid")
      // the admission ladder ACROSS separate engine submissions: misses
      // route pushdown, the repeat admits, the third serves resident —
      // possible only because the router (and its counters) outlive the
      // individual query
      for (_ <- 1 to 3)
        assertRowsEqual(rows(Engine.executeQuery(spark, sfDir, sql)), expect,
          "conf-routed hybrid")
      assert(r.cacheOnlys > co0,
        s"the session router must serve resident segments by the third run " +
        s"(pd=${r.pushdowns} pu=${r.pullups} co=${r.cacheOnlys} hy=${r.hybrids})")
      assert(cache.keys.nonEmpty, "warming must land in the shared session cache")
    } finally {
      spark.conf.unset("spark.graft.scanMode")
      cache.invalidateAll()
    }
  }

  test("conf-mode routes a PARTITIONED leaf per partition: days resident, never the table") {
    // r12 verdict item 1: dm12 proved the per-partition router; this
    // pins that the DEPLOYMENT path reaches it — SET
    // spark.graft.scanMode=hybrid + Engine.executeQuery over a user
    // view of the day-partitioned events copy, no dedicated API call.
    // The reference wires per-partition modes inside its plan
    // transformer for every query (PrePToS3PTransformer.cpp:197-460);
    // graft's equivalent transformer is the conf-mode leaf rewrite.
    val s = spark.newSession()
    val path = graft.sources.Layout.partitionedEvents(s, sfDir)
    s.read.parquet(path).createOrReplaceTempView("events_by_day")
    def sqlOf(hi: String) =
      s"""SELECT event_type, count(*) AS n
         |FROM events_by_day
         |WHERE day BETWEEN DATE '2024-01-06' AND DATE '$hi'
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    val expect = rows(Engine.plan(s, sfDir, sqlOf("2024-01-10")))
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      // the per-DAY admission ladder across engine submissions: miss →
      // heat (admit on the second access) → resident on the third
      for (_ <- 1 to 3)
        assertRowsEqual(rows(Engine.executeQuery(s, sfDir, sqlOf("2024-01-10"))),
          expect, "conf-routed per-partition hybrid")
      val regions = cache.keys.filter(_.region.nonEmpty)
      assert(regions.nonEmpty,
        "per-day segments must be resident through the conf route " +
        "(days_resident > 0)")
      assert(regions.forall(_.region.startsWith("day=")),
        s"regions must be day-keyed: ${regions.map(_.region)}")
      assert(!cache.keys.exists(_.region.isEmpty),
        "NO whole-table segment may be admitted on the partitioned path " +
        s"(table_segments must be 0): ${cache.keys}")
      // a wider window through the same conf route: hot days cache-side,
      // cold days the partition-pruned complement — route Hybrid
      val expectWide = rows(Engine.plan(s, sfDir, sqlOf("2024-01-16")))
      assertRowsEqual(rows(Engine.executeQuery(s, sfDir, sqlOf("2024-01-16"))),
        expectWide, "hot+cold span through the conf route")
      val r = HybridScan.sessionRouter(s, sfDir)
      assert(r.hybrids > 0,
        s"the wide span must route Hybrid (pd=${r.pushdowns} " +
        s"pu=${r.pullups} co=${r.cacheOnlys} hy=${r.hybrids})")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("conf-mode routes a partitioned CSV leaf per partition (declared schema)") {
    // r13 verdict item 2, conf-route leg: a user view over a
    // hive-partitioned CSV table (declared schema — the reference's
    // catalogue carries column types) reached via SET
    // spark.graft.scanMode=hybrid + Engine.executeQuery must route per
    // DAY like the parquet twin, never admit a whole-table segment.
    val s = spark.newSession()
    val path = graft.sources.Layout.partitionedEventsCsv(s, sfDir)
    val schema = org.apache.spark.sql.types.StructType(
      graft.sources.Tables.events(s, sfDir).schema :+
        org.apache.spark.sql.types.StructField("day",
          org.apache.spark.sql.types.DateType))
    s.read.schema(schema).option("header", "true").csv(path)
      .createOrReplaceTempView("events_by_day_csv")
    def sqlOf(hi: String) =
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
         |FROM events_by_day_csv
         |WHERE day BETWEEN DATE '2024-01-06' AND DATE '$hi'
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    val expect = rows(Engine.plan(s, sfDir, sqlOf("2024-01-10")))
    assert(expect.nonEmpty, "fixture must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      for (_ <- 1 to 3)
        assertRowsEqual(rows(Engine.executeQuery(s, sfDir, sqlOf("2024-01-10"))),
          expect, "conf-routed per-partition CSV hybrid")
      val regions = cache.keys.filter(_.region.nonEmpty)
      assert(regions.nonEmpty,
        "per-day CSV segments must be resident through the conf route")
      assert(regions.forall(_.region.startsWith("day=")),
        s"regions must be day-keyed: ${regions.map(_.region)}")
      assert(!cache.keys.exists(_.region.isEmpty),
        s"NO whole-table segment on the partitioned CSV path: ${cache.keys}")
      // hot+cold span stays row-identical and routes Hybrid
      val expectWide = rows(Engine.plan(s, sfDir, sqlOf("2024-01-16")))
      assertRowsEqual(rows(Engine.executeQuery(s, sfDir, sqlOf("2024-01-16"))),
        expectWide, "hot+cold CSV span through the conf route")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("conf-mode routes partitioned JSONL and ORC leaves per partition too") {
    // the other two partitionedLeaf format arms (r14): JSONL re-reads
    // under the relation's declared schema like CSV; ORC self-describes
    // like parquet. Same contract as the CSV pin: rows identical to the
    // pristine plan, per-day segments, never a whole-table one.
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-fmt-leaves")
    try {
      Seq("json", "orc").foreach { fmt =>
        val s = spark.newSession()
        val out = root.resolve(fmt).toString
        graft.sources.Tables.events(s, sfDir)
          .withColumn("day", org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("ts")))
          .select("event_type", "value", "day", "ts")
          .write.partitionBy("day").format(fmt).save(out)
        val view = s"events_by_day_$fmt"
        val reader =
          if (fmt == "orc") s.read.format(fmt)
          else s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("day",
              org.apache.spark.sql.types.DateType)))).format(fmt)
        reader.load(out).createOrReplaceTempView(view)
        val sql =
          s"""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
             |FROM $view
             |WHERE day BETWEEN DATE '2024-01-06' AND DATE '2024-01-09'
             |GROUP BY event_type ORDER BY event_type""".stripMargin
        val expect = rows(Engine.plan(s, sfDir, sql))
        assert(expect.nonEmpty, s"fixture must select rows ($fmt)")
        val cache = HybridScan.segmentCache(s, sfDir)
        try {
          s.conf.set("spark.graft.scanMode", "hybrid")
          for (_ <- 1 to 3)
            assertRowsEqual(rows(Engine.executeQuery(s, sfDir, sql)),
              expect, s"conf-routed per-partition $fmt hybrid")
          val regions = cache.keys.filter(_.region.nonEmpty)
          assert(regions.nonEmpty && regions.forall(_.region.startsWith("day=")),
            s"$fmt: per-day segments expected, got ${cache.keys}")
          assert(!cache.keys.exists(_.region.isEmpty),
            s"$fmt: no whole-table segment on the partitioned path")
        } finally {
          try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
          cache.invalidateAll()
        }
      }
    } finally {
      rm(root.toFile)
    }
  }

  test("a cached FILTERED frame over a partitioned table keeps its filter under conf-mode") {
    // r13 review (second pass): CacheManager substitutes an
    // InMemoryRelation into any plan-equal subtree, and the IMR leaf
    // arms substitute a FRESH routed table scan — row-identical only
    // for a bare (possibly projected) full-table scan. A user-cached
    // day-filtered frame mis-detected as a bare leaf would silently
    // return the filtered-out days. bareCachedScan must leave it alone.
    val s = spark.newSession()
    val path = graft.sources.Layout.partitionedEvents(s, sfDir)
    s.read.parquet(path).createOrReplaceTempView("events_by_day")
    val sql = "SELECT count(*) AS n FROM events_by_day " +
      "WHERE day = DATE '2024-01-05'"
    val want = Engine.plan(s, sfDir, sql).collect().map(_.toSeq).toSeq
    // same text as the query's FROM/WHERE so the filtered subtree is
    // plan-equal by construction (CacheManager matches canonicalized
    // analyzed plans)
    val cached = s.sql(
      "SELECT * FROM events_by_day WHERE day = DATE '2024-01-05'")
    cached.cache()
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      // the cached frame must actually be substituted into the query's
      // plan for the pin to bite — otherwise the test passes vacuously
      val substituted = Engine.plan(s, sfDir, sql)
        .queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
      assert(substituted,
        "fixture: the cached filtered frame must substitute into the plan")
      s.conf.set("spark.graft.scanMode", "hybrid")
      val got = Engine.executeQuery(s, sfDir, sql).collect().map(_.toSeq).toSeq
      assert(got == want,
        s"a cached filtered frame must keep its filter: $got vs $want")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cached.unpersist(blocking = true)
      cache.invalidateAll()
    }
  }

  test("a cached COMPUTED projection shadowing a column name is left unrouted") {
    // r13 ADVICE (high): a node-type-only bare-scan guard admitted any
    // ProjectExec — a user-cached `SELECT -value AS value ...` (computed
    // alias SHADOWING a column name) passed, and the IMR substitution
    // re-selects columns BY NAME from a fresh routed scan, silently
    // returning the raw column instead of the computed value. The guard
    // must require plain (or identity-aliased) column references and
    // leave every other cached projection to the IMR.
    val s = spark.newSession()
    val path = graft.sources.Layout.partitionedEvents(s, sfDir)
    s.read.parquet(path).createOrReplaceTempView("events_by_day")
    val inner = "SELECT -value AS value, event_type FROM events_by_day"
    val sql = s"""SELECT event_type,
      |  CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
      |FROM ($inner) GROUP BY event_type ORDER BY event_type""".stripMargin
    val want = rows(Engine.plan(s, sfDir, sql))
    assert(want.nonEmpty, "fixture: the negated aggregate must select rows")
    val cached = s.sql(inner)
    cached.cache()
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      val substituted = Engine.plan(s, sfDir, sql)
        .queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
      assert(substituted,
        "fixture: the cached computed projection must substitute into the plan")
      s.conf.set("spark.graft.scanMode", "hybrid")
      val got = rows(Engine.executeQuery(s, sfDir, sql))
      assertRowsEqual(got, want,
        "a cached computed projection must keep its computation " +
        "(raw column silently substituted for the negated one)")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cached.unpersist(blocking = true)
      cache.invalidateAll()
    }
  }

  test("a cached BARE partitioned scan still routes per partition (IMR arm)") {
    // the positive side of bareCachedScan: when some actor persisted a
    // plain full-table read of the partitioned table, the CacheManager
    // substitutes the IMR into every plan-equal scan — and the mode
    // discipline must still see THROUGH it to route per partition
    // (the flat-table version of this was measured the hard way; the
    // guard above must not have scoped it away)
    val s = spark.newSession()
    val path = graft.sources.Layout.partitionedEvents(s, sfDir)
    s.read.parquet(path).createOrReplaceTempView("events_by_day")
    val bare = s.read.parquet(path)
    bare.cache()
    val cache = HybridScan.segmentCache(s, sfDir)
    def sqlOf(d: String) =
      s"SELECT count(*) AS n FROM events_by_day WHERE day = DATE '$d'"
    try {
      // the bare cached frame substitutes into the UNFILTERED leaf under
      // the query's Filter (the filter stays a separate node above it)
      val substituted = Engine.plan(s, sfDir, sqlOf("2024-01-07"))
        .queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
      assert(substituted, "fixture: the bare cached frame must substitute")
      val want = Engine.plan(s, sfDir, sqlOf("2024-01-07"))
        .collect().map(_.toSeq).toSeq
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach { _ =>
        val got = Engine.executeQuery(s, sfDir, sqlOf("2024-01-07"))
          .collect().map(_.toSeq).toSeq
        assert(got == want, "routed rows must match the pristine plan")
      }
      assert(cache.keys.exists(_.region.nonEmpty),
        "the IMR-wrapped partitioned leaf must still earn per-day " +
        s"admission through the conf route: ${cache.keys}")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      bare.unpersist(blocking = true)
      cache.invalidateAll()
    }
  }

  test("conf-mode routes a MIXED plan: partitioned leaf and catalog leaf together") {
    // the two detectors coexist in one optimized plan: the partitioned
    // view's leaf routes per partition (region-keyed segments) while the
    // catalog table's leaf walks the whole-table admission ladder — and
    // rows stay identical to the pristine plan at every rung
    val s = spark.newSession()
    val path = graft.sources.Layout.partitionedEvents(s, sfDir)
    s.read.parquet(path).createOrReplaceTempView("events_by_day")
    val sql =
      """SELECT c_mktsegment, count(*) AS n
        |FROM events_by_day e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.day BETWEEN DATE '2024-01-06' AND DATE '2024-01-09'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    val want = rows(Engine.plan(s, sfDir, sql))
    assert(want.nonEmpty, "fixture: the join must select rows")
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      s.conf.set("spark.graft.scanMode", "hybrid")
      (1 to 3).foreach(_ => assertRowsEqual(
        rows(Engine.executeQuery(s, sfDir, sql)), want, "mixed conf-mode"))
      assert(cache.keys.exists(_.region.nonEmpty),
        s"the partitioned leaf must admit per-day segments: ${cache.keys}")
      assert(cache.keys.exists(_.region.isEmpty),
        s"the catalog leaf must admit a whole-table segment: ${cache.keys}")
    } finally {
      try s.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("shell \\mode and \\routes drive the session knob") {
    val cache = HybridScan.segmentCache(spark, sfDir)
    try {
      assert(Shell.runStatement(spark, sfDir, "\\mode"), "bare \\mode prints state")
      assert(Shell.runStatement(spark, sfDir, "\\mode caching"))
      assert(spark.conf.get("spark.graft.scanMode") == "caching")
      assert(!Shell.runStatement(spark, sfDir, "\\mode nonsense"),
        "a bad mode must report an error, not silently pass")
      assert(Shell.runStatement(spark, sfDir, "\\routes " + SsbCorpus.sql("1_3")),
        "\\routes must run under the session's current mode")
      assert(Shell.runStatement(spark, sfDir, "\\cache"),
        "\\cache prints the session cache/router counters")
      assert(Shell.runStatement(spark, sfDir, "\\mode off"))
      assert(spark.conf.getOption("spark.graft.scanMode").isEmpty)
    } finally {
      try spark.conf.unset("spark.graft.scanMode") catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("shell \\sweep runs the four-mode comparison at the prompt") {
    val out = new java.io.ByteArrayOutputStream
    val ok = Console.withOut(new java.io.PrintStream(out))(
      Shell.runStatement(spark, sfDir,
        "\\sweep SELECT count(*) AS n FROM nation"))
    assert(ok, s"\\sweep failed: ${out.toString.takeRight(500)}")
    val printed = out.toString
    ScanMode.all.foreach(m => assert(printed.contains(m.name),
      s"report must carry a ${m.name} row:\n$printed"))
    assert(printed.contains("warm"),
      "stateful modes must report their warm pass")
  }

  test("dm06/dm07/dm08 entries equal their b-corpus twins") {
    val pairs = Seq(
      "dm06_mode_pullup"  -> "1_2",
      "dm07_mode_caching" -> "1_3",
      "dm08_mode_hybrid"  -> "1_1")
    for ((entry, ssb) <- pairs) {
      val got = rows(ModeExec.queries(entry)(spark, sfDir))
      val want = rows(Engine.executeQuery(spark, sfDir, SsbCorpus.sql(ssb)))
      assertRowsEqual(got, want, s"$entry vs SSB $ssb")
    }
  }

  test("mode brackets serialize per session: no bracket sees another mode's conf") {
    // runQueryMode toggles a SESSION-GLOBAL conf for pullup semantics —
    // concurrent brackets must be serialized, or a pushdown-mode run
    // executes with reader pushdown disabled / the restore races. The
    // actions only READ the conf (planning, no execution): the assertion
    // is about bracket isolation, not query speed.
    val prev = spark.conf.get("spark.sql.parquet.filterPushdown")
    val r = freshRouter(slots = 64)
    val sql = SsbCorpus.sql("1_1")
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    def loop(mode: ScanMode, expect: String): Runnable = () =>
      (1 to 5).foreach { _ =>
        ModeExec.runQueryMode(spark, sfDir, sql, mode, r) { _ =>
          if (spark.conf.get("spark.sql.parquet.filterPushdown") != expect)
            bad.incrementAndGet()
        }
      }
    val t1 = new Thread(loop(ModePullup, "false"))
    val t2 = new Thread(loop(ModePushdownOnly, prev))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(bad.get == 0, s"${bad.get} brackets observed another mode's conf")
    assert(spark.conf.get("spark.sql.parquet.filterPushdown") == prev,
      "the conf must restore to its pre-bracket value")
  }
}
