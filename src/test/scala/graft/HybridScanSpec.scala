package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._
import graft.cache.{HybridScan, LRU, SegmentCache, SegmentKey}
import graft.cache.HybridScan.{AdaptiveScanRouter, Pullup, Pushdown}
import graft.sources.Tables
import graft.TempDirs.rm

/** Hybrid cache/storage execution: the MergeKernel ordinal zip and the
  * AdaptPushdownManager admission contract (reference
  * `fpdb-executor/src/physical/merge/MergeKernel.cpp`,
  * `fpdb-store-server/src/flight/AdaptPushdownManager.cpp`). */
class HybridScanSpec extends SparkSpec {

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private val q6Pred =
    "l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'"

  test("ordinal zip is exact: merged rows equal the plain predicate scan") {
    val cache = new SegmentCache(1L << 30, LRU)
    val merged = HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = Some(expr(q6Pred)),
      cache = cache)
    val plain = Tables.lineitem(spark, sfDir).filter(expr(q6Pred))
      .select("l_extendedprice", "l_discount", "l_quantity", "l_shipdate")
    assert(merged.count() == plain.count())
    // value-exact, not just cardinality: both sides keyed by full row
    val cols = plain.columns.map(col)
    assert(merged.select(cols: _*).exceptAll(plain).isEmpty &&
      plain.exceptAll(merged.select(cols: _*)).isEmpty,
      "merged hybrid rows must be the plain scan's rows, bag-equal")
  }

  test("dm02 hybrid Q6 equals the pushdown-only Q6") {
    val hybrid = HybridScan.queries("dm02_hybrid_merge")(spark, sfDir)
    val plain = spark.sql(
      s"""SELECT sum(l_extendedprice * l_discount) AS revenue
         |FROM parquet.`$sfDir/lineitem.parquet`
         |WHERE $q6Pred AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
         |""".stripMargin)
    val h = hybrid.collect().head.getDouble(0)
    val p = plain.collect().head.getDouble(0)
    assert(math.abs(h - p) < 1e-6, s"hybrid=$h plain=$p")
  }

  test("storage fetch is column-pruned to the missing column and predicate-pushed") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan tree
      val cache = new SegmentCache(1L << 30, LRU)
      val merged = HybridScan.mergedScan(spark, sfDir, "lineitem",
        cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
        fetchCols = Seq("l_shipdate"), fetchPredicate = Some(expr(q6Pred)),
        cache = cache)
      merged.count() // warm: admits + persists the segment
      assert(cache.keys.contains(HybridScan.ordinalKey("lineitem",
        HybridScan.listingFingerprint(spark, sfDir, "lineitem"),
        Seq("l_extendedprice", "l_discount", "l_quantity"))), "segment must be resident")
      val plan = merged.queryExecution.executedPlan
      // exactly one LIVE parquet scan: the fetch side (the cached side is
      // an InMemoryTableScan leaf — its build-time scan is not re-run)
      val scans = plan.collect { case f: FileSourceScanExec => f }
      assert(scans.length == 1,
        s"expected 1 storage scan after warm, got ${scans.length}:\n${plan.toString.take(3000)}")
      assert(plan.toString.contains("InMemoryTableScan"),
        s"cached side must serve from the segment cache:\n${plan.toString.take(3000)}")
      // the surviving scan reads ONLY l_shipdate (+ row-index metadata)
      // and pushes the date range into the reader
      val dataCols = scans.head.requiredSchema.fieldNames.filterNot(_.startsWith("_")).toSet
      assert(dataCols == Set("l_shipdate"),
        s"fetch ReadSchema must be pruned to l_shipdate, got $dataCols")
      val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("l_shipdate") &&
        (pushed.contains("GreaterThanOrEqual") || pushed.contains("GreaterThan")),
        s"date range must reach the storage scan, PushedFilters=$pushed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("selective fetch broadcasts: zero cached bytes move through an Exchange") {
    val cache = new SegmentCache(1L << 30, LRU)
    val merged = HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = Some(expr(q6Pred)),
      cache = cache)
    merged.count()
    val plan = fmt(merged)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"small pushdown result should broadcast into the zip:\n${plan.take(3000)}")
  }

  test("segment is admitted once and hit on re-plan (cache accounting)") {
    val cache = new SegmentCache(1L << 30, LRU)
    def scan() = HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = Some(expr(q6Pred)),
      cache = cache)
    scan().count(); scan().count()
    assert(cache.misses == 1 && cache.hits == 1,
      s"hits=${cache.hits} misses=${cache.misses}")
  }

  test("many-file zip: no per-file literal map in the plan, thin-exchange shape holds") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.catalyst.expressions.CreateMap
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = Files.createTempDirectory("hybrid-manyfile").toString
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // 64 part files — the regime where the r9 literal file-id map meant
      // a CreateMap with 128+ literal children growing with file count
      Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
        .repartition(64).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val cache = new SegmentCache(1L << 30, LRU)
      val merged = HybridScan.mergedScan(spark, dir, "lineitem",
        cachedCols = Seq("l_quantity", "l_extendedprice"),
        fetchCols = Seq("l_shipdate"), fetchPredicate = None, cache = cache)
      merged.count()
      // the zip key is the metadata path itself: NO literal map anywhere
      val hasMap = merged.queryExecution.optimizedPlan
        .collect { case p => p.expressions }.flatten
        .exists(e => e.collectFirst { case m: CreateMap => m }.isDefined)
      assert(!hasMap, "zip must not build a per-file literal CreateMap")
      // and the scale shape survives: only the thin fetch side exchanges
      val plan = merged.queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1,
        s"expected exactly one Exchange at 64 files, got ${exchanges.length}")
      assert(exchanges.head.collectFirst { case f: FileSourceScanExec => f }.isDefined,
        "the sole Exchange must sit over the storage fetch")
      // and the zip is still positionally exact
      val plain = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_quantity", "l_extendedprice", "l_shipdate")
      val cols = plain.columns.map(col)
      assert(merged.select(cols: _*).exceptAll(plain).isEmpty &&
        plain.exceptAll(merged.select(cols: _*)).isEmpty)
      cache.invalidateAll()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      rm(Paths.get(dir).toFile)
    }
  }

  test("an in-place same-name rewrite misses the fingerprinted segment") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Files.createTempDirectory("hybrid-inplace")
    try {
      val stageA = root.resolve("stageA"); val stageB = root.resolve("stageB")
      val table = root.resolve("t.parquet"); Files.createDirectories(table)
      spark.range(100).selectExpr("id", "id * 2 as v")
        .coalesce(1).write.parquet(stageA.toString)
      spark.range(40).selectExpr("id", "id * 3 as v")
        .coalesce(1).write.parquet(stageB.toString)
      def firstPart(p: java.nio.file.Path) =
        Files.list(p).filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      // the part file keeps the SAME NAME across both generations — only
      // its bytes (length, mtime) change, the hazard ADVICE flagged
      val dst = table.resolve("part-00000.parquet")
      Files.copy(firstPart(stageA), dst, StandardCopyOption.REPLACE_EXISTING)
      val cache = new SegmentCache(1L << 30, LRU)
      def sum() = HybridScan.mergedScan(spark, root.toString, "t",
          cachedCols = Seq("id"), fetchCols = Seq("v"),
          fetchPredicate = None, cache = cache)
        .agg(org.apache.spark.sql.functions.sum("v")).collect().head.getLong(0)
      assert(sum() == (0L until 100L).map(_ * 2).sum && cache.misses == 1)
      Files.copy(firstPart(stageB), dst, StandardCopyOption.REPLACE_EXISTING)
      assert(sum() == (0L until 40L).map(_ * 3).sum,
        "post-rewrite read must reflect the new bytes, not a stale zip")
      assert(cache.misses == 2,
        s"same-name content change must miss the (path,len,mtime) fingerprint, misses=${cache.misses}")
      cache.invalidateAll()
    } finally {
      rm(root.toFile)
    }
  }

  test("router lists the table exactly once per routing decision") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 1)
    val pred = expr(q6Pred)
    // warm a partial ordinal segment so the NEXT scan takes the hybrid
    // route — the worst case, which used to pay 3-4 listings (fingerprint
    // + two ordinal scans + the router's residency check)
    HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = Some(pred),
      cache = cache).count()
    HybridScan.refreshListings(spark) // deterministic first-touch (r12 cache)
    val before = HybridScan.listingCalls.get()
    val lease = router.scan(spark, sfDir, "lineitem",
      Seq("l_extendedprice", "l_discount", "l_quantity", "l_shipdate"), pred)
    lease.close()
    assert(lease.route == HybridScan.Hybrid)
    val delta = HybridScan.listingCalls.get() - before
    assert(delta == 1, s"hybrid routing must list once, listed $delta times")
  }

  test("a conf-mode workload lists each table once per SESSION, not per query") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    HybridScan.refreshListings(spark)
    val before = HybridScan.listingCalls.get()
    // six routing decisions over two tables — the r11 verdict's
    // scale-killer shape was one LIST per decision per query
    (1 to 3).foreach { i =>
      router.scan(spark, sfDir, "lineitem",
        Seq("l_extendedprice", "l_discount"),
        expr(s"l_quantity < ${10 + i}")).close()
      router.scan(spark, sfDir, "orders",
        Seq("o_orderpriority", "o_orderdate"),
        expr(s"o_orderkey % ${7 + i} = 0")).close()
    }
    val delta = HybridScan.listingCalls.get() - before
    assert(delta == 2,
      s"6 routing decisions over 2 tables must pay 2 listings, paid $delta")
    cache.invalidateAll()
  }

  test("spark.graft.cacheDirectListings opts direct mergedScan callers into the session cache") {
    // default OFF: direct callers list fresh every call (the in-place-
    // rewrite staleness spec's contract); a deployment on an object
    // store can opt in and stop paying a paged LIST per query (r12
    // verdict stretch item) — accepting the conf route's REFRESH
    // contract for external writers
    val s = spark.newSession()
    val cache = new SegmentCache(1L << 30, LRU)
    def merge(): Unit = HybridScan.mergedScan(s, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = None,
      cache = cache).count()
    try {
      HybridScan.refreshListings(s)
      val b0 = HybridScan.listingCalls.get()
      merge(); merge()
      val fresh = HybridScan.listingCalls.get() - b0
      assert(fresh == 2, s"default must list per call, listed $fresh")
      s.conf.set("spark.graft.cacheDirectListings", "true")
      val b1 = HybridScan.listingCalls.get()
      merge(); merge()
      val cached = HybridScan.listingCalls.get() - b1
      assert(cached == 1,
        s"opt-in must list once per (session, table), listed $cached")
    } finally {
      try s.conf.unset("spark.graft.cacheDirectListings")
      catch { case _: Throwable => () }
      cache.invalidateAll()
    }
  }

  test("graft's own writers invalidate the session listing cache") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("listing-inval")
    try {
      val table = root.resolve("t.parquet").toString
      spark.range(100).selectExpr("id", "id * 2 as v")
        .repartition(4).write.parquet(table)
      val fp1 = HybridScan.listPathSession(spark, table).fingerprint
      val before = HybridScan.listingCalls.get()
      assert(HybridScan.listPathSession(spark, table).fingerprint == fp1 &&
        HybridScan.listingCalls.get() == before,
        "second touch must serve the cached listing")
      graft.sources.Sink.compact(spark, table, targetBytes = 1L << 30)
      val fp2 = HybridScan.listPathSession(spark, table).fingerprint
      assert(HybridScan.listingCalls.get() == before + 1,
        "compact must invalidate: next touch re-lists")
      assert(fp2 != fp1, "the re-listed fingerprint must see the compacted layout")
    } finally {
      rm(root.toFile)
    }
  }

  test("invalidation matches scheme-insensitively: a file:-rendered writer drops a bare-path listing") {
    import java.nio.file.Files
    // Dedup/Similarity writers render locations as java.net URIs
    // ('file:/x') while routers cache bare '/x' keys — the r12 review
    // found the invalidation silently matching nothing across that pair
    val root = Files.createTempDirectory("listing-scheme")
    try {
      val table = root.resolve("t.parquet").toString
      spark.range(10).write.parquet(table)
      HybridScan.listPathSession(spark, table) // cached under bare path
      val before = HybridScan.listingCalls.get()
      HybridScan.invalidateListings(s"file:$table") // writer's rendering
      HybridScan.listPathSession(spark, table)
      assert(HybridScan.listingCalls.get() == before + 1,
        "a file:-scheme invalidation must drop the bare-path cache entry")
    } finally {
      rm(root.toFile)
    }
  }

  test("refreshListings is the REFRESH TABLE analog for external rewrites") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Files.createTempDirectory("listing-refresh")
    try {
      val table = root.resolve("t.parquet").toString
      spark.range(50).selectExpr("id").coalesce(1).write.parquet(table)
      val fp1 = HybridScan.listPathSession(spark, table).fingerprint
      // EXTERNAL write the cache cannot see: documented trust contract —
      // the cached listing keeps serving until an explicit refresh
      spark.range(80).selectExpr("id").coalesce(1)
        .write.mode("append").parquet(table)
      assert(HybridScan.listPathSession(spark, table).fingerprint == fp1,
        "an un-refreshed session serves the cached listing (trust contract)")
      HybridScan.refreshListings(spark)
      assert(HybridScan.listPathSession(spark, table).fingerprint != fp1,
        "refreshListings must force a fresh listing")
    } finally {
      rm(root.toFile)
    }
  }

  test("router admits pushdown while a slot is leased, falls back to pullup when saturated") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 1)
    val pred = expr("o_orderdate >= date '1996-07-01' and o_orderdate < date '1996-10-01'")
    val cols = Seq("o_orderpriority", "o_orderdate")

    val leasePush = router.scan(spark, sfDir, "orders", cols, pred)
    assert(leasePush.route == Pushdown)
    assert(router.availableSlots == 0, "the lease must HOLD the slot until closed")

    // the slot is held by the open lease — a second request is saturated
    // and must take the pullup route, returning identical rows
    val leasePull = router.scan(spark, sfDir, "orders", cols, pred)
    assert(leasePull.route == Pullup, "saturated store must route to pullup")
    assert(leasePull.df.count() == leasePush.df.count(),
      "routes must be result-identical")
    leasePull.close()
    leasePush.close()
    assert(router.availableSlots == 1, "closing the lease must release the slot")
    leasePush.close() // idempotent
    assert(router.availableSlots == 1, "double-close must not double-release")

    // slot free again — but the pullup fallback admitted the segment, so
    // the best route is now the cache, not the store
    val lease3 = router.scan(spark, sfDir, "orders", cols, pred)
    lease3.close()
    assert(lease3.route == HybridScan.CacheOnly,
      s"resident segment must outrank a free pushdown slot, got ${lease3.route}")
    assert(router.pushdowns == 1 && router.pullups == 1 && router.cacheOnlys == 1,
      s"pushdowns=${router.pushdowns} pullups=${router.pullups} cacheOnlys=${router.cacheOnlys}")
  }

  test("N parallel scans over a 1-slot router admit exactly one pushdown") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 1)
    val pred = expr("o_orderdate >= date '1996-07-01'")
    val cols = Seq("o_orderpriority")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val start = new CountDownLatch(1)
      val leases = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[HybridScan.ScanLease] {
          override def call(): HybridScan.ScanLease = {
            start.await(30, TimeUnit.SECONDS)
            router.scan(spark, sfDir, "orders", cols, pred)
          }
        })
      }
      start.countDown()
      val resolved = leases.map(_.get(60, TimeUnit.SECONDS))
      // no lease closed yet: concurrent planners must NOT all see a free
      // store (the r9 tryAcquire-release admission theater)
      assert(router.pushdowns == 1,
        s"exactly one concurrent scan may win the slot, got ${router.pushdowns}")
      assert(resolved.map(_.route).count(_ == Pushdown) == 1)
      resolved.foreach(_.close())
      assert(router.availableSlots == 1)
    } finally pool.shutdownNow()
  }

  test("pullup segment key is canonical: projection order shares one segment") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 0) // force pullup
    val pred = expr("o_orderdate >= date '1996-07-01'")
    val a = router.scan(spark, sfDir, "orders", Seq("o_orderpriority", "o_orderdate"), pred)
    a.close()
    assert(a.route == Pullup)
    val b = router.scan(spark, sfDir, "orders", Seq("o_orderdate", "o_orderpriority"), pred)
    b.close()
    assert(b.route == HybridScan.CacheOnly,
      s"reversed projection must hit the canonical segment, got ${b.route}")
    assert(cache.keys.length == 1,
      s"one column set must admit ONE segment, got ${cache.keys}")
    assert(b.df.columns.toSeq == Seq("o_orderdate", "o_orderpriority"),
      "requested projection order must be preserved in the output")
  }

  test("execute releases the slot on failure") {
    val router = new AdaptiveScanRouter(new SegmentCache(1L << 30, LRU), pushdownSlots = 1)
    val pred = expr("o_orderdate >= date '1996-07-01'")
    intercept[RuntimeException] {
      router.execute(spark, sfDir, "orders", Seq("o_orderpriority"), pred)(_ =>
        throw new RuntimeException("boom"))
    }
    assert(router.availableSlots == 1, "slot must be released on exception")
  }

  test("non-broadcast zip: only the thin fetch side exchanges, cached bytes stay put") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // no broadcast (force a distribution decision) and no AQE (static tree)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cache = new SegmentCache(1L << 30, LRU)
      val merged = HybridScan.mergedScan(spark, sfDir, "lineitem",
        cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
        fetchCols = Seq("l_shipdate"), fetchPredicate = None, // non-selective: shuffled zip
        cache = cache)
      merged.count() // materialize the pre-partitioned segment
      val plan = merged.queryExecution.executedPlan
      // THE 100 TB claim: the segment was persisted already partitioned by
      // the ordinal join key, so EnsureRequirements re-shuffles ONLY the
      // fetched side — the wide cached columns never cross the wire again
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1,
        s"expected exactly one Exchange (fetch side), got ${exchanges.length}:\n${plan.toString.take(3000)}")
      assert(exchanges.head.collectFirst { case f: FileSourceScanExec => f }.isDefined,
        s"the sole Exchange must sit over the storage fetch:\n${plan.toString.take(3000)}")
      assert(plan.collectFirst {
        case e: ShuffleExchangeExec if e.toString.contains("InMemoryTableScan") => e
      }.isEmpty, "cached segment must not re-shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("route lattice: cache-only beats hybrid beats pushdown beats pullup") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 1)
    val pred = expr(q6Pred)
    val want = Seq("l_extendedprice", "l_discount", "l_quantity", "l_shipdate")

    // nothing resident, slot free → pushdown (close: return the slot)
    val l0 = router.scan(spark, sfDir, "lineitem", want, pred)
    l0.close()
    assert(l0.route == Pushdown)

    // warm a PARTIAL ordinal segment → hybrid: resident columns from
    // cache, only l_shipdate fetched, predicate pushed (it references
    // only the fetched column)
    HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_shipdate"), fetchPredicate = Some(pred),
      cache = cache).count()
    val l1 = router.scan(spark, sfDir, "lineitem", want, pred)
    l1.close()
    val (dfHybrid, r1) = (l1.df, l1.route)
    assert(r1 == HybridScan.Hybrid, s"partial ordinal segment must route hybrid, got $r1")
    val plain = Tables.lineitem(spark, sfDir).filter(pred)
      .select(want.map(col): _*)
    assert(dfHybrid.count() == plain.count())
    assert(dfHybrid.exceptAll(plain).isEmpty && plain.exceptAll(dfHybrid).isEmpty,
      "hybrid route must return the plain scan's rows")

    // full coverage resident → cache-only even with zero slots
    val starved = new AdaptiveScanRouter(cache, pushdownSlots = 0)
    val sub = Seq("l_extendedprice", "l_quantity")
    val l2 = starved.scan(spark, sfDir, "lineitem", sub, expr("l_quantity < 24"))
    l2.close()
    val (dfCache, r2) = (l2.df, l2.route)
    assert(r2 == HybridScan.CacheOnly, s"resident superset must serve cache-only, got $r2")
    val plainSub = Tables.lineitem(spark, sfDir)
      .filter(expr("l_quantity < 24")).select(sub.map(col): _*)
    assert(dfCache.count() == plainSub.count())

    // a MIXED predicate pushes at conjunct granularity: the date range
    // (fetched column only) executes at storage, the quantity conjunct
    // (cached column) filters after the zip — same rows either way
    val mixedPred = expr(s"$q6Pred and l_quantity < 24")
    val l3 = router.scan(spark, sfDir, "lineitem", want, mixedPred)
    l3.close()
    val (dfMixed, r3) = (l3.df, l3.route)
    assert(r3 == HybridScan.Hybrid)
    assert(dfMixed.count() ==
      Tables.lineitem(spark, sfDir).filter(mixedPred).count())
    val pushedLines = fmt(dfMixed).linesIterator
      .filter(_.contains("PushedFilters")).toSeq
    assert(pushedLines.exists(_.contains("l_shipdate")),
      s"the fetch-column conjunct must push to storage:\n${pushedLines.mkString("\n")}")
    assert(!pushedLines.exists(_.contains("l_quantity")),
      s"the cached-column conjunct cannot push (the fetch scan has no such column):\n${pushedLines.mkString("\n")}")

    assert(router.pushdowns == 1 && router.hybrids == 2 &&
      starved.cacheOnlys == 1,
      s"pd=${router.pushdowns} hy=${router.hybrids} co=${starved.cacheOnlys}")
  }

  test("predicate on a column outside the projection still routes correctly") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 0) // saturated
    val pred = expr("l_quantity < 24") // NOT in the projection
    val cols = Seq("l_extendedprice", "l_discount")
    // pullup must load a segment wide enough to evaluate the predicate,
    // then project it away
    val lp1 = router.scan(spark, sfDir, "lineitem", cols, pred)
    lp1.close()
    val (df1, r1) = (lp1.df, lp1.route)
    assert(r1 == Pullup)
    assert(df1.columns.toSeq == cols)
    val expect = Tables.lineitem(spark, sfDir).filter(pred).count()
    assert(df1.count() == expect)
    // second request: the widened segment now covers projection+predicate
    val lp2 = router.scan(spark, sfDir, "lineitem", cols, pred)
    lp2.close()
    val (df2, r2) = (lp2.df, lp2.route)
    assert(r2 == HybridScan.CacheOnly, s"widened segment must serve cache-only, got $r2")
    assert(df2.count() == expect && df2.columns.toSeq == cols)
  }

  test("partition hybrid: storage side lists only the uncached matching days") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val path = graft.sources.Layout.partitionedEvents(spark, sfDir)
      val cache = new SegmentCache(1L << 30, LRU)
      val region = col("day") <= lit("2024-01-15").cast("date")
      val pred = col("day") >= lit("2024-01-08").cast("date") &&
        col("day") <= lit("2024-01-22").cast("date")
      val hybrid = HybridScan.partitionHybridScan(spark, path,
        Seq("event_type", "value", "day"), region, "spec-evday", pred, cache)
      hybrid.count() // warm the resident region
      // result parity with a plain scan of the same partitioned copy
      val plain = spark.read.parquet(path).filter(pred)
        .select("event_type", "value", "day")
      assert(hybrid.count() == plain.count())
      assert(hybrid.exceptAll(plain).isEmpty && plain.exceptAll(hybrid).isEmpty,
        "partition hybrid must be row-identical to the plain scan")
      // the storage side lists exactly the 7 uncached days in range
      // (01-16..01-22) of the 30 directories; the cached 8 come from the
      // segment (InMemoryTableScan). Metrics fill only when THIS
      // dataset's own plan executes — count()/exceptAll build new plans
      hybrid.collect()
      val plan = hybrid.queryExecution.executedPlan
      val parts = plan.collect {
        case f: FileSourceScanExec => f.metrics("numPartitions").value
      }.sum
      assert(parts == 7, s"storage side listed $parts partitions, expected 7:\n${plan.toString.take(2500)}")
      assert(plan.toString.contains("InMemoryTableScan"),
        "cached region must serve from the segment cache")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("a table layout change misses the segment instead of mis-zipping") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("hybrid-layout").toString
    try {
      // layout A: 2 part files
      val base = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      base.repartition(2).write.mode("overwrite")
        .parquet(s"$dir/lineitem.parquet")
      val cache = new SegmentCache(1L << 30, LRU)
      def merged() = HybridScan.mergedScan(spark, dir, "lineitem",
        cachedCols = Seq("l_quantity"), fetchCols = Seq("l_extendedprice"),
        fetchPredicate = None, cache = cache)
      val sumA = merged().agg(sum(col("l_extendedprice") * col("l_quantity")))
        .collect().head.getDouble(0)
      assert(cache.misses == 1)
      // compaction: same rows, ONE part file — file ids all reassign
      val compacted = spark.read.parquet(s"$dir/lineitem.parquet")
        .repartition(1).localCheckpoint() // detach lineage before overwrite
      compacted.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val sumB = merged().agg(sum(col("l_extendedprice") * col("l_quantity")))
        .collect().head.getDouble(0)
      // the stale segment (old fingerprint) must NOT be reused: a second
      // miss builds against the new listing, and values agree exactly
      assert(cache.misses == 2,
        s"layout change must miss the fingerprinted key, misses=${cache.misses}")
      assert(math.abs(sumA - sumB) <= 1e-6 * math.max(1.0, math.abs(sumA)),
        s"compaction changed the zip result: $sumA vs $sumB")
      cache.invalidateAll()
    } finally {
      rm(Paths.get(dir).toFile)
    }
  }

  test("saturated execute queues when the estimated wait beats pullup, else falls back") {
    val pred = expr("o_orderdate >= date '1996-07-01'")
    val cols = Seq("o_orderpriority")
    def holdSlotAnd(router: AdaptiveScanRouter)(body: => Unit): Unit = {
      val inAction = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val held = pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            router.execute(spark, sfDir, "orders", cols, pred) { df =>
              inAction.countDown(); release.await(30, TimeUnit.SECONDS); df.count()
            }; ()
          }
        })
        assert(inAction.await(30, TimeUnit.SECONDS))
        try body finally release.countDown()
        held.get(60, TimeUnit.SECONDS)
      } finally pool.shutdownNow()
    }

    // pushdown cheap (1ms est) vs pullup dear (10s est): the contended
    // request QUEUES and still executes as pushdown once the slot frees
    val patient = new AdaptiveScanRouter(new SegmentCache(1L << 30, LRU),
      pushdownSlots = 1, initialPushdownEstNanos = 1e6, initialPullupEstNanos = 1e10)
    val pool2 = Executors.newFixedThreadPool(2)
    try {
      val inAction = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val held = pool2.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = {
          patient.execute(spark, sfDir, "orders", cols, pred) { df =>
            inAction.countDown(); release.await(30, TimeUnit.SECONDS); df.count()
          }; ()
        }
      })
      assert(inAction.await(30, TimeUnit.SECONDS))
      val queuedReq = pool2.submit(new java.util.concurrent.Callable[HybridScan.Route] {
        override def call(): HybridScan.Route =
          patient.execute(spark, sfDir, "orders", cols, pred)(_.count())._2
      })
      Thread.sleep(200) // the queued request must be WAITING, not fallen back
      assert(!queuedReq.isDone, "cheap-pushdown request should queue, not fall back")
      release.countDown()
      held.get(60, TimeUnit.SECONDS)
      assert(queuedReq.get(60, TimeUnit.SECONDS) == Pushdown)
      assert(patient.pullups == 0 && patient.pushdowns == 2)
    } finally pool2.shutdownNow()

    // pushdown dear (10s est) vs pullup cheap (1ms est): the contended
    // request falls back immediately
    val impatient = new AdaptiveScanRouter(new SegmentCache(1L << 30, LRU),
      pushdownSlots = 1, initialPushdownEstNanos = 1e10, initialPullupEstNanos = 1e6)
    holdSlotAnd(impatient) {
      val (_, r) = impatient.execute(spark, sfDir, "orders", cols, pred)(_.count())
      assert(r == Pullup, s"dear-pushdown contention must fall back, got $r")
    }
    assert(impatient.pullups == 1)

    // estimates are measured: after real executions both EWMAs are seeded
    val (pd, pu) = impatient.estimates
    assert(pd > 0 && pu > 0, s"estimates must update from observations: $pd, $pu")
  }

  test("dm05 routes hybrid deterministically and matches the plain Q6-1997") {
    val out = HybridScan.queries("dm05_routed_hybrid")(spark, sfDir)
      .collect().head.getDouble(0)
    val want = spark.sql(
      s"""SELECT sum(l_extendedprice * l_discount) AS revenue
         |FROM parquet.`$sfDir/lineitem.parquet`
         |WHERE l_shipdate >= date '1997-01-01' AND l_shipdate < date '1998-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
         |""".stripMargin).collect().head.getDouble(0)
    assert(math.abs(out - want) < 1e-6, s"dm05 $out vs plain $want")
    // second call: still Hybrid (the require inside the entry would throw)
    assert(HybridScan.queries("dm05_routed_hybrid")(spark, sfDir)
      .collect().head.getDouble(0) == out)
  }

  test("dm03 runs the deterministic pullup fallback and orders by priority") {
    val out = HybridScan.queries("dm03_adaptive_route")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val prios = out.map(_.getString(0)).toSeq
    assert(prios == prios.sorted)
  }

  test("hybrid plan shape survives AQE toggling: pruned fetch + pushed predicate + partition filters") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // LIVE scans only: the cached side is an InMemoryTableScan whose
    // build-time scan is display-only; AQE wraps the tree and its query
    // stages are LEAF nodes, so recurse through both wrappers
    def liveScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case a: AdaptiveSparkPlanExec => liveScans(a.executedPlan)
      case q: QueryStageExec => liveScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    for (aqe <- Seq("false", "true")) {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        // dm02's merged scan: the fetch side must stay pruned to
        // l_shipdate with the date range pushed, whatever AQE does
        val cache = new SegmentCache(1L << 30, LRU)
        val merged = HybridScan.mergedScan(spark, sfDir, "lineitem",
          cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
          fetchCols = Seq("l_shipdate"), fetchPredicate = Some(expr(q6Pred)),
          cache = cache)
        merged.count() // warm: segment resident
        merged.collect() // AQE finalizes plans on execution
        val scans = liveScans(merged.queryExecution.executedPlan)
        assert(scans.length == 1,
          s"aqe=$aqe: expected 1 live storage scan, got ${scans.length}")
        val dataCols = scans.head.requiredSchema.fieldNames
          .filterNot(_.startsWith("_")).toSet
        assert(dataCols == Set("l_shipdate"),
          s"aqe=$aqe: fetch ReadSchema must stay pruned, got $dataCols")
        assert(scans.head.metadata.getOrElse("PushedFilters", "").contains("l_shipdate"),
          s"aqe=$aqe: date range must stay pushed into the fetch scan")
        cache.invalidateAll()

        // dm04's partition hybrid: the storage side's partition filters
        // (the negated cached region AND the query's day range) must not
        // be lost under either AQE setting
        val path = graft.sources.Layout.partitionedEvents(spark, sfDir)
        val cache2 = new SegmentCache(1L << 30, LRU)
        val region = col("day") <= lit("2024-01-15").cast("date")
        val pred = col("day") >= lit("2024-01-08").cast("date") &&
          col("day") <= lit("2024-01-22").cast("date")
        val hybrid = HybridScan.partitionHybridScan(spark, path,
          Seq("event_type", "value", "day"), region, s"spec-aqe-$aqe", pred, cache2)
        hybrid.count()
        hybrid.collect()
        val storageScans = liveScans(hybrid.queryExecution.executedPlan)
        assert(storageScans.nonEmpty, s"aqe=$aqe: storage side must scan files")
        val partFilters = storageScans
          .map(_.metadata.getOrElse("PartitionFilters", "")).mkString("\n")
        assert(partFilters.contains("2024-01-15") && partFilters.contains("2024-01-22"),
          s"aqe=$aqe: storage side must keep both partition bounds:\n$partFilters")
        cache2.invalidateAll()
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("dm09: predicate transfer composes with the hybrid zip (manual + auto rule)") {
    // entry correctness: transferred hybrid star == plain SQL
    val got = HybridScan.queries("dm09_predtrans_hybrid")(spark, sfDir).collect()
    val want = spark.sql(
      s"""SELECT o_orderpriority, sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
         |  count(*) AS n_items
         |FROM parquet.`$sfDir/lineitem.parquet` JOIN parquet.`$sfDir/orders.parquet`
         |  ON l_orderkey = o_orderkey
         |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-07-01'
         |  AND o_orderpriority = '1-URGENT'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin).collect()
    assert(got.length == want.length && got.length == 1)
    assert(got.head.getString(0) == want.head.getString(0))
    assert(math.abs(got.head.getDouble(1) - want.head.getDouble(1)) < 1e-6)
    assert(got.head.getLong(2) == want.head.getLong(2))
    // plan carries BOTH shapes: the semi-join reduction AND the ordinal
    // zip's cached side. Built on a PRIVATE cache: the entry's shared
    // session segment is plan-equal to segments other suites persist and
    // tear down, and Spark's CacheManager keys cached data by
    // canonicalized plan — a sibling's invalidateAll can unpersist the
    // shared entry's residency (results unaffected; the plan shape
    // assertion needs its own segment)
    val planCache = new SegmentCache(1L << 30, LRU)
    val factP = HybridScan.mergedScan(spark, sfDir, "lineitem",
      cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
      fetchCols = Seq("l_orderkey", "l_shipdate"),
      fetchPredicate = Some(expr(
        "l_shipdate >= date '1996-01-01' and l_shipdate < date '1996-07-01'")),
      cache = planCache)
    val ordP = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderpriority")
    val dfP = graft.plans.PredicateTransfer.reduce(
        factP, Seq((ordP, col("l_orderkey") === col("o_orderkey"))))
      .join(ordP, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    dfP.collect()
    val plan = fmt(dfP)
    assert(plan.contains("LeftSemi"), s"semi reduction missing:\n${plan.take(2000)}")
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      s"zip cached side missing:\n${plan.take(2000)}")
    planCache.invalidateAll()

    // the AUTOMATIC rule fires over a hybrid fact too: plain star join of
    // the merged scan under a threshold between the dim's key projection
    // and its full (priority-carrying) width — the rule's firing window
    import org.apache.spark.sql.functions.{count => cnt}
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val cache = new SegmentCache(1L << 30, LRU)
    def star(): org.apache.spark.sql.DataFrame = {
      val fact = HybridScan.mergedScan(spark, sfDir, "lineitem",
        cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
        fetchCols = Seq("l_orderkey", "l_shipdate"),
        fetchPredicate = Some(expr(
          "l_shipdate >= date '1996-01-01' and l_shipdate < date '1996-07-01'")),
        cache = cache)
      val ord = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      fact.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(cnt(lit(1)).as("n"))
    }
    try {
      // dim-side size as the rule will see it (post column pruning), from
      // the rule-off plan — the AutoSemiReductionSpec sizing discipline
      spark.conf.set("spark.graft.autoSemiReduction", "false")
      val dimSize = star().queryExecution.optimizedPlan
        .collect { case j: LJoin => Seq(j.left.stats.sizeInBytes, j.right.stats.sizeInBytes) }
        .flatten.min
      spark.conf.set("spark.graft.autoSemiReduction", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (dimSize - 1).toString)
      val auto = star()
      val row = auto.collect().head
      assert(row.getLong(1) == want.head.getLong(2),
        s"auto-rule star over hybrid fact: ${row.getLong(1)}")
      assert(auto.queryExecution.optimizedPlan.toString.contains("Join LeftSemi"),
        s"AutoSemiReduction must fire over the hybrid fact:\n" +
        auto.queryExecution.optimizedPlan.toString.take(2500))
      cache.invalidateAll()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.graft.autoSemiReduction", "true")
    }
  }

  test("pullup weight is dynamic: in-flight pullups tip contention toward queueing") {
    // seeded: pushdown 3ms, pullup 2ms, maxPullupReqs=1.
    //  - first contended request: estWait 3ms > 1×2ms → falls back (pullup)
    //  - second, WHILE that pullup is in flight: weight ceil(2/1)=2 →
    //    pullupCost 4ms ≥ 3ms → queues and completes as pushdown.
    // A static weight would have sent it to pullup too — the reference's
    // bandwidth-sharing rule (AdaptPushdownManager::receiveOne) is what
    // flips the decision.
    val router = new AdaptiveScanRouter(new SegmentCache(1L << 30, LRU),
      pushdownSlots = 1, initialPushdownEstNanos = 3e6,
      initialPullupEstNanos = 2e6, maxPullupReqs = 1)
    val pred = expr("o_orderdate >= date '1996-07-01'")
    val cols = Seq("o_orderpriority")
    val pool = Executors.newFixedThreadPool(3)
    try {
      val slotHeld = new CountDownLatch(1); val releaseSlot = new CountDownLatch(1)
      val pullupIn = new CountDownLatch(1); val releasePullup = new CountDownLatch(1)
      val holder = pool.submit(new java.util.concurrent.Callable[HybridScan.Route] {
        override def call(): HybridScan.Route =
          router.execute(spark, sfDir, "orders", cols, pred) { df =>
            slotHeld.countDown(); releaseSlot.await(30, TimeUnit.SECONDS); df.count()
          }._2
      })
      assert(slotHeld.await(30, TimeUnit.SECONDS))
      val fallback = pool.submit(new java.util.concurrent.Callable[HybridScan.Route] {
        override def call(): HybridScan.Route =
          router.execute(spark, sfDir, "orders", cols, pred) { df =>
            pullupIn.countDown(); releasePullup.await(30, TimeUnit.SECONDS); df.count()
          }._2
      })
      assert(pullupIn.await(30, TimeUnit.SECONDS))
      // 1 pullup in flight → dynamic weight 2 → this request QUEUES
      val queued = pool.submit(new java.util.concurrent.Callable[HybridScan.Route] {
        override def call(): HybridScan.Route =
          router.execute(spark, sfDir, "orders", cols, pred)(_.count())._2
      })
      Thread.sleep(200)
      assert(!queued.isDone, "under dynamic weight the request should queue, not fall back")
      releasePullup.countDown()
      assert(fallback.get(60, TimeUnit.SECONDS) == Pullup)
      releaseSlot.countDown()
      assert(holder.get(60, TimeUnit.SECONDS) == Pushdown)
      assert(queued.get(60, TimeUnit.SECONDS) == Pushdown,
        "the queued request must execute as pushdown once the slot frees")
      assert(router.pushdowns == 2 && router.pullups == 1)
    } finally pool.shutdownNow()
  }

  test("router-measured pullup costs drive W-LFU admission: expensive segments outlive cheap ones") {
    // capacity fits ONE of the two equally-sized segments; the weights
    // come from the ROUTER's measured per-table pullup costs
    val probe = spark.range(2000).selectExpr("id as x")
    val segBytes = probe.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val (cache, router) = HybridScan.routerWeightedCache(
      capacityBytes = (segBytes * 1.5).toLong, pushdownSlots = 0)
    router.seedTableCost("cheap", 0.001)
    router.seedTableCost("dear", 10.0)
    // admit the cheap table's segment, then the dear one: the candidate's
    // measured weight outranks the resident's → evict-and-admit
    cache.get(SegmentKey("cheap", Seq("x"))) { spark.range(2000).selectExpr("id as x") }
    cache.get(SegmentKey("dear", Seq("x"))) { spark.range(2000).selectExpr("id as x") }
    assert(cache.keys.map(_.table) == Seq("dear"),
      s"measured-dear segment must displace measured-cheap, resident=${cache.keys}")
    // and the reverse admission is refused: cheap cannot displace dear
    cache.get(SegmentKey("cheap", Seq("x"))) { spark.range(2000).selectExpr("id as x") }
    assert(cache.keys.map(_.table) == Seq("dear"),
      s"measured-cheap candidate must not evict the dear resident, resident=${cache.keys}")
    // the weights are fed by real executions: a pullup through execute()
    // measures the table and registers a positive cost
    val before = router.measuredWeight(SegmentKey("region", Seq("r_name")))
    router.execute(spark, sfDir, "region", Seq("r_name"),
      expr("r_regionkey >= 0"))(_.count())
    val after = router.measuredWeight(SegmentKey("region", Seq("r_name")))
    assert(after > 0 && after != before,
      s"execute() pullup must register a measured per-table cost, got $after (was $before)")
    cache.invalidateAll()
  }

  test("hybrid mode warms itself: a repeated column set admits a zip-capable segment") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8) // hotAdmitAfter = 2
    def ask(cols: Seq[String]) = {
      val l = router.scanMode(spark, sfDir, "orders", cols,
        expr("o_totalprice > 0"), HybridScan.ModeHybrid)
      l.close(); l
    }
    val narrow = Seq("o_orderkey", "o_totalprice")
    // access #1: one-shot scans stay scan-resistant — pushdown, no admission
    assert(ask(narrow).route == Pushdown)
    assert(!cache.keys.exists(_.table.startsWith("orders@")), "must not admit on first sight")
    // access #2: hot — load-and-admit the ordinal (zip-capable) form
    assert(ask(narrow).route == Pullup)
    assert(cache.keys.exists(_.table.startsWith("orders@")),
      s"hot set must admit an ordinal segment, cache has ${cache.keys}")
    // access #3: resident, cache-only
    assert(ask(narrow).route == HybridScan.CacheOnly)
    // a WIDER scan now hybrid-zips against the self-admitted segment
    val wide = router.scanMode(spark, sfDir, "orders",
      Seq("o_orderkey", "o_totalprice", "o_orderdate"),
      expr("o_totalprice > 0"), HybridScan.ModeHybrid)
    wide.close()
    assert(wide.route == HybridScan.Hybrid,
      s"wider scan should zip against the admitted segment, got ${wide.route}")
    val n = wide.df.count()
    val m = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 0).count()
    assert(n == m, s"zip rows $n vs plain $m")
    // a set that KEEPS zipping promotes to full residency: its fetch
    // column stops crossing the store boundary on every query
    def askWide() = {
      val l = router.scanMode(spark, sfDir, "orders",
        Seq("o_orderkey", "o_totalprice", "o_orderdate"),
        expr("o_totalprice > 0"), HybridScan.ModeHybrid)
      l.close(); l
    }
    assert(askWide().route == HybridScan.Hybrid, "second zip still zips")
    val promoted = askWide()
    assert(promoted.route == Pullup,
      s"third zip of the same set must promote, got ${promoted.route}")
    assert(promoted.df.count() == m)
    assert(askWide().route == HybridScan.CacheOnly,
      "promoted set must serve resident afterwards")
    // the decision log tells the whole story
    val reasons = router.decisions.map(_._4)
    assert(reasons.exists(_.contains("hot column set")), reasons.mkString("; "))
    assert(reasons.exists(_.contains("promoting")), reasons.mkString("; "))
    cache.invalidateAll()
  }

  test("listTable recurses: a nested layout fingerprints its actual files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-nested")
      .toFile.getAbsolutePath
    spark.range(100).selectExpr("id", "id % 2 as day")
      .write.partitionBy("day").parquet(s"$tmp/nested.parquet")
    val tl = HybridScan.listTable(spark, tmp, "nested")
    // the non-recursive listing returned EMPTY here — a constant
    // fingerprint that silently voided the staleness guard
    assert(tl.files.nonEmpty, "a nested layout must never fingerprint as empty")
    assert(tl.files.forall(_._1.contains("day=")),
      tl.files.map(_._1).mkString(", "))
    assert(tl.files.forall(f =>
      !new org.apache.hadoop.fs.Path(f._1).getName.startsWith("_")),
      "hidden files must stay excluded at every level")
    val fp1 = tl.fingerprint
    // a rewrite INSIDE a nested directory must miss the fingerprint
    spark.range(7).selectExpr("id", "cast(0 as bigint) as day")
      .write.mode("overwrite").parquet(s"$tmp/nested.parquet/day=0")
    val fp2 = HybridScan.listTable(spark, tmp, "nested").fingerprint
    assert(fp1 != fp2, "a nested rewrite must change the fingerprint")
    // flat tables keep their exact shape: same files, same fingerprint
    val flat = HybridScan.listTable(spark, sfDir, "orders")
    assert(flat.files.nonEmpty &&
      flat.fingerprint == HybridScan.listTable(spark, sfDir, "orders").fingerprint)
  }

  test("partitioned-layout zip: fetch side prunes to the matching day directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val path = graft.sources.Layout.partitionedEvents(spark, sfDir)
      val cache = new SegmentCache(1L << 30, LRU)
      val pred = col("day").between(
        lit("2024-01-05").cast("date"), lit("2024-01-18").cast("date"))
      val merged = HybridScan.mergedScanPath(spark, path, "spec-evday-zip",
        cachedCols = Seq("event_type", "value"), fetchCols = Seq("day"),
        fetchPredicate = Some(pred), cache = cache)
      // row parity with a plain scan of the same partitioned copy
      val plain = spark.read.parquet(path).filter(pred)
        .select("event_type", "value", "day")
      val zipped = merged.select("event_type", "value", "day")
      assert(zipped.count() == plain.count())
      assert(zipped.exceptAll(plain).isEmpty && plain.exceptAll(zipped).isEmpty,
        "partitioned zip must be row-identical to the plain scan")
      // exactly ONE storage scan in the zip (the fetch side), and it
      // lists only the 14 in-range day directories of 30 — the partition
      // predicate prunes at LISTING time; the value columns never touch
      // storage (they serve from the ordinal segment)
      merged.collect()
      val plan = merged.queryExecution.executedPlan
      val scans = plan.collect { case f: FileSourceScanExec => f }
      assert(scans.size == 1,
        s"expected one storage scan, got ${scans.size}:\n${plan.toString.take(2000)}")
      assert(scans.head.metrics("numPartitions").value == 14,
        s"fetch side listed ${scans.head.metrics("numPartitions").value} " +
        "partitions, expected the 14 matching days")
      assert(plan.toString.contains("InMemoryTableScan"),
        "cached columns must serve from the segment")
      cache.invalidateAll()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("hashSafe certifies every runtime path rendering, not just the listing's") {
    import HybridScan.TableListing
    assert(TableListing(Seq(("file:/a/x.parquet", 1L, 1L),
      ("file:/a/y.parquet", 1L, 1L))).hashSafe)
    // distinct as listing strings but the SAME file under URI
    // normalization (the file:/ vs file:/// rendering discrepancy the
    // runtime's _metadata.file_path key can surface): must NOT certify —
    // the zip falls back to raw path keys, loudly correct either way
    assert(!TableListing(Seq(("file:/a/x.parquet", 1L, 1L),
      ("file:///a/x.parquet", 1L, 1L))).hashSafe,
      "rendering-colliding paths must refuse the hash key")
  }

  test("a refused promotion falls back to the hybrid zip and resets the counter") {
    val narrow = Seq("o_orderkey", "o_totalprice")
    val wide = narrow :+ "o_orderdate"
    val tl = HybridScan.listTable(spark, sfDir, "orders")
    def ordFrame(cols: Seq[String]) =
      HybridScan.ordinalScan(spark, sfDir, "orders", cols.sorted, tl)
        .repartition(col(HybridScan.PosCol), col(HybridScan.FileCol))
        .sortWithinPartitions(col(HybridScan.PosCol), col(HybridScan.FileCol))
    def statsSize(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val narrowSize = statsSize(ordFrame(narrow))
    val wideSize = statsSize(ordFrame(wide))
    assert(wideSize > narrowSize, s"$wideSize vs $narrowSize")
    // capacity admits the narrow ordinal segment, can NEVER admit the wide
    val cache = new SegmentCache((narrowSize + wideSize) / 2, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8) // hotAdmitAfter=2
    def ask(cols: Seq[String]) = {
      val l = router.scanMode(spark, sfDir, "orders", cols,
        expr("o_totalprice > 0"), HybridScan.ModeHybrid)
      l.close(); l
    }
    ask(narrow); ask(narrow) // second access admits the narrow segment
    assert(cache.keys.exists(k =>
      k.table.startsWith("orders@") && !k.columns.contains("o_orderdate")))
    // zip accesses 1 and 2 serve hybrid
    assert(ask(wide).route == HybridScan.Hybrid)
    assert(ask(wide).route == HybridScan.Hybrid)
    // access 3 attempts promotion, is refused by capacity, and must serve
    // THIS query by the zip it preempted — not an unpersisted full rebuild
    val refused = ask(wide)
    assert(refused.route == HybridScan.Hybrid,
      s"refused promotion must serve hybrid, got ${refused.route}")
    assert(!cache.keys.exists(_.columns.contains("o_orderdate")),
      "the wide segment must not look resident")
    // the counter was reset: the next two asks zip WITHOUT re-attempting
    assert(ask(wide).route == HybridScan.Hybrid)
    assert(ask(wide).route == HybridScan.Hybrid)
    val notes = router.decisions.map(_._4)
    assert(notes.count(_.contains("promotion refused")) == 1,
      notes.mkString("; "))
    // and the refused ask's rows are the plain scan's rows
    val n = refused.df.count()
    val m = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 0).count()
    assert(n == m, s"hybrid fallback rows $n vs plain $m")
    cache.invalidateAll()
  }

  // deterministic eager cache for the refused-serving router tests:
  // measured size = 10 bytes per column, fixed unit load cost
  private def eagerCache(capacity: Long) =
    new SegmentCache(capacity, graft.cache.MeasuredWLFU) {
      override protected def measuredBytes(df: org.apache.spark.sql.DataFrame) =
        Some(df.schema.size * 10L)
      override protected def measureLoad(df: org.apache.spark.sql.DataFrame) =
        { df.count(); 1.0 }
    }

  test("an eager-policy refused promotion serves the already-materialized frame once") {
    // under MeasuredWLFU the promotion candidate is materialized BEFORE
    // admission (eager measure-load); on refusal the router must serve
    // this query FROM that frame (a zip fallback would re-read storage —
    // the frame's build was a full pass, not plan-only work) and still
    // reset the counter so the set re-earns promotion
    val narrow = Seq("o_orderkey", "o_totalprice")
    val wide = narrow :+ "o_orderdate"
    // ordinal segments carry +2 zip-key columns: narrow=4 cols=40 bytes,
    // wide=5 cols=50 — capacity 75 admits narrow, can never also fit wide
    val cache = eagerCache(75L)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    def ask(cols: Seq[String]) = {
      val l = router.scanMode(spark, sfDir, "orders", cols,
        expr("o_totalprice > 0"), HybridScan.ModeHybrid)
      l.close(); l
    }
    ask(narrow); ask(narrow) // second access admits the narrow ordinal
    assert(cache.keys.exists(_.table.startsWith("orders@")))
    assert(ask(wide).route == HybridScan.Hybrid)
    assert(ask(wide).route == HybridScan.Hybrid)
    // access 3 attempts promotion; the hot resident outranks the refused
    // candidate — served from the condemned frame, NOT a hybrid zip
    val refused = ask(wide)
    assert(refused.route == HybridScan.Pullup,
      s"eager refused promotion must serve the materialized frame, got ${refused.route}")
    assert(!cache.keys.exists(_.columns.contains("o_orderdate")),
      "the wide segment must not look resident")
    val notes = router.decisions.map(_._4)
    assert(notes.exists(_.contains("serving the already-materialized frame once")),
      notes.mkString("; "))
    // counter reset: the next two asks zip without re-attempting
    assert(ask(wide).route == HybridScan.Hybrid)
    assert(ask(wide).route == HybridScan.Hybrid)
    // rows are the plain scan's rows (recomputed from lineage after the
    // lease released the frame — correctness never depends on the pin)
    val n = refused.df.count()
    val m = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 0).count()
    assert(n == m, s"refused-serve rows $n vs plain $m")
    cache.invalidateAll()
  }

  test("an eager-policy refused hot-miss serves the already-materialized frame once") {
    val cols = Seq("o_orderkey", "o_totalprice")
    // ordinal segment = 4 cols = 40 bytes > 30 capacity: always refused
    val cache = eagerCache(30L)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 8)
    def ask() = {
      val l = router.scanMode(spark, sfDir, "orders", cols,
        expr("o_totalprice > 0"), HybridScan.ModeHybrid)
      l.close(); l
    }
    assert(ask().route == HybridScan.Pushdown) // access 1: cold miss
    val refused = ask() // access 2: hot admission runs, load refused
    assert(refused.route == HybridScan.Pullup,
      s"eager refused hot-miss must serve the materialized frame, got ${refused.route}")
    assert(cache.keys.isEmpty)
    val notes = router.decisions.map(_._4)
    assert(notes.exists(n => n.contains("hot-set admission refused") &&
      n.contains("serving the already-materialized frame once")),
      notes.mkString("; "))
    // counter reset: access 3 routes like a cold miss again
    assert(ask().route == HybridScan.Pushdown)
    cache.invalidateAll()
  }

  test("exec.conf parity: session confs drive cache capacity/policy and router slots") {
    // the reference's exec.conf CACHE_SIZE / CACHING_POLICY / parallel
    // degree, as spark.graft.* session confs read at first touch; a
    // cloned session isolates the conf set from the shared suite session
    val clone = spark.newSession()
    clone.conf.set("spark.graft.cacheCapacity", "64MB")
    clone.conf.set("spark.graft.cachePolicy", "w-lfu")
    clone.conf.set("spark.graft.pushdownSlots", "3")
    val cache = HybridScan.segmentCache(clone, sfDir)
    assert(cache.capacityBytes == (64L << 20), s"got ${cache.capacityBytes}")
    assert(cache.policy == graft.cache.MeasuredWLFU, s"got ${cache.policy}")
    val router = HybridScan.sessionRouter(clone, sfDir)
    assert(router.availableSlots == 3)
    // a bad policy fails loudly at first use, never silently defaults
    val clone2 = spark.newSession()
    clone2.conf.set("spark.graft.cachePolicy", "nonsense")
    intercept[IllegalArgumentException] {
      HybridScan.segmentCache(clone2, sfDir)
    }
    cache.invalidateAll()
  }

  test("pushdown-only mode past the slot budget is recorded, never silent") {
    val cache = new SegmentCache(1L << 30, LRU)
    val router = new AdaptiveScanRouter(cache, pushdownSlots = 1)
    def ask() = router.scanMode(spark, sfDir, "orders", Seq("o_orderkey"),
      expr("o_orderkey > 0"), HybridScan.ModePushdownOnly)
    val l1 = ask()
    assert(l1.route == Pushdown && router.overBudget == 0)
    val l2 = ask() // slot still held by l1: over budget, mode forces pushdown
    assert(l2.route == Pushdown, "pushdown-only cannot fall back")
    assert(router.overBudget == 1, "the over-budget admission must be counted")
    assert(router.decisions.last._4.contains("over-budget"),
      router.decisions.last._4)
    l2.close(); l1.close()
    assert(router.availableSlots == 1,
      "an over-budget lease must not release a slot it never held")
    val l3 = ask()
    assert(router.overBudget == 1, "a free slot admits within budget again")
    l3.close()
    cache.invalidateAll()
  }
}
