package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.cache.{LRU, MeasuredWLFU, SegmentCache}
import graft.cache.HybridScan.{AdaptiveScanRouter, HeatScope, ModeCachingOnly,
  ModeHybrid, ModePullup, ModePushdownOnly, ScanLease, ScanMode}
import graft.sources.{Catalog, ZoneMapPruner}
import graft.sources.ZoneMapPruner.{Ge, Le}

/** Properties of the per-unit route lattice behind the partitioned and
  * sharded entry points: over generated per-unit heat, resident and
  * refused states, in every mode and for both lease disciplines, the
  * routed rows equal the plain scan, and once every lease has closed the
  * router's slots are back to their budget and no refused frame is still
  * pinned. A pass of windows routed in one heat scope ticks each (unit,
  * columns) key once, and a unit whose fingerprint rotates restarts its
  * count. */
class RouteLatticeSpec extends SparkSpec {

  /** An eager-admission cache that refuses exactly the segments
    * `refused` picks — per-unit refusal on demand. Loads are not timed
    * (no job), so a refused frame is parked condemned unmaterialized and
    * executes once if served. */
  private final class RefusingCache(refused: DataFrame => Boolean)
      extends SegmentCache(1L << 30, MeasuredWLFU) {
    override protected def measureLoad(df: DataFrame): Double = 0.001
    override protected def measuredBytes(df: DataFrame): Option[Long] =
      Some(if (refused(df)) capacityBytes + 1 else 1000L)
  }

  /** One routable layout: its units (in routing order), the scan of the
    * units `lo..hi`, the plain scan of the same window, and whether a
    * segment frame belongs to a unit. */
  private trait Layout {
    def kind: String
    def segName: String
    def units: Seq[String]
    /** Sorted `need` of [[scan]] — the heat keys' column part. */
    def needSorted: Seq[String]
    def region(u: Int): String
    def scan(r: AdaptiveScanRouter, mode: ScanMode, spans: Boolean,
        lo: Int, hi: Int, scope: HeatScope): ScanLease
    def plain(lo: Int, hi: Int): DataFrame
    def ofUnit(df: DataFrame, u: Int): Boolean
    /** The units a scan of `lo..hi` routes (after any zone pruning). */
    def touched(lo: Int, hi: Int): Set[Int]
  }

  private lazy val partitioned: Layout = new Layout {
    private val path = graft.sources.Layout.partitionedEvents(spark, sfDir)
    private val cols = Seq("event_type", "value", "day")
    private def window(lo: Int, hi: Int): Column =
      col("day").between(lit(units(lo)).cast("date"), lit(units(hi)).cast("date"))
    val kind = "part"
    val segName = "events_lattice"
    val units = (3 to 10).map(d => f"2024-01-$d%02d")
    val needSorted = cols.sorted
    def region(u: Int) = s"day=${units(u)}"
    def scan(r: AdaptiveScanRouter, mode: ScanMode, spans: Boolean,
        lo: Int, hi: Int, scope: HeatScope) =
      r.scanPartitionedMode(spark, path, segName, cols, window(lo, hi), Seq("day"),
        mode, spans, graft.cache.HybridScan.PartitionedRead.Parquet, scope)
    def plain(lo: Int, hi: Int) =
      spark.read.parquet(path).filter(window(lo, hi)).select(cols.map(col): _*)
    def ofUnit(df: DataFrame, u: Int) =
      df.queryExecution.analyzed.toString.contains(units(u))
    def touched(lo: Int, hi: Int) = (lo to hi).toSet
  }

  private lazy val sharded: Layout = new Layout {
    private val (spec, summary) = ZoneMapPruner.shardedOrders(spark, sfDir)
    private val zones = summary.zones.sortBy(_.path)
    private val cols = Seq("o_orderstatus", "o_totalprice")
    private def bounds(lo: Int, hi: Int) =
      (zones(lo).ranges("o_orderkey")._1, zones(hi).ranges("o_orderkey")._2)
    private def window(lo: Int, hi: Int): Column = {
      val (a, b) = bounds(lo, hi)
      col("o_orderkey").between(a.toLong, b.toLong)
    }
    val kind = "shard"
    val segName = "orders_lattice"
    val units = zones.map(z => new org.apache.hadoop.fs.Path(z.path).getName)
    val needSorted = (cols :+ "o_orderkey").sorted
    def region(u: Int) = s"shard=${units(u)}"
    private def preds(lo: Int, hi: Int) = {
      val (a, b) = bounds(lo, hi)
      Seq(Ge("o_orderkey", a), Le("o_orderkey", b))
    }
    def scan(r: AdaptiveScanRouter, mode: ScanMode, spans: Boolean,
        lo: Int, hi: Int, scope: HeatScope) =
      r.scanShardedMode(spark, spec, segName, zones, preds(lo, hi), cols,
        window(lo, hi), mode, spans, scope)
    def touched(lo: Int, hi: Int) =
      ZoneMapPruner.prune(zones, preds(lo, hi)).map(zones.indexOf(_)).toSet
    def plain(lo: Int, hi: Int) =
      Catalog.read(spark, spec).filter(window(lo, hi)).select(cols.map(col): _*)
    // the analyzed plan, not `inputFiles`: a plan-equal persisted frame
    // replaces the relation in the optimized plan
    def ofUnit(df: DataFrame, u: Int) =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRelation =>
        r.relation }.collect { case h: HadoopFsRelation => h.location.rootPaths }
        .exists(ps => ps.size == 1 && ps.head.getName == units(u))
  }

  /** One generated state: mode and lease discipline, router knobs, and
    * per-unit heat / residency / refusal, then two routed windows. */
  private final case class Case(mode: ScanMode, spans: Boolean,
      hotAdmitAfter: Int, slots: Int, maxHot: Int, eager: Boolean,
      lazyRefusesAll: Boolean, heat: Map[Int, Int], resident: Set[Int],
      refused: Set[Int], windows: Seq[(Int, Int)])

  private def caseGen(n: Int): Gen[Case] = {
    val unitSet = Gen.listOf(Gen.choose(0, n - 1)).map(_.toSet)
    val window = for (a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1))
      yield (math.min(a, b), math.max(a, b))
    for {
      mode <- Gen.oneOf(ScanMode.all)
      spans <- Gen.oneOf(true, false)
      hotAdmitAfter <- Gen.choose(0, 3)
      slots <- Gen.oneOf(0, 1, 4)
      maxHot <- Gen.oneOf(2, 256)
      eager <- Gen.oneOf(true, false)
      lazyRefusesAll <- Gen.frequency(4 -> false, 1 -> true)
      heated <- unitSet
      heats <- Gen.listOfN(n, Gen.choose(1, 3))
      resident <- unitSet
      refused <- unitSet
      windows <- Gen.listOfN(2, window)
    } yield Case(mode, spans, hotAdmitAfter, slots, maxHot, eager,
      lazyRefusesAll, heated.map(u => u -> heats(u)).toMap, resident, refused,
      windows)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def check(layout: Layout, seed: Long, samples: Int): Unit =
    (0 until samples).foreach { i =>
      val c = caseGen(layout.units.size)
        .apply(Gen.Parameters.default, Seed(seed + i)).get
      val cache =
        if (c.eager) new RefusingCache(df => c.refused.exists(layout.ofUnit(df, _)))
        else new SegmentCache(if (c.lazyRefusesAll) 1L else 1L << 30, LRU)
      try {
        // residency: a caching-only scan of one unit admits that unit
        // (unless the cache refuses it)
        val admin = new AdaptiveScanRouter(cache, pushdownSlots = 0)
        c.resident.foreach { u =>
          layout.scan(admin, ModeCachingOnly, spans = true, u, u,
            new HeatScope).close()
        }
        val router = new AdaptiveScanRouter(cache, pushdownSlots = c.slots,
          hotAdmitAfter = c.hotAdmitAfter, maxHotRegions = c.maxHot)
        // heat, in the snapshot format `spark.graft.heatPath` seeds from
        router.seedHeat(c.heat.map { case (u, n) =>
          s"seen.${layout.kind}|${layout.segName}|" +
            (layout.needSorted :+ layout.region(u)).sorted.mkString(",") + s"=$n"
        }.mkString("\n"))
        // both windows are one pass (one query's heat scope)
        val pass = new HeatScope
        val ticks0 = router.heatTicks
        c.windows.foreach { case (lo, hi) =>
          val lease = layout.scan(router, c.mode, c.spans, lo, hi, pass)
          // a plan-only caller closes before the frame executes
          val got =
            if (c.spans) try rows(lease.df) finally lease.close()
            else { lease.close(); rows(lease.df) }
          assert(got == rows(layout.plain(lo, hi)),
            s"$c window ($lo,$hi) routed ${lease.route}: rows differ")
          assert(router.availableSlots == c.slots,
            s"$c: ${router.availableSlots} of ${c.slots} slots free after close")
          assert(cache.leasedRefusals == 0,
            s"$c: a refused frame is still leased after close")
        }
        // forced modes never consult heat; the others tick each distinct
        // (unit, columns) key of the pass once, overlap or not
        val keys =
          if (c.mode == ModePullup || c.mode == ModePushdownOnly) 0
          else c.windows.flatMap { case (lo, hi) => layout.touched(lo, hi) }.toSet.size
        assert(router.heatTicks - ticks0 == keys,
          s"$c: ${router.heatTicks - ticks0} heat ticks for $keys distinct keys")
      } finally cache.invalidateAll()
    }

  test("property: partitioned lattice rows equal the plain scan, leases release") {
    check(partitioned, seed = 4101L, samples = 12)
  }

  test("property: sharded lattice rows equal the plain scan, leases release") {
    check(sharded, seed = 4201L, samples = 12)
  }

  test("a unit whose fingerprint rotates restarts its heat count") {
    val src = java.nio.file.Paths.get(
      graft.sources.Layout.partitionedEvents(spark, sfDir).stripPrefix("file:"))
    val dst = java.nio.file.Files.createTempDirectory("graft-lattice-rotate")
    try {
      java.nio.file.Files.walk(src).forEach { f =>
        val to = dst.resolve(src.relativize(f).toString)
        if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(to)
        else if (!f.getFileName.toString.startsWith(".")) java.nio.file.Files.copy(f, to)
      }
      val path = dst.toString
      val cols = Seq("event_type", "value", "day")
      val days = Seq("2024-01-04", "2024-01-05")
      // threshold out of reach: the counts are the point, not admission
      val router = new AdaptiveScanRouter(new SegmentCache(1L << 30, LRU),
        pushdownSlots = 4, hotAdmitAfter = 100)
      def pass(): Unit = router.scanPartitionedMode(spark, path, "rot", cols,
        col("day").between(lit(days.head).cast("date"), lit(days.last).cast("date")),
        "day", ModeHybrid).close()
      def count(day: String): Long = {
        val key = s"seen.part|rot|${(cols :+ s"day=$day").sorted.mkString(",")}="
        router.heatSnapshot.linesIterator.find(_.startsWith(key))
          .map(_.stripPrefix(key).toLong).getOrElse(0L)
      }
      pass(); pass()
      assert(days.map(count) == Seq(2L, 2L))
      // an in-place rewrite of one day's file rotates that unit's key table
      val f = java.nio.file.Files.list(dst.resolve(s"day=${days.head}"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(java.nio.file.Files.getLastModifiedTime(f).toMillis + 5000))
      graft.cache.HybridScan.invalidateListings(path)
      pass()
      assert(days.map(count) == Seq(1L, 3L),
        s"the rotated day restarts at 1, the other continues: ${days.map(count)}")
    } finally TempDirs.rm(dst.toFile)
  }

  test("property: generated cases cover every mode, lease discipline and refusal") {
    val cs = (0 until 12).map(i =>
      caseGen(8).apply(Gen.Parameters.default, Seed(4101L + i)).get) ++
      (0 until 12).map(i =>
        caseGen(8).apply(Gen.Parameters.default, Seed(4201L + i)).get)
    assert(cs.map(_.mode).toSet == ScanMode.all.toSet, cs.map(_.mode))
    assert(cs.map(_.spans).toSet == Set(true, false))
    assert(cs.exists(c => c.eager && c.refused.nonEmpty))
    assert(cs.exists(c => c.resident.nonEmpty) && cs.exists(_.heat.nonEmpty))
  }
}
