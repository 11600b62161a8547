package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.cache.{HybridScan, LRU, MeasuredWLFU, SegmentCache}
import graft.cache.HybridScan.{AdaptiveScanRouter, ModeHybrid, Pushdown}
import graft.plans.ModeExec
import graft.sources.{Sink, Tables}

/** The hybrid cache admits on evidence of reuse ACROSS queries: the
  * router's heat ticks once per (key, query) and belongs to a table
  * version; a segment that can never fit is not loaded again; segment
  * builds resolve with the schema the engine already holds; and the
  * cache's refusals are visible. */
class AdmissionHeatSpec extends SparkSpec {

  private val cols = Seq("o_orderkey", "o_totalprice")
  private val pred = expr("o_totalprice > 0")

  /** q15's shape: the CTE's lineitem column set is read by the main query
    * and again by the scalar subquery. */
  private val q15Shape =
    """with revenue0 as (
      |  select l_suppkey as supplier_no,
      |    cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(25,6))) as double) as total_revenue
      |  from lineitem
      |  where l_shipdate >= date '1996-01-01' and l_shipdate < date '1996-04-01'
      |  group by l_suppkey)
      |select s_suppkey, s_name, total_revenue
      |from supplier, revenue0
      |where s_suppkey = supplier_no
      |  and total_revenue = (select max(total_revenue) from revenue0)
      |order by s_suppkey""".stripMargin

  test("a query naming one column set twice admits nothing and runs no plan-time job") {
    val s = spark.newSession()
    val cache = HybridScan.segmentCache(s, sfDir)
    try {
      // unrouted first: view registration and relation resolution are
      // not what this measures
      val expect = Engine.executeQuery(s, sfDir, q15Shape).collect().toSeq
      s.conf.set("spark.graft.scanMode", "hybrid")
      val (df, jobs) = jobsDuring(Engine.executeQuery(s, sfDir, q15Shape))
      assert(cache.keys.isEmpty,
        s"a repeat within one query must not count as reuse: ${cache.keys}")
      assert(jobs == 0, s"routing ran $jobs plan-time job(s)")
      assert(df.collect().toSeq == expect)
      val lineitem = HybridScan.sessionRouter(s, sfDir).decisions
        .filter(_._1 == "lineitem")
      assert(lineitem.size == 2 && lineitem.forall(_._3 == "Pushdown"), lineitem)
      assert(lineitem.last._4.contains("(repeat in this query: heat not ticked)"),
        lineitem.last._4)
      // the NEXT query is the reuse that earns admission
      Engine.executeQuery(s, sfDir, q15Shape)
      assert(cache.keys.exists(_.table.startsWith("lineitem@")), cache.keys)
    } finally {
      s.conf.unset("spark.graft.scanMode")
      cache.invalidateAll()
    }
  }

  test("explainRoutes shows a repeat reference, ticked once") {
    val cache = new SegmentCache(1L << 30, LRU)
    try {
      val r = new AdaptiveScanRouter(cache, pushdownSlots = 8)
      val rep = ModeExec.explainRoutes(spark, sfDir, q15Shape, ModeHybrid, Some(r))
        .collect().filter(_.getString(0) == "lineitem").map(_.getString(3))
      assert(rep.length == 2 && !rep.head.contains("repeat") &&
        rep.last.contains("(repeat in this query: heat not ticked)"), rep.toSeq)
      assert(r.heatSnapshot.linesIterator.exists(l =>
        l.startsWith("seen.miss|lineitem|") && l.endsWith("=1")), r.heatSnapshot)
    } finally cache.invalidateAll()
  }

  test("after a merge, a set that was hot is access #1 of the new version") {
    val dir = Files.createTempDirectory("graft-heat-merge")
    val table = dir.resolve("orders.parquet")
    Files.copy(java.nio.file.Paths.get(Tables.path(sfDir, "orders")), table)
    val cache = new SegmentCache(1L << 30, LRU)
    try {
      val router = new AdaptiveScanRouter(cache, pushdownSlots = 8) // hotAdmitAfter = 2
      def ask() = {
        val l = router.scanMode(spark, dir.toString, "orders", cols, pred,
          ModeHybrid, leaseSpansExecution = false)
        l.close(); l
      }
      assert(ask().route == Pushdown)
      ask() // the second query admits
      val before = cache.keys
      assert(before.size == 1 && before.head.table.startsWith("orders@"), before)
      val updates = spark.read.parquet(table.toString)
        .filter(col("o_orderkey") <= 100).withColumn("o_orderstatus", lit("X"))
      Sink.mergeInto(spark, table.toString, updates, "o_orderkey", "o_orderkey")
      val after = ask()
      assert(after.route == Pushdown, s"got ${after.route}")
      assert(router.decisions.last._4.contains("access #1"), router.decisions.last._4)
      assert(cache.keys == before, s"no segment may be built: ${cache.keys}")
    } finally {
      cache.invalidateAll()
      TempDirs.rm(dir.toFile)
    }
  }

  test("a segment that can never fit is loaded once, not every hot cycle") {
    // a real measured cache far smaller than any orders segment
    val cache = new SegmentCache(1000L, MeasuredWLFU)
    try {
      val router = new AdaptiveScanRouter(cache, pushdownSlots = 8) // hotAdmitAfter = 2
      def cycle(): Unit = (1 to 2).foreach(_ => router.scanMode(spark, sfDir,
        "orders", cols, pred, ModeHybrid, leaseSpansExecution = false).close())
      val (_, first) = jobsDuring(cycle())
      val (_, second) = jobsDuring(cycle())
      assert(first > 0, "the first hot cycle loads the segment")
      assert(second == 0, s"the second hot cycle ran $second job(s)")
      assert(cache.keys.isEmpty)
      assert(cache.refusals == 2 && cache.refusedBytes > cache.capacityBytes,
        s"refusals=${cache.refusals} refusedBytes=${cache.refusedBytes}")
      // the shell's \cache prints both
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(new java.io.PrintStream(out))(
        Shell.runStatement(spark, sfDir, "\\cache"))
      assert(out.toString.contains("refusals=") &&
        out.toString.contains("refused_loaded="), out.toString)
    } finally cache.invalidateAll()
  }

  test("an ordinal build and a hybrid fetch over orders run no inference job") {
    // any session's resolution of the table records its schema
    Tables.load(spark.newSession(), sfDir, "orders")
    val cache = new SegmentCache(1L << 30, LRU)
    try {
      val tl = HybridScan.listTable(spark, sfDir, "orders")
      val (_, jobs) = jobsDuring {
        HybridScan.ordinalScan(spark, sfDir, "orders", cols, tl).queryExecution.analyzed
        HybridScan.mergedScan(spark, sfDir, "orders", cachedCols = cols,
          fetchCols = Seq("o_orderdate"), cache = cache, listing = Some(tl))
          .queryExecution.analyzed
      }
      assert(jobs == 0, s"$jobs inference job(s)")
    } finally cache.invalidateAll()
  }
}
