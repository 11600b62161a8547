package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** SQL-text entry concurrency: registration state is striped per session
  * (a concurrent-user engine must not serialize every submission on one
  * JVM-wide monitor) and concurrent sessions on different directories
  * never see each other's views. */
class EngineSpec extends SparkSpec {

  private val dirA = sfDir                      // sf0.001
  private val dirB = "/root/testdata/sf0.01"

  test("registration locks are per-session, stable per session") {
    val s2 = spark.newSession()
    assert(Engine.lockFor(spark) ne Engine.lockFor(s2),
      "distinct sessions must not share a registration lock")
    assert(Engine.lockFor(spark) eq Engine.lockFor(spark))
    assert(Engine.lockFor(s2) eq Engine.lockFor(s2))
  }

  test("concurrent sessions on different dirs query without cross-talk") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val expectA = spark.read.parquet(s"$dirA/orders.parquet").count()
    val expectB = spark.read.parquet(s"$dirB/orders.parquet").count()
    assert(expectA != expectB, "scale factors must differ for this test to bite")
    val sql = "SELECT count(*) AS n FROM orders"
    def run(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] =
      (1 to 5).map(_ => Engine.executeQuery(s, dir, sql).collect()(0).getLong(0))
    val fa = Future(run(s1, dirA))
    val fb = Future(run(s2, dirB))
    assert(Await.result(fa, 120.seconds).forall(_ == expectA),
      "session A must always see dirA's tables")
    assert(Await.result(fb, 120.seconds).forall(_ == expectB),
      "session B must always see dirB's tables")
  }

  test("one session swapping dirs re-registers, under its own lock only") {
    val s = spark.newSession()
    val expectA = spark.read.parquet(s"$dirA/orders.parquet").count()
    val expectB = spark.read.parquet(s"$dirB/orders.parquet").count()
    val sql = "SELECT count(*) AS n FROM orders"
    (1 to 2).foreach { _ =>
      assert(Engine.executeQuery(s, dirA, sql).collect()(0).getLong(0) == expectA)
      assert(Engine.executeQuery(s, dirB, sql).collect()(0).getLong(0) == expectB)
    }
  }

  test("derived-partsupp runs as a materialized session artifact, same rows as the CTE") {
    val s = spark.newSession()
    val q11 = operators.TpchCorpus.sql(11)
    // ground truth: the untouched corpus text (CTE and all) straight
    // through spark.sql on the same views — exactly what DuckDB oracles
    graft.sources.Tables.registerAll(s, dirA)
    val viaCte = s.sql(q11).collect().map(_.toSeq).toSet
    val viaEngine = Engine.executeQuery(s, dirA, q11)
    assert(viaEngine.collect().map(_.toSeq).toSet == viaCte,
      "materialized partsupp must reproduce the CTE's rows exactly")
    // the artifact claim: the engine-run Q11 must not touch lineitem at
    // all — its only lineitem dependency WAS the derived-partsupp CTE
    // (paid twice, main query + scalar subquery, when run as text)
    val plan = viaEngine.queryExecution.executedPlan.toString
    assert(!plan.contains("lineitem"),
      s"engine Q11 must consume the materialized partsupp, not re-derive it:\n${plan.take(2000)}")
    // and a second consumer reuses the same (session, dir) artifact
    val h16 = Engine.executeQuery(s, dirA, operators.TpchCorpus.sql(16))
    assert(!h16.queryExecution.executedPlan.toString.contains("lineitem"),
      "second partsupp consumer must reuse the artifact")
  }

  test("the partsupp view neither leaks across dir switches nor outlives its artifact") {
    val s = spark.newSession()
    Engine.executeQuery(s, dirA, operators.TpchCorpus.sql(11)).collect()
    // dir switch: the derived view must NOT survive pointing at dirA —
    // a silent stale read is the mixed-views hazard; an analysis error
    // ("table not found") is the honest outcome for a non-CTE reference
    intercept[org.apache.spark.sql.AnalysisException] {
      Engine.executeQuery(s, dirB, "SELECT count(*) AS n FROM partsupp").collect()
    }
    // a CTE query on the new dir re-materializes it FOR that dir
    Engine.executeQuery(s, dirB, operators.TpchCorpus.sql(11)).collect()
    val nB = Engine.executeQuery(s, dirB, "SELECT count(*) AS n FROM partsupp")
      .collect()(0).getLong(0)
    val expectB = graft.sources.Tables.lineitem(s, dirB)
      .select("l_partkey", "l_suppkey").distinct().count()
    assert(nB == expectB, s"partsupp must reflect the CURRENT dir ($nB vs $expectB)")
    // artifact release drops the view too: the checkpoint blocks are
    // gone, so a surviving view would die mid-execution on missing
    // blocks instead of failing at analysis or rebuilding
    graft.util.SessionCache.releaseAll(s)
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT count(*) FROM partsupp").collect()
    }
    // and the CTE path simply rebuilds
    assert(Engine.executeQuery(s, dirB, operators.TpchCorpus.sql(11)).collect().nonEmpty)
  }

  /** The reference's MultiQueryTest shape (`fpdb-calcite/java/main/test/
    * .../MultiQueryTest.java`; `Server.cpp` serves concurrent sessions
    * over one shared segment cache): N threads push a mixed workload
    * through ONE session's executeQuery while hammering a SHARED
    * SegmentCache — every result must equal its serial baseline, no
    * deadlock between the registration lock, SessionCache builds
    * (partsupp artifact, dup-group artifacts), and cache loads. */
  test("concurrent mixed queries through one session and a shared segment cache") {
    import graft.cache.{MeasuredWLFU, SegmentCache, SegmentKey}
    val s = spark.newSession()
    val texts = Map(
      "h01" -> operators.TpchCorpus.sql(1),
      "h06" -> operators.TpchCorpus.sql(6),
      "h11" -> operators.TpchCorpus.sql(11), // partsupp artifact build race
      "b11" -> operators.SsbCorpus.sql("1_1"),
      "agg" -> "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s FROM orders GROUP BY o_orderstatus")
    val serial: Map[String, Set[Seq[Any]]] = texts.map { case (k, q) =>
      k -> Engine.executeQuery(s, dirA, q).collect().map(_.toSeq).toSet
    }
    val cache = new SegmentCache(1L << 30, MeasuredWLFU)
    val tables = Seq("lineitem", "orders", "customer")
    val names = texts.keys.toVector
    val runs = Future.traverse((0 until 12).toVector) { i =>
      Future {
        // interleave a shared-cache segment consult with the query, the
        // Server.cpp access pattern (planner asks the cache, then runs)
        val t = tables(i % tables.size)
        cache.get(SegmentKey(t, Seq()))(s.read.parquet(s"$dirA/$t.parquet"))
        val k = names(i % names.size)
        k -> Engine.executeQuery(s, dirA, texts(k)).collect().map(_.toSeq).toSet
      }
    }
    Await.result(runs, 300.seconds).foreach { case (k, got) =>
      assert(got == serial(k), s"concurrent $k diverged from its serial baseline")
    }
    assert(cache.hits + cache.misses >= 12, "every thread must have consulted the cache")
    // teardown: the consults persisted whole-table reads, and Spark's
    // CacheManager substitutes those into every plan-equal scan
    // SESSION-WIDE — leaked residency changed later suites' plan shapes
    // (ModeExecSpec measured zero file scans) until released here
    cache.invalidateAll()
  }

  test("mergeInto re-points the writing session's orders view on its next query") {
    import org.apache.spark.sql.functions._
    // a private copy of the sf dir: the merge rewrites orders in place
    val src = java.nio.file.Paths.get(dirA)
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-merge")
    java.nio.file.Files.walk(src).forEach { f =>
      val to = dir.resolve(src.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    }
    val s = spark.newSession()
    val sql = "SELECT o_orderstatus, count(*) AS n, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    def rows(sess: org.apache.spark.sql.SparkSession) =
      Engine.executeQuery(sess, dir.toString, sql).collect().map(_.toSeq).toSeq
    val before = rows(s)
    val path = s"$dir/orders.parquet"
    val updates = s.read.parquet(path).filter(col("o_orderkey") <= 100)
      .withColumn("o_orderstatus", lit("X"))
    graft.sources.Sink.mergeInto(s, path, updates, "o_orderkey", "o_orderkey")
    val after = rows(s)
    val fresh = rows(spark.newSession())
    assert(fresh.exists(_.head == "X") && fresh != before,
      "the merge must change the answer for this test to bite")
    assert(after == fresh, s"writing session read stale orders: $after vs $fresh")
  }

  /** A private copy of a testdata dir (graft writers rewrite in place). */
  private def copyOf(src: String): String = TempDirs.copyTree(src, "graft-engine-copy")

  test("a lineitem rewrite rotates the derived partsupp: q11 reads the new version") {
    import org.apache.spark.sql.functions._
    val dir = copyOf(dirB)
    val q11 = operators.TpchCorpus.sql(11)
    val s = spark.newSession()
    def viaEngine() = Engine.executeQuery(s, dir, q11).collect().map(_.toSeq).toSeq
    // ground truth: the corpus text, CTE and all, over the dir's current files
    def viaCte() = {
      val f = spark.newSession()
      graft.sources.Tables.registerAll(f, dir)
      f.sql(q11).collect().map(_.toSeq).toSeq
    }
    val before = viaEngine()
    assert(before == viaCte())
    val path = s"$dir/lineitem.parquet"
    val updates = s.read.parquet(path).filter(col("l_orderkey") <= 2000)
      .withColumn("l_quantity", col("l_quantity") * 50)
    graft.sources.Sink.mergeInto(s, path, updates, "l_orderkey", "l_linenumber")
    val expected = viaCte()
    assert(expected != before, "the rewrite must change q11's answer for this test to bite")
    assert(viaEngine() == expected, "q11 read the partsupp of the replaced lineitem")
  }

  test("a second thread on the session sees the plain lineitem view throughout hv02 runs") {
    val hv02 = {
      val in = getClass.getResourceAsStream("/graft/tpch/hv02.sql")
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val s = spark.newSession()
    Engine.executeQuery(s, dirA, "SELECT 1").collect()
    // a JDBC client on the shared single session resolves the same temp
    // views, without the engine's registration lock
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = Future {
      var reads, spread = 0
      while (!stop.get) {
        if (s.table("lineitem").queryExecution.analyzed.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Repartition])) spread += 1
        reads += 1
      }
      (reads, spread)
    }
    try (1 to 10).foreach(_ => Engine.executeQuery(s, dirA, hv02).collect())
    finally stop.set(true)
    val (reads, spread) = Await.result(reader, 60.seconds)
    assert(reads > 0)
    assert(spread == 0, s"$spread of $reads lineitem reads saw a spread view")
  }
}
