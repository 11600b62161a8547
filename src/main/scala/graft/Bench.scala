package graft

import org.apache.spark.sql.DataFrame
import graft.cache.{HybridScan, LRU, MeasuredWLFU, SegmentCache, SegmentKey}
import graft.cache.HybridScan.{AdaptiveScanRouter, ModeCachingOnly, ModeHybrid,
  ModePushdownOnly, ScanMode}
import graft.operators.SsbCorpus
import graft.plans.ModeExec
import graft.sources.Tables

/** Driver-run benchmark: every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, one JSON line on stdout.
  *
  * Methodology:
  *  - the tuned engine session (AQE, runtime bloom filters, shuffle
  *    partitions = cores) — the config a cluster deployment would run;
  *  - results sink to the `noop` datasource: every output column is fully
  *    materialized (a bare `count()` would let Catalyst prune the very
  *    work being measured) without collect() driver pressure;
  *  - a RECORDED WARM-UP PASS over the whole suite first (r15 verdict
  *    items 1 and 6), excluded from every statistic: it absorbs JVM
  *    class loading and JIT warm-up, fixture first-touch, page-cache
  *    warming, AND every shared family-artifact build (dup groups,
  *    IVF/PQ indexes), so the counted passes run with every artifact
  *    resident. It does NOT absorb codegen compiles: Spark's generated-
  *    class cache holds 100 entries (`spark.sql.codegen.cache.maxEntries`),
  *    far fewer than the suite's distinct pipelines (about 430 classes
  *    compiled per 28-text TPC-H round in the perfbench window), so
  *    every counted pass recompiles most of its classes. Its
  *    per-entry times are in BENCH_DETAIL.json (`runs_warmup`) — the
  *    cold/build costs stay visible in the record, they just stop
  *    polluting the statistics. Rationale: r15's official record showed
  *    d10 medians 0.40→2.81 s with run values [3.23, 0.38, 2.81] — run 1
  *    paying first-touch and run 3 hit by a region-local host stall —
  *    while d08's pass-3 value (0.29 s) proved the artifact was RESIDENT;
  *    under the old "release during pass 1" protocol the first counted
  *    pass structurally mixed cold and warm states, so round-over-round
  *    median diffs compared different states. With the warm-up pass,
  *    artifacts build exactly once — at their family's first warm-up
  *    entry, so the build cost is in runs_warmup — and stay resident for
  *    all counted passes: per-run values are unimodal by construction
  *    and run_totals spread measures host noise, not protocol state.
  *    Skipped in the targeted dev loop (explicit query args) or with
  *    SPARK_GRAFT_WARMUP=0;
  *  - each entry then runs SPARK_GRAFT_BENCH_RUNS times (default 4) and
  *    reports the per-entry MINIMUM. The statistic is deliberate
  *    (round-6 verdict item 2): the graded quantity is the PLAN's cost,
  *    and the dominant run-to-run noise on this host is additive,
  *    heavy-right-tailed environment — a multi-second stop-the-world GC
  *    epoch landing inside a 0.3 s entry (r06: t01 runs [2.8, 2.9, 1.4]
  *    with an unchanged plan). Under that model the median is polluted
  *    whenever ≥2 of 3 runs are hit (exactly the r06 t01/h12 record) while
  *    the min estimates the noise-free cost and still moves on any real
  *    plan regression. Per-run times AND per-run GC-time deltas are all
  *    in BENCH_DETAIL.json (`runs`, `gc_ms`) so tail behavior stays
  *    visible, and the median is recorded alongside (`queries_median`)
  *    for continuity with rounds ≤6 — with the warm-up pass the median
  *    and min should now agree to noise;
  *  - the N runs are INTERLEAVED PASSES over the whole sorted suite
  *    (pass = outer loop), not back-to-back per entry (round-8 verdict
  *    item 2): back-to-back runs share one ~3×-entry time window, so a
  *    sustained host stall poisons ALL runs of an entry and its
  *    neighbors — r8's h10/h11/h12 regressed 2–4× with byte-identical IO
  *    and ~zero GC, exactly that signature. Under passes, the same
  *    entry's runs are separated by a full suite traversal (~2 min), so
  *    a stall must persist across the entire bench to corrupt a min.
  *    At sf0.1 the full artifact set is far below the storage fraction,
  *    so cross-family residency cannot re-create the r6 q03 eviction
  *    incident — and the warm-up pass's released-state times bound the
  *    damage if it ever did;
  *  - per-entry scan IO is recorded from each entry's FINAL run into the
  *    detail `io` block ([[graft.util.ScanStats]]): files listed +
  *    listing bytes (what partition/shard pruning saved), rows decoded
  *    (what row-group stats pruning saved), and filesystem-statistics
  *    bytes (`fs_bytes` — byte-accurate on an object store; on local
  *    parquet it tracks only the metadata path, see ScanStats). At
  *    100 TB bytes-scanned is the cost model, and a pruning regression
  *    must show up as a number, not as noise-sized seconds;
  *  - the operators' artifacts live in [[graft.util.Artifacts]], built
  *    once per version of their source tables (dup groups, IVF/PQ
  *    indexes, semantic-dup sets, the bigram LM, PageRank vectors, the
  *    persistent index tables, and the ANN gates' 50-probe exact-top-3
  *    ground truth — the one artifact whose content is a query-result
  *    fixture rather than an index, admitted because a shared ground
  *    truth is the standard ANN-benchmark discipline and the r17
  *    verdict's explicit boundary: no FURTHER query-result artifacts may
  *    be added). They build once during the warm-up pass (the detail's
  *    `artifact_builds` counts the builds of the warm-up and of the
  *    counted passes) and are RELEASED once, after the counted passes
  *    and before the mode blocks, via
  *    [[graft.util.SessionCache.releaseAll]] — at sf0.1 the whole
  *    artifact set sits far below the storage fraction (the r6 q03
  *    eviction incident needed suite-long pinning at a smaller budget),
  *    and on a cluster the end-of-suite release keeps finished pipelines
  *    from squatting on executor storage;
  *  - every THROTTLED STORE pass records host-noise covariates next to
  *    its wall seconds (r15 verdict item 2: a single-pass 145 s wall
  *    against byte-identical legs was unexplainable from the record):
  *    `_gc_ms` (stop-the-world GC inside the pass), `_load` (system
  *    load average at pass end), `_cpu_s` (this JVM's process-CPU
  *    inside the pass). The BYTE legs stay the claim-bearers; the
  *    covariates let a reader attribute any wall outlier — wall far
  *    above the throttle floor with low own-CPU and high load is host
  *    contention, not a plan regression;
  *  - a mode-comparison pass (the reference benches PULLUP vs
  *    CACHING_ONLY, `fpdb-plan/include/fpdb/plan/Mode.h:13-18`; promised
  *    in BASELINE.md): scan-heavy base tables are warmed through
  *    [[SegmentCache]] (persist() registers the segment with Spark's
  *    CacheManager, which substitutes the in-memory columnar relation
  *    into ANY plan-equal scan), then the same entries re-run unchanged —
  *    cold vs warmed wall-times both reported. The pass also includes a
  *    DERIVED-projection segment (16-way minhash signatures over
  *    documents): its recompute is CPU-bound, so the cache win is visible
  *    even when the OS page cache hides the storage read — the VLDB'21
  *    claim that a hit saves the whole scan+compute path, not just the
  *    fetch, demonstrated in numbers (warm ≥ 2× cold).
  *
  * Output size contract: the driver keeps only the LAST ~2000 chars of
  * the run's output, so the final JSON line must stay WELL under that
  * with room for the epilogue. Three bench records were lost to this
  * exact boundary (r02 truncation, r03/r04 sbt prefixing, r06: the
  * 193-key per-query map outgrew the window and truncated mid-line →
  * `parsed: null`). The LAST stdout line is therefore a COMPACT summary
  * — suite total, run totals, per-FAMILY subtotals (~16 keys, bounded as
  * the suite grows), mode totals, cache counters. Since r18 (r17 verdict
  * item 2: the driver's per-query comparator and CPU-scaling block had
  * no per-entry data to read) a FULL line precedes it — the same record
  * plus the driver contract's per-entry `"queries"` map — positioned
  * FIRST so that a full-stdout reader finds the per-entry seconds while
  * the tail window still ends with the truncation-safe compact line.
  * Every per-query number (seconds per run, median, GC, IO) also lives
  * in `BENCH_DETAIL.json`, which both lines point at.
  */
object Bench {

  /** Family = the alphabetic entry-name prefix ("d" for d08, "ev" for
    * ev03): entries of one family share session artifacts; a family
    * boundary is where those artifacts die. */
  private def family(n: String): String = n.takeWhile(!_.isDigit)

  /** Locale-independent numeric format: JSON needs '.'-decimals, but
    * `"%.3f".format(v)` follows the default locale (comma-decimal on e.g.
    * de_DE → unparseable output), so every number goes through ROOT. */
  private def fmt(dp: Int, v: Double): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  private def jmap(kvs: Seq[(String, Double)], dp: Int): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + fmt(dp, v) }
      .mkString("{", ",", "}")

  /** Lower median of the successful runs; -1 if none succeeded. */
  private def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
  }

  /** Representative statistic: minimum of the successful runs (see the
    * scaladoc — additive heavy-tailed noise model); -1 if none succeeded. */
  private def rep(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** ONE throttle bracket for every throttled-store measurement — the
    * bench blocks store_modes AND partition_router: reset → per-stream bw
    * (SPARK_GRAFT_STORE_MBPS, default 2 MB/s) + 5 ms GET + optional
    * aggregate cap → body → record secs + FS-truth MB → unthrottle. A
    * hand-kept copy per caller is exactly how two measurements drift
    * onto different store physics (r12 review merged the two bench
    * blocks' copies; r13 review moved it to object level). */
  private[graft] def throttledPass(
      out: scala.collection.mutable.ArrayBuffer[(String, Double)],
      family: String, label: String, totalMbps: Long = 0L)(body: => Unit): Unit = {
    import graft.sources.MockObjectFs
    MockObjectFs.reset()
    MockObjectFs.bytesPerSec =
      sys.env.getOrElse("SPARK_GRAFT_STORE_MBPS", "2").toLong << 20
    MockObjectFs.openLatencyMs = 5
    // optional AGGREGATE cap (instance-level network bound) — wall
    // time then tracks TOTAL bytes once streams saturate it; see
    // MockObjectFs.totalBytesPerSec. 0 = per-stream physics only.
    MockObjectFs.totalBytesPerSec = totalMbps << 20
    val g0 = gcMillis()
    val c0 = processCpuNanos()
    val t0 = System.nanoTime()
    // host-noise covariates per pass (r15 verdict item 2): recorded on
    // success AND failure — an attributable record either way
    def covariates(): Unit = {
      out += s"${label}_gc_ms" -> (gcMillis() - g0).toDouble
      val c1 = processCpuNanos()
      out += s"${label}_cpu_s" ->
        (if (c0 < 0 || c1 < 0) -1.0 else (c1 - c0) / 1e9)
      out += s"${label}_load" -> java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    }
    try {
      body
      out += label -> (System.nanoTime() - t0) / 1e9
      out += s"${label}_mb" -> MockObjectFs.bytesRead.get / 1e6
      covariates()
    } catch { case scala.util.control.NonFatal(e) =>
      // NonFatal only (an OOM must propagate, not be logged away), and
      // an explicit -1 marker: a missing key reads as "not run" where
      // this label RAN and failed (r12 ADVICE)
      System.err.println(s"[bench] $family $label failed: ${e.getMessage}")
      out += label -> -1.0
      out += s"${label}_mb" -> -1.0
      covariates()
    } finally {
      MockObjectFs.bytesPerSec = 0L
      MockObjectFs.openLatencyMs = 0L
      MockObjectFs.totalBytesPerSec = 0L
    }
  }

  /** Cumulative stop-the-world GC time of this JVM, milliseconds. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Cumulative CPU time this JVM has consumed, nanoseconds; -1 when the
    * platform bean doesn't expose it. */
  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 4 counted passes (r17, r16 verdict item 6: the r14-class
    // suite total has not reproduced on any host since — one extra pass
    // raises the odds each entry sees a quiet window, and min-of-4 is
    // the same statistic under the same noise model)
    val benchRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "4").toInt)
    val spark = GraftSession.get("graft-bench") // cpus from SPARK_GRAFT_CPUS
    // keep the driver-captured tail clean: INFO/WARN chatter (and
    // shutdown-hook logging) otherwise competes with the JSON line for
    // the ~2000-char capture window
    spark.sparkContext.setLogLevel("ERROR")

    def timeNoop(df: => DataFrame, label: String): Double = {
      val t0 = System.nanoTime()
      try df.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    def runToNoop(name: String): Double =
      timeNoop(SparkEntry.queries(name)(spark, sfDir), name)

    // optional args: run only the named queries (dev loop for targeted
    // timings; skips the mode-comparison pass)
    // distinct: a duplicated arg would share one run buffer under the
    // pass-outer loop and silently report a min over the merged runs
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
                 else args.toSeq.distinct.filter(SparkEntry.queries.contains)

    // the recorded warm-up pass (see the scaladoc): absorbs first-touch
    // and artifact builds; times kept in the detail record only
    val warmupEnabled =
      args.isEmpty && !sys.env.get("SPARK_GRAFT_WARMUP").contains("0")
    val warmupTimes =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val builds0 = graft.util.Artifacts.builds.get
    if (warmupEnabled) {
      // NO family-boundary releases here: each shared artifact builds
      // exactly once (at its family's first warm-up entry, so its build
      // cost is still in runs_warmup) and stays resident through every
      // counted pass — releasing at boundaries left the last-released
      // families cold entering pass 1 (measured: d08 [2.36, 0.09] with
      // releases, unimodal without). Cross-family residency is the same
      // state counted passes always ran in; the end-of-passes releaseAll
      // below still frees everything before the mode blocks.
      wanted.foreach { n => warmupTimes(n) = runToNoop(n) }
    } else {
      // dev loop: one untimed warmup query still touches codegen,
      // parquet reader, shuffle, and broadcast machinery once
      try SparkEntry.queries("q05_star_join")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    val warmupBuilds = graft.util.Artifacts.builds.get - builds0

    // IO + GC instrumentation: taps bracket each entry's FINAL run (the
    // steady-state one — artifacts resident), entirely OUTSIDE the timed
    // window (reset before the clock starts, snapshot after it stops), so
    // the measurement does not perturb the timing.
    val ioTap = graft.util.ScanStats.attach(spark)
    val planTap = graft.util.ScanStats.attachPlans(spark)

    val timesByEntry = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val gcByEntry = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    // per-run host covariates PER ENTRY (r17, r16 verdict item 3: the
    // ev11/ev12/ev13 stall cluster was attributable only by adjacency
    // inference — gc was recorded per run but own-CPU and load were
    // not). cpu_s = this JVM's process-CPU inside the run (wall far
    // above cpu/cores = the JVM was starved or blocked, not computing);
    // load = 1-minute system load average at run end (the contention
    // covariate). The store blocks have carried all three per pass
    // since r15; this brings the per-entry record to parity.
    val cpuByEntry = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val loadByEntry = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val ioByEntry = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long, Long, Long)]
    // per-PASS covariates next to run_totals: one line attributes a
    // slow PASS (vs a slow entry) to gc or host load
    val passGc = scala.collection.mutable.ArrayBuffer.empty[Long]
    val passCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passLoad = scala.collection.mutable.ArrayBuffer.empty[Double]
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    for (pass <- 1 to benchRuns) {
      val finalPass = pass == benchRuns
      val pg0 = gcMillis(); val pc0 = processCpuNanos()
      wanted.foreach { n =>
        if (finalPass) { ioTap.reset(); planTap.reset() }
        val g0 = gcMillis()
        val c0 = processCpuNanos()
        val t = runToNoop(n)
        val c1 = processCpuNanos()
        gcByEntry.getOrElseUpdate(n,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += gcMillis() - g0
        cpuByEntry.getOrElseUpdate(n,
          scala.collection.mutable.ArrayBuffer.empty[Double]) +=
          (if (c0 < 0 || c1 < 0) -1.0 else (c1 - c0) / 1e9)
        loadByEntry.getOrElseUpdate(n,
          scala.collection.mutable.ArrayBuffer.empty[Double]) +=
          osBean.getSystemLoadAverage
        timesByEntry.getOrElseUpdate(n,
          scala.collection.mutable.ArrayBuffer.empty[Double]) += t
        if (finalPass) {
          val (fsBytes, _) = ioTap.snapshot()
          val shuffleBytes = ioTap.shuffleBytes()
          val (files, filesBytes, scanRows) = planTap.snapshot()
          ioByEntry(n) = (files, filesBytes, scanRows, fsBytes, shuffleBytes)
        }
      }
      passGc += gcMillis() - pg0
      val pc1 = processCpuNanos()
      passCpu += (if (pc0 < 0 || pc1 < 0) -1.0 else (pc1 - pc0) / 1e9)
      passLoad += osBean.getSystemLoadAverage
    }
    val allRuns: Seq[(String, Seq[Double])] =
      wanted.map(n => n -> timesByEntry(n).toSeq)
    val countedBuilds = graft.util.Artifacts.builds.get - builds0 - warmupBuilds
    graft.util.SessionCache.releaseAll(spark)
    val results = allRuns.map { case (n, rs) => n -> rep(rs) }
    val medians = allRuns.map { case (n, rs) => n -> median(rs) }

    // ---- mode comparison: cold (storage scan) vs warmed (SegmentCache) --
    // The local analog of the reference's PULLUP vs CACHING_ONLY: cold
    // drops the OS page cache before each entry so the scan is a real
    // storage read (standing in for the reference's S3 fetch); warm runs
    // the SAME entries against SegmentCache-resident segments (JVM
    // memory, immune to the page-cache drop). Whole-table segments:
    // column pruning still applies at the InMemoryRelation scan, so one
    // segment serves every projection of the table. MeasuredWLFU loads
    // eagerly and records the load wall-time as the eviction weight.
    // Dropping /proc/sys/vm/drop_caches evicts EVERY process's page cache —
    // a host-wide side effect — so it is opt-in (SPARK_GRAFT_DROP_CACHES=1);
    // the default path only warns that "cold" times are page-cached.
    val dropEnabled = sys.env.get("SPARK_GRAFT_DROP_CACHES").contains("1")
    def dropPageCache(): Unit =
      if (!dropEnabled)
        System.err.println("[bench] page-cache drop disabled (set SPARK_GRAFT_DROP_CACHES=1); cold times are page-cached")
      else try java.nio.file.Files.write(
        java.nio.file.Paths.get("/proc/sys/vm/drop_caches"), "3\n".getBytes)
      catch { case e: Throwable =>
        System.err.println(s"[bench] page-cache drop unavailable ($e); cold times are page-cached") }

    // The derived-projection segment: the TF-IDF top-terms table — an
    // expensive derived artifact (two corpus aggregations + join + window)
    // that several text-pipeline consumers share, the segment shape whose
    // cache win does NOT depend on dropping the page cache: cold pays the
    // whole recompute, warm reads the in-memory columnar relation. This is
    // where MeasuredWLFU's measured load weight means something — the
    // segment's benefit-per-hit is its ~10× recompute cost.
    val DerivedEntry = "dm01_tfidf_segment"
    def derivedFrame(): DataFrame =
      SparkEntry.queries("t07_tfidf")(spark, sfDir)

    // single-table scan-bound entries over the largest tables — the
    // shapes where segment residency is the dominant term — plus the
    // derived-projection entry. Single timed run per mode: a cold state
    // cannot be re-entered reliably (a host layer below the guest page
    // cache serves re-reads), so the first access after the drop IS the
    // cold measurement.
    val modeEntries = (Seq("q01_group_agg", "q03_filter_project",
      "q13_sort_multi", "q14_topk", "q16_date_ops",
      "t01_token_count", "t02_quality", "t03_langid")
      .filter(SparkEntry.queries.contains)) :+ DerivedEntry
    def modeRun(n: String): Double =
      if (n == DerivedEntry) timeNoop(derivedFrame(), n) else runToNoop(n)

    // The segment each warm entry consults: the reference's planner asks
    // its cache "is this segment resident?" per query (`fpdb-cache`
    // SegmentCacheActor hit/miss accounting); the analogous lookup here is
    // a `cache.get` on the entry's base-table segment before the warm run
    // (a hit — the segment was loaded above; the producer thunk is never
    // evaluated). This is what makes the reported hit counter mean "warm
    // queries that found their segment", not just "loads".
    def segmentOf(entry: String): SegmentKey =
      if (entry == DerivedEntry)
        SegmentKey(DerivedEntry, derivedFrame().columns.toSeq)
      else {
        // per-entry BASE table — q13 scans supplier and q14 orders; a
        // blanket "lineitem" mapping recorded bogus hits for them while
        // their warm runs read genuinely cold tables from storage
        val t = entry match {
          case e if e.startsWith("t") => "documents"
          case "q13_sort_multi"       => "supplier"
          case "q14_topk"             => "orders"
          case _                      => "lineitem"
        }
        SegmentKey(t, Tables.load(spark, sfDir, t).columns.toSeq)
      }

    val (cold, warm, loads, counters) = if (args.nonEmpty) (Nil, Nil, Nil, Nil) else {
      val cold = modeEntries.map { n => dropPageCache(); n -> modeRun(n) }
      val cache = new SegmentCache(4L << 30, MeasuredWLFU)
      dropPageCache() // the warm-up load pays the storage read, once
      val loads = Seq("lineitem", "documents", "supplier", "orders").map { t =>
        val t0 = System.nanoTime()
        val df = Tables.load(spark, sfDir, t)
        cache.get(SegmentKey(t, df.columns.toSeq))(df)
        t -> (System.nanoTime() - t0) / 1e9
      } :+ {
        val t0 = System.nanoTime()
        cache.get(SegmentKey(DerivedEntry, derivedFrame().columns.toSeq))(derivedFrame())
        DerivedEntry -> (System.nanoTime() - t0) / 1e9
      }
      dropPageCache() // prove warm runs never touch storage
      val warm = modeEntries.map { n =>
        val k = segmentOf(n)
        // by-name producer: evaluated only if the segment was somehow
        // evicted (then the lookup is an honest miss + reload)
        cache.get(k)(
          if (n == DerivedEntry) derivedFrame() else Tables.load(spark, sfDir, k.table))
        n -> modeRun(n)
      }
      // the reference's cache metrics block: hits/misses/evictions per
      // bench run (round-6 verdict item 6) — recorded BEFORE teardown
      val counters = Seq(
        "hits" -> cache.hits.toDouble,
        "misses" -> cache.misses.toDouble,
        "evictions" -> cache.evictions.toDouble,
        "used_mb" -> (cache.usedBytes.toDouble / (1 << 20)))
      cache.invalidateAll()
      (cold, warm, loads, counters)
    }

    // ---- whole-suite scan-mode comparison (round-9 verdict item 2) -----
    // The reference's actual evaluation discipline: the ENTIRE 13-query
    // SSB family under each Mode.h mode (its `exec.conf` knob;
    // `HybridTest.cpp` / `fpdb-main/bench` sweep suites this way), every
    // leaf routed through AdaptiveScanRouter. Caching/hybrid report cold
    // (first pass populates segments) and warm (resident) totals; hybrid
    // pre-admits the partial lineitem ordinal segment so the router has a
    // zip to discover, and the warm pass's Hybrid route count is recorded
    // as proof the suite actually exercised the merge path.
    val scanModes: Seq[(String, Double)] = if (args.nonEmpty) Nil else {
      def timedSuite(mode: ScanMode, router: AdaptiveScanRouter): Double =
        SsbCorpus.names.map { n =>
          val t0 = System.nanoTime()
          try {
            ModeExec.runQueryMode(spark, sfDir, SsbCorpus.sql(n), mode, router)(
              _.write.format("noop").mode("overwrite").save())
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] mode-${mode.name} $n failed: ${e.getMessage}")
            -1.0
          }
        }.filter(_ >= 0).sum
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      for (mode <- ScanMode.all) {
        val cache = new SegmentCache(1L << 30, LRU)
        if (mode == ModeHybrid)
          HybridScan.mergedScan(spark, sfDir, "lineitem",
            cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
            fetchCols = Seq("l_shipdate"), fetchPredicate = None,
            cache = cache).count()
        mode match {
          case ModeCachingOnly | ModeHybrid =>
            out += s"${mode.name}_cold" -> timedSuite(mode,
              new AdaptiveScanRouter(cache, pushdownSlots = 64))
            val warmRouter = new AdaptiveScanRouter(cache, pushdownSlots = 64)
            out += s"${mode.name}_warm" -> timedSuite(mode, warmRouter)
            if (mode == ModeHybrid)
              out += "hybrid_routes" -> warmRouter.hybrids.toDouble
          case _ =>
            out += mode.name -> timedSuite(mode,
              new AdaptiveScanRouter(cache, pushdownSlots = 64))
        }
        cache.invalidateAll()
      }
      out.toSeq
    }

    // ---- store-regime comparison: FS-truth bytes on throttled mockfs ----
    // scan_modes above times the family on local NVMe, where bytes are
    // nearly free and hybrid honestly pays its zip premium. This block
    // reruns it on the instrumented mockfs scheme with per-stream
    // bandwidth throttled (SPARK_GRAFT_STORE_MBPS, default 2 MB/s — the
    // measured crossover regime where hybrid's byte savings repay the
    // zip premium 1.6x; r10's store-modes sweep measured 32/8/2 MB/s)
    // plus 5 ms/GET, and records, per pass, wall seconds AND the
    // megabytes that crossed the simulated store boundary — the quantity
    // a 100 TB deployment is billed in. Pullup is omitted: it moves the
    // same bytes as pushdown on this unclustered data and its local
    // number is already in scan_modes. The queries are JIT-warm from the
    // scan_modes block above.
    val storeModes: Seq[(String, Double)] =
      if (args.nonEmpty || !sfDir.startsWith("/")) Nil else {
        import graft.sources.MockObjectFs
        spark.sparkContext.hadoopConfiguration
          .set("fs.mockfs.impl", classOf[MockObjectFs].getName)
        val mdir = s"mockfs:$sfDir"
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        def passOf(queries: Seq[String])(label: String, mode: ScanMode,
            router: AdaptiveScanRouter): Unit =
          throttledPass(out, "store-mode", label) {
            queries.foreach { sql =>
              ModeExec.runQueryMode(spark, mdir, sql, mode, router)(
                _.write.format("noop").mode("overwrite").save())
            }
          }
        // ONE sweep discipline for every corpus, so the two families'
        // mode comparisons can never diverge by hand-kept copies:
        // pushdown / caching cold+warm / hybrid prime + cold + warm +
        // zip-route counter, fresh cache per mode. `capacity`/`policy`
        // re-run the stateful modes at a CAPACITY POINT (the §18.1
        // crossover methodology); `statefulOnly` skips the
        // capacity-independent pushdown pass there (its number is the
        // full-capacity sweep's, unchanged by cache size).
        def modeSweep(prefix: String, queries: Seq[String],
            capacity: Long = 1L << 30,
            policy: graft.cache.CachePolicy = LRU,
            statefulOnly: Boolean = false): Unit = {
          val pass = passOf(queries) _
          def lbl(x: String) = if (prefix.isEmpty) x else s"${prefix}_$x"
          if (!statefulOnly) {
            val pdCache = new SegmentCache(capacity, policy)
            pass(lbl("pushdown"), ModePushdownOnly,
              new AdaptiveScanRouter(pdCache, pushdownSlots = 64))
            pdCache.invalidateAll()
          }
          val cCache = new SegmentCache(capacity, policy)
          pass(lbl("caching_cold"), ModeCachingOnly,
            new AdaptiveScanRouter(cCache, pushdownSlots = 64))
          pass(lbl("caching_warm"), ModeCachingOnly,
            new AdaptiveScanRouter(cCache, pushdownSlots = 64))
          cCache.invalidateAll()
          val hCache = new SegmentCache(capacity, policy)
          // hybrid's premise is partial cache state left by prior
          // workload: prime unthrottled (scenario setup, not a measured
          // store cost)
          HybridScan.mergedScan(spark, mdir, "lineitem",
            cachedCols = Seq("l_extendedprice", "l_discount", "l_quantity"),
            fetchCols = Seq("l_shipdate"), fetchPredicate = None,
            cache = hCache).count()
          // cold: repeated column sets trip the router's hot-admission
          // loop mid-pass; warm: those self-admitted segments serve
          // cache-side, so the bytes delta cold→warm is the caching HALF
          // of hybrid mode working (the route mix is the zip half)
          pass(lbl("hybrid_cold"), ModeHybrid,
            new AdaptiveScanRouter(hCache, pushdownSlots = 64))
          val hRouter = new AdaptiveScanRouter(hCache, pushdownSlots = 64)
          pass(lbl("hybrid_warm"), ModeHybrid, hRouter)
          out += lbl("hybrid_routes") -> hRouter.hybrids.toDouble
          hCache.invalidateAll()
        }
        modeSweep("", SsbCorpus.names.map(SsbCorpus.sql))
        // the SAME discipline over the reference's OTHER corpus, in
        // full: all 22 TPC-H queries (the reference's `TPCHBench.cpp`
        // benches this family wholesale; r11 ran a two-pole h01/h06
        // subset). TPC-H's shapes are exactly where the mode discipline
        // earns or loses differently from SSB: ~22 distinct lineitem
        // column sets mean few repeat often enough to promote, so
        // hybrid keeps paying per-query fetch bytes where SSB's
        // repeated sets go resident (measured r12: hybrid_warm moves
        // 43.8 MB vs caching_warm's 0 — and is WALL-SLOWER than its own
        // cold pass, because narrower zip fetches run fewer concurrent
        // throttled streams; honest physics, recorded, not tuned away).
        val tpchAll = graft.operators.TpchCorpus.ids
          .map(graft.operators.TpchCorpus.sql)
        modeSweep("tpch", tpchAll)
        // the §18.1 capacity crossover, re-asked on TPC-H: at 24 MB
        // (where SSB's hybrid beat caching 1.5× time / 2.3× bytes under
        // measured-size admission) do TPC-H's wider, less-repetitive
        // column sets keep the crossover? Stateful modes only —
        // pushdown is capacity-independent (its row is tpch_pushdown).
        modeSweep("tpch24mb", tpchAll, capacity = 24L << 20,
          policy = graft.cache.MeasuredWLFU, statefulOnly = true)
        out.toSeq
      }

    // ---- per-partition router economics (r12): the day-partitioned
    // events copy on the throttled store, cache capacity BELOW the
    // table but ABOVE the hot region — the regime the reference's
    // per-partition SegmentKey exists for. A whole-table promotion has
    // nothing to offer here (the full-table segment can never fit, so
    // every admission attempt is refused and every query pays storage
    // forever); the per-partition router admits the hot DAYS as
    // individual region-keyed segments on their second access, serves
    // them resident from the third, and routes a wider span hybrid:
    // hot days cache-side, cold days in one partition-pruned pushdown.
    val partitionModes: Seq[(String, Double)] =
      if (args.nonEmpty || !sfDir.startsWith("/")) Nil else {
        import graft.sources.MockObjectFs
        import org.apache.spark.sql.functions.{col, lit, count => fCount, sum => fSum}
        // the block registers its own scheme — running it must not
        // depend on the store_modes block having executed first
        spark.sparkContext.hadoopConfiguration
          .set("fs.mockfs.impl", classOf[MockObjectFs].getName)
        // BENCH-SCALE copy (×64 rows, ~4 files/day — r12 verdict item 6):
        // the correctness fixture's 83 KB single-file days made this
        // block plan-overhead-dominated, so its 1.45× byte win showed no
        // wall win (10 vs 15 one-file reads both run fully parallel
        // under a per-stream throttle). The scaled copy plus the
        // AGGREGATE cap below put the block in the regime the feature
        // exists for: wall time tracks the bytes that cross the store.
        val local = graft.sources.Layout.partitionedEventsScaled(spark, sfDir)
        val mpath = s"mockfs:$local"
        // aggregate (instance-level) bandwidth for this block: 4 MB/s —
        // two per-stream connections' worth, saturated by every pass
        val totalMbps =
          sys.env.getOrElse("SPARK_GRAFT_STORE_TOTAL_MBPS", "4").toLong
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        def du(f: java.io.File): Long = Option(f.listFiles())
          .map(_.map(x => if (x.isDirectory) du(x) else x.length()).sum)
          .getOrElse(0L)
        // capacity = the table's DISK bytes: segments are admitted at
        // MEASURED in-memory columnar bytes, ~2-3× the jittered parquet
        // bytes (r13 measured), so this holds the 5-day hot region
        // (~1/6 of the 30-day span) with headroom and can never hold
        // the whole table — the regime the per-partition unit exists
        // for (the old tableBytes/3 rule priced against disk bytes and
        // silently refused 3 of the 5 hot days once the fixture grew)
        val tableBytes = du(new java.io.File(local))
        val cache = new SegmentCache(math.max(1L << 20, tableBytes),
          MeasuredWLFU)
        val router = new AdaptiveScanRouter(cache, pushdownSlots = 64,
          hotAdmitAfter = 2)
        val cols = Seq("event_type", "value", "day")
        def window(lo: String, hi: String) =
          col("day") >= lit(lo).cast("date") &&
            col("day") <= lit(hi).cast("date")
        def pass(label: String, lo: String, hi: String,
            r: AdaptiveScanRouter,
            mode: HybridScan.ScanMode = ModeHybrid): Unit =
          throttledPass(out, "partition-router", label, totalMbps) {
            val lease = r.scanPartitionedMode(spark, mpath,
              "events_by_day", cols, window(lo, hi), "day", mode)
            // sum(value) so the pass READS the incompressible double
            // column: a count-only aggregate prunes to the dictionary-
            // encoded event_type chunk (~KBs) and the block measures
            // plan overhead instead of byte economics (r13 measured)
            try lease.df.groupBy(col("event_type"))
              .agg(fCount(lit(1)), fSum(col("value")))
              .write.format("noop").mode("overwrite").save()
            finally lease.close()
          }
        // the hot 5-day region: miss → heat (per-day admission on the
        // second access) → resident on the third
        pass("hot_cold", "2024-01-05", "2024-01-09", router)
        pass("hot_admit", "2024-01-05", "2024-01-09", router)
        pass("hot_warm", "2024-01-05", "2024-01-09", router)
        out += "days_resident" -> cache.keys.count(_.region.nonEmpty).toDouble
        out += "table_segments" -> cache.keys.count(_.region.isEmpty).toDouble
        // a 15-day span over the warm cache vs the same span cache-less
        pass("wide_hybrid", "2024-01-05", "2024-01-19", router)
        pass("wide_pushdown", "2024-01-05", "2024-01-19",
          new AdaptiveScanRouter(new SegmentCache(1L << 30, LRU),
            pushdownSlots = 64), ModePushdownOnly)
        cache.invalidateAll()
        out.toSeq
      }

    // ---- per-SHARD router economics on the throttled store (r14): the
    // reference's SegmentKey RANGE leg. A 16-shard range-sharded CSV
    // orders copy (shard summary built at write) on the instrumented
    // scheme, same per-stream + aggregate physics as the other blocks:
    //  - noprune vs prune (pushdown-only, same query): the BYTES the
    //    zone sidecar alone removes — this is z01's claim with wall time
    //    and FS-truth bytes attached at bench scale;
    //  - the per-shard hot ladder (cold → admit → warm): warm serves the
    //    pruned window from shard-keyed residents, ~zero store bytes;
    //  - wide_hybrid vs wide_pushdown: a wider key span over the warm
    //    cache vs the same span cache-less — hot shards serve cache-side
    //    while the cold shards ride one multi-path scan.
    val shardModes: Seq[(String, Double)] =
      if (args.nonEmpty || !sfDir.startsWith("/")) Nil else {
        import graft.sources.{MockObjectFs, ZoneMapPruner}
        import org.apache.spark.sql.functions.{col, lit, count => fCount, sum => fSum}
        spark.sparkContext.hadoopConfiguration
          .set("fs.mockfs.impl", classOf[MockObjectFs].getName)
        val (localSpec, localSummary) =
          ZoneMapPruner.shardedOrdersN(spark, sfDir, 16, "orders_zonemap_csv_x16")
        def m(p: String) =
          "mockfs:" + new org.apache.hadoop.fs.Path(p).toUri.getPath
        val spec = localSpec.copy(paths = localSpec.paths.map(m))
        val zones = localSummary.zones.map(z => z.copy(path = m(z.path)))
          .sortBy(_.ranges("o_orderkey")._1)
        // thresholds derived from the zones themselves (scale-free):
        // narrow keeps ~2/16 shards, wide ~5/16. Indices CLAMPED: a
        // small/skewed fixture can emit fewer than 5 non-empty part
        // files and a raw zones(4) would die IndexOutOfBounds (r14
        // ADVICE) — the block still runs, just with less headroom
        if (zones.size < 5)
          System.err.println(s"[bench] shard-router fixture has only " +
            s"${zones.size} shards; narrow/wide thresholds clamped")
        val narrowK =
          zones(math.min(1, zones.size - 1)).ranges("o_orderkey")._2.toLong
        val wideK =
          zones(math.min(4, zones.size - 1)).ranges("o_orderkey")._2.toLong
        val totalMbps =
          sys.env.getOrElse("SPARK_GRAFT_STORE_TOTAL_MBPS", "4").toLong
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        val cache = new SegmentCache(1L << 30, LRU)
        val router = new AdaptiveScanRouter(cache, pushdownSlots = 64,
          hotAdmitAfter = 2)
        def pass(label: String, k: Long, r: AdaptiveScanRouter,
            mode: HybridScan.ScanMode,
            zonePreds: Seq[ZoneMapPruner.RangePred]): Unit =
          throttledPass(out, "shard-router", label, totalMbps) {
            val lease = r.scanShardedMode(spark, spec,
              "orders_sharded_bench", zones, zonePreds,
              Seq("o_orderstatus", "o_totalprice"),
              col("o_orderkey") <= lit(k), mode)
            try lease.df.groupBy(col("o_orderstatus"))
              .agg(fCount(lit(1)), fSum(col("o_totalprice")))
              .write.format("noop").mode("overwrite").save()
            finally lease.close()
          }
        def freshRouter() = new AdaptiveScanRouter(
          new SegmentCache(1L << 30, LRU), pushdownSlots = 64)
        val leN = Seq(ZoneMapPruner.Le("o_orderkey", narrowK.toDouble))
        val leW = Seq(ZoneMapPruner.Le("o_orderkey", wideK.toDouble))
        pass("noprune_pushdown", narrowK, freshRouter(), ModePushdownOnly, Nil)
        pass("prune_pushdown", narrowK, freshRouter(), ModePushdownOnly, leN)
        pass("hot_cold", narrowK, router, ModeHybrid, leN)
        pass("hot_admit", narrowK, router, ModeHybrid, leN)
        pass("hot_warm", narrowK, router, ModeHybrid, leN)
        out += "shards_resident" -> cache.keys.count(_.region.nonEmpty).toDouble
        out += "table_segments" -> cache.keys.count(_.region.isEmpty).toDouble
        pass("wide_hybrid", wideK, router, ModeHybrid, leW)
        pass("wide_pushdown", wideK, freshRouter(), ModePushdownOnly, leW)
        cache.invalidateAll()
        // STRING-typed zone pruning at bench scale (r16 §23.1): the
        // status-sharded layout under `o_orderstatus = 'F'`, byte legs
        // with and without the string zone predicate — z09's claim with
        // FS-truth bytes attached (the numeric twin is noprune/prune
        // above). Fresh routers: both passes must pay storage.
        val (sSpecL, sSummaryL) = ZoneMapPruner.statusShardedOrders(spark, sfDir)
        val sSpec = sSpecL.copy(paths = sSpecL.paths.map(m))
        val sZones = sSummaryL.zones.map(z => z.copy(path = m(z.path)))
        def sPass(label: String,
            zonePreds: Seq[ZoneMapPruner.RangePred]): Unit =
          throttledPass(out, "shard-router", label, totalMbps) {
            val lease = freshRouter().scanShardedMode(spark, sSpec,
              "orders_statuszone_bench", sZones, zonePreds,
              Seq("o_orderpriority", "o_totalprice"),
              col("o_orderstatus") === "F", ModePushdownOnly)
            try lease.df.groupBy(col("o_orderpriority"))
              .agg(fCount(lit(1)), fSum(col("o_totalprice")))
              .write.format("noop").mode("overwrite").save()
            finally lease.close()
          }
        sPass("str_noprune", Nil)
        sPass("str_prune", Seq(ZoneMapPruner.SEq("o_orderstatus", "F")))
        // BLOOM membership pruning at bench scale (r17, r16 verdict item
        // 5): the hash-bucketed point-lookup layout where zone maps
        // prune NOTHING (every shard spans the key domain) — byte legs
        // without the sketch, with it (z02's ~1-of-8 claim), and the IN
        // shape (z15's per-member union, ~2-of-8). Zones are synthesized
        // bound-free exactly as the conf route does for a summary with no
        // zone columns; the kept list is pre-filtered by membership, the
        // same decision [[graft.plans.ModeExec.bloomKeeps]] makes.
        // Fresh routers: every pass must pay storage.
        import graft.sources.BloomPruner
        val (bSpecL, bSummary) = BloomPruner.shardedByCustkey(spark, sfDir)
        val bBlooms = bSummary.blooms.head.shards
        val bSpec = bSpecL.copy(paths = bSpecL.paths.map(m))
        val bZonesAll = bSpecL.paths.map(p =>
          graft.sources.ShardZoneMap(m(p), Map.empty))
        def bKeep(keys: Long*): Set[String] = keys.flatMap(k =>
          BloomPruner.prune(bBlooms, k).map(b =>
            new org.apache.hadoop.fs.Path(b.path).toUri.getPath)).toSet
        def bPass(label: String, zones: Seq[graft.sources.ShardZoneMap],
            pred: org.apache.spark.sql.Column): Unit =
          throttledPass(out, "shard-router", label, totalMbps) {
            val lease = freshRouter().scanShardedMode(spark, bSpec,
              "orders_bloom_bench", zones, Nil,
              Seq("o_orderstatus", "o_totalprice"), pred, ModePushdownOnly)
            try lease.df.groupBy(col("o_orderstatus"))
              .agg(fCount(lit(1)), fSum(col("o_totalprice")))
              .write.format("noop").mode("overwrite").save()
            finally lease.close()
          }
        def inKeep(zones: Seq[graft.sources.ShardZoneMap], keys: Long*) = {
          val keep = bKeep(keys: _*)
          zones.filter(z =>
            keep.contains(new org.apache.hadoop.fs.Path(z.path).toUri.getPath))
        }
        bPass("bloom_noprune", bZonesAll, col("o_custkey") === lit(42L))
        bPass("bloom_prune", inKeep(bZonesAll, 42L),
          col("o_custkey") === lit(42L))
        bPass("bloom_in_prune", inKeep(bZonesAll, 42L, 900L),
          col("o_custkey").isin(42L, 900L))
        out.toSeq
      }

    // ---- predicate-transfer economics on the throttled store (r15,
    // r14 verdict item 8): the p04 backward-leg shape measured with
    // FS-truth store bytes AND shuffle bytes, auto rule OFF vs ON.
    // A semi join prunes ROWS downstream of the scan, so the store-byte
    // legs are expected ~equal — transfer's measurable win here is
    // SHUFFLE-side: the hinted broadcast semi prunes the dim's rows
    // MAP-side, before its exchange — which is why each pass records
    // its shuffle delta (`*_shuffle_mb`). The broadcast threshold is
    // bracketed just under the PRUNED dim side of the rule-off plan
    // (the AutoSemiReductionSpec discipline — column pruning shrinks
    // the join's dim input far below the table estimate, so a
    // table-level bracket would leave everything broadcast and nothing
    // to measure, as the first cut of this block did).
    val predTransModes: Seq[(String, Double)] =
      if (args.nonEmpty || !sfDir.startsWith("/")) Nil else {
        import graft.sources.MockObjectFs
        import org.apache.spark.sql.functions.{col, lit, count => fCount, sum => fSum}
        spark.sparkContext.hadoopConfiguration
          .set("fs.mockfs.impl", classOf[MockObjectFs].getName)
        def shape(): DataFrame = {
          val li = spark.read.parquet(s"mockfs:$sfDir/lineitem.parquet")
            .filter(col("l_quantity") < 10)
          li.join(spark.read.parquet(s"mockfs:$sfDir/orders.parquet"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(fCount(lit(1)), fSum(col("l_extendedprice")))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val prevRule = spark.conf.getOption("spark.graft.autoSemiReduction")
        spark.conf.set("spark.graft.autoSemiReduction", "false")
        // guarded min: an optimizer that collapsed the join (it should
        // not) must skip the block, not kill the whole bench record
        val dimSides =
          try shape().queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.flatMap(j => Seq(j.left.stats.sizeInBytes, j.right.stats.sizeInBytes))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] pred-trans probe failed: $e"); Nil }
        val dimSize = if (dimSides.isEmpty) BigInt(0) else dimSides.min
        // threshold one STEP below the smallest pruned side, not one
        // byte (r17, r16 verdict item 8): AQE re-evaluates broadcast
        // against RUNTIME sizes, and a −1-byte bracket sits on the
        // knife edge — the sel_trans leg flipped between ~0.6 and
        // ~2.9 MB across same-code runs. A 10% margin keeps ordinary
        // runtime-vs-estimate jitter from crossing the boundary, so the
        // rule's own effect is the only variable in the leg.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (dimSize * 9 / 10).max(1).toString)
        try if (dimSides.nonEmpty) {
          def run(label: String, ruleOn: Boolean): Unit = {
            spark.conf.set("spark.graft.autoSemiReduction", ruleOn.toString)
            throttledPass(out, "pred-trans", label) {
              val sh0 = ioTap.shuffleBytes()
              shape().write.format("noop").mode("overwrite").save()
              out += s"${label}_shuffle_mb" ->
                (ioTap.shuffleBytes() - sh0) / 1e6
            }
          }
          run("notrans", ruleOn = false)
          run("trans", ruleOn = true)
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
          prevRule match {
            case Some(v) => spark.conf.set("spark.graft.autoSemiReduction", v)
            case None    => spark.conf.unset("spark.graft.autoSemiReduction")
          }
        }
        // the PAY-shape pair: the FILTERED side is the SMALL table
        // (orders, one priority class ≈ 20% measured) and the reduced
        // dim is the 4x-bigger, wide LINEITEM — the key-scan cost is a
        // quarter-table key column while the shuffle saved is ~80% of
        // the fact table's payload width. The first pair's li-as-fact
        // shape is the leg's break-even by construction (key scan
        // rivals the dim shuffle); this is the shape the gate exists to
        // admit. Same probe-and-bracket discipline.
        def shapeSel(): DataFrame = {
          val ord = spark.read.parquet(s"mockfs:$sfDir/orders.parquet")
            .filter(col("o_orderpriority") === "1-URGENT")
          ord.join(spark.read.parquet(s"mockfs:$sfDir/lineitem.parquet"),
              col("o_orderkey") === col("l_orderkey"))
            .groupBy(col("l_returnflag"), col("l_linestatus"))
            .agg(fCount(lit(1)), fSum(col("l_extendedprice")),
              fSum(col("l_quantity")))
        }
        spark.conf.set("spark.graft.autoSemiReduction", "false")
        val selSides =
          try shapeSel().queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.flatMap(j => Seq(j.left.stats.sizeInBytes, j.right.stats.sizeInBytes))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] pred-trans sel probe failed: $e"); Nil }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          // same 10%-margin bracket as above (r16 verdict item 8)
          ((if (selSides.isEmpty) BigInt(0) else selSides.min) * 9 / 10)
            .max(1).toString)
        try if (selSides.nonEmpty) {
          def runSel(label: String, ruleOn: Boolean): Unit = {
            spark.conf.set("spark.graft.autoSemiReduction", ruleOn.toString)
            throttledPass(out, "pred-trans", label) {
              val sh0 = ioTap.shuffleBytes()
              shapeSel().write.format("noop").mode("overwrite").save()
              out += s"${label}_shuffle_mb" ->
                (ioTap.shuffleBytes() - sh0) / 1e6
            }
          }
          runSel("sel_notrans", ruleOn = false)
          runSel("sel_trans", ruleOn = true)
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
          prevRule match {
            case Some(v) => spark.conf.set("spark.graft.autoSemiReduction", v)
            case None    => spark.conf.unset("spark.graft.autoSemiReduction")
          }
        }
        out.toSeq
      }

    // ---- star-shape transfer economics (r17, r16 verdict item 7): the
    // p05 two-dim star — a selectively-filtered fact joining TWO
    // over-threshold dims — measured rule-off vs rule-on with PER-DIM
    // shuffle legs, so the multi-hop backward claim carries FS-truth
    // numbers like the single-edge block above. One deliberate delta
    // from p05's literal SQL: its `o_orderkey % 43 = 0` filter is ON
    // the lineitem join key, so Catalyst's constraint propagation
    // pushes it onto lineitem directly and the backward semi has
    // nothing left to cut on that edge (measured: identical li legs
    // rule-off/on; the probe plan shows the propagated Filter on the
    // scan). The block filters on o_orderpriority instead — a fact
    // predicate NO dim key can express, the shape where backward
    // transfer is the ONLY mechanism that reduces either dim.
    // Per-dim attribution reads each ShuffleExchange's own
    // `shuffleBytesWritten` metric off the executed plan and assigns it
    // by the exchange's hash-partitioning key: `l_orderkey` = the
    // lineitem dim's leg, `c_custkey` = the customer dim's leg (the
    // fact-chain and aggregate exchanges partition on other keys). The
    // rule-on legs shrink because each hinted backward semi prunes the
    // dim's rows MAP-SIDE, before its exchange.
    val predTransStar: Seq[(String, Double)] =
      if (args.nonEmpty || !sfDir.startsWith("/")) Nil else {
        import graft.sources.MockObjectFs
        import org.apache.spark.sql.functions.{col, lit, count => fCount, sum => fSum}
        spark.sparkContext.hadoopConfiguration
          .set("fs.mockfs.impl", classOf[MockObjectFs].getName)
        def shapeStar(): DataFrame = {
          val ord = spark.read.parquet(s"mockfs:$sfDir/orders.parquet")
            .filter(col("o_orderdate") >= "2001-06-01")
          ord.join(spark.read.parquet(s"mockfs:$sfDir/lineitem.parquet"),
              col("o_orderkey") === col("l_orderkey"))
            .join(spark.read.parquet(s"mockfs:$sfDir/customer.parquet"),
              col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_mktsegment"), col("l_returnflag"))
            .agg(fCount(lit(1)), fSum(col("l_extendedprice")))
        }
        // every shuffle exchange of an executed plan (through AQE's
        // stage wrappers), with its hash-partitioning key names and its
        // own bytes-written metric
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        def collectExchanges(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[ShuffleExchangeLike] =
          p.collectWithSubqueries {
            case e: ShuffleExchangeLike => Seq(e)
            case a: AdaptiveSparkPlanExec => collectExchanges(a.executedPlan)
            case q: QueryStageExec => collectExchanges(q.plan)
          }.flatten
        def exchangeLegs(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[(Seq[String], Long)] =
          collectExchanges(p).map { e =>
            val keys = e.outputPartitioning match {
              case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
                h.expressions.collect {
                  case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
                }
              case _ => Nil
            }
            val bytes = e.metrics.get("shuffleBytesWritten")
              .orElse(e.metrics.get("dataSize")).map(_.value).getOrElse(0L)
            (keys, bytes)
          }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val prevRule = spark.conf.getOption("spark.graft.autoSemiReduction")
        spark.conf.set("spark.graft.autoSemiReduction", "false")
        val starSides =
          try shapeStar().queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.flatMap(j => Seq(j.left.stats.sizeInBytes, j.right.stats.sizeInBytes))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] pred-trans star probe failed: $e"); Nil }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          // the same 10%-margin bracket as the pair blocks (item 8)
          ((if (starSides.isEmpty) BigInt(0) else starSides.min) * 9 / 10)
            .max(1).toString)
        // AQE OFF for this block only (the pair blocks above keep it):
        // under store latency AQE's stage-completion ORDER decides which
        // exchanges still exist when re-optimization runs — measured
        // same-HEAD runs had the li leg at 0 (exchange eliminated),
        // 0.23 MB (created before the fact stats landed), and 1.9 MB
        // (created before the semi's stats landed). With the static
        // plan both dim exchanges always exist and the legs measure
        // exactly one thing: the rows the hinted backward semis removed
        // before each dim's shuffle (the hints are planner hints —
        // honored without AQE).
        val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try if (starSides.nonEmpty) {
          def runStar(label: String, ruleOn: Boolean): Unit = {
            spark.conf.set("spark.graft.autoSemiReduction", ruleOn.toString)
            throttledPass(out, "pred-trans-star", label) {
              val df = shapeStar()
              val sh0 = ioTap.shuffleBytes()
              // collect, not noop write: the per-exchange metrics live
              // on THIS QueryExecution's executed plan (a write action
              // builds its own, invisible one); the result is ~15 group
              // rows, so driver pressure is nil and the full scan/join/
              // agg work still runs
              df.collect()
              out += s"${label}_shuffle_mb" ->
                (ioTap.shuffleBytes() - sh0) / 1e6
              val legs = exchangeLegs(df.queryExecution.executedPlan)
              if (sys.env.get("SPARK_GRAFT_STAR_DEBUG").contains("1")) {
                System.err.println(s"[star-debug] $label exchanges: " +
                  legs.map { case (k, b) => s"[${k.mkString(",")}]=$b" }
                    .mkString(" "))
                System.err.println(s"[star-debug] plan: " + df.queryExecution
                  .executedPlan.toString.take(3000))
              }
              def leg(key: String): Double =
                legs.filter(_._1 == Seq(key)).map(_._2).sum / 1e6
              out += s"${label}_li_shuffle_mb" -> leg("l_orderkey")
              out += s"${label}_cust_shuffle_mb" -> leg("c_custkey")
            }
          }
          runStar("star_notrans", ruleOn = false)
          runStar("star_trans", ruleOn = true)
        } finally {
          spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
          prevRule match {
            case Some(v) => spark.conf.set("spark.graft.autoSemiReduction", v)
            case None    => spark.conf.unset("spark.graft.autoSemiReduction")
          }
        }
        out.toSeq
      }

    val total = results.map(_._2).filter(_ >= 0).sum
    // per-run suite totals — the round-over-round variance record
    val runTotals = (0 until benchRuns).map { i =>
      allRuns.map(_._2(i)).filter(_ >= 0).sum
    }
    val sfName = new java.io.File(sfDir).getName

    // full-precision, full-name record for humans and round-over-round
    // diffs; `runs` holds every raw measurement (run 1 of an entry that
    // builds a shared family artifact pays the build — the headline min
    // does not hide it, it is right here), `gc_ms` the per-run GC deltas
    // (the bimodality evidence), `io` the final run's scan accounting
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_runs":$benchRuns,"stat":"min",
         |"run_totals":[${runTotals.mkString(",")}],
         |"queries":${results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"queries_median":${medians.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"runs_warmup":${warmupTimes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"artifact_builds":{"warmup":$warmupBuilds,"counted":$countedBuilds},
         |"runs":${allRuns.map { case (k, rs) => "\"" + k + "\":[" + rs.mkString(",") + "]" }.mkString("{", ",", "}")},
         |"gc_ms":${gcByEntry.map { case (k, gs) => "\"" + k + "\":[" + gs.mkString(",") + "]" }.mkString("{", ",", "}")},
         |"cpu_s":${cpuByEntry.map { case (k, cs) => "\"" + k + "\":[" + cs.map(fmt(2, _)).mkString(",") + "]" }.mkString("{", ",", "}")},
         |"load":${loadByEntry.map { case (k, ls) => "\"" + k + "\":[" + ls.map(fmt(2, _)).mkString(",") + "]" }.mkString("{", ",", "}")},
         |"pass_gc_ms":[${passGc.mkString(",")}],
         |"pass_cpu_s":[${passCpu.map(fmt(1, _)).mkString(",")}],
         |"pass_load":[${passLoad.map(fmt(2, _)).mkString(",")}],
         |"io":${ioByEntry.map { case (k, (f, fb, sr, b, sh)) =>
             "\"" + k + "\":{\"files\":" + f + ",\"files_bytes\":" + fb +
               ",\"scan_rows\":" + sr + ",\"fs_bytes\":" + b +
               ",\"shuffle_bytes\":" + sh + "}" }.mkString("{", ",", "}")},
         |"scan_modes":${scanModes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"store_modes":${storeModes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"partition_router":${partitionModes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"shard_router":${shardModes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"pred_transfer":${predTransModes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"pred_transfer_star":${predTransStar.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"modes":{"cold":${cold.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"warm":${warm.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"warm_load":${loads.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},
         |"cache":${counters.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")}}}""".stripMargin
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }

    // the driver-captured line: a COMPACT summary whose size is bounded
    // by the FAMILY count (~16), not the entry count (193 and growing) —
    // the per-query map lives in BENCH_DETAIL.json only (see scaladoc)
    val famTotals = results.groupBy { case (n, _) => family(n) }.toSeq
      .map { case (f, es) => f -> es.map(_._2).filter(_ >= 0).sum }
      .sortBy(_._1)
    // seconds + route counts only in the compact line (length budget);
    // the per-pass "_mb" store-byte record and the "_gc_ms"/"_cpu_s"/
    // "_load" host covariates live in BENCH_DETAIL.json
    def secsOnly(kvs: Seq[(String, Double)]): Seq[(String, Double)] =
      kvs.filterNot { case (k, _) =>
        k.endsWith("_mb") || k.endsWith("_gc_ms") ||
          k.endsWith("_cpu_s") || k.endsWith("_load")
      }
    val warmupTotal = warmupTimes.values.filter(_ >= 0).sum
    def line(dp: Int, withQueries: Boolean = false): String = {
      val fams = jmap(famTotals, dp)
      val modes = if (warm.isEmpty) "" else
        s""","modes":{"cold":${fmt(dp, cold.map(_._2).filter(_ >= 0).sum)},"warm":${fmt(dp, warm.map(_._2).filter(_ >= 0).sum)},"n":${warm.size}},"cache":${jmap(counters, dp)}"""
      val sm = if (scanModes.isEmpty) "" else s""","scan_modes":${jmap(scanModes, dp)}"""
      val st = if (storeModes.isEmpty) "" else
        s""","store_modes":${jmap(secsOnly(storeModes), dp)}"""
      val pr = if (partitionModes.isEmpty) "" else
        s""","partition_router":${jmap(secsOnly(partitionModes), dp)}"""
      val shr = if (shardModes.isEmpty) "" else
        s""","shard_router":${jmap(secsOnly(shardModes), dp)}"""
      val pt = if (predTransModes.isEmpty) "" else
        s""","pred_transfer":${jmap(secsOnly(predTransModes), dp)}"""
      val pts = if (predTransStar.isEmpty) "" else
        s""","pred_transfer_star":${jmap(secsOnly(predTransStar), dp)}"""
      val wu = if (warmupTimes.isEmpty) "" else
        s""","warmup_total":${fmt(dp, warmupTotal)}"""
      // per-entry seconds (the driver contract's `"queries"` map) — only
      // in the FULL line; the compact line stays family-bounded (see the
      // output-size contract in the scaladoc)
      val qs = if (!withQueries) "" else s""","queries":${jmap(results, dp)}"""
      s"""{"metric":"total","value":${fmt(dp, total)},"unit":"sec"$qs,"n_runs":$benchRuns,"stat":"min"$wu,"run_totals":[${runTotals.map(fmt(dp, _)).mkString(",")}],"pass_load":[${passLoad.map(fmt(1, _)).mkString(",")}],"families":$fams$modes$sm$st$pr$shr$pt$pts,"sf":"$sfName","detail":"per-query secs/median/runs/gc/io in BENCH_DETAIL.json"}"""
    }
    val out = Seq(3, 2, 1).map(line(_)).find(_.length <= 1500).getOrElse(line(1))
    // The FULL line (r18, r17 verdict item 2): the compact line plus the
    // driver contract's per-entry `"queries"` map, so the driver's
    // per-query comparator and the CPU-scaling block have real data.
    // Printed FIRST, with the compact line still LAST: the driver's
    // capture historically kept only the ~2000-char TAIL of the output
    // (the r06 record died when a 193-key map outgrew that window), so
    // the line that must survive tail truncation — the compact one, byte-
    // format identical to every prior round's — stays in final position,
    // while a full-stdout reader finds the queries map in this one.
    // Additions-only: every compact-line key appears here unchanged.
    val fullLine = line(3, withQueries = true)
    // stop Spark BEFORE printing: the driver keeps the tail of the output
    // and recognizes the result by "line starts with '{'", so shutdown
    // log lines must not trail (or displace) the JSON line. A failing
    // stop() must not cost the record — the measurements exist either way.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] stop failed: $e") }
    println(fullLine)
    println(out)
    System.out.flush()
  }
}
