package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.GraftCoreBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Engine, GraftSession}
import graft.cache.HybridScan
import graft.sources.{MockObjectFs, Sink, Tables}
import graft.util.ScanStats

/** The benchmark's JVM side. It runs one workload, described by an inputs
  * file that `run.py` generates from the seed, through the engine's own
  * session and user entry (`Engine.executeQuery` + `collect()`), and writes
  * one JSON record: every query's latency and result digest, each distinct
  * result's rows (checked by `run.py`), layer counters, and, in a traced
  * run, the spans.
  *
  * Usage (normally through run.py):
  * {{{
  * perfbench.Main --inputs in.json --data <sf dir> --work <scratch dir>
  *   --seconds 10 --trace 0 --out out.json
  * }}}
  */
object Main {

  private val mapper = new ObjectMapper

  /** Set-ups per run; their median is `setup_s`. */
  private val SetupReps = 3

  /** One query execution in the measured window. */
  final case class Rec(text: String, client: Int, version: Int, startNs: Long,
      latNs: Long, digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val in = mapper.readTree(new java.io.File(opt("inputs")))
    val dataDir = opt("data")
    val work = Paths.get(opt("work")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"

    val texts: Map[String, String] =
      in.get("texts").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val confs: Seq[(String, String)] =
      in.get("confs").fields().asScala.map(e => e.getKey -> e.getValue.asText).toSeq
    val store = in.get("store").asBoolean
    // each client's query order, repeated for every round it runs
    val clients: IndexedSeq[IndexedSeq[String]] =
      in.get("clients").elements().asScala.map(c =>
        c.elements().asScala.map(_.asText).toIndexedSeq).toIndexedSeq
    val mergeEvery = in.get("merge_every").asInt
    val batches = in.get("batches").elements().asScala.toIndexedSeq

    val spark = GraftSession.get("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl", classOf[MockObjectFs].getName)
    val sc = spark.sparkContext

    val results = new ConcurrentHashMap[String, ObjectNode]
    def digestOf(df: DataFrame, rows: Array[Row]): String = {
      val canon = rows.map(_.toString).sorted.mkString("\n")
      val md = java.security.MessageDigest.getInstance("SHA-1")
      val d = md.digest((df.schema.simpleString + "\n" + canon).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (!results.containsKey(d)) results.putIfAbsent(d, resultJson(df.schema, rows))
      d
    }

    /** The tables a session reads: the sf directory itself, or (store
      * workloads) a fresh copy of it, read through the `mockfs:` store.
      * Returns (engine dir, local path of the copy or null). */
    def tablesFor(copyName: String): (String, Path) =
      if (!store) (dataDir, null)
      else {
        val l = work.resolve(copyName)
        copyTables(Paths.get(dataDir), l)
        ("mockfs:" + l.toString, l)
      }

    /** A fresh engine session with the workload's confs. */
    def freshSession(): SparkSession = {
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }

    /** Load the segments a store workload starts from into the session's
      * cache (the given column sets, through the engine's hybrid scan). */
    def prime(s: SparkSession, d: String): Unit =
      in.get("prime").elements().asScala.foreach { p =>
        def cols(k: String) = p.get(k).elements().asScala.map(_.asText).toSeq
        HybridScan.mergedScan(s, d, p.get("table").asText, cols("cached"), cols("fetch"),
          None, HybridScan.segmentCache(s, d)).count()
      }

    val exec = new ExecListener
    val tracer = new Tracer
    val version = new AtomicInteger(0)
    val recs = new ConcurrentLinkedQueue[Rec]
    val qids = new AtomicLong(0)

    def runOne(sess: SparkSession, dir: String, client: Int, name: String): Unit = {
      val v = version.get
      val qid = s"q${qids.incrementAndGet()}"
      val sql = texts(name)
      val t0 = System.nanoTime()
      try {
        val (df, rows) =
          if (!trace) {
            val df = Engine.executeQuery(sess, dir, sql)
            (df, df.collect())
          } else tracer.span(qid, "query", 0) { root =>
            sc.setJobGroup(s"$qid:engine", name, false)
            val df = tracer.span(qid, "engine", root)(_ => Engine.executeQuery(sess, dir, sql))
            tracer.span(qid, "plans.optimize", root)(_ => df.queryExecution.optimizedPlan)
            tracer.span(qid, "plans.physical", root)(_ => df.queryExecution.executedPlan)
            sc.setJobGroup(s"$qid:exec", name, false)
            val rows = tracer.span(qid, "exec", root)(_ => df.collect())
            sc.clearJobGroup()
            (df, rows)
          }
        val lat = System.nanoTime() - t0
        recs.add(Rec(name, client, v, t0, lat, digestOf(df, rows), null))
      } catch {
        case NonFatal(e) =>
          sc.clearJobGroup()
          recs.add(Rec(name, client, v, t0, System.nanoTime() - t0, null,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    }

    // ---- set-up, repeated: a fresh engine session brought to its first
    // answered query (on the store workloads over a store copy made
    // beforehand, outside the timing); the last one runs the window. The
    // first also pays the JVM's and Spark's own start, which the median
    // leaves out.
    val tables = (0 until SetupReps).map(i => tablesFor(s"store-$i"))
    val setupSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sess: SparkSession = null
    val probeDigests = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((d, _) <- tables) {
      val t0 = System.nanoTime()
      val s = freshSession()
      val df = Engine.executeQuery(s, d, in.get("setup_probe").asText)
      probeDigests += digestOf(df, df.collect())
      setupSecs += (System.nanoTime() - t0) / 1e9
      sess = s
    }
    val (dir, local) = tables.last
    prime(sess, dir)
    val planTap = ScanStats.attachPlans(sess)
    if (trace) sc.addSparkListener(exec)

    // data versions of the churn workload: each version of orders is kept
    // as a local copy, so run.py can compute each query's reference answer
    // at the version it read
    if (mergeEvery > 0) snapshotOrders(local, work, 0)

    // ---- the measured window
    val mbps = in.get("store_mbps").asLong
    if (store) {
      // the store physics of the engine's throttled bench passes:
      // per-stream bandwidth plus a per-GET first-byte latency
      MockObjectFs.bytesPerSec = mbps << 20
      MockObjectFs.openLatencyMs = 5
      MockObjectFs.totalBytesPerSec = 0L
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    val pausedNs = new AtomicLong(0)
    val store0 = MockObjectFs.snapshot()
    val cache0 = if (store) cacheCounters(sess, dir) else Map.empty[String, Long]
    val (files0, fbytes0, rows0) = planTap.snapshot()
    val load0 = loadAverage()
    val cpu0 = processCpuNanos()
    val gc0 = gcMillis()
    val steal0 = stealSeconds()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val started = new AtomicInteger(0)

    def applyMerge(k: Int): Unit = {
      val b = batches(k % batches.size)
      val path = s"$dir/orders.parquet"
      val schema = sess.read.parquet(path).schema
      val updates = sess.createDataFrame(batchRows(b, schema).asJava, schema)
      val bytes0 = MockObjectFs.bytesRead.get
      val qid = s"m$k"
      tracer.span(qid, "merge", 0) { root =>
        val t0 = System.nanoTime()
        tracer.span(qid, "sink", root)(_ =>
          Sink.mergeInto(sess, path, updates, "o_orderkey", "o_orderkey"))
        merges += (((System.nanoTime() - t0) / 1e6, MockObjectFs.bytesRead.get - bytes0))
        // Sink.mergeInto drops only the hybrid listing cache: the session's
        // relation memo and its `orders` view still resolve the files the
        // merge replaced. The memo expects a writer of its tables to call
        // Tables.invalidate, and no engine call re-registers a session's
        // views, so the writer refreshes both, as a user has to. (Segments
        // the hybrid cache admitted for orders are not refreshed.)
        tracer.span(qid, "refresh", root) { _ =>
          Tables.invalidate(sess)
          Tables.orders(sess, dir).createOrReplaceTempView("orders")
        }
      }
      val p0 = System.nanoTime()
      snapshotOrders(local, work, version.incrementAndGet())
      pausedNs.addAndGet(System.nanoTime() - p0)
    }

    // a merge, and the probe that reads the merged table, come before
    // every `mergeEvery`-th query of the round, the first one included
    val threads = clients.indices.map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          for (name <- clients(c)) {
            val n = started.getAndIncrement()
            if (mergeEvery > 0 && n % mergeEvery == 0) {
              applyMerge(n / mergeEvery)
              runOne(sess, dir, c, "merge_probe")
            }
            runOne(sess, dir, c, name)
          }
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val windowSecs = (System.nanoTime() - start - pausedNs.get) / 1e9
    val cpuSecs = (processCpuNanos() - cpu0) / 1e9
    val gcMs = gcMillis() - gc0
    val stealSecs = stealSeconds() - steal0
    val load1 = loadAverage()
    MockObjectFs.bytesPerSec = 0L
    MockObjectFs.openLatencyMs = 0L
    val store1 = MockObjectFs.snapshot()
    val cache1 = if (store) cacheCounters(sess, dir) else Map.empty[String, Long]
    val usedBytes = if (store) HybridScan.segmentCache(sess, dir).usedBytes else 0L
    val (files1, fbytes1, rows1) = planTap.snapshot()
    GraftCoreBridge.flushListenerBus(sc)

    // ---- the record
    val out = mapper.createObjectNode()
    val setupArr = out.putArray("setup_s"); setupSecs.foreach(setupArr.add(_))
    val probes = out.putArray("setup_probe_digests"); probeDigests.foreach(probes.add)
    out.put("window_s", windowSecs)
    val qs = out.putArray("queries")
    recs.asScala.toSeq.sortBy(_.startNs).foreach { r =>
      val o = qs.addObject()
      o.put("text", r.text); o.put("client", r.client); o.put("version", r.version)
      o.put("lat_ms", r.latNs / 1e6)
      if (r.digest != null) o.put("digest", r.digest)
      if (r.error != null) o.put("error", r.error)
    }
    val res = out.putObject("results")
    results.asScala.foreach { case (d, j) => res.set[JsonNode](d, j) }
    val ctr = out.putObject("counters")
    ctr.put("store_bytes", store1._2 - store0._2)
    ctr.put("store_gets", store1._1 - store0._1)
    ctr.put("store_read_calls", store1._3 - store0._3)
    ctr.put("store_list_calls", store1._4 - store0._4)
    ctr.put("scan_files", files1 - files0)
    ctr.put("scan_file_bytes", fbytes1 - fbytes0)
    ctr.put("scan_rows", rows1 - rows0)
    cache1.foreach { case (k, v) => ctr.put(k, v - cache0.getOrElse(k, 0L)) }
    ctr.put("cache_used_bytes", usedBytes)
    val ms = out.putArray("merges")
    merges.foreach { case (t, b) => val o = ms.addObject(); o.put("ms", t); o.put("store_bytes", b) }
    val cov = out.putObject("covariates")
    cov.put("load1_start", load0); cov.put("load1_end", load1)
    cov.put("process_cpu_s", cpuSecs); cov.put("gc_ms", gcMs)
    cov.put("host_steal_s", stealSecs)
    out.put("retained_mb", retainedMb())
    out.put("peak_rss_mb", peakRssMb())
    if (trace) {
      val groups = out.putObject("exec_groups")
      exec.groups.foreach { case (g, t) =>
        val o = groups.putObject(g)
        o.put("jobs", t.jobs.get); o.put("stages", t.stages.get); o.put("tasks", t.tasks.get)
        o.put("failed_tasks", t.failedTasks.get); o.put("task_ms", t.taskMs.get)
        o.put("cpu_ms", t.cpuNs.get / 1e6); o.put("gc_ms", t.gcMs.get)
        o.put("shuffle_write_bytes", t.shuffleWrite.get); o.put("wait_ms", t.waitMs.get)
      }
      val spans = tracer.spans.asScala.toSeq.sortBy(_.startNs)
      val self = tracer.selfTimes(spans)
      val arr = out.putArray("spans")
      spans.foreach { s =>
        val o = arr.addObject()
        o.put("id", s.id); o.put("qid", s.qid); o.put("name", s.name); o.put("parent", s.parent)
        o.put("start_ms", (s.startNs - start) / 1e6); o.put("end_ms", (s.endNs - start) / 1e6)
        o.put("self_ms", self(s.id))
      }
    }
    mapper.writeValue(new java.io.File(opt("out")), out)
    spark.stop()
  }

  private val tpchTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Copy the scale-factor directory's tables into a fresh directory. */
  private def copyTables(from: Path, to: Path): Unit = {
    deleteTree(to)
    Files.createDirectories(to)
    tpchTables.foreach { t =>
      val src = from.resolve(s"$t.parquet")
      if (Files.exists(src)) copyTree(src, to.resolve(s"$t.parquet"))
    }
  }

  private def snapshotOrders(storeDir: Path, work: Path, v: Int): Unit = {
    val to = work.resolve(s"version-$v")
    Files.createDirectories(to)
    copyTree(storeDir.resolve("orders.parquet"), to.resolve("orders.parquet"))
  }

  private def copyTree(src: Path, dst: Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      val it = Files.list(src)
      try it.iterator().asScala.foreach(p => copyTree(p, dst.resolve(p.getFileName.toString)))
      finally it.close()
    } else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val it = Files.list(p)
        try it.iterator().asScala.toList.foreach(deleteTree) finally it.close()
      }
      Files.delete(p)
    }

  /** The CDC batch's rows, converted to the table's column types. */
  private def batchRows(b: JsonNode, schema: StructType): Seq[Row] = {
    val cols = b.get("columns").elements().asScala.map(_.asText).toIndexedSeq
    b.get("rows").elements().asScala.map { r =>
      Row.fromSeq(schema.fields.toSeq.map { f =>
        val v = r.get(cols.indexOf(f.name))
        if (v == null || v.isNull) null
        else f.dataType match {
          case LongType => v.asLong
          case IntegerType => v.asInt
          case DoubleType => v.asDouble
          case StringType => v.asText
          case DateType => java.sql.Date.valueOf(v.asText.take(10))
          case TimestampType => java.sql.Timestamp.from(
            java.time.LocalDateTime.parse(v.asText).toInstant(java.time.ZoneOffset.UTC))
          case TimestampNTZType => java.time.LocalDateTime.parse(v.asText)
          case other => sys.error(s"unsupported CDC column type $other")
        }
      })
    }.toSeq
  }

  /** One result set as JSON: column names and types, rows as values
    * (dates and timestamps as ISO strings, decimals as doubles). */
  private def resultJson(schema: StructType, rows: Array[Row]): ObjectNode = {
    val o = mapper.createObjectNode()
    val cs = o.putArray("columns"); schema.fields.foreach(f => cs.add(f.name))
    val ts = o.putArray("types"); schema.fields.foreach(f => ts.add(f.dataType.typeName))
    val rs = o.putArray("rows")
    rows.foreach { row =>
      val a = rs.addArray()
      (0 until row.length).foreach { i =>
        row.get(i) match {
          case null => a.addNull()
          case v: java.lang.Double => a.add(v.doubleValue)
          case v: java.lang.Float => a.add(v.doubleValue)
          case v: java.lang.Long => a.add(v.longValue)
          case v: java.lang.Integer => a.add(v.longValue)
          case v: java.lang.Short => a.add(v.longValue)
          case v: java.lang.Byte => a.add(v.longValue)
          case v: java.lang.Boolean => a.add(v.booleanValue)
          case v: java.math.BigDecimal => a.add(v.doubleValue)
          case v: scala.math.BigDecimal => a.add(v.toDouble)
          case v: java.sql.Timestamp => a.add(v.toInstant.toString)
          case v: java.time.Instant => a.add(v.toString)
          case v: java.time.LocalDateTime => a.add(v.toString)
          case v: java.sql.Date => a.add(v.toLocalDate.toString)
          case v: java.time.LocalDate => a.add(v.toString)
          case v => a.add(v.toString)
        }
      }
    }
    o
  }

  private def cacheCounters(s: SparkSession, dir: String): Map[String, Long] = {
    val c = HybridScan.segmentCache(s, dir)
    val r = HybridScan.sessionRouter(s, dir)
    Map("cache_hits" -> c.hits, "cache_misses" -> c.misses, "cache_evictions" -> c.evictions,
      "route_pushdown" -> r.pushdowns, "route_pullup" -> r.pullups,
      "route_cache_only" -> r.cacheOnlys, "route_hybrid" -> r.hybrids,
      "route_over_budget" -> r.overBudget)
  }

  private def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU time the hypervisor gave to other guests, summed over this
    * machine's CPUs (the `steal` column of /proc/stat), seconds. */
  private def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").lift(8).map(_.toDouble / 100.0).getOrElse(0.0)
    finally src.close()
  }

  /** Memory the program still holds after the window: heap in use after
    * full collections, repeated until one frees less than 1% more (Spark's
    * context cleaner releases broadcast blocks only after a collection has
    * found them unreachable), plus non-heap in use (class metadata,
    * generated code), MB. */
  private def retainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def heapAfterGc(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var cur = heapAfterGc()
    var n = 1
    while (cur < prev * 0.99 && n < 10) {
      Thread.sleep(300); prev = cur; cur = heapAfterGc(); n += 1
    }
    (cur + mem.getNonHeapMemoryUsage.getUsed) / 1e6
  }

  /** Peak resident set size of this JVM (VmHWM), MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
