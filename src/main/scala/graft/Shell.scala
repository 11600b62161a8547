package graft

/** Interactive SQL client — the engine's analog of the reference's
  * primary entry point (`fpdb-main/src/Client.cpp:94-111`, driven by the
  * interactive main in `fpdb-main/src/main.cpp`): a user sits at a
  * prompt, types SQL, and each statement runs through the same
  * catalog-registration + Catalyst pipeline as the programmatic API
  * ([[Engine.executeQuery]] — registration cached per session, so only
  * the first statement pays the catalog fetch).
  *
  * Usage (`bin/graft-sql` wraps the `java -cp` invocation — sbt's run
  * task does not forward stdin to the forked JVM, so interactive use
  * goes through the script):
  *  - `bin/graft-sql [sfDir]` — interactive: statements end with `;`
  *    and may span lines; `exit;` or EOF quits;
  *  - `bin/graft-sql [sfDir] -e "sql; sql2;"` — run statements, exit;
  *  - `bin/graft-sql [sfDir] -f queries.sql` — run a script file.
  * Scripted mode exits 1 if any statement failed (CI needs the signal);
  * statement boundaries are ';' OUTSIDE quoted literals/identifiers, so
  * `SELECT ';'` is one statement, not two broken ones.
  * Commands:
  *  - `\d;` — list the registered tables and their columns;
  *  - `\explain <sql>;` — formatted physical plan instead of rows;
  *  - `\mode [pullup|pushdown|caching|hybrid|off];` — set (or print,
  *    bare) the session's execution mode: the reference's `exec.conf`
  *    knob, wired through the `spark.graft.scanMode` conf so every
  *    subsequent statement routes through the session's scan router;
  *  - `\routes <sql>;` — the cache/pushdown layer's EXPLAIN: one row
  *    per base-table leaf with the route the session router would take
  *    and why ([[graft.plans.ModeExec.explainRoutes]]);
  *  - `\cache;` — the session cache/router counters (policy, used/
  *    capacity bytes, hit/miss/eviction, route mix, resident segments).
  * Output rows are capped at [[MaxRows]] — an interactive client is for
  * inspection; unbounded result dumps belong in a sink write.
  */
object Shell {

  val MaxRows = 100

  private case class Config(dir: String, script: Option[String])

  private def usage(): Nothing = {
    System.err.println("""usage: graft-sql [sfDir] [-e "sql; ..." | -f script.sql]""")
    sys.exit(2)
  }

  /** Explicit parse: one optional positional (the table directory, in any
    * position), at most one of -e/-f each consuming its own operand — a
    * dir after -f must not be mistaken for the script path, and a missing
    * operand is an error, not a silent REPL on the default dir. */
  private def parseArgs(args: Array[String]): Config = {
    var dir: Option[String] = None
    var script: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-e" =>
          if (i + 1 >= args.length || script.isDefined) usage()
          script = Some(args(i + 1)); i += 2
        case "-f" =>
          if (i + 1 >= args.length || script.isDefined) usage()
          script = Some(
            try new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(args(i + 1))), "UTF-8")
            catch { case e: java.io.IOException =>
              System.err.println(s"cannot read ${args(i + 1)}: $e"); sys.exit(2)
            })
          i += 2
        case p if !p.startsWith("-") && dir.isEmpty =>
          dir = Some(p); i += 1
        case _ => usage()
      }
    }
    Config(dir.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01"), script)
  }

  /** Index of the first ';' outside '…'/"…" literals and `…` identifiers,
    * or -1. A doubled quote inside a literal (the ANSI escape) reads as
    * close-then-reopen — equivalent for finding the unquoted ';'. Spark
    * SQL additionally accepts backslash escapes in string literals by
    * default (`escapedStringLiterals=false`), so `\'` / `\"` inside a
    * literal must not close it — the char after a backslash is skipped.
    * Backticked identifiers have no backslash escape. */
  private[graft] def statementEnd(text: CharSequence): Int = {
    var i = 0
    var quote: Char = 0
    var lineComment = false
    var blockDepth = 0 // Spark SQL bracketed comments NEST (SQL standard)
    while (i < text.length) {
      val c = text.charAt(i)
      // comments first: a quote or ';' inside `--` or `/* */` is text,
      // not syntax — "-- don't" used to open a literal that never
      // closed, swallowing every later statement boundary in a script
      if (lineComment) { if (c == '\n') lineComment = false }
      else if (blockDepth > 0) {
        if (c == '*' && i + 1 < text.length && text.charAt(i + 1) == '/') {
          blockDepth -= 1; i += 1
        } else if (c == '/' && i + 1 < text.length && text.charAt(i + 1) == '*') {
          blockDepth += 1; i += 1
        }
      }
      else if (quote != 0) {
        if (c == '\\' && quote != '`' && i + 1 < text.length) i += 1
        else if (c == quote) quote = 0
      }
      else if (c == '-' && i + 1 < text.length && text.charAt(i + 1) == '-') {
        lineComment = true; i += 1
      }
      else if (c == '/' && i + 1 < text.length && text.charAt(i + 1) == '*') {
        blockDepth = 1; i += 1
      }
      else if (c == '\'' || c == '"' || c == '`') quote = c
      else if (c == ';') return i
      i += 1
    }
    -1
  }

  /** Split on unquoted ';' — trailing text without a terminator is also a
    * statement (lets `-e "select 1"` work without the ';'). */
  private[graft] def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var rest = text
    var cut = statementEnd(rest)
    while (cut >= 0) {
      out += rest.substring(0, cut)
      rest = rest.substring(cut + 1)
      cut = statementEnd(rest)
    }
    out += rest
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = GraftSession.get("graft-shell")
    spark.sparkContext.setLogLevel("WARN") // keep the prompt readable
    val ok = cfg.script match {
      case Some(text) =>
        splitStatements(text).map(runStatement(spark, cfg.dir, _)).forall(identity)
      case None => repl(spark, cfg.dir); true
    }
    // best-effort final heat save (no-op without spark.graft.heatPath):
    // the throttled per-query save persists every 16th call once the
    // history is large, so a session ending between saves would lose up
    // to 15 queries of heat (r12 ADVICE)
    try graft.cache.HybridScan.saveHeat(spark, cfg.dir, force = true)
    catch { case _: Throwable => () }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  private def repl(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    println(s"graft SQL shell - tables from $dir; statements end with ';', exit; quits")
    val buf = new StringBuilder
    print("graft> "); Console.flush()
    var line = in.readLine()
    var done = false
    while (!done && line != null) {
      buf.append(line).append('\n')
      // execute every complete (unquoted-';'-terminated) statement
      var cut = statementEnd(buf)
      while (!done && cut >= 0) {
        val stmt = buf.substring(0, cut).trim
        buf.delete(0, cut + 1)
        if (stmt.equalsIgnoreCase("exit") || stmt.equalsIgnoreCase("quit")) done = true
        else if (stmt.nonEmpty) runStatement(spark, dir, stmt)
        cut = statementEnd(buf)
      }
      if (!done) {
        print(if (buf.toString.trim.isEmpty) "graft> " else "    -> "); Console.flush()
        line = in.readLine()
      }
    }
    // EOF with an unterminated trailing statement (echo "select 1" | shell):
    // run it rather than silently discarding it — the same rule
    // splitStatements applies for -e/-f
    if (!done) {
      val tail = buf.toString.trim
      if (tail.nonEmpty && !tail.equalsIgnoreCase("exit") &&
          !tail.equalsIgnoreCase("quit"))
        runStatement(spark, dir, tail)
    }
  }

  /** Run one statement; false iff it failed. */
  private[graft] def runStatement(spark: org.apache.spark.sql.SparkSession,
      dir: String, stmt: String): Boolean =
    try {
      if (stmt == "\\d") {
        // force registration with a no-op query, then describe the views
        Engine.executeQuery(spark, dir, "SELECT 1").collect()
        spark.catalog.listTables().collect().map(_.name).sorted.foreach { t =>
          val cols = spark.table(t).schema.map(f => s"${f.name} ${f.dataType.simpleString}")
          println(s"  $t(${cols.mkString(", ")})")
        }
      } else if (stmt.toLowerCase.startsWith("\\explain ")) {
        println(Engine.executeQuery(spark, dir, stmt.substring(9))
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      } else if (stmt.toLowerCase.startsWith("\\mode")) {
        val arg = stmt.substring(5).trim
        if (arg.isEmpty)
          println("scan mode: " + spark.conf.getOption("spark.graft.scanMode")
            .getOrElse("off (pristine Catalyst path)"))
        else if (arg.equalsIgnoreCase("off")) {
          spark.conf.unset("spark.graft.scanMode")
          println("scan mode off")
        } else {
          val m = graft.cache.HybridScan.ScanMode.parse(arg)
          spark.conf.set("spark.graft.scanMode", m.name)
          println(s"scan mode: ${m.name}")
        }
      } else if (stmt.trim.equalsIgnoreCase("\\cache")) {
        // the session cache/router counters — the reference prints its
        // cache metrics per run (hit/miss/eviction bookkeeping); here
        // they are a prompt command beside \mode and \routes
        val cache = graft.cache.HybridScan.segmentCache(spark, dir)
        val router = graft.cache.HybridScan.sessionRouter(spark, dir)
        println(f"cache: policy=${cache.policy} used=${cache.usedBytes / 1e6}%.1f MB" +
          f" of ${cache.capacityBytes / 1e6}%.1f MB; hits=${cache.hits}" +
          s" misses=${cache.misses} evictions=${cache.evictions}" +
          f" refusals=${cache.refusals} refused_loaded=${cache.refusedBytes / 1e6}%.1f MB")
        println(s"router: pushdowns=${router.pushdowns} pullups=${router.pullups}" +
          s" cacheOnly=${router.cacheOnlys} hybrid=${router.hybrids}" +
          s" overBudget=${router.overBudget} freeSlots=${router.availableSlots}")
        cache.keys.sortBy(k => (k.table, k.region)).foreach { k =>
          val region = if (k.region.isEmpty) "" else s" @${k.region}"
          println(s"  segment ${k.table}[${k.columns.mkString(",")}]$region")
        }
      } else if (stmt.toLowerCase.startsWith("\\heat")) {
        // the router's server-lifetime state (the reference keeps its
        // AdaptPushdownManager members for the store server's lifetime)
        // at the prompt: measured service EWMAs, per-table pullup costs,
        // and the snapshot sidecar a restarted session seeds from.
        // \heat save forces a snapshot now (the engine also saves after
        // every conf-routed query when spark.graft.heatPath is set).
        val router = graft.cache.HybridScan.sessionRouter(spark, dir)
        stmt.substring(5).trim.toLowerCase match {
          case "" =>
            val (pd, pu) = router.estimates
            println(f"service estimates: pushdown=${pd / 1e6}%.3f ms" +
              f"  pullup=${pu / 1e6}%.3f ms")
            val snap = router.heatSnapshot.linesIterator.toSeq
            snap.filter(_.startsWith("cost.")).foreach(l => println(s"  $l"))
            println(s"access counters: ${snap.count(_.startsWith("seen."))}")
            println("snapshot path: " +
              spark.conf.getOption("spark.graft.heatPath")
                .getOrElse("unset (heat dies with the session)"))
          case "save" =>
            if (spark.conf.getOption("spark.graft.heatPath").forall(_.isEmpty))
              println("error: set spark.graft.heatPath before \\heat save")
            else {
              graft.cache.HybridScan.saveHeat(spark, dir, force = true)
              println("heat snapshot saved")
            }
          case other => println(s"usage: \\heat [save] (got '$other')")
        }
      } else if (stmt.toLowerCase.startsWith("\\sweep ")) {
        // the reference's whole-suite mode discipline at the prompt:
        // run the statement under PULLUP / PUSHDOWN_ONLY / CACHING_ONLY /
        // HYBRID (cold+warm passes for the stateful modes) and print the
        // per-mode cost/route report — ModeExec.compareModes as an
        // interactive command. On a mockfs:// --dir the store_mb column
        // carries FS-truth billed bytes per pass.
        graft.plans.ModeExec.compareModes(spark, dir,
          Seq("stmt" -> stmt.substring(7).trim))
          .show(MaxRows, truncate = false)
      } else if (stmt.toLowerCase.startsWith("\\store")) {
        // the store-simulation cockpit beside \cache: billed GETs/bytes/
        // LISTs since the last reset, and the bandwidth/latency throttle —
        // live when the shell's --dir (or any query's table path) goes
        // through the instrumented mockfs:// scheme. The reference's
        // bytes-moved bench output (`BytesReadBench.cpp`) as a prompt
        // command: run a query, \store, see what an object store billed.
        val fs = graft.sources.MockObjectFs
        stmt.substring(6).trim.split("\\s+").toList.filter(_.nonEmpty) match {
          case Nil =>
            val (opens, bytes, reads, lists) = fs.snapshot()
            println(f"store: GETs=$opens bytes=${bytes / 1e6}%.1f MB " +
              s"readCalls=$reads LISTs=$lists")
            println("throttle: bandwidth=" +
              (if (fs.bytesPerSec == 0) "off" else s"${fs.bytesPerSec} B/s per stream") +
              "; latency=" +
              (if (fs.openLatencyMs == 0) "off" else s"${fs.openLatencyMs} ms/GET"))
          case List(sub) if sub.equalsIgnoreCase("reset") =>
            fs.reset(); println("store counters reset")
          case List(sub, v) if sub.equalsIgnoreCase("bw") =>
            // the usage line advertises "2m/s"; byteStringAsBytes cannot
            // parse the rate suffix, so strip it before parsing
            val size = v.toLowerCase.stripSuffix("/s")
            fs.bytesPerSec =
              if (size == "off") 0L
              else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(size)
            println(s"store bandwidth: ${if (fs.bytesPerSec == 0) "off" else s"${fs.bytesPerSec} B/s per stream"}")
          case List(sub, v) if sub.equalsIgnoreCase("latency") =>
            fs.openLatencyMs = if (v.equalsIgnoreCase("off")) 0L else v.toLong
            println(s"store GET latency: ${if (fs.openLatencyMs == 0) "off" else s"${fs.openLatencyMs} ms"}")
          case other =>
            println(s"usage: \\store [reset | bw <size>[/s]|off | latency <ms>|off] (got: ${other.mkString(" ")})")
        }
      } else if (stmt.toLowerCase.startsWith("\\routes ")) {
        val mode = spark.conf.getOption("spark.graft.scanMode")
          .map(graft.cache.HybridScan.ScanMode.parse)
          .getOrElse(graft.cache.HybridScan.ModeHybrid)
        graft.plans.ModeExec.explainRoutes(spark, dir, stmt.substring(8), mode,
          Some(graft.cache.HybridScan.sessionRouter(spark, dir)))
          .show(MaxRows, truncate = false)
      } else {
        val t0 = System.nanoTime()
        val df = Engine.executeQuery(spark, dir, stmt)
        df.show(MaxRows, truncate = false)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"($secs%.2f s)")
      }
      true
    } catch {
      case e: Exception => println(s"error: ${e.getMessage}"); false
    }
}
