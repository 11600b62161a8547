package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** Long-running SQL server — the engine's analog of the reference's
  * client/server deployment (`fpdb-main/src/Server.cpp`: a thrift
  * service serving concurrent client sessions over one shared engine).
  * Spark's idiomatic form of exactly that contract is the HiveServer2
  * thrift endpoint: `HiveThriftServer2.startWithContext` mounts the
  * HiveServer2 wire protocol (the same thrift lineage as the
  * reference's transport) on THIS session's catalog, so any JDBC/ODBC
  * client — `beeline`, `java.sql.DriverManager` with the hive driver,
  * BI tools — submits SQL that runs through the identical Catalyst
  * pipeline as [[Engine.executeQuery]] and [[Shell]].
  *
  * Catalog scope: the scale-factor directory's tables are registered as
  * session views, plus the materialized derived-`partsupp` artifact
  * (the [[Engine]] rewrite), and the server runs in single-session mode
  * (`spark.sql.hive.thriftServer.singleSession=true`) so every JDBC
  * connection shares this catalog — the reference's model precisely:
  * one engine, one shared cache/catalog, N concurrent client sessions
  * (`Server.cpp` + the shared SegmentCacheActor). Concurrent statement
  * execution is the Spark scheduler's job (FAIR-pool-able), and the
  * per-query path is unchanged — a server deployment adds transport,
  * not semantics, which is why the correctness surface needs no new
  * oracle entries.
  *
  * Usage: `bin/graft-server [sfDir] [port]` (defaults: the sf0.001
  * testdata, port 10013). `Server.start` is the embeddable form; it
  * returns the running service so callers (and the spec, which drives a
  * real JDBC round-trip through the hive driver) can `stop()` it.
  */
object Server {

  val DefaultPort = 10013

  /** Mount the thrift endpoint on `spark`'s catalog, tables from `dir`.
    * Must be called before any other use of the session fixes the
    * `hive.server2` confs. Returns the service handle (stop() to halt) —
    * typed as the public HiveServer2 supertype; the concrete
    * HiveThriftServer2 class is `private[hive]`. */
  def start(spark: SparkSession, dir: String,
      port: Int = DefaultPort): org.apache.hive.service.server.HiveServer2 = {
    // every JDBC connection shares this session's (temp-view) catalog —
    // singleSession is STATIC, set in GraftSession.builder; without it
    // each connection clones a session and sees no views
    require(spark.conf.get("spark.sql.hive.thriftServer.singleSession") == "true",
      "graft.Server needs spark.sql.hive.thriftServer.singleSession=true at session build " +
        "(GraftSession.builder sets it)")
    // the embedded HiveServer2 wakes Derby for its (unused) metastore —
    // keep its droppings out of the checkout
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    System.setProperty("derby.stream.error.file", "/tmp/graft-derby/derby.log")
    spark.sqlContext.setConf("hive.server2.thrift.bind.host", "localhost")
    spark.sqlContext.setConf("hive.server2.thrift.port", port.toString)
    // register through the ENGINE's per-session record (dir and write
    // marks), not beside it: with the dir unrecorded, the first
    // Engine.executeQuery on this session (an attached shell, an embedded
    // caller) would re-register and drop the partsupp view every JDBC
    // client depends on
    Engine.registerDerived(spark, dir) // the views, then partsupp
    HiveThriftServer2.startWithContext(spark.sqlContext)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.drop(1).headOption.map(_.toInt).getOrElse(DefaultPort)
    val spark = GraftSession.get("graft-server")
    start(spark, dir, port)
    System.err.println(
      s"graft server: jdbc:hive2://localhost:$port/ serving $dir (Ctrl-C to stop)")
    Thread.currentThread.join() // serve until killed
  }
}
