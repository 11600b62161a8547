package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (reused via getOrCreate — one JVM,
  * one SparkContext across the forked test run). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Smallest scale factor — specs verify semantics, not throughput. */
  val sfDir = "/root/testdata/sf0.001"

  /** `f`'s value and the Spark jobs started while it ran (listener bus
    * flushed on both sides, so jobs of earlier work are not counted). */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftCoreBridge.flushListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val v = f
      org.apache.spark.GraftCoreBridge.flushListenerBus(sc)
      (v, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** Pin the shared session ACTIVE on the test thread: the active
    * session is a thread-local (inheritable at thread creation only),
    * and ScalaTest may run a suite on a pool thread that never
    * inherited one — `SQLConf.get` then falls back to DEFAULTS for any
    * driver-side computation outside an execution scope (e.g.
    * `plan.stats`, whose CBO-vs-size-only visitor choice reads the
    * thread conf), flipping stats estimates with suite ORDER (r13:
    * the W-LFU admission spec measured 16000 vs 32000 bytes for the
    * same plan depending on which suite ran first). Executions
    * (`withActive`) were never affected — this pins the plan-time
    * reads specs make directly. */
  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    SparkSession.setActiveSession(spark)
    super.withFixture(test)
  }
}
