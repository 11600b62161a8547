package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Spans of one query share `qid`;
  * `parent` is the id of the span that caused this one (0 for a root). */
final case class Span(id: Long, qid: String, name: String, parent: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder: spans are appended from the client threads and
  * written out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]

  /** Time `body` as span `name` under `parent`; returns (result, span id). */
  def span[T](qid: String, name: String, parent: Long)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(id, qid, name, parent, t0, System.nanoTime()))
  }

  /** Self time per span id: its duration minus the part of its interval
    * that its direct children cover (children of one parent run one after
    * another here, so their durations are summed). */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

/** Per-query Spark job/stage/task totals, keyed on the job group the
  * client thread sets around each query (`<qid>:engine` while the engine
  * entry runs, `<qid>:exec` while rows are collected). */
final class ExecListener extends SparkListener {
  final class Totals {
    val jobs, stages, tasks, failedTasks = new AtomicLong
    val taskMs, cpuNs, gcMs, shuffleWrite, waitMs = new AtomicLong
  }
  val byGroup = new ConcurrentHashMap[String, Totals]
  private val jobGroup = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Integer]
  private val jobFirstTask = new ConcurrentHashMap[Int, java.lang.Boolean]

  private def totals(g: String): Totals = byGroup.computeIfAbsent(g, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, Int.box(e.jobId)))
      totals(group).jobs.incrementAndGet()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobGroup.get(j.intValue)))
      .foreach(g => totals(g).stages.incrementAndGet())

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).map(_.intValue).foreach { j =>
      val g = jobGroup.get(j)
      if (g != null && jobFirstTask.putIfAbsent(j, true) == null) {
        val t0: java.lang.Long = jobStart.get(j)
        if (t0 != null) totals(g).waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t0))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobGroup.get(j.intValue))).foreach { g =>
      val t = totals(g)
      t.tasks.incrementAndGet()
      if (!e.taskInfo.successful) t.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        t.taskMs.addAndGet(m.executorRunTime)
        t.cpuNs.addAndGet(m.executorCpuTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

  def groups: Map[String, Totals] = byGroup.asScala.toMap
}
