package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `query` is the id of the query execution the span
  * belongs to (-1 above query level); times are epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      query: Long, start: Long, end: Long, counts: Map[String, Double])

/** Spans of the chain run → pass → query → {build, action} → job → stage,
  * plus a `plan` span per Catalyst action (its analysis, optimization and
  * physical-planning times from `QueryExecution.tracker`). Jobs reach their
  * query through the job group the runner sets around each call. Spans are
  * kept in memory and handed out when the run ends. */
final class Tracer(clock: Clock) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentHashMap[Long, Span]()
  private val openSpans = new ConcurrentHashMap[Long, Span]()
  // job group (query id) → the build or action span currently open for it
  private val current = new ConcurrentHashMap[String, Long]()
  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentHashMap[Long, (Long, Long, Map[String, Double])]()

  def open(parent: Long, kind: String, name: String, query: Long = -1L): Long = {
    val id = ids.incrementAndGet()
    openSpans.put(id, Span(id, parent, kind, name, query, clock.micros(), 0L, Map.empty))
    id
  }

  def close(id: Long): Unit = {
    val s = openSpans.remove(id)
    done.put(id, s.copy(end = clock.micros()))
  }

  /** Run `body` inside a child span of `parent` that the job group's jobs attach to. */
  def within[T](parent: Long, kind: String, group: String)(body: => T): T = {
    val id = open(parent, kind, kind, group.toLong)
    current.put(group, id)
    try body finally { current.remove(group); close(id) }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.flatMap(g => Option(current.get(g))).getOrElse(-1L)
      val query = group.map(_.toLong).getOrElse(-1L)
      val id = ids.incrementAndGet()
      jobs.put(e.jobId, Span(id, parent, "job", e.jobId.toString, query, e.time * 1000L, 0L,
        Map("stages" -> e.stageIds.size.toDouble)))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach(s => done.put(s.id, s.copy(end = e.time * 1000L)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
      val m = info.taskMetrics
      val mb = 1048576.0
      val counts =
        if (m == null) Map("tasks" -> info.numTasks.toDouble)
        else Map(
          "tasks" -> info.numTasks.toDouble,
          "run_s" -> m.executorRunTime / 1e3,
          "cpu_s" -> m.executorCpuTime / 1e9,
          "gc_s" -> m.jvmGCTime / 1e3,
          "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / mb,
          "shuffle_read_mb" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead) / mb,
          "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
          "input_mb" -> m.inputMetrics.bytesRead / mb,
          "input_records" -> m.inputMetrics.recordsRead.toDouble,
          "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
      val id = ids.incrementAndGet()
      done.put(id, Span(id, job.map(_.id).getOrElse(-1L), "stage", info.stageId.toString,
        job.map(_.query).getOrElse(-1L),
        info.submissionTime.getOrElse(0L) * 1000L, info.completionTime.getOrElse(0L) * 1000L,
        counts))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        def sec(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
        plans.put(ids.incrementAndGet(), (ph.values.map(_.startTimeMs).min * 1000L,
          ph.values.map(_.endTimeMs).max * 1000L,
          Map("analysis_s" -> sec("analysis"), "optimize_s" -> sec("optimization"),
            "physical_s" -> sec("planning"))))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private var attached = false

  /** Listeners are registered only for traced passes, so untraced passes
    * of the same run pay nothing for them. */
  def enable(spark: SparkSession, on: Boolean): Unit = if (on != attached) {
    PerfbenchBus.drain(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    } else {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    attached = on
  }

  /** All recorded spans. Each Catalyst action becomes a `plan` span under
    * the build or action span that was open when its analysis began. */
  def spans(spark: SparkSession): Seq[Span] = {
    enable(spark, on = false)
    val calls = done.values.asScala.filter(s => s.kind == "build" || s.kind == "action")
      .toSeq.sortBy(_.start)
    val planSpans = plans.asScala.toSeq.map { case (id, (start, end, counts)) =>
      val owner = calls.takeWhile(_.start <= start + 999L).lastOption.filter(_.end >= start)
      Span(id, owner.map(_.id).getOrElse(-1L), "plan", "catalyst",
        owner.map(_.query).getOrElse(-1L), start, end, counts)
    }
    (done.values.asScala.toSeq ++ planSpans).sortBy(_.id)
  }
}
