package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the calls into each layer, kept in memory and
  * written once when the run ends. Until `enabled` is set nothing is
  * recorded and [[span]] only runs its body. */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  // listener event times are epoch milliseconds
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Time `body` as a child of the calling thread's current span. Spark
    * jobs the body submits carry the span id as a local property, so the
    * listener can hang them under it. */
  def span[T](sc: SparkContext, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.ParentKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        add(Span(id, parent, name, t0, System.nanoTime(), attrs))
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.ParentKey, if (parent == 0L) null else parent.toString)
      }
    }
}

object Tracer {
  val ParentKey = "perfbench.parent.span"

  /** Self time per span name: each span's duration minus the part of it
    * that its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (lo, hi) = (Long.MinValue, Long.MinValue)
        iv.foreach { case (a, b) =>
          if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
          else hi = math.max(hi, b)
        }
        if (hi > lo) covered += hi - lo
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}

/** Benchmark-owned listener: job and stage spans plus task-metric totals.
  * Counters are cumulative; the harness reads them after draining the
  * listener bus. */
final class Probe(tracer: Tracer) extends SparkListener {
  val totals: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** max/median task time of the worst stage with at least two tasks */
  @volatile var worstTaskSkew = 1.0
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // stages of jobs that output checks submit, outside the timed region
  private val untimed = mutable.Set.empty[Int]

  private def add(k: String, v: Double): Unit = totals(k) = totals(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(p => p.getProperty(Probe.UntimedKey) == "1")) {
      untimed ++= e.stageIds
      return
    }
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.ParentKey)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = (tracer.nextId(), parent, tracer.fromEpochMs(e.time))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.add(Span(id, parent, "spark.job", start, tracer.fromEpochMs(e.time),
        Map("job" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (untimed(e.stageId)) return
    val m = e.taskMetrics
    val info = e.taskInfo
    add("sched.tasks", 1)
    if (info != null) {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      add("sched.task_s", info.duration / 1e3)
      if (m != null)
        add("sched.delay_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
    }
    if (m != null) {
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.records", m.shuffleWriteMetrics.recordsWritten)
      add("spill.disk_mb", m.diskBytesSpilled / 1e6)
      add("spill.mem_mb", m.memoryBytesSpilled / 1e6)
      add("sources.in_mb", m.inputMetrics.bytesRead / 1e6)
      add("api.records_in", m.inputMetrics.recordsRead)
    }
  }

  /** Stage spans, and the phase each stage belongs to: a stage that only
    * writes shuffle output is phase 1 (scan, map, shuffle write), one that
    * reads shuffle output is phase 2 (fetch, sort, reduce, write), and one
    * with no shuffle at all is phase 0 (the range-sample job and other
    * driver-side probes such as schema and footer reads). */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (untimed(si.stageId)) return
    add("sched.stages", 1)
    val durs = stageTasks.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
    if (durs.size >= 2) {
      val med = math.max(1L, durs(durs.size / 2))
      worstTaskSkew = math.max(worstTaskSkew, durs.last.toDouble / med)
    }
    for (sub <- si.submissionTime; done <- si.completionTime) {
      val m = si.taskMetrics
      val (rd, wr) =
        if (m == null) (0L, 0L)
        else (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
      val phase = if (rd > 0) "reduce" else if (wr > 0) "map" else "sample"
      add(s"phase.${phase}_s", (done - sub) / 1e3)
      val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(0L)
      tracer.add(Span(tracer.nextId(), parent, "spark.stage", tracer.fromEpochMs(sub),
        tracer.fromEpochMs(done), Map("stage" -> si.stageId, "tasks" -> si.numTasks,
          "phase" -> phase, "shuffle_read_b" -> rd, "shuffle_write_b" -> wr)))
    }
  }

  def snapshot(): Map[String, Double] = synchronized(totals.toMap)
}

object Probe {
  /** Local property marking jobs that run outside the timed region. */
  val UntimedKey = "perfbench.untimed"
}

/** Records every SQL execution, with its outcome, as a span. */
final class ExecProbe(tracer: Tracer) extends QueryExecutionListener {
  val errors = new ConcurrentLinkedQueue[String]()

  private def record(funcName: String, ns: Long, err: Option[Exception]): Unit = {
    val end = System.nanoTime()
    tracer.add(Span(tracer.nextId(), 0L, "sql.execution", end - ns, end,
      Map("func" -> funcName) ++ err.map(e => "error" -> e.getClass.getName)))
    err.foreach(e => errors.add(s"$funcName: ${e.getClass.getName}"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, durationNs, None)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, 0L, Some(exception))
}
