package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark records around its calls into each layer of the
  * program. Spans live in memory and are written out when the run ends.
  * With tracing off, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds spent in spans of `layer` named by `name` (all names if empty). */
  def seconds(layer: String, name: String = ""): Double =
    done.filter(s => s.layer == layer && (name.isEmpty || s.name == name))
      .map(s => s.endNs - s.startNs).sum / 1e9

  /** Self time per layer: a span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def toJson: String = done.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, endNs: Long)
}

/** Job, stage and task counters from a SparkListener, accumulated
  * between `reset` and `snapshot`.
  */
final class SparkProfile extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stages, singleTaskStages, tasks = 0L
  private var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    tasks += e.stageInfo.numTasks
    if (e.stageInfo.numTasks == 1) singleTaskStages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    jobSpans.clear()
    stages = 0; singleTaskStages = 0; tasks = 0
    runMs = 0; cpuNs = 0; gcMs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
  }

  /** Counters since `reset`; `wallS` is the region's wall time. */
  def snapshot(wallS: Double): Map[String, Double] = synchronized {
    val merged = jobSpans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, span) => span :: acc
    }
    val spanS = merged.map { case (s, e) => e - s }.sum / 1e3
    Map(
      "operators.jobs" -> jobSpans.size.toDouble,
      "operators.stages" -> stages.toDouble,
      "operators.single_task_stages" -> singleTaskStages.toDouble,
      "operators.tasks" -> tasks.toDouble,
      "operators.job_span_s" -> spanS,
      "operators.driver_gap_s" -> math.max(0.0, wallS - spanS),
      "operators.effective_parallelism" -> (if (spanS > 0) runMs / 1e3 / spanS else 0.0),
      "operators.task_run_s" -> runMs / 1e3,
      "operators.task_cpu_s" -> cpuNs / 1e9,
      "operators.gc_s" -> gcMs / 1e3,
      "operators.shuffle_read_bytes" -> shuffleRead.toDouble,
      "operators.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "operators.spill_bytes" -> spill.toDouble)
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * batch action, from each QueryExecution's planning tracker.
  */
final class PlanProfile extends QueryExecutionListener {
  private var planNs = 0L
  private def record(qe: QueryExecution): Unit = synchronized {
    planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def reset(): Unit = synchronized { planNs = 0 }
  def seconds: Double = synchronized(planNs / 1e9)
}

/** Per-trigger progress of every streaming query, as the listener bus
  * delivers it.
  */
final class StreamProfile extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized(progress += e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def forRun(runId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(progress.filter(_.runId == runId).toList)
}

/** Everything a traced run registers on the session. */
final class Profiles(spark: SparkSession) {
  val jobs = new SparkProfile
  val plans = new PlanProfile
  val streams = new StreamProfile
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
}
