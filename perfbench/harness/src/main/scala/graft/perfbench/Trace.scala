package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced unit: a query execution in a pass (pass 0 = set-up). */
final case class Slot(query: String, pass: Int)

/** Per-unit counts, filled by the listeners on the listener-bus thread and
  * read by the harness after it drains the bus. */
final class Counts {
  var jobs, stages, tasks, singleTaskStages, stagingJobs = 0L
  var stagingMs, cpuNs, shuffleWriteBytes, shuffleRecords, spillBytes = 0L
  var bytesRead, bytesWritten, planMs = 0L
  var batches, triggerMs, commitMs = 0L
  val stateRowsByRun = mutable.Map[String, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** A finished job, for the span file. `site` is its call site. */
final case class JobSpan(id: Int, slot: Slot, phase: String, startMs: Long,
                         endMs: Long, stages: Int, staging: Boolean,
                         site: String)

/** The trace's shared state. The three listeners are registered through
  * the session configuration, so that they also see the sessions the
  * program creates itself (its stateful streams run in their own
  * sessions), and they count only while `active` is set. Every job is
  * tagged with the unit that launched it through local properties; stream
  * jobs inherit them, because Spark clones local properties into a
  * stream's execution thread when the stream starts. Plan and streaming
  * events carry no properties and are charged to `current`. */
object Trace {
  val QueryTag = "perfbench.query"
  val PassTag = "perfbench.pass"
  val PhaseTag = "perfbench.phase"

  @volatile var active = false
  @volatile var current: Slot = Slot("", 0)
  val counts = mutable.Map[Slot, Counts]()
  val jobSpans = mutable.ArrayBuffer[JobSpan]()

  def countsOf(u: Slot): Counts = synchronized {
    counts.getOrElseUpdate(u, new Counts)
  }

  def update(u: Slot)(f: Counts => Unit): Unit = synchronized {
    f(countsOf(u))
  }

  val listenerConf: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[JobListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" ->
      classOf[StreamListener].getName)
}

/** Jobs, stages and task metrics, keyed by the job's tags. */
final class JobListener extends SparkListener {
  private val stageSlot = mutable.Map[Int, Slot]()
  private val open = mutable.Map[Int, (Slot, String, Long, Int, Boolean,
    String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.active) Trace.synchronized {
      val p = Option(e.properties)
      for (q <- p.flatMap(x => Option(x.getProperty(Trace.QueryTag)))) {
        val u = Slot(q, p.get.getProperty(Trace.PassTag, "0").toInt)
        val phase = p.get.getProperty(Trace.PhaseTag, "")
        val site = e.stageInfos.sortBy(-_.stageId).headOption
          .map(_.name).getOrElse("")
        // a job launched from Staging.stage carries it in its call site
        val staging = e.stageInfos.exists(s =>
          s.details.contains("graft.Staging$") ||
            s.name.contains("Staging.scala"))
        e.stageInfos.foreach(s => stageSlot.getOrElseUpdate(s.stageId, u))
        open(e.jobId) = (u, phase, e.time, e.stageInfos.size, staging, site)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
    for ((u, phase, t0, nStages, staging, site) <- open.remove(e.jobId)) {
      Trace.update(u) { c =>
        c.jobs += 1
        c.jobIntervals += ((t0, e.time))
        if (staging) { c.stagingJobs += 1; c.stagingMs += e.time - t0 }
      }
      Trace.jobSpans +=
        JobSpan(e.jobId, u, phase, t0, e.time, nStages, staging, site)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    for (u <- Trace.synchronized(stageSlot.get(e.stageInfo.stageId)))
      Trace.update(u) { c =>
        c.stages += 1
        if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (u <- Trace.synchronized(stageSlot.get(e.stageId));
         m <- Option(e.taskMetrics))
      Trace.update(u) { c =>
        c.tasks += 1
        c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
}

/** Planning time of every executed query: the QueryExecution tracker's
  * phases (analysis, optimization, planning). */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = charge(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = charge(qe)

  private def charge(qe: QueryExecution): Unit = if (Trace.active) {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    Trace.update(Trace.current)(_.planMs += ms)
  }
}

/** Streaming batches: trigger and commit time, and the state rows each
  * stream holds after its last batch. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.active) {
      val p = e.progress
      def ms(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Trace.update(Trace.current) { c =>
        c.batches += 1
        c.triggerMs += ms("triggerExecution")
        c.commitMs += ms("commitOffsets") + ms("walCommit")
        c.stateRowsByRun(p.runId.toString) =
          p.stateOperators.map(_.numRowsTotal).sum
      }
    }
}
