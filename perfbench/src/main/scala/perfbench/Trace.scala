package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Wall-clock milliseconds since the epoch at nanosecond resolution, on the
  * same clock Spark stamps its listener events with. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def ms(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One timed interval of the harness: a pass, a query, its build or final
  * write, or one public library call inside a composed pipeline. */
final case class Span(id: Int, parent: Int, name: String, query: String,
                      pass: Int, start: Double, end: Double)

/** Records spans in memory. Every Spark job submitted while a span is open
  * carries the span's id as the `perfbench.span` local property, so a job
  * is attributed to the span in flight when it started even though the
  * listener hears about it later, on another thread. */
final class Spans(sc: SparkContext) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass = -1
  var query = ""

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(Spans.Key, id.toString)
    val t0 = Clock.ms()
    try body
    finally {
      done += Span(id, parent, name, query, pass, t0, Clock.ms())
      stack = stack.tail
      sc.setLocalProperty(Spans.Key, stack.headOption.map(_.toString).orNull)
    }
  }
}

object Spans {
  val Key = "perfbench.span"
  val Sentinel = "sentinel"
}

/** Per-job totals of the task, stage and shuffle metrics Spark reports. */
final class JobRec(val id: Int, val span: String, val start: Long,
                   val stages: Seq[Int], val site: String) {
  var end = -1L
  var ok = true
  var stagesRun = 0
  var tasks = 0
  var tasksFailed = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var inBytes = 0L
  var inRows = 0L
  var outBytes = 0L
  var swBytes = 0L
  var srBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

/** The traced run's SparkListener, which also hears the streaming
  * queries' progress events. Everything is kept in memory; the harness
  * writes it out when the run ends. */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val writeFileMetrics = mutable.Set.empty[Long]
  private val sqlSites = mutable.Map.empty[Long, String]
  var filesWritten = 0L
  var cacheBytes = 0L
  val batches = mutable.ArrayBuffer.empty[(Long, Long)] // (duration ms, state rows)
  @volatile var sentinelDone = false

  /** The `graft.` frames of a call site, innermost first; or else its
    * first frame, which says where a job graft did not submit came from. */
  private def graftFrames(details: String): String = {
    val frames = details.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val graft = frames.filter(_.startsWith("graft."))
    if (graft.nonEmpty) graft.mkString("\n") else frames.headOption.getOrElse("")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
    val span = prop(Spans.Key)
    val own =
      if (e.stageInfos.isEmpty) ""
      else graftFrames(e.stageInfos.maxBy(_.stageId).details)
    // Spark 4 materializes query stages on its own threads, whose stacks
    // hold no graft frame; the SQL execution's call site was taken on the
    // thread that ran the action
    val site =
      if (own.startsWith("graft.")) own
      else Option(prop("spark.sql.execution.id"))
        .flatMap(id => sqlSites.get(id.toLong))
        .filter(_.startsWith("graft.")).getOrElse(own)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, e.stageIds, site)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
      if (j.span == Spans.Sentinel) sentinelDone = true
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stagesRun += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.tasksFailed += 1
      stageSubmitted.get(e.stageId).foreach { s =>
        j.waitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.swBytes += m.shuffleWriteMetrics.bytesWritten
        j.srBytes += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        cacheBytes += b.memSize + b.diskSize
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSites(s.executionId) = graftFrames(s.details)
        def walk(p: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
          p.metrics.filter(_.name == "number of written files")
            .foreach(writeFileMetrics += _.accumulatorId)
          p.children.foreach(walk)
        }
        walk(s.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates =>
        u.accumUpdates.foreach { case (id, v) =>
          if (writeFileMetrics.contains(id)) filesWritten += v
        }
      // progress of every session's streaming queries reaches the shared
      // bus; a StreamingQueryListener would hear only its own session's,
      // and graft runs its streams on a cloned session
      case p: StreamingQueryListener.QueryProgressEvent =>
        batches += ((p.progress.batchDuration,
          p.progress.stateOperators.map(_.numRowsTotal).sum))
      case _ =>
    }
  }
}
