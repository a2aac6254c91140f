package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchAccess, SparkContext, Success}
import org.apache.spark.scheduler._

/** Counters the scheduler reports for the jobs of one span. */
final class SpanCounters {
  var jobs = 0
  var stages = 0
  var stagesSkipped = 0
  var tasks = 0
  var failedTasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var execCpuNs = 0L
  var schedWaitMs = 0L
  /** (start, end) wall-clock ms of every job, for the driver-gap union. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes Spark jobs, stages and tasks to benchmark spans.
  *
  * A span tags its thread's jobs with `SparkContext.setJobGroup(id)`;
  * this listener keys every job/stage/task event by that group id. The
  * listener bus is asynchronous, so [[drain]] must run before a span's
  * counters are read.
  */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[String, SpanCounters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val submitted = mutable.HashSet.empty[Int]
  /** Jobs that ran outside any span (no job group). */
  var unattributedJobs = 0

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  private def counters(span: String): SpanCounters =
    bySpan.getOrElseUpdate(span, new SpanCounters)

  def take(span: String): SpanCounters = synchronized {
    bySpan.remove(span).getOrElse(new SpanCounters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties) match {
      case Some(span) =>
        jobSpan(e.jobId) = span
        jobStartMs(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds
        counters(span).jobs += 1
      case None => unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { span =>
      val c = counters(span)
      c.jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
      // a stage listed by the job but never submitted was skipped: its
      // shuffle output already existed from an earlier job
      c.stagesSkipped += jobStages.remove(e.jobId).getOrElse(Nil)
        .count(id => !submitted.contains(id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    submitted += id
    group(e.properties).foreach { span =>
      stageSpan(id) = span
      counters(span).stages += 1
      stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = counters(span)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      c.schedWaitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmitMs.getOrElse(e.stageId, e.taskInfo.launchTime))
      Option(e.taskMetrics).foreach { m =>
        c.execCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def drain(sc: SparkContext): Unit = PerfbenchAccess.waitForListeners(sc)
}

/** One traced interval: `name` is `layer/op`, `parent` the enclosing span. */
final case class Span(id: String, name: String, layer: String, parent: String,
    run: String, startNs: Long, endNs: Long, startMs: Long,
    counters: SpanCounters, persistedLeft: Int)
