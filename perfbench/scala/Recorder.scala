package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One timed call into a layer's public function. Times are epoch
  * milliseconds with a nanosecond fraction, so they line up with the
  * timestamps Spark puts on job events.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, var endMs: Double = Double.NaN)

/** Task metrics summed over the tasks of one job. */
final class TaskTotals {
  var runMs = 0L
  var cpuNs = 0L
  var serdeMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** One Spark job as the listener saw it. */
final class JobRec(val id: Int, val group: String, val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  val totals = new TaskTotals
}

/** Peak of the bytes (memory plus disk) that persisted and checkpointed
  * datasets hold in Spark block storage, from `SparkListenerBlockUpdated`.
  * Broadcast blocks are left out: they are freed when the JVM collects
  * their handles, so their share of a peak changes from run to run.
  * Cheap enough to stay on in untraced runs: it sees only block events,
  * never task events.
  */
class BlockTracker extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var held = 0L
  @volatile var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = info.memSize + info.diskSize
      held += now - sizes.getOrElse(key, 0L)
      if (now == 0) sizes.remove(key) else sizes(key) = now
      if (held > peakBytes) peakBytes = held
    }
  }
}

/** Block tracking plus per-job task metrics, for traced runs. Jobs are
  * tied to spans through the job group the span sets on the calling
  * thread, and to call sites for the rewrite's breakdown; `jobs` is read
  * only after the SparkContext has stopped, which drains the listener bus.
  */
final class TaskRecorder extends BlockTracker {
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val sqlCallSite = mutable.HashMap.empty[String, String]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]

  // a SQL execution is described by the call site of the action that
  // started it, e.g. "reduce at Rewrite.scala:177"
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlCallSite(s.executionId.toString) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // jobs of adaptive query stages run on other threads and lose the
    // caller's call site: take their SQL execution's, else the result
    // stage's name, which is the action's call site
    val site = (prop("spark.sql.execution.root.id") ++ prop("spark.sql.execution.id"))
      .flatMap(sqlCallSite.get).headOption
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
    val job = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), site.getOrElse(""), e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { job =>
      val t = job.totals
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.serdeMs += m.executorDeserializeTime + m.resultSerializationTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** The span stack. Every span sets `<id>:<name>` as the job group of the
  * calling thread, so Spark jobs it submits carry it. The job description
  * stays unset, so that SQL executions keep their call site as theirs.
  */
final class Spans(sc: SparkContext) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  // epoch-aligned once, monotonic after
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def apply[A](name: String)(body: => A): A = {
    val s = Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1), nowMs)
    all += s
    stack = s :: stack
    sc.setJobGroup(s"${s.id}:$name", null)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"${p.id}:${p.name}", null)
        case None    => sc.clearJobGroup()
      }
    }
  }
}
