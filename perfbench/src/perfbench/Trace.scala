package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** One Spark job as the counters-only listener saw it. `span` is the
  * benchmark's phase span that was current on the submitting thread
  * (a local property, so jobs launched inside graft code inherit it).
  * `pinnedRdd` is the job's final RDD when the job is a `pin @` job
  * that materialises it into block storage: the RDD behind one
  * Materialize.pin under the default Local strategy. AQE's map-stage
  * jobs inside a pin end in an unpersisted RDD and have none. */
final case class JobRec(id: Int, t0: Long, desc: String, span: String, pinnedRdd: Option[Int]) {
  @volatile var t1: Long = -1L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  def pinSite: Option[String] =
    if (desc.startsWith("pin @ ")) Some(desc.stripPrefix("pin @ ")) else None
}

/** Counters-only SparkListener: per-job start/end time and summed stage
  * task metrics. No per-task state is kept. */
final class JobCounters extends SparkListener {
  val jobs = new mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = new mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val desc = prop("spark.job.description")
    // the final stage is created after its parents, and a stage's last
    // RDD after the RDDs it reads, so both have the largest ids
    val last = e.stageInfos.maxByOption(_.stageId).flatMap(_.rddInfos.maxByOption(_.id))
    val pinned = last.filter(r => desc.startsWith("pin @ ") && r.storageLevel.isValid).map(_.id)
    jobs(e.jobId) = JobRec(e.jobId, e.time, desc, prop(Trace.SpanKey), pinned)
    e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wait until every started job has ended (the listener bus is
    * asynchronous; stage events precede their job's end event). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.count(_.t1 < 0))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def inSpan(prefix: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.span.startsWith(prefix)).toSeq
  }
}

/** A span recorded around a call into a layer. Times are epoch ms. */
final case class Span(id: String, parent: String, name: String,
                      t0: Long, t1: Long, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "t0_ms" -> t0, "t1_ms" -> t1, "attrs" -> attrs)
}

object Trace {
  /** Local property naming the current phase span, e.g. `t.3/build`. */
  val SpanKey = "perfbench.span"

  /** Milliseconds of [t0, t1) covered by at least one interval. */
  def covered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    var end = t0
    var sum = 0L
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
      }
    sum
  }
}
