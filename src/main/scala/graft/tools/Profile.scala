package graft.tools

import graft.Runtime
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job attribution for ONE registry query:
  * `runMain graft.tools.Profile q170_pagerank [runs=2]`.
  *
  * Runs the query as [[graft.Bench]] does and prints, for the LAST run
  * (steady state: earlier runs absorb codegen/JIT), one line per Spark
  * job: wall ms, task-time ms, shuffle bytes, and the job description.
  * Pin jobs, AQE stage jobs and the final action show up separately,
  * which the single noop-sink wall number cannot attribute.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [runs]")
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val spark = Runtime.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    final case class Job(id: Int, var t0: Long = 0L, var t1: Long = 0L,
                         var desc: String = "", var stages: Int = 0,
                         var taskMs: Long = 0L, var shufR: Long = 0L,
                         var shufW: Long = 0L, var tasks: Int = 0)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, Job]()
    val stageToJob = new scala.collection.mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = Job(e.jobId, t0 = e.time,
          desc = Option(e.properties.getProperty("spark.job.description"))
            .getOrElse(""))
        jobs(e.jobId) = j
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += si.numTasks
            j.taskMs += si.taskMetrics.executorRunTime
            j.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
    }

    def once(record: Boolean): Double = {
      if (record) { jobs.clear(); stageToJob.clear() }
      Runtime.runNoop(spark)(fn(spark, sfDir)).toTry.get
    }
    (1 until runs).foreach(_ => once(record = false)) // warm-ups
    spark.sparkContext.addSparkListener(listener)
    val wall = once(record = true)
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain

    println(f"PROFILE $name wall=${wall}%.3f s (last of $runs runs), ${jobs.size} jobs")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%9s ${"stages"}%6s ${"tasks"}%6s ${"shufR_kB"}%9s ${"shufW_kB"}%9s  desc")
    jobs.values.foreach { j =>
      val w = if (j.t1 > 0) j.t1 - j.t0 else -1
      println(f"${j.id}%4d ${w}%8d ${j.taskMs}%9d ${j.stages}%6d ${j.tasks}%6d ${j.shufR / 1024}%9d ${j.shufW / 1024}%9d  ${j.desc.take(60)}")
    }
    val sumW = jobs.values.map(j => if (j.t1 > 0) j.t1 - j.t0 else 0L).sum
    println(f"sum(job wall) = ${sumW / 1000.0}%.3f s of ${wall}%.3f s wall — gap = driver/planning time")
    spark.stop()
  }
}
