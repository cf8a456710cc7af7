package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.InternalBridge

/** The local session and measurement primitives shared by the harness
  * mains and the test suites. Every main takes its session from
  * [[session]]; [[graft.Bench]], `tools.QBench`, `tools.Profile` and
  * `tools.Soak` time their runs with [[repeat]]; `tools.Profile` and
  * `tools.SoakBpeFit` count jobs with [[JobLog]]; `tools.Soak` and
  * `tools.SoakBpeFit` append their record with [[appendSoakRecord]]. */
object Runtime {

  /** `local[cpus]` session: graft's SQL extensions, one shuffle
    * partition per core, AQE, UTC session time zone, no UI, WARN logs.
    * Reuses the JVM's existing session if there is one (its runtime SQL
    * settings are then reset to these). */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores of the harness mains: `SPARK_GRAFT_CPUS`, default 32.
    * ([[Verify]] keeps its own default of 4.) */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Fixture directory the harness mains read: `SPARK_GRAFT_SF_DIR`,
    * default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The registry query `name`; an unknown name fails the main. */
  def query(name: String): Bench.Query =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  /** Drop every persisted or localCheckpointed RDD. Blocking, so the
    * next measurement never overlaps the release. Each run pins its own
    * frames, so the blocks of an earlier run are storage pressure that
    * is never reused. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** Run `df` into the noop sink. It forces every row, where count()
    * would let Catalyst prune the work being measured. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One run: the body's result, wall seconds, JVM GC seconds and host
    * steal jiffies. Wall time that is GC time is heap pressure, wall
    * time that tracks steal is the hypervisor; neither is a plan cost. */
  final case class Run[+A](value: A, sec: Double, gcSec: Double, steal: Long)

  /** Run `body` once, or return the error it threw. Building is timed
    * (operators pin and collect while building a frame); the [[release]]
    * afterwards is not. */
  def run[A](spark: SparkSession)(body: => A): Either[Throwable, Run[A]] = {
    val g0 = gcMillis(); val s0 = hostState()._1
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val out = r.map(Run(_, sec, (gcMillis() - g0) / 1e3, hostState()._1 - s0))
    release(spark)
    out
  }

  /** `warmups` runs, then the `iters` runs it returns; stops at the first
    * failure. `after` runs after every successful run, outside its timing. */
  def repeat[A](spark: SparkSession, warmups: Int, iters: Int, after: => Unit = ())(
      body: => A): Either[Throwable, Seq[Run[A]]] = {
    @annotation.tailrec
    def go(n: Int, acc: Vector[Run[A]]): Either[Throwable, Vector[Run[A]]] =
      if (n == 0) Right(acc)
      else run(spark)(body) match {
        case Left(e) => Left(e)
        case Right(r) => after; go(n - 1, acc :+ r)
      }
    go(warmups + iters, Vector.empty).map(_.drop(warmups))
  }

  /** (median, min, max); the median of an even count is the upper one. */
  def medianMinMax(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    (s(s.length / 2), s.head, s.last)
  }

  /** One Spark job as [[JobLog]] saw it. */
  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long = 0L,
                       stages: Int = 0, tasks: Int = 0, taskMs: Long = 0L,
                       shuffleRead: Long = 0L, shuffleWrite: Long = 0L) {
    /** -1 when the job's end event never arrived. */
    def wallMs: Long = if (endMs > 0) endMs - startMs else -1
  }

  /** Records the jobs started while it is registered: wall, task time,
    * stages, tasks, shuffle bytes and description. */
  final class JobLog private () extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId,
        Option(e.properties.getProperty("spark.job.description")).getOrElse(""), e.time)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.updateWith(e.jobId)(_.map(_.copy(endMs = e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stageToJob.get(si.stageId).foreach(jobs.updateWith(_)(_.map(j => j.copy(
        stages = j.stages + 1, tasks = j.tasks + si.numTasks,
        taskMs = j.taskMs + m.executorRunTime,
        shuffleRead = j.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten))))
    }
    private def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
  }

  object JobLog {
    /** Run `body` with a [[JobLog]] registered; returns its result and
      * the jobs it started. Spark's listener bus is asynchronous, so it
      * is drained before registering (no earlier job leaks in) and
      * before reading (no job of `body` is missed). */
    def during[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
      val sc = spark.sparkContext
      InternalBridge.drainListenerBus(sc)
      val log = new JobLog
      sc.addSparkListener(log)
      try {
        val a = body
        InternalBridge.drainListenerBus(sc)
        (a, log.snapshot)
      } finally sc.removeSparkListener(log)
    }
  }

  /** Print a soak's JSON record and append it to SOAK_LOCAL.json. */
  def appendSoakRecord(json: String): Unit = {
    println(json)
    Files.writeString(Paths.get("SOAK_LOCAL.json"), json + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Whole-machine hypervisor steal (field 8 of /proc/stat's `cpu`
    * line, jiffies at USER_HZ = 100) and the 1-min loadavg. Where they
    * cannot be read: (0, -1.0), the -1 telling "unreadable" from an
    * idle host. */
  def hostState(): (Long, Double) = try {
    val cpu = Files.readString(Paths.get("/proc/stat")).linesIterator
      .find(_.startsWith("cpu ")).get.trim.split("\\s+")
    val steal = if (cpu.length > 8) cpu(8).toLong else 0L
    val load = Files.readString(Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    (steal, load)
  } catch { case NonFatal(_) => (0L, -1.0) }

  /** Total collection time of every JVM garbage collector so far, ms. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
}
