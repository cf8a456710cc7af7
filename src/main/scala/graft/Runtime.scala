package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The local session and measurement primitives shared by the harness
  * mains ([[Bench]], [[Verify]], `tools.*`) and the test suites. */
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

  /** Drop every persisted or localCheckpointed RDD. Blocking, so the
    * next measurement never overlaps the release. Each run pins its own
    * frames, so the blocks of an earlier run are storage pressure that
    * is never reused. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** Build `query` and run it into the noop sink: the wall seconds, or
    * the error it threw. The noop sink forces every row, where count()
    * would let Catalyst prune the work being measured. Building is
    * timed (operators pin and collect while building); the [[release]]
    * afterwards is not. */
  def runNoop(spark: SparkSession)(query: => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val r =
      try {
        query.write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
    release(spark)
    r
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
