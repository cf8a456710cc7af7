package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. `perfbench/run.py` builds this package
  * together with graft's main sources and launches it; it measures and
  * writes a raw record, and run.py turns that record into metrics.
  *
  * Arguments: --cpus N --tmp DIR --data DIR --queries a,b,.. --seed S
  * --seconds T --trace 0|1 --record FILE [--trace-file FILE].
  *
  * Closed loop, one client: a cold pass, one untimed digest pass, two
  * untimed warm-up passes, then steady passes for T seconds (at least
  * three). With --trace 1: the cold and digest passes, one steady pass,
  * one traced pass, one more steady pass and the direct layer probes.
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  /** Registry queries plus two test-only ones, which the smoke test uses
    * to check that failures are counted and named: `perfbench_fail`
    * always throws, and `perfbench_wrong_digest` runs q04_derive under a
    * name whose stored digest is deliberately wrong. */
  def lookup(name: String): Query = name match {
    case "perfbench_fail" => (_: SparkSession, _: String) =>
      throw new IllegalStateException("perfbench_fail fails on purpose")
    case "perfbench_wrong_digest" => lookup("q04_derive")
    case _ => graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
  }

  /** The session graft.Bench uses, with scratch paths kept under `tmp`. */
  def session(cpus: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // resolve a function GraftExtensions injects: the session is ready
    // only once its extensions are applied
    spark.sql("SELECT graft_dot(array(1.0D), array(1.0D))").collect()
    spark
  }

  /** JSON writer for the record and the spans (Scala maps, seqs, options). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = session(opts("cpus").toInt, opts("tmp"))
    val setupS = sinceJvmStart()
    try new Runner(spark, opts, setupS).run()
    finally spark.stop()
  }
}

final class Runner(spark: SparkSession, opts: Map[String, String], setupS: Double) {
  import Main.Query

  private val sc = spark.sparkContext
  private val dataDir = opts("data")
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val rng = new scala.util.Random(opts("seed").toLong)
  private val queries: Seq[(String, Query)] =
    opts("queries").split(",").toSeq.map(n => n -> Main.lookup(n))

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Drop every pinned / cached RDD the last query left behind; blocking,
    * so the next query never overlaps the release. */
  private def release(): Unit =
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def errorOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}".take(300)

  /** One closed-loop execution: build the frame, run it through the noop
    * sink. A failure keeps its time up to the throw. */
  private def once(name: String, fn: Query): Map[String, Any] = {
    val t0 = now()
    val err = try { noop(fn(spark, dataDir)); None } catch { case e: Throwable => Some(errorOf(e)) }
    val wall = secs(t0, now())
    release()
    Map("q" -> name, "wall_s" -> wall, "error" -> err)
  }

  /** One pass in a seed-shuffled order; the pass wall includes releases. */
  private def pass(): Map[String, Any] = {
    val order = rng.shuffle(queries)
    val t0 = now()
    val qs = order.map { case (n, f) => once(n, f) }
    Map("pass_s" -> secs(t0, now()), "queries" -> qs)
  }

  /** Output digest from an untimed execution: row count plus an
    * order-independent sum and xor of a 64-bit hash of each row's JSON. */
  private def digest(fn: Query): Map[String, Any] = try {
    val df = fn(spark, dataDir)
    val row = struct(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(xxhash64(to_json(row)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    release()
    Map("rows" -> r.getLong(0), "digest" -> s"${r.get(1)}:${r.get(2)}")
  } catch { case e: Throwable => release(); Map("error" -> errorOf(e)) }

  /** Heap in use right after a full GC, summed over the heap pools. The
    * pause between collections lets Spark's ContextCleaner drop the
    * state the first collection made unreachable. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** /proc/stat steal jiffies and 1-min loadavg, as in graft.Bench. */
  private def hostState(): Map[String, Any] = try {
    val cpu = Files.readString(Paths.get("/proc/stat")).linesIterator
      .find(_.startsWith("cpu ")).get.trim.split("\\s+")
    val load = Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    Map("steal_s" -> (if (cpu.length > 8) cpu(8).toLong / 100.0 else 0.0), "loadavg" -> load)
  } catch { case _: Throwable => Map("steal_s" -> 0.0, "loadavg" -> -1.0) }

  def run(): Unit = {
    val host0 = hostState()
    val record = mutable.LinkedHashMap[String, Any]()
    record("session") = Map(
      "spark_version" -> spark.version,
      "cpus" -> sc.defaultParallelism,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java_version" -> System.getProperty("java.version"))
    record("setup_s") = setupS

    val cg0 = CodeGenerator.compileTime
    record("cold") = pass() ++ Map("codegen_compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9)
    val d0 = now()
    record("digests") = queries.map { case (n, f) => n -> digest(f) }.toMap
    record("digest_pass_s") = secs(d0, now())

    // Passes keep speeding up for a while after the cold and digest
    // passes (JIT); two more untimed passes keep the median off most of
    // that slope. A traced run needs only one untraced pass before the
    // traced one.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    if (!traced) record("warmup") = Seq.fill(2) { System.gc(); pass() }
    // Live heap after a fixed amount of work, before the timed passes:
    // Spark's status store keeps state per job, so after them it would
    // grow with the number of passes that fit in T seconds.
    record("heap_live_mb") = liveHeapMb()
    val t0 = now()
    while (passes.length < (if (traced) 1 else 3) || (!traced && secs(t0, now()) < seconds)) {
      System.gc()
      passes += pass()
    }
    record("passes") = passes.toSeq

    if (traced) {
      // the traced pass sits between two untraced ones, so the overhead
      // estimate is not confounded by the passes still speeding up
      System.gc()
      record("traced") = tracedPass()
      System.gc()
      record("after_traced") = pass()
      val probes = new Probes(spark, dataDir, opts("tmp"))
      val groups = Seq[(String, () => Any)]("tables" -> (() => probes.tableProbe()),
        "expr" -> (() => probes.exprProbe()), "sources" -> (() => probes.sourcesProbe()))
      record("probes") = groups.map { case (g, f) =>
        val t = now(); val r = f(); g -> Map("wall_s" -> secs(t, now()), "results" -> r) }.toMap
    }

    record("host") = Map("start" -> host0, "end" -> hostState())
    Files.writeString(Paths.get(opts("record")), Main.json.writeValueAsString(record))
  }

  /** Phase boundaries of one traced query execution (nanoTime marks:
    * start, after build, after plan, after execute; fewer on failure). */
  private final case class Traced(name: String, id: String, error: Option[String],
                                  marks: Vector[Long], t0Ms: Long, t1Ms: Long,
                                  compileS: Double) {
    def wallS: Double = secs(marks.head, marks.last)
    def phaseS(i: Int): Double = if (marks.length > i + 1) secs(marks(i), marks(i + 1)) else 0.0
  }

  private def traceOne(name: String, fn: Query, id: String): Traced = {
    val cg0 = CodeGenerator.compileTime
    val t0Ms = System.currentTimeMillis()
    var marks = Vector(now())
    def phase(p: String): Unit = sc.setLocalProperty(Trace.SpanKey, s"$id/$p")
    val err = try {
      phase("build"); val df = fn(spark, dataDir); marks :+= now()
      phase("plan"); df.queryExecution.executedPlan; marks :+= now()
      phase("execute"); noop(df); marks :+= now()
      None
    } catch { case e: Throwable => marks :+= now(); Some(errorOf(e)) }
    finally sc.setLocalProperty(Trace.SpanKey, null)
    val t = Traced(name, id, err, marks, t0Ms, System.currentTimeMillis(),
      (CodeGenerator.compileTime - cg0) / 1e9)
    release()
    t
  }

  /** One pass with the listener on and spans around each layer call:
    * query -> build / plan / execute -> Spark job. */
  private def tracedPass(): Map[String, Any] = {
    val counters = new JobCounters
    sc.addSparkListener(counters)
    val gc0 = gcMillis()
    val p0 = now()
    val traced = rng.shuffle(queries).zipWithIndex.map { case ((n, f), i) => traceOne(n, f, s"q$i") }
    val passS = secs(p0, now())
    val gcS = (gcMillis() - gc0) / 1e3
    counters.drain()
    sc.removeSparkListener(counters)

    val cores = sc.defaultParallelism
    val phases = Seq("build", "plan", "execute")
    val spans = mutable.ArrayBuffer[Span]()
    val rows = traced.map { t =>
      val jobs = counters.inSpan(s"${t.id}/")
      def jobsIn(p: String) = jobs.filter(_.span == s"${t.id}/$p")
      def jobS(j: JobRec) = if (j.t1 >= j.t0) (j.t1 - j.t0) / 1e3 else 0.0
      val pinJobs = jobs.filter(_.pinSite.isDefined)
      val taskS = jobs.map(_.taskMs).sum / 1e3
      val busyMs = Trace.covered(t.t0Ms, t.t1Ms, jobs.map(j => (j.t0, if (j.t1 < 0) t.t1Ms else j.t1)))
      spans += Span(t.id, "", t.name, t.t0Ms, t.t1Ms, Map("error" -> t.error.getOrElse("")))
      var pt = t.t0Ms
      phases.zipWithIndex.foreach { case (p, i) =>
        val d = (t.phaseS(i) * 1000).round
        spans += Span(s"${t.id}/$p", t.id, p, pt, pt + d)
        pt += d
      }
      jobs.foreach { j =>
        spans += Span(s"${t.id}/job${j.id}", j.span, j.pinSite.map(s => s"pin @ $s").getOrElse("job"),
          j.t0, j.t1, Map("task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes,
            "spill_bytes" -> j.spillBytes, "input_rows" -> j.inputRows))
      }
      Map("q" -> t.name, "exec_id" -> t.id, "error" -> t.error, "wall_s" -> t.wallS,
        "build_s" -> t.phaseS(0), "plan_s" -> t.phaseS(1), "exec_s" -> t.phaseS(2),
        "build_jobs" -> jobsIn("build").size, "plan_jobs" -> jobsIn("plan").size,
        "exec_jobs" -> jobsIn("execute").size,
        "pins" -> pinJobs.flatMap(_.pinnedRdd).distinct.size,
        "pin_jobs" -> pinJobs.size, "pin_s" -> pinJobs.map(jobS).sum,
        "pin_sites" -> pinJobs.groupBy(_.pinSite.get).map { case (site, js) =>
          site -> Map("pins" -> js.flatMap(_.pinnedRdd).distinct.size, "jobs" -> js.size,
            "s" -> js.map(jobS).sum) },
        "codegen_compile_s" -> t.compileS,
        "task_s" -> taskS,
        "task_s_by_phase" -> phases.map(p => p -> jobsIn(p).map(_.taskMs).sum / 1e3).toMap,
        "core_util" -> (if (t.wallS > 0) taskS / (t.wallS * cores) else 0.0),
        "shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1048576.0,
        "spill_mb" -> jobs.map(_.spillBytes).sum / 1048576.0,
        "input_rows" -> jobs.map(_.inputRows).sum,
        "gap_s" -> ((t.t1Ms - t.t0Ms) - busyMs) / 1e3)
    }
    opts.get("trace-file").foreach { f =>
      Files.writeString(Paths.get(f), spans.map(s => Main.json.writeValueAsString(s.toMap)).mkString("", "\n", "\n"))
    }
    Map("pass_s" -> passS, "gc_s" -> gcS, "cores" -> cores, "queries" -> rows)
  }
}
