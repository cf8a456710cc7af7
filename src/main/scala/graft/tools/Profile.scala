package graft.tools

import graft.Runtime

/** Per-job attribution for ONE registry query:
  * `runMain graft.tools.Profile q170_pagerank [runs=2]`.
  *
  * Runs the query as [[graft.Bench]] does and prints, for the LAST run
  * (steady state: earlier runs absorb codegen/JIT), one line per Spark
  * job from [[graft.Runtime.JobLog]]: wall ms, task-time ms, shuffle
  * bytes, and the job description. Pin jobs, AQE stage jobs and the
  * final action show up separately, which the single noop-sink wall
  * number cannot attribute.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [runs]")
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = Runtime.sfDir
    val fn = Runtime.query(name)
    val spark = Runtime.session(Runtime.cpus)

    // the log spans only the last run and is drained outside its timing
    Runtime.repeat(spark, warmups = runs - 1, iters = 0)(Runtime.noop(fn(spark, sfDir))).toTry.get
    val (last, jobs) = Runtime.JobLog.during(spark)(
      Runtime.run(spark)(Runtime.noop(fn(spark, sfDir))).toTry.get)
    val wall = last.sec

    println(f"PROFILE $name wall=${wall}%.3f s (last of $runs runs), ${jobs.size} jobs")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%9s ${"stages"}%6s ${"tasks"}%6s ${"shufR_kB"}%9s ${"shufW_kB"}%9s  desc")
    jobs.foreach { j =>
      println(f"${j.id}%4d ${j.wallMs}%8d ${j.taskMs}%9d ${j.stages}%6d ${j.tasks}%6d ${j.shuffleRead / 1024}%9d ${j.shuffleWrite / 1024}%9d  ${j.desc.take(60)}")
    }
    val sumW = jobs.map(_.wallMs.max(0L)).sum
    println(f"sum(job wall) = ${sumW / 1000.0}%.3f s of ${wall}%.3f s wall — gap = driver/planning time")
    spark.stop()
  }
}
