package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.util.Sessions

/** Dev profiler: runs one named SparkEntry query and prints every Spark
  * job it launches (description + wall duration) — the tool that turns a
  * "job-count-bound" hypothesis into a number. Not part of the gate.
  *
  * Usage: runMain graft.tools.JobProfile <queryName> [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GRAFT_PROFILE_CPUS=N (default 32): core count for the local
    // master — the scaling-inversion diagnosis (8 vs 32 cores) needs
    // the same tool at both counts
    val cpus = sys.env.get("GRAFT_PROFILE_CPUS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(32)
    val spark = Sessions.local(cpus.toString, 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // execution id groups jobs by SQL action; callsite names the
        // driver-side call that launched it — together they answer
        // "which action costs how many jobs"
        val p = Option(js.properties)
        def prop(k: String) = p.map(_.getProperty(k, "")).getOrElse("")
        val desc = Seq(
          "ex" + prop("spark.sql.execution.id"),
          prop("callSite.short"),
          prop("spark.job.description")).filter(_.nonEmpty).mkString("  ") +
          (if (sys.env.contains("GRAFT_PROFILE_PROPS"))
            "  props=" + p.map(_.stringPropertyNames().toString).getOrElse("")
          else "") +
          // stage callsites name the physical operators each job
          // materializes (exchange at …, parquet at …) — the view that
          // explains WHY an AQE execution costs N jobs
          (if (sys.env.contains("GRAFT_PROFILE_STAGES"))
            "  stages=" + js.stageInfos.map(_.name.takeWhile(_ != ' '))
              .mkString("[", ",", "]")
          else "")
        starts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          lines.add(f"job ${je.jobId}%3d  ${(je.time - t0) / 1000.0}%7.2fs  ${desc.take(110)}")
        }
      }
    })
    val fn = graft.SparkEntry.queries(name)
    // warm run then measured run, mirroring Bench's steady-state intent
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val warm = (System.nanoTime() - t0) / 1e9
    // the listener bus is asynchronous: give the warm run's queued
    // job-end events time to drain before clearing, or they pollute the
    // measured job list (the number this tool exists to report)
    Thread.sleep(2000)
    // GRAFT_PROFILE_COLD=1: also print the cold run's per-job wall —
    // the view that separates JVM/codegen warm-up (cold jobs slow,
    // hot jobs fast, same count) from a structural extra job
    if (sys.env.get("GRAFT_PROFILE_COLD").contains("1")) {
      println(s"-- cold run (${lines.size} jobs) --")
      lines.forEach(l => println(l))
    }
    lines.clear()
    // GRAFT_PROFILE_REPS=N (default 1): repeat the hot measurement and
    // report every reading + the min — single hot readings on this box
    // swing 2x run-to-run (r18: 17.1 vs 29.2 s on identical code), so
    // per-change A/B adjudication needs the distribution, not a sample
    // toIntOption + floor at 1: a typo'd or zero REPS value must not
    // throw after the measurement run completes (hots.min on empty)
    val reps = math.max(1,
      sys.env.get("GRAFT_PROFILE_REPS").flatMap(_.toIntOption).getOrElse(1))
    val hots = (1 to reps).map { _ =>
      lines.clear()
      val t1 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t1) / 1e9
    }
    spark.stop()
    lines.forEach(l => println(l))
    val hotsStr = hots.map(h => f"$h%.2f").mkString("[", ", ", "]")
    println(f"$name: cold $warm%.2fs, hot $hotsStr (min ${hots.min}%.2fs), " +
      f"jobs ${lines.size}")
  }
}
