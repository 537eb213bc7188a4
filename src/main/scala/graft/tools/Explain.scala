package graft.tools

import graft.SparkEntry
import graft.util.Sessions

/** Dev tool: print the formatted physical plan and wall time for named
  * queries. `runMain graft.tools.Explain <sfDir> <q1,q2,...|all> [--no-plan]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val which = args.lift(1).getOrElse("all")
    val showPlan = !args.contains("--no-plan")
    val spark = Sessions.local(Sessions.envCores, 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (which == "all") SparkEntry.queries.keys.toSeq.sorted
      else which.split(",").toSeq
    names.foreach { name =>
      if (showPlan) {
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      // time INCLUDING construction — eager queries (q36's checkpoint, q26's
      // stream) do their work before the write, exactly as Bench measures
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[time] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    spark.stop()
  }
}
