package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `curation_store`: a closed loop, one client, running curation queries
  * in sequence through `SparkEntry.queries` on a generated corpus
  * (`corpus.py`). Each execution is materialised through `noop` under a
  * job-group watchdog, the way `graft.Bench` runs a query.
  */
object CurationStoreBench {

  /** The all-pairs Jaccard path, down to its `SortedIntersectCount`
    * kernel. README.md says why the other eight queries are left out.
    */
  val Queries = Seq("q124_allpairs_jaccard")
  val TimeoutSeconds = 60

  /** Runs `name` in its own job group; cancels the group on timeout.
    * Returns (seconds, error).
    */
  def runOnce(spark: SparkSession, name: String, dir: String)(
      sink: org.apache.spark.sql.DataFrame => Unit): (Double, Option[String]) = {
    var error: Option[String] = None
    val t0 = System.nanoTime()
    val worker = new Thread(() =>
      try {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        sink(SparkEntry.queries(name)(spark, dir))
      } catch {
        case e: Throwable => error = Some(e.toString)
      } finally spark.sparkContext.clearJobGroup())
    worker.setDaemon(true)
    worker.start()
    worker.join(TimeoutSeconds * 1000L)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(name)
      worker.join(30000)
      error = Some(s"timed out after ${TimeoutSeconds}s")
    }
    val s = (System.nanoTime() - t0) / 1e9
    // outside the timed call, as in graft.Bench: release cached blocks
    spark.catalog.clearCache()
    System.gc()
    (s, error)
  }

  def run(a: Main.Args, tracer: Tracer): Map[String, Any] = {
    val spark = tracer.span("spark.session")(Main.session(a.workDir, Main.cpus))
    val taskLog = if (a.trace) Some(new TaskLog) else None
    taskLog.foreach(spark.sparkContext.addSparkListener)
    val data = a.workDir.resolve("data").toString
    val outDir = a.workDir.resolve("out")

    // set-up: one untimed pass that also writes each result for the check
    val warm = Queries.map { q =>
      q -> tracer.span(s"warmup.$q")(runOnce(spark, q, data)(
        _.write.mode("overwrite").parquet(outDir.resolve(s"$q.parquet").toString)))._2
    }

    val startMs = Clock.now()
    val passes = ArrayBuffer.empty[Seq[(String, Double, Option[String], Double, Double)]]
    while (passes.size < Main.MinPasses || Clock.now() - startMs < a.seconds * 1000.0) {
      passes += tracer.span("curation_store.pass") {
        Queries.map { q =>
          val from = Clock.now()
          val (s, err) = tracer.span(s"query.$q")(runOnce(spark, q, data)(
            _.write.format("noop").mode("overwrite").save()))
          (q, s, err, from, Clock.now())
        }
      }
    }
    val endMs = Clock.now()
    val perQuery = taskLog.map { log =>
      Queries.map { q =>
        q -> passes.map { p =>
          val (_, _, _, from, to) = p.find(_._1 == q).get
          log.summary(spark.sparkContext, from, to, Some(q))("jobs")
        }.sorted.apply(passes.size / 2)
      }.toMap
    }.getOrElse(Map.empty)
    val spark1 = taskLog.map(_.summary(spark.sparkContext, startMs, endMs)).getOrElse(Map.empty)
    val runs = passes.flatten
    Map(
      "workload" -> a.workload,
      "timed_start_ms" -> startMs,
      "timed_end_ms" -> endMs,
      "passes" -> passes.map(_.map(_._2).sum),
      "operations" -> passes.map(_.map(_._2 * 1000.0)),
      "attempted" -> (runs.size + warm.size),
      "failed" -> (runs.count(_._3.isDefined) + warm.count(_._2.isDefined)),
      "errors" -> (warm.flatMap { case (q, e) => e.map(q + ": " + _) } ++
        runs.flatMap(r => r._3.map(r._1 + ": " + _))),
      "layers" -> (Queries.flatMap { q =>
        val xs = passes.map(_.find(_._1 == q).get._2).sorted
        Seq(s"query.${q}_s" -> xs(xs.size / 2)) ++
          perQuery.get(q).map(j => s"query.${q}_jobs" -> j)
      }.toMap),
      "spark" -> spark1,
      "units" -> passes.size,
      "documents" -> graft.Tables.documents(spark, data).count(),
      "store_check" -> Map(
        "out_dir" -> outDir.toString,
        "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql.get(q)).toMap))
  }
}
