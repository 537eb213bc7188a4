package graft
import org.apache.spark.sql.SparkSession
import graft.util.Sessions

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) on local[32] and prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  * Each query is FULLY materialized via a `noop`-format write: every row is
  * produced through the complete plan — including final sorts and top-level
  * projections, which Catalyst drops under a bare `.count()` — but nothing
  * is written anywhere.
  *
  * Environment comparability: raw wall-clock on a shared box measures box
  * state as much as plans (r12 adjudication: three same-day runs of
  * identical code read 188/314/723 s). Two mitigations:
  *   1. CALIBRATION — before the query loop we time three fixed probes
  *      (pure parquet scan, 32-partition shuffled aggregation, window
  *      function over one shuffle) whose plans never change round to
  *      round. Their times are recorded in the output under "calibration";
  *      cross-run comparison should divide query times by the calibration
  *      ratio (this run's calib total / the lock's calib total) before
  *      applying any 2x bar.
  *   2. PARSE-SAFE TAIL — the LAST stdout line is a compact summary
  *      (total + calibration + top-10 slowest, well under 2000 chars) so a
  *      tail-truncating collector always keeps a parseable record; the
  *      full per-query map is printed on the line before it.
  *   3. FLARE ADJUDICATION — a query reading past its flare bar
  *      (resource bench_lock.json, calibration-scaled, 2 s floor) is
  *      re-run up to 2 more times; the MEDIAN is recorded and the raw
  *      readings land under "flares". The bar is 2.5× the scaled lock
  *      for locks >= 5 s (the serial store-protocol family reads 2.9-4×
  *      under box contention — r16/r17 both cost a manual adjudication
  *      round) and 5× below that (re-run overhead dominates small
  *      queries). One box flare (r14's q124 at 212 s vs a 7.7 s lock)
  *      can no longer distort the headline; a real regression stays
  *      slow across re-runs and stays visible.
  */
object Bench {

  /** Three fixed probes measuring box state, not plan quality. Kept
    * deliberately boring and round-stable: any change here invalidates
    * cross-round calibration and must be versioned in BASELINE.md.
    */
  def calibrate(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def time(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      body
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      time("calib_scan") {
        li.select("l_orderkey", "l_quantity", "l_extendedprice")
          .write.format("noop").mode("overwrite").save()
      },
      time("calib_shuffle") {
        li.groupBy("l_suppkey")
          .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      },
      time("calib_window") {
        import org.apache.spark.sql.expressions.Window
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
            row_number().over(Window.partitionBy("l_orderkey")
              .orderBy("l_linenumber")).as("rn"))
          .write.format("noop").mode("overwrite").save()
      }
    )
  }

  /** Per-query seconds of the newest driver-recorded lock (shipped as a
    * resource; see BASELINE.md) + that lock's calibration total.
    * Empty map when the resource is missing — flare detection simply
    * disarms.
    */
  /** The lock's recorded scale-factor tag (`"sf": "sf0.1"`), if any. */
  def lockSfTag(name: String = "bench_lock.json"): Option[String] =
    lockText(name).flatMap(t =>
      "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(t).map(_.group(1)))

  private def lockText(name: String): Option[String] =
    Option(getClass.getResourceAsStream(s"/$name"))
      .map { in =>
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }.orElse {
        val p = java.nio.file.Paths.get(s"src/main/resources/$name")
        if (java.nio.file.Files.exists(p))
          Some(java.nio.file.Files.readString(p))
        else None
      }

  def loadLock(name: String = "bench_lock.json"):
      (Map[String, Double], Double) = {
    // classpath resource (sbt run/package copy it), else the source
    // tree (run_main.sh after a bare `compile`, which skips resources)
    val txt0 = lockText(name)
    if (txt0.isEmpty) return (Map.empty, 0.0)
    val txt = txt0.get
    val calib = "\"calib_total\"\\s*:\\s*([0-9.]+)".r
      .findFirstMatchIn(txt).map(_.group(1).toDouble).getOrElse(0.0)
    val qs = "\"(q[0-9]+_[a-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    (qs, calib)
  }

  /** Per-SF lock resolution: a bench at SF `sf` reads
    * `bench_lock_<sf>.json` when shipped (the sf1 lock lives there),
    * else the default `bench_lock.json` gated on its own `"sf"` tag —
    * flare adjudication ARMS exactly when a lock recorded at the
    * benched SF exists, and disarms otherwise (per-query locks are
    * data-volume-bound; calibration corrects box speed only).
    */
  def resolveLock(benchSf: String):
      (Map[String, Double], Double, String) = {
    val perSf = s"bench_lock_$benchSf.json"
    if (lockText(perSf).isDefined) {
      val (qs, c) = loadLock(perSf)
      (qs, c, perSf)
    } else {
      val (qs, c) = loadLock()
      if (lockSfTag().forall(_ == benchSf)) (qs, c, "bench_lock.json")
      else (Map.empty, 0.0, "bench_lock.json")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCores, 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen paths once on the smallest SF so measured numbers
    // reflect steady-state execution, not first-query class loading
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    // fixed environment probes (see scaladoc) — run after warmup, before the
    // query loop, on the same SF dir the queries read
    val calib: Seq[(String, Double)] =
      try calibrate(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] calibration failed: $e"); Seq.empty }
    // per-query watchdog (mirrors Verify): a hung query is cancelled after
    // the timeout and recorded at the cutoff time instead of stalling the run
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "600").toLong
    // optional dev filter (unset for driver runs → full surface). A typo
    // or stale env var must not produce a plausible-looking partial run:
    // unknown names abort, and a filtered run is labeled "partial".
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          s"${unknown.toSeq.sorted.mkString(",")}")
      spark.stop()
      sys.exit(2)
    }
    if (only.nonEmpty)
      System.err.println(s"[bench] ONLY filter active (${only.size} of " +
        s"${SparkEntry.queries.size} queries): ${only.toSeq.sorted.mkString(",")}")
    // flare adjudication (r14: one box flare distorted the headline
    // 1.6×): a query reading > 5× its recorded per-query lock — scaled
    // by this run's calibration ratio, with a 2 s absolute floor — is
    // re-run up to 2 more times and the MEDIAN is recorded, plus a
    // "flares" annotation carrying every raw reading. A real regression
    // stays slow across re-runs and is still flagged; a one-off box
    // flare self-adjudicates out of the headline.
    // per-SF lock resolution (see resolveLock): per-query locks are
    // tied to the SCALE FACTOR they were recorded at — at a different
    // SF every query legitimately reads several × its lock, and
    // "flare" re-runs would triple the whole run.
    val benchSf = new java.io.File(sfDir).getName
    val (lock, lockCalib, lockSrc) = resolveLock(benchSf)
    if (lock.isEmpty)
      System.err.println(s"[bench] no lock recorded at sf '$benchSf' — " +
        "flare adjudication disarmed")
    else
      System.err.println(s"[bench] flare locks: $lockSrc " +
        s"(${lock.size} queries, calib $lockCalib)")
    val calibTotal = calib.map(_._2).sum
    val calibRatio =
      if (lockCalib > 0 && calibTotal > 0) calibTotal / lockCalib else 1.0
    def runOnce(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val worker = new Thread(() =>
        try {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable => System.err.println(s"[bench] $name failed: $e")
        } finally spark.sparkContext.clearJobGroup())
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000)
      if (worker.isAlive) {
        System.err.println(s"[bench] $name timed out after ${timeoutSec}s — cancelling")
        spark.sparkContext.cancelJobGroup(name)
        worker.join(30000)
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // queries that persist() intermediates (q89/q92 batch caches, q124
      // token lists, q126 range-partitioned frame) are self-contained —
      // release their cache entries so a 150-query run doesn't accumulate
      // session-lifetime block-manager storage. Outside the timed window:
      // eviction cost is the harness's, not the query's.
      spark.catalog.clearCache()
      // localCheckpoint blocks of frames the gates have dropped are only
      // reclaimed once the RDD is GC'd (ContextCleaner is weak-ref
      // driven) — without a nudge, 150+ queries of sf1-sized orphans
      // pile into the block manager and tax later queries' memory
      // (observed: q111 9s alone vs 174s mid-sequence at sf1). Outside
      // the timed window: reclamation cost is the harness's.
      System.gc()
      elapsed
    }
    val flares = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val first = runOnce(name, fn)
      // re-run bar (r17 verdict #2): 2.5x for queries whose calib-scaled
      // lock is >= 5 s — the serial store-protocol family (q76/q89/q92/
      // q129) read 2.9-4.0x under box contention two rounds running with
      // no auto re-run, costing a manual adjudication each time. Sub-5 s
      // locks keep the 5x bar: there the re-run overhead dominates and a
      // 2.5x reading is noise, not a distorted headline.
      val bound = lock.get(name).map { l =>
        val scaledLock = l * math.max(1.0, calibRatio)
        val factor = if (scaledLock >= 5.0) 2.5 else 5.0
        factor * scaledLock
      }
      val elapsed =
        if (bound.exists(first > _) && first > 2.0) {
          System.err.println(f"[bench] $name%s read $first%.1fs > its " +
            f"flare bar (calib-scaled bound ${bound.get}%.1fs) — re-running")
          val times = first +: Seq.fill(2)(runOnce(name, fn))
          flares(name) = times
          times.sorted.apply(times.size / 2) // median of 3
        } else first
      name -> elapsed
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""":${v}%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val metric = if (only.isEmpty) "total" else "partial"
    val calibJson = calib.map { case (k, v) => "\"" + k + f"""":${v}%.3f""" }
      .mkString("{", ",", "}")
    // per-query flare annotations: every raw reading of each re-run
    // query (the recorded value in "queries" is their median)
    val flaresJson = flares.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    // full record first (may be tail-truncated by the collector)...
    println(f"""{"metric":"$metric%s","value":$total%.3f,"unit":"sec","queries":$qs,"calibration":$calibJson,"flares":$flaresJson,"sf":"$sfDir"}""")
    // ...compact summary LAST so any tail-keeping collector parses it:
    // total + calibration + top-10 slowest is < 700 chars for 128 queries.
    val top10 = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + f"""":${v}%.3f""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"$metric%s","value":$total%.3f,"unit":"sec","nQueries":${results.size}%d,"calibration":$calibJson,"flares":$flaresJson,"top10":$top10,"sf":"$sfDir"}""")
    spark.stop()
  }
}
