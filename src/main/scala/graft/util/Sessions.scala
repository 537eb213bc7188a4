package graft.util

import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup shared by the mains, the dev tools
  * and the test harness. Callers add what is theirs (an app name) and
  * call `getOrCreate()`.
  */
object Sessions {

  /** The mains' core count: `SPARK_GRAFT_CPUS`, default 32, passed to
    * the master as written.
    */
  def envCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `local[cores]` with the UI off and no engine conf — the session a
    * bare caller of SparkEntry brings.
    */
  def bare(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")

  /** [[bare]] plus the engine confs: `partitions` shuffle partitions,
    * UTC session time, and `nanosAsLong` so nano-timestamp parquet stays
    * readable (see Tables.normalizeTs).
    */
  def local(cores: String, partitions: Int): SparkSession.Builder =
    bare(cores)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
