package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality predicates and gates (reference P8/P11/A6:
  * my_airflow/dags/mongo_to_storage.py:60-65,
  * my_airflow/dags/mood_quality_check.py:10-41,
  * jobs/spark_mood_tracker.py:120).
  */
object Validate {

  /** P8 — canonical "valid mood record" predicate
    * (mongo_to_storage.py:60-65): required fields non-null, positive speed.
    * The one spelling of the rule: the filter below, the export's count and
    * the quality gate's `invalid` sum all use it. It is null when
    * `avg_speed` is null, so count only the rows where it is true.
    */
  val ValidMood: Column =
    col("event_time").isNotNull &&
      col("intersection").isNotNull &&
      col("weather").isNotNull &&
      col("avg_speed") > 0

  def validMood(df: DataFrame): DataFrame = df.filter(ValidMood)

  /** P11 — any-null row drop (`df.na.drop()` before the Mongo insert). */
  def dropAnyNull(df: DataFrame): DataFrame = df.na.drop()

  /** A6 — missing-required-field probe: rows where ANY required column is
    * null (the reference's Mongo `$exists:false / $eq:null` quality gate,
    * mood_quality_check.py:23-41). Distributed — never collects.
    */
  def missingRequired(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(c => col(c).isNull).reduce(_ || _))

  /** A6 — emptiness gate (`count_documents({}) == 0` fail). */
  def requireNonEmpty(df: DataFrame, what: String): Unit =
    require(!df.isEmpty, s"quality gate failed: $what is empty")
}
