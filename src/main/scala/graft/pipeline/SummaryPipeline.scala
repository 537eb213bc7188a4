package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.ops.{Aggregates, TimeOps, Validate}

/** Batch tier (reference: my_airflow/dags/daily_summary_report.py and
  * mongo_to_storage.py load_to_postgres): validate → day filter → summary.
  *
  * Divergences from the reference, by design:
  *  - day filter uses `to_date(event_time) = day` (pushdown-friendly) instead
  *    of a `date_format` string equality that forces a full-table read
  *    (daily_summary_report.py:33-34);
  *  - the input is read once and each derived output reuses the same plan —
  *    the reference re-reads + recomputes per `count()`
  *    (mongo_to_storage.py:56,69,81).
  */
object SummaryPipeline {

  /** Validated export rows (the reference's load_to_postgres filter). */
  def validated(mood: DataFrame): DataFrame = Validate.validMood(mood)

  /** Daily summary for `day` (A4). */
  def dailySummary(mood: DataFrame, day: LocalDate): DataFrame =
    Aggregates.dailySummary(TimeOps.onDay(mood, "event_time", day))

  /** The full daily_summary_report read path behind the BatchSource seam:
    * production wires `JdbcSource` (the reference's Postgres read,
    * daily_summary_report.py:24-31); tests wire a parquet/NDJSON fixture.
    */
  def daily(spark: org.apache.spark.sql.SparkSession,
      source: graft.io.BatchSource, day: LocalDate): DataFrame =
    dailySummary(validated(source.read(spark)), day)
}
