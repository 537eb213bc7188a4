package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Validate

/** Data-quality gate tier (reference: my_airflow/dags/mood_quality_check.py
  * — a pymongo emptiness probe + per-field $exists scan that gates the
  * export DAG). Re-expressed as ONE distributed pass returning a structured
  * report; the caller chains the export only when `passed`.
  */
object QualityCheck {

  final case class Report(
      total: Long,
      missingRequired: Long,
      invalid: Long,
      passed: Boolean)

  /** One job computes all gates (the reference runs one Mongo query per
    * probe): non-empty, no row missing a required field, and the canonical
    * validity predicate holding everywhere.
    */
  def run(mood: DataFrame, required: Seq[String]): Report = {
    val agg = mood.select(
        count(lit(1)).as("total"),
        sum(required.map(c => when(col(c).isNull, 1L).otherwise(0L)).reduce(_ + _))
          .as("missing"),
        sum(when(Validate.ValidMood, 0L).otherwise(1L)).as("invalid"))
      .head()
    val total = agg.getAs[Long]("total")
    val missing = Option(agg.getAs[Any]("missing")).fold(0L)(_.asInstanceOf[Long])
    val invalid = Option(agg.getAs[Any]("invalid")).fold(0L)(_.asInstanceOf[Long])
    Report(total, missing, invalid, passed = total > 0 && missing == 0 && invalid == 0)
  }

  /** Gate-then-export composition (the TriggerDagRunOperator analog):
    * runs checks, and only on pass executes `export`; returns the report.
    */
  def gateAndExport(mood: DataFrame, required: Seq[String])(exportStep: => Unit): Report = {
    val report = run(mood, required)
    if (report.passed) exportStep
    report
  }
}
