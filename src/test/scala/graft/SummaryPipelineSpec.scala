package graft

import java.time.LocalDate

import graft.pipeline.SummaryPipeline

class SummaryPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val mood = Seq(
    ("2025-04-19 16:10:00", "komitas", 80.0, 15.0, "clear", "relaxed"),
    ("2025-04-19 17:10:00", "komitas", 90.0, 17.0, "clear", "relaxed"),
    ("2025-04-20 09:00:00", "mashtots", 20.0, 14.0, "rain_heavy", "stressed"),
    ("2025-04-19 12:00:00", "mashtots", -4.0, 14.0, "rain_heavy", "stressed") // invalid speed
  ).toDF("event_time_s", "intersection", "avg_speed", "avg_temp", "weather", "mood")
    .selectExpr("to_timestamp(event_time_s) AS event_time", "intersection",
      "avg_speed", "avg_temp", "weather", "mood")

  test("validated keeps only the canonical valid-mood rows (P8)") {
    assert(SummaryPipeline.validated(mood).count() == 3)
  }

  test("dailySummary filters to the day with a pushdown-friendly predicate (P10 fixed)") {
    val got = SummaryPipeline.dailySummary(mood, LocalDate.parse("2025-04-19"))
      .orderBy("intersection", "mood").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // the reference's date_format-string filter would block pushdown AND
    // include the invalid row; ours filters on to_date(event_time)
    assert(got.toSeq == Seq(
      ("komitas", "relaxed", 2L, 85.0),
      ("mashtots", "stressed", 1L, -4.0)))
  }
}
