package graft

class SessionizeSpec extends SparkSpec {
  test("batch session_window agrees with the lag-based oracle shape at sf0.001") {
    val got = Queries.sessionize(spark, sf0001)
    assert(got.count() > 0)
    // sessions are disjoint per user and cover all events
    val total = got.agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf0001).count())
  }
}
