package graft

/** The round-16 skew sweep's plan promise on the ExactSubstr one-shot
  * gates, sharpened in r19: the occurrence core's gram count is a
  * two-phase aggregate, so no GRAM-KEYED window survives anywhere in
  * these plans — a window partitioned by the gram hash would land a
  * hot boilerplate gram's every occurrence in one task's sort buffer.
  * The island fold itself is a DOC-keyed lag window (bounded by tokens
  * per doc, skew-safe), which is the only window the plans may carry.
  */
class SpanPlanCheckSpec extends SparkSpec {
  for (name <- Seq("q84_dup_spans", "q88_strip_spans")) {
    test(s"$name plan: every Window is doc-keyed (two-phase gram counts)") {
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      // Window lines print as: Window [fns], [partition cols], [order];
      // the partition spec of every one must be the doc key, never the
      // gram hash column g
      val winParts = "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      // a regex that stops matching would pass every plan vacuously
      if (plan.contains("Window")) assert(winParts.nonEmpty,
        s"plan of $name has a Window the partition-spec regex missed:\n${plan.take(3000)}")
      winParts.foreach { p =>
        assert(p.contains("doc_id") && !p.matches(".*\\bg#.*"),
          s"non-doc-keyed window in $name (partition [$p]):\n${plan.take(3000)}")
      }
    }
  }
}
