package graft

import graft.operators.Boilerplate

/** [[graft.operators.Boilerplate]] — cross-corpus frequent-line removal.
  * Document frequency counts distinct docs, removal hits every
  * occurrence, surviving lines keep their order, and every input doc
  * emits exactly one row.
  */
class BoilerplateSpec extends SparkSpec {
  import spark.implicits._

  // doc 2 repeats the boilerplate line (counts once for df, both
  // occurrences removed); doc 3 is all boilerplate; doc 4 is blank-only
  private def docs = Seq(
    (1L, "unique one\nBUY NOW\nkeep me"),
    (2L, "BUY NOW\n\n  BUY NOW  \nother text"),
    (3L, "BUY NOW"),
    (4L, "   \n ")
  ).toDF("doc_id", "text")

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    .sortBy(_._1).toSeq

  test("df counts distinct docs; trim + blank-drop before counting") {
    val df = Boilerplate.lineDocFrequency(docs, "text", "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map("unique one" -> 1L, "BUY NOW" -> 3L, "keep me" -> 1L,
      "other text" -> 1L))
  }

  test("remove at threshold: every occurrence, order kept, one row per doc") {
    val want = Seq(
      (1L, 3L, 1L, "unique one\nkeep me"),
      (2L, 3L, 2L, "other text"),
      (3L, 1L, 1L, ""),
      (4L, 0L, 0L, ""))
    assert(rows(Boilerplate.removeFrequentLines(
      docs, "text", "doc_id", minDocs = 3L)) == want)
    graft.util.OperatorCaches.release(spark)
  }

  test("below threshold nothing is removed; reassembly reproduces trimmed lines") {
    val got = rows(Boilerplate.removeFrequentLines(
      docs, "text", "doc_id", minDocs = 4L))
    assert(got == Seq(
      (1L, 3L, 0L, "unique one\nBUY NOW\nkeep me"),
      (2L, 3L, 0L, "BUY NOW\nBUY NOW\nother text"),
      (3L, 1L, 0L, "BUY NOW"),
      (4L, 0L, 0L, "")))
    graft.util.OperatorCaches.release(spark)
    intercept[IllegalArgumentException] {
      Boilerplate.removeFrequentLines(docs, "text", "doc_id", minDocs = 1L)
    }
  }

  test("giant-doc guard is LOUD: over-cap docs fail with a named error") {
    // a doc over maxLinesPerDoc must raise a diagnosable error naming the
    // document, never a silent mega-buffer
    val giant = Seq(
      (1L, (1 to 10).map(i => s"line $i").mkString("\n")),
      (2L, "short\ndoc")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Boilerplate.removeFrequentLines(giant, "text", "doc_id",
        minDocs = 2L, maxLinesPerDoc = 5L).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxLinesPerDoc"), msg)
    graft.util.OperatorCaches.release(spark)
    // under the cap the same input is clean
    val ok = Boilerplate.removeFrequentLines(giant, "text", "doc_id",
      minDocs = 2L, maxLinesPerDoc = 10L)
    assert(ok.count() == 2)
    graft.util.OperatorCaches.release(spark)
  }
}
