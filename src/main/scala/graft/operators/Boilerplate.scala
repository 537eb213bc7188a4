package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-corpus frequent-LINE boilerplate removal — the CCNet /
  * RefinedWeb curation stage between per-document markup stripping
  * ([[Html.extractMain]], which sees one document at a time) and
  * document-level dedup ([[Dedup]]): a line that appears VERBATIM in
  * many documents ("subscribe to our newsletter", cookie banners,
  * copyright footers) is template chrome no single-document heuristic
  * can identify, because the evidence is the corpus-wide document
  * frequency, not anything in the line itself.
  *
  * Semantics: documents split on `\n`; lines are whitespace-trimmed for
  * both counting and reassembly; blank lines drop (formatting, not
  * content). A line's document frequency counts DISTINCT documents
  * (a doc repeating its own line contributes 1), and every occurrence
  * of a line with df ≥ `minDocs` is removed. Surviving lines rejoin in
  * original order with `\n`. One row per input document — a document
  * losing every line (or empty to begin with) emits
  * (n_lines, n_removed, text_clean = "").
  *
  * Scale shape: ONE posexplode of the corpus, persisted
  * ([[graft.util.OperatorCaches]] — caller releases) because it feeds
  * both the df count and the reassembly. The df aggregation collapses
  * map-side into one line-keyed exchange; the frequent-line set is
  * bounded by Σ lines / minDocs (a line needs ≥ minDocs distinct docs
  * to qualify) — template-chrome-sized in practice, so the verdict
  * join BROADCASTS and the corpus side never shuffles for it.
  * Reassembly is the one inherent doc-keyed exchange.
  */
object Boilerplate {

  /** Whitespace-trimmed non-blank lines with their original position:
    * (`idCol`, pos, ln).
    */
  private def lines(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "__raw")))
      .select(col(idCol), col("pos"), trim(col("__raw")).as("ln"))
      .filter(col("ln") =!= "")

  /** Document frequency per distinct trimmed line: (ln, df). */
  def lineDocFrequency(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    lines(docs, textCol, idCol)
      .select(col(idCol), col("ln")).distinct()
      .groupBy(col("ln")).agg(count(lit(1)).as("df"))

  /** Remove every occurrence of a line whose document frequency is
    * ≥ `minDocs`: (`idCol`, n_lines, n_removed, text_clean), one row
    * per input document. `n_lines` counts the doc's non-blank lines.
    *
    * Reassembly materializes each document's surviving lines in ONE
    * aggregation buffer (per-doc bounded — fine at any corpus size),
    * so a single pathological document (one giant page, tens of
    * millions of lines) is the only OOM shape. `maxLinesPerDoc` makes
    * that LOUD instead of silent: any document over the cap fails the
    * job with a `raise_error` naming the document, well before the
    * buffer reaches OOM scale under the default (1M lines ≈ tens of
    * MB). Real pipelines size-cap documents upstream (q41/q134); the
    * cap is the backstop, not the filter.
    */
  def removeFrequentLines(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Long,
      maxLinesPerDoc: Long = 1000000L): DataFrame = {
    require(minDocs >= 2,
      "removeFrequentLines: minDocs must be >= 2 (at 1 everything is " +
        "boilerplate)")
    require(maxLinesPerDoc >= 1, "removeFrequentLines: maxLinesPerDoc >= 1")
    val ls = graft.util.OperatorCaches.persisted(
      lines(docs, textCol, idCol))
    val frequent = broadcast(ls.select(col(idCol), col("ln")).distinct()
      .groupBy(col("ln")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("ln"), lit(true).as("__rm")))
    val agg = ls
      .join(frequent, Seq("ln"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__rm").isNull, struct(col("pos"), col("ln"))))),
            s => s("ln")),
          "\n").as("text_clean"))
    // the loud giant-doc guard (see scaladoc): over-cap docs fail the
    // job with a diagnosable message, never a mysterious buffer OOM
    val nLinesChecked = when(col("n_lines") > maxLinesPerDoc,
      raise_error(concat(
        lit("removeFrequentLines: document "), col(idCol).cast("string"),
        lit(" has "), col("n_lines").cast("string"),
        lit(s" non-blank lines > maxLinesPerDoc = $maxLinesPerDoc — " +
          "size-cap documents upstream or raise the cap"))).cast("long"))
      .otherwise(col("n_lines"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(nLinesChecked, lit(0L)).as("n_lines"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
