package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StringType}

/** Table profiling — the data-QA sweep a corpus build runs before and
  * after every curation stage: per-column non-null count, null count,
  * distinct count, min/max. The profile runs as one column-pruned
  * single-distinct aggregate PER COLUMN (no Expand — see [[profile]]).
  * Min/max of NUMERIC columns are emitted as scaled BIGINT centi-units
  * (`min_c100`/`max_c100` = value × 100); min/max of STRING columns
  * ride `min_str`/`max_str`. Integers hash identically in every engine
  * and survive any type-inferring hasher — no rendering, no
  * canonicalization, nothing version-dependent on the hashed surface.
  */
object Profile {

  /** CORPUS DRIFT between two snapshots — the crawl-over-crawl QA check
    * a training-data pipeline runs before admitting a new dump: the
    * `topK` tokens whose relative frequency moved most between corpus A
    * and corpus B. Catches silent upstream shifts (a scraper change, a
    * new boilerplate template, a language-mix move) that no per-corpus
    * profile sees, because each side looks healthy in isolation.
    *
    * All-integer surface: per-side relative frequency in parts-per-
    * million (`ppm = count·10⁶ div total`), drift = |ppm_a − ppm_b|,
    * ranked (drift desc, token asc). A token absent from one side reads
    * 0 ppm there — appearing/vanishing vocabulary is exactly the signal.
    *
    * Scale shape: each side is one token-keyed count (map-side partial
    * aggregation collapses the explode), the comparison is a
    * vocabulary-sized full-outer join — corpus size never reaches the
    * join — and the top-k runs as TakeOrderedAndProject (per-partition
    * heads, driver merge; no full sort). The two scalar totals ride a
    * broadcast one-row frame, not a collect-into-literal, so the whole
    * report stays one lazy plan.
    */
  def tokenDrift(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, "tokenDrift: topK must be >= 1")
    def counts(df: DataFrame): DataFrame =
      df.select(explode(graft.functions.TextFunctions
          .tokens(col(textCol))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val a = counts(corpusA)
    val b = counts(corpusB)
    val totA = a.agg(sum(col("cnt")).as("ta"))
    val totB = b.agg(sum(col("cnt")).as("tb"))
    a.withColumnRenamed("cnt", "cnt_a")
      .join(b.withColumnRenamed("cnt", "cnt_b"), Seq("tok"), "full_outer")
      .crossJoin(broadcast(totA))
      .crossJoin(broadcast(totB))
      .select(col("tok"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"),
        // coalesce AFTER the division: an EMPTY snapshot has a NULL
        // total, and engines disagree on NULL placement under ORDER BY
        // DESC — reading every ppm on the empty side as 0 keeps the
        // report total (drift = the other side's ppm) and the ranking
        // engine-stable
        expr("coalesce(coalesce(cnt_a, 0L) * 1000000L div ta, 0L)")
          .as("ppm_a"),
        expr("coalesce(coalesce(cnt_b, 0L) * 1000000L div tb, 0L)")
          .as("ppm_b"))
      .withColumn("drift_ppm", abs(col("ppm_a") - col("ppm_b")))
      .orderBy(col("drift_ppm").desc, col("tok").asc)
      .limit(topK)
  }

  /** One row per profiled column: (col_name, n, n_nulls, n_distinct,
    * min_c100, max_c100, min_str, max_str).
    *
    * Numeric columns carry min/max as BIGINT centi-units
    * (value × 100, truncated at scale 0 — exact for integral types and
    * for DECIMAL inputs with scale ≤ 2; callers pre-cast doubles to
    * DECIMAL so the ×100 is exact arithmetic, not float). String
    * columns carry min/max in the `_str` pair. Any other type (date,
    * timestamp, …) is rendered into the `_str` pair via a plain cast.
    * The unused pair is NULL, so the per-column rows of every column
    * type share one schema.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val types: Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    def bounds(c: String) = types(c) match {
      case _: NumericType =>
        ((min(col(c)) * lit(100)).cast("long").as("min_c100"),
          (max(col(c)) * lit(100)).cast("long").as("max_c100"),
          min(lit(null).cast("string")).as("min_str"),
          min(lit(null).cast("string")).as("max_str"))
      case StringType =>
        (min(lit(null).cast("long")).as("min_c100"),
          min(lit(null).cast("long")).as("max_c100"),
          min(col(c)).as("min_str"), max(col(c)).as("max_str"))
      case _ =>
        (min(lit(null).cast("long")).as("min_c100"),
          min(lit(null).cast("long")).as("max_c100"),
          min(col(c).cast("string")).as("min_str"),
          max(col(c).cast("string")).as("max_str"))
    }
    // One single-distinct aggregate PER COLUMN,
    // unioned. Several countDistinct's in one aggregate plan through
    // Expand — every input row is replicated once per distinct column
    // (|cols|+1 projections through the partial agg and the
    // exchange), which at table scale is the dominant cost of the
    // whole profile. A single-distinct aggregate needs no Expand
    // (two-phase partial-distinct plan), and each branch's scan is
    // column-pruned to just its own column — on columnar storage the
    // |cols| branch scans together read the same bytes as the one
    // wide scan, with the ×(|cols|+1) row replication gone entirely.
    val rows = cols.map { c =>
      val (minN, maxN, minS, maxS) = bounds(c)
      df.agg(
          count(col(c)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          minN, maxN, minS, maxS)
        .select(lit(c).as("col_name"), col("n"), col("n_nulls"),
          col("n_distinct"), col("min_c100"), col("max_c100"),
          col("min_str"), col("max_str"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** MERGEABLE per-batch profile — [[profile]] minus the distinct
    * count, which is the one non-additive stat (serve distincts from a
    * mergeable HLL sketch at scale — the q39 path — or from [[profile]]
    * on the folded table). Everything else folds exactly: counts and
    * null counts are sums, min/max are min/max, in both the centi-unit
    * and the string pair. This is the incremental-ANALYZE shape: a
    * 100 TB table's stats are maintained by profiling each INGESTED
    * BATCH (batch-sized scan) and folding via [[mergeProfiles]], never
    * by re-profiling the table; the folded state is exactly the
    * one-shot profile of the union (the q82 gate row).
    */
  def partialProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val types: Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    val nullLong = min(lit(null).cast("long"))
    val nullStr = min(lit(null).cast("string"))
    val aggs = cols.flatMap { c =>
      val (minN, maxN, minS, maxS) = types(c) match {
        case _: NumericType =>
          ((min(col(c)) * lit(100)).cast("long"),
            (max(col(c)) * lit(100)).cast("long"), nullStr, nullStr)
        case StringType =>
          (nullLong, nullLong, min(col(c)), max(col(c)))
        case _ =>
          (nullLong, nullLong,
            min(col(c).cast("string")), max(col(c).cast("string")))
      }
      Seq(
        count(col(c)).as(s"${c}__n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        minN.as(s"${c}__minc"), maxN.as(s"${c}__maxc"),
        minS.as(s"${c}__mins"), maxS.as(s"${c}__maxs"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__n`, `${c}__nulls`, " +
        s"`${c}__minc`, `${c}__maxc`, `${c}__mins`, `${c}__maxs`"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n, n_nulls, min_c100, max_c100, min_str, max_str)")
  }

  /** Fold any number of [[partialProfile]] frames into one: per column,
    * counts sum and bounds min/max — a |cols|-row aggregation, so the
    * fold costs nothing at any corpus size. Min/max ignore nulls, so an
    * all-null batch contributes bounds-neutrally, exactly as it would
    * inside a one-shot aggregate.
    */
  def mergeProfiles(profiles: Seq[DataFrame]): DataFrame = {
    require(profiles.nonEmpty, "mergeProfiles needs at least one profile")
    profiles.reduce(_.unionByName(_))
      .groupBy(col("col_name"))
      .agg(sum(col("n")).as("n"),
        sum(col("n_nulls")).as("n_nulls"),
        min(col("min_c100")).as("min_c100"),
        max(col("max_c100")).as("max_c100"),
        min(col("min_str")).as("min_str"),
        max(col("max_str")).as("max_str"))
  }
}
