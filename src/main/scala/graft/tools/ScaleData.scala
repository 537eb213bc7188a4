package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Sessions

/** Scale-up generator for local scale-proof runs (`sf1` from `sf0.1`):
  * replicates the three big tables `factor`× with SHARD-AWARE remapping so
  * per-shard workload structure is preserved and cross-shard structure is
  * inert — i.e. the scaled corpus carries ~`factor`× the work, not
  * `factor²`×:
  *
  *  - documents: ids offset per shard; every token suffixed with the shard
  *    tag, so within-shard duplicate/near-dup structure is EXACTLY the
  *    original's while cross-shard shingle overlap is zero (naive
  *    replication would make every doc a 10-way near-dup and inflate LSH
  *    candidate pairs ~45×, gradingly unfair in either direction).
  *  - embeddings: ids offset per shard; each shard's vectors multiplied by
  *    a deterministic per-shard ±1 sign pattern — an orthogonal transform,
  *    so within-shard cosines (and thus near-dup sets) are bit-preserved
  *    while cross-shard cosines decorrelate.
  *  - events: event/user ids offset per shard; timestamps untouched (10×
  *    the rows per minute — the realistic direction for a busier city).
  *    `ts` passes through RAW in whatever physical type the source corpus
  *    carries (nano LONG or TIMESTAMP_MICROS ntz across driver corpus
  *    generations), so Tables.normalizeTs sees the same encoding as the
  *    original at load time.
  *
  * Usage: runMain graft.tools.ScaleData <srcSfDir> <outDir> <factor>
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = Sessions.local(Sessions.envCores, 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // unionByName: a positional unionAll would silently mis-map columns if
    // any remap select ever drifts from the base column order
    def shards(base: DataFrame)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => mk(base, i)).reduce(_ unionByName _)

    // documents — id space: shard i offsets by i * 10^10
    val docs = Tables.documents(spark, src)
    val docOff = 10000000000L
    shards(docs) { (d, i) =>
      if (i == 0) d
      else d.select(
          (col("doc_id") + lit(i * docOff)).as("doc_id"),
          // suffix every non-space run in place: whitespace is preserved
          // verbatim and a blank/empty doc stays blank (a split-on-space
          // remap would hand blank docs a phantom "~i" token)
          regexp_replace(col("text"), "(\\S+)", s"$$1~$i").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    // embeddings — per-shard ±1 sign pattern (orthogonal, norm-preserving)
    val emb = Tables.embeddings(spark, src)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    shards(emb) { (e, i) =>
      if (i == 0) e
      else {
        val rnd = new scala.util.Random(1000L + i)
        val signs = Seq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
        e.select(
          (col("vec_id") + lit(i * docOff)).as("vec_id"),
          zip_with(col("embedding"), typedLit(signs), (x, s) => x * s)
            .cast("array<float>").as("embedding"),
          col("label"))
      }
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // events — RAW load (ts keeps the source corpus's physical encoding)
    val ev = Tables.load(spark, src, "events")
    shards(ev) { (e, i) =>
      if (i == 0) e
      else e.select(
        (col("event_id") + lit(i * docOff)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * docOff)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    // orders/lineitem — the TPC-H facts scale too (round-11: the full-
    // surface sf1 lock must exercise the relational half at 10× as well).
    // Shard i offsets the ORDER key space only; customer/part/supplier
    // keys stay unchanged, so every dimension join stays valid and each
    // dimension row simply fans out to factor× the fact rows — the
    // busier-city direction, same as events. Orderkeys are cast to LONG in
    // every shard (shard 0 included) so the union schema is stable.
    val ordOff = 100000000L // > any sf0.1 orderkey (max ~6e6)
    shards(Tables.load(spark, src, "orders")) { (o, i) =>
      o.withColumn("o_orderkey", (col("o_orderkey") + lit(i * ordOff)).cast("long"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    shards(Tables.load(spark, src, "lineitem")) { (l, i) =>
      l.withColumn("l_orderkey", (col("l_orderkey") + lit(i * ordOff)).cast("long"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // small dims pass through unchanged (not scale targets)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        Tables.load(spark, src, t).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
      }
    spark.stop()
  }
}
