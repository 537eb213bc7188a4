package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout management — the operator a 100 TB table needs between
  * ingest and query: small-file compaction into a partition-pruned,
  * sorted-within-file layout. A streaming ingest (one file per
  * micro-batch task) leaves thousands of KB-sized files per day;
  * every downstream scan then pays file-open overhead and loses
  * row-group skipping. Rewriting `partitionBy(day)` with the frame
  * repartitioned ON the partition column gives exactly one file per
  * day (hash-partitioning sends each day to one task), and sorting
  * within partitions gives monotone min/max column chunks so parquet
  * row-group stats prune range predicates inside the day too.
  */
object Layout {

  /** Deterministic token-budget SHARD PACKER — the "shuffle and shard
    * into training files" step every pretraining pipeline runs between
    * curation and the trainer: documents land in a reproducible global
    * order (stable 60-bit hash of the id, salt-keyed — a deterministic
    * corpus shuffle, independent of ingest order and partitioning) and
    * are packed into contiguous bins of ~`budget` weight units:
    * `shard_id = ⌊exclusive-cumulative-weight / budget⌋`. Every shard
    * except the last carries ≥ budget − max(weight) and < budget +
    * max(weight) tokens, shard count ≈ total/budget, and re-running on
    * the same corpus reproduces the identical assignment bit-for-bit —
    * what makes training-data builds auditable.
    *
    * Scale shape — the global cumulative sum is NOT a single-partition
    * window: the frame range-partitions on the hash order, each
    * partition computes its LOCAL running sum, and the per-partition
    * totals (collected — one row per partition) re-enter as literal
    * offsets, so the window partitions BY `spark_partition_id` and
    * every executor sums only its own slice. The one collect is
    * numShufflePartitions rows. The range exchange is the inherent
    * cost of ordering; nothing else shuffles.
    *
    * Output: (`idCol`, `weightCol`, shard_id) — one row per input doc.
    */
  def tokenShards(
      docs: DataFrame,
      idCol: String,
      weightCol: String,
      budget: Long,
      salt: String): DataFrame = {
    require(budget >= 1, "tokenShards: budget must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    val h = graft.functions.TextFunctions.stableHash60(
      concat(col(idCol).cast("string"), lit(s":$salt")))
    // persist the SKINNY pre-exchange frame (id, weight, hash — ~24
    // bytes/row): repartitionByRange executes its child TWICE (the
    // range-boundary sample pass plus the exchange itself), and the
    // child's lineage carries the caller's per-doc weight computation
    // (q126: the corpus tokenize) — the cache halves that work (§1.2)
    val pre = graft.util.OperatorCaches.persisted(docs
      .select(col(idCol), col(weightCol))
      .withColumn("__h", h))
    // persist the range-partitioned frame: the offsets collect and the
    // final window must see the SAME partition boundaries (range
    // boundaries come from a sample; two independent evaluations could
    // legally differ — the cache pins one materialization for both)
    // CACHE CONTRACT: both frames registered with OperatorCaches — the
    // caller releases via OperatorCaches.release(spark) after its
    // terminal action on the returned (lazy) frame.
    val parted = graft.util.OperatorCaches.persisted(pre
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("__h"), col(idCol))
      .withColumn("__pid", spark_partition_id()))
    val nParts = parted.rdd.getNumPartitions
    val sums = parted.groupBy(col("__pid"))
      .agg(sum(col(weightCol)).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = new Array[Long](nParts)
    var acc = 0L
    for (p <- 0 until nParts) { offsets(p) = acc; acc += sums.getOrElse(p, 0L) }
    val win = Window.partitionBy(col("__pid"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("__cum",
        coalesce(sum(col(weightCol)).over(win), lit(0L)) +
          element_at(typedLit(offsets.toSeq), col("__pid") + 1))
      .select(col(idCol), col(weightCol),
        expr(s"__cum div ${budget}L").as("shard_id"))
  }

  /** Rewrite `df` under `outDir` partitioned by day(`tsCol`), one file
    * per day, rows sorted by `sortCol` within each file. Returns the
    * rewritten table (read back through the partition-pruned layout).
    */
  def compactByDay(
      df: DataFrame,
      tsCol: String,
      sortCol: String,
      outDir: String): DataFrame = {
    val spark = df.sparkSession
    df.withColumn("day", to_date(col(tsCol)))
      .repartition(col("day"))
      .sortWithinPartitions(col("day"), col(sortCol))
      .write.mode("overwrite")
      .partitionBy("day").parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Deterministic MULTI-EPOCH training shuffle — the "each epoch sees
    * the corpus in a different but reproducible order" layout step a
    * trainer's data loader needs: for every epoch `e` the documents are
    * globally ordered by a salt- and epoch-keyed stable 60-bit hash
    * (re-running on the same corpus reproduces every epoch's order
    * bit-for-bit; different epochs decorrelate because the epoch is in
    * the hash preimage), positions are assigned 0..n−1 within the
    * epoch, and fixed-size training batches fall out as
    * `batch = pos div batchSize`.
    *
    * Scale shape — the per-epoch global position is NOT a
    * single-partition window (the [[tokenShards]] two-pass cumsum,
    * generalized to grouped epochs): the exploded (epoch, doc) frame
    * range-partitions on (epoch, hash, id), each partition counts its
    * (partition, epoch) slice, the ≤ nParts + epochs − 1 slice counts
    * collect and re-enter as a literal epochs × nParts offset matrix,
    * and the rank window partitions by (partition-id, epoch) so every
    * executor ranks only its own slice. The range exchange is the
    * inherent cost of ordering; nothing else shuffles, and the driver
    * holds only the offset matrix.
    *
    * Output: (epoch, `idCol`, pos, batch) — epochs × input rows.
    */
  def epochShuffle(
      docs: DataFrame,
      idCol: String,
      epochs: Int,
      batchSize: Int,
      salt: String): DataFrame = {
    require(epochs > 0, "epochShuffle: epochs must be positive")
    require(batchSize > 0, "epochShuffle: batchSize must be positive")
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    val h = graft.functions.TextFunctions.stableHash60(
      concat(col(idCol).cast("string"), lit(s":$salt:"),
        col("epoch").cast("string")))
    // persist the range-partitioned frame: the slice-count collect and
    // the final window must see the SAME partition boundaries (range
    // boundaries come from a sample — two evaluations could legally
    // differ). CACHE CONTRACT: registered with OperatorCaches; the
    // caller releases after its terminal action on the returned frame.
    val parted = graft.util.OperatorCaches.persisted(docs
      .select(col(idCol))
      .withColumn("epoch", explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("__h", h)
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("epoch"), col("__h"), col(idCol))
      .withColumn("__pid", spark_partition_id()))
    val nParts = parted.rdd.getNumPartitions
    // range partitioning sorts by (epoch, …), so each partition holds a
    // contiguous slice: at most nParts + epochs − 1 (pid, epoch) pairs
    val sliceCounts = parted.groupBy(col("__pid"), col("epoch"))
      .agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val offsets: Seq[Seq[Long]] = (0L until epochs.toLong).map { e =>
      var acc = 0L
      (0 until nParts).map { p =>
        val off = acc; acc += sliceCounts.getOrElse((p, e), 0L); off
      }
    }
    val win = Window.partitionBy(col("__pid"), col("epoch"))
      .orderBy(col("__h"), col(idCol))
    parted
      .withColumn("pos",
        row_number().over(win).cast("long") - 1L +
          element_at(element_at(typedLit(offsets), col("epoch").cast("int") + 1),
            col("__pid") + 1))
      .select(col("epoch"), col(idCol), col("pos"),
        expr(s"pos div ${batchSize}L").as("batch"))
  }

  /** Length-bucketed BATCHING REPORT — the padding-efficiency audit a
    * variable-length-sequence trainer runs before fixing its dynamic
    * batching policy: documents are grouped into token-length buckets
    * (`bucket = n_tokens div bucketWidth`), and each bucket reports how
    * much compute padding-to-the-bucket-max would waste. All arithmetic
    * is integer (counts, sums, maxes, and a ppm ratio via 64-bit floor
    * division), so the report is bit-stable across engines and re-runs.
    *
    * Scale shape: one map pass computes per-doc token counts (the
    * tokenizer is O(len) per row), then a single bucket-keyed hash
    * aggregation — map-side partials collapse every partition to
    * ≤ #buckets rows before the exchange, so the shuffle moves KBs at
    * any corpus size. No window, no join.
    *
    * Output, one row per non-empty bucket: (bucket, min_tokens =
    * bucket × width inclusive lower bound, n_docs, max_tokens,
    * sum_tokens, padded_tokens = max_tokens × n_docs, waste_ppm =
    * (padded − sum) × 1e6 div padded).
    */
  def lengthBuckets(
      docs: DataFrame,
      textCol: String,
      bucketWidth: Int): DataFrame = {
    require(bucketWidth > 0, "lengthBuckets: bucketWidth must be positive")
    import graft.functions.TextFunctions
    docs
      .select(TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("bucket"),
        (col("bucket") * bucketWidth).as("min_tokens"),
        col("n_docs"), col("max_tokens"), col("sum_tokens"),
        (col("max_tokens") * col("n_docs")).as("padded_tokens"))
      .withColumn("waste_ppm",
        expr("((padded_tokens - sum_tokens) * 1000000) div padded_tokens"))
  }

  /** 32-bit Morton (z-order) code of two 16-bit dimensions: bits of `a`
    * and `b` interleaved (`b` in the odd positions). Sorting a table by
    * this code clusters BOTH dimensions at once — every run of 4^k
    * consecutive codes is a 2^k × 2^k tile — so parquet file/row-group
    * min/max stats prune 2-d box predicates that a single-column sort
    * can only prune on its leading dimension. This is the multi-dim
    * clustering trick lakehouse OPTIMIZE ZORDER BY implements; here it
    * is five shift-and-mask steps per dimension of plain codegen'd
    * bitwise ops (the standard bit-spreading sequence), usable as a
    * sort key anywhere — no UDF, no custom write path.
    *
    * Inputs are masked to their low 16 bits (callers scale/bucket real
    * ranges down first — at 100 TB 65k distinct tiles per dimension is
    * far finer than file granularity anyway).
    */
  def zOrder2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Spread the low 16 bits of `c` into the even bit positions of a
    * 32-bit value (0bxyz → 0b0x0y0z): the classic mask ladder.
    */
  private def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Rewrite `df` globally sorted by [[zOrder2]] of the two dimension
    * columns into bounded parquet files. The global z sort is ONE range
    * exchange (same cost class as any total-order write); each output
    * file then covers a contiguous z range = a small set of 2-d tiles,
    * so its min/max stats are tight in BOTH dimensions.
    */
  def zOrderWrite(
      df: DataFrame,
      dimA: String,
      dimB: String,
      outDir: String,
      maxRecordsPerFile: Long): DataFrame = {
    val spark = df.sparkSession
    df.withColumn("z", zOrder2(col(dimA), col(dimB)))
      .orderBy(col("z"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Per-day layout audit of a day-partitioned parquet table: row
    * count, `idCol` bounds, file count. `input_file_name()` is
    * evaluated at the scan, so the file count is read off the same
    * distributed pass that counts the rows — no filesystem listing
    * on the driver.
    */
  def auditByDay(table: DataFrame, idCol: String): DataFrame =
    table
      .select(col("day"), col(idCol), input_file_name().as("f"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(idCol)).as(s"min_$idCol"),
        max(col(idCol)).as(s"max_$idCol"),
        countDistinct(col("f")).as("n_files"))
}
