package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.util.SegmentStore

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - `bruteForceTopK` — exact baseline: broadcast the (small) query set and
  *    stream the corpus past it once; corpus is never shuffled, so cost is
  *    O(|corpus| x |queries|) map-side work + a top-k per query. Correct at
  *    any corpus size as long as the QUERY set is broadcastable.
  *  - `lshTopK` — scale path: random-hyperplane (sign) LSH buckets both
  *    sides; only vectors sharing a bucket are compared, so the per-query
  *    candidate set is ~|corpus| / 2^bits per table. Recall is tunable via
  *    `tables` (independent hash tables, unioned).
  */
object Similarity {

  /** Broadcast joins preserve the probe side's input partitioning — a
    * single-file corpus means ONE task doing every cosine (measured 145 s
    * vs 6 s at sf0.1). Spread the probe side to the session's shuffle
    * parallelism ONLY when the scan is under-partitioned: a real 100 TB
    * corpus already has thousands of scan partitions, and an unconditional
    * repartition there would be a full corpus shuffle for nothing.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Output: query_id, neighbor_id, cosine (query_id != neighbor_id).
    * Ranking is deterministic: ties broken by neighbor id after rounding
    * cosine to 6 decimals (absorbs engine-summation noise).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val c = spread(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Sign-LSH bucket key(s) for each vector: one `bits`-bit signature per
    * hash table, from fixed pseudo-random hyperplanes (deterministic seed).
    *
    * The hyperplanes ride along as LITERAL ARRAY DATA (`typedLit`) consumed
    * by higher-order functions — one small expression tree regardless of
    * (tables × bits × dim). A naive expansion into per-dimension
    * `element_at(v,i) * w_i` terms produces a ~tables·bits·dim-node tree
    * that takes Janino minutes to compile (measured: 75 s at dim=64) and
    * re-compiles per query; this form plans in milliseconds.
    */
  def lshBuckets(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      bits: Int = 8,
      tables: Int = 2,
      seed: Long = 42L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    // fixed hyperplanes: tables x bits x dim gaussians, as literal data
    val planes: Seq[Seq[Seq[Double]]] =
      Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian())))
    val v = vecs.select(col(idCol), asDouble(col(vecCol)).as("v"))
    // per table: fold its planes into a bits-wide signature (acc*2 + signbit)
    val bucketsPerTable = transform(
      typedLit(planes),
      tp => aggregate(tp, lit(0L), (acc, plane) =>
        acc * 2 + when(dot(col("v"), plane) >= 0, 1L).otherwise(0L)))
    v.select(col(idCol), col("v"),
        posexplode(bucketsPerTable).as(Seq("table", "bucket")))
  }

  /** ANN top-k via sign-LSH co-bucketing (candidate recall < 1.0 by design). */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      k: Int,
      bits: Int = 8,
      tables: Int = 2): DataFrame = {
    val cb = lshBuckets(spread(corpus), vecCol, idCol, dim, bits, tables)
      .select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("table"), col("bucket"))
    val qb = lshBuckets(queries, vecCol, idCol, dim, bits, tables)
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("table"), col("bucket"))
    val cand = cb.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // --------------------------------------------------------------------- //
  // IVF (inverted-file) ANN
  // --------------------------------------------------------------------- //

  /** A built IVF index: corpus cell assignments + the centroids that
    * produced them. `cells` is (neighbor_id, cv, cell) — at 100 TB this is
    * the frame you write once as a table PARTITIONED BY cell (partition
    * pruning then makes each query's nprobe scan read only its cells);
    * in-session it can be persisted and queried repeatedly.
    */
  final case class IvfIndex(cells: DataFrame, centers: Seq[Seq[Double]]) {
    /** Materialize the index as the partitioned-table layout: cells
      * parquet PARTITIONED BY cell (so a probe of `nprobe` cells is a
      * partition-pruned scan — verified in tests via PartitionFilters),
      * centroids as a tiny side table.
      */
    def save(path: String): Unit = {
      // repartition by cell before the partitioned write: without it every
      // write task holds rows of every cell, producing tasks × nlist small
      // files (10k tasks × 1k cells = 10M files at corpus scale); with it
      // each cell's rows land in O(1) files. The shuffle this costs is the
      // one-time index build cost the save amortizes away.
      //
      // Layout: cells/seg=base/cell=N/… — `seg` is a PARTITION COLUMN, so
      // incremental appends ([[IvfIndex.append]]) land as sibling
      // seg=delta_NNNNN dirs and the whole index stays ONE partitioned
      // parquet relation (uncommitted segments are excluded by a partition
      // filter, never a multi-root union). Re-saving in place refreshes
      // seg=base only; fold deltas by `load(...).save(freshPath)`.
      cells.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells/seg=base")
      val s = cells.sparkSession
      import s.implicits._
      centers.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "center")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
    }
  }

  object IvfIndex {
    import org.apache.spark.sql.SparkSession

    /** Committed segment names under `cells/` (`base`, `delta_00000`, …),
      * oldest first — the FingerprintStore discipline: a segment counts
      * only once its `_SUCCESS` marker exists; a crashed append leaves a
      * partial dir that is never read (its partition is filtered out of
      * every load) and is overwritten by the next append claiming that
      * index.
      */
    def committedSegs(spark: SparkSession, path: String): Seq[String] =
      (if (SegmentStore.committed(spark, s"$path/cells/seg=base")) Seq("base") else Nil) ++
        deltaSegments(spark, path)

    /** Committed APPEND segments only (excludes the base build). */
    def deltaSegments(spark: SparkSession, path: String): Seq[String] =
      SegmentStore.segments(spark, s"$path/cells", "seg=delta_")
        .map { case (_, p) => p.substring(p.lastIndexOf("/seg=") + 5) }

    private[graft] def loadCenters(
        spark: SparkSession, path: String): Seq[Seq[Double]] =
      spark.read.parquet(s"$path/centers")
        .orderBy(col("cell")).collect()
        .map(_.getAs[scala.collection.Seq[Double]]("center").toSeq).toSeq

    /** Re-open a saved index; `cells` is lazy (pruned per query) and spans
      * the base build plus every committed append delta. `seg` is a
      * partition column of ONE parquet relation rooted at `cells/` — no
      * union stack, partition pruning over `cell` works across base +
      * deltas, and uncommitted segments are excluded by a PARTITION
      * filter (their files are never opened; the data schema is pinned
      * from the base segment, so no footer of a half-written delta is
      * ever touched for inference either).
      */
    def load(spark: SparkSession, path: String): IvfIndex = {
      val segs = committedSegs(spark, path)
      require(segs.contains("base"), s"ivf index at $path has no committed base")
      val dataSchema = spark.read.parquet(s"$path/cells/seg=base").schema
      val cells = spark.read
        .option("basePath", s"$path/cells")
        .schema(dataSchema.add("seg", org.apache.spark.sql.types.StringType))
        .parquet(s"$path/cells")
        .filter(col("seg").isin(segs: _*))
        .drop("seg")
      IvfIndex(cells, loadCenters(spark, path))
    }

    /** Incrementally add a batch of vectors to a SAVED index — the corpus
      * grew, the index should not be rebuilt. Centroids are FROZEN (the
      * FAISS-style contract: cell geometry is trained once on a sample;
      * appends only assign): one map pass assigns each new vector to its
      * nearest cell, then the batch lands as an immutable
      * `seg=delta_NNNNN` partition dir next to `seg=base`. No existing
      * file is touched — readers of the old snapshot are unaffected, and
      * a crash mid-append leaves an uncommitted partition that [[load]]
      * filters out. With nprobe = nlist a full-probe query over the
      * re-opened index is EXACT over base ∪ deltas (the q75 gate row
      * holds it to the brute-force oracle).
      *
      * Fold-in: when deltas accumulate, `load(...).save(freshPath)`
      * rewrites base + deltas as one compact base (the store-compaction
      * analogue; appends never change results, so the fold is free to run
      * any time).
      */
    def append(
        spark: SparkSession,
        path: String,
        batch: DataFrame,
        vecCol: String,
        idCol: String): Unit = {
      val centers = loadCenters(spark, path)
      val nextIdx = SegmentStore.nextId(spark, s"$path/cells", "seg=delta_")
      val raw = batch.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      spread(raw)
        .withColumn("cell", element_at(nearestCells(col("cv"), centers, 1), 1))
        .repartition(col("cell")) // same small-files guard as save()
        .write.mode("overwrite").partitionBy("cell")
        .parquet(SegmentStore.segPath(s"$path/cells", nextIdx, "seg=delta_"))
    }

    /** DELETE vectors from a saved index — the q101-postings contract on
      * the vector side: tombstoned ids land as immutable `_SUCCESS`-gated
      * `tombs/del_NNNNN` dirs; no cell partition is rewritten, readers of
      * old snapshots are unaffected, re-deleting is idempotent and
      * deleting an absent id is a no-op (set subtraction). [[loadLive]]
      * applies the subtraction as a broadcast anti-join on the pruned
      * cell scan — map-only, and because it filters AFTER partition
      * pruning, a probe still reads only its nprobe cells. Fold-in:
      * `loadLive(...).save(freshPath)` rewrites a tombstone-free base.
      */
    def delete(
        spark: SparkSession,
        path: String,
        ids: DataFrame,
        idCol: String): Unit = {
      val cast = ids.select(col(idCol).cast("long").as("neighbor_id"))
        .distinct()
      // fail fast on null/uncastable ids: a null written into the
      // tombstone segment never matches the anti-join, so the delete
      // would silently no-op for that id (deletes are takedowns — a
      // silent miss is a compliance bug, not a perf bug)
      require(cast.filter(col("neighbor_id").isNull).isEmpty,
        s"IvfIndex.delete: column `$idCol` contains null or " +
          "non-numeric ids — they cannot match any indexed vector")
      val tombs = s"$path/tombs"
      cast.write.mode("overwrite").parquet(SegmentStore.segPath(tombs,
        SegmentStore.nextId(spark, tombs, "del_"), "del_"))
    }

    /** All tombstoned ids (distinct across committed delete segments). */
    def tombstones(spark: SparkSession, path: String): DataFrame = {
      val segs = SegmentStore.segments(spark, s"$path/tombs", "del_").map(_._2)
      if (segs.isEmpty)
        graft.util.Frames.emptyLocal(spark,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("neighbor_id",
              org.apache.spark.sql.types.LongType))))
      else spark.read.parquet(segs: _*)
        .select(col("neighbor_id")).distinct()
    }

    /** The index with deletes applied. */
    def loadLive(spark: SparkSession, path: String): IvfIndex = {
      val ix = load(spark, path)
      ix.copy(cells = ix.cells.join(
        broadcast(tombstones(spark, path)), Seq("neighbor_id"), "left_anti"))
    }
  }

  /** Nearest-`nprobe` cell ids for a vector column, via the literal-data
    * centroid pattern (see lshBuckets: literal arrays + HOFs, never a
    * per-dim expression tree).
    */
  private def nearestCells(vec: org.apache.spark.sql.Column,
      centers: Seq[Seq[Double]], nprobe: Int): org.apache.spark.sql.Column = {
    val dists = transform(typedLit(centers), ctr =>
      aggregate(zip_with(vec, ctr, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x))
    slice(transform(array_sort(zip_with(dists,
        sequence(lit(0), lit(centers.length - 1)),
        (d, i) => struct(d.as("d"), i.as("cell")))),
      s => s.getField("cell")), 1, nprobe)
  }

  /** Driver-local Lloyd's KMeans on a BOUNDED sample (FAISS-style
    * train-on-sample): nlist·|sample|·dim flops per iteration in-process —
    * milliseconds, vs an MLlib fit that schedules a cluster job per
    * iteration. The sample is capped at `fitSampleRows` regardless of
    * corpus size, so this is the one intentionally driver-side step of the
    * index BUILD (never the query path); centroid quality only needs the
    * sample to cover the distribution.
    */
  private[operators] def localKMeans(
      sample: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int = 10): Seq[Seq[Double]] = {
    require(sample.nonEmpty, "ivf: empty training sample")
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    val centers = Array.tabulate(math.min(k, sample.length))(i =>
      sample(rnd.nextInt(sample.length)).clone())
    for (_ <- 1 to maxIter) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Long](centers.length)
      sample.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centers.length) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - centers(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < centers.length) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } // empty cell: keep the previous centroid (stays deterministic)
        c += 1
      }
    }
    centers.map(_.toSeq).toSeq
  }

  /** One DISTRIBUTED Lloyd iteration of spherical k-means — the
    * corpus-scale twin of [[localKMeans]] (which trains on a bounded
    * driver-side sample for the index BUILD). When the corpus itself is
    * what you're clustering — topic bucketing, SemDeDup cell refinement,
    * mixture analysis — each iteration must be a Spark job, not a driver
    * loop:
    *
    *  1. assignment: argmax of cosine(v, seed_j) over the broadcast seed
    *     centroids, ties to the smaller index — pure map-side work
    *     (literal-data seeds keep the expression tree small, q27
    *     discipline); cosines are rounded to 6 dp BEFORE the argmax so
    *     cell membership at a boundary is ulp-stable across engines;
    *  2. update: ONE cell-keyed aggregation computing the count and the
    *     exact component sums together — the native
    *     [[org.apache.spark.sql.graft.VectorDecimalSumAgg]] folds each
    *     row's whole vector in a single buffer probe (no posexplode row
    *     blow-up), partials are 2 × dim longs per cell, and the exchange
    *     moves KB regardless of corpus size; sums are bit-identical to
    *     DECIMAL(38,12) summation (order-independent, so re-runs and
    *     engines agree bit-for-bit — the exactAvg discipline), and the
    *     final mean is one double division + round(6).
    *
    * Output: (cell, dim, n_vecs, c) — long format, one row per non-empty
    * cell × dimension (empty cells vanish; the caller keeps its previous
    * centroid for those, as localKMeans does). To iterate, collect the
    * ≤ nlist × dim result (bounded, independent of corpus size) and feed
    * it back as the next round's seeds.
    */
  def lloydStep(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      seeds: Seq[Seq[Double]]): DataFrame = {
    // non-finite vectors are unassignable (every cosine is NaN, and
    // Spark's NaN-above-everything ordering would park them all in one
    // arbitrary cell, then their components would null out of the
    // decimal sums while still inflating n_vecs — a silently skewed
    // mean). Policy: they are excluded from the step entirely, counts
    // and sums both.
    val v = spread(corpus.select(col(idCol), asDouble(col(vecCol)).as("v")))
      .filter(isFiniteVec(col("v")))
    val cosines = transform(typedLit(seeds),
      ctr => round(cosine(col("v"), ctr), 6))
    val cell = element_at(
      transform(
        array_sort(zip_with(cosines, sequence(lit(0), lit(seeds.length - 1)),
          (c, j) => struct((-c).as("negc"), j.as("cell")))),
        s => s.getField("cell")),
      1)
    val assigned = v.select(cell.as("cell"), col("v"))
    // ONE aggregation computes counts AND exact component sums: the
    // native vector-sum aggregate folds each row's whole vector in one
    // buffer probe (bit-identical to the posexplode + decimal-sum form,
    // see VectorDecimalSumAgg), and fusing the count into the same
    // GroupBy halves the corpus passes (the old shape aggregated
    // `assigned` twice). The posexplode now touches only ≤ cells rows.
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), vectorDecimalSum(col("v")).as("sv"))
      .select(col("cell"), col("n_vecs"),
        posexplode(col("sv")).as(Seq("d0", "sx")))
      .select(col("cell").cast("long").as("cell"),
        (col("d0") + 1).cast("long").as("dim"),
        col("n_vecs"),
        // + 0.0 normalizes IEEE negative zero: a tiny negative mean rounds
        // to -0.0 in C-libm engines but +0.0 through Spark's BigDecimal
        // round, and a value hasher renders them differently
        (round(col("sx").cast("double") / col("n_vecs"), 6) + 0.0).as("c"))
  }

  /** Full distributed spherical k-means: iterate [[lloydStep]], feeding
    * each round's (bounded, ≤ k × dim) collected centroids back as the
    * next round's seeds — the driver holds centroids only, never data, so
    * the loop is corpus-size-independent: `iters` Spark jobs of one
    * map-side assignment + one KB-sized exchange each. Cells that empty
    * out keep their previous centroid (the [[localKMeans]] rule), so k is
    * stable across rounds. Returns the final centroids — feed them to
    * [[lloydStep]] once more for assignments, or into an [[IvfIndex]] as
    * trained-on-everything cell geometry.
    */
  def kmeansTrain(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      seeds: Seq[Seq[Double]],
      iters: Int): Seq[Seq[Double]] = {
    require(iters >= 1, "kmeansTrain: iters must be >= 1")
    var centers = seeds
    for (_ <- 1 to iters) {
      val step = lloydStep(corpus, vecCol, idCol, centers)
        .collect() // bounded: <= k x dim rows by construction
        .map(r => (r.getAs[Long]("cell").toInt, r.getAs[Long]("dim").toInt,
          r.getAs[Double]("c")))
      val byCell = step.groupBy(_._1)
      centers = centers.zipWithIndex.map { case (prev, j) =>
        byCell.get(j) match {
          case Some(rows) =>
            val dims = rows.map(t => t._2 -> t._3).toMap
            prev.indices.map(i => dims(i + 1))
          case None => prev // empty cell: keep previous centroid
        }
      }
    }
    centers
  }

  /** Centroid-distance OUTLIER pruning — the embedding-space data-
    * cleaning pass that sits next to SemDeDup in curation pipelines
    * (prune the vectors farthest from their group's centroid: noisy
    * scrapes, mislabeled shards, encoder failures). For each group
    * (source, near-dup cluster, assigned cell …) the exact centroid is
    * computed, every member is scored by 6-dp-rounded cosine to it, and
    * the bottom `bottomPerMille` ‰ of the group is flagged — an INTEGER
    * rank comparison (rk × 1000 ≤ n × p), so no float epsilon moves the
    * cut and any engine reproduces it bit-for-bit.
    *
    * Scale shape, in order: (1) ONE group-keyed aggregation for count +
    * exact centroid sums via the native vector-sum aggregate
    * ([[org.apache.spark.sql.graft.VectorDecimalSumAgg]] — partials are
    * 2 × dim longs per group, the corpus itself never shuffles here);
    * (2) centroids broadcast back (group cardinality ≪ corpus — sources,
    * clusters — so the join is map-side; the cosine is the codegen'd
    * ArrayDot); (3) one group-keyed window for the rank — the only
    * corpus-sized shuffle, inherent to a per-group percentile cut.
    * Non-finite vectors are excluded from centroid AND output (a NaN
    * component would poison its group's mean — the [[lloydStep]]
    * policy).
    *
    * Output: (id, group, cos, rk, n_vecs, is_outlier) with `cos`
    * 6-dp-rounded (−0.0-normalized), `rk` the 1-based rank from the
    * centroid outward (ties to the smaller id), `is_outlier` boolean.
    */
  def centroidOutliers(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      groupCol: String,
      bottomPerMille: Int): DataFrame = {
    require(bottomPerMille >= 0 && bottomPerMille <= 1000,
      "centroidOutliers: bottomPerMille must be in [0, 1000]")
    val v = vecs
      .select(col(idCol).as("id"), col(groupCol).as("grp"),
        asDouble(col(vecCol)).as("v"))
      .filter(isFiniteVec(col("v")))
    val cent = v.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vecs"), vectorDecimalSum(col("v")).as("sv"))
      .select(col("grp"), col("n_vecs"),
        transform(col("sv"),
          s => round(s.cast("double") / col("n_vecs"), 6) + 0.0).as("ctr"))
    val scored = v.join(broadcast(cent), Seq("grp"))
      .select(col("id"), col("grp"), col("n_vecs"),
        (round(cosine(col("v"), col("ctr")), 6) + 0.0).as("cos"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("cos").asc, col("id").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("is_outlier",
        col("rk") * 1000 <= col("n_vecs") * bottomPerMille)
  }

  /** Build the IVF index once: train centroids on a bounded sample, then
    * ONE distributed map pass assigns every corpus vector to its nearest
    * cell. Amortize by persisting `cells` (or writing it as a
    * cell-partitioned table) and serving many `ivfQuery` calls against it.
    *
    * Serving guidance: an index probed at scale should go through
    * `save()` + `IvfIndex.load()` rather than being queried in-session.
    * The in-session frame carries `cell` as an ALIAS of the
    * nearest-centroid HOF expression, and Catalyst's constraint
    * inference can expand that alias through the probe join and push a
    * predicate referencing the corpus vector column onto the probe side
    * — a scale-dependent `INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND` (hit by
    * q111's first draft at sf1). A loaded index reads `cell` as an
    * opaque partition column, which is immune — and is also the layout
    * that buys partition-pruned probes.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int = 16,
      seed: Long = 42L,
      fitSampleRows: Int = 8192): IvfIndex = {
    val raw = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    // Centroid fit sample: the `fitSampleRows` vectors with the SMALLEST
    // stable id hash — a deterministic uniform draw over the whole
    // corpus, independent of partitioning and ingest order. (A bare
    // `limit(n)` reads the HEAD of the scan, which at scale with
    // sorted/clustered ingest fits centroids to the first partition's
    // distribution; hash order has no correlation with layout.) Runs as
    // TakeOrderedAndProject: per-partition top-n, driver merge — no
    // full sort, no shuffle of the corpus.
    val hcol = graft.functions.TextFunctions.stableHash60(
      concat(col("neighbor_id").cast("string"), lit(s":ivf:$seed")))
    val sample = raw
      .orderBy(hcol.asc, col("neighbor_id").asc)
      .limit(fitSampleRows)
      .select(col("cv"))
      .collect().map(_.getSeq[Double](0).toArray)
    val centers = localKMeans(sample, nlist, seed)
    val cells = spread(raw)
      .withColumn("cell", element_at(nearestCells(col("cv"), centers, 1), 1))
    IvfIndex(cells, centers)
  }

  /** Answer top-k queries against a built index, scanning only each query's
    * `nprobe` nearest cells. With nprobe = nlist the result is EXACTLY
    * bruteForceTopK (verified in tests and by the q38 oracle).
    */
  def ivfQuery(
      index: IvfIndex,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val probes = q
      .withColumn("cells", nearestCells(col("qv"), index.centers, nprobe))
      .select(col("query_id"), col("qv"), explode(col("cells")).as("cell"))
    val cand = index.cells.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** One-shot convenience: build + query. Prefer buildIvfIndex + ivfQuery
    * when serving more than one query batch.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      fitSampleRows: Int = 8192): DataFrame =
    ivfQuery(buildIvfIndex(corpus, vecCol, idCol, nlist, seed, fitSampleRows),
      queries, vecCol, idCol, k, nprobe)

  // ---------------------------------------------------------------- //
  // Product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search") — the memory layout behind every
  // billion-vector serving tier: split the D-dim vector into M
  // subvectors, quantize each against its own K-codeword codebook, and
  // store M small codes per vector (here 4 bytes instead of 64
  // doubles: 128× less scan IO). Queries never decode: ADC
  // (asymmetric distance computation) precomputes, per query, the
  // K × M table of exact query-subvector→codeword distances, and each
  // corpus vector's approximate distance is M table lookups — the
  // corpus-wide pass reads ONLY the code column. Codebooks are
  // per-subspace k-means ([[pqTrain]] — one corpus pass per round
  // covering all M subspaces); the q118 gate uses the q86 axis-unit
  // seed discipline so the oracle replays codebooks as literals, and
  // the q123 gate drives the TRAINED path against a chained-CTE
  // replay of the identical iterations.
  // ---------------------------------------------------------------- //

  /** Rounded squared-L2 distances of a subvector to each codeword of
    * one codebook, as an array column (index j). Decomposed as
    * `‖x‖² − 2·⟨x,c⟩ + ‖c‖²` with ‖c‖² folded in Scala — the exact
    * decomposition the SQL oracle writes, so both engines add the same
    * three doubles in the same order before the 6-dp round that makes
    * code assignment ulp-stable.
    */
  private def subDist2(sub: org.apache.spark.sql.Column,
      book: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    val ss = dot(sub, sub)
    array(book.map { c =>
      val ssc = c.foldLeft(0.0)((a, x) => a + x * x)
      round(ss - lit(2.0) * dot(sub, typedLit(c)) + lit(ssc), 6)
    }: _*)
  }

  /** The argmin codeword index (ties → smaller j) per subspace, for
    * vector column `v` under `codebooks(m)(j)(dim)`.
    */
  private def pqCodes(v: org.apache.spark.sql.Column,
      codebooks: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column = {
    val subDim = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (book, m) =>
      val d2 = subDist2(slice(v, m * subDim + 1, subDim), book)
      element_at(
        transform(
          array_sort(zip_with(d2,
            sequence(lit(0), lit(book.length - 1)),
            (d, j) => struct(d.as("d"), j.as("j")))),
          s => s.getField("j")),
        1).cast("int")
    }: _*)
  }

  /** ENCODE the corpus: one map pass assigns every vector's M
    * subvectors to their nearest codewords. Output (`neighbor_id`,
    * `codes` int array) — persist it as the serving table; at scale the
    * codes column is the only thing an ADC scan reads.
    */
  def pqEncode(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "pqEncode: need at least one codebook with at least one codeword")
    val subDim = codebooks.head.head.length
    require(codebooks.forall(_.forall(_.length == subDim)),
      "pqEncode: all codewords must share one subvector width")
    spread(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv")))
      .select(col("neighbor_id"), pqCodes(col("cv"), codebooks).as("codes"))
  }

  /** ADC top-k: per query, the M per-subspace distance TABLES ride the
    * broadcast (M × K rounded doubles — KBs); the encoded corpus
    * streams past once and each row's approximate distance is M
    * `element_at` lookups summed left-to-right (both engines add the
    * already-rounded table entries in subspace order — deterministic
    * IEEE addition, then one final 6-dp round; `+ 0.0` normalizes a
    * −0.0 total). Ranking ties break on neighbor id. The corpus side
    * never shuffles; the rank window is the only exchange, carrying
    * (query_id, neighbor_id, approx_dist2) slim rows.
    */
  def pqAdcTopK(
      encoded: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int): DataFrame = {
    val subDim = codebooks.head.head.length
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val dtabs = array(codebooks.zipWithIndex.map { case (book, m) =>
      subDist2(slice(col("qv"), m * subDim + 1, subDim), book)
    }: _*)
    val probes = q.select(col("query_id"), dtabs.as("dtab"))
    val terms = codebooks.indices.map { m =>
      element_at(element_at(col("dtab"), m + 1),
        element_at(col("codes"), m + 1) + 1)
    }
    val approx = round(terms.reduceLeft(_ + _), 6) + lit(0.0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist2").asc, col("neighbor_id").asc)
    encoded
      .join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        approx.as("approx_dist2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** HARD-NEGATIVE mining for contrastive embedding training — per
    * anchor, the top-k corpus vectors inside the cosine band
    * `[lo, hi)`: similar enough to be informative negatives (≥ lo —
    * random negatives teach nothing once the model separates easy
    * pairs), but NOT so similar they are probable duplicates /
    * unlabeled positives (< hi — the classic false-negative poisoning
    * failure of naive nearest-neighbor mining; DPR/SimCSE-style
    * pipelines band for exactly this reason).
    *
    * Shape is [[bruteForceTopK]]'s sanctioned broadcast scan (anchors
    * broadcast, corpus streams once, band filter BEFORE the rank
    * window so out-of-band rows never reach the exchange); at corpus
    * scale swap the scan for [[ivfQuery]]/[[ivfPqQuery]] candidates
    * and keep the same band + rank tail. Cosines are 6-dp-rounded
    * before banding and ranking (the cross-engine ulp discipline), so
    * band membership is bit-stable; ties break to the smaller
    * neighbor id.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(lo < hi, s"hardNegatives: need lo < hi, got [$lo, $hi)")
    val c = spread(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv")))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** One L2 Lloyd iteration over EVERY PQ subspace in a single corpus
    * pass — the PQ codebook trainer's inner step. Each vector's M
    * subvectors are assigned to their nearest codeword under the
    * current `codebooks` (the [[pqCodes]] argmin: 6-dp-rounded
    * `‖x‖² − 2⟨x,c⟩ + ‖c‖²`, ties to the smaller j — the SAME
    * assignment the encoder uses, so training optimizes exactly the
    * quantizer that will serve), then per-(subspace, codeword) mean
    * updates through the exact native vector-sum aggregate
    * ([[org.apache.spark.sql.graft.VectorDecimalSumAgg]] — bit-identical
    * to DECIMAL(38,12) summation) with one double division and the q86
    * `round(·,6) + 0.0` normalization.
    *
    * Scale shape: assignment is map-only (codebooks ride the plan as
    * literals — M × K × subDim doubles, KBs); the only shuffle is the
    * (m, code)-keyed mean update, ≤ M × K rows of (count, 2 × subDim
    * longs) after map-side partial aggregation — identical to
    * [[lloydStep]]'s economics, ONE pass for all M subspaces rather
    * than M.
    *
    * Output: (m, code, dim, n_vecs, c) — starved (m, code) cells emit
    * no rows; [[pqTrain]] carries their previous codeword forward.
    *
    * Finite-corpus contract: non-finite vectors are EXCLUDED from the
    * mean update here (one NaN component would poison a codeword), but
    * [[pqEncode]] — and a SQL replay of the training — has no such
    * filter, so feed a pre-filtered corpus (isFiniteVec) when exact
    * cross-engine replay matters. Same asymmetry as [[lloydStep]] and
    * its q86/q91 oracles; the driver corpora contain no non-finite
    * vectors.
    */
  def pqLloydStep(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val subDim = codebooks.head.head.length
    val v = spread(corpus.select(col(idCol), asDouble(col(vecCol)).as("cv")))
      .filter(isFiniteVec(col("cv")))
    // One (m, code)-keyed aggregation per SUBVECTOR (not per element):
    // the native vector-sum aggregate folds each subvector in one buffer
    // probe (bit-identical to the old posexplode + decimal-sum form), and
    // the count fuses into the same GroupBy — the per-element explode and
    // its dim-fold row blow-up are gone; only the ≤ M × K result rows
    // posexplode into (dim, sx) pairs.
    v.select(col("cv"),
        posexplode(pqCodes(col("cv"), codebooks)).as(Seq("m", "code")))
      .select(col("m"), col("code"),
        slice(col("cv"), col("m") * subDim + lit(1), lit(subDim)).as("sub"))
      .groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("n_vecs"), vectorDecimalSum(col("sub")).as("sv"))
      .select(col("m"), col("code"), col("n_vecs"),
        posexplode(col("sv")).as(Seq("d0", "sx")))
      .select(col("m").cast("long").as("m"),
        col("code").cast("long").as("code"),
        (col("d0") + 1).cast("long").as("dim"),
        col("n_vecs"),
        (round(col("sx").cast("double") / col("n_vecs"), 6) + 0.0).as("c"))
  }

  /** Full PQ codebook training: iterate [[pqLloydStep]], feeding each
    * round's collected (bounded, ≤ M × K × subDim) means back as the
    * next round's codebooks — the [[kmeansTrain]] loop shape, driver
    * holds codebooks only, never data. Starved codewords keep their
    * previous value so K is stable across rounds. Every mean is
    * 6-dp-rounded before it re-enters the distance arithmetic, so the
    * trained books are deterministic, layout-independent doubles a SQL
    * oracle replays bit-for-bit (the q91 chained-CTE discipline — the
    * q123 gate holds this path to a DuckDB replay of the identical
    * iterations).
    */
  def pqTrain(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      seeds: Seq[Seq[Seq[Double]]],
      iters: Int): Seq[Seq[Seq[Double]]] = {
    require(iters >= 1, "pqTrain: iters must be >= 1")
    var books = seeds
    for (_ <- 1 to iters) {
      val step = pqLloydStep(corpus, vecCol, idCol, books)
        .collect() // bounded: <= M x K x subDim rows by construction
        .map(r => (r.getAs[Long]("m").toInt, r.getAs[Long]("code").toInt,
          r.getAs[Long]("dim").toInt, r.getAs[Double]("c")))
      val byCell = step.groupBy(t => (t._1, t._2))
      books = books.zipWithIndex.map { case (book, m) =>
        book.zipWithIndex.map { case (prev, j) =>
          byCell.get((m, j)) match {
            case Some(rows) =>
              val dims = rows.map(t => t._3 -> t._4).toMap
              prev.indices.map(i => dims(i + 1))
            case None => prev // starved codeword: keep previous value
          }
        }
      }
    }
    books
  }

  /** IVF-PQ index build — the faiss serving architecture: coarse IVF
    * cell assignment ([[buildIvfIndex]]'s geometry) over PQ codes
    * ([[pqEncode]]'s payload). Output (`cell`, `neighbor_id`, `codes`):
    * write it `partitionBy("cell")` and a probe reads only its nprobe
    * cell partitions AND only the M-byte code column inside them —
    * partition pruning × column pruning, the two cuts multiplied. At a
    * billion vectors with nlist=4096, nprobe=64: 1.5% of partitions ×
    * 1/128 of the bytes. Centers come from [[kmeansTrain]]/
    * [[localKMeans]] (persist them like [[IvfIndex.save]] does);
    * codebooks from [[pqTrain]].
    */
  def buildIvfPq(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      centers: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    spread(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv")))
      .select(
        element_at(nearestCells(col("cv"), centers, 1), 1).as("cell"),
        col("neighbor_id"),
        pqCodes(col("cv"), codebooks).as("codes"))

  /** ADC top-k over an IVF-PQ index, scanning only each query's
    * `nprobe` nearest cells: the [[pqAdcTopK]] lookup arithmetic with
    * the [[ivfQuery]] probe shape — probes (query_id, distance table,
    * cell) broadcast against the cell-partitioned codes table as an
    * EQUI-join on cell, so partition pruning applies before a single
    * code is read. With nprobe = |centers| the result is EXACTLY
    * [[pqAdcTopK]] over the same codebooks (spec-asserted, and the q119
    * gate holds it to q118's oracle).
    *
    * Like [[buildIvfIndex]], serve through a SAVED cell-partitioned
    * table rather than the in-session frame: in-session `cell` is an
    * alias of the nearest-centroid HOF and constraint inference can
    * push it through the probe join (the documented
    * INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND sharp edge); a loaded table
    * reads `cell` as an opaque partition column.
    */
  def ivfPqQuery(
      cells: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      centers: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nprobe: Int): DataFrame = {
    val subDim = codebooks.head.head.length
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val dtabs = array(codebooks.zipWithIndex.map { case (book, m) =>
      subDist2(slice(col("qv"), m * subDim + 1, subDim), book)
    }: _*)
    val probes = q
      .select(col("query_id"), dtabs.as("dtab"),
        explode(nearestCells(col("qv"), centers, nprobe)).as("cell"))
    val terms = codebooks.indices.map { m =>
      element_at(element_at(col("dtab"), m + 1),
        element_at(col("codes"), m + 1) + 1)
    }
    val approx = round(terms.reduceLeft(_ + _), 6) + lit(0.0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist2").asc, col("neighbor_id").asc)
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        approx.as("approx_dist2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** CONTRASTIVE TRIPLET mining — the training-pair construction step a
    * contrastive/embedding-model pipeline runs after labels (or
    * pseudo-labels) exist: for every query vector, its best POSITIVE
    * (highest-cosine same-label neighbor) and its best HARD NEGATIVE
    * (highest-cosine different-label vector inside the `[negLo, negHi)`
    * "confusable" band — the [[hardNegatives]] band semantics: above
    * `negHi` is suspicious labeling, below `negLo` is too easy to teach
    * anything). Queries missing either side emit no row (a triplet is
    * only useful whole).
    *
    * Scale shape: ONE corpus scan — queries are bounded by contract
    * (training batches, not corpora) and broadcast; both sides reduce in
    * the SAME group-keyed aggregation via conditional deterministic
    * argmax (`max(struct(cos, −id))` — max cosine, ties to the smaller
    * id, exactly the rank-window order), so there is no rank exchange,
    * no window, and no second scan. Cosines 6-dp-snapped pre-argmax
    * (cross-engine ulp discipline); non-finite vectors barred on both
    * sides.
    *
    * Output: (query_id, pos_id, pos_cos, neg_id, neg_cos), one row per
    * query with both sides present.
    */
  def contrastiveTriplets(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      labelCol: String,
      negLo: Double,
      negHi: Double): DataFrame = {
    require(negLo < negHi,
      s"contrastiveTriplets: need negLo < negHi, got [$negLo, $negHi)")
    val c = spread(corpus.select(col(idCol).as("__cid"),
      col(labelCol).as("__clbl"), asDouble(col(vecCol)).as("cv")))
      .filter(isFiniteVec(col("cv")))
    val q = queries
      .select(col(idCol).as("query_id"), col(labelCol).as("__qlbl"),
        asDouble(col(vecCol)).as("qv"))
      .filter(isFiniteVec(col("qv")))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("__cid"))
      .select(col("query_id"),
        (col("__clbl") === col("__qlbl")).as("__same"),
        col("__cid"),
        (round(cosine(col("qv"), col("cv")), 6) + 0.0).as("__cos"))
    def argmax(cond: Column) = max(when(cond,
      struct(col("__cos"), (-col("__cid")).as("__nid"))))
    scored.groupBy(col("query_id"))
      .agg(
        argmax(col("__same")).as("__p"),
        argmax(!col("__same") &&
          col("__cos") >= negLo && col("__cos") < negHi).as("__n"))
      .filter(col("__p").isNotNull && col("__n").isNotNull)
      .select(col("query_id"),
        (-col("__p.__nid")).as("pos_id"), col("__p.__cos").as("pos_cos"),
        (-col("__n.__nid")).as("neg_id"), col("__n.__cos").as("neg_cos"))
  }

  /** MMR diversity rerank (Carbonell & Goldstein 1998) over a BOUNDED
    * per-query candidate set — the standard post-ANN stage that stops
    * a RAG context window from being five copies of the same passage:
    * greedily select k candidates maximizing
    * `(λ·relevance − (100−λ)·max-similarity-to-already-selected)/100`.
    *
    * `candidates` carries (query_id, neighbor_id, rel, cv) where `rel`
    * is the retrieval score (6-dp-rounded cosine from
    * [[bruteForceTopK]]/[[ivfQuery]]) and `cv` the candidate vector.
    * The selection runs per query over the collected candidate list —
    * the production shape: rerankers operate in-process on the top-N
    * window (N ≤ 100s), never on the corpus, so the per-group state is
    * bounded and the corpus-side cost stays in the ANN stage. Ranking
    * is deterministic and layout-independent because the score is
    * INTEGER MICRO-UNITS, not a rounded double: rel and each pairwise
    * cosine are 6-dp values, so `·1e6` recovers exact int64s, and
    * `score_µ = (λ·rel_µ − (100−λ)·ms_µ) / 100` (truncating int
    * division, = DuckDB `//`) pins every truncation point — ties break to the smaller neighbor id over a
    * pure (score_µ, id) total order, and the oracle unrolls the
    * identical k steps as chained SQL CTEs. (A double-space
    * `round((λ·rel−(100−λ)·ms)/100, 6)` is NOT cross-engine-stable
    * here: multiplying a 6-dp value by λ/100 systematically creates
    * exact 7th-digit halves, where Spark's round — BigDecimal.valueOf,
    * shortest decimal repr — and DuckDB's round — binary-exact value —
    * disagree. Found the hard way; integers have no half to argue
    * about.) The emitted `score` is `score_µ / 1e6` — the same integer
    * divided by the same literal on both engines.
    *
    * `maxCandidates` bounds the per-query group the greedy loop will
    * work on (default 1024): a corpus-sized group means the caller fed
    * the rerank raw ANN input instead of a top-N window. An oversized
    * group is a hard failure with a pointed message — a silently
    * truncated rerank would return results computed from a different
    * candidate set than the caller supplied, which is the kind of
    * wrong-but-plausible output no log line can excuse.
    */
  def mmrRerank(
      candidates: DataFrame,
      k: Int,
      lambdaPct: Int = 70,
      maxCandidates: Int = 1024): DataFrame = {
    require(k >= 1, "mmrRerank: k must be >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      "mmrRerank: lambdaPct must be in [0, 100]")
    require(maxCandidates >= k,
      s"mmrRerank: maxCandidates ($maxCandidates) must be >= k ($k)")
    val l = lambdaPct
    val maxC = maxCandidates
    val sel = udf((cands: Seq[org.apache.spark.sql.Row]) => {
      // reranking is an in-process greedy loop over ONE query's top-N
      // window — a corpus-sized group here means the caller skipped the
      // ANN stage: fail loudly.
      require(cands.length <= maxC,
        s"mmrRerank: candidate group of ${cands.length} exceeds " +
          s"maxCandidates=$maxC — rerank a bounded per-query top-N " +
          "(run an ANN/top-k stage first), or raise maxCandidates")
      val arr = cands.map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray)).toArray
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        val nn = math.sqrt(na) * math.sqrt(nb)
        if (nn == 0.0) 0.0 else d / nn
      }
      // 6-dp-rounded cosine → exact micro-units. The round must match
      // Spark's own `round` (BigDecimal.valueOf shortest-repr), which
      // is what produced the 6-dp `rel` values in the first place.
      def microCos(a: Array[Double], b: Array[Double]): Long = {
        val c = cos(a, b)
        if (c.isNaN || c.isInfinite) Long.MinValue // finite-vec contract
        else BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.movePointRight(6).longValueExact()
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double, Double)]
      val n = arr.length
      val relMicro = arr.map(c => Math.round(c._2 * 1e6))
      var step = 1
      while (step <= math.min(k, n)) {
        var bi = -1; var bs = 0L; var bid = 0L
        var ci = 0
        while (ci < n) {
          if (!selected.contains(ci)) {
            val (id, _, v) = arr(ci)
            val msMicro =
              if (selected.isEmpty) 0L
              else selected.map(si => microCos(v, arr(si)._3)).max
            // truncating division — DuckDB's `//` and Java's `/` both
            // truncate toward zero on negatives (NOT floor)
            val scoreMicro = (l * relMicro(ci) - (100L - l) * msMicro) / 100L
            if (bi < 0 || scoreMicro > bs || (scoreMicro == bs && id < bid)) {
              bi = ci; bs = scoreMicro; bid = id
            }
          }
          ci += 1
        }
        selected += bi
        out += ((bid, step, arr(bi)._2, bs / 1000000.0))
        step += 1
      }
      out.toSeq
    })
    candidates
      .groupBy(col("query_id"))
      .agg(collect_list(
        struct(col("neighbor_id"), col("rel"), col("cv"))).as("cs"))
      .select(col("query_id"), explode(sel(col("cs"))).as("m"))
      .select(col("query_id"), col("m._2").cast("long").as("rank"),
        col("m._1").as("neighbor_id"), col("m._3").as("rel"),
        col("m._4").as("score"))
  }
}
