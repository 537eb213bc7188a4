package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.util.SegmentStore

/** Inverted-index retrieval over the document corpus — the primitives a
  * training-data pipeline uses to FIND things in 100 TB of text (mining
  * eval neighbors, grepping a phrase's provenance, building retrieval
  * sets) without paying a full-corpus substring scan per lookup.
  *
  * Index layout: classic search-engine postings, denormalized —
  * `(tok, doc_id, tf, dl)` — so the query path never joins a separate
  * doc-length table (the one corpus-sized join BM25 would otherwise
  * need); plus a vocabulary-sized `(tok, df)` side table. Saved form is
  * a catalog table BUCKETED BY tok (FingerprintStore.compact's
  * discipline): an equality/IN probe on `tok` is bucket-pruned, so a
  * query reads ~queried-tokens/|vocab| of the index with NO exchange on
  * the index side (spec-asserted via SelectedBucketsCount).
  *
  * Query plans (the 100 TB shape):
  *  - [[phraseSearch]]: postings ⨝ broadcast(phrase tokens) → per-doc
  *    all-tokens gate → candidate ids semi-join the corpus → exact
  *    padded-substring verify. The corpus is touched only for
  *    candidates; the index only for the phrase's tokens.
  *  - [[bm25TopK]]: postings ⨝ broadcast(query tokens ⨝ df) — map-only
  *    against the postings scan — then ONE shuffle sized by matched
  *    postings for the per-(query, doc) score sum and a per-query
  *    top-k window (WindowGroupLimit heaps, no global sort).
  */
object Retrieval {

  /** Term frequencies: one corpus scan → (tok, doc_id, tf). */
  def termFrequencies(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Denormalized postings (tok, doc_id, tf, dl): doc length = Σ tf via a
    * doc-keyed window over the tf frame (build-time shuffle; the query
    * path then needs no length join). Docs with zero tokens carry no
    * postings — they are unreachable by any term query by construction.
    */
  def postings(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = termFrequencies(docs, textCol, idCol)
    tf.withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
  }

  /** Document frequencies off the postings frame (vocabulary-sized). */
  def docFrequencies(postings: DataFrame): DataFrame =
    postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))

  /** Phrase search: `phrases` is a SMALL frame (phrase_id, phrase) —
    * lowercase, single-spaced (the token normal form). Returns
    * (phrase_id, doc_id) for every document whose normalized text
    * contains the phrase at token boundaries. Candidates come from the
    * index (docs holding ALL the phrase's tokens); only candidates are
    * verified against the corpus text, with the padded-contains check
    * (`' '+joined+' '` ⊇ `' '+phrase+' '`) pinning token boundaries.
    */
  def phraseSearch(
      postings: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      phrases: DataFrame): DataFrame = {
    val ptoks = phrases
      .select(col("phrase_id"), col("phrase"),
        explode(split(col("phrase"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val nToks = ptoks.groupBy(col("phrase_id"))
      .agg(countDistinct(col("tok")).as("n_toks"))
    // index probe: only the phrases' tokens' postings leave the scan
    val candidates = postings
      .join(broadcast(ptoks.select(col("phrase_id"), col("tok"))), Seq("tok"))
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(countDistinct(col("tok")).as("hit_toks"))
      .join(broadcast(nToks), Seq("phrase_id"))
      .filter(col("hit_toks") === col("n_toks"))
      .select(col("phrase_id"), col("doc_id"))
    // exact verify on candidates only (corpus semi-joined, not scanned
    // per phrase): token-boundary substring over the normal form
    candidates
      .join(docs.select(col(idCol).as("doc_id"),
        concat(lit(" "),
          array_join(TextFunctions.tokens(col(textCol)), " "),
          lit(" ")).as("__joined")), Seq("doc_id"))
      .join(broadcast(phrases), Seq("phrase_id"))
      .filter(col("__joined").contains(concat(lit(" "), col("phrase"), lit(" "))))
      .select(col("phrase_id"), col("doc_id"))
  }

  /** Okapi BM25 top-k: `queries` is a SMALL frame (query_id, qtext).
    * `n`/`avgdl` are the corpus stats (|docs with postings|, mean dl) —
    * scalars fixed at build time. Scores are rounded to 4 dp BEFORE
    * ranking so engine summation order cannot flip a rank (q66's
    * transcendental-rounding argument); ties break by doc_id.
    */
  def bm25TopK(
      postings: DataFrame,
      docFreqs: DataFrame,
      queries: DataFrame,
      n: Long,
      avgdl: Double,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val qtoks = queries
      .select(col("query_id"),
        explode(split(col("qtext"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    // (query_id, tok, idf): tiny — query tokens ⨝ vocabulary stats
    val qidf = qtoks
      .join(docFreqs, Seq("tok"))
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .select(col("query_id"), col("tok"), col("idf"))
    val scored = postings
      .join(broadcast(qidf), Seq("tok")) // map-only against the postings scan
      .withColumn("part",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("part")), 4).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Incremental postings: each DISJOINT document batch (the ingest
    * contract — a doc's postings live in exactly one segment) appends
    * its postings as an immutable `_SUCCESS`-gated `seg_NNNNN` dir, the
    * store-family protocol. Because doc sets are disjoint, tf/dl are
    * per-doc intrinsic and df is additive across segments — so
    * [[docFrequencies]]/BM25 over [[loadPostings]] equal the one-shot
    * build over the union (the q80 gate row), with no segment-merge
    * step: a new corpus batch costs ONE postings build over the batch,
    * never a re-index of the corpus.
    *
    * Fold-in: when segments accumulate,
    * `saveIndex(spark, loadPostings(spark, dir), buckets, prefix)` IS
    * the compaction — it rewrites the accumulated segments as the
    * tok-bucketed serving table (bucket-pruned probes, no index-side
    * exchange), after which the segment dir can be truncated and
    * re-seeded for the next accumulation window. Appends never change
    * scores, so the fold can run at any batch boundary.
    */
  def appendPostings(
      batch: DataFrame, dir: String, textCol: String, idCol: String): Unit = {
    postings(batch, textCol, idCol)
      .select(col("tok"), col("doc_id").cast("long").as("doc_id"),
        col("tf"), col("dl"))
      .write.mode("overwrite").parquet(SegmentStore.segPath(dir,
        SegmentStore.nextId(batch.sparkSession, dir)))
  }

  /** Delete support: document tombstones land as immutable
    * `_SUCCESS`-gated `del_NNNNN` segments beside the postings segments
    * — deleting from an immutable-segment index never rewrites a
    * segment. Semantics are a SET SUBTRACTION: [[loadLivePostings]] is
    * the postings union minus every tombstoned doc, so re-deleting is
    * idempotent, deleting an absent id is a no-op, and because the
    * ingest contract never reuses a doc id, "delete as of now" and
    * "delete forever" coincide. df/N/avgdl need no delta bookkeeping:
    * they are recomputed off the LIVE postings at query time, where the
    * df aggregation is vocabulary-bounded and N/avgdl are one distinct
    * doc-length scan — exactly the stats path the append-only q80 gate
    * already pays. Tombstone sets are small relative to the corpus
    * (deletes are takedowns/redactions, not churn), so the subtraction
    * is a broadcast anti-join: map-only against the postings scan.
    */
  def appendTombstones(deletedIds: DataFrame, idCol: String, dir: String): Unit = {
    val cast = deletedIds.select(col(idCol).cast("long").as("doc_id"))
      .distinct()
    // fail fast on null/uncastable ids — a null tombstone row never
    // matches the anti-join, silently no-op'ing the delete
    require(cast.filter(col("doc_id").isNull).isEmpty,
      s"appendTombstones: column `$idCol` contains null or non-numeric " +
        "ids — they cannot match any indexed document")
    cast.write.mode("overwrite").parquet(SegmentStore.segPath(dir,
      SegmentStore.nextId(deletedIds.sparkSession, dir, "del_"), "del_"))
  }

  /** All tombstoned doc ids (distinct across delete segments). */
  def loadTombstones(s: SparkSession, dir: String): DataFrame = {
    val segs = SegmentStore.segments(s, dir, "del_").map(_._2)
    if (segs.isEmpty)
      graft.util.Frames.emptyLocal(s,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType))))
    else s.read.parquet(segs: _*).select(col("doc_id")).distinct()
  }

  /** The index with deletes applied: postings minus tombstoned docs. */
  def loadLivePostings(s: SparkSession, dir: String): DataFrame =
    loadPostings(s, dir)
      .join(broadcast(loadTombstones(s, dir)), Seq("doc_id"), "left_anti")

  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("tok",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType)))

  def postingsSegments(s: SparkSession, dir: String): Seq[String] =
    SegmentStore.segments(s, dir).map(_._2)

  /** All committed segments as one schema-pinned relation. */
  def loadPostings(s: SparkSession, dir: String): DataFrame = {
    val segs = postingsSegments(s, dir)
    if (segs.isEmpty)
      graft.util.Frames.emptyLocal(s, postingsSchema)
    else s.read.schema(postingsSchema).parquet(segs: _*)
  }

  /** Persist the index as a tok-bucketed catalog table (+ df side
    * table): probes with `tok = …` / `tok IN (…)` predicates read only
    * the matching buckets and join broadcast frames with no exchange on
    * the index side. Returns the (postings, df) table names.
    */
  def saveIndex(
      spark: SparkSession,
      postings: DataFrame,
      buckets: Int,
      tablePrefix: String): (String, String) = {
    val pt = s"${tablePrefix}_postings"
    val dt = s"${tablePrefix}_df"
    postings.write.mode("overwrite")
      .bucketBy(buckets, "tok").sortBy("tok", "doc_id")
      .saveAsTable(pt)
    docFrequencies(postings).write.mode("overwrite").saveAsTable(dt)
    (pt, dt)
  }
}
