package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.model.Vocab
import graft.operators.{Cluster, ClusterStore, Dedup, Layout, Merge, Multimodal, Profile, Retrieval, Similarity, Skew}
import graft.ops._
import graft.pipeline.MoodPipeline
import graft.util.SegmentStore

/** The engine's query surface over the driver test corpus — one entry per
  * implemented operator family (SURVEY.md §2 + training-data extensions).
  *
  * Conventions shared with the DuckDB oracles in [[Oracles]]:
  *  - every aggregate / computed column is explicitly aliased, identically
  *    on both sides (the driver compare sorts columns BY NAME);
  *  - double-valued outputs are rounded (4–6 dp) on both sides so
  *    distributed-summation ulp noise can't flip a hash;
  *  - every result carries a deterministic total ORDER BY on non-null keys.
  */
object Queries {

  /** Exact decimal forms for sums of fixed-point doubles — summation-order-
    * independent, so results are bit-identical across engines and across
    * re-runs at any parallelism (see Aggregates.exactAvg).
    */
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def sumDec2(c: Column): Column = sum(dec2(c)).cast("double")
  /** l_extendedprice * (1 - l_discount) as an exact 4-decimal product. */
  private def revenueDec(price: Column, disc: Column): Column =
    dec2(price) * (lit(1).cast("decimal(3,2)") - disc.cast("decimal(3,2)"))

  /** The one scratch lifecycle of the gates that write: `body` gets a
    * fresh temp dir, and on return or throw every store generation's
    * catalog handle under it is dropped ([[SegmentStore.dropTables]])
    * and the dir deleted — Bench/Verify call each gate per round, and a
    * long-lived service must not accumulate /tmp residue or handles. A
    * result that reads from the dir must materialize inside `body`.
    */
  private[graft] def scratch[A](s: SparkSession, prefix: String)(body: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(root)
    finally try SegmentStore.dropTables(s, root)
    finally graft.io.Sinks.truncatePath(s, root)
  }

  // ------------------------------------------------------------------ //
  // Relational core (lineitem / orders / customer / nation / region)
  // ------------------------------------------------------------------ //

  /** A-class hash aggregation — TPC-H Q1 shape (partial+final HashAggregate,
    * one shuffle on the 2 low-cardinality keys).
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sumDec2(col("l_extendedprice")), 2).as("sum_base_price"),
        // round in DECIMAL space: Spark rounds doubles via shortest-decimal
        // repr, DuckDB via fp multiply — they disagree on exact midpoints
        round(sum(revenueDec(col("l_extendedprice"), col("l_discount"))), 2).cast("double")
          .as("sum_disc_price"),
        // exact-sum averages ship unrounded: bit-identical across engines
        avg(col("l_quantity")).as("avg_qty"),
        Aggregates.exactAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** P-class filter + computed projection; predicate + column pruning reach
    * the parquet scan (verified via .explain PushedFilters).
    */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-04-01").cast("timestamp") &&
        col("l_discount") > 0.05)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** J-class multi-join + agg — revenue per nation. nation/region/customer
    * are dims: Catalyst broadcasts them (AQE confirms at runtime), so the
    * only real shuffle is the final groupBy on n_name.
    */
  def joinRevenue(s: SparkSession, dir: String): DataFrame = {
    // pre-aggregate per order before the fact⟗dim join (see rollupRevenue):
    // the orderkey shuffle carries (rev, n) per ORDER, not per lineitem;
    // decimal partial sums are exact so the once-rounded total is identical
    val orderRev = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(revenueDec(col("l_extendedprice"), col("l_discount"))).as("rev"),
        count(lit(1)).as("nl"))
    orderRev
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("rev")), 2).cast("double").as("revenue"),
        sum(col("nl")).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Left-outer join parity shape (reference J1/J2): nation ⟕ customer agg.
    * Nations with no customers survive with null aggregates.
    */
  def leftJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val custAgg = Tables.customer(s, dir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"), round(sumDec2(col("c_acctbal")), 2).as("sum_bal"))
    Tables.nation(s, dir)
      .join(custAgg, col("n_nationkey") === col("c_nationkey"), "left")
      .select(col("n_nationkey"), col("n_name"), col("n_custs"), col("sum_bal"))
      .orderBy(col("n_nationkey"))
  }

  /** Semi/anti joins — customers WITH orders (semi) vs WITHOUT (anti),
    * counted per market segment.
    */
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
    withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Distinct (dedup-lite set op). */
  def distinctCombos(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** Analytic window function — top-3 orders per status by totalprice
    * (row_number over a partitioned sort; ties broken by key).
    */
  def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderstatus"), col("rn").cast("long").as("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderstatus"), col("rn"))
  }

  /** Set operation — union of two entity tables with a source tag. */
  def unionEntities(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("entity_key"), col("c_name").as("entity_name"),
        col("c_acctbal").as("acctbal"), lit("customer").as("src"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("entity_key"), col("s_name").as("entity_name"),
        col("s_acctbal").as("acctbal"), lit("supplier").as("src"))
    c.unionAll(sup)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), round(sumDec2(col("acctbal")), 2).as("sum_bal"))
      .orderBy(col("src"))
  }

  // ------------------------------------------------------------------ //
  // Event-time operators (events table; reference streaming semantics
  // exercised in batch — identical Catalyst plans minus state)
  // ------------------------------------------------------------------ //

  /** A1-analog: per-minute × event_type aggregation over the event stream
    * table (date_trunc tumbling-window key, P5).
    */
  def minuteAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("minute", TimeOps.truncMinute(col("ts")))
      .groupBy(col("minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.exactAvg(col("value")).as("avg_value"))
      .orderBy(col("minute"), col("event_type"))

  /** P6 conditional bucketing (native CaseWhen, no UDF). */
  def bucketing(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("bucket", Classify.trafficCondition(col("value")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bucket"))

  /** P8-style validation conjunction + A5 counts. */
  def validateEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull &&
        col("value") > 0 && col("props").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_valid"), round(sumDec2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** P10 (pushdown-friendly day filter): single-day slice via to_date. */
  def dayFilter(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(to_date(col("ts")) === lit("2024-01-15"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .orderBy(col("event_type"))

  // ------------------------------------------------------------------ //
  // Mood flagship — the reference dataflow (parse → minute agg ×3 →
  // left joins → native CaseWhen classifier) mapped onto the events table
  // ------------------------------------------------------------------ //

  /** Derived per-topic frames: the three reference streams re-expressed as
    * deterministic projections of the events table (TESTDATA is the only
    * sanctioned input). Speed/temp derive from `value`; weather/sentiment
    * vocabularies are the reference's own (Vocab).
    */
  private[graft] def derivedStreams(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts").as("timestamp"), col("user_id"),
        col("event_type"), col("value"))
    val traffic = ev.select(
      col("timestamp"),
      concat(lit("x"), (col("user_id") % 4).cast("string")).as("intersection"),
      (col("value") / 4).as("speed"))
    val weather = ev.select(
      col("event_id").as("arrival"), col("timestamp"),
      (col("value") / 10).as("temp"),
      when(col("event_type") === "click", "clear")
        .when(col("event_type") === "view", "partly_cloudy")
        .when(col("event_type") === "purchase", "mainly_clear")
        .when(col("event_type") === "signup", "rain_heavy")
        .otherwise("thunderstorm").as("weather"))
    val news = ev.select(
      col("event_id").as("arrival"), col("timestamp"),
      when(col("event_type") === "error", "negative")
        .when(col("event_type") === "purchase", "positive")
        .otherwise("neutral").as("sentiment"))
    (traffic, weather, news)
  }

  /** Flagship: full mood pipeline (A1–A3, J1–J2, U1 as native CaseWhen). */
  def moodFlagship(s: SparkSession, dir: String): DataFrame = {
    val (traffic, weather, news) = derivedStreams(s, dir)
    MoodPipeline.run(traffic, weather, news, arrivalCol = "arrival")
      .select(col("event_time"), col("intersection"),
        col("avg_speed"), col("avg_temp"),
        col("weather"), col("sentiment"), col("mood"))
      .orderBy(col("event_time"), col("intersection"))
  }

  /** A4 daily-summary tier over the flagship output. */
  def dailySummary(s: SparkSession, dir: String): DataFrame = {
    val (traffic, weather, news) = derivedStreams(s, dir)
    val mood = MoodPipeline.run(traffic, weather, news, arrivalCol = "arrival")
    Aggregates.dailySummary(mood)
      .select(col("intersection"), col("mood"), col("records_count"),
        col("avg_speed"), col("avg_temp"))
      .orderBy(col("intersection"), col("mood"))
  }

  /** U2 news-sentiment classifier over the documents corpus. */
  def classifyNews(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Classify.newsSentiment(col("text")).as("sentiment"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------------ //
  // Text analysis (documents)
  // ------------------------------------------------------------------ //

  /** Token counting + quality stats + content fingerprint, all codegen'd
    * built-ins (no UDFs).
    */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.uniqueTokenCount(col("text")).cast("long").as("n_unique"),
        length(TextFunctions.normalized(col("text"))).cast("long").as("n_chars_norm"),
        round(TextFunctions.tokenRatio(col("text"), Seq("the", "a", "of", "and", "to", "in", "is")), 6)
          .as("stopword_ratio"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Gopher-style document-quality filter: the length / mean-word-length /
    * symbol-ratio / stopword-presence heuristics every pretraining corpus
    * pass applies, as pure codegen'd columns. `passes` evaluates the
    * conjunction on UNROUNDED values (integer counts divided — identical
    * doubles in any engine); display columns are rounded.
    */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val norm = TextFunctions.normalized(col("text"))
    val nTokens = TextFunctions.tokenCount(col("text"))
    val meanTokLen = length(translate(norm, " ", "")).cast("double") / nTokens
    val symbolRatio =
      (length(norm) - length(regexp_replace(norm, "[^a-z0-9 ]", ""))).cast("double") /
        greatest(length(norm), lit(1))
    val stopRatio = TextFunctions.tokenRatio(col("text"),
      Seq("the", "a", "of", "and", "to", "in", "is"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        round(meanTokLen, 6).as("mean_tok_len"),
        round(symbolRatio, 6).as("symbol_ratio"),
        round(stopRatio, 6).as("stopword_ratio"),
        (nTokens >= 20 && meanTokLen.between(3.0, 6.0) &&
          symbolRatio <= 0.03 && stopRatio >= 0.05).cast("long").as("passes"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style REPETITION quality signals — the "most of this document
    * is the same phrase over and over" detectors (Rae et al. 2021, §A1.1)
    * that length/symbol heuristics (q41) can't see: top-token frequency
    * fraction, top-bigram frequency fraction, and the fraction of word
    * trigrams that are duplicates within the document.
    *
    * Entirely map-only: token/n-gram arrays are bound to attributes once,
    * then per-row `array_sort` + linear folds (see
    * TextFunctions.maxElementCount) — no explode, no per-doc groupBy, zero
    * shuffles before the output sort. At 100 TB this runs at scan speed;
    * the explode→groupBy(doc_id, token) form this replaces shuffles the
    * entire tokenized corpus.
    */
  def repetitionSignals(s: SparkSession, dir: String): DataFrame = {
    val staged = Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      // n-gram arrays bound as attributes: each width reuses the bound
      // token array instead of re-running the tokenizer regex
      .select(col("doc_id"), col("toks"),
        TextFunctions.ngramsOfTokens(col("toks"), 2).as("bgs"),
        TextFunctions.ngramsOfTokens(col("toks"), 3).as("tgs"))
    staged.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      round(TextFunctions.maxElementCount(col("toks")).cast("double") /
        size(col("toks")), 6).as("top_token_frac"),
      when(size(col("bgs")) === 0, lit(0.0))
        .otherwise(round(TextFunctions.maxElementCount(col("bgs")).cast("double") /
          size(col("bgs")), 6)).as("top_bigram_frac"),
      when(size(col("tgs")) === 0, lit(0.0))
        .otherwise(round(lit(1.0) -
          size(array_distinct(col("tgs"))).cast("double") / size(col("tgs")), 6))
        .as("dup_trigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic (stopword-profile argmax). */
  def langId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_guess"))
      .orderBy(col("doc_id"))

  /** Stratified deterministic hash sampling of the events stream —
    * reproducible train/holdout cuts at corpus scale (see
    * operators/Sampling.scala): 10% of clicks, 50% of purchases, 25% of
    * everything else, keyed on event_id. The dump aggregates the sampled
    * rows per type (count + exact decimal sum), which pins the exact
    * membership set cross-engine without dumping every sampled row.
    */
  def hashSampleEvents(s: SparkSession, dir: String): DataFrame = {
    val perMillion = when(col("event_type") === "click", lit(100000L))
      .when(col("event_type") === "purchase", lit(500000L))
      .otherwise(lit(250000L))
    graft.operators.Sampling.hashSample(
        Tables.events(s, dir), col("event_id"), perMillion)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        round(sumDec2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Whitespace vs BPE-ish token counts per document — the two budget
    * currencies of a packing pipeline (see TextFunctions.bpeTokenCount).
    * Map-only scan-side projection.
    */
  def bpeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Deterministic weighted source mixture — build a training mix by
    * taking a per-source quota of documents, selected by the same
    * deterministic hash bucket as q49 (so the mix is reproducible and
    * monotone: raising a quota only ADDS docs). One shuffle (by source)
    * + per-source sort; at 100 TB pre-filter each source by an
    * approximate bucket threshold (quota / source_count × 1e6) before the
    * exact top-k so the window sorts a sliver, not the corpus.
    */
  def sourceMixture(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quota = when(col("source").isin("src0", "src1", "src2", "src3"),
      lit(15)).otherwise(lit(5))
    Tables.documents(s, dir)
      .withColumn("bucket",
        graft.operators.Sampling.sampleBucket(col("doc_id"), "mixture"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("bucket"), col("doc_id"))))
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Winnowing (rolling-hash) document fingerprints — the MOSS-style
    * robust content signature per doc (see
    * TextFunctions.winnowFingerprints). Map-only scan-side projection; the
    * fingerprint set is dumped as one comma-joined sorted string (the
    * driver's hasher can't sort/hash array columns — q42 precedent).
    */
  def docFingerprints(s: SparkSession, dir: String): DataFrame =
    // spread: a single-file scan would run the whole md5 pass on one task
    // (map-only op — no-op on a well-partitioned 100 TB corpus)
    graft.operators.Similarity.spread(Tables.documents(s, dir))
      // staged projections on purpose: normalized text, then the
      // shingle-hash array, each bound to a real attribute before the next
      // stage — a Catalyst lambda re-evaluates non-lambda subexpressions
      // per element, so the collapsed form is O(n²)/doc (see
      // TextFunctions.shingleHashes scaladoc)
      .select(col("doc_id"), TextFunctions.normalized(col("text")).as("nt"))
      .select(col("doc_id"),
        TextFunctions.shingleHashesOfNorm(col("nt")).as("hs"))
      .select(col("doc_id"),
        TextFunctions.winnowSelect(col("hs")).as("fp_arr"))
      .select(col("doc_id"),
        size(col("fp_arr")).cast("long").as("n_fps"),
        array_join(col("fp_arr"), ",").as("fps"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------------ //
  // Deduplication (documents)
  // ------------------------------------------------------------------ //

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "text", "doc_id")
      .select(col("fp"), col("keep_id"), col("dup_count"))
      // order by keep_id, never null — fp is null for null-text docs and
      // Spark (NULLS FIRST) and DuckDB (NULLS LAST) would order it apart
      .orderBy(col("keep_id"))

  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(Tables.documents(s, dir), "text", "doc_id", k = 4, ngram = 2)
      .orderBy(col("doc_id"))

  def lshCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minhashSignatures(Tables.documents(s, dir), "text", "doc_id", k = 4, ngram = 2)
    Dedup.lshCandidates(sigs, "doc_id", bands = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Unigram Jaccard similarity pairs, blocked by source (the oracle-friendly
    * instantiation of the n-gram Jaccard operator). maxDf = 50 exercises the
    * hot-gram guard: with n = 1 a stopword's df² join rows would otherwise be
    * the straggler at scale; the oracle mirrors the capped semantics.
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text", "doc_id", "source",
        n = 1, maxDf = 50)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** Full corpus dedup composition (exact → minhash/LSH candidates →
    * jaccard verify → greedy keep-smallest-id). Rows-only check: output is
    * the surviving documents.
    */
  def dedupeCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupeCorpus(Tables.documents(s, dir), "text", "doc_id",
      threshold = 0.8, k = 8, bands = 4, ngram = 2)
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")

  def simhashFingerprints(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), "text", "doc_id", bits = 16)
      .orderBy(col("doc_id"))

  /** SemDeDup-style semantic dedup of the embedding table: coordinate-sign
    * cells (axis-aligned planes at dims 0/16/32/48 → 16 cells), drop any
    * vector with a smaller-id cell-mate at cosine ≥ 0.3, emit survivors.
    * See Dedup.semanticDedup for the scale shape (one per-cell equi-join,
    * chain-free domination, no iteration).
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val planes = Seq(0, 16, 32, 48)
      .map(i => Seq.tabulate(64)(j => if (j == i) 1.0 else 0.0))
    Dedup.semanticDedup(Tables.embeddings(s, dir), "embedding", "vec_id",
        planes, threshold = 0.3)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("cell"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------------------ //
  // Similarity search (embeddings)
  // ------------------------------------------------------------------ //

  /** Exact brute-force cosine top-k: queries = first 10 vectors, corpus =
    * whole table (query side broadcast; corpus never shuffled pre-topk).
    */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q94: quantized-scan ANN with exact rescoring — the standard
    * memory-bandwidth trade every production vector store makes: the
    * corpus-wide candidate scan reads int8 codes (4× less IO than fp32;
    * here quantized on the fly via q42's formula — production scans the
    * persisted q42 table), takes the top-32 per query by APPROXIMATE
    * cosine against the dequantized codes, then rescores only those 32
    * with the exact fp32 cosine for the final top-8. Both cosines are
    * 6-dp-rounded before their rank windows (ties to the smaller
    * neighbor id), so candidate sets and final ranks are ulp-stable
    * across engines; the oracle replays quantize → dequantize →
    * candidate window → rescore window identically.
    */
  def annQuantizedRescore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        VectorFunctions.asDouble(col("embedding")).as("qv"))
    val corpus = graft.operators.Similarity.spread(
        emb.select(col("vec_id").as("neighbor_id"),
          VectorFunctions.asDouble(col("embedding")).as("cv")))
      .withColumn("qs", VectorFunctions.quantizeInt8(col("cv")))
      .withColumn("dv",
        transform(col("qs.q"), c => c.cast("double") * col("qs.scale")))
    // the QUERY vector must not ride the candidate window: it is
    // identical across every corpus row of its query, so carrying it
    // would push |queries| copies of a 64-dim array through the
    // window's sort/exchange per corpus row — it rejoins from the
    // 10-row broadcast AFTER the top-32 cut instead. The corpus vector
    // (one copy per row, needed for the exact rescore) stays on the
    // row; at true scale with a persisted q42 code table, the rescore
    // would instead point-look-up fp32 vectors for the ≤ 32·|queries|
    // survivors.
    val approx = corpus
      .join(broadcast(queries.select(col("query_id"), col("qv"))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cv"),
        round(VectorFunctions.cosine(col("qv"), col("dv")), 6)
          .as("approx_cosine"))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)
    val cands = approx
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= 32)
      .select(col("query_id"), col("neighbor_id"), col("cv"),
        col("approx_cosine"))
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("approx_cosine"),
        round(VectorFunctions.cosine(col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= 8)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"), col("approx_cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding near-duplicate pairs above a cosine threshold, blocked by
    * label so the self-join is per-bucket, never global.
    */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val v = emb.select(col("vec_id"), col("label"),
      VectorFunctions.asDouble(col("embedding")).as("v"))
    // spread the left side: single-file corpus → one input partition, and a
    // broadcast self-join would serialize all pairwise cosines on one task
    // (no-op when the scan is already parallel enough)
    val a = graft.operators.Similarity.spread(v).as("a")
    val b = v.as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(VectorFunctions.cosine(col("a.v"), col("b.v")), 6).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Gate-certification dump for q27 — NOT the production serving path
    * (that is `Similarity.lshTopK`, whose ranking the random
    * hyperplanes make non-SQL-expressible). Model: q39's
    * [[sketchProfile]] — certify the approximate result against ground
    * truth IN-QUERY and dump only oracle-predictable columns, so DuckDB
    * gets a real rows/schema/hash row instead of a rows-only pass:
    *
    *  - `n_returned`        — exactly k neighbors came back per query;
    *  - `found_exact_neighbor` — ≥1 of the brute-force top-5 is among
    *    them (per-query floor; measured min is 1/5 at sf0.1);
    *  - `cosine_exact_ok`   — every returned cosine re-derives bit-equal
    *    from an INDEPENDENT id→vector lookup against the raw table, so an
    *    id↔vector mixup anywhere in the bucketed join would surface;
    *  - `within_exact_bounds` — no returned cosine exceeds the true
    *    global max (brute-force rank-1), i.e. LSH never hallucinates a
    *    better-than-possible neighbor;
    *  - `corpus_recall_at_5_ok` — mean recall@5 across the query batch
    *    clears the 0.5 bar SimilaritySpec pins (measured 0.66–0.8 across
    *    sf0.001/0.01/0.1 at bits=4 × tables=8).
    *
    * All certification joins run on post-top-k frames (k·|queries| rows)
    * except the lookup re-derivation, which broadcasts those few rows
    * into one corpus scan — the same cost shape as the brute-force gate
    * itself, fine for certification, never the serving path.
    */
  def annLshCertified(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
    // few bits × many tables: this corpus has WEAK neighbor separation
    // (top-5 cosine ≈ 0.35–0.45 vs background ≈ 0, per-plane agreement
    // ≈ 0.63), so 4 × 8 gives recall@5 ≈ 0.8 at ~40% candidate fraction;
    // high-bit few-table settings suit strongly-clustered corpora
    val lsh = Similarity.lshTopK(emb, queries, "embedding", "vec_id", dim = 64,
        k = 5, bits = 4, tables = 8)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val bf = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("bf_cosine"),
        col("rank").as("bf_rank"))

    // independent re-derivation: look the pair's vectors up by id in the
    // raw table and recompute the cosine from scratch
    val qv = queries.select(col("vec_id").as("query_id"),
      VectorFunctions.asDouble(col("embedding")).as("qv"))
    val withQ = lsh.join(qv, Seq("query_id"))
    val nv = emb.select(col("vec_id").as("neighbor_id"),
      VectorFunctions.asDouble(col("embedding")).as("nv"))
    val rederived = nv.join(broadcast(withQ), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        round(VectorFunctions.cosine(col("qv"), col("nv")), 6).as("cosine2"))

    val bfTop1 = bf.filter(col("bf_rank") === 1)
      .select(col("query_id"), col("bf_cosine").as("bf_max"))
    val perQuery = rederived
      .join(bf.select(col("query_id"), col("neighbor_id"), lit(true).as("in_bf")),
        Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(bfTop1), Seq("query_id"))
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_returned"),
        (sum(when(col("in_bf"), 1L).otherwise(0L)) >= 1L).as("found_exact_neighbor"),
        min(col("cosine") === col("cosine2")).as("cosine_exact_ok"),
        min(col("cosine") <= col("bf_max") + lit(1e-9)).as("within_exact_bounds"),
        sum(when(col("in_bf"), 1L).otherwise(0L)).as("hits"))
    // corpus-level bound attached by broadcasting the ONE-ROW global
    // aggregate against the per-query frame (a broadcast nested-loop with
    // a single build row — the plan a scalar-subquery attach gets;
    // sanctioned in PlanDisciplineSpec. A global window would instead
    // drag the frame to one partition)
    val bound = perQuery.agg(
      (sum(col("hits")) >= sum(col("n_returned")) * lit(0.5))
        .as("corpus_recall_at_5_ok"))
    perQuery.crossJoin(broadcast(bound))
      .select(col("query_id"), col("n_returned"), col("found_exact_neighbor"),
        col("cosine_exact_ok"), col("within_exact_bounds"),
        col("corpus_recall_at_5_ok"))
      .orderBy(col("query_id"))
  }

  /** IVF ANN at full probe (nprobe = nlist): exact — hash-matches the same
    * oracle as brute force, proving the index path loses nothing; the
    * production setting (nprobe < nlist) is covered by unit tests.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.ivfTopK(emb, queries, "embedding", "vec_id", k = 5,
        nlist = 16, nprobe = 16)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF ANN served from a SAVED index — the amortized production serving
    * path: build once, write the cells as a cell-partitioned parquet table,
    * then answer query batches from the re-opened table (at 100 TB the
    * index is built once and served thousands of times; each probe is a
    * partition-pruned scan — PartitionFilters / dynamic pruning asserted in
    * SimilaritySpec). Full probe (nprobe = nlist) keeps it exact → same
    * oracle as brute force. The result is materialized eagerly so the temp
    * index directory can be deleted before returning (no /tmp residue from
    * Bench/Verify runs).
    */
  def annIvfSaved(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
    scratch(s, "graft_ivf_idx") { path =>
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", nlist = 16).save(path)
      val loaded = Similarity.IvfIndex.load(s, path)
      val result = Similarity.ivfQuery(loaded, queries, "embedding", "vec_id", k = 5, nprobe = 16)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
      // materialize as a LOCAL relation before deleting the index dir: the
      // result is k×|queries| rows (bounded small by construction), and a
      // local relation survives executor loss / block eviction, which a
      // localCheckpoint of a frame whose source was deleted would not.
      // Real serving keeps the index on disk and streams ivfQuery results
      // directly — this collect exists only so the GATE can clean up /tmp.
      import scala.jdk.CollectionConverters._
      s.createDataFrame(result.collect().toSeq.asJava, result.schema)
    }
  }

  /** q75: the saved IVF index grows INCREMENTALLY — build on the first
    * ~60% of the corpus, save, [[graft.operators.Similarity.IvfIndex.append]]
    * the remaining vectors in two delta batches (frozen centroids, one
    * assignment map pass each, immutable `_SUCCESS`-gated delta segments),
    * then serve queries from the re-opened index spanning base + deltas.
    * Full probe (nprobe = nlist) keeps it exact over the WHOLE corpus →
    * same brute-force oracle as q38/q47: the append protocol must be
    * bit-invisible. Result materialized as a local relation so the temp
    * index dir can be deleted (q47's discipline).
    */
  def annIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
    scratch(s, "graft_ivf_app") { path =>
      val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
      val (t1, t2) = (maxId * 3 / 5, maxId * 4 / 5)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") <= t1),
        "embedding", "vec_id", nlist = 16).save(path)
      Similarity.IvfIndex.append(s, path,
        emb.filter(col("vec_id") > t1 && col("vec_id") <= t2), "embedding", "vec_id")
      Similarity.IvfIndex.append(s, path,
        emb.filter(col("vec_id") > t2), "embedding", "vec_id")
      val loaded = Similarity.IvfIndex.load(s, path)
      val result = Similarity.ivfQuery(loaded, queries, "embedding", "vec_id",
          k = 5, nprobe = 16)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(result.collect().toSeq.asJava, result.schema)
    }
  }

  /** Symmetric int8 scalar quantization of the embedding table — the 4×
    * storage/bandwidth shrink an ANN candidate scan reads instead of fp32.
    * Map-only; codes + per-vector scale are exactly reproducible in SQL.
    * The codes are dumped as one comma-joined string per vector (the
    * driver's pandas hasher can't sort/hash an array column); the raw
    * array<tinyint> path is covered by the VectorFunctions round-trip spec.
    */
  def quantizeEmbeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("qs", VectorFunctions.quantizeInt8(
        VectorFunctions.asDouble(col("embedding"))))
      .select(col("vec_id"), round(col("qs.scale"), 6).as("scale"),
        array_join(col("qs.q").cast("array<string>"), ",").as("q_codes"))
      .orderBy(col("vec_id"))

  // ------------------------------------------------------------------ //
  // Multimodal plumbing (documents as opaque binary payloads)
  // ------------------------------------------------------------------ //

  /** Binary-column feature extraction (declarative variant — md5
    * fingerprint, byte length, stub-decoded dimensions).
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.extractFeaturesSql(media)
      .orderBy(col("media_id"))
  }

  /** Same features via the imperative mapPartitions kernel (the path a real
    * codec decode would take) — rows-only check; its unit test asserts
    * bit-equality with the declarative variant.
    */
  def multimodalFeaturesKernel(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.extractFeatures(media)
      .orderBy(col("media_id"))
  }

  // ------------------------------------------------------------------ //
  // Wave 2: JSON, windows, sessions, distinct-agg, rollup, pivot
  // ------------------------------------------------------------------ //

  /** P2-analog in the oracle gate: schema-checked JSON parse of the `props`
    * payload column (from_json with explicit schema → PERMISSIVE nulls).
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(s, dir)
      .select(col("event_type"), from_json(col("props"), schema).getField("k").as("k"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"), col("k_mod"))
  }

  /** Sliding event-time windows (5-minute window, 1-minute slide) — the
    * window kind the reference lacks; each event lands in 5 windows.
    */
  def slidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Aggregates.exactAvg(col("value")).as("avg_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("avg_value"))
      .filter(col("event_type") === "purchase") // bound output size deterministically
      .orderBy(col("window_start"), col("event_type"))

  /** Session windows per user (30-minute inactivity gap) via the native
    * session_window operator.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sumDec2(col("value")), 2).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Exact distinct aggregation (count + sum of distincts). */
  def distinctUsers(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Hierarchical rollup totals (grouping sets) over the join tree.
    * Revenue is pre-aggregated per order BEFORE the fact⟗dim join: the
    * orderkey shuffle then carries one decimal per ORDER instead of every
    * lineitem row (at 100 TB that's the difference between shuffling the
    * fact table and shuffling ~1/4 of it), and decimal partial sums are
    * exact, so the once-rounded total is bit-identical.
    */
  def rollupRevenue(s: SparkSession, dir: String): DataFrame = {
    val orderRev = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(revenueDec(col("l_extendedprice"), col("l_discount"))).as("rev"))
    orderRev
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("rev")), 2).cast("double").as("revenue"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"), col("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Mergeable-sketch profile (Apache DataSketches HLL built-ins) — the
    * constant-memory scale path for q32-class distinct counting, and the
    * PRODUCTION entry point: build ONE sketch per (day, event_type)
    * partition, then MERGE sketches per event_type. Single scan of the
    * facts, no raw-user_id shuffle (the shuffle carries k-register
    * sketches). At 100 TB this is the canonical pattern — daily sketch
    * tables are tiny, re-aggregatable over any date range, and never
    * re-scan the facts; exact distinct (q32) re-shuffles raw user ids
    * every time. Output: event_type, approx_users, n_events.
    */
  def sketchEstimates(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"), count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
        sum(col("n")).as("n_events"))
      .orderBy(col("event_type"))

  /** Gate-certification dump for q39 — NOT the production path (that is
    * [[sketchEstimates]], single-scan, sketch-only). This frame joins in an
    * exact count_distinct purely to certify the sketch: the dump carries
    * the exact columns (hash-checked vs DuckDB — see Oracles.sketchProfile)
    * plus an in-query bound on the estimate (raw estimates are
    * sketch-implementation-specific, so they stay out of the hash; the
    * oracle asserts the bound column is all-true by emitting literal TRUE,
    * and the unit test bounds the error tightly via [[sketchEstimates]]).
    * The certification join deliberately pays a second events scan + raw
    * user_id shuffle — acceptable for a gate, never for production.
    */
  def sketchProfile(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users_exact"))
    sketchEstimates(s, dir).join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("n_users_exact"),
        (abs(col("approx_users") - col("n_users_exact")) <=
          greatest(col("n_users_exact"), lit(1)) * lit(0.05))
          .as("estimate_within_5pct"))
      .orderBy(col("event_type"))
  }

  /** Sequence packing for pretraining batches — the concat-then-chunk
    * assignment (docs concatenated in id order, chunked into fixed
    * `budget`-token sequences, documents may straddle chunk boundaries):
    * each doc gets its pack id and offset from a per-SOURCE cumulative
    * token sum, so packing parallelizes across shards instead of one
    * global single-task window.
    */
  def packSequences(s: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("start_off") / budget).as("pack_id"),
        (col("start_off") % budget).as("pack_offset"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Set operations (INTERSECT / EXCEPT, distinct semantics) over user
    * cohorts: users who both clicked and purchased, and users who clicked
    * but never purchased. Spark plans both as joins (semi/anti under
    * aggregation) — no driver-side set building.
    */
  def setOpsCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def users(kind: String) =
      ev.filter(col("event_type") === kind).select(col("user_id"))
    val both = users("click").intersect(users("purchase"))
      .select(col("user_id"), lit("click_and_purchase").as("cohort"))
    val only = users("click").except(users("purchase"))
      .select(col("user_id"), lit("click_no_purchase").as("cohort"))
    both.unionByName(only).orderBy(col("cohort"), col("user_id"))
  }

  /** Cube totals (all four grouping sets of status × priority) — the
    * grouping-sets class beyond rollup's hierarchy.
    */
  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sumDec2(col("o_totalprice")), 2).as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("status"), col("priority"))

  /** Analytic window functions over each user's event timeline: previous
    * event gap (lag) and running value total (cumulative frame) — the
    * ordered-window class beyond q07's ranking.
    */
  def runningTotals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (ts, value) ordering: equal-timestamp rows get a deterministic
    // running order in BOTH engines (ROWS frames diverge on ties otherwise)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("value"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("prev_gap_s",
        col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
      .withColumn("running_value",
        round(sum(dec2(col("value"))).over(cum).cast("double"), 2))
      .orderBy(col("user_id"), col("ts"))
  }

  /** Exact interpolated percentiles (sort-based aggregate — the one
    * sort-heavy aggregation in the surface; Spark plans it as a single
    * ObjectHashAggregate with per-group sorted buffers).
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .orderBy(col("event_type"))

  /** Range join: each purchase paired with the click session (30-minute
    * session_window) of the same user that CONTAINS it — the keyed
    * point-in-interval operator, executed as a binned equi-join
    * (RangeJoin.pointInInterval), never a nested loop. Oracle: lag-based
    * session reconstruction + an inequality join.
    */
  def rangeJoinSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val sessions = ev.filter(col("event_type") === "click")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_clicks"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n_clicks"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    graft.operators.RangeJoin.pointInInterval(
        purchases, sessions, "user_id", "purchase_ts", "s_start", "s_end")
      .select(col("user_id"), col("purchase_ts"), col("purchase_value"),
        col("s_start"), col("n_clicks"))
      .orderBy(col("user_id"), col("purchase_ts"), col("s_start"))
  }

  /** As-of join: each purchase paired with the user's most recent prior
    * click (inclusive) — DuckDB ASOF JOIN oracle.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOf.asofJoin(purchases, clicks, "user_id", "purchase_ts", "ts",
        Seq("value" -> "last_click_value", "ts" -> "last_click_ts"))
      .select(col("user_id"), col("purchase_ts"), col("purchase_value"),
        col("last_click_value"), col("last_click_ts"))
      .orderBy(col("user_id"), col("purchase_ts"))
  }

  /** Pivot: order counts by status × priority (statuses become columns). */
  def pivotOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))

  // ------------------------------------------------------------------ //
  // Structured Streaming (parquet file stream → watermark → windowed agg)
  // ------------------------------------------------------------------ //

  /** The minute aggregation executed as a real Structured Streaming query:
    * file source → watermark → groupBy → checkpointed foreachBatch that
    * writes the aggregate DISTRIBUTED to parquet, then a batch read-back.
    * Oracle: same SQL as minuteAgg.
    *
    * Complete mode is required for oracle parity on a bounded input (the
    * single micro-batch never advances the watermark, so append mode would
    * finalize no window); its state is bounded by the AGGREGATE cardinality
    * (minutes × event types), held in executor state stores. What must not
    * happen at scale — the result table materializing on the driver per
    * micro-batch, as a memory sink does — doesn't: executors write the
    * parquet directly.
    */
  def streamingMinuteAgg(s: SparkSession, dir: String): DataFrame = {
    // run the stream in a CHILD session (shared SparkContext, isolated
    // SQLConf): the aggregate is tiny, so 8 state-store partitions beat the
    // session's 32 (fewer store commits per micro-batch), and no global
    // conf is mutated for concurrent users of the parent session
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.load(ss, dir, "events").schema
    // file stream source needs a directory. The events table is a single
    // FILE in the driver corpus (stream the sf dir, glob-filtered to it)
    // but a parquet DIRECTORY in scaled/production layouts (stream it
    // directly — a glob for the table name would match none of its part
    // files and silently stream nothing)
    val evPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val evFs = evPath.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val reader = ss.readStream.schema(schema)
    val src =
      if (evFs.getFileStatus(evPath).isDirectory) reader.parquet(evPath.toString)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    scratch(s, "graft_stream") { root =>
      val out = s"$root/out"
      val q = Tables.normalizeTs(src)
        .withColumn("minute", TimeOps.truncMinute(col("ts")))
        .withWatermark("minute", "1 minute")
        .groupBy(col("minute"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Aggregates.exactAvg(col("value")).as("avg_value"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // materialize the (cardinality-bounded) result off the temp sink
      // before the scratch dir goes
      s.read.parquet(out).orderBy(col("minute"), col("event_type"))
        .localCheckpoint(eager = true)
    }
  }

  // ------------------------------------------------------------------ //
  // Corpus curation (clustering / decontamination / scrubbing / layout)
  // ------------------------------------------------------------------ //

  /** q52: duplicate-CLUSTER assignment — connected components over the
    * q20 LSH candidate edges (alternating large-star/small-star,
    * O(log² n) rounds independent of component diameter — see
    * [[graft.operators.Cluster]]), every document labeled with its
    * cluster's minimum doc_id plus the cluster size. Pair emission
    * (q20) finds who MIGHT be duplicates; this is the step that turns
    * pairs into the dedup groups a curation pipeline actually keys on.
    *
    * Cluster sizes are a two-phase aggregate over the MEMBERSHIP frame
    * (`groupBy(component).count()` + join back), not
    * `count() over Window.partitionBy(cluster_id)`: BASELINE.md's sf1
    * giant LSH component is exactly the hot key that serializes a
    * cluster-keyed window on one task at 100×. Docs outside every
    * component are singletons by construction (components have ≥ 2
    * members), so their size is the literal 1 — the size frame never
    * even sees the corpus, only CC's membership output.
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 4, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 2)
    val comps = Cluster.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    val sizes = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("__csize"))
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .join(sizes, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"),
        coalesce(col("__csize"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q97: canonical-document election — the policy step after q52's
    * clustering: inside every duplicate cluster, keep the copy from the
    * most-trusted source (here: the lowest numeric source suffix,
    * doc_id as the tie-break) and mark the rest as its duplicates.
    * This is how a pipeline prefers the curated copy of a page over its
    * crawl mirror instead of electing an arbitrary cluster minimum.
    *
    * The election is `min(struct(priority, doc_id))` as a two-phase
    * groupBy + join back, not `first() over` a cluster-keyed window:
    * the window buffers a giant cluster (BASELINE.md's sf1 LSH
    * component) on one task, while the aggregate's map-side partials
    * collapse each task's members to one candidate row before the
    * exchange. Like q52's sizes, the election only aggregates CC's
    * membership frame — a doc outside every component is its own
    * canonical trivially.
    */
  def canonicalDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 4, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 2)
    val comps = Cluster.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    val priority = expr("CAST(substring(source, 4) AS BIGINT)")
    val mem = docs.select(col("doc_id"), col("source"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("component"), col("source"),
        priority.as("priority"))
    val elect = mem.filter(col("component").isNotNull)
      .groupBy(col("component"))
      .agg(min(struct(col("priority"), col("doc_id"))).as("__win"))
      .select(col("component"), col("__win").getField("doc_id")
        .as("__canon"))
    mem.join(elect, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"),
        col("source"), col("priority"),
        coalesce(col("__canon"), col("doc_id")).as("canonical_id"))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .orderBy(col("doc_id"))
  }

  /** q53: train/eval decontamination — the eval split (stand-in: every
    * 97th document) is a small benchmark suite whose distinct word
    * 3-grams broadcast to probe the train side in one scan-side
    * semi-join; any train document sharing a shingle is dropped. See
    * Dedup.decontaminate for the 100 TB shape.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isEval = col("doc_id") % 97 === 0
    Dedup.decontaminate(
        docs.filter(!isEval), docs.filter(isEval), "text", "doc_id", n = 3)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q54: PII scrubbing — redact URLs / emails / phone-like digit runs
    * to typed placeholders, counting each class. The synthetic corpus
    * carries no PII, so the query plants a deterministic contact block
    * per document first and then provably removes it (the oracle
    * recomputes both the planting and the scrub) — the operator is
    * exercised on every row instead of vacuously passing on clean text.
    * Map-only: three codegen'd regex passes on the ingest scan.
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    // coalesce: Spark's concat is null-on-any-null while DuckDB's
    // ignores nulls — pin a null text to '' on BOTH sides so the
    // engines cannot diverge if the corpus ever carries one
    val tainted = concat(coalesce(col("text"), lit("")),
      lit(" contact user"), id,
      lit("@example.com or http://example.com/u/"), id,
      lit(" tel +1 (555) 010-"), lpad(id, 4, "0"))
    val counts = TextFunctions.piiCounts(col("tainted"))
    Tables.documents(s, dir)
      .select(col("doc_id"), tainted.as("tainted"))
      .select(col("doc_id"),
        TextFunctions.scrubPii(col("tainted")).as("clean_text"),
        counts(0).cast("long").as("n_urls"),
        counts(1).cast("long").as("n_emails"),
        counts(2).cast("long").as("n_nums"))
      .orderBy(col("doc_id"))
  }

  /** q55: corpus vocabulary — term and document frequency per token,
    * top 100 by tf with a deterministic tie-break. Map-side partial
    * aggregation collapses the exploded tokens before the shuffle, and
    * the top-k is a TakeOrderedAndProject (per-partition heaps, driver
    * merges 100 rows) — never a global sort of the vocabulary.
    */
  def vocabulary(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(100)

  /** q56: layout compaction audit — rewrite events day-partitioned with
    * exactly one sorted file per day (see [[graft.operators.Layout]]),
    * then certify the layout in-query: per-day row counts / event-id
    * bounds are oracle-checked against the source table, and
    * `single_file` — read off the rewritten table's scan via
    * input_file_name() — is the layout bound the oracle pins as
    * literal TRUE. Collected to a local relation (rows = number of
    * days) so the gate can clean up the temp dir, like q47.
    */
  def compactLayout(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_layout") { out =>
      val table = Layout.compactByDay(Tables.events(s, dir), "ts", "event_id", out)
      val audit = Layout.auditByDay(table, "event_id")
        .select(col("day").cast("string").as("day"), col("n_rows"),
          col("min_event_id"), col("max_event_id"),
          (col("n_files") === 1).as("single_file"))
        .orderBy(col("day"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(audit.collect().toSeq.asJava, audit.schema)
    }

  /** Incremental aggregation (materialized-view maintenance): the events
    * stream arrives as three disjoint deltas; each delta's per-(day, type)
    * partials fold additively into a maintained state table
    * (Merge.foldAdditive), state materialized between folds exactly as a
    * warehouse ingest loop would persist it. The oracle is the ONE-SHOT
    * aggregate over all events — sequential maintenance must be
    * indistinguishable from recomputation. Sums are DECIMAL in the state
    * (summation-order-independent), rendered once at the end.
    */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      to_date(col("ts")).as("day"), col("event_type"),
      col("value"), col("event_id"))
    def deltaAgg(df: DataFrame): DataFrame =
      df.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("decimal(28,2)").as("sum_value"))
    val keys = Seq("day", "event_type")
    val empty = deltaAgg(ev).limit(0)
    val state = (0 until 3).foldLeft(empty) { (st, i) =>
      Merge.foldAdditive(st,
          deltaAgg(ev.filter(pmod(col("event_id"), lit(3)) === i)), keys)
        .localCheckpoint(true)
    }
    state.select(col("day"), col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Z-order (Morton) clustering key over the events stream: user_id ×
    * minute-of-ts interleaved into one 32-bit sort key (see
    * Layout.zOrder2). The gate pins the code itself — bit-exact across
    * engines since it's pure integer shift/mask — and the total z sort;
    * the file-level pruning payoff (a 2-d box predicate touching a
    * fraction of files a 1-d sort must read in full) is asserted in
    * CurationSpec on a controlled grid, since file boundaries aren't
    * SQL-observable.
    */
  def zorderEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val u16 = col("user_id").bitwiseAND(lit(65535L))
    val m16 = expr("unix_timestamp(ts) div 60").bitwiseAND(lit(65535L))
    ev.select(
        col("event_id"), col("user_id"),
        m16.as("minute16"),
        graft.operators.Layout.zOrder2(u16, m16).as("z"))
      .orderBy(col("z"), col("event_id"))
  }

  /** q57: CDC merge — a deterministic change batch (every tenth user's
    * events arrive again an hour later with a doubled value) upserted
    * into the events snapshot, latest version per event_id winning.
    * The full merged table is dumped: updated keys must carry the new
    * row, untouched keys must survive exactly once. See
    * [[graft.operators.Merge]] for the 100 TB shape.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val updates = ev.filter(col("user_id") % 10 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      .withColumn("value", col("value") * 2)
    Merge.upsertLatest(ev, updates, Seq("event_id"), "ts")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** q58: table profile — per-column non-null/null/distinct counts and
    * min/max over orders, in ONE aggregate pass (see
    * [[graft.operators.Profile]]). Numeric min/max ride as BIGINT
    * centi-units (`min_c100`/`max_c100`), string min/max as
    * `min_str`/`max_str` — integers hash identically in every engine,
    * so nothing on the hashed surface depends on decimal rendering.
    * o_totalprice is pre-cast to DECIMAL(18,2) so the ×100 scaling is
    * exact arithmetic.
    */
  def profileOrders(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderpriority")
    val o = Tables.orders(s, dir)
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
    Profile.profile(o, cols).orderBy(col("col_name"))
  }

  /** q59: skew-GATED salted join — [[graft.operators.Skew.adaptiveSaltedJoin]]
    * estimates the key histogram first and salts ONLY when a key is heavy
    * (>8× the mean per-key count). TPC-H lineitem caps at 7 lines per
    * order, so the gate input takes the passthrough (plain-join) plan —
    * paying the 8× replication tax on an unskewed join is exactly the
    * anti-pattern the gate used to hard-code. The oracle is the unsalted
    * join: gated or not, salting must be invisible in the result. The
    * salted path's mechanics (hot-key spray, replica join) are pinned by
    * SkewSpec on a constructed skewed frame. See [[graft.operators.Skew]]
    * for when salting beats AQE's skew-join (shuffled-hash joins, groupBy
    * skew, streaming micro-batches).
    */
  def saltedJoinQty(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    Skew.adaptiveSaltedJoin(li, o, "k", salt = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** q60: skew-salted aggregation — two-phase sum/count of event values
    * split across 8 salted reducers per key, final-merged per key.
    * Values ride as DECIMAL so the partial/final summation is exact and
    * the unsalted oracle matches bit-for-bit at any parallelism.
    */
  def saltedAggValues(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("v", col("value").cast("decimal(27,6)"))
    Skew.saltedSumCount(ev, "event_type", "v", salt = 8)
      .select(col("event_type"),
        col("sum_v").cast("double").as("sum_value"), col("n"))
      .orderBy(col("event_type"))
  }

  /** q61: CDC apply through the versioned upsert sink — three
    * deterministic change batches (snapshot; every 10th user an hour
    * later at 2× value; every 100th user two hours later at 3×)
    * applied sequentially via [[graft.streaming.ParquetUpsertTable]]
    * (version dirs + marker commits + GC all exercised), final table
    * dumped. The oracle replays the same three batches as one
    * latest-wins window — sequential sink application and global
    * merge must agree.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cdc_tbl") { tableDir =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val table = new graft.streaming.ParquetUpsertTable(
        s, tableDir, Seq("event_id"), "ts")
      table.applyBatch(ev, 0)
      table.applyBatch(ev.filter(col("user_id") % 10 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
        .withColumn("value", col("value") * 2), 1)
      table.applyBatch(ev.filter(col("user_id") % 100 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 2 HOUR"))
        .withColumn("value", col("value") * 3), 2)
      table.snapshot().get.orderBy(col("event_id"))
        .localCheckpoint(true)
    }

  /** q62: CDC apply WITH tombstones — batch 1 updates every 10th user
    * (+1h, 2×) and deletes every 7th user's events at ts+2h; batch 2
    * replays a LATE lower-versioned update (+1h, 4×) for every 14th
    * user — already tombstoned at +2h, so it must NOT resurrect — and a
    * higher-versioned one (+3h, 3×) for every 21st user, which beats
    * its tombstone and does. The oracle replays all changes as ONE
    * latest-wins window: persisted tombstones are exactly what makes
    * sequential sink application agree with the global replay (see
    * [[graft.operators.Merge.applyChanges]]).
    */
  def cdcDeletes(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cdc_del") { tableDir =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val table = new graft.streaming.ParquetUpsertTable(
        s, tableDir, Seq("event_id"), "ts")
      table.applyBatch(ev, 0)
      table.applyChanges(
        ev.filter(col("user_id") % 10 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") * 2),
        ev.filter(col("user_id") % 7 === 0)
          .select(col("event_id"),
            (col("ts") + expr("INTERVAL 2 HOUR")).as("ts")),
        1)
      table.applyBatch(
        ev.filter(col("user_id") % 14 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") * 4)
          .unionByName(ev.filter(col("user_id") % 21 === 0)
            .withColumn("ts", col("ts") + expr("INTERVAL 3 HOUR"))
            .withColumn("value", col("value") * 3)),
        2)
      table.snapshot().get.orderBy(col("event_id"))
        .localCheckpoint(true)
    }

  /** q63: partition-scoped CDC — the events snapshot bulk-loaded into a
    * day-partitioned table (day derived from the ORIGINAL ts, so it is
    * key-stable under version bumps), then q62's update/delete/late
    * change set replayed against the LAST day only: batches 1 and 2
    * rewrite exactly one of N day partitions
    * ([[graft.streaming.PartitionedUpsertTable]]), every other
    * partition's files untouched. The oracle replays all changes as one
    * latest-wins window — partition scoping, like salting, must be
    * invisible in the result.
    */
  def cdcPartitioned(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cdc_part") { tableDir =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .withColumn("day", to_date(col("ts")).cast("string"))
      // one value, driver-bounded: the change set targets the newest
      // day (CDC corrections cluster in recent partitions — the very
      // access pattern partition scoping exists for)
      val lastDay = ev.agg(max(col("day"))).first().getString(0)
      val hot = ev.filter(col("day") === lastDay)
      val table = new graft.streaming.PartitionedUpsertTable(
        s, tableDir, Seq("event_id"), "ts", "day")
      table.bootstrap(ev, 0)
      table.applyChanges(
        hot.filter(col("user_id") % 10 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") * 2),
        hot.filter(col("user_id") % 7 === 0)
          .select(col("event_id"),
            (col("ts") + expr("INTERVAL 2 HOUR")).as("ts"), col("day")),
        1)
      table.applyBatch(
        hot.filter(col("user_id") % 14 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") * 4)
          .unionByName(hot.filter(col("user_id") % 21 === 0)
            .withColumn("ts", col("ts") + expr("INTERVAL 3 HOUR"))
            .withColumn("value", col("value") * 3)),
        2)
      table.snapshot().get.orderBy(col("event_id"))
        .localCheckpoint(true)
    }

  /** q64's and q72's planted corpus as three ascending-id epochs: the
    * documents plus a full id-shifted copy, EXACT (q64 — the synthetic
    * corpus carries no exact duplicates, so the plant, q54's
    * plant-and-remove discipline, makes the later epochs genuinely DROP
    * docs against the store) or NEAR, with two tokens appended (q72).
    */
  private def copyEpochs(s: SparkSession, dir: String, near: Boolean): Seq[DataFrame] = {
    val docs0 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val m1 = docs0.agg(max(col("doc_id"))).first().getLong(0) + 1
    val text = if (near) concat(col("text"), lit(" qz17 qz18")) else col("text")
    val docs = docs0.unionByName(
      docs0.select((col("doc_id") + lit(m1)).as("doc_id"), text.as("text")))
    val maxId = 2 * m1 - 1
    val (t1, t2) = (maxId / 3, 2 * maxId / 3)
    Seq(docs.filter(col("doc_id") <= t1),
      docs.filter(col("doc_id") > t1 && col("doc_id") <= t2),
      docs.filter(col("doc_id") > t2))
  }

  /** q67's planted corpus as three batches: the documents, an id-shifted
    * EXACT copy (every band matches — the whole batch must drop against
    * the first's stored keys), and an id-shifted NEAR copy with two
    * tokens appended (bands match iff the appended bigrams don't
    * displace a banded minimum — decided identically by both engines).
    */
  private def copyBatches(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs0 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val m1 = docs0.agg(max(col("doc_id"))).first().getLong(0) + 1
    Seq(docs0,
      docs0.select((col("doc_id") + lit(m1)).as("doc_id"), col("text")),
      docs0.select((col("doc_id") + lit(2 * m1)).as("doc_id"),
        concat(col("text"), lit(" qz17 qz18")).as("text")))
  }

  /** The shared body of the six fingerprint-store dedup gates: `ingest`
    * (epoch, store dir, epoch id) runs the three epochs in id order
    * against one scratch store, which is compacted into a bucketed
    * generation (table prefix `graft_<gate>_store`) after the second;
    * the result is the survivors' union. A `stream` gate replays the
    * second epoch after its commit (at-least-once delivery) and emits
    * the REPLAY's survivors, and its compaction spares the newest
    * segment — the replayable epoch's.
    */
  private def threeEpochDedupGate(
      s: SparkSession, gate: String, epochs: Seq[DataFrame], stream: Boolean)(
      ingest: (DataFrame, String, Long) => DataFrame): DataFrame =
    scratch(s, s"graft_${gate}_gate") { storeDir =>
      def run(i: Int) = ingest(epochs(i), storeDir, i.toLong).localCheckpoint(true)
      val r0 = run(0)
      if (stream) run(1)
      val r1 = run(1)
      Dedup.FingerprintStore.compact(s, storeDir, buckets = 8,
        tablePrefix = s"graft_${gate}_store",
        keepNewestSegments = if (stream) 1 else 0)
      val r2 = run(2)
      r0.unionByName(r1).unionByName(r2).orderBy(col("doc_id"))
        .localCheckpoint(true)
    }

  /** q64: incremental corpus dedup through the persisted
    * [[graft.operators.Dedup.FingerprintStore]], WITH a mid-sequence
    * [[graft.operators.Dedup.FingerprintStore.compact]] — the documents
    * table arrives as three ascending-id batches, each deduped against
    * the accumulated store (segment appends), the store folded into a
    * bucketed generation between batches 2 and 3 (so batch 3's
    * anti-join probes the co-located layout). Ascending-id batch order
    * makes first-occurrence-wins ≡ global min(doc_id) per fingerprint,
    * which is exactly what the oracle's one-window replay computes —
    * the storage layout must be invisible in the result.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame =
    threeEpochDedupGate(s, "q64", copyEpochs(s, dir, near = false), stream = false)(
      (e, store, _) => Dedup.dedupeIncrementalStaged(e, store, "text", "doc_id"))

  /** q74: q64's three-batch incremental ingest driven through the
    * BLOOM-prefiltered store probe
    * ([[graft.operators.Dedup.dedupeIncrementalBloomStaged]]) — same
    * planted corpus, same mid-sequence compaction, same oracle. The
    * bloom is a sound prefilter (a negative proves absence), so the
    * sketch, the probe split, and the shrunken anti-join must be
    * bit-invisible next to the plain path; what changes is the PLAN:
    * only bloom-positive fingerprints enter the join exchange. The
    * codegen'd probe is
    * [[org.apache.spark.sql.graft.BloomMightContain]].
    */
  def bloomDedup(s: SparkSession, dir: String): DataFrame =
    threeEpochDedupGate(s, "q74", copyEpochs(s, dir, near = false), stream = false)(
      (e, store, _) => Dedup.dedupeIncrementalBloomStaged(e, store, "text", "doc_id"))

  /** q66: TF-IDF top-5 terms per document — tokenize once, term
    * frequency per (doc, token), document frequency off the SAME
    * aggregated frame (the df shuffle moves vocabulary-sized data, not
    * corpus-sized), smoothed idf = ln((N+1)/(df+1)) + 1, then a per-doc
    * top-5 window (WindowGroupLimit keeps per-partition heaps, no
    * global sort of the score space). Score rounded 4dp on both
    * engines: ln is transcendental, so a value landing within an ulp
    * of a rounding boundary — the only way the engines could disagree
    * — has vanishing probability.
    */
  def tfidfTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val n = docs.count() // one scalar: corpus size for the idf
    val tf = docs
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "tok")
      .withColumn("tfidf",
        round(col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("tok"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** q65: overlapping document chunking — every doc split into
    * 100-char windows with 20-char overlap (stride 80), the
    * context-window prep of a training/RAG pipeline. Map-only: one
    * scan, a sequence explode, substr arithmetic — no shuffle until
    * the gate's final sort. See
    * [[graft.functions.TextFunctions.chunkStarts]].
    */
  def chunkDocs(s: SparkSession, dir: String): DataFrame = {
    val (chunkLen, overlap) = (100, 20)
    val stride = chunkLen - overlap
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        explode(TextFunctions.chunkStarts(col("text"), chunkLen, overlap))
          .as("start"))
      .select(col("doc_id"),
        expr(s"(start - 1) div $stride").cast("long").as("chunk_idx"),
        substr(col("text"), col("start"), lit(chunkLen)).as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q68: STREAMING corpus dedup on the oracle gate — the documents
    * table (plus q64's planted id-shifted exact copy) ingested as
    * three ascending-id micro-batch epochs through
    * [[graft.operators.Dedup.dedupeStreamStaged]], exercising the
    * whole streaming protocol inside the gated result: epoch 1 is
    * REPLAYED after its commit (at-least-once delivery) and it is the
    * replay's survivors that feed the output — a replay that derived
    * anything but the identical set would hash-diverge; the
    * compaction between epochs 1 and 2 spares the newest segment
    * (`keepNewestSegments = 1`), the contract that keeps the
    * replayable epoch's history intact. Batch ids are the epoch ids a
    * checkpointed foreachBatch would deliver, so the gate is
    * deterministic; the real MemoryStream + checkpoint drive of the
    * same code path is CurationStreamSpec's three-epoch case. Oracle =
    * q64's one-window global min-id-per-fingerprint replay: epochs,
    * segment keying, replay, and compaction must all be invisible.
    */
  def streamingDedup(s: SparkSession, dir: String): DataFrame =
    threeEpochDedupGate(s, "q68", copyEpochs(s, dir, near = false), stream = true)(
      (e, store, id) => Dedup.dedupeStreamStaged(e, store, "text", "doc_id", id))

  /** q72: streaming NEAR-dup dedup on the gate — q68's epoch protocol
    * (three ascending-id epochs, the middle one replayed after commit,
    * a newest-segment-sparing compaction mid-sequence) applied to the
    * MinHash band store (q67's semantics): cross-epoch near-duplicates
    * drop, and the oracle's one-pass band-drop collapse must see none of
    * the machinery. Corpus = documents ∪ suffixed near-dup copies.
    */
  def streamingNearDedup(s: SparkSession, dir: String): DataFrame =
    threeEpochDedupGate(s, "q72", copyEpochs(s, dir, near = true), stream = true)(
      (e, store, id) => Dedup.dedupeNearStreamStaged(e, store, "text", "doc_id", id))

  /** q67: incremental NEAR-dup dedup through the persisted MinHash
    * band store (see
    * [[graft.operators.Dedup.dedupeNearIncrementalStaged]]) — three
    * ascending-id ingest batches with a mid-sequence bucketed
    * compaction, exactly q64's protocol, but matching on LSH band keys
    * instead of exact fingerprints. The corpus is the documents table
    * plus TWO planted full copies (q54's plant-and-remove discipline,
    * `copyBatches`): an id-shifted EXACT copy and an id-shifted NEAR
    * copy. Ascending ids make the sequential greedy policy equal ONE
    * global "drop b when a smaller-id a shares a band" pass, which is
    * the oracle's window; segments, the compaction, and owner-aware
    * replay matching must all be invisible in the result.
    */
  def incrementalNearDedup(s: SparkSession, dir: String): DataFrame =
    threeEpochDedupGate(s, "q67", copyBatches(s, dir), stream = false)(
      (b, store, _) => Dedup.dedupeNearIncrementalStaged(b, store, "text", "doc_id"))

  /** q76: q67's three-batch NEAR-dup ingest driven through the
    * BLOOM-prefiltered band-store probe
    * ([[graft.operators.Dedup.dedupeNearIncrementalBloomStaged]]) —
    * same planted corpus, same mid-sequence compaction, same oracle as
    * q67 (the sketch must be bit-invisible; q74's pairing applied to
    * the near-dup store, where the probe is bands× wider and the
    * prefilter correspondingly more valuable).
    */
  def bloomNearDedup(s: SparkSession, dir: String): DataFrame =
    threeEpochDedupGate(s, "q76", copyBatches(s, dir), stream = false)(
      (b, store, _) => Dedup.dedupeNearIncrementalBloomStaged(b, store, "text", "doc_id"))

  /** q77: INCREMENTAL train/eval decontamination — q53's eval split
    * registered into the persisted
    * [[graft.operators.Dedup.EvalGramStore]] as TWO suites (benchmarks
    * arrive over time), then the train side decontaminated against the
    * accumulated store in one broadcast probe. Sequential registration
    * must equal one global decontamination against the suites' union →
    * q53's oracle verbatim.
    */
  def incrementalDecontaminate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_eval_gate") { storeDir =>
      val docs = Tables.documents(s, dir)
      val isEval = col("doc_id") % 97 === 0
      val mid = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
      Dedup.EvalGramStore.registerEval(
        docs.filter(isEval && col("doc_id") <= mid), storeDir, "text", n = 3)
      Dedup.EvalGramStore.registerEval(
        docs.filter(isEval && col("doc_id") > mid), storeDir, "text", n = 3)
      Dedup.decontaminateIncrementalStaged(
          docs.filter(!isEval), storeDir, "text", "doc_id", n = 3)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    }

  /** q78: inverted-index phrase search — three data-derived bigram
    * phrases (tokens 2–3 of docs 3, 7, 11) probed against the postings
    * index: candidates = docs holding ALL phrase tokens (index-only,
    * the corpus is not scanned), then an exact token-boundary
    * padded-substring verify on candidates alone. At sf0.01 the verify
    * rejects ~90% of candidates (~315 token-cooccurrences vs ~30 true
    * adjacent matches per phrase) — both stages carry real weight. The
    * oracle is the full-corpus substring scan the index exists to
    * avoid — results must match it exactly. See
    * [[graft.operators.Retrieval]].
    */
  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // tf frame only: phrase search never reads dl, so skip postings'
    // doc-length window (one whole shuffle less in the build)
    val post = Retrieval.termFrequencies(docs, "text", "doc_id")
    val phrases = docs.filter(col("doc_id").isin(3L, 7L, 11L))
      .select(col("doc_id").as("phrase_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 2, 2), " ").as("phrase"))
    Retrieval.phraseSearch(post, docs, "text", "doc_id", phrases)
      .orderBy(col("phrase_id"), col("doc_id"))
  }

  /** q79: Okapi BM25 top-5 retrieval — five queries (first 8 tokens of
    * docs 0–4) scored against the whole corpus through the denormalized
    * postings index: the probe is a broadcast of (query tok, idf)
    * against ONE postings scan, then a single matched-postings-sized
    * shuffle for the per-(query, doc) sum and a WindowGroupLimit top-5.
    * Scores rounded 4 dp before ranking (q66's transcendental-rounding
    * argument); constant forms (`k1 + 1`, `1 - b`) are written
    * identically on both engines so literal folding cannot diverge.
    */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // postings feed the df table, the stats row, and the probe → one
    // materialization (skinny: vocab × docs rows of 4 columns)
    val post = Retrieval.postings(docs, "text", "doc_id").localCheckpoint(true)
    val dls = post.select(col("doc_id"), col("dl")).distinct()
    val stat = dls.agg(count(lit(1)).as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl")).first()
    val (n, avgdl) = (stat.getLong(0), stat.getDouble(1))
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, 8), " ").as("qtext"))
    Retrieval.bm25TopK(post, Retrieval.docFrequencies(post), queries,
        n, avgdl, k = 5)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** q80: q79's BM25 retrieval served from an INCREMENTALLY built
    * postings index — the corpus ingested as two disjoint batches, each
    * appending its postings as an immutable segment
    * ([[graft.operators.Retrieval.appendPostings]]); tf/dl are per-doc
    * intrinsic and df is additive across disjoint segments, so the
    * loaded index must score identically to the one-shot build →
    * q79's oracle verbatim. A new corpus batch costs one batch-sized
    * postings build, never a re-index.
    */
  def incrementalBm25(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_post_gate") { idxDir =>
      val docs = Tables.documents(s, dir)
      val mid = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
      Retrieval.appendPostings(docs.filter(col("doc_id") <= mid), idxDir, "text", "doc_id")
      Retrieval.appendPostings(docs.filter(col("doc_id") > mid), idxDir, "text", "doc_id")
      val post = Retrieval.loadPostings(s, idxDir)
      val dls = post.select(col("doc_id"), col("dl")).distinct()
      val stat = dls.agg(count(lit(1)).as("n"),
        (sum(col("dl")) / count(lit(1))).as("avgdl")).first()
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextFunctions.tokens(col("text")), 1, 8), " ").as("qtext"))
      Retrieval.bm25TopK(post, Retrieval.docFrequencies(post), queries,
          stat.getLong(0), stat.getDouble(1), k = 5)
        .select(col("query_id"), col("rk").cast("long").as("rk"),
          col("doc_id"), col("score"))
        .orderBy(col("query_id"), col("rk"))
        .localCheckpoint(true)
    }

  /** q81: change-data-feed between two table versions —
    * [[graft.operators.Merge.diffSnapshots]] over `snapshotAt(0)` vs
    * the final state of an upsert table that took q62's update/delete
    * batch plus a fresh-key insert batch: one full-outer key join
    * classifies every changed key insert/update/delete with
    * before/after values, answering "what did those batches do"
    * WITHOUT replaying them. The oracle recomputes both states from
    * the change definitions (q62's window form) and joins them.
    */
  def cdcDiff(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cdc_diff") { tableDir =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val maxId = ev.agg(max(col("event_id"))).first().getLong(0)
      val table = new graft.streaming.ParquetUpsertTable(
        s, tableDir, Seq("event_id"), "ts", keepVersions = 3)
      table.applyBatch(ev, 0)
      table.applyChanges(
        ev.filter(col("user_id") % 10 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") * 2),
        ev.filter(col("user_id") % 7 === 0)
          .select(col("event_id"),
            (col("ts") + expr("INTERVAL 2 HOUR")).as("ts")),
        1)
      table.applyBatch(
        ev.filter(col("user_id") % 5 === 0)
          .withColumn("event_id", col("event_id") + lit(maxId + 1))
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") * 10),
        2)
      Merge.diffSnapshots(
          table.snapshotAt(0).get, table.snapshot().get, Seq("event_id"))
        .select(col("event_id"), col("change_type"),
          col("ts_before"), col("ts_after"),
          col("value_before"), col("value_after"))
        .orderBy(col("event_id"))
        .localCheckpoint(true)
    }

  /** q82: incremental statistics maintenance — q58's profile surface
    * (minus the one non-mergeable stat, the distinct count) maintained
    * by profiling the orders table as THREE key-ranged ingest batches
    * and folding the per-batch partials
    * ([[graft.operators.Profile.mergeProfiles]]): counts sum, bounds
    * min/max, the fold is a |cols|-row aggregation. The folded state
    * must equal the one-shot profile of the whole table — the
    * incremental-ANALYZE contract a 100 TB table needs (per-ingest
    * batch-sized scans, never a table re-profile).
    */
  def incrementalProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderpriority")
    val o = Tables.orders(s, dir)
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
    val maxKey = o.agg(max(col("o_orderkey"))).first().getLong(0)
    val (t1, t2) = (maxKey / 3, 2 * maxKey / 3)
    val parts = Seq(
      o.filter(col("o_orderkey") <= t1),
      o.filter(col("o_orderkey") > t1 && col("o_orderkey") <= t2),
      o.filter(col("o_orderkey") > t2)
    ).map(b => Profile.partialProfile(b, cols))
    Profile.mergeProfiles(parts).orderBy(col("col_name"))
  }

  /** q83: curation funnel — the observability view a corpus build runs
    * after every curation pass: each document attributed to the stage
    * that dropped it (`low_quality` by q41's gate, `duplicate` by the
    * min-id-per-fingerprint rule among quality passers, else `kept`),
    * rolled up per source with document AND token counts — "how many
    * tokens did each stage cost, from which sources". One corpus scan
    * for the signals; the dedup election among PASSERS (the dedup
    * stage never sees already-rejected docs) is a two-phase
    * `groupBy(fp).agg(min(doc_id))` + join-back, NOT a fp-keyed
    * ordered window: at crawl scale a mega-duplicate fingerprint (an
    * empty page, a standard 404 body — 10⁶–10⁸ copies) would land its
    * whole group in one sorted window buffer, while the aggregate's
    * map-side partials collapse each task's copies to one candidate
    * row before the exchange (q52/q97's `__csize` discipline); one
    * rollup-sized aggregation closes it.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val norm = TextFunctions.normalized(col("text"))
    val nTokens = TextFunctions.tokenCount(col("text"))
    val meanTokLen = length(translate(norm, " ", "")).cast("double") / nTokens
    val symbolRatio =
      (length(norm) - length(regexp_replace(norm, "[^a-z0-9 ]", ""))).cast("double") /
        greatest(length(norm), lit(1))
    val stopRatio = TextFunctions.tokenRatio(col("text"),
      Seq("the", "a", "of", "and", "to", "in", "is"))
    // the synthetic corpus carries no exact duplicates — plant a full
    // id-shifted copy (q64's plant-and-remove discipline) so the
    // funnel's dedup stage genuinely attributes docs, instead of
    // passing vacuously on a dup-free corpus
    val docs0 = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val maxId = docs0.agg(max(col("doc_id"))).first().getLong(0)
    val planted = docs0.unionByName(docs0.select(
      (col("doc_id") + lit(maxId + 1)).as("doc_id"), col("source"), col("text")))
    // materialize the signal scan ONCE: it feeds both the passer
    // window and the final attribution join, and the quality signals
    // (regex + list-lambda per row) are the dominant per-row cost —
    // the frame itself is skinny (5 scalar columns)
    val flagged = planted
      .select(col("doc_id"), col("source"),
        nTokens.cast("long").as("n_tokens"),
        (nTokens >= 20 && meanTokLen.between(3.0, 6.0) &&
          symbolRatio <= 0.03 && stopRatio >= 0.05).as("passes"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .localCheckpoint(true)
    val keepers = flagged.filter(col("passes"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("__keep_id"))
    flagged
      .join(keepers, Seq("fp"), "left")
      .withColumn("__dup", col("passes") && col("doc_id") =!= col("__keep_id"))
      .withColumn("fate",
        when(!col("passes"), lit("low_quality"))
          .when(col("__dup"), lit("duplicate"))
          .otherwise(lit("kept")))
      .groupBy(col("source"), col("fate"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source"), col("fate"))
  }

  /** q84: ExactSubstr duplicated-span profile — every 8-token span that
    * occurs more than once anywhere in the corpus, merged per doc into
    * maximal islands (see [[graft.operators.Dedup.dupSpanProfile]] for
    * the dataflow and the 100 TB skew note). Non-vacuous on the synthetic
    * corpus: its planted near-duplicate documents share long token runs,
    * so ~9% of docs carry genuine duplicated spans (most near-fully
    * covered — exactly the boilerplate shape ExactSubstr exists to catch).
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .dupSpanProfile(Tables.documents(s, dir), "text", "doc_id", k = 8)
      .orderBy(col("doc_id"))

  /** q85: BPE merge-candidate statistics — the inner loop of tokenizer
    * TRAINING (Sennrich et al. 2016): count adjacent character pairs,
    * weighted by word frequency, and rank the top merge candidates.
    * The scale trick is the same one every BPE trainer uses: aggregate
    * the corpus to its VOCABULARY first (the only corpus-sized shuffle,
    * with map-side partial agg), then explode character pairs over the
    * vocab — pair counting costs O(|vocab| × word_len), independent of
    * corpus size, so 100 TB of text prices the same as its ~10M-word
    * vocabulary. Top-20 via TakeOrderedAndProject (q55 discipline — no
    * global sort of the pair space).
    */
  def bpeMergeStats(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      // guard length >= 2: Spark's sequence(1, 0) is DESCENDING [1, 0],
      // not empty, so 1-char words must not reach the explode
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"), col("freq"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(20)
  }

  /** q90: iterated BPE merge training — eight rounds of the q85 inner
    * loop actually APPLIED: count pairs, fuse the winner everywhere,
    * recount (Sennrich et al. 2016). Corpus → vocabulary is the only
    * corpus-sized shuffle; every round after that is vocab-only (see
    * [[graft.operators.Bpe.trainMerges]] for the wrapped-symbol string
    * encoding that makes merge application one `replace` per round in
    * both engines). The oracle replays the identical eight rounds as a
    * chained-CTE unroll over the same word-frequency table.
    *
    * Training runs VOCABULARY-RESIDENT
    * ([[graft.operators.Bpe.trainMergesLocal]], output-identical to the
    * distributed loop — property-asserted): the corpus pays the one
    * word-frequency shuffle, the merge loop is local heap work — the
    * shape that survives a 32k-merge production vocabulary, where
    * one-cluster-job-per-round would mean 32k sequential jobs.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    graft.operators.Bpe.trainMergesLocal(vocab, "w", "freq", rounds = 8)
      .orderBy(col("round"))
  }

  /** q93: BPE ENCODE — the q90 merge table actually applied: retrain
    * the eight merges, then one map pass over the corpus encodes every
    * document's words and counts the resulting symbols. The whitespace
    * count rides along, so the output is the compression-per-word
    * profile a tokenizer change ships with.
    *
    * Encoding runs through the PRODUCTION-scale path
    * ([[graft.operators.Bpe.encodeCountsScalable]]: broadcast rank
    * table + per-word linked-list encoder, per-row cost independent of
    * merge-table size) — output-identical to the replace-chain
    * [[graft.operators.Bpe.encodeCounts]] on trained tables
    * (spec-asserted), which is what the oracle replays in SQL.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val merges = graft.operators.Bpe
      .trainMergesLocal(vocab, "w", "freq", rounds = 8)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe
      .encodeCountsScalable(Tables.documents(s, dir), "text", "doc_id", merges)
      .orderBy(col("doc_id"))
  }

  /** q91: CONVERGED spherical k-means on the gate — three full Lloyd
    * iterations from the q86 literal seeds via
    * [[graft.operators.Similarity.kmeansTrain]] (driver holds only the
    * ≤ k × dim centroids between rounds), then one more assignment pass
    * with the trained centers for the cluster sizes. Output pins the
    * starved-cell policy explicitly: a cell that emptied keeps its seed
    * centroid and reports n_vecs = 0. The oracle replays the identical
    * three iterations as a chained-CTE unroll (centroid lists rebuilt
    * from the previous round's table, carried forward for starved
    * cells), so segment-free convergence is cross-engine-checked, not
    * just self-consistent. Same −0.0 normalization as q86 on every
    * mean.
    */
  def kmeansTrainGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val seeds = (0 until 8).map(j =>
      Seq.tabulate(64)(i => if (i == j * 8) 1.0 else 0.0))
    val emb = Tables.embeddings(s, dir)
    val centers = Similarity.kmeansTrain(emb, "embedding", "vec_id", seeds,
      iters = 3)
    import s.implicits._
    val centersDf = centers.zipWithIndex.flatMap { case (ctr, j) =>
      ctr.zipWithIndex.map { case (x, d) => (j.toLong, (d + 1).toLong, x) }
    }.toDF("cell", "dim", "c")
    val counts = Similarity.lloydStep(emb, "embedding", "vec_id", centers)
      .select(col("cell"), col("n_vecs")).distinct()
    centersDf.join(counts, Seq("cell"), "left")
      .select(col("cell"), col("dim"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"), col("c"))
      .orderBy(col("cell"), col("dim"))
  }

  /** q86: one distributed Lloyd iteration of spherical k-means over the
    * embedding corpus — 8 axis-unit seed centroids (e_1, e_9, …, e_57:
    * data-independent geometry, the q70 oracle discipline), cosine
    * argmax assignment, then exact per-(cell, dim) mean update. See
    * [[graft.operators.Similarity.lloydStep]] for the 100 TB shape
    * (map-side assignment; the update shuffle is ≤ cells × dim rows).
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val seeds = (0 until 8).map(j =>
      Seq.tabulate(64)(i => if (i == j * 8) 1.0 else 0.0))
    graft.operators.Similarity
      .lloydStep(Tables.embeddings(s, dir), "embedding", "vec_id", seeds)
      .orderBy(col("cell"), col("dim"))
  }

  /** Shared per-doc quality signal for the q95/q96 curation gates: the
    * q87 hashed-feature logit as an EXACT integer (zn) plus its
    * pre-sigmoid double `quality` — one division + one subtraction from
    * exact integers, so both engines order docs identically; NULL for
    * empty docs (they rank last and never survive a gate).
    */
  private def qualitySignal(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w10 = pmod(pmod(TextFunctions.stableHash60(col("tok")), lit(32)) * 37,
      lit(21)) - 10
    val agg = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), w10.as("w10"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w10")).as("zn"))
    docs.select(col("doc_id"), col("source"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("zn"))
      .withColumn("quality", when(col("n_tokens") > 0,
        col("zn").cast("double") / (lit(10.0) * col("n_tokens")) - 0.2))
  }

  /** q95: per-source quality-percentile gate — "keep the best 60% of
    * every source", the FineWeb/CCNet-style per-domain filter that a
    * global threshold cannot express (a weak source would survive
    * whole, a strong one be decimated). Docs rank within their source
    * by the exact-integer quality logit (ties to the smaller doc_id);
    * the cut is the INTEGER comparison rank·10 ≤ n·6 — no float
    * epsilon can move it. One source-keyed shuffle; everything else is
    * window math inside it.
    */
  def qualityPercentileGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = qualitySignal(s, dir)
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc_nulls_last, col("doc_id").asc)
    val wSrc = Window.partitionBy(col("source"))
    // the EMITTED 6-dp quality is rounded in exact integer space:
    // quality = (zn − 2n)/(10n) is a ratio of exact integers, so its
    // 6-dp form is one integer division with half-away-from-zero —
    // `round(double, 6)` instead diverged across engines on a value
    // that landed exactly on the half boundary (-0.5046875 at sf1:
    // Spark's BigDecimal HALF_UP on the binary double said …88,
    // DuckDB said …87). Integer arithmetic cannot disagree.
    val qe6 = expr("""CASE WHEN n_tokens > 0 THEN
        CASE WHEN zn - 2 * n_tokens >= 0
          THEN ((zn - 2 * n_tokens) * 200000 + n_tokens) DIV (2 * n_tokens)
          ELSE -(((2 * n_tokens - zn) * 200000 + n_tokens) DIV (2 * n_tokens))
        END END""")
    sig
      .withColumn("src_rank", row_number().over(wRank).cast("long"))
      .withColumn("src_n", count(lit(1)).over(wSrc))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (qe6.cast("double") / 1000000.0).as("quality"),
        col("src_rank"), col("src_n"),
        (col("src_rank") * 10 <= col("src_n") * 6).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** q96: token-budget mixture sampling — fill each source's share of a
    * training mix best-first until 40% of its tokens are spent: docs
    * ordered by the q95 quality key, running token total ≤ 40% of the
    * source total (again an integer comparison, cum·10 ≤ total·4).
    * This is the data-mixing primitive behind "N billion tokens from
    * each domain, best first". Same one source-keyed shuffle as q95.
    */
  def tokenBudgetMixture(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = qualitySignal(s, dir)
    val wCum = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc_nulls_last, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy(col("source"))
    sig
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
      .withColumn("src_tokens", sum(col("n_tokens")).over(wSrc))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("src_tokens"),
        (col("cum_tokens") * 10 <= col("src_tokens") * 4).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** q87: MODEL-based quality filtering — the CCNet/fastText-shaped
    * linear classifier over hashed bag-of-words features that sits next
    * to heuristic filters (q41) in every corpus pipeline. The weights
    * here are a deterministic stand-in (bucket b → ((b·37) mod 21 − 10)
    * / 10, a fixed formula both engines evaluate identically) — the
    * POINT is the serving plumbing, which is exactly what a learned
    * model needs: the feature-hashing trick (md5-stable token → one of
    * 32 buckets, so the feature space is fixed-width no matter the
    * vocabulary), an EXACT integer logit numerator (each token
    * contributes its bucket's ×10 integer weight; summing longs is
    * order-independent, so the score is bit-stable across engines and
    * re-runs — no decimal machinery needed), and one double division +
    * sigmoid at the end. `keep` thresholds on the PRE-sigmoid logit
    * (z ≥ 0 ⇔ score ≥ 0.5) so the gate never depends on libm's exp.
    * Map-side partial agg collapses the token explode per partition;
    * one doc-keyed shuffle total.
    */
  def qualityModel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w10 = pmod(pmod(TextFunctions.stableHash60(col("tok")), lit(32)) * 37,
      lit(21)) - 10
    val agg = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), w10.as("w10"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w10")).as("zn"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("zn"))
      .withColumn("z", when(col("n_tokens") > 0,
        col("zn").cast("double") / (lit(10.0) * col("n_tokens")) - 0.2))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("score"),
        coalesce(col("z") >= 0.0, lit(false)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q88: ExactSubstr removal — q84's profile actually APPLIED: every
    * token covered by a duplicated 8-span stripped, survivors re-joined
    * into the cleaned corpus (see
    * [[graft.operators.Dedup.stripDupSpans]]; both occurrences go —
    * the deterministic, coordination-free distributed policy).
    */
  def stripSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .stripDupSpans(Tables.documents(s, dir), "text", "doc_id", k = 8)
      .orderBy(col("doc_id"))

  /** q89: incremental ExactSubstr through the persisted gram store —
    * three ingest batches (the corpus, an exact re-ingest, a
    * suffix-mutated re-ingest) profiled sequentially with a
    * mid-sequence bucketed compaction; a span is duplicated when it
    * occurred in ANY prior batch or twice in its own. The oracle
    * replays the sequence as one windowed pass (`min(batch) OVER gram
    * < batch OR within-batch count ≥ 2`) — segments, the compaction,
    * and owner bookkeeping must be invisible. See
    * [[graft.operators.Dedup.dupSpansIncrementalStaged]].
    */
  def incrementalDupSpans(s: SparkSession, dir: String): DataFrame =
    threeBatchGramStoreGate(s, dir, "graft_q89_store")(
      Dedup.dupSpansIncrementalStaged(_, _, "text", "doc_id", k = 8))

  /** q92: incremental ExactSubstr REMOVAL through the persisted gram
    * store — the q88 rewrite driven by the q89 ingest loop, on the same
    * three-batch sequence. Batch 0 against the empty store is EXACTLY
    * the one-shot q88; the exact replay strips every token (all grams
    * already stored); the suffix-mutated batch keeps only the tokens no
    * stored or repeated gram covers. See
    * [[graft.operators.Dedup.stripDupSpansIncrementalStaged]].
    */
  def incrementalStripSpans(s: SparkSession, dir: String): DataFrame =
    threeBatchGramStoreGate(s, dir, "graft_q92_store")(
      Dedup.stripDupSpansIncrementalStaged(_, _, "text", "doc_id", k = 8))

  /** Shared harness of the FUSED-backfill ExactSubstr gates (q131/q132):
    * q89/q92's exact three-batch corpus, but ingested as ONE backlog
    * call ([[graft.operators.Dedup.dupSpansBackfillStaged]]) instead of
    * three sequential ingests — one tokenize+window corpus pass, one
    * occurrence checkpoint, segments still committed one-per-batch.
    * Because the fused path's semantics are proven identical to the
    * sequential fold (BackfillSpanSpec, store-state included), the
    * oracles are q89/q92's VERBATIM — and the driver board now carries
    * a direct sequential-vs-fused cost comparison on the same corpus.
    */
  private def backlogGramStoreGate(
      s: SparkSession,
      dir: String)(
      run: (DataFrame, String) => DataFrame): DataFrame =
    scratch(s, "graft_backlog_gate") { storeDir =>
      val backlog = copyBatches(s, dir).zipWithIndex
        .map { case (b, i) => b.withColumn("b", lit(i.toLong)) }
        .reduce(_ unionByName _)
      run(backlog, storeDir).orderBy(col("doc_id")).localCheckpoint(true)
    }

  /** q131: q89's ingest backlog run through the fused one-pass backfill
    * — same output, same oracle, a third of the corpus passes.
    */
  def backfillDupSpans(s: SparkSession, dir: String): DataFrame =
    backlogGramStoreGate(s, dir)(
      Dedup.dupSpansBackfillStaged(_, "b", _, "text", "doc_id", k = 8))

  /** q132: q92's strip backlog through the fused backfill — same
    * output, same oracle.
    */
  def backfillStripSpans(s: SparkSession, dir: String): DataFrame =
    backlogGramStoreGate(s, dir)(
      Dedup.stripDupSpansBackfillStaged(_, "b", _, "text", "doc_id", k = 8))

  /** q98: sketch-then-verify heavy hitters — every token holding more
    * than 1/30 of the corpus token mass, exact counts. A Misra–Gries
    * sketch (native typed-imperative aggregate, 64 counters) nominates
    * candidates without ever shuffling the vocabulary; an exact recount
    * of the ≤ 64 candidates verifies, so sketch internals cannot reach
    * the gate. See [[graft.operators.HeavyHitters]].
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters
      .tokenHeavyHitters(Tables.documents(s, dir), "text", phi = 30, k = 64)

  /** q99: reference-LM bigram-coverage quality gate — the integerized
    * CCNet/KenLM shape: a bounded reference model (top-400 bigrams by
    * occurrence count over the TRUSTED sources, suffix < 5 as in q97's
    * trust order) scores every doc by the fraction of its bigram
    * occurrences the model covers; keep at >= 50% via the pure-integer
    * comparison `covered * 2 >= n_bigrams` so no float epsilon moves
    * the boundary. Scale shape: the model is a TakeOrderedAndProject
    * over the (vocabulary²-bounded) trusted bigram counts, broadcast to
    * a map-side probe of the corpus bigram stream; the only corpus-sized
    * shuffle is the final doc-keyed count.
    */
  def lmCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bg = docs.select(col("doc_id"), col("source"),
      explode(TextFunctions.wordNgrams(col("text"), 2)).as("bg"))
    val lm = bg
      .filter(substring(col("source"), 4, 10).cast("long") < 5)
      .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bg")).limit(400)
      .select(col("bg"), lit(1L).as("hit"))
    val scored = bg
      .join(broadcast(lm), Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0L))).as("covered"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_bigrams") > 0,
          expr("(covered * 1000) div n_bigrams")).as("coverage_pm"),
        coalesce(col("covered") * 2 >= col("n_bigrams"), lit(false))
          .as("keep"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .orderBy(col("doc_id"))
  }

  /** q100: semantic decontamination — the embedding-space sibling of
    * q53: the eval suite (vec_id % 19 == 3, ~5% of the table) is
    * collected into one broadcast array row and every corpus vector is
    * scored map-only against it (max cosine + hit count at tau = 0.35,
    * 6-dp-rounded pre-threshold). See
    * [[graft.operators.Dedup.semanticDecontaminate]].
    */
  def semanticDecon(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Dedup.semanticDecontaminate(
      emb.filter(pmod(col("vec_id"), lit(19)) =!= 3),
      emb.filter(pmod(col("vec_id"), lit(19)) === 3),
      "vec_id", "embedding", tau = 0.35)
      .orderBy(col("vec_id"))
  }

  /** q101: BM25 over an index with DELETES — q80's two appended segment
    * batches, then every `doc_id % 7 == 0` tombstoned
    * ([[graft.operators.Retrieval.appendTombstones]]); scoring runs over
    * the live postings with N/avgdl/df recomputed from the live view.
    * The oracle builds BM25 one-shot over the SURVIVING docs only —
    * tombstone segments and the subtraction must be invisible. Queries
    * still come from the full corpus (a deleted doc's text remains a
    * perfectly good query; it just can no longer be a RESULT).
    */
  def bm25WithDeletes(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_post_del") { idxDir =>
      val docs = Tables.documents(s, dir)
      val mid = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
      Retrieval.appendPostings(docs.filter(col("doc_id") <= mid), idxDir, "text", "doc_id")
      Retrieval.appendPostings(docs.filter(col("doc_id") > mid), idxDir, "text", "doc_id")
      Retrieval.appendTombstones(
        docs.filter(pmod(col("doc_id"), lit(7)) === 0).select(col("doc_id")),
        "doc_id", idxDir)
      // three consumers (doc-length stats, df, the scoring join) each
      // re-run the tombstone broadcast + anti-join — measured CHEAPER
      // than one eager localCheckpoint of the live view (6.3 vs 7.9 s
      // at sf0.1: the subtraction is a broadcast filter over a pinned
      // parquet scan; materializing it trades three cheap scans for a
      // block-manager write of the whole postings frame)
      val post = Retrieval.loadLivePostings(s, idxDir)
      val dls = post.select(col("doc_id"), col("dl")).distinct()
      val stat = dls.agg(count(lit(1)).as("n"),
        (sum(col("dl")) / count(lit(1))).as("avgdl")).first()
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextFunctions.tokens(col("text")), 1, 8), " ").as("qtext"))
      Retrieval.bm25TopK(post, Retrieval.docFrequencies(post), queries,
          stat.getLong(0), stat.getDouble(1), k = 5)
        .select(col("query_id"), col("rk").cast("long").as("rk"),
          col("doc_id"), col("score"))
        .orderBy(col("query_id"), col("rk"))
        .localCheckpoint(true)
    }

  /** q102: streaming token-budget admission — three sequential ingest
    * batches (doc_id thirds) through the persisted per-source meter
    * ([[graft.streaming.BudgetStream.admitStaged]], budget 800 tokens
    * per source), with batch 1 REPLAYED mid-sequence to prove the
    * batch-id-keyed meter segments make recomputation idempotent, and a
    * [[graft.streaming.BudgetStream.compact]] after the replay folding
    * segment 0 into a per-source generation — batch 2's meter then
    * reads gen + segment 1, so a fold that lost or double-counted a
    * source breaks the hash. The oracle replays the whole sequence as
    * one source-keyed window pass in (doc_id) order — segments, the
    * replay, the meter store, and the fold must all be invisible.
    */
  def streamingTokenBudget(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_budget_gate") { stateDir =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      // admitStaged returns an EAGER frame since the r18 one-execution
      // fold (it materializes the decision frame to derive the meter),
      // so no per-run localCheckpoint is needed here anymore
      def run(pred: Column, id: Long) = graft.streaming.BudgetStream
        .admitStaged(docs.filter(pred), stateDir, "text", "doc_id",
          budget = 800L, batchId = id)
      val r0 = run(col("doc_id") <= t1, 0L)
      run(col("doc_id") > t1 && col("doc_id") <= t2, 1L)
      val r1 = run(col("doc_id") > t1 && col("doc_id") <= t2, 1L)
      graft.streaming.BudgetStream.compact(s, stateDir,
        keepNewestSegments = 1)
      val r2 = run(col("doc_id") > t2, 2L)
      r0.unionByName(r1).unionByName(r2).orderBy(col("doc_id"))
        .localCheckpoint(true)
    }

  /** q103: exact-count stratified sample — the 12 smallest-hash docs of
    * every source ([[graft.operators.Sampling.stratifiedTopK]]): the
    * deterministic per-group reservoir. The `row_number <= k` window
    * runs as a WindowGroupLimit (map-side per-group truncation before
    * the exchange — spec-asserted), so the shuffle never carries a
    * whole group.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .stratifiedTopK(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), k = 12)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("source"), col("rk"))

  /** q104: curriculum interleave — the global training order a
    * quality-first, source-balanced curriculum reads the corpus in:
    * round r takes each source's r-th best doc (q87's exact-integer
    * logit, ties by doc_id), sources in name order; exhausted sources
    * drop out. The novelty is HOW `global_pos` is produced: NOT a
    * global sort — it is arithmetic. With per-source doc counts as one
    * broadcast array row, a doc at (source s, in-source rank o) sits at
    * `Σ_s' min(cnt_s', o-1)` (everything emitted in earlier rounds)
    * `+ |{s' < s : cnt_s' >= o}|` (earlier sources in its own round)
    * `+ 1` — a map-side fold over ≤ |sources| elements, so the engine
    * computes a TOTAL order over the corpus with per-source windows as
    * the only shuffle. (The gate's final ORDER BY is just the dump
    * determinism every gate row carries.)
    */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w10 = pmod(pmod(TextFunctions.stableHash60(col("tok")), lit(32)) * 37,
      lit(21)) - 10
    val zn = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), w10.as("w10"))
      .groupBy(col("doc_id")).agg(sum(col("w10")).as("zn"))
    val ranked = docs.select(col("doc_id"), col("source"))
      .join(zn, Seq("doc_id"), "left")
      .withColumn("zn", coalesce(col("zn"), lit(0L)))
      .withColumn("ord", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("zn").desc, col("doc_id"))).cast("long"))
    val cntRow = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("c"))
      .agg(collect_list(struct(col("source").as("s"), col("c"))).as("cs"))
    ranked.crossJoin(broadcast(cntRow))
      .select(col("doc_id"), col("source"), col("ord"),
        (aggregate(col("cs"), lit(0L), (a, e) =>
          a + least(e.getField("c"), col("ord") - 1) +
            when(e.getField("s") < col("source") &&
              e.getField("c") >= col("ord"), 1L).otherwise(0L))
          + 1L).as("global_pos"))
      .orderBy(col("global_pos"))
  }

  /** q105: mixture REWEIGHTING — the DoReMi/data-mixing shape: target
    * source weights (trusted suffix<5 sources weigh 3, others 1) are
    * turned into per-source deterministic sampling rates sized so the
    * expected kept corpus is 30% of N distributed by weight, capped at
    * keep-everything; each doc then passes the [[graft.operators.Sampling]]
    * hash predicate at its source's rate. Rates are pure integer
    * arithmetic (ppm; `least(1e6, (300000·N·w) div (30·n_s))`) so no
    * float epsilon moves a rate, and membership is the stable-hash
    * bucket — reproducible across runs, engines, and partitionings.
    * Scale shape: stats are one |sources|-row aggregate broadcast back;
    * the keep predicate is a map-side scan filter.
    */
  def mixtureReweight(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w = when(substring(col("source"), 4, 10).cast("long") < 5, lit(3L))
      .otherwise(lit(1L))
    val cnts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val total = cnts.agg(sum(col("n"))).first().getLong(0)
    val rated = cnts.select(col("source"), w.as("w"), col("n"))
      .select(col("source"),
        least(lit(1000000L),
          expr(s"(300000L * ${total}L * w) div (30L * n)")).as("rate_pm"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rated), Seq("source"))
      .filter(graft.operators.Sampling
        .sampleBucket(col("doc_id"), "remix") < col("rate_pm"))
      .select(col("doc_id"), col("source"), col("rate_pm"))
      .orderBy(col("doc_id"))
  }

  /** q106: cross-source leakage audit — per source-pair counts of
    * near-duplicate documents straddling the pair (exact bigram-set
    * Jaccard >= 0.5 on df-capped candidates; see
    * [[graft.operators.Dedup.crossSourceLeakage]]). The report a
    * train/test split is checked against before anyone trusts the
    * split.
    */
  def leakageAudit(s: SparkSession, dir: String): DataFrame =
    Dedup.crossSourceLeakage(Tables.documents(s, dir), "text", "doc_id",
        "source", n = 2, maxDf = 50, threshold = 0.5)
      .orderBy(col("src_a"), col("src_b"))

  /** q107: ANN over a saved IVF index with DELETES — q75's lifecycle
    * (base build + frozen-centroid append) plus tombstones
    * ([[graft.operators.Similarity.IvfIndex.delete]]: every
    * `vec_id % 9 == 4` removed, spanning base AND delta segments); the
    * full-probe query over [[graft.operators.Similarity.IvfIndex.loadLive]]
    * must equal brute force over the SURVIVORS — cell partitions are
    * never rewritten, the subtraction is a broadcast anti-join after
    * partition pruning. Collected to a bounded local relation (k ×
    * |queries| rows) so the temp index dir can be deleted, like q75.
    */
  def annIvfDeletes(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
    scratch(s, "graft_ivf_del") { path =>
      val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
      val t1 = maxId * 3 / 5
      Similarity.buildIvfIndex(emb.filter(col("vec_id") <= t1),
        "embedding", "vec_id", nlist = 16).save(path)
      Similarity.IvfIndex.append(s, path,
        emb.filter(col("vec_id") > t1), "embedding", "vec_id")
      Similarity.IvfIndex.delete(s, path,
        emb.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id")),
        "vec_id")
      val loaded = Similarity.IvfIndex.loadLive(s, path)
      val result = Similarity.ivfQuery(loaded, queries, "embedding", "vec_id",
          k = 5, nprobe = 16)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(result.collect().toSeq.asJava, result.schema)
    }
  }

  /** q108: per-source DATA CARD — the summary table a curated corpus
    * ships with: docs, tokens, language spread, within-source exact-dup
    * docs (n_docs − distinct fingerprints, q18's md5-of-normal-form),
    * docs clearing q87's quality bar (`zn >= 2·n`, pure integers), and
    * the aggregate quality level as a RATIO OF INTEGER SUMS
    * (`Σzn/(10·Σn) − 0.2`, rounded 6 dp) — integer sums are
    * summation-order-independent, so the double division is
    * bit-identical cross-engine. Two shuffles: the doc-keyed token fold
    * and the |sources|-row rollup.
    */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w10 = pmod(pmod(TextFunctions.stableHash60(col("tok")), lit(32)) * 37,
      lit(21)) - 10
    val tok = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), w10.as("w10"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(col("w10")).as("zn"))
    docs
      .select(col("doc_id"), col("source"), col("lang"),
        md5(TextFunctions.normalized(col("text"))).as("fp"))
      .join(tok, Seq("doc_id"), "left")
      .select(col("source"), col("lang"), col("fp"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("zn"), lit(0L)).as("zn"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("fp"))).as("dup_docs"),
        sum(when(col("zn") >= col("n") * 2, 1L).otherwise(0L)).as("keep_docs"),
        round(sum(col("zn")).cast("double") /
          (lit(10.0) * sum(col("n"))) - 0.2, 6).as("quality"))
      .orderBy(col("source"))
  }

  /** q109: HYBRID retrieval — reciprocal-rank fusion (k = 60) of the
    * lexical and semantic rankers this engine already serves: BM25
    * top-20 (q79's index path, ranks on 4-dp-rounded scores) fused with
    * brute-force cosine top-20 over the document embeddings (q23's
    * broadcast shape, ranks on 6-dp-rounded cosines, self-excluded by
    * that operator's contract). RRF works on RANKS — integers — so the
    * fused score `Σ 1/(60+rank)` is a two-term rational sum, identical
    * cross-engine, rounded 6 dp before the final per-query top-5
    * window. The fusion join is (query, doc)-keyed over two
    * top-20-bounded frames — trivially small however large the corpus;
    * all the scale weight stays inside the two proven rankers.
    */
  def hybridSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val post = Retrieval.postings(docs, "text", "doc_id")
    val dls = post.select(col("doc_id"), col("dl")).distinct()
    val stat = dls.agg(count(lit(1)).as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl")).first()
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, 8), " ").as("qtext"))
    val bm = Retrieval.bm25TopK(post, Retrieval.docFrequencies(post), queries,
        stat.getLong(0), stat.getDouble(1), k = 20)
      .select(col("query_id"), col("doc_id"), col("rk").as("r_bm"))
    val ann = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_ann"))
    val fused = bm.join(ann, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("r_bm")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_ann")), lit(0.0))).as("rrf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q110: simhash near-dups by Hamming radius — Manku-style pigeonhole
    * banding over 60-bit bigram simhashes (4 bands × 15 bits; any pair
    * within radius 3 must agree on a band), exact `bit_count(xor)`
    * verify on candidates only. The radius-based sibling of the
    * minhash/LSH family: one fingerprint long per doc, candidates from
    * band equi-joins, never all-pairs. See
    * [[graft.operators.Dedup.simhashNearDups]].
    */
  def simhashNearDupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(s, dir), "text", "doc_id",
        bits = 60, bands = 4, maxHamming = 3, ngram = 2)
      .orderBy(col("id_a"), col("id_b"))

  /** q111: RAG ingest pipeline end-to-end — chunk (q65's windows) →
    * embed → IVF build → top-k retrieve, in one gate. The ENCODER IS A
    * DETERMINISTIC STUB (dim-16, `(hash60(chunk:i) mod 2001 − 1000) /
    * 1000` — this container has no embedding model, the multimodal
    * q25/q28 precedent), which is exactly what makes the whole pipeline
    * oracle-checkable: DuckDB recomputes the same vectors and brute-
    * forces the cosine top-5 the index path must reproduce (nprobe =
    * nlist ⇒ exact, q38's argument). Everything around the stub — chunk
    * ids, the per-chunk map-side embedding, the index build, the pruned
    * probe — is the real production plumbing.
    */
  def ragPipeline(s: SparkSession, dir: String): DataFrame = {
    val (chunkLen, overlap) = (100, 20)
    val stride = chunkLen - overlap
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        explode(TextFunctions.chunkStarts(col("text"), chunkLen, overlap))
          .as("start"))
      .select(
        (col("doc_id") * 1000 +
          expr(s"(start - 1) div $stride")).cast("long").as("chunk_id"),
        substr(col("text"), col("start"), lit(chunkLen)).as("chunk"))
    val embed = transform(sequence(lit(0), lit(15)), i =>
      (pmod(TextFunctions.stableHash60(
        concat(col("chunk"), lit(":"), i.cast("string"))), lit(2001L))
        - 1000).cast("double") / lit(1000.0))
    // the embedded corpus lands as a real table before indexing — the
    // production shape (embeddings are computed once and persisted, the
    // index reads the table), and it sidesteps a Spark sharp edge: an
    // IVF probe whose corpus side is a HOF-BUILT array column (not a
    // scan) fails codegen on the cosine projection and the interpreted
    // fallback mis-binds the corpus attribute against the probe row
    // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). Bounded output is collected
    // (k × 3 rows) so the temp table can be deleted, like q47/q75.
    scratch(s, "graft_rag") { path =>
      chunks.select(col("chunk_id"), embed.as("vec"))
        .write.mode("overwrite").parquet(s"$path/chunk_vecs")
      val vecs = s.read.parquet(s"$path/chunk_vecs")
      // the index is SAVED and re-opened, the q47 serving shape — also
      // the robust one: an in-session index carries `cell` as an ALIAS
      // of the nearest-centroid expression, and constraint inference
      // expands that alias through the probe join and pushes a filter
      // referencing the CORPUS vec column onto the probe side
      // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at some scales); a loaded
      // index reads `cell` as an opaque partition column
      Similarity.buildIvfIndex(vecs, "vec", "chunk_id", nlist = 16)
        .save(s"$path/index")
      val index = Similarity.IvfIndex.load(s, s"$path/index")
      val queries = vecs
        .filter(pmod(col("chunk_id"), lit(1000)) === 0 && col("chunk_id") < 3000)
      val result = Similarity.ivfQuery(index, queries, "vec", "chunk_id",
          k = 5, nprobe = 16)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(result.collect().toSeq.asJava, result.schema)
    }
  }

  /** q112: conversion funnel — the ordered-sequence analytics staple:
    * per user, the earliest view, the earliest click strictly AFTER
    * that view, the earliest purchase strictly after that click, and
    * the stage reached (0–3). Scale shape: each stage reads ONE
    * event-type slice of the scan (the `event_type` predicate pushes to
    * parquet) and aggregates it to a ≤|users|-row frame that BROADCASTS
    * into the next stage's filter — three pushed-down scans and three
    * broadcast joins, never a per-user event sort or a
    * whole-table-keyed shuffle chain.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    def stage(evType: String, prev: DataFrame, prevTs: String, outTs: String) =
      ev.filter(col("event_type") === evType)
        .join(broadcast(prev.select(col("user_id"), col(prevTs))), Seq("user_id"))
        .filter(col("ts") > col(prevTs))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as(outTs))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = stage("click", v, "t_view", "t_click")
    val p = stage("purchase", c, "t_click", "t_purchase")
    ev.select(col("user_id")).distinct()
      .join(broadcast(v), Seq("user_id"), "left")
      .join(broadcast(c), Seq("user_id"), "left")
      .join(broadcast(p), Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .when(col("t_view").isNotNull, 1L)
          .otherwise(0L).as("stage"))
      .orderBy(col("user_id"))
  }

  /** q113: retention cohorts — users grouped by first-seen day, counted
    * on each later activity day as an offset from their cohort. Two
    * shuffles: the per-user first-day aggregate (broadcast back — the
    * user dimension is small next to the event stream) and the
    * (cohort, offset) rollup, |days|²-bounded output.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    ev.join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("cohort_day").cast("string").as("cohort_day"),
        col("offset_days").cast("long").as("offset_days"), col("n_users"))
      .orderBy(col("cohort_day"), col("offset_days"))
  }

  /** q114: A/B metric readout — mean and sample variance of the event
    * value per experiment arm (user_id parity), computed ENTIRELY in
    * exact integer-cent space: the 2-dp value becomes integer cents via
    * a decimal cast (casting `value * 100` as a double would truncate
    * 490.02 → 49001), Σc and Σc² accumulate in DECIMAL(38,0) (order-
    * independent, and — unlike BIGINT with ANSI off — cannot silently
    * wrap at 100 TB row counts where cents² sums pass int64), and the
    * two-pass variance `(n·Σc² − (Σc)²) / (n(n−1))` stays in
    * DECIMAL(38,0) with ONE double division at the end. Map-side
    * combine ends the shuffle at 2 rows.
    */
  def abStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(pmod(col("user_id"), lit(2)).as("variant"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
    ev.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        // both running sums live in DECIMAL(38,0), not BIGINT: with
        // ANSI off a BIGINT sum WRAPS silently on int64 overflow
        // (cents² terms reach ~1e13 each — 1e12 rows overflows Σc²),
        // while the DuckDB oracle sums in HUGEINT and would diverge
        sum(col("c").cast("decimal(38,0)")).as("sc"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
      .select(col("variant"), col("n"),
        round(col("sc").cast("double") / (col("n") * 100.0), 6).as("mean"),
        round(
          (col("n").cast("decimal(38,0)") * col("sc2")
            - col("sc") * col("sc"))
            .cast("double")
            / ((col("n") * (col("n") - 1)).cast("double") * 10000.0), 6)
          .as("variance"))
      .orderBy(col("variant"))
  }

  /** q115: trailing-window anomaly flags on the per-minute event
    * stream — a minute's count is anomalous when it sits more than 3
    * sample standard deviations from its own type's trailing-hour
    * mean. The whole test is INTEGER algebra: with trailing sums
    * S = Σc, Q = Σc² over w minutes, `(w·c − S)²·(w−1) > 9·w·(w·Q − S²)`
    * is exactly `(c − S/w)² > 9·var` with no float ever computed — no
    * epsilon can flip a flag on any engine. One shuffle to the minute
    * grain; the trailing window rides the |types| partitions.
    */
  def anomalyFlags(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("minute"))
      .rowsBetween(-60, -1)
    Tables.events(s, dir)
      .groupBy(date_trunc("minute", col("ts")).as("minute"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("tw", count(lit(1)).over(w))
      .withColumn("ts_", sum(col("c")).over(w))
      .withColumn("tq", sum(col("c") * col("c")).over(w))
      .select(col("minute"), col("event_type"), col("c").as("n_events"),
        coalesce(col("tw"), lit(0L)).as("trail_n"),
        (col("tw") >= 30 &&
          (col("tw") * col("c") - col("ts_")) *
            (col("tw") * col("c") - col("ts_")) * (col("tw") - 1)
            > lit(9L) * col("tw") *
              (col("tw") * col("tq") - col("ts_") * col("ts_")))
          .as("anomaly"))
      .withColumn("anomaly", coalesce(col("anomaly"), lit(false)))
      .orderBy(col("minute"), col("event_type"))
  }

  /** q116: collocation mining — the 20 strongest adjacent token pairs
    * by DICE coefficient, `2·n_ab/(n_a + n_b)`, scored in parts-per-
    * million with integer division (`2·n_ab·10⁶ div (n_a+n_b)` — sums,
    * not products, in the denominator keep the whole computation inside
    * int64 far past corpus scale; PMI's n_a·n_b product would not). Two
    * vocabulary-bounded aggregates, two broadcast joins, and a
    * TakeOrderedAndProject top-20.
    */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("tk"))
    val uni = toks.select(explode(col("tk")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val bi = toks
      .select(explode(TextFunctions.ngramsOfTokens(col("tk"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("n_ab"))
      .select(split(col("bg"), " ").getItem(0).as("tok_a"),
        split(col("bg"), " ").getItem(1).as("tok_b"), col("n_ab"))
    bi
      .join(broadcast(uni.select(col("tok").as("tok_a"), col("n").as("n_a"))),
        Seq("tok_a"))
      .join(broadcast(uni.select(col("tok").as("tok_b"), col("n").as("n_b"))),
        Seq("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        expr("(2 * n_ab * 1000000L) div (n_a + n_b)").as("dice_ppm"))
      .orderBy(col("dice_ppm").desc, col("tok_a"), col("tok_b"))
      .limit(20)
  }

  /** q117: duplicate-cluster size HISTOGRAM — the dedup health report:
    * how many clusters exist at each size (1 = unique docs). q52's
    * connected components rolled up twice — cluster → size, size →
    * count — plus the integer share of DOCS living at that size
    * (`size · n_clusters · 10⁶ div N`). Output is bounded by the
    * largest cluster size; both rollups are cluster/size-keyed, never
    * doc-keyed after the first.
    */
  def dupClusterHistogram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 4, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 2)
    val comps = Cluster.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    val sized = docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    val total = docs.count()
    sized.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        expr(s"(cluster_size * n_clusters * 1000000L) div ${total}L")
          .as("doc_share_ppm"))
      .orderBy(col("cluster_size"))
  }

  /** Shared q89/q92 gate harness: three ingest batches over the
    * documents corpus — the corpus itself, an id-shifted exact
    * re-ingest, and an id-shifted suffix-mutated re-ingest — run
    * sequentially through a fresh gram store with a bucketed compaction
    * between batches 2 and 3, unioned and ordered for the hash gate.
    * Segments, the compaction, and owner bookkeeping must be invisible
    * in the output (the oracle replays the sequence as one windowed
    * pass).
    */
  private def threeBatchGramStoreGate(
      s: SparkSession,
      dir: String,
      prefix: String)(
      run: (DataFrame, String) => DataFrame): DataFrame =
    scratch(s, "graft_gram_gate") { storeDir =>
      val Seq(b0, b1, b2) = copyBatches(s, dir)
      val p0 = run(b0, storeDir)
      val p1 = run(b1, storeDir)
      // ONE eager checkpoint for both pre-compaction results: their
      // store scans pin the raw segment paths, which compact() deletes
      // after folding — they must materialize before it runs. Each is a
      // skinny plan over its batch's cached occurrence frame (persisted
      // by Dedup.spanCore, materialized by its segment write), so
      // fusing them halves the job count (job count, not data, is this
      // pipeline's cost at gate scale).
      val p01 = p0.unionByName(p1).localCheckpoint(true)
      Dedup.FingerprintStore.compact(s, storeDir, buckets = 8, tablePrefix = prefix)
      // the third batch's scan pins post-compaction state and nothing
      // mutates the store after it — it stays lazy until the final
      // checkpoint, which must still run BEFORE the scratch cleanup
      // deletes the store
      val p2 = run(b2, storeDir)
      // no terminal orderBy: the driver's hash gate sorts canon rows
      // itself, and a total sort of the output (sample job + range
      // exchange) is exactly what a 100 TB emit would not do
      p01.unionByName(p2).localCheckpoint(true)
    }

  /** q118: product-quantization ADC top-k — the serving tier q94's
    * scalar quantization graduates into at billion-vector scale
    * ([[graft.operators.Similarity.pqEncode]]/`pqAdcTopK`, Jégou
    * et al. 2011): the 64-dim corpus collapses to 4 codes/vector
    * (M = 4 subspaces × K = 8 codewords), each query precomputes its
    * 4 × 8 table of exact subvector→codeword distances, and the
    * corpus-wide pass is 4 table lookups per row over the CODES column
    * alone — no vector arithmetic, no decode, 128× less scan IO than
    * fp64. Gate codebooks are the q86 axis-unit seed discipline
    * (codeword j = e_{2j} per subspace) so the oracle replays them as
    * literals via the shared `‖x‖² − 2⟨x,c⟩ + ‖c‖²` decomposition with
    * 6-dp rounds; TRAINED codebooks come from per-subspace
    * [[graft.operators.Similarity.kmeansTrain]] (spec-asserted path).
    */
  def pqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val codebooks = Seq.tabulate(4)(_ =>
      Seq.tabulate(8)(j => Seq.tabulate(16)(i => if (i == 2 * j) 1.0 else 0.0)))
    val encoded = graft.operators.Similarity
      .pqEncode(emb, "embedding", "vec_id", codebooks)
    val queries = emb.filter(col("vec_id") < 10)
    graft.operators.Similarity
      .pqAdcTopK(encoded, queries, "embedding", "vec_id", codebooks, k = 8)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("approx_dist2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q119: IVF-PQ serving — q118's ADC arithmetic behind q38's coarse
    * cell pruning, the faiss architecture
    * ([[graft.operators.Similarity.buildIvfPq]]/`ivfPqQuery`): the
    * codes table lands CELL-PARTITIONED on disk, probes equi-join on
    * cell so partition pruning applies before a single code is read,
    * and inside a pruned cell only the M-byte code column is scanned —
    * partition pruning × column pruning multiplied. Full probe
    * (nprobe = nlist = 8) keeps it exact vs plain ADC, so the gate
    * reuses q118's oracle verbatim; partial-probe subset + pruned-scan
    * plan are spec-asserted. Saved-table serving (q47 discipline — the
    * in-session `cell` alias sharp edge) with the bounded k × |queries|
    * result collected so the temp index dir can be deleted.
    */
  def ivfPqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val codebooks = Seq.tabulate(4)(_ =>
      Seq.tabulate(8)(j => Seq.tabulate(16)(i => if (i == 2 * j) 1.0 else 0.0)))
    val centers = (0 until 8).map(j =>
      Seq.tabulate(64)(i => if (i == j * 8) 1.0 else 0.0))
    scratch(s, "graft_ivfpq") { path =>
      graft.operators.Similarity
        .buildIvfPq(emb, "embedding", "vec_id", centers, codebooks)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
      val cells = s.read.parquet(s"$path/cells")
      val queries = emb.filter(col("vec_id") < 10)
      val result = graft.operators.Similarity
        .ivfPqQuery(cells, queries, "embedding", "vec_id",
          centers, codebooks, k = 8, nprobe = 8)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("approx_dist2"))
        .orderBy(col("query_id"), col("rank"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(result.collect().toSeq.asJava, result.schema)
    }
  }

  /** q120: token-weighted sample — the 12 docs per source with the
    * smallest `hash div weight` under weight = token count + 1
    * ([[graft.operators.Sampling.weightedPriorityTopK]]): longer docs
    * proportionally likelier, the shape a token-budgeted eval draw
    * wants (sampling DOCS uniformly under-represents the tokens of
    * long docs). All-integer priorities — no exponential keys, no
    * libm — so the draw is bit-reproducible across engines and the
    * oracle replays it with one `//`.
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .weightedPriorityTopK(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          (TextFunctions.tokenCount(col("text")) + 1).cast("long").as("w")),
        col("doc_id"), col("w"), col("source"), k = 12, salt = "wps")
      .select(col("doc_id"), col("source"), col("w"), col("priority"),
        col("rk"))
      .orderBy(col("source"), col("rk"))

  /** q121: PageRank over the duplicate-candidate graph — q52's LSH
    * pairs as an undirected edge list, three iterations of
    * [[graft.operators.Cluster.pagerankInt]]'s all-integer damping
    * recurrence. Centrality ranks cluster members by how CONNECTED
    * they are inside their dup neighborhood (the hub of a template
    * family scores highest — a canonical-election signal orthogonal
    * to q97's source-priority election). Integer truncation points are
    * the contract; the oracle unrolls the identical three iterations
    * as chained CTEs over the same edges. Docs with no candidate pair
    * don't participate (documented domain restriction).
    */
  def dupPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 4, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 2)
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    graft.operators.Cluster.pagerankInt(edges, "u", "v", iters = 3)
      .select(col("doc_id"), col("deg"), col("pr"))
      .orderBy(col("doc_id"))
  }

  /** q122: MMR diversity rerank — q23's brute-force top-20 per query,
    * then [[graft.operators.Similarity.mmrRerank]]'s greedy
    * `(70·rel − 30·maxSimToSelected)/100` selection down to 5. The
    * gate shows diversity actually biting: selected ranks are NOT the
    * relevance order (a near-dup of the first pick drops behind less
    * relevant but fresher candidates). The oracle unrolls the same
    * five selection steps as chained CTEs over the same candidate SQL.
    */
  def mmrRerankGate(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 3)
    val cand = graft.operators.Similarity
      .bruteForceTopK(emb, queries, "embedding", "vec_id", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"))
    val withVec = cand.join(
      emb.select(col("vec_id").as("neighbor_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv")),
      Seq("neighbor_id"))
    graft.operators.Similarity.mmrRerank(withVec, k = 5, lambdaPct = 70)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q128: leakage-safe split — q52's near-dup clusters as the split
    * UNIT ([[graft.operators.Sampling.groupSplit]], 80% train by
    * integer ppm bucket of the cluster id): every member of a near-dup
    * cluster lands on the same side, so the heldout set can never hold
    * a twin of a training doc (the eval-leakage failure doc-level
    * splits silently commit). The oracle replays the clustering with
    * q52's recursive-CTE closure and the side with the shared hash
    * macro — cluster ids AND the split must both match exactly.
    */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 4, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 2)
    val comps = graft.operators.Cluster
      .connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    val members = docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    graft.operators.Sampling
      .groupSplit(members, col("cluster_id"),
        trainPerMillion = 800000L, salt = "cvsplit")
      .orderBy(col("doc_id"))
  }

  /** q130: STREAMING drift monitor — q127's live twin
    * ([[graft.streaming.DriftStream]]): the odd-doc_id half of the
    * corpus arrives as three micro-batches (doc_id mod 6 ∈ {1,3,5}),
    * each landing its per-(source, token) counts as a batch-id segment
    * and reporting integer-ppm drift of its 2-batch sliding window
    * against the even-half baseline snapshot (broadcast,
    * vocabulary-sized). The oracle replays every window re-aggregation
    * in plain SQL, so segments and the epoch-scoped window reads must
    * be invisible — the same batch-id-segment protocol as q102's
    * budget meter. FOUR epochs (doc_id mod 8 ∈ {1,3,5,7}) with a
    * [[graft.streaming.DriftStream.purge]] after epoch 2 — the purge
    * deletes segment 0 (out of every future window), so epoch 3's
    * report proves the retention GC is replay-invisible: delete a LIVE
    * segment and the window re-aggregation (and the hash) breaks.
    */
  def streamDriftGate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_drift_gate") { stateDir =>
      val docs = Tables.documents(s, dir)
      val base = graft.streaming.DriftStream.baselinePpm(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text")
      val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val reports = (0 to 3).map { k =>
        val r = graft.streaming.DriftStream.driftStaged(
          odd.filter(pmod(col("doc_id"), lit(8)) === 2 * k + 1),
          stateDir, "text", "source", base,
          window = 2, thresholdPpm = 500L, batchId = k.toLong)
          .localCheckpoint(true)
        if (k == 2) graft.streaming.DriftStream.purge(s, stateDir, window = 2)
        r
      }
      reports.reduce(_ unionByName _)
        .orderBy(col("batch_id"), col("source"), col("tok"))
        .localCheckpoint(true)
    }

  /** q129: PERSISTED incremental cluster map — q52's cluster assignment
    * maintained through [[graft.operators.ClusterStore]] instead of
    * rebuilt from scratch: three ingest batches (q67's planted corpus —
    * originals, an identical second copy, a near-dup suffixed third)
    * with a mid-sequence compaction, then ONE load of the accumulated
    * map labels the union corpus. Each ingest runs CC only over the
    * batch's contracted edges (batch-sized, never the accumulated
    * graph); cross-batch connectivity comes from the band-key store's
    * owner stars, which are connectivity-equivalent to the one-shot
    * LSH candidate cliques — so the oracle is the one-shot
    * recursive-CTE closure over the union corpus (q52's oracle shape on
    * q67's corpus). Output = q52's schema.
    */
  def clusterStoreGate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cstore_gate") { storeDir =>
      val Seq(b1, b2, b3) = copyBatches(s, dir)
      ClusterStore.ingest(b1, storeDir, "text", "doc_id")
      ClusterStore.ingest(b2, storeDir, "text", "doc_id")
      ClusterStore.compact(s, storeDir, buckets = 8,
        tablePrefix = "graft_q129_store")
      ClusterStore.ingest(b3, storeDir, "text", "doc_id")
      clusterLabels(s, storeDir, b1.unionByName(b2).unionByName(b3))
    }

  /** q52's labeling of `docs` off the cluster store in `storeDir` (the
    * q129/q144 tail): membership from the resolved map, sizes from q52's
    * two-phase rollup, singletons labeled by their own id.
    */
  private def clusterLabels(s: SparkSession, storeDir: String, docs: DataFrame): DataFrame = {
    // persist the resolved map: TWO consumers of the one labeling
    // action (the membership join and the size rollup) otherwise
    // each re-run the segment fold + latest-wins aggregate — the
    // priciest subtree — inside the same execution (§1.2 don't
    // compute twice)
    val m = graft.util.OperatorCaches.persisted(
      ClusterStore.load(s, storeDir).withColumnRenamed("node", "doc_id"))
    // q52's two-phase size rollup (groupBy the membership map + join
    // back, singletons = literal 1) — not a cluster-keyed window,
    // which would serialize the giant LSH component on one task
    val sizes = m.groupBy(col("component"))
      .agg(count(lit(1)).as("__csize"))
    val out = docs.select(col("doc_id"))
      .join(m, Seq("doc_id"), "left")
      .join(sizes, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"),
        coalesce(col("__csize"), lit(1L)).as("cluster_size"))
      // no terminal orderBy - the hash gate is order-insensitive and
      // the sort cost a sample job + range exchange per run
      .localCheckpoint(true)
    graft.util.OperatorCaches.releaseFrames(s, Seq(m))
    out
  }

  /** q144: FUSED-BACKFILL cluster-store ingest — q129's three-batch
    * sequence absorbed in ONE
    * [[graft.operators.ClusterStore.ingestBackfill]] call instead of
    * three sequential ingests: one tokenize+minhash+band pass over the
    * backlog union, cross-batch owner stars from a window (not a
    * per-batch store probe), per-batch CC on contracted edges with the
    * running map carried in memory. Store-identical to the sequential
    * loop (spec-asserted), so the oracle is the SAME one-shot
    * recursive-CTE closure as q129. Output = q52's schema.
    */
  def clusterBackfillGate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cbackfill_gate") { storeDir =>
      val backlog = copyBatches(s, dir).zipWithIndex
        .map { case (b, i) => b.select(lit(i.toLong).as("bt"), col("doc_id"), col("text")) }
        .reduce(_ unionByName _)
      ClusterStore.ingestBackfill(backlog, "bt", storeDir, "text", "doc_id")
      clusterLabels(s, storeDir, backlog)
    }

  /** q145: HTML main-content extraction — the boilerplate-removal stage
    * before any text operator ([[graft.operators.Html.extractMain]]).
    * The synthetic corpus is plain text, so the gate PLANTS a
    * deterministic page around each document (head with script/style
    * payloads, nav/promo/footer link blocks, the body split across two
    * `<p>` blocks with an entity) and provably recovers the article
    * text while dropping every boilerplate block — the q54
    * plant-and-remove discipline. Map-only: higher-order array
    * functions on the ingest scan, zero shuffle, zero explode.
    */
  def htmlExtractGate(s: SparkSession, dir: String): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val half = (length(t) / lit(2)).cast("int")
    val id = col("doc_id").cast("string")
    val markup = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>p{margin:0}</style>" +
        "<script type=\"text/javascript\">var id="), id,
      lit(";</script></head><body>" +
        "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a> " +
        "<a href=\"/contact\">contact</a></nav>" +
        "<h1>Document "), id, lit("</h1><p>"),
      t.substr(lit(1), half), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<div class=\"promo\"><a href=\"/buy\">buy now great deals</a> " +
          "<a href=\"/subscribe\">subscribe to the newsletter</a></div>"))
        .otherwise(lit("")),
      lit("<p>"), t.substr(half + lit(1), length(t)),
      lit(" &amp; more</p>" +
        "<footer><a href=\"/privacy\">privacy</a> " +
        "<a href=\"/terms\">terms</a> (c) 2026</footer></body></html>"))
    graft.operators.Html.extractMain(
      Tables.documents(s, dir).select(col("doc_id"), markup.as("markup")),
      "markup", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** q146: URL canonicalization + domain blocklist — the C4 crawl
    * hygiene stage ([[graft.operators.Urls]]): scheme/host lowercase,
    * fragment + default-port strip, tracking-parameter removal with
    * byte-order param sort, registered-domain blocklist verdict, and
    * the per-domain rollup. The corpus carries no URLs, so the gate
    * PLANTS six deterministic URL shapes per doc_id class (shouting
    * host + default port + tracking params; https default port;
    * blocklisted domain; portful no-path; bracketed IPv6 → NULL;
    * malformed) — the q54/q145 plant-and-remove discipline.
    * Canonicalization is map-only; the blocklist joins broadcast; the
    * rollup is a two-phase aggregate + broadcast join back (never a
    * window — the mega-domain skew shape).
    */
  def urlCanonGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(5))
    val url = when(m === 0, concat(lit("HTTP://WWW."), col("source"),
        lit(".Example.COM:80/Doc/"), id,
        lit("?utm_source=feed&b=2&a=1&gclid=zz#frag")))
      .when(m === 1, concat(lit("https://blog."), col("source"),
        lit(".example.com:443/post?id="), id,
        lit("&utm_campaign=x&z=9&ref=tw")))
      .when(m === 2, concat(lit("https://ads."), col("source"),
        lit(".badsite.net/click?cid="), id))
      // userinfo planted: canonicalization must DROP the credential
      .when(m === 3, concat(lit("http://user:s3cret@"), col("source"),
        lit(".example.com:8080")))
      // bracketed IPv6 authority: unsupported shape — must go NULL like
      // malformed, never a half-parsed "[" host key (doc_id%10==9 ⇒ m==4)
      .when(pmod(col("doc_id"), lit(10)) === 9,
        concat(lit("http://[2001:db8::1]:8080/v6/"), id))
      .otherwise(concat(lit("not a url "), id))
    val block = Seq("badsite.net", "tracker.io").toDF("domain")
    graft.operators.Urls.domainFilterReport(
      Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
      "url", "doc_id", block)
      .orderBy(col("doc_id"))
  }

  /** q156: anchor-text aggregation per target domain — the
    * CommonCrawl-style anchor corpus a retrieval/training pipeline
    * mines ("what does the web CALL this site"): q149's link
    * extraction → PSL registered-domain keys → anchor tokens → per
    * (domain, token) counts → top-5 terms per domain
    * ([[graft.operators.Sampling.groupCapByScore]] — WindowGroupLimit,
    * map-side per-group truncation). Links with no registrable target
    * (malformed hrefs) have nothing to aggregate under and drop.
    * Plants rotate three anchor phrasings per target (entity-bearing
    * included), a shared hub link, and a malformed href. Scale shape:
    * extraction + domain keys map-only; one (domain, token)-keyed
    * partial-aggregating exchange; the rank window truncates map-side.
    */
  def anchorTextGate(s: SparkSession, dir: String): DataFrame = {
    val k = pmod(col("doc_id"), lit(5))
    val m3 = pmod(col("doc_id"), lit(3))
    val anchor = when(m3 === 0, lit("great quality widgets"))
      .when(m3 === 1, lit("cheap widgets online"))
      .otherwise(lit("widget reviews &amp; news"))
    val markup = concat(
      lit("<html><body><p><a href=\"https://www.site"), k.cast("string"),
      lit(".net/x\">"), anchor, lit("</a></p>"),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit("<p><a href=\"https://hub.example.com/d\">hub directory" +
          " listing</a></p>")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit("<p><a href=\"not a url\">broken link text</a></p>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    val links = graft.operators.Html.extractLinks(
      Tables.documents(s, dir).select(col("doc_id"), markup.as("markup")),
      "markup", "doc_id")
    val terms = links.select(
        nullif(graft.operators.PublicSuffix.registeredDomain(col("href")),
          lit("")).as("domain"),
        explode(TextFunctions.tokens(col("anchor"))).as("token"))
      .filter(col("domain").isNotNull && col("token") =!= "")
      .groupBy(col("domain"), col("token")).agg(count(lit(1)).as("cnt"))
    graft.operators.Sampling
      .groupCapByScore(terms, col("domain"), col("cnt"), col("token"),
        cap = 5)
      .select(col("domain"), col("token"), col("cnt"), col("rk"))
      .orderBy(col("domain"), col("rk"))
  }

  /** q157: meta-robots crawl-policy signal —
    * [[graft.operators.Html.metaRobots]]: a `noindex` page is the
    * publisher opting OUT of indexing/training corpora, and a curation
    * pipeline must surface that before ingest. Plants rotate the
    * directive shapes the wild actually serves: normal order, REVERSED
    * attribute order in caps with single quotes, no robots meta at all
    * (plus a commented-out one that must stay invisible), and an
    * allow-all directive; a charset meta and a `description` meta
    * whose content says "noindex" are decoys that must not match.
    * Map-only — two regex probes per document.
    */
  def metaRobotsGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m4 = pmod(col("doc_id"), lit(4))
    val markup = concat(lit("<html><head>"),
      when(m4 === 0,
        lit("<meta name=\"robots\" content=\"noindex, follow\">"))
        .when(m4 === 1, lit("<META CONTENT='NOFOLLOW' NAME='ROBOTS'>"))
        .when(m4 === 2, lit(""))
        .otherwise(
          lit("<meta name=\"robots\" content=\"index, follow\">")),
      lit("<meta charset=\"utf-8\">" +
        "<meta name=\"description\" content=\"noindex decoy\">"),
      when(m4 === 2,
        lit("<!-- <meta name=\"robots\" content=\"noindex\"> -->"))
        .otherwise(lit("")),
      lit("</head><body><p>Doc "), id, lit("</p></body></html>"))
    graft.operators.Html.metaRobots(
      Tables.documents(s, dir).select(col("doc_id"), markup.as("markup")),
      "markup", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** q160: rel=canonical dedup keys —
    * [[graft.operators.Html.canonicalLink]] composed with q146
    * canonicalization: the publisher-declared canonical URL collapses
    * mirror/tracking-variant pages into one dedup group WITHOUT any
    * content comparison (the signal a crawl dedup consults before
    * fingerprints). Plants per 10-block: a shouting default-port
    * tracking-param canonical (double quotes, rel-first), the same
    * target clean (single quotes, href-first, REVERSED attribute
    * order) — both must land on ONE canon key per block — plus
    * link-less pages and pages whose canonical is commented out (both
    * self-identify via their own fetched URL). Min-id election per key
    * as a two-phase `groupBy(canon_key).min` + join back — a mirror
    * set with millions of copies of one canonical URL is exactly the
    * hot key that serializes a key-partitioned window on one task;
    * the aggregate collapses map-side. Extraction + canonicalization
    * map-only.
    */
  def canonicalKeyGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val b = (col("doc_id") - pmod(col("doc_id"), lit(10))).cast("string")
    val m4 = pmod(col("doc_id"), lit(4))
    val markup = concat(lit("<html><head>"),
      when(m4 === 0, concat(
        lit("<link rel=\"canonical\" href=\"HTTPS://WWW.MirrorSite.COM" +
          ":443/page/"), b, lit("?utm_source=x\">")))
        .when(m4 === 1, concat(
          lit("<LINK HREF='https://www.mirrorsite.com/page/"), b,
          lit("' REL='canonical'>")))
        .when(m4 === 3,
          lit("<!-- <link rel=\"canonical\" " +
            "href=\"https://ghost.example.com/\"> -->"))
        .otherwise(lit("")),
      lit("</head><body><p>Doc "), id, lit("</p></body></html>"))
    val ownUrl = concat(lit("https://www.mirrorsite.com/p/"), id,
      lit("?utm_medium=x"))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), markup.as("markup"), ownUrl.as("own_url"))
    val keyed = graft.operators.Html
      .canonicalLink(docs, "markup", "doc_id")
      .join(docs.select(col("doc_id"), col("own_url")), Seq("doc_id"))
      .select(col("doc_id"), col("canonical_href"),
        graft.operators.Urls.canonicalize(
          coalesce(col("canonical_href"), col("own_url")))
          .as("canon_key"))
    val reps = keyed.groupBy(col("canon_key"))
      .agg(min(col("doc_id")).as("rep_id"))
    keyed.join(reps, Seq("canon_key"))
      .select(col("doc_id"), col("canonical_href"), col("canon_key"),
        col("rep_id"), (col("doc_id") === col("rep_id")).as("is_rep"))
      .orderBy(col("doc_id"))
  }

  /** q181: SALSA hub/authority scores —
    * [[graft.operators.Cluster.salsaInt]] on a planted 7-node directed
    * graph (a ring plus three extra citations INTO node 3 — the
    * authority — and two extra citations OUT of node 5 — the hub),
    * three exact integer sweeps. The oracle unrolls the identical
    * recurrence; the edge list derives from `doc_id mod 12` lookup
    * tables and collapses to the same 12 edges at every scale factor.
    */
  def salsaGate(s: SparkSession, dir: String): DataFrame = {
    val idx = (pmod(col("doc_id"), lit(12)) + 1).cast("int")
    val us = array(Seq(0, 1, 2, 3, 4, 5, 6, 0, 1, 4, 5, 5)
      .map(x => lit(x.toLong)): _*)
    val vs = array(Seq(1, 2, 3, 4, 5, 6, 0, 3, 3, 3, 0, 2)
      .map(x => lit(x.toLong)): _*)
    val edges = Tables.documents(s, dir)
      .select(element_at(us, idx).as("u"), element_at(vs, idx).as("v"))
      .distinct()
    graft.operators.Cluster.salsaInt(edges, "u", "v", iters = 3)
      .orderBy(col("node"))
  }

  /** q182: the composed CRAWL-FETCH loop — q169 proves discovery
    * composes; this is the FETCH side as ONE dataflow with q153-style
    * funnel accounting: frontier →
    * [[graft.operators.Frontier.schedule]] (politeness waves,
    * depth-capped) → rendered WARC `response` records round-tripped
    * through a real `.warc` file ([[graft.io.Wet.toResponseRecords]] /
    * [[graft.io.Wet.readResponses]] — the io layer runs INSIDE the
    * composition, q173's discipline) → fetch verdicts → 3xx Locations
    * resolved by [[graft.operators.Redirects.resolve]] pointer
    * doubling (planted 1-hop runs on `doc_id % 10 = 7` plus a 4-hop
    * run on `% 100 ∈ 41..44`) → retryable failures (429/503) expanded
    * by [[graft.operators.Frontier.retrySchedule]] → recrawl planning
    * via [[graft.operators.Sitemaps.diff]] against the previous
    * snapshot. Output: one row per stage with the surviving count —
    * every stage visibly bites.
    *
    * Scale shape: each stage is its already-audited operator (the
    * depth cap compiles to WindowGroupLimit, the resolve is log₂-round
    * doubling over the EDGE set, the diff one full-outer join);
    * shared frames persisted once (q153's loop-invariant discipline);
    * the funnel reads the cached frames. The warc round-trip frame is
    * schedule-capped (7 domains × maxDepth), so the file stays
    * metadata-sized at every SF.
    */
  def crawlLoopGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    def urlOf(c: Column): Column = concat(lit("https://site"),
      pmod(c, lit(7)).cast("string"), lit(".example.com/p/"),
      c.cast("string"))
    val docs = Tables.documents(s, dir)
    val mk = graft.util.OperatorCaches.mark()
    scratch(s, "graft_crawlloop") { path =>
      val frontier = docs.select(urlOf(d).as("url"),
        concat(lit("site"), pmod(d, lit(7)).cast("string"),
          lit(".example.com")).as("domain"),
        pmod(d * 37 + 11, lit(100)).cast("long").as("priority"))
      val delays = s.range(0, 5).select(
        concat(lit("site"), col("id").cast("string"),
          lit(".example.com")).as("domain"),
        when(pmod(col("id"), lit(3)) === 0, 2000L).otherwise(500L)
          .as("delay_ms"))
      val sched = graft.util.OperatorCaches.persisted(
        graft.operators.Frontier.schedule(frontier, "url", "domain",
          "priority", delays, maxDepth = 40))
      // render the scheduled fetches as WARC response records and
      // round-trip them through a real .warc file
      val sd = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val m10 = pmod(col("doc_id"), lit(10))
      val m100 = pmod(col("doc_id"), lit(100))
      val isRedirect = m10 === 7 || m100.between(41, 44)
      val status = when(isRedirect, 301L).when(m10 === 8, 503L)
        .when(m10 === 9, 429L).otherwise(200L)
      val rendered = sched.select(col("url"), sd.as("doc_id"))
        .select(col("url").as("uri"), status.as("status"),
          when(isRedirect, "Moved Permanently")
            .when(m10 === 8, "Service Unavailable")
            .when(m10 === 9, "Too Many Requests").otherwise(lit("OK"))
            .as("reason"),
          lit("text/html").as("ctype"),
          when(isRedirect, urlOf(col("doc_id") + 1)).as("location"),
          concat(lit("content of "), col("doc_id").cast("string"))
            .as("body"))
      graft.io.Wet
        .toResponseRecords(rendered, "uri", "status", "reason", "ctype",
          "location", "body")
        .write.mode("overwrite")
        .option("lineSep", graft.io.Wet.RecordSeparator)
        .text(s"$path/warc")
      val resp = graft.util.OperatorCaches.persisted(
        graft.io.Wet.readResponses(s, s"$path/warc")
          .select(col("target_uri").as("url"),
            regexp_extract(col("target_uri"), "([0-9]+)$", 1)
              .cast("long").as("doc_id"),
            col("status"), col("content_type"), col("location")))
      val fetched = resp.filter(col("status") === 200 &&
        col("content_type") === "text/html")
      val redirects = resp.filter(col("status").between(300, 399) &&
        col("location").isNotNull)
      val resolved = graft.operators.Redirects.resolve(
        redirects.select(col("doc_id").as("src"),
          regexp_extract(col("location"), "([0-9]+)$", 1).cast("long")
            .as("dst")),
        "src", "dst", doublings = 3)
        .filter(!col("unresolved"))
      val retries = graft.operators.Frontier.retrySchedule(
        resp.filter(col("status").isin(429L, 503L))
          .withColumn("retry_after_sec",
            when(pmod(col("doc_id"), lit(10)) === 9, 7L)),
        "url", "status", "retry_after_sec")
      val base = lit("2026-01-01").cast("date")
      val prev = docs.filter(pmod(d, lit(11)) =!= 3)
        .select(urlOf(d).as("url"),
          date_add(base, pmod(d, lit(28)).cast("int")).as("lastmod"))
      val cur = fetched.select(col("url"),
        date_add(base, (pmod(col("doc_id"), lit(28)) +
          when(pmod(col("doc_id"), lit(5)) === 0, 1).otherwise(0))
          .cast("int")).as("lastmod"))
      val diff = graft.util.OperatorCaches.persisted(
        graft.operators.Sitemaps.diff(prev, cur, "url", "lastmod"))
      def cnt(idx: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n"))
          .select(lit(idx.toLong).as("stage_idx"),
            lit(name).as("stage"), col("n"))
      val out = cnt(0, "frontier_urls", frontier)
        .unionByName(cnt(1, "scheduled", sched))
        .unionByName(cnt(2, "fetched_ok", fetched))
        .unionByName(cnt(3, "redirects", redirects))
        .unionByName(cnt(4, "redirects_resolved", resolved))
        .unionByName(cnt(5, "retry_attempts", retries))
        .unionByName(cnt(6, "recrawl_new",
          diff.filter(col("status") === "new")))
        .unionByName(cnt(7, "recrawl_changed",
          diff.filter(col("status") === "changed")))
        .unionByName(cnt(8, "recrawl_unchanged",
          diff.filter(col("status") === "unchanged")))
        .unionByName(cnt(9, "recrawl_gone",
          diff.filter(col("status") === "gone")))
        .orderBy(col("stage_idx"))
        .localCheckpoint(true) // terminal action: the caches are consumed
      graft.util.OperatorCaches.releaseSince(s, mk)
      out
    }
  }

  /** q183: served-path ANN recall certification — retrieval QUALITY on
    * the driver gate, not just hash parity (q27's in-query
    * certification pattern): each PRODUCTION serving path — the saved
    * IVF index probed at nprobe < nlist (q47's index, q38's pruning),
    * the cell-partitioned IVF-PQ index (q119) at nprobe = 4 of 8, and
    * the Lloyd-trained PQ quantizer (q123) — is measured against the
    * EXACT ground truth computed in the same query (cosine top-5 for
    * the IVF path; squared-L2 top-8 for the PQ paths, since ADC
    * approximates L2 and cosine truth would mis-grade it), and the
    * integer recall@k ppm is certified against a floor pinned from
    * measurements across sf0.001/0.01/0.1 (SimilaritySpec's bars,
    * promoted to the driver record). The oracle predicts the
    * certification surface: per-path row counts and TRUE bounds.
    *
    * Scale shape: serving plans are the audited q38/q47/q119/q123
    * shapes (cell-pruned probes over partitioned parquet); the truth
    * computation is q23's sanctioned bounded-broadcast scan; recall
    * joins run on post-top-k frames (k·|queries| rows).
    */
  def annRecallGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 20)
    val mk = graft.util.OperatorCaches.mark()
    scratch(s, "graft_annrec") { root =>
      val bfCos = graft.util.OperatorCaches.persisted(
        Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id",
            k = 5)
          .select(col("query_id"), col("neighbor_id")))
      val cv = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      val qv = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      val wL2 = Window.partitionBy(col("query_id"))
        .orderBy(col("d2").asc, col("neighbor_id").asc)
      val bfL2 = graft.util.OperatorCaches.persisted(
        cv.join(broadcast(qv), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            aggregate(zip_with(col("qv"), col("cv"),
              (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("d2"))
          .withColumn("rank", row_number().over(wL2))
          .filter(col("rank") <= 8)
          .select(col("query_id"), col("neighbor_id")))
      def recallRow(path: String, served: DataFrame, truth: DataFrame,
          barPpm: Long): DataFrame = {
        // ONE pass over the served path for BOTH counts (r18): the old
        // shape consumed `served` twice — once for n_returned, once
        // through a semi-join for hits — re-running the whole serving
        // plan (cell probes / ADC scan) per consumer. truth is unique
        // on (query_id, neighbor_id) by construction (top-k per query),
        // so a left join + count(__hit) ≡ the semi-join count while
        // preserving the served row count.
        val counted = served
          .join(truth.withColumn("__hit", lit(true)),
            Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_returned"),
            count(col("__hit")).as("__h"))
        counted
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("__t"))))
          .crossJoin(broadcast(
            queries.agg(count(lit(1)).as("n_queries"))))
          .select(lit(path).as("path"), col("n_queries"),
            col("n_returned"),
            (col("__h") * 1000000L >= lit(barPpm) * col("__t"))
              .as("recall_ok"))
      }
      // the three index constructions are INDEPENDENT serial job chains
      // over the same small embedding table (separate output dirs, no
      // shared state), so two run on driver side-threads while Lloyd
      // training runs here (guide §2.6 — concurrent jobs backfill each
      // other's stragglers; job-count, not data, is this gate's cost).
      // Both builds are joined before the call returns or throws, so
      // neither writes under `root` after the scratch cleanup clears it.
      val books = Seq.tabulate(4)(_ => Seq.tabulate(8)(j =>
        Seq.tabulate(16)(i => if (i == 2 * j) 1.0 else 0.0)))
      val centers = (0 until 8).map(j =>
        Seq.tabulate(64)(i => if (i == j * 8) 1.0 else 0.0))
      val trained = graft.util.SegmentStore.withWrites(Seq(
        // 1) saved IVF served PRUNED (nprobe = nlist/2 — the production
        // setting; full probe is exact and would certify nothing)
        () => Similarity.buildIvfIndex(emb, "embedding", "vec_id", nlist = 8)
          .save(s"$root/ivf"),
        // 2) IVF-PQ at nprobe = 4 of 8 (q119's fixed books/centers)
        () => Similarity.buildIvfPq(emb, "embedding", "vec_id", centers, books)
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$root/cells"))) {
        // 3) trained PQ (q123's Lloyd iterations from the axis-unit
        // seeds) — driver-side collects per iteration, so it keeps the
        // main thread while the two writes above proceed
        Similarity.pqTrain(emb, "embedding", "vec_id", books, iters = 2)
      }
      val ivfServed = Similarity.ivfQuery(
          Similarity.IvfIndex.load(s, s"$root/ivf"), queries,
          "embedding", "vec_id", k = 5, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val pqServed = Similarity.ivfPqQuery(
          s.read.parquet(s"$root/cells"), queries, "embedding", "vec_id",
          centers, books, k = 8, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val trainedServed = Similarity.pqAdcTopK(
          Similarity.pqEncode(emb, "embedding", "vec_id", trained),
          queries, "embedding", "vec_id", trained, k = 8)
        .select(col("query_id"), col("neighbor_id"))
      // floors pinned from measured recall_ppm across sf0.001/0.01/0.1
      // AND the sf1 ScaleData sweep: ivf_saved 750k/790k/760k/830k →
      // bar 600k (cells grow with the corpus at fixed nlist, so
      // half-probe recall holds); the PQ paths decline with corpus
      // size at FIXED M=4 × K=8 codebooks — 87.5k/75k/62.5k/31.25k and
      // 87.5k/112.5k/81.25k/25k — because quantization resolution is
      // an instantiation constant, not a scaling policy (production
      // scales K/M with the corpus, the q70 occupancy argument). The
      // 20k floor is the REGRESSION guard that holds at every tested
      // SF: a broken encode/ADC path collapses recall to ~k/n
      // (≈ 160 ppm at sf1), three orders below it.
      val out = recallRow("ivf_saved_nprobe4", ivfServed, bfCos, 600000L)
        .unionByName(
          recallRow("ivf_pq_nprobe4", pqServed, bfL2, 20000L))
        .unionByName(
          recallRow("pq_trained", trainedServed, bfL2, 20000L))
        .orderBy(col("path"))
        .localCheckpoint(true) // terminal action: caches + index dirs done
      graft.util.OperatorCaches.releaseSince(s, mk)
      out
    }
  }

  /** q184: compression-ratio quality gate —
    * [[graft.operators.Compress.deflateRatio]]: the redundancy signal
    * char entropy (q164) cannot see — every 13th document is replaced
    * by SIX copies of itself joined by newlines (its character
    * distribution, and so its entropy, barely moves; its deflate ratio
    * collapses, measured ≤ 1820 pp10k vs ≥ 3791 for natural docs
    * across sf0.001/0.01/0.1 — the 2800 floor sits mid-gap). The
    * deflate byte count is zlib-build-bound, so the hashed surface
    * carries the oracle-predictable columns only: the planted byte
    * length and the VERDICT (q27's certification discipline). Map-only:
    * the codegen'd DeflateSize kernel runs on the scan, zero shuffle.
    */
  def deflateRatioGate(s: SparkSession, dir: String): DataFrame = {
    val planted = when(pmod(col("doc_id"), lit(13)) === 0,
      concat_ws("\n", Seq.fill(6)(col("text")): _*))
      .otherwise(col("text"))
    graft.operators.Compress.deflateRatio(
      Tables.documents(s, dir).select(col("doc_id"), planted.as("text")),
      "text", "doc_id", keepMinPp10k = 2800L)
      .select(col("doc_id"), col("n_bytes"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** q185: adaptive recrawl policy —
    * [[graft.operators.Sitemaps.recrawlPolicy]] over q170's snapshot
    * diff: changed pages halve their recrawl interval, unchanged pages
    * double, new pages start at the floor, gone pages retire (NULL).
    * The planted interval store ((doc_id mod 7 + 1) × 2 h, every third
    * url missing → floor fallback) plus a tight [1 h, 4 h] clamp makes
    * every branch AND both clamp boundaries bite. All-integer ms — the
    * oracle replays the policy bit-for-bit. Scale shape: two url-keyed
    * joins over sitemap-entry-sized tables, map-only arithmetic.
    */
  def recrawlPolicyGate(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://ex.com/p/"), col("doc_id").cast("string"))
    val base = lit("2026-01-01").cast("date")
    val docs = Tables.documents(s, dir)
    val prev = docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
      .select(url.as("url"),
        date_add(base, pmod(col("doc_id"), lit(28)).cast("int"))
          .as("lastmod"))
    val cur = docs.filter(pmod(col("doc_id"), lit(11)) =!= 7)
      .select(url.as("url"),
        date_add(base, (pmod(col("doc_id"), lit(28)) +
          when(pmod(col("doc_id"), lit(5)) === 0, 1).otherwise(0))
          .cast("int")).as("lastmod"))
    val iv = docs.filter(pmod(col("doc_id"), lit(3)) =!= 1)
      .select(url.as("url"),
        ((pmod(col("doc_id"), lit(7)) + 1) * 7200000L).as("interval_ms"))
    graft.operators.Sitemaps.recrawlPolicy(
      graft.operators.Sitemaps.diff(prev, cur, "url", "lastmod"), iv,
      "url", "interval_ms", minMs = 3600000L, maxMs = 14400000L)
      .orderBy(col("url"))
  }

  /** q186: cross-source duplication matrix —
    * [[graft.operators.Dedup.sourceOverlap]]: WHERE the duplication
    * lives, before any dedup policy runs. Sources are `src(doc_id mod
    * 20)`, so the two plants exercise both halves of the matrix:
    * every eighth 5-block mirrors its head's text across five DISTINCT
    * sources (off-diagonal pairs), and docs with `doc_id mod 40 ∈
    * 30..33` copy their `-20` sibling — same source by construction
    * (diagonal). Two-phase throughout: the corpus collapses to
    * (fp, source) with map-side partials; the pair join fans out by
    * source count, never duplicate multiplicity; output is
    * |sources|²-bounded.
    */
  def sourceOverlapGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs0 = Tables.documents(s, dir)
      .select(d, col("text"), col("source"))
    val target = when(expr("(doc_id div 5) % 8 = 0"), d - pmod(d, lit(5)))
      .when(pmod(d, lit(40)).between(30, 33), d - 20)
      .otherwise(d)
    val planted = docs0.select(d, col("source"), target.as("__t"))
      .join(docs0.select(d.as("__t"), col("text")), Seq("__t"))
      .select(col("doc_id"), col("source"), col("text"))
    graft.operators.Dedup.sourceOverlap(planted, "text", "source")
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q187: RSS/Atom feed extraction — [[graft.operators.Feeds.parse]]:
    * the third discovery source next to sitemaps and robots pointers.
    * Every 6th doc is an RSS 2.0 feed (item 1: entity-escaped
    * tracking-param link + RFC 822 `+0100` pubDate; item 2: guid +
    * `GMT` pubDate; every 12th-plus-6 doc swaps item 2's date for
    * garbage → NULL ts, raw kept); every 6th-plus-3 doc is an Atom
    * feed (multi-token `rel="alternate nofollow"` href, ISO `Z` and
    * `+01:00` updated stamps, one commented-out entry that must stay
    * invisible). Other docs emit nothing. The hashed surface carries
    * `published_unix` (epoch seconds BIGINT — the q162 integer
    * discipline; the TIMESTAMP stays on the operator for API users).
    * Map-only explode; zero shuffle.
    */
  def feedsGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val id = d.cast("string")
    val m6 = pmod(d, lit(6))
    val badDate = pmod(d, lit(12)) === 6
    val rss = concat(
      lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
        "<title>Feed </title><item><link> HTTPS://Feed.Example.COM:443" +
        "/a/"), id,
      lit("?utm_source=rss&amp;x=1 </link><pubDate>Tue, 03 Feb 2026 " +
        "08:30:00 +0100</pubDate></item><item><guid isPermaLink=" +
        "\"false\">tag-"), id,
      lit("</guid><link>https://feed.example.com/b/"), id,
      lit("</link><pubDate>"),
      when(badDate, lit("yesterday-ish"))
        .otherwise(lit("Wed, 04 Feb 2026 12:00:00 GMT")),
      lit("</pubDate></item></channel></rss>"))
    val atom = concat(
      lit("<?xml version=\"1.0\"?><feed xmlns=\"http://www.w3.org/" +
        "2005/Atom\"><entry><link rel=\"alternate nofollow\" " +
        "href=\"https://feed.example.com/c/"), id,
      lit("\"/><updated>2026-02-03T08:30:00Z</updated></entry>" +
        "<!-- <entry><link href=\"https://ghost.example.com/\"/>" +
        "</entry> --><entry><link href='https://feed.example.com/d/"), id,
      lit("'/><updated>2026-02-04T12:00:00+01:00</updated></entry>" +
        "</feed>"))
    val markup = when(m6 === 0, rss).when(m6 === 3, atom)
      .otherwise(concat(lit("<html><body>Doc "), id,
        lit("</body></html>")))
    graft.operators.Feeds.parse(
      Tables.documents(s, dir).select(col("doc_id"), markup.as("markup")),
      "markup", "doc_id")
      .select(col("doc_id"), col("kind"), col("entry_pos"), col("url"),
        col("url_canon"), col("guid"), col("date_raw"),
        unix_timestamp(col("published_ts")).as("published_unix"))
      .orderBy(col("doc_id"), col("kind"), col("entry_pos"))
  }

  /** q188: max-min fair crawl-budget allocation —
    * [[graft.operators.Frontier.budgetAllocate]]: domains are
    * `site⌊√(doc_id mod 400)⌋` (20 domains with linearly growing page
    * counts, 1·n/400 … 39·n/400), the budget is 55% of the corpus —
    * so the small half crawls fully, the big half caps at the
    * water-filling level, and the integer remainder lands on the
    * lexicographically-first capped domains. Every window runs over
    * the 20-row domain frame; the corpus appears only in the one
    * count rollup.
    */
  def budgetAllocateGate(s: SparkSession, dir: String): DataFrame = {
    val dom = concat(lit("site"),
      floor(sqrt(pmod(col("doc_id"), lit(400)).cast("double")))
        .cast("long").cast("string"),
      lit(".example.com"))
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(dom.as("domain"))
      .agg(count(lit(1)).as("n_pages"))
    val budget = docs.count() * 55L / 100L
    graft.operators.Frontier.budgetAllocate(
        counts, "domain", "n_pages", budget)
      .orderBy(col("domain"))
  }

  /** q189: STREAMING crawl-frontier scheduler on the oracle gate —
    * [[graft.streaming.FrontierStream.assignStaged]] driven by q68's
    * epoch protocol, applied to politeness waves: discovered URLs
    * (domain `site⌊√(doc_id mod 144)⌋` — 12 domains with quadratically
    * growing page counts, so the depth cap saturates the big domains
    * and never the small ones at every SF; priority `doc_id mod 7`)
    * arrive as three ascending-id epochs through the persisted
    * per-domain assigned-count meter. Epoch 1 is REPLAYED after its
    * commit and the replay's waves feed the output — the segment
    * protocol (a replay overwrites its OWN meter segment and reads
    * only strictly-older ones) must re-derive byte-identical waves or
    * the gate hash-diverges; the mid-sequence [[graft.streaming
    * .FrontierStream.compact]] spares the newest segment
    * (`keepNewestSegments = 1`, the replay-horizon contract) and
    * purges superseded debris. Waves continue across epochs from the
    * CAPPED meter (prior = min(arrivals so far, maxDepth) — a
    * saturated domain restarts each epoch at cap + 1, which is why
    * waves are only unique per url, not per (domain, wave)); within an
    * epoch best-first (priority DESC, url ASC), across epochs arrival
    * order. Per-domain delays (site0 2000 ms, site3 500 ms, default
    * 1000) price eta_ms. The oracle replays the whole sequence as one
    * windowed pass — epochs, the meter segments, the replay, and the
    * compaction must all be invisible. The live
    * flatMapGroupsWithState twin is spec-parity-tested in
    * `FrontierStreamSpec`.
    */
  def streamFrontierGate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_frontier_gate") { stateDir =>
      import s.implicits._
      val d = col("doc_id")
      val dom = concat(lit("site"),
        floor(sqrt(pmod(d, lit(144)).cast("double")))
          .cast("long").cast("string"),
        lit(".example.com"))
      val docs = Tables.documents(s, dir)
        .select(d, dom.as("domain"),
          pmod(d, lit(7)).cast("long").as("priority"))
        .select(col("doc_id"),
          concat(lit("https://"), col("domain"), lit("/p/"),
            col("doc_id").cast("string")).as("url"),
          col("domain"), col("priority"))
      val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      val delays = Seq(("site0.example.com", 2000L),
        ("site3.example.com", 500L)).toDF("domain", "delay_ms")
      val cap = 50L
      def epoch(lo: Long, hi: Long): DataFrame =
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
          .select(col("url"), col("domain"), col("priority"))
      def run(e: DataFrame, id: Long): DataFrame =
        graft.streaming.FrontierStream.assignStaged(
          e, stateDir, "url", "priority", delays,
          maxDepth = cap, batchId = id)
      val r0 = run(epoch(Long.MinValue, t1), 0L).localCheckpoint(true)
      // first delivery of batch 1: execute for its store side-effects but
      // DISCARD the waves — a count() materializes without pinning
      // checkpoint blocks for the rest of the session (r17 advice: the
      // eager localCheckpoint here was a pure leak, reclaimed only by GC)
      run(epoch(t1, t2), 1L).count()
      // at-least-once delivery: the replay's waves are what the gate emits
      val r1 = run(epoch(t1, t2), 1L).localCheckpoint(true)
      graft.streaming.FrontierStream.compact(s, stateDir,
        keepNewestSegments = 1)
      graft.streaming.FrontierStream.purgeSuperseded(s, stateDir)
      val r2 = run(epoch(t2, Long.MaxValue), 2L).localCheckpoint(true)
      r0.unionByName(r1).unionByName(r2).orderBy(col("url"))
        .localCheckpoint(true)
    }

  /** The q190/q191 planted WET corpus: (doc_id, wet_text, uri) pages
    * synthesized from `documents` — chrome-only every 11th id, noindex
    * every 13th-residue-4, per-10-block shared text with the 40th-
    * residue-20 cross-duplicate plant, domains `site⌊id/10⌋%5.net`.
    */
  private def curationWetPages(s: SparkSession, dir: String): DataFrame = {
    val docs0 = Tables.documents(s, dir)
    val d = col("doc_id")
    val id = d.cast("string")
    val h = d - pmod(d, lit(10))
    val h2 = when(pmod(h, lit(40)) === 20 && h >= 200, h - 200)
      .otherwise(h)
    val picked = docs0.select(d, h2.as("__h"))
      .join(docs0.select(d.as("__h"),
          coalesce(col("text"), lit("")).as("__t")), Seq("__h"))
      val half = (length(col("__t")) / lit(2)).cast("int")
      val markup = when(pmod(d, lit(11)) === 0,
        lit("<html><body><nav><a href=\"/\">home</a> " +
          "<a href=\"/next\">next</a></nav></body></html>"))
        .otherwise(concat(
          lit("<html><head><title>Doc "), id, lit("</title>"),
          when(pmod(d, lit(13)) === 4,
            lit("<meta name=\"robots\" content=\"noindex\">"))
            .otherwise(lit("")),
          lit("</head><body><h1>Document "), id, lit("</h1><p>"),
          col("__t").substr(lit(1), half), lit("</p><p>"),
          col("__t").substr(half + lit(1), length(col("__t"))),
          lit(" and further details</p></body></html>")))
      val uri = concat(lit("https://www.site"),
        expr("(doc_id div 10) % 5").cast("string"),
        lit(".net/doc/"), id)
    picked.select(d, markup.as("wet_text"), uri.as("uri"))
  }

  /** q190: STREAMING crawl-curation ingest on the oracle gate — the
    * q153 chain's streaming twin [[graft.streaming.CurationStream]]
    * driven end-to-end through its REAL foreachBatch sink (not a
    * reimplementation): synthesized WET records (every 11th page
    * chrome-only so extract bites, every 13th-residue-4 a
    * `meta robots noindex` publisher opt-out, page text block-shared
    * per 10-block with every 40th-residue-20 block REUSING the text of
    * the block 200 ids back — the cross-epoch exact-duplicate plant)
    * flow as three ascending-id epochs through extract → noindex →
    * langid routing ({en, it}) → the persisted fingerprint store →
    * the persisted per-domain token-budget meter. Epoch 1 is REPLAYED
    * after its commit — and after `compactEvery = 1` has already
    * folded both stores' older segments (newest spared, the replay-
    * horizon contract) — so the replay must re-derive byte-identical
    * decisions THROUGH the compacted generation and rewrite only its
    * own `batch=1` output. Domains are block-aligned (`site⌊id/10⌋%5`)
    * so dedup keepers spread over all five budget meters. The oracle
    * replays the whole chain as one pass (global min-id per
    * fingerprint over the routed set; budget prefix sums in doc_id
    * order) — epochs, both stores, the replay, and the compactions
    * must all be invisible.
    */
  def streamCurationGate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cstream_gate") { root =>
      val (dedupDir, budgetDir, outDir) =
        (s"$root/dedup", s"$root/budget", s"$root/out")
      // multi-file WET write (NO coalesce(1)): collapsing would pull
      // the markup-build join into one task, and a real crawl delivers
      // many WET files per epoch anyway — the reader is directory-based
      graft.io.Wet.toRecords(
          curationWetPages(s, dir), "wet_text", "uri")
        .write.mode("overwrite")
        .option("lineSep", graft.io.Wet.RecordSeparator)
        .text(s"$root/wet")
      val read = graft.io.Wet.read(s, s"$root/wet")
      val rid = regexp_extract(col("target_uri"), "([0-9]+)$", 1)
        .cast("long")
      val maxId = Tables.documents(s, dir)
        .agg(max(col("doc_id"))).first().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      // 300 tokens/domain: at sf0.001 each site's survivor total is
      // 380–670, so every meter admits its early docs and rejects its
      // tail at every SF (the cap binds harder as SF grows)
      val cs = new graft.streaming.CurationStream(
        s, dedupDir, budgetDir, outDir,
        budget = 300L, compactEvery = 1)
      def epoch(lo: Long, hi: Long): DataFrame =
        read.filter(rid > lo && rid <= hi)
      cs.sink()(epoch(Long.MinValue, t1), 0L)
      cs.sink()(epoch(t1, t2), 1L)
      // at-least-once delivery: the replay rewrites batch=1 THROUGH the
      // already-compacted stores; its decisions are what the gate hashes
      cs.sink()(epoch(t1, t2), 1L)
      cs.sink()(epoch(t2, Long.MaxValue), 2L)
      cs.decisions()
        .select(col("doc_id"), col("batch").cast("long").as("epoch"),
          col("source"), col("n_tokens"), col("cum_before"),
          col("admitted"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    }

  /** q191: CurationStream's CHECKPOINTED RUNTIME path on the oracle
    * gate — q190 drives `processBatch`/`sink` directly; this gate
    * drives [[graft.streaming.CurationStream.start]] end-to-end: a
    * REAL `StreamingQuery` over a watched WET directory with a real
    * checkpoint, KILLED mid-sequence and RESTARTED through that
    * checkpoint (q63's restart-recovery discipline applied to the
    * curation chain). The corpus lands as six id-RANGE-partitioned WET
    * files (`repartitionByRange` — monotone doc_id across files, so
    * ANY micro-batching preserves global id order and the one-pass
    * oracle stays batch-invariant) with strictly increasing mtimes;
    * the first four are visible to run 1 (`maxFilesPerTrigger = 1` →
    * four micro-batches, `compactEvery = 1` folding both stores
    * between them), then the stream stops, the last two files arrive,
    * and a SECOND `start` on the same checkpoint must resume at batch
    * 4 — NOT re-ingest files 0–3. A broken recovery double-admits
    * budget tokens and re-registers fingerprints, shifting every
    * `cum_before` after the restart point; the oracle (q190's one-pass
    * replay minus the epoch column) catches one token of drift.
    */
  def streamCurationRestartGate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_cstream_rst") { root =>
      val (dedupDir, budgetDir, outDir) =
        (s"$root/dedup", s"$root/budget", s"$root/out")
      // range-partitioned WET staging: file k holds a contiguous
      // doc_id range below file k+1's (the batch-invariance contract
      // above); still a distributed write — no single-task collapse
      graft.io.Wet.toRecords(
          curationWetPages(s, dir)
            .repartitionByRange(6, col("doc_id")),
          "wet_text", "uri")
        .write.mode("overwrite")
        .option("lineSep", graft.io.Wet.RecordSeparator)
        .text(s"$root/stage")
      val stage = new java.io.File(s"$root/stage")
      val parts = stage.listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .sortBy(_.getName)
      val wetDir = new java.io.File(s"$root/wet")
      wetDir.mkdirs()
      // deliver file i as b00i.wet with a strictly increasing mtime so
      // the file source's (mtime, path) order equals the id order
      def deliver(range: Range): Unit = range.foreach { i =>
        val dst = new java.io.File(wetDir, f"b$i%03d.wet")
        java.nio.file.Files.move(parts(i).toPath, dst.toPath)
        dst.setLastModified(1600000000000L + i * 60000L): Unit
      }
      val cs = new graft.streaming.CurationStream(
        s, dedupDir, budgetDir, outDir,
        budget = 300L, compactEvery = 1)
      deliver(0 until 4)
      // two files per trigger: the restart protocol needs multiple
      // batches per phase, not one batch per file — and the oracle is
      // batching-invariant by the range-partition contract above
      val q1 = cs.start(s"$root/wet", s"$root/ckpt", maxFilesPerTrigger = 2)
      q1.processAllAvailable(); q1.stop()
      deliver(4 until 6)
      // restart THROUGH the checkpoint: resumes at the next batch id,
      // ingesting only the two new files
      val q2 = cs.start(s"$root/wet", s"$root/ckpt", maxFilesPerTrigger = 2)
      q2.processAllAvailable(); q2.stop()
      cs.decisions()
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_before"), col("admitted"))
        .localCheckpoint(true)
    }

  /** q179: URL-template mining — [[graft.operators.Urls.pathTemplate]]:
    * digit runs mask to `{n}` so a million product pages collapse to
    * one row, and the per-(domain, template) page count exposes crawl
    * traps (the planted calendar template accumulates ~45% of each
    * host's pages and crosses the trap threshold; the product/review
    * templates and the literal `/about` stay under it). One
    * (host, template)-keyed rollup — partial aggregation collapses
    * the corpus map-side. Keyed by HOST, not registered domain: traps
    * are host-scoped, and the planted subdomains share one domain.
    */
  def urlTemplateGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val id = d.cast("string")
    val m4 = pmod(d, lit(4))
    val path = when(m4 === 0, concat(lit("/p/"), id))
      .when(m4 === 1, concat(lit("/p/"), id, lit("/rev/"),
        pmod(d, lit(7)).cast("string")))
      .when(pmod(d, lit(20)) === 3, lit("/about"))
      .otherwise(concat(lit("/cal/2026/"),
        (pmod(d, lit(12)) + 1).cast("string"), lit("/"),
        (pmod(d, lit(28)) + 1).cast("string")))
    val url = concat(lit("https://s"), pmod(d, lit(5)).cast("string"),
      lit(".ex.com"), path)
    val urls = Tables.documents(s, dir).select(url.as("url"))
    urls
      .select(graft.operators.Urls.hostOf(col("url")).as("host"),
        graft.operators.Urls.pathTemplate(col("url")).as("template"))
      .groupBy(col("host"), col("template"))
      .agg(count(lit(1)).as("pages"))
      .withColumn("trap_suspect", col("pages") >= 40)
      .orderBy(col("host"), col("template"))
  }

  /** q180: query-parameter cardinality audit —
    * [[graft.operators.Urls.explodeParams]]: the EMPIRICAL
    * tracking-parameter discovery the static drop-list can't do (the
    * round-15 `ref` lesson: a generic key is content on one site,
    * tracking on another — only its value distribution says which).
    * Per (host, key): URL count, distinct-value count, and the
    * verdict — `identifier` when values track URLs (a content id,
    * NEVER strip), `constant` when one value (strip candidate),
    * `enum` between. Planted: a per-URL id, a constant utm_source, a
    * 5-value page enum, a 2-value session, and a valueless flag. One
    * (domain, key)-keyed aggregation with a distinct inside.
    */
  def paramAuditGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val id = d.cast("string")
    val url = concat(lit("https://s"), pmod(d, lit(3)).cast("string"),
      lit(".ex.com/p/"), id, lit("?id="), id,
      lit("&utm_source=feed&page="), pmod(d, lit(5)).cast("string"),
      lit("&session="),
      when(pmod(d, lit(2)) === 0, "a").otherwise(lit("b")),
      lit("&flag"))
    val urls = Tables.documents(s, dir).select(url.as("url"))
    graft.operators.Urls.explodeParams(urls, "url")
      .select(graft.operators.Urls.hostOf(col("url")).as("host"),
        col("param_key"), col("param_value"))
      .groupBy(col("host"), col("param_key"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("param_value")).as("n_values"))
      .withColumn("kind",
        when(col("n_values") === 1, "constant")
          .when(col("n_values") * 2 >= col("n_urls"), "identifier")
          .otherwise(lit("enum")))
      .orderBy(col("host"), col("param_key"))
  }

  /** q178: sitemap-index recursion —
    * [[graft.operators.Sitemaps.parseIndex]] composed with
    * [[graft.operators.Sitemaps.parse]]: every 100-block's residue-10
    * document is an INDEX pointing at two real child sitemaps (one
    * pointer shouting/tracking-parameterized so the q146 chain must
    * collapse it, one commented-out pointer invisible) plus one
    * dangling pointer to a sitemap that was never fetched; children
    * join by canonical pointer → fetch URL and expand into their
    * urlset pages, the dangling child surviving with NULL page columns
    * (missing-child accounting is the point of the gate). Two
    * map-only parses + one left join on sitemap-count-sized inputs.
    */
  def sitemapIndexGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val id = d.cast("string")
    val m20 = pmod(d, lit(20))
    val m100 = pmod(d, lit(100))
    val markup = when(m100 === 10, concat(
      lit("<sitemapindex><sitemap><loc> HTTPS://Ex.COM:443/sm/"),
      (d - 10).cast("string"),
      lit(".xml?utm_source=i </loc><lastmod>2026-02-01T00:00:00Z" +
        "</lastmod></sitemap><sitemap><loc>https://ex.com/sm/"),
      (d + 10).cast("string"), lit(".xml</loc></sitemap>"),
      lit("<sitemap><loc>https://ex.com/sm/9999980.xml</loc></sitemap>"),
      lit("<!-- <sitemap><loc>https://ghost.ex.com/x.xml</loc>" +
        "</sitemap> --></sitemapindex>")))
      .when(m20 === 0, concat(
        lit("<urlset><url><loc>https://ex.com/pg/"), id,
        lit("/a</loc></url><url><loc>https://ex.com/pg/"), id,
        lit("/b</loc></url></urlset>")))
      .otherwise(concat(lit("<html><body>Doc "), id,
        lit("</body></html>")))
    val smUrl = when(m20 === 0,
      concat(lit("https://ex.com/sm/"), id, lit(".xml")))
    val docsm = Tables.documents(s, dir)
      .select(d, markup.as("markup"), smUrl.as("sm_url"))
    val children = graft.operators.Sitemaps
      .parseIndex(docsm, "markup", "doc_id")
      .select(d.as("index_id"), col("entry_pos").as("child_pos"),
        col("url_canon").as("child_url"), col("lastmod")
          .as("child_lastmod"))
    val pages = graft.operators.Sitemaps.parse(docsm, "markup", "doc_id")
      .select(d.as("page_doc"), col("entry_pos").as("page_pos"),
        col("loc").as("page_loc"))
    val key = docsm.filter(col("sm_url").isNotNull)
      .select(d.as("page_doc"), col("sm_url"))
    children
      .join(key, col("child_url") === col("sm_url"), "left")
      .join(pages, Seq("page_doc"), "left")
      .select(col("index_id"), col("child_pos"), col("child_url"),
        col("child_lastmod"), col("page_doc").isNotNull.as("child_found"),
        col("page_doc"), col("page_pos"), col("page_loc"))
      .orderBy(col("index_id"), col("child_pos"), col("page_pos"))
  }

  /** q177: retry/backoff schedule —
    * [[graft.operators.Frontier.retrySchedule]]: planted fetch
    * outcomes (seven 200s, a 503, a 429 carrying `Retry-After: 7`, a
    * 502) yield three future attempts per failure at
    * `max(Retry-After, 1s·2^(k−1))` capped at 60 s — the 429's 7 s
    * floor dominates attempts 1–3 (7/7/7 s) while the 5xx rows walk
    * the exponential (1/2/4 s); cumulative `eta_ms` per attempt.
    * Successes and hard errors emit nothing.
    */
  def retryScheduleGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val m10 = pmod(d, lit(10))
    val responses = Tables.documents(s, dir).select(
      concat(lit("https://ex.com/p/"), d.cast("string")).as("url"),
      when(m10 === 7, 503L).when(m10 === 8, 429L)
        .when(m10 === 9, 502L).otherwise(200L).as("status"),
      when(m10 === 8, 7L).cast("long").as("retry_after_sec"))
    graft.operators.Frontier.retrySchedule(responses, "url", "status",
      "retry_after_sec", maxAttempts = 3, baseMs = 1000L, capMs = 60000L)
      .orderBy(col("url"), col("attempt"))
  }

  /** q176: crawl-politeness audit — the COMPLIANCE twin of q165/q166:
    * given a fetch log (events as fetches, `user_id mod 7` as the
    * domain, deterministic per-domain crawl delays), compute each
    * domain's inter-fetch gaps (event-time ordered, event-id
    * tiebreak) and count violations of its delay — the report a crawl
    * operator ships to prove the scheduler held. All integer
    * microseconds; the gaps come from
    * [[graft.operators.Frontier.fetchGaps]] — DAY-BUCKETED lag with a
    * boundary-row carry, bit-identical to the unbounded domain window
    * but bounded per task by fetches-per-day, so a months-long
    * mega-domain log never serializes into one window sort — then a
    * 7-row rollup.
    */
  def politenessAuditGate(s: SparkSession, dir: String): DataFrame = {
    val m7 = pmod(col("user_id"), lit(7))
    val dom = concat(lit("site"), m7.cast("string"), lit(".example.com"))
    val delayUs = when(pmod(m7, lit(3)) === 0, 2000000L)
      .otherwise(500000L)
    graft.operators.Frontier.fetchGaps(
      Tables.events(s, dir)
        .select(dom.as("domain"), col("event_id"),
          unix_micros(col("ts")).as("us"), delayUs.as("delay_us")),
      "domain", "us", "event_id")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("fetches"),
        sum(when(col("gap_us") < col("delay_us"), 1L).otherwise(0L))
          .as("violations"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        max(col("delay_us")).as("delay_us"))
      .orderBy(col("domain"))
  }

  /** q175: blocklist word gate — [[graft.operators.Wordfilter.score]]:
    * the C4 bad-words stage with a 3-word policy list; every 23rd doc
    * gets a planted two-hit tail, every 46th a third hit, so hits,
    * multiplicity, density and both verdicts are exercised. Whole-
    * token equality only (a planted "classy" must NOT hit). Map-only:
    * one tokenizer pass, the list an InSet literal probe.
    */
  def wordfilterGate(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(pmod(col("doc_id"), lit(23)) === 0,
        lit("\nwin the jackpot at our casino classy")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(46)) === 0,
        lit(" jackpot again")).otherwise(lit("")))
    graft.operators.Wordfilter.score(
      Tables.documents(s, dir).select(col("doc_id"), planted.as("text")),
      "text", "doc_id", words = Seq("jackpot", "casino", "class"))
      .orderBy(col("doc_id"))
  }

  /** q174: robots `Sitemap:` directives —
    * [[graft.operators.Robots.sitemaps]]: the cross-group seed
    * pointers (RFC 9309 §2.3 — group-independent, so one is planted
    * BETWEEN groups and still extracts). Plants: a shouting
    * default-port tracking-param URL the q146 chain must canonicalize,
    * two pointers split across group boundaries, a lowercase key with
    * a trailing comment, a malformed URL (raw kept, canon NULL), an
    * empty value (dropped), a robots-less domain (no row), and an
    * exact duplicate (distinct collapses). Domain-sized metadata
    * parse; map-only plus one distinct.
    */
  def robotsSitemapGate(s: SparkSession, dir: String): DataFrame = {
    val rdom = concat(lit("site"), col("id").cast("string"),
      lit(".example.com"))
    val txt = when(col("id") === 0,
      lit("User-agent: *\nDisallow: /x\nSitemap: " +
        "HTTP://WWW.Site0.Example.COM:80/sitemap.xml?utm_source=r&b=2&a=1\n"))
      .when(col("id") === 1,
        lit("Sitemap: https://site1.example.com/sm1.xml\n" +
          "User-agent: *\nDisallow: /y\n" +
          "Sitemap: https://site1.example.com/sm2.xml\n"))
      .when(col("id") === 2,
        lit("User-agent: *\nsitemap: https://site2.example.com/sm.xml" +
          " # main\n"))
      .when(col("id") === 3, lit("User-agent: *\nSitemap: not a url\n"))
      .when(col("id") === 4, lit("Sitemap:\nUser-agent: *\n"))
      .otherwise(lit("Sitemap: https://site6.example.com/a.xml\n" +
        "Sitemap: https://site6.example.com/a.xml\n"))
    val robots = s.range(0, 7).filter(col("id") =!= 5)
      .select(rdom.as("domain"), txt.as("txt"))
    graft.operators.Robots.sitemaps(robots, "domain", "txt")
      .orderBy(col("domain"), col("sitemap_url"))
  }

  /** q173: WARC response round-trip + fetch gate —
    * [[graft.io.Wet.toResponseRecords]] / [[graft.io.Wet
    * .readResponses]]: the raw-fetch stage BEFORE WET extraction.
    * Planted per 10-block: seven 200 text/html pages (one with a
    * `; charset=` parameter the parse must strip), a 301 with a
    * Location header, a 404, and a 200 application/pdf; the corpus
    * round-trips through a real `.warc` file (record-head framing,
    * split-safe) and the gate emits the fetch verdict — keep
    * `status = 200 ∧ content_type = text/html` — plus the redirect
    * Location ready for [[graft.operators.Redirects]]. The oracle
    * recomputes the planted truth directly: round-trip identity is the
    * claim under test (q150's discipline).
    */
  def warcHttpGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val id = d.cast("string")
    val m10 = pmod(d, lit(10))
    val body = substring(
      regexp_replace(coalesce(col("text"), lit("")), "\r", ""), 1, 80)
    val status = when(m10 === 7, 301L)
      .when(m10 === 8, 404L).otherwise(200L)
    val reason = when(m10 === 7, "Moved Permanently")
      .when(m10 === 8, "Not Found").otherwise(lit("OK"))
    val ctype = when(m10 === 9, "application/pdf")
      .when(m10 === 6, "text/html; charset=UTF-8")
      .otherwise(lit("text/html"))
    val location = when(m10 === 7,
      concat(lit("https://ex.com/p/"), (d + 1).cast("string")))
    val rendered = Tables.documents(s, dir).select(
      concat(lit("https://ex.com/p/"), id).as("uri"),
      status.as("status"), reason.as("reason"), ctype.as("ctype"),
      location.as("location"),
      when(m10 === 8, lit("not found")).otherwise(body).as("body"))
    scratch(s, "graft_warc") { path =>
      graft.io.Wet
        .toResponseRecords(rendered, "uri", "status", "reason", "ctype",
          "location", "body")
        .write.mode("overwrite")
        .option("lineSep", graft.io.Wet.RecordSeparator)
        .text(s"$path/warc")
      graft.io.Wet.readResponses(s, s"$path/warc")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("target_uri"), col("status"), col("content_type"),
          col("location"),
          octet_length(col("body")).cast("long").as("body_len"),
          coalesce(col("status") === 200 &&
            col("content_type") === "text/html", lit(false)).as("fetch_ok"),
          col("status").between(300, 399).as("redirect"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    }
  }

  /** q172: hreflang variant clusters —
    * [[graft.operators.Html.alternates]]: every 4-block plants an
    * en/fr/de language-variant trio whose pages each declare the full
    * alternate set plus an `x-default` (shouting default-port
    * tracking-param form on one variant — the q146 canonicalization
    * must collapse it), one page adds a stylesheet decoy and a
    * commented-out alternate (both invisible), the fourth page is a
    * standalone. Cluster key = min canonical x-default, falling back
    * to the page's own URL; min-id election per cluster (the q160
    * discipline: two-phase groupBy + join back, never a cluster-keyed
    * window — a viral x-default is a hot key) — the grouping that
    * makes a 3-language article ONE document for sampling. Extraction
    * map-only.
    */
  def hreflangGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val m4 = pmod(d, lit(4))
    val b = (d - m4).cast("string")
    val id = d.cast("string")
    def altDq(lang: String) = concat(
      lit(s"""<link rel="alternate" hreflang="$lang" href="https://ex.com/$lang/"""),
      b, lit("\">"))
    val xdefDq = concat(
      lit("<link rel=\"alternate\" hreflang=\"x-default\" " +
        "href=\"HTTPS://Ex.COM:443/en/"), b, lit("?utm_source=x\">"))
    def altSq(lang: String) = concat(
      lit(s"<LINK HREF='https://ex.com/$lang/"), b,
      lit(s"' HREFLANG='${lang.toUpperCase}' REL='alternate'>"))
    val markup = concat(lit("<html><head>"),
      when(m4 === 0, concat(altDq("en"), altDq("fr"), altDq("de"), xdefDq))
        .when(m4 === 1, concat(
          lit("<link rel=\"stylesheet\" href=\"/s.css\">"),
          altDq("en"), altDq("fr"), altDq("de"),
          lit("<!-- <link rel=\"alternate\" hreflang=\"zz\" " +
            "href=\"https://ghost.ex.com/\"> -->"), xdefDq))
        .when(m4 === 2, concat(altSq("en"), altSq("fr"), altSq("de"),
          concat(lit("<LINK HREF='https://ex.com/en/"), b,
            lit("' HREFLANG='X-DEFAULT' REL='alternate'>"))))
        .otherwise(lit("")),
      lit("</head><body>Doc "), id, lit("</body></html>"))
    val ownUrl = when(m4 === 0, concat(lit("https://ex.com/en/"), b))
      .when(m4 === 1, concat(lit("https://ex.com/fr/"), b))
      .when(m4 === 2, concat(lit("https://ex.com/de/"), b))
      .otherwise(concat(lit("https://ex.com/solo/"), id))
    val docsm = Tables.documents(s, dir)
      .select(d, markup.as("markup"), ownUrl.as("url"))
    val xdef = graft.operators.Html
      .alternates(docsm, "markup", "doc_id")
      .filter(col("hreflang") === "x-default")
      .select(d, graft.operators.Urls.canonicalize(col("href")).as("xd"))
      .groupBy(d).agg(min(col("xd")).as("xd"))
    val keyed = docsm.select(d, col("url"))
      .join(xdef, Seq("doc_id"), "left")
      .withColumn("cluster_key", coalesce(col("xd"), col("url")))
    val reps = keyed.groupBy(col("cluster_key"))
      .agg(min(d).as("rep_id"))
    keyed.join(reps, Seq("cluster_key"))
      .select(d, col("url"), col("cluster_key"), col("rep_id"),
        (d === col("rep_id")).as("is_rep"))
      .orderBy(d)
  }

  /** q171: pagination-series resolution — `rel=next` chains
    * ([[graft.operators.Html.relLink]]) REVERSED and collapsed with
    * [[graft.operators.Redirects.resolve]]: every page of a paginated
    * series maps to its head (the page nothing points to) with its
    * 0-based position and the series length — the grouping a curation
    * pipeline needs to treat a 4-page article as ONE document (dedup
    * keys, token budgets, extraction stitching). Plants: 4-page series
    * per 10-block (three quote/order/case variants of the link tag), a
    * commented-out next on some tails (must stay invisible), and a
    * malformed next href (NULL canon → standalone). Scale shape:
    * extraction map-only; the resolve is 2 edge-set self-joins; series
    * length is one head-keyed aggregate joined back.
    */
  def paginationGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val id = d.cast("string")
    val m10 = pmod(d, lit(10))
    val nextUrl = concat(lit("https://ex.com/a/"), (d + 1).cast("string"))
    val markup = concat(lit("<html><head>"),
      when(m10.isin(0, 1, 2),
        when(pmod(d, lit(3)) === 0, concat(
          lit("<link rel=\"next\" href=\""), nextUrl, lit("\">")))
          .when(pmod(d, lit(3)) === 1, concat(
            lit("<LINK HREF='"), nextUrl, lit("' REL='next'>")))
          .otherwise(concat(
            lit("<link rel='next' href='"), nextUrl, lit("'>"))))
        .when(m10 === 3 && pmod(d, lit(20)) === 3, concat(
          lit("<!-- <link rel=\"next\" href=\""), nextUrl, lit("\"> -->")))
        .when(m10 === 7, lit("<link rel=\"next\" href=\"not a url\">"))
        .otherwise(lit("")),
      lit("</head><body>Doc "), id, lit("</body></html>"))
    val docs = Tables.documents(s, dir)
    val nexts = graft.operators.Html.relLink(
      docs.select(d, markup.as("markup")), "markup", "doc_id",
      rel = "next", outCol = "next_href")
    val canon = graft.operators.Urls.canonicalize(col("next_href"))
    // reversed functional map: next-target → its predecessor; the walk
    // from any page ends at the series head (nothing points to it)
    val reversed = nexts
      .select(regexp_extract(canon, "/a/([0-9]+)$", 1).cast("long")
        .as("src"), d.as("dst"))
      .where(col("src").isNotNull)
    val res = graft.operators.Redirects
      .resolve(reversed, "src", "dst", doublings = 2)
      .select(col("src").as("doc_id"), col("terminal"), col("hops"))
    val placed = docs.select(d)
      .join(res, Seq("doc_id"), "left")
      .select(d, coalesce(col("terminal"), d).as("head_id"),
        coalesce(col("hops"), lit(0L)).as("position"))
    val lens = placed.groupBy(col("head_id"))
      .agg(count(lit(1)).as("series_len"))
    placed.join(lens, Seq("head_id"))
      .select(d,
        concat(lit("https://ex.com/a/"), id).as("url"),
        concat(lit("https://ex.com/a/"), col("head_id").cast("string"))
          .as("head_url"),
        col("position"), col("series_len"))
      .orderBy(d)
  }

  /** q170: sitemap snapshot diff — [[graft.operators.Sitemaps.diff]]:
    * the incremental-recrawl work list between two planted snapshots
    * (every 11th-residue-3 URL is new, residue-7 gone, every 5th
    * lastmod bumped a day = changed, the rest unchanged). One
    * url-keyed full-outer join over sitemap-entry-sized inputs.
    */
  def sitemapDiffGate(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://ex.com/p/"), col("doc_id").cast("string"))
    val base = lit("2026-01-01").cast("date")
    val docs = Tables.documents(s, dir)
    val prev = docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
      .select(url.as("url"),
        date_add(base, pmod(col("doc_id"), lit(28)).cast("int"))
          .as("lastmod"))
    val cur = docs.filter(pmod(col("doc_id"), lit(11)) =!= 7)
      .select(url.as("url"),
        date_add(base, (pmod(col("doc_id"), lit(28)) +
          when(pmod(col("doc_id"), lit(5)) === 0, 1).otherwise(0))
          .cast("int")).as("lastmod"))
    graft.operators.Sitemaps.diff(prev, cur, "url", "lastmod")
      .orderBy(col("url"))
  }

  /** q169: URL-discovery funnel — the frontier-side counterpart of
    * q153's content chain, ONE dataflow with q83-style stage
    * accounting: sitemap seeds (q162's plant) ∪ outlinks (tracking-
    * param and cross-document duplicate targets) ∪ FEED ENTRIES
    * ([[graft.operators.Feeds.parse]] over planted RSS on every
    * 10th-residue-7 doc — the funnel's declared third source; shouting
    * scheme/host + default port + tracking param so canonicalization
    * bites, a badsite.net item so the blocklist bites on feed-sourced
    * urls too, and every 20th-residue-7 feed re-announcing its doc's
    * own outlink so CROSS-SOURCE dedup visibly collapses it) →
    * canonical dedup → PSL blocklist → robots verdicts (a planted
    * `Disallow: /doc/1` prefix that bites /doc/1, /doc/1x, /doc/1xx)
    * → anti-join against the already-crawled set. Output: one row per
    * stage with the surviving URL count (feed extraction accounted as
    * its own stage row) — every stage visibly bites. Scale shape:
    * feed parse + canonicalization map-only, dedup one exchange,
    * blocklist/robots broadcast, the crawled-set anti-join
    * key-partitioned; shared stages persisted once (the q153
    * loop-invariant discipline), six scalar counts off the cached
    * frames.
    */
  def discoveryFunnelGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val id = col("doc_id").cast("string")
    val b = (col("doc_id") - pmod(col("doc_id"), lit(10))).cast("string")
    val seeds = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(explode(array(
        concat(lit("https://www.example.com/page/"), id,
          lit("?utm_source=m")),
        concat(lit("https://ads.badsite.net/promo/"), id))).as("url"))
    val link1 = concat(lit("HTTP://WWW.Example.COM:80/doc/"), id,
      lit("?b=2&a=1"))
    val blogLink = concat(lit("https://blog.example.com/post?id="), b)
    val links = docs.select(explode(
      when(pmod(col("doc_id"), lit(5)) === 0, array(link1, blogLink))
        .otherwise(array(link1))).as("url"))
    val feedMarkup = concat(
      lit("<rss version=\"2.0\"><channel><item><link> " +
        "HTTPS://Feed.Example.COM:443/f/"), id,
      lit("?utm_source=rss </link></item><item><link>" +
        "https://ads.badsite.net/feed/"), id,
      lit("</link></item>"),
      when(pmod(col("doc_id"), lit(20)) === 7,
        concat(lit("<item><link>HTTP://WWW.Example.COM:80/doc/"), id,
          lit("?b=2&amp;a=1</link></item>"))).otherwise(lit("")),
      lit("</channel></rss>"))
    val mk = graft.util.OperatorCaches.mark()
    val feed = graft.util.OperatorCaches.persisted(
      graft.operators.Feeds.parse(
          docs.filter(pmod(col("doc_id"), lit(10)) === 7)
            .select(col("doc_id"), feedMarkup.as("markup")),
          "markup", "doc_id")
        .select(col("url")))
    val discovered = graft.util.OperatorCaches.persisted(
      seeds.unionByName(links).unionByName(feed))
    val dedup = graft.util.OperatorCaches.persisted(
      discovered
        .select(graft.operators.Urls.canonicalize(col("url")).as("u"))
        .filter(col("u").isNotNull).distinct())
    val block = Seq("badsite.net").toDF("__bd")
    val unblocked = graft.util.OperatorCaches.persisted(
      dedup
        .withColumn("domain", nullif(graft.operators.PublicSuffix
          .registeredDomain(col("u")), lit("")))
        .join(broadcast(block.withColumn("__blocked", lit(true))),
          col("domain") === col("__bd"), "left")
        .filter(col("__blocked").isNull)
        .select(col("u")))
    val robots = Seq(("example.com", "User-agent: *\nDisallow: /doc/1\n"))
      .toDF("domain", "txt")
    val allowed = graft.util.OperatorCaches.persisted(
      graft.operators.Robots.verdict(unblocked, "u", "u",
        graft.operators.Robots.rules(robots, "domain", "txt"))
        .filter(col("allowed")).select(col("u")))
    val seen = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(concat(lit("http://www.example.com/doc/"), id,
        lit("?a=1&b=2")).as("u"))
    val fresh = allowed.join(seen, Seq("u"), "left_anti")
    def cnt(idx: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("urls"))
        .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("urls"))
    val out = cnt(0, "feed_entries", feed)
      .unionByName(cnt(1, "discovered", discovered))
      .unionByName(cnt(2, "canonical_distinct", dedup))
      .unionByName(cnt(3, "after_blocklist", unblocked))
      .unionByName(cnt(4, "robots_allowed", allowed))
      .unionByName(cnt(5, "frontier_new", fresh))
      .orderBy(col("stage_idx"))
      .localCheckpoint(true) // terminal action: the caches are consumed
    graft.util.OperatorCaches.releaseSince(s, mk)
    out
  }

  /** q168: publication-date extraction —
    * [[graft.operators.Html.publishedDate]]: Open Graph
    * `article:published_time` (both attribute orders, one shouting
    * single-quoted), HTML5 `<time datetime>`, legacy `<meta
    * name=date>`, precedence pinned by a decoy `<time>` that must LOSE
    * to the meta tag, a malformed value (`last tuesday` → raw kept,
    * DATE NULL), a commented-out tag (invisible → all NULL), and
    * integer `age_days` against a fixed as-of date. Map-only: four
    * regex probes on the scan, zero shuffle.
    */
  def publishedDateGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m4 = pmod(col("doc_id"), lit(4))
    val dd = lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"),
      2, "0")
    val markup = concat(lit("<html><head>"),
      when(m4 === 0, concat(
        lit("<meta property=\"article:published_time\" " +
          "content=\"2026-03-"), dd,
        lit("T10:00:00Z\"><time datetime=\"2020-01-01\">old</time>")))
        .when(m4 === 1, concat(
          lit("<META CONTENT='2025-12-"), dd,
          lit("' PROPERTY='article:published_time'>")))
        .when(m4 === 2,
          when(pmod(col("doc_id"), lit(8)) === 2,
            lit("<meta name=\"date\" content=\"last tuesday\">"))
            .otherwise(concat(lit("<time datetime=\"2024-06-"), dd,
              lit("T08:00:00+01:00\">June</time>"))))
        .otherwise(
          lit("<!-- <meta name=\"date\" content=\"1999-01-01\"> -->")),
      lit("</head><body><p>Doc "), id, lit("</p></body></html>"))
    graft.operators.Html.publishedDate(
      Tables.documents(s, dir).select(col("doc_id"), markup.as("markup")),
      "markup", "doc_id", asOf = "2026-08-01")
      .orderBy(col("doc_id"))
  }

  /** q167: mojibake triage — [[graft.operators.Mojibake.score]]: every
    * 19th document gets a planted cp1252-damage tail (`naÃ¯ve caffÃ©
    * â€” donâ€™t` — four artifact digraphs), every 38th additionally a
    * U+FFFD replacement character; the report counts both classes,
    * derives integer per-10k-chars density, and flags clean docs.
    * Map-only: two regexp_count probes on the scan, zero shuffle.
    */
  def mojibakeGate(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(pmod(col("doc_id"), lit(19)) === 0,
        lit("\nnaÃ¯ve caffÃ© â€” " +
          "donâ€™t")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(38)) === 0,
        lit(" bad�bytes")).otherwise(lit("")))
    graft.operators.Mojibake.score(
      Tables.documents(s, dir).select(col("doc_id"), planted.as("text")),
      "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** q166: robots-delay-driven polite frontier — the composition gate
    * closing the politeness loop: [[graft.operators.Robots
    * .crawlDelays]] parses per-domain `Crawl-delay` out of the planted
    * robots bodies (integer seconds, fractional `1.5`, a non-`*` group
    * that must be ignored, a malformed `soon`, a delay-less body, a
    * robots-less domain, and a two-value group taking the politeness-
    * conservative max) and feeds [[graft.operators.Frontier.schedule]]
    * as q165's delay table — parse failures and absent domains fall
    * through to the 1000 ms default at the SCHEDULER, not silently at
    * the parser. Same scale shape as q159 + q165: domain-sized robots
    * parse, one WindowGroupLimit window, broadcast delay join.
    */
  def politeFrontierGate(s: SparkSession, dir: String): DataFrame = {
    val rdom = concat(lit("site"), col("id").cast("string"),
      lit(".example.com"))
    val txt = when(col("id") === 0,
      lit("User-agent: *\nCrawl-delay: 2\nDisallow: /tmp/\n"))
      .when(col("id") === 1, lit("User-agent: *\nCrawl-delay: 1.5\n"))
      .when(col("id") === 2,
        lit("User-agent: googlebot\nCrawl-delay: 9\n\n" +
          "User-agent: *\nCrawl-delay: 0.25\n"))
      .when(col("id") === 3, lit("User-agent: *\nCrawl-delay: soon\n"))
      .when(col("id") === 4, lit("User-agent: *\nDisallow: /x\n"))
      .otherwise(lit("User-agent: *\nCrawl-delay: 3\n" +
        "# peak hours\nCrawl-delay: 1\n"))
    val robots = s.range(0, 7).filter(col("id") =!= 5)
      .select(rdom.as("domain"), txt.as("txt"))
    val delays = graft.operators.Robots.crawlDelays(robots, "domain", "txt")
    val dom = concat(lit("site"),
      pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.com"))
    val frontier = Tables.documents(s, dir).select(
      concat(lit("https://"), dom, lit("/p/"),
        col("doc_id").cast("string")).as("url"),
      dom.as("domain"),
      pmod(col("doc_id") * 37 + 11, lit(100)).cast("long").as("priority"))
    graft.operators.Frontier.schedule(frontier, "url", "domain",
      "priority", delays, maxDepth = 40)
      .orderBy(col("domain"), col("wave"))
  }

  /** q165: crawl-frontier scheduling —
    * [[graft.operators.Frontier.schedule]]: the planted 7-domain
    * frontier (priority = (id·37+11) mod 100) orders into per-domain
    * politeness waves capped at depth 40, and each URL gets
    * `eta_ms = (wave−1) × crawl_delay(domain)` from a 5-domain delay
    * table (two domains fall through to the 1000 ms default). Scale
    * shape: the depth cap makes the one domain-keyed window a
    * WindowGroupLimit (partial limit BEFORE the exchange — a
    * mega-domain cannot serialize a sort buffer); the delay table is
    * domain-sized and broadcasts.
    */
  def frontierGate(s: SparkSession, dir: String): DataFrame = {
    val dom = concat(lit("site"),
      pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.com"))
    val frontier = Tables.documents(s, dir).select(
      concat(lit("https://"), dom, lit("/p/"),
        col("doc_id").cast("string")).as("url"),
      dom.as("domain"),
      pmod(col("doc_id") * 37 + 11, lit(100)).cast("long").as("priority"))
    val delays = s.range(0, 5).select(
      concat(lit("site"), col("id").cast("string"), lit(".example.com"))
        .as("domain"),
      when(pmod(col("id"), lit(3)) === 0, 2000L).otherwise(500L)
        .as("delay_ms"))
    graft.operators.Frontier.schedule(frontier, "url", "domain",
      "priority", delays, maxDepth = 40)
      .orderBy(col("domain"), col("wave"))
  }

  /** q164: char-entropy gibberish gate —
    * [[graft.operators.Entropy.charEntropy]]: per-document character
    * Shannon entropy in integer micro-nats, keep at ≥ 2.6 nats/char.
    * Every 13th document gets a planted 160-char `z` flood appended,
    * dragging its entropy ~0.5–1.2 nats below the natural corpus
    * (measured spread: planted 1.38–2.75, natural 2.55–2.94 at
    * sf0.001), so the gate exercises both verdicts AND the boundary.
    * Scale shape: one (doc,char)-keyed exchange with map-side combine,
    * then a window over ≤ alphabet-size rows per doc.
    */
  def entropyGate(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(pmod(col("doc_id"), lit(13)) === 0,
        concat(lit("\n"), lit("z" * 160))).otherwise(lit("")))
    graft.operators.Entropy.charEntropy(
      Tables.documents(s, dir).select(col("doc_id"), planted.as("text")),
      "text", "doc_id", keepMinMicroNats = 2600000L)
      .orderBy(col("doc_id"))
  }

  /** q163: containment near-dup pairs —
    * [[graft.operators.Dedup.containmentPairs]]: the asymmetric
    * excerpt/quote case Jaccard misses (a half-length excerpt of a
    * kept doc has J ≈ 0.5 but containment 1.0). The corpus is
    * documents ∪ planted excerpts (every 17th doc contributes a
    * `doc_id + 10⁷` row holding its first max(⌊tokens/2⌋, 3) raw
    * tokens); unigram grams, df ≤ 50 hot-gram candidate guard,
    * all-integer pp10k verify at ≥ 0.9. Scale shape: q21's — block+
    * gram-keyed candidate join bounded by maxDf², never all-pairs.
    */
  def containmentGate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
    val toks = TextFunctions.tokens(col("text"))
    val k = greatest(shiftright(size(toks), 1), lit(3))
    val excerpts = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        array_join(slice(toks, lit(1), k), " ").as("text"),
        col("source"))
    val corpus = docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(excerpts)
    graft.operators.Dedup.containmentPairs(corpus, "text", "doc_id",
      "source", n = 1, maxDf = 50, minPp10k = 9000L)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q162: sitemap URL extraction — [[graft.operators.Sitemaps.parse]]
    * over planted `<urlset>` documents (every 20th doc): a shouting
    * default-port tracking-param `<loc>` with required `&amp;` escapes
    * and a full W3C-datetime lastmod + priority, a minimal entry with
    * neither, a malformed entry (`not a url` loc, unparseable lastmod/
    * priority → NULL canon/date/decimal), and a commented-out entry
    * that must be invisible. Non-sitemap docs emit nothing. Map-only
    * explode; zero shuffle.
    *
    * Hashed surface carries `priority_pp100` (priority × 100 as BIGINT,
    * NULL-preserving) instead of the DECIMAL(3,2) `priority` —
    * round-8 rule: nothing hashed may depend on decimal rendering
    * (q58 rounds 6–8, q162 round 15). The decimal stays on
    * [[graft.operators.Sitemaps.parse]] for API users.
    */
  def sitemapGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val dd = lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"),
      2, "0")
    val markup = when(pmod(col("doc_id"), lit(20)) === 0, concat(
      lit("<?xml version=\"1.0\"?><urlset>"),
      lit("<url><loc> HTTP://WWW.Example.COM:80/page/"), id,
      lit("?utm_source=m&amp;b=2&amp;a=1 </loc><lastmod>2026-01-"), dd,
      lit("T08:30:00Z</lastmod><priority>0.8</priority></url>"),
      lit("<url><loc>https://example.com/q/"), id,
      lit("?x=1&amp;y=2</loc></url>"),
      when(pmod(col("doc_id"), lit(40)) === 0,
        lit("<url><loc>not a url</loc><lastmod>soon</lastmod>" +
          "<priority>high</priority></url>")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(60)) === 0,
        lit("<!-- <url><loc>https://ghost.example.com/x</loc></url> -->"))
        .otherwise(lit("")),
      lit("</urlset>")))
      .otherwise(concat(lit("<html><body>Doc "), id,
        lit("</body></html>")))
    graft.operators.Sitemaps.parse(
      Tables.documents(s, dir).select(col("doc_id"), markup.as("markup")),
      "markup", "doc_id")
      .withColumn("priority_pp100",
        (col("priority") * 100).cast("long"))
      .drop("priority")
      .orderBy(col("doc_id"), col("entry_pos"))
  }

  /** q161: redirect-chain resolution —
    * [[graft.operators.Redirects.resolve]]: the planted redirect map
    * (three-hop runs on `doc_id % 10 ∈ {1,2,3}`, a six-hop run on
    * `% 100 ∈ 61..66`, a 15↔25 two-cycle and a 35 self-loop per
    * hundred-block) collapses to terminal fetch targets by pointer
    * doubling — `doublings = 3` resolves every chain of ≤ 8 hops and
    * flags the cycles `unresolved`. The oracle walks the same map with
    * a depth-8 recursive CTE. Scale shape: 3 key-partitioned
    * self-joins over the EDGE set (crawl-log-sized, never the corpus),
    * never O(chain-length) rounds.
    */
  def redirectGate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val m100 = pmod(d, lit(100))
    val m10 = pmod(d, lit(10))
    val dst = when(m100 === 15, d + 10)
      .when(m100 === 25, d - 10)
      .when(m100 === 35, d)
      .when(m100.between(61, 66), d + 1)
      .when(m10.isin(1, 2, 3), d + 1)
    val edges = Tables.documents(s, dir)
      .select(d.as("src"), dst.cast("long").as("dst"))
      .where(col("dst").isNotNull)
    graft.operators.Redirects.resolve(edges, "src", "dst", doublings = 3)
      .select(col("src"),
        concat(lit("https://ex.org/p/"), col("src")).as("src_url"),
        when(!col("unresolved"),
          concat(lit("https://ex.org/p/"), col("terminal")))
          .as("terminal_url"),
        col("hops"), col("unresolved"))
      .orderBy(col("src"))
  }

  /** q159: robots.txt crawl-policy verdicts —
    * [[graft.operators.Robots]]: per-domain robots bodies compile into
    * wildcard-agent prefix rules (RFC 9309 group structure: stacked
    * `User-agent:` lines share a group, non-`*` groups ignored,
    * comments/CRLF/blank values handled) and every URL gets the
    * longest-prefix verdict (Allow beats Disallow on a length tie;
    * unmatched or robots-less domains allow). Plants: a domain with
    * nested Allow-under-Disallow, a domain whose `googlebot` group
    * must be ignored and whose `*` group stacks two agents plus an
    * empty Disallow and a comment, and a domain with no robots at all.
    * Scale shape: rule compilation windows over the DOMAIN-sized
    * metadata table; the verdict is one broadcast equi-join by domain
    * + a per-URL argmax — the corpus never shuffles.
    */
  def robotsGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id = col("doc_id").cast("string")
    val m5 = pmod(col("doc_id"), lit(5))
    val path = when(m5 === 0, concat(lit("/private/item"), id))
      .when(m5 === 1, concat(lit("/private/ok/item"), id))
      .when(m5 === 2, concat(lit("/cat1/item"), id))
      .when(m5 === 3, concat(lit("/cat2/thing"), id))
      .otherwise(concat(lit("/item"), id))
    val url = concat(lit("https://www.example"),
      pmod(col("doc_id"), lit(3)).cast("string"), lit(".com"), path,
      lit("?page=1"))
    val robots = Seq(
      ("example0.com",
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n" +
          "Disallow: /cat1\n"),
      ("example1.com",
        "User-agent: googlebot\nDisallow: /\n\n" +
          "User-agent: *\nUser-agent: legacybot\nDisallow: /cat2/\n" +
          "# maintenance note\nDisallow:\r\n")
    ).toDF("domain", "txt")
    val ruleSet = graft.operators.Robots.rules(robots, "domain", "txt")
    graft.operators.Robots.verdict(
      Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
      "url", "doc_id", ruleSet)
      .orderBy(col("doc_id"))
  }

  /** q155: PSL-keyed domain caps — q135's per-group quality cap
    * re-keyed by the PUBLIC-SUFFIX registered domain, the fix for the
    * failure VERDICT r14 called out: under two-label keying every
    * planted .co.uk registrant merges into ONE "co.uk" cap (all of
    * British retail throttled as one domain); under
    * [[graft.operators.PublicSuffix]] keys, `shop.co.uk` (one big
    * multi-source domain — the cap bites hard) and each
    * `news<src>.co.uk` registrant cap independently. Docs with no
    * registrable part (bare public suffix) form the NULL group, capped
    * as one (documented: "no domain" is itself a cap bucket, not a
    * bypass). Same WindowGroupLimit shape as q135 — map-side per-group
    * truncation before the exchange.
    */
  def pslDomainCapGate(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(4))
    val id = col("doc_id").cast("string")
    val url = when(m === 0, concat(lit("https://a.shop.co.uk/d/"), id))
      .when(m === 1, concat(lit("https://b.news"), col("source"),
        lit(".co.uk/d/"), id))
      .when(m === 2, concat(lit("https://www.example"), col("source"),
        lit(".com/d/"), id))
      .otherwise(lit("https://co.uk/"))
    val sig = qualitySignal(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"),
        nullif(graft.operators.PublicSuffix.registeredDomain(url), lit(""))
          .as("domain")), Seq("doc_id"))
    graft.operators.Sampling
      .groupCapByScore(sig, col("domain"), col("quality"),
        col("doc_id"), cap = 15)
      .select(col("doc_id"), col("domain"), col("n_tokens"),
        coalesce(col("zn"), lit(0L)).as("zn"), col("rk"))
      .orderBy(col("domain"), col("rk"))
  }

  /** The 7-domain ring plant + per-link domain edges shared by
    * q154/q158: (u, v) one row per LINK (multiplicity preserved —
    * q154 distincts it, q158 aggregates it into weights).
    */
  private def linkRingEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val k = pmod(col("doc_id"), lit(7))
    val k1 = pmod(col("doc_id") + 1, lit(7))
    val k2 = pmod(col("doc_id") + 2, lit(7))
    val markup = concat(
      lit("<html><body><p><a href=\"https://www.site"), k1.cast("string"),
      lit(".net/next\">next site</a></p>"),
      when(pmod(k, lit(2)) === 0, concat(
        lit("<p><a href=\"https://www.site"), k2.cast("string"),
        lit(".net/skip\">skip ahead</a></p>"))).otherwise(lit("")),
      lit("<p><a href=\"https://hub.example.com/dir\">hub directory</a>" +
        "</p>"),
      when(pmod(col("doc_id"), lit(5)) === 1,
        lit("<p><a href=\"https://ads.badsite.net/click\">ad</a></p>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    val pageUrl = concat(lit("https://www.site"), k.cast("string"),
      lit(".net/doc/"), col("doc_id").cast("string"))
    // the page's own domain is computed on the PAGE row and CARRIED
    // through the link explode (extractLinks `carry`) — attaching it
    // afterwards was a corpus-sized self-join back on doc_id: two
    // exchanges + an SMJ of the exploded link set just to fetch one
    // string the source row already had (r18 fold; identical edges)
    val pages = docs.select(col("doc_id"),
      nullif(graft.operators.PublicSuffix.registeredDomain(pageUrl),
        lit("")).as("u"),
      markup.as("markup"))
    graft.operators.Html
      .extractLinks(pages, "markup", "doc_id", carry = Seq("u"))
      .select(col("u"),
        nullif(graft.operators.PublicSuffix.registeredDomain(col("href")),
          lit("")).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
  }

  /** q154: domain-authority PageRank — q149's outlink extraction and
    * q152's registered-domain keys finally meeting q121's all-integer
    * PageRank: planted pages on a 7-domain ring (`siteK.net` links
    * `site(K+1).net`, even K adds a `site(K+2).net` skip edge — the
    * asymmetry that makes authority non-uniform), every page links the
    * `example.com` hub and some link `badsite.net`. Host-level edges =
    * DISTINCT (page domain, href domain) pairs through
    * [[graft.operators.Html.extractLinks]] →
    * [[graft.operators.PublicSuffix.registeredDomain]]; self-citations
    * and NULL domains drop; [[graft.operators.Cluster.pagerankInt]]
    * runs 3 integer iterations. Pure sinks (the hub, the ad domain)
    * have no out-degree and are absent from the ranking —
    * `pagerankInt`'s documented truncation. This is the
    * CommonCrawl-style domain-authority prior a quality mixer
    * consumes; the oracle unrolls the identical three iterations over
    * the identically extracted edges.
    *
    * Scale shape: extraction + domain keying are map-only; the edge
    * set is DISTINCT domain pairs (web-graph-sized, not corpus-sized);
    * each iteration is one edge⋈rank join keyed by domain.
    */
  def domainRankGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cluster
      .pagerankInt(linkRingEdges(s, dir).distinct(), "u", "v", iters = 3)
      .select(col("doc_id").as("domain"), col("deg"), col("pr"))
      .orderBy(col("domain"))

  /** q158: WEIGHTED domain-authority PageRank — q154 with the citation
    * counts kept: edge weight = number of linking PAGES per (source,
    * target) domain pair ([[graft.operators.Cluster
    * .pagerankWeightedInt]]), so the hub edge every page carries
    * outweighs the even-k skip edges and the m5-class ad edges
    * proportionally to how often they are actually cited. The
    * contribution truncation `(pr div wout) · w` is the operator's
    * overflow contract (see the operator scaladoc); the oracle unrolls
    * the identical three iterations over identically counted edges.
    */
  def domainRankWeightedGate(s: SparkSession, dir: String): DataFrame = {
    val edges = linkRingEdges(s, dir)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    graft.operators.Cluster
      .pagerankWeightedInt(edges, "u", "v", "w", iters = 3)
      .select(col("node").as("domain"), col("wout"), col("pr"))
      .orderBy(col("domain"))
  }

  /** q153: the WHOLE crawl-curation chain in ONE dataflow — the
    * composition proof that the round-14/15 operators work as a
    * pipeline, not just one at a time: WET interchange (q150) →
    * main-content extraction (q145, `blockSep = "\n"` so kept blocks
    * become boilerplate-candidate lines; every 11th page is planted
    * chrome-only and must DROP here) → PSL domain blocklist
    * (q146/q152) → language-ID routing (q147, keep {en, it} — the
    * frozen stand-in model's majority classes) → cross-corpus
    * frequent-line boilerplate removal over the routed survivors
    * (q148, minDocs = 10; the planted newsletter/cookie chrome
    * paragraphs survive per-doc extraction and ONLY the corpus-level
    * stage can remove them) → exact dedup among the cleaned survivors
    * (mirror groups collapse to their min-id rep once chrome
    * divergence is stripped) → per-source 40% token budget (q96's
    * rule, doc_id order). Output is the q83-style FUNNEL: one row per
    * stage with docs_in/docs_out (+ tokens_out where tokens exist), so
    * any stage diverging anywhere flips a count and the hash.
    *
    * Scale shape: the chain materializes NOTHING between stages — WET
    * scan → map-only extract/canonize/langid → one line-keyed exchange
    * (boilerplate df) → one fp-keyed exchange (dedup) → one
    * source-keyed running sum (budget); the funnel is a single
    *7-row aggregate at the end.
    */
  def curationChainGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs0 = Tables.documents(s, dir)
    val id = col("doc_id").cast("string")
    val picked = docs0
      .select((col("doc_id") - pmod(col("doc_id"), lit(10))).as("__b"),
        col("doc_id"), col("source"))
      .join(docs0.select(col("doc_id").as("__b"),
        coalesce(col("text"), lit("")).as("__t")), Seq("__b"))
    val t = when(pmod(col("doc_id"), lit(7)) === 0,
      col("__t").substr(lit(1), lit(60))).otherwise(col("__t"))
    val half = (length(t) / lit(2)).cast("int")
    // every 11th page is chrome-only (nav, no content blocks) — the
    // extract stage must DROP it (n_kept = 0), so the funnel's extract
    // row visibly bites instead of passing everything through
    val markup = when(pmod(col("doc_id"), lit(11)) === 0,
      lit("<html><body><nav><a href=\"/\">home</a> " +
        "<a href=\"/next\">next</a></nav></body></html>"))
      .otherwise(concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><script type=\"text/javascript\">var id="), id,
        lit(";</script></head><body>" +
          "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a> " +
          "<a href=\"/contact\">contact</a></nav>" +
          "<h1>Document "), id, lit("</h1><p>"),
        t.substr(lit(1), half), lit("</p><p>"),
        t.substr(half + lit(1), length(t)),
        lit(" and further details</p>"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("<p>Subscribe to our newsletter for the best weekly updates" +
            " today</p>")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<p>This website uses cookies to improve your browsing" +
            " experience</p>")).otherwise(lit("")),
        lit("<footer><a href=\"/privacy\">privacy</a> " +
          "<a href=\"/terms\">terms</a></footer></body></html>")))
    val uri = when(pmod(col("doc_id"), lit(5)) === 1,
      concat(lit("https://ads."), col("source"),
        lit(".badsite.net/click?cid="), id))
      .otherwise(concat(lit("https://www."), col("source"),
        lit(".example.com/doc/"), id))
    val rendered = picked.select(col("doc_id"),
      markup.as("wet_text"), uri.as("uri"))
    scratch(s, "graft_chain") { path =>
      val mk = graft.util.OperatorCaches.mark()
      // multi-file WET write (NO coalesce(1)) — the q190 r17 lesson:
      // collapsing pulls the whole markup-build join into one task (a
      // measured sf1 scale-killer); the reader is directory-based and
      // every downstream stage is doc_id-keyed, so file count is
      // invisible to the oracle
      graft.io.Wet.toRecords(rendered, "wet_text", "uri")
        .write.mode("overwrite")
        .option("lineSep", graft.io.Wet.RecordSeparator).text(s"$path/wet")
      val read = graft.io.Wet.read(s, s"$path/wet")
        .select(regexp_extract(col("target_uri"), "([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          col("target_uri"), col("payload"), col("length_ok"))
      // map-only carry composition (the r18 CurationStream discipline):
      // extraction and langid results used to be attached with doc_id
      // self-joins onto row-aligned frames — an exchange pair each for
      // columns the source row already had
      val main = graft.operators.Html.extractMain(
        read, "payload", "doc_id", blockSep = "\n",
        carry = Seq("target_uri", "length_ok"))
      val block = Seq("badsite.net").toDF("__bd")
      val chain1 = main
        .withColumn("domain", nullif(graft.operators.PublicSuffix
          .registeredDomain(col("target_uri")), lit("")))
        .join(broadcast(block.withColumn("__blocked", lit(true))),
          col("domain") === col("__bd"), "left")
        .withColumn("s0", col("length_ok"))
        .withColumn("s1", col("s0") && col("n_kept") > 0)
        .withColumn("s2", col("s1") && col("__blocked").isNull)
      // persisted: the routed frame feeds BOTH the boilerplate corpus
      // and the funnel's per-doc flags — unpersisted, each consumer
      // re-runs the WET scan + extraction + langid regex chain
      val chain2 = graft.util.OperatorCaches.persisted(
        graft.operators.LangId.scoreDocs(
            chain1, "main_text", "doc_id",
            carry = Seq("s0", "s1", "s2", "main_text"))
          .withColumn("s3",
            col("s2") && col("lang_pred").isin("en", "it")))
      // corpus-level boilerplate df counts over the ROUTED survivors
      // only — pipeline order is part of the semantics
      // persisted: the cleaned frame feeds the dedup window, the budget
      // reps, and the funnel flags
      val boiled = graft.util.OperatorCaches.persisted(
        graft.operators.Boilerplate.removeFrequentLines(
          chain2.filter(col("s3"))
            .select(col("doc_id"), col("main_text")),
          "main_text", "doc_id", minDocs = 10L)
          .withColumn("n_tokens",
            size(filter(TextFunctions.tokens(col("text_clean")),
              x => x =!= "")).cast("long")))
      // exact-dedup election two-phase (groupBy fp + join back, the
      // q52 discipline) — a hot fingerprint (millions of byte-identical
      // pages) would serialize an fp-keyed window on one task
      val survivors0 = boiled.filter(col("text_clean") =!= "")
        .withColumn("fp", TextFunctions.fingerprint(col("text_clean")))
      val fpReps = survivors0.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep_id"))
      val survivors = survivors0.join(fpReps, Seq("fp"))
      val reps = survivors.filter(col("doc_id") === col("rep_id"))
        .join(docs0.select(col("doc_id"), col("source")), Seq("doc_id"))
      // per-source totals two-phase + broadcast back (the q146 skew
      // discipline); the running sum is an ordered prefix window
      val srcTot = reps.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("__srcTok"))
        .withColumnRenamed("source", "__cs")
      val admitted = reps
        .withColumn("cum", sum(col("n_tokens")).over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(srcTot), col("source") === col("__cs"))
        .withColumn("adm", col("cum") * 10 <= col("__srcTok") * 4)
      val perDoc = chain2
        .select(col("doc_id"), col("s0"), col("s1"), col("s2"), col("s3"))
        .join(boiled.select(col("doc_id"),
          (col("text_clean") =!= "").as("s4b"), col("n_tokens")),
          Seq("doc_id"), "left")
        .join(admitted.select(col("doc_id"), lit(true).as("s5b"),
          col("adm").as("s6b")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("s0"), col("s1"), col("s2"), col("s3"),
          coalesce(col("s4b"), lit(false)).as("s4"),
          coalesce(col("s5b"), lit(false)).as("s5"),
          coalesce(col("s6b"), lit(false)).as("s6"),
          col("n_tokens"))
      val a = perDoc.agg(
        count(lit(1)).as("n_in"),
        sum(when(col("s0"), 1L).otherwise(0L)).as("k0"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("k1"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("k2"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("k3"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("k4"),
        sum(when(col("s5"), 1L).otherwise(0L)).as("k5"),
        sum(when(col("s6"), 1L).otherwise(0L)).as("k6"),
        sum(when(col("s4"), col("n_tokens"))).as("tok4"),
        sum(when(col("s5"), col("n_tokens"))).as("tok5"),
        sum(when(col("s6"), col("n_tokens"))).as("tok6"))
      val out = a.selectExpr(
        """stack(7,
           CAST(0 AS BIGINT), 'wet',         n_in, k0, CAST(NULL AS BIGINT),
           CAST(1 AS BIGINT), 'extract',     k0,   k1, CAST(NULL AS BIGINT),
           CAST(2 AS BIGINT), 'url',         k1,   k2, CAST(NULL AS BIGINT),
           CAST(3 AS BIGINT), 'lang',        k2,   k3, CAST(NULL AS BIGINT),
           CAST(4 AS BIGINT), 'boilerplate', k3,   k4, tok4,
           CAST(5 AS BIGINT), 'dedup',       k4,   k5, tok5,
           CAST(6 AS BIGINT), 'budget',      k5,   k6, tok6)
           AS (stage_ord, stage, docs_in, docs_out, tokens_out)""")
        .orderBy(col("stage_ord"))
        .localCheckpoint(true) // terminal action: temp dir + caches freed
      graft.util.OperatorCaches.releaseSince(s, mk)
      out
    }
  }

  /** q152: public-suffix registered domains — q146's blocklist/rollup
    * re-keyed through [[graft.operators.PublicSuffix]]'s offline PSL
    * snapshot. The two-label heuristic conflates every ccSLD
    * registrant (`shop.co.uk`, `evil.co.uk`, … all key as "co.uk"),
    * silently merging unrelated domains in blocklists and caps; the
    * PSL key separates them. Plants: co.uk retail (PSL keys the
    * registrant), a blocklisted `evil.co.uk` (must block ONLY that
    * registrant, not all of .co.uk), a default-rule .com, a
    * `k12.ca.us` school (3-label suffix → 4-label domain), and a bare
    * public-suffix host (`https://co.uk/` — NO registrable part →
    * NULL). Output carries BOTH keys (`domain` = PSL, `domain_2label`
    * = heuristic) so the divergence is part of the contract.
    * Extraction is map-only (the suffix sets are codegen'd `InSet`
    * literal probes — no join, no broadcast); verdict + rollup follow
    * the q146 two-phase skew discipline. The oracle's IN-lists are
    * GENERATED from the same [[graft.operators.PublicSuffix]] Seqs —
    * one suffix table, two engines.
    */
  def pslDomainsGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id = col("doc_id").cast("string")
    val m = pmod(col("doc_id"), lit(5))
    val url = when(m === 0, concat(lit("https://WWW.Shop"), col("source"),
        lit(".CO.UK/item/"), id, lit("?b=2&a=1#frag")))
      .when(m === 1, concat(lit("http://blog.evil.co.uk:80/p/"), id))
      .when(m === 2, concat(lit("https://a.b.example"), col("source"),
        lit(".com/"), id))
      .when(m === 3, concat(lit("https://myschool"), col("source"),
        lit(".k12.ca.us/class/"), id))
      .otherwise(lit("https://co.uk/"))
    val docs = Tables.documents(s, dir).select(col("doc_id"), url.as("url"))
    val canon = docs.select(col("doc_id"),
      graft.operators.Urls.canonicalize(col("url")).as("url_canon"),
      nullif(graft.operators.PublicSuffix.registeredDomain(col("url")),
        lit("")).as("domain"),
      nullif(graft.operators.Urls.registeredDomain(col("url")), lit(""))
        .as("domain_2label"))
    val block = Seq("evil.co.uk", "spam.com.au").toDF("domain")
    val verdict = canon
      .join(broadcast(block.withColumn("__blocked", lit(true))),
        Seq("domain"), "left")
      .select(col("doc_id"), col("url_canon"), col("domain"),
        col("domain_2label"), col("__blocked").isNull.as("keep"))
    val counts = canon.groupBy(col("domain"))
      .agg(count(lit(1)).as("domain_docs"))
      .withColumnRenamed("domain", "__cd")
    verdict.join(broadcast(counts), col("domain") <=> col("__cd"), "left")
      .drop("__cd")
      .orderBy(col("doc_id"))
  }

  /** q151: end-to-end curation pipeline — the q111-style composition
    * proof for the CRAWL-CURATION side of the engine: planted HTML
    * (pages within a 10-block mirror each other's body; every 7th page
    * is a truncated stub) → [[graft.operators.Html.extractMain]] →
    * repetition-quality stats + keep rule (n_tokens ≥ 20, top-token
    * fraction ≤ 0.2) → exact dedup AMONG the quality passers (smallest
    * passer id represents each fingerprint group; stub pages fail
    * quality and their groups yield NULL rep). Extraction and stats
    * are map-only (persisted once — both dedup sides read them); the
    * dedup election is a two-phase groupBy(fp) + join back (q52
    * discipline — a hot fingerprint would serialize an fp-keyed
    * window on one task).
    */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs0 = Tables.documents(s, dir)
    // pages in a 10-block render the block head's body text (mirrors)
    val picked = docs0
      .select((col("doc_id") - pmod(col("doc_id"), lit(10))).as("__b"),
        col("doc_id"))
      .join(docs0.select(col("doc_id").as("__b"),
        coalesce(col("text"), lit("")).as("__t")), Seq("__b"))
    val t = when(pmod(col("doc_id"), lit(7)) === 0,
      col("__t").substr(lit(1), lit(60))).otherwise(col("__t"))
    val half = (length(t) / lit(2)).cast("int")
    val id = col("doc_id").cast("string")
    // the q145 markup plant, verbatim, over the mirrored/truncated body
    val markup = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>p{margin:0}</style>" +
        "<script type=\"text/javascript\">var id="), id,
      lit(";</script></head><body>" +
        "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a> " +
        "<a href=\"/contact\">contact</a></nav>" +
        "<h1>Document "), id, lit("</h1><p>"),
      t.substr(lit(1), half), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<div class=\"promo\"><a href=\"/buy\">buy now great deals</a> " +
          "<a href=\"/subscribe\">subscribe to the newsletter</a></div>"))
        .otherwise(lit("")),
      lit("<p>"), t.substr(half + lit(1), length(t)),
      lit(" &amp; more</p>" +
        "<footer><a href=\"/privacy\">privacy</a> " +
        "<a href=\"/terms\">terms</a> (c) 2026</footer></body></html>"))
    val main = graft.operators.Html.extractMain(
      picked.select(col("doc_id"), markup.as("markup")), "markup", "doc_id")
    // persisted: both sides of the dedup-election join below read the
    // extraction + stats chain. CACHE CONTRACT: OperatorCaches —
    // released at the session's terminal release (Verify/Bench).
    val stats = graft.util.OperatorCaches.persisted(
      main.select(col("doc_id"), col("n_blocks"), col("n_kept"),
          col("main_text"),
          TextFunctions.tokens(col("main_text")).as("toks"))
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          size(col("toks")).cast("long").as("n_tokens"),
          round(TextFunctions.maxElementCount(col("toks")).cast("double") /
            size(col("toks")), 6).as("top_token_frac"),
          TextFunctions.fingerprint(col("main_text")).as("fp"))
        .withColumn("keep_quality",
          col("n_tokens") >= 20 && col("top_token_frac") <= 0.2))
    val fpReps = stats.groupBy(col("fp"))
      .agg(min(when(col("keep_quality"), col("doc_id"))).as("rep_id"))
    stats.join(fpReps, Seq("fp"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        col("n_tokens"), col("top_token_frac"), col("keep_quality"),
        col("rep_id"),
        (col("keep_quality") && col("doc_id") === col("rep_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q150: WARC/WET round-trip — the CommonCrawl interchange format
    * ([[graft.io.Wet]]): documents render as WET `conversion` records
    * (URI + Content-Length headers, multi-line payloads), land as a
    * .wet text file, and read back through the split-safe Hadoop
    * record-delimiter reader. The oracle recomputes the expected rows
    * straight from the documents table, so framing, header parsing,
    * payload reassembly, and the Content-Length check must all be
    * byte-exact. Scale shape: the reader is an ordinary text scan whose
    * record delimiter straddles split boundaries safely — a multi-GB
    * .wet file fans out across tasks.
    */
  def wetRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit("\nline two (doc "), col("doc_id"),
        lit(")")).as("text"),
      concat(lit("https://crawl.example.com/doc/"), col("doc_id"))
        .as("uri"))
    scratch(s, "graft_wet") { path =>
      graft.io.Wet.toRecords(docs, "text", "uri")
        .write.mode("overwrite")
        .option("lineSep", graft.io.Wet.RecordSeparator).text(s"$path/wet")
      graft.io.Wet.read(s, s"$path/wet")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("content_length"), col("payload"),
          col("length_ok"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    }
  }

  /** q149: outlink graph extraction — the web-graph stage composing
    * [[graft.operators.Html.extractLinks]] (one row per `<a href=…>`,
    * comments stripped, visible-text anchors) with
    * [[graft.operators.Urls]] canonicalization: each planted anchor
    * yields (doc_id, link_pos, href, anchor, url_canon, domain) plus
    * the per-domain outlink rollup. Plants: a shouting default-port
    * tracking-param href (double-quoted), a single-quoted href, an
    * href-less named anchor (drops, position gap preserved), a
    * commented-out anchor (invisible), a malformed href (NULL canon),
    * and entity-bearing anchor text. Extraction is map-only; the
    * rollup is the one domain-keyed exchange.
    */
  def linkGraphGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m5 = pmod(col("doc_id"), lit(5))
    val markup = concat(
      lit("<html><body><p>see <a href=\"HTTP://WWW.Example.COM:80/doc/"),
      id, lit("?utm_source=x&b=2&a=1#f\">Doc "), id, lit("</a></p>"),
      when(m5 === 0, concat(
        lit("<p><a href='https://blog.example.com:443/post?id="), id,
        lit("&ref=tw'>blog <b>post</b></a></p>"))).otherwise(lit("")),
      when(m5 === 1,
        lit("<p><a href=\"https://ads.badsite.net/click\">ad</a> " +
          "<a name=\"x\">no href</a> " +
          "<!-- <a href=\"https://ghost.example.com/\">gone</a> --></p>"))
        .otherwise(lit("")),
      when(m5 === 2,
        lit("<p><a href=\"not a url\">weird &amp; broken</a></p>"))
        .otherwise(lit("")),
      lit("<footer><a href=\"https://example.com/privacy\">privacy" +
        "&amp;terms</a></footer></body></html>"))
    val links = graft.operators.Html.extractLinks(
      Tables.documents(s, dir).select(col("doc_id"), markup.as("markup")),
      "markup", "doc_id")
    val base = links.select(col("doc_id"), col("link_pos"), col("href"),
      col("anchor"),
      graft.operators.Urls.canonicalize(col("href")).as("url_canon"),
      nullif(graft.operators.Urls.registeredDomain(col("href")), lit(""))
        .as("domain"))
    // two-phase rollup + null-safe broadcast join back — the q146 skew
    // discipline (a window-by-domain serializes a mega-domain's links
    // onto one task's buffer)
    val counts = base.groupBy(col("domain"))
      .agg(count(lit(1)).as("domain_links"))
      .withColumnRenamed("domain", "__cd")
    base.join(broadcast(counts), col("domain") <=> col("__cd"), "left")
      .drop("__cd")
      .orderBy(col("doc_id"), col("link_pos"))
  }

  /** q148: cross-corpus frequent-line boilerplate removal — the CCNet/
    * RefinedWeb template-chrome stage ([[graft.operators.Boilerplate
    * .removeFrequentLines]]): lines appearing verbatim in ≥ 10 distinct
    * documents are removed from every document, survivors rejoin in
    * order. The corpus is single-line, so the gate PLANTS newsletter/
    * copyright/cookie footers on doc_id residue classes (plus a df=2
    * "rare pair" that must survive, a whitespace-padded line exercising
    * trim, and a trailing blank line that drops) — the q145/q146
    * plant-and-remove discipline. One corpus explode; the frequent set
    * is bounded by Σlines/minDocs and broadcasts.
    */
  def boilerplateGate(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\nSubscribe to our newsletter today")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("\ncopyright 2026 example corp")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("\n  accept our cookie policy  ")).otherwise(lit("")),
      when(col("doc_id").isin(1L, 7L),
        lit("\nrare pair line")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("\n")).otherwise(lit("")))
    val mk = graft.util.OperatorCaches.mark()
    val out = graft.operators.Boilerplate.removeFrequentLines(
      Tables.documents(s, dir).select(col("doc_id"), planted.as("text")),
      "text", "doc_id", minDocs = 10L)
      .orderBy(col("doc_id"))
      .localCheckpoint(true) // terminal action: the cache is consumed
    graft.util.OperatorCaches.releaseSince(s, mk)
    out
  }

  /** q147: model-based language ID — q17's heuristic upgraded to the
    * q87 architecture ([[graft.operators.LangId.scoreDocs]]): hashed
    * char-trigram features, frozen integer-logit linear model, exact
    * integer argmax with a margin. One gram explode collapsed map-side
    * into 8 long sums per doc — a single doc-keyed shuffle.
    */
  def langModelGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.LangId
      .scoreDocs(Tables.documents(s, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** q127: corpus drift report — the top-30 tokens whose relative
    * frequency (integer ppm) moved most between two corpus snapshots
    * ([[graft.operators.Profile.tokenDrift]]); the gate's snapshots are
    * the documents table split by doc_id parity. Vocabulary-sized
    * full-outer join, scalar totals on a broadcast one-row frame,
    * TakeOrderedAndProject top-k — corpus size never reaches the join.
    */
  def tokenDriftGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Profile.tokenDrift(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      "text", topK = 30)
  }

  /** q126: training-shard packing — the corpus in a deterministic
    * hash-shuffled order, packed into contiguous ~4000-token shards
    * ([[graft.operators.Layout.tokenShards]], weight = q120's
    * tokenCount + 1). The global cumulative sum runs as the TWO-PASS
    * per-partition-offsets shape (range partition on the hash, local
    * running sums, collected per-partition totals re-entering as
    * literal offsets) — never a single-partition window; the oracle
    * replays it as one plain SQL window over (hash, doc_id), so the
    * distributed two-pass must be exactly the sequential cumsum.
    */
  def tokenShardsGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        (TextFunctions.tokenCount(col("text")) + 1).cast("long").as("w"))
    graft.operators.Layout
      .tokenShards(docs, "doc_id", "w", budget = 4000L, salt = "shard")
      .orderBy(col("doc_id"))
  }

  /** q125: HARD-NEGATIVE mining — per anchor (vec_id < 5), the top-10
    * corpus vectors in the cosine band [0.10, 0.30)
    * ([[graft.operators.Similarity.hardNegatives]]): similar enough to
    * be informative contrastive negatives, banded BELOW the
    * near-duplicate zone so probable unlabeled positives never poison
    * the training pairs (the classic DPR/SimCSE false-negative
    * failure). Brute scan on the gate (q23's sanctioned broadcast
    * shape; band filter before the rank exchange); the IVF candidates
    * + same band tail are the documented corpus-scale path.
    */
  def hardNegativesGate(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.operators.Similarity
      .hardNegatives(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, lo = 0.10, hi = 0.30)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q124: EXACT all-pairs Jaccard join via prefix filtering
    * ([[graft.operators.Dedup.allPairsJaccard]], Bayardo et al.
    * WWW '07) at threshold 0.90 on distinct unigram token sets — the
    * exact-recall complement to q21's df-capped candidates (which
    * silently drop pairs sharing only hot tokens) and q20's LSH bands
    * (which drop pairs missing every band). Prefix + size filtering is
    * provably complete, so the oracle is the NAIVE exact all-pairs
    * join — the pruning must be invisible. All-integer output
    * (`jaccard_pp10k`, integer threshold comparison): no float ever
    * reaches the hash.
    */
  def allPairsJaccardGate(s: SparkSession, dir: String): DataFrame =
    Dedup.allPairsJaccard(Tables.documents(s, dir), "text", "doc_id",
        t100 = 90)
      .orderBy(col("id_a"), col("id_b"))

  /** q123: PQ-ADC with TRAINED codebooks — q118's serving arithmetic
    * fed by [[graft.operators.Similarity.pqTrain]]: two L2 Lloyd
    * iterations per subspace (all four subspaces in ONE corpus pass
    * per round) from the q118 axis-unit seeds, then encode + ADC with
    * the trained books. The oracle replays the identical two training
    * iterations as chained CTEs (codeword lists rebuilt from the
    * previous round's table, starved codewords carried forward — the
    * q91 discipline, with `‖x‖² − 2⟨x,c⟩ + ‖c‖²` L2 argmin in place of
    * cosine argmax), so the TRAINED path is cross-engine-checked, not
    * just spec-asserted against itself.
    */
  def pqAdcTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val seeds = Seq.tabulate(4)(_ =>
      Seq.tabulate(8)(j => Seq.tabulate(16)(i => if (i == 2 * j) 1.0 else 0.0)))
    val books = graft.operators.Similarity
      .pqTrain(emb, "embedding", "vec_id", seeds, iters = 2)
    val encoded = graft.operators.Similarity
      .pqEncode(emb, "embedding", "vec_id", books)
    val queries = emb.filter(col("vec_id") < 10)
    graft.operators.Similarity
      .pqAdcTopK(encoded, queries, "embedding", "vec_id", books, k = 8)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("approx_dist2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q133: centroid-distance outlier pruning — for every label cluster,
    * the exact centroid (native vector-sum aggregate, ONE group-keyed
    * pass for count + sums), 6-dp cosine of each member to it, and an
    * integer-rank flag on the bottom 10 % (rk × 1000 ≤ n × 100). See
    * [[graft.operators.Similarity.centroidOutliers]] for the 100 TB
    * shape (corpus never shuffles for the centroid; broadcast
    * centroids; one group-keyed window).
    */
  def centroidOutliersGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity
      .centroidOutliers(Tables.embeddings(s, dir), "embedding", "vec_id",
        "label", bottomPerMille = 100)
      .select(col("id").as("vec_id"), col("grp").as("label"),
        col("cos"), col("rk"), col("n_vecs"), col("is_outlier"))
      .orderBy(col("label"), col("rk"))

  /** q134: length-bucketed batching report — per 64-token bucket, how
    * much compute padding-to-the-bucket-max wastes (integer ppm). See
    * [[graft.operators.Layout.lengthBuckets]]: one map pass + one
    * bucket-keyed aggregation, partials collapse to ≤ #buckets rows
    * before the exchange.
    */
  def lengthBucketsGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout
      .lengthBuckets(Tables.documents(s, dir), "text", bucketWidth = 64)
      .orderBy(col("bucket"))

  /** q135: per-domain document cap — keep at most 15 docs per source,
    * best-quality first (the q87 exact-integer logit ranks; ties to the
    * smaller doc_id), the RefinedWeb-style absolute-count complement to
    * q95's percentile gate. See
    * [[graft.operators.Sampling.groupCapByScore]]: the rank ≤ cap
    * filter plans as a WindowGroupLimit, so a mega-domain pre-truncates
    * to 15 rows per map partition BEFORE the shuffle.
    */
  def domainCapGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .groupCapByScore(qualitySignal(s, dir), col("source"), col("quality"),
        col("doc_id"), cap = 15)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("zn"), lit(0L)).as("zn"), col("rk"))
      .orderBy(col("source"), col("rk"))

  /** q136: reference-LM perplexity filter — the CCNet shape q99's
    * integer coverage gate approximates: a bounded bigram LM (top-512
    * bigrams + full unigram table, trained on q99's trusted slice)
    * scores every doc by average NLL in integer MICRO-NATS, keep at
    * avg ≤ 4.2 nats (≈ the corpus median — a discriminative cut on the
    * synthetic corpus, whose per-doc averages span ~3.4–4.8 nats).
    * See [[graft.operators.LmScore.bigramPerplexity]]
    * for the term-level integerization and the 100 TB shape (model
    * collapses at the vocabulary, broadcast probes, one doc-keyed
    * shuffle).
    */
  def perplexityGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.LmScore
      .bigramPerplexity(Tables.documents(s, dir), "text", "doc_id",
        trusted = substring(col("source"), 4, 10).cast("long") < 5,
        topK = 512, keepMaxMicroNll = 4200000L)
      .orderBy(col("doc_id"))

  /** q137: deterministic multi-epoch training shuffle — 3 epochs of
    * salt+epoch-keyed global order with 64-doc batches. See
    * [[graft.operators.Layout.epochShuffle]] for the grouped two-pass
    * cumsum (never a single-partition window; driver holds only the
    * epochs × nParts offset matrix).
    */
  def epochShuffleGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout
      .epochShuffle(Tables.documents(s, dir), "doc_id", epochs = 3,
        batchSize = 64, salt = "epoch13")
      .orderBy(col("epoch"), col("pos"))

  /** q138: temperature-scaled source mixture — T5/mC4 α-sampling at
    * α = 0.3, budget 200 docs: source i contributes
    * ⌊200 × nᵢ^0.3 / Σ nⱼ^0.3⌋ docs, selected as the source's first
    * quota in stable-hash order. See
    * [[graft.operators.Sampling.temperatureSample]] for the micro-unit
    * weight snap (the q136 discipline) and the scale shape (quotas on
    * the source-count frame; one rank window + broadcast join on the
    * corpus).
    */
  def temperatureMixtureGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .temperatureSample(Tables.documents(s, dir), "doc_id", "source",
        alpha = 0.3, budget = 200L, salt = "tmix13")
      .orderBy(col("source"), col("rk"))

  /** q139: vocabulary-pruned token-id encoding — the tensorization
    * step: min-count-3 vocabulary with dense ids by (count DESC, token
    * ASC), every doc rewritten as its id sequence with OOV → 0
    * (`<unk>`), emitted as a csv scalar the hash gate can verify. See
    * [[graft.operators.Vocab]] (vocab collapses at the token before
    * the exchange; encode probes broadcast and pays one doc-keyed
    * re-assembly).
    */
  def vocabEncodeGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vocab = graft.operators.Vocab.build(docs, "text", minCount = 3L)
    graft.operators.Vocab.encode(docs, "text", "doc_id", vocab)
      .orderBy(col("doc_id"))
  }

  /** q141: streaming quality meter — q136's live twin (the q127→q130
    * lambda pairing): the frozen bigram LM trains once on the even-id
    * half, the odd-id half arrives in three staged micro-batches, and
    * each batch emits its admit counts plus cumulative totals via
    * batch-id-keyed one-row segments
    * ([[graft.streaming.QualityStream.meterStaged]] — replay
    * byte-identical because batch k reads only segments ≤ k). A
    * [[graft.streaming.QualityStream.compact]] after batch 1 folds
    * segment 0 into a one-row generation — batch 2's cumulative
    * columns then come from gen + segments ≥ 1, so a fold that lost or
    * double-counted a row breaks the hash.
    */
  def streamQualityGate(s: SparkSession, dir: String): DataFrame =
    scratch(s, "graft_qmeter_gate") { stateDir =>
      val docs = Tables.documents(s, dir)
      val model = graft.operators.LmScore.trainBigramLm(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", topK = 512)
      val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      (0 to 2).map { k =>
        val r = graft.streaming.QualityStream.meterStaged(
          odd.filter(pmod(col("doc_id"), lit(6)) === 2 * k + 1),
          stateDir, "text", "doc_id", model,
          keepMaxMicroNll = 4200000L, batchId = k.toLong)
          .localCheckpoint(true)
        if (k == 1) graft.streaming.QualityStream.compact(
          s, stateDir, keepNewestSegments = 1)
        r
      }.reduce(_ unionByName _)
        .orderBy(col("batch_id"))
        .localCheckpoint(true)
    }

  /** q143: cluster-level quality propagation — "duplication propagates
    * contamination": q52's duplicate clusters joined to q87's exact-
    * integer quality logit; a cluster is kept only if EVERY member
    * passes the gate (zn ≥ 2·n_tokens, the q87 keep rule in integer
    * form), so one spam copy condemns all its mirrors. The per-cluster
    * size/bad-count rollup is a two-phase aggregate over the
    * MEMBERSHIP frame joined back (q52's form — a cluster-keyed window
    * would buffer the giant LSH component on one task); a doc outside
    * every component is a singleton whose cluster verdict is its own.
    * The integer rule means no float epsilon can disagree across
    * engines.
    */
  def clusterQualityGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 4, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 2)
    val comps = Cluster.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    // persisted: the quality signal (corpus tokenize + explode + agg) is
    // consumed TWICE by the one labeling action (the member rollup and
    // the final join) — unpersisted each consumer re-ran the token pass
    // (§1.2). Harness-owned release (Bench clearCache / Verify), the
    // lazy-returning-query cache shape of Layout.tokenShards.
    val q = graft.util.OperatorCaches.persisted(
      qualitySignal(s, dir).select(col("doc_id"), col("n_tokens"), col("zn")))
    val keepRule =
      coalesce(col("n_tokens") > 0 && col("zn") >= col("n_tokens") * 2,
        lit(false))
    val memAgg = comps.join(q, Seq("doc_id"), "left")
      .withColumn("doc_keep", keepRule)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("__csize"),
        sum(when(col("doc_keep"), 0L).otherwise(1L)).as("__nbad"))
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .join(q, Seq("doc_id"), "left")
      .withColumn("doc_keep", keepRule)
      .join(memAgg, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"),
        coalesce(col("__csize"), lit(1L)).as("cluster_size"),
        col("n_tokens"), coalesce(col("zn"), lit(0L)).as("zn"),
        col("doc_keep"),
        (coalesce(col("__nbad"),
          when(col("doc_keep"), 0L).otherwise(1L)) === 0L)
          .as("cluster_keep"))
      .orderBy(col("doc_id"))
  }

  /** q142: span-corruption training examples — T5-style denoising pairs
    * at 15% position masking, consecutive flags merging into sentinel
    * spans. See [[graft.operators.Examples.spanCorrupt]]: deterministic
    * per-(doc, pos, salt) hashes, one doc-keyed window + one doc-keyed
    * re-assembly; every shuffle key is the document id.
    */
  def spanCorruptGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Examples
      .spanCorrupt(Tables.documents(s, dir), "text", "doc_id",
        maskPerCent = 15, salt = "t5span")
      .orderBy(col("doc_id"))

  /** q140: contrastive triplet mining — for each query vector
    * (vec_id % 19 == 7, ~5%), the best same-label positive and the best
    * different-label hard negative in the [0.05, 0.45) confusable band.
    * See [[graft.operators.Similarity.contrastiveTriplets]]: one
    * broadcast corpus scan, both sides reduced in the same group-keyed
    * conditional argmax — no rank exchange, no second scan.
    */
  def contrastiveTripletsGate(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.operators.Similarity
      .contrastiveTriplets(emb,
        emb.filter(pmod(col("vec_id"), lit(19)) === 7),
        "embedding", "vec_id", "label", negLo = 0.05, negHi = 0.45)
      .orderBy(col("query_id"))
  }
}
