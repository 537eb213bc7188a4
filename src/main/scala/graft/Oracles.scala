package graft

/** DuckDB oracle SQL — one entry per [[Queries]] member, over the same
  * parquet tables (registered by bare table name by the driver).
  *
  * Discipline (see Queries scaladoc): identical column aliases, identical
  * rounding, identical deterministic ORDER BY, and integer outputs cast so
  * both engines emit 64-bit values.
  */
object Oracles {

  /** Normalized-token fragment shared by the text queries: lowercase,
    * collapse whitespace (note DuckDB regexp_replace needs the 'g' flag to
    * match Spark's replace-all semantics).
    */
  private val norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val toks = s"string_split($norm, ' ')"

  /** 60-bit md5-derived stable hash (= TextFunctions.stableHash60). */
  private def hash60(col: String) =
    s"CAST(concat('0x', substr(md5($col), 1, 15)) AS BIGINT)"

  private val stopEn = "('the','a','of','and','to','in','is')"

  /** Exact decimal-sum forms mirroring Queries.{sumDec2, revenueDec} and
    * Aggregates.exactAvg — summation-order-independent, so both engines
    * produce bit-identical doubles (plain double sums differ in the last
    * ulp and flip rounding boundaries ~1 in 10k rows).
    */
  private def sumDec2(c: String) =
    s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
  private def exactAvg(c: String) =
    s"CAST(sum(CAST($c AS DECIMAL(27,6))) AS DOUBLE) / count($c)"
  private val revenueDec =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

  val pricingSummary: String = s"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(${sumDec2("l_extendedprice")}, 2) AS sum_base_price,
           CAST(round(sum($revenueDec), 2) AS DOUBLE) AS sum_disc_price,
           avg(l_quantity) AS avg_qty,
           ${exactAvg("l_discount")} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  val filterProject: String = """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1995-04-01'
      AND l_discount > 0.05
    ORDER BY l_orderkey, l_linenumber"""

  val joinRevenue: String = s"""
    SELECT r_name, n_name,
           CAST(round(sum($revenueDec), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name"""

  val leftJoinAgg: String = s"""
    SELECT n_nationkey, n_name, n_custs, sum_bal
    FROM nation
    LEFT JOIN (
      SELECT c_nationkey, count(*) AS n_custs, round(${sumDec2("c_acctbal")}, 2) AS sum_bal
      FROM customer GROUP BY c_nationkey
    ) ca ON n_nationkey = ca.c_nationkey
    ORDER BY n_nationkey"""

  val semiAntiJoin: String = """
    WITH w AS (
      SELECT c_mktsegment, count(*) AS n_with_orders
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment),
    wo AS (
      SELECT c_mktsegment, count(*) AS n_without_orders
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment)
    SELECT c_mktsegment,
           coalesce(n_with_orders, 0) AS n_with_orders,
           coalesce(n_without_orders, 0) AS n_without_orders
    FROM w FULL OUTER JOIN wo USING (c_mktsegment)
    ORDER BY c_mktsegment"""

  val distinctCombos: String = """
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    ORDER BY o_orderstatus, o_orderpriority"""

  val topkPerGroup: String = """
    SELECT o_orderstatus, rn, o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_orderstatus, rn"""

  val unionEntities: String = s"""
    WITH u AS (
      SELECT 'customer' AS src, c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT 'supplier' AS src, s_acctbal AS acctbal FROM supplier)
    SELECT src, count(*) AS n, round(${sumDec2("acctbal")}, 2) AS sum_bal
    FROM u GROUP BY src ORDER BY src"""

  val minuteAgg: String = s"""
    SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute, event_type,
           count(*) AS n_events, ${exactAvg("value")} AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  val bucketing: String = """
    SELECT event_type,
           CASE WHEN value < 30 THEN 'heavy'
                WHEN value < 60 THEN 'moderate'
                ELSE 'light' END AS bucket,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  val validateEvents: String = s"""
    SELECT event_type, count(*) AS n_valid, round(${sumDec2("value")}, 2) AS sum_value
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
      AND value > 0 AND props IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type"""

  val dayFilter: String = """
    SELECT event_type, count(*) AS n,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY event_type
    ORDER BY event_type"""

  /** Shared WITH-chain of the mood flagship (unrounded, pre-ORDER). */
  private val moodCte: String = s"""
    ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
           FROM events),
    traffic AS (
      SELECT date_trunc('minute', ts) AS event_time,
             'x' || CAST(user_id % 4 AS VARCHAR) AS intersection,
             value / 4 AS speed
      FROM ev),
    tagg AS (
      SELECT event_time, intersection, ${exactAvg("speed")} AS avg_speed
      FROM traffic GROUP BY 1, 2),
    weather AS (
      SELECT event_id, date_trunc('minute', ts) AS event_time, value / 10 AS temp,
             CASE event_type
               WHEN 'click' THEN 'clear'
               WHEN 'view' THEN 'partly_cloudy'
               WHEN 'purchase' THEN 'mainly_clear'
               WHEN 'signup' THEN 'rain_heavy'
               ELSE 'thunderstorm' END AS weather
      FROM ev),
    wagg AS (
      SELECT event_time, ${exactAvg("temp")} AS avg_temp, min_by(weather, event_id) AS weather
      FROM weather GROUP BY 1),
    news AS (
      SELECT event_id, date_trunc('minute', ts) AS event_time,
             CASE WHEN event_type = 'error' THEN 'negative'
                  WHEN event_type = 'purchase' THEN 'positive'
                  ELSE 'neutral' END AS sentiment
      FROM ev),
    nagg AS (
      SELECT event_time, min_by(sentiment, event_id) AS sentiment
      FROM news GROUP BY 1),
    joined AS (
      SELECT t.event_time, t.intersection, t.avg_speed, w.avg_temp, w.weather, n.sentiment
      FROM tagg t
      LEFT JOIN wagg w USING (event_time)
      LEFT JOIN nagg n USING (event_time)),
    mood_raw AS (
      SELECT event_time, intersection, avg_speed, avg_temp, weather, sentiment,
             CASE
               WHEN avg_speed IS NULL OR weather IS NULL THEN 'unknown'
               WHEN sentiment = 'negative' THEN 'tense'
               WHEN avg_speed > 60 AND weather IN ('clear','mainly_clear','partly_cloudy') THEN 'relaxed'
               WHEN avg_speed < 30 AND weather NOT IN ('clear','mainly_clear','partly_cloudy','unknown') THEN 'stressed'
               WHEN avg_speed < 30 AND weather IN ('clear','mainly_clear','partly_cloudy') THEN 'slowed_but_chill'
               WHEN avg_speed > 60 AND weather NOT IN ('clear','mainly_clear','partly_cloudy','unknown') THEN 'fast_but_gloomy'
               ELSE 'normal' END AS mood
      FROM joined)"""

  val moodFlagship: String = s"""
    WITH $moodCte
    SELECT event_time, intersection,
           avg_speed, avg_temp,
           weather, sentiment, mood
    FROM mood_raw
    ORDER BY event_time, intersection"""

  val dailySummary: String = s"""
    WITH $moodCte
    SELECT intersection, mood, count(*) AS records_count,
           ${exactAvg("avg_speed")} AS avg_speed,
           ${exactAvg("avg_temp")} AS avg_temp
    FROM mood_raw
    GROUP BY intersection, mood
    ORDER BY intersection, mood"""

  val classifyNews: String = """
    SELECT doc_id,
           CASE
             WHEN text IS NULL THEN 'neutral'
             WHEN contains(lower(text), 'accident') OR contains(lower(text), 'strike')
               OR contains(lower(text), 'crash') OR contains(lower(text), 'delay')
               OR contains(lower(text), 'protest') THEN 'negative'
             WHEN contains(lower(text), 'smooth') OR contains(lower(text), 'sunny')
               OR contains(lower(text), 'festival') OR contains(lower(text), 'celebration')
               THEN 'positive'
             ELSE 'neutral' END AS sentiment
    FROM documents
    ORDER BY doc_id"""

  val textStats: String = s"""
    SELECT doc_id,
           len($toks) AS n_tokens,
           len(list_distinct($toks)) AS n_unique,
           length($norm) AS n_chars_norm,
           round(CAST(len(list_filter($toks, x -> x IN $stopEn)) AS DOUBLE)
                 / len($toks), 6) AS stopword_ratio,
           md5($norm) AS fingerprint
    FROM documents
    ORDER BY doc_id"""

  val langId: String = s"""
    WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
    r AS (
      SELECT doc_id,
        CAST(len(list_filter(tk, x -> x IN $stopEn)) AS DOUBLE) / len(tk) AS r_en,
        CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','y','los'))) AS DOUBLE) / len(tk) AS r_es,
        CAST(len(list_filter(tk, x -> x IN ('le','la','les','des','et','est'))) AS DOUBLE) / len(tk) AS r_fr,
        CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ein'))) AS DOUBLE) / len(tk) AS r_de
      FROM t),
    u AS (
      SELECT doc_id, 'en' AS lang, r_en AS ratio, 1 AS ord FROM r
      UNION ALL SELECT doc_id, 'es', r_es, 2 FROM r
      UNION ALL SELECT doc_id, 'fr', r_fr, 3 FROM r
      UNION ALL SELECT doc_id, 'de', r_de, 4 FROM r),
    b AS (
      SELECT doc_id, lang, ratio FROM u
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY ratio DESC, ord ASC) = 1)
    SELECT doc_id,
           CASE WHEN ratio >= 0.02 THEN lang ELSE 'unknown' END AS lang_guess
    FROM b
    ORDER BY doc_id"""

  /** = Queries.qualityFilter: thresholds applied to unrounded ratios. */
  val qualityFilter: String = s"""
    WITH s AS (
      SELECT doc_id,
             len($toks) AS n_toks,
             CAST(len(replace($norm, ' ', '')) AS DOUBLE) / len($toks) AS mean_len,
             CAST(len($norm) - len(regexp_replace($norm, '[^a-z0-9 ]', '', 'g'))
                  AS DOUBLE) / greatest(len($norm), 1) AS sym_ratio,
             CAST(len(list_filter($toks, x -> x IN $stopEn)) AS DOUBLE)
               / len($toks) AS stop_ratio
      FROM documents)
    SELECT doc_id,
           CAST(n_toks AS BIGINT) AS n_tokens,
           round(mean_len, 6) AS mean_tok_len,
           round(sym_ratio, 6) AS symbol_ratio,
           round(stop_ratio, 6) AS stopword_ratio,
           CAST(n_toks >= 20 AND mean_len BETWEEN 3.0 AND 6.0
                AND sym_ratio <= 0.03 AND stop_ratio >= 0.05 AS BIGINT) AS passes
    FROM s
    ORDER BY doc_id"""

  /** = Queries.repetitionSignals: per-doc list-lambda form (no unnest →
    * docs with empty n-gram lists keep their rows, null text propagates
    * null like Spark).
    */
  val repetitionSignals: String = s"""
    WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             list_transform(generate_series(1, len(toks) - 1),
               i -> concat_ws(' ', toks[i], toks[i + 1])) AS bgs,
             list_transform(generate_series(1, len(toks) - 2),
               i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])) AS tgs
      FROM t)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CAST(list_max(list_transform(list_distinct(toks),
                   u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                 / len(toks), 6) AS top_token_frac,
           CASE WHEN len(bgs) = 0 THEN 0.0
                ELSE round(CAST(list_max(list_transform(list_distinct(bgs),
                        u -> len(list_filter(bgs, x -> x = u)))) AS DOUBLE)
                      / len(bgs), 6) END AS top_bigram_frac,
           CASE WHEN len(tgs) = 0 THEN 0.0
                ELSE round(1.0 - CAST(len(list_distinct(tgs)) AS DOUBLE)
                      / len(tgs), 6) END AS dup_trigram_frac
    FROM s
    ORDER BY doc_id"""

  val dedupExact: String = s"""
    SELECT md5($norm) AS fp, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents
    GROUP BY 1
    ORDER BY keep_id"""

  /** Word-bigram fragment (= TextFunctions.wordNgrams(text, 2)). */
  private val bigrams =
    s"list_transform(generate_series(1, len($toks) - 1)," +
      s" i -> concat_ws(' ', $toks[i], $toks[i + 1]))"

  private val minhashCte: String = s"""
    g AS (
      SELECT doc_id, unnest(list_distinct($bigrams)) AS sh FROM documents),
    h AS (
      SELECT doc_id, mod(${hash60("sh")}, 1000000007) AS hh FROM g),
    sigs AS (
      SELECT doc_id,
             min(mod(hh * 2000007 + 777767777, 1000000007)) AS mh0,
             min(mod(hh * 4000013 + 555535547, 1000000007)) AS mh1,
             min(mod(hh * 6000019 + 333303317, 1000000007)) AS mh2,
             min(mod(hh * 8000025 + 111071087, 1000000007)) AS mh3
      FROM h GROUP BY doc_id)"""

  val minhashSignatures: String = s"""
    WITH $minhashCte
    SELECT doc_id, mh0, mh1, mh2, mh3 FROM sigs ORDER BY doc_id"""

  val lshCandidatePairs: String = s"""
    WITH $minhashCte,
    banded AS (
      SELECT doc_id, 0 AS band, md5(concat_ws(',', mh0, mh1)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band, md5(concat_ws(',', mh2, mh3)) AS sig FROM sigs)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b"""

  /** Mirrors ngramJaccardPairs(maxDf = 50): candidates only through grams
    * with within-block df <= 50, then EXACT full-gram Jaccard on survivors.
    */
  val jaccardPairs: String = s"""
    WITH t AS (
      SELECT doc_id, source AS block, list_distinct($toks) AS grams FROM documents),
    s AS (
      SELECT doc_id, block, len(grams) AS ng, unnest(grams) AS g
      FROM t WHERE len(grams) > 0),
    rare AS (
      SELECT block, g FROM s GROUP BY 1, 2 HAVING count(*) <= 50),
    c AS (
      SELECT s.doc_id, s.block, s.g FROM s JOIN rare USING (block, g)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM c a JOIN c b
        ON a.block = b.block AND a.g = b.g AND a.doc_id < b.doc_id),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
             count(*) AS inter
      FROM s a JOIN s b
        ON a.block = b.block AND a.g = b.g AND a.doc_id < b.doc_id
      JOIN cand ON cand.id_a = a.doc_id AND cand.id_b = b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM p
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
    ORDER BY id_a, id_b"""

  /** Mirrors Queries.allPairsJaccardGate / Dedup.allPairsJaccard: the
    * NAIVE exact all-pairs token join — prefix filtering and size
    * pruning are provably complete, so the oracle ignores them
    * entirely and the Spark side must produce the identical pair set.
    * Pure-integer threshold and jaccard_pp10k; corpus-wide (no source
    * blocking, unlike q21).
    */
  val allPairsJaccard: String = s"""
    WITH tset AS (
      SELECT doc_id,
             list_distinct(list_filter($toks, x -> x <> '')) AS ts
      FROM documents),
    s AS (
      SELECT doc_id, len(ts) AS n, unnest(ts) AS tok
      FROM tset WHERE len(ts) > 0),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n AS n_a, b.n AS n_b, count(*) AS c
      FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, CAST(c AS BIGINT) AS n_common,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST((c * 10000) // (n_a + n_b - c) AS BIGINT) AS jaccard_pp10k
    FROM p
    WHERE c * 100 >= 90 * (n_a + n_b - c)
    ORDER BY id_a, id_b"""

  /** Full corpus-dedup composition (= Dedup.dedupeCorpus with threshold
    * 0.8, k = 8, bands = 4, ngram = 2): exact keepers by normalized-md5
    * fingerprint → 8-hash minhash over word bigrams of the survivors →
    * 4-banded LSH candidates → exact bigram-Jaccard verify → greedy drop of
    * the larger id → surviving documents. Minhash constants are
    * a_i = 2i·1000003+1, b_i = i·777767777 mod p (Dedup.minhashParams).
    */
  val dedupeCorpus: String = s"""
    WITH fp AS (
      SELECT doc_id, md5($norm) AS fp FROM documents),
    keep AS (
      SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
    surv AS (
      SELECT d.* FROM documents d JOIN keep USING (doc_id)),
    g AS (
      SELECT doc_id, unnest(list_distinct($bigrams)) AS sh FROM surv),
    h AS (
      SELECT doc_id, mod(${hash60("sh")}, 1000000007) AS hh FROM g),
    sigs AS (
      SELECT doc_id,
             min(mod(hh *  2000007 + 777767777, 1000000007)) AS mh0,
             min(mod(hh *  4000013 + 555535547, 1000000007)) AS mh1,
             min(mod(hh *  6000019 + 333303317, 1000000007)) AS mh2,
             min(mod(hh *  8000025 + 111071087, 1000000007)) AS mh3,
             min(mod(hh * 10000031 + 888838864, 1000000007)) AS mh4,
             min(mod(hh * 12000037 + 666606634, 1000000007)) AS mh5,
             min(mod(hh * 14000043 + 444374404, 1000000007)) AS mh6,
             min(mod(hh * 16000049 + 222142174, 1000000007)) AS mh7
      FROM h GROUP BY doc_id),
    banded AS (
      SELECT doc_id, 0 AS band, md5(concat_ws(',', mh0, mh1)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band, md5(concat_ws(',', mh2, mh3)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 2 AS band, md5(concat_ws(',', mh4, mh5)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 3 AS band, md5(concat_ws(',', mh6, mh7)) AS sig FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    ge AS (
      SELECT doc_id, len(grams) AS ng, unnest(grams) AS g2
      FROM (SELECT doc_id, list_distinct($bigrams) AS grams FROM surv)
      WHERE len(grams) > 0),
    inter AS (
      SELECT c.id_a, c.id_b, a.ng AS na, b.ng AS nb, count(*) AS i
      FROM cand c
      JOIN ge a ON a.doc_id = c.id_a
      JOIN ge b ON b.doc_id = c.id_b AND a.g2 = b.g2
      GROUP BY 1, 2, 3, 4),
    drops AS (
      SELECT DISTINCT id_b AS doc_id FROM inter
      WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8)
    SELECT doc_id, source, lang, n_chars
    FROM surv
    WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    ORDER BY doc_id"""

  /** = Queries.quantizeEmbeddings (both engines round half away from zero;
    * codes comma-joined to a scalar so the driver's pandas gate can hash them).
    */
  val quantizeEmbeddings: String = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v)
    SELECT vec_id,
           round(scale, 6) AS scale,
           array_to_string(
             CASE WHEN scale = 0
                  THEN list_transform(e, x -> CAST(CAST(0 AS TINYINT) AS VARCHAR))
                  ELSE list_transform(e, x -> CAST(CAST(round(x / scale) AS TINYINT) AS VARCHAR))
             END, ',') AS q_codes
    FROM s ORDER BY vec_id"""

  val simhashFingerprints: String = s"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct($toks)) AS tok FROM documents),
    h AS (
      SELECT doc_id, ${hash60("tok")} AS hv FROM t),
    v AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (hv >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS votes
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) bits
      GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(CASE WHEN votes >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM v GROUP BY doc_id ORDER BY doc_id"""

  /** = Queries.incrementalAgg: three-delta additive maintenance must
    * equal the one-shot aggregate — counts and DECIMAL sums are
    * associative, so the fold sequence is invisible by construction;
    * this row certifies the merge machinery (null-safe keys, typed
    * zeros, fixed state schema), not the arithmetic.
    */
  val incrementalAgg: String = s"""
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n_events,
           ${sumDec2("value")} AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  /** Bit-spread ladder (= Layout.spread16) rendered as SQL: low 16 bits
    * of `e` into the even bit positions. Pure integer shift/mask — the
    * nesting doubles the string per step but the VALUE is engine-exact.
    */
  private def spread16Sql(e: String): String = {
    val x0 = s"(($e) & 65535)"
    val x1 = s"(($x0 | ($x0 << 8)) & 16711935)"
    val x2 = s"(($x1 | ($x1 << 4)) & 252645135)"
    val x3 = s"(($x2 | ($x2 << 2)) & 858993459)"
    s"(($x3 | ($x3 << 1)) & 1431655765)"
  }

  /** = Queries.zorderEvents: DuckDB date_diff('minute', epoch, ts) equals
    * Spark's `unix_timestamp(ts) div 60` (both floor the minute index for
    * post-epoch timestamps, UTC session).
    */
  val zorderEvents: String = {
    val m = "(date_diff('minute', TIMESTAMP '1970-01-01 00:00:00'," +
      " CAST(ts AS TIMESTAMP)) & 65535)"
    val u = "(user_id & 65535)"
    val z = s"(${spread16Sql(u)} | (${spread16Sql(m)} << 1))"
    s"""
    SELECT event_id, user_id, $m AS minute16, $z AS z
    FROM events
    ORDER BY z, event_id"""
  }

  /** = Queries.semanticDedup: coordinate-sign cells are plain array
    * indexing (DuckDB lists are 1-based: dims 0/16/32/48 → v[1]/v[17]/
    * v[33]/v[49]); same round-6 cosine threshold, same chain-free
    * smaller-id domination rule.
    */
  val semanticDedup: String = """
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (
      SELECT vec_id, label, v,
             (CASE WHEN v[1]  >= 0 THEN 8 ELSE 0 END +
              CASE WHEN v[17] >= 0 THEN 4 ELSE 0 END +
              CASE WHEN v[33] >= 0 THEN 2 ELSE 0 END +
              CASE WHEN v[49] >= 0 THEN 1 ELSE 0 END) AS cell
      FROM v),
    dom AS (
      SELECT DISTINCT a.vec_id FROM c a JOIN c b
      ON a.cell = b.cell AND b.vec_id < a.vec_id
         AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.3)
    SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(cell AS BIGINT) AS cell
    FROM c WHERE vec_id NOT IN (SELECT vec_id FROM dom)
    ORDER BY vec_id"""

  val annBruteForce: String = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10),
    c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
    s AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q CROSS JOIN c WHERE query_id != neighbor_id)
    SELECT query_id, rank, neighbor_id, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM s)
    WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** Mirrors Queries.tokenDriftGate / Profile.tokenDrift: per-parity
    * token counts, vocabulary full-outer join, integer ppm (`//` = the
    * engine's truncating `div` on non-negative operands), ranked by
    * (drift desc, token asc), top 30.
    */
  val tokenDrift: String = s"""
    WITH a AS (
      SELECT tok, count(*) AS cnt_a
      FROM (SELECT unnest($toks) AS tok FROM documents WHERE doc_id % 2 = 0)
      WHERE tok <> '' GROUP BY 1),
    b AS (
      SELECT tok, count(*) AS cnt_b
      FROM (SELECT unnest($toks) AS tok FROM documents WHERE doc_id % 2 = 1)
      WHERE tok <> '' GROUP BY 1),
    j AS (
      SELECT coalesce(a.tok, b.tok) AS tok,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b ON a.tok = b.tok)
    SELECT tok, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
           CAST(coalesce(cnt_a * 1000000 // (SELECT sum(cnt_a) FROM a), 0)
             AS BIGINT) AS ppm_a,
           CAST(coalesce(cnt_b * 1000000 // (SELECT sum(cnt_b) FROM b), 0)
             AS BIGINT) AS ppm_b,
           CAST(abs(coalesce(cnt_a * 1000000 // (SELECT sum(cnt_a) FROM a), 0)
                  - coalesce(cnt_b * 1000000 // (SELECT sum(cnt_b) FROM b), 0))
             AS BIGINT) AS drift_ppm
    FROM j
    ORDER BY drift_ppm DESC, tok ASC
    LIMIT 30"""

  /** Mirrors Queries.streamDriftGate / DriftStream.driftStaged: the
    * four-epoch staged drift monitor (with the mid-stream segment purge
    * — replay-invisible, so absent here) collapses to per-window SQL
    * re-aggregations — batch k's report covers segments {k−1, k},
    * per-source totals inside the window, integer-ppm vs the even-half
    * baseline, flags at 500 ppm. Segment files, the epoch-scoped
    * window reads, and the retention GC must all be invisible.
    */
  val streamDrift: String = s"""
    WITH bc AS (
      SELECT tok, count(*) AS cnt
      FROM (SELECT unnest($toks) AS tok FROM documents WHERE doc_id % 2 = 0)
      WHERE tok <> '' GROUP BY 1),
    base AS (
      SELECT tok,
             CAST(coalesce(cnt * 1000000 // (SELECT sum(cnt) FROM bc), 0)
               AS BIGINT) AS ppm_base
      FROM bc),
    seg AS (
      SELECT batch_id, source, tok, count(*) AS cnt
      FROM (SELECT (doc_id % 8 - 1) // 2 AS batch_id, source,
                   unnest($toks) AS tok
            FROM documents WHERE doc_id % 2 = 1)
      WHERE tok <> '' GROUP BY 1, 2, 3),
    win AS (
      SELECT k.batch_id, s.source, s.tok, CAST(sum(s.cnt) AS BIGINT) AS cnt_win
      FROM (VALUES (0), (1), (2), (3)) k(batch_id)
      JOIN seg s ON s.batch_id = k.batch_id OR s.batch_id = k.batch_id - 1
      GROUP BY 1, 2, 3),
    tot AS (
      SELECT batch_id, source, sum(cnt_win) AS tot FROM win GROUP BY 1, 2),
    rep AS (
      SELECT w.batch_id, w.source, w.tok, w.cnt_win,
             CAST(coalesce(w.cnt_win * 1000000 // t.tot, 0) AS BIGINT)
               AS ppm_win,
             CAST(coalesce(b.ppm_base, 0) AS BIGINT) AS ppm_base
      FROM win w
      JOIN tot t ON w.batch_id = t.batch_id AND w.source = t.source
      LEFT JOIN base b ON w.tok = b.tok)
    SELECT CAST(batch_id AS BIGINT) AS batch_id, source, tok, cnt_win,
           ppm_win, ppm_base,
           CAST(abs(ppm_win - ppm_base) AS BIGINT) AS drift_ppm
    FROM rep
    WHERE abs(ppm_win - ppm_base) >= 500
    ORDER BY batch_id, source, tok"""

  /** Mirrors Queries.tokenShardsGate / Layout.tokenShards: the
    * distributed two-pass cumulative sum collapses to ONE sequential
    * window over the deterministic (hash, doc_id) order — partition
    * boundaries and offsets must be invisible. Same hash and weight
    * formulas as q120.
    */
  val tokenShards: String = s"""
    WITH w AS (
      SELECT doc_id, CAST(len($toks) + 1 AS BIGINT) AS w FROM documents),
    h AS (
      SELECT doc_id, w,
             ${hash60("concat(CAST(doc_id AS VARCHAR), ':shard')")} AS hh
      FROM w),
    c AS (
      SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY hh, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum
      FROM h)
    SELECT doc_id, w, CAST(cum // 4000 AS BIGINT) AS shard_id
    FROM c ORDER BY doc_id"""

  /** Mirrors Queries.hardNegativesGate / Similarity.hardNegatives: the
    * q23 exact-cosine scan with the [0.10, 0.30) band applied to the
    * 6-dp-rounded cosine BEFORE ranking — banding on the rounded value
    * is what makes membership bit-stable across engines.
    */
  val hardNegatives: String = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5),
    c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
    s AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q CROSS JOIN c WHERE query_id != neighbor_id)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM s WHERE cosine >= 0.10 AND cosine < 0.30)
    WHERE rank <= 10
    ORDER BY query_id, rank"""

  /** q27: the LSH ranking itself is not SQL-expressible (random
    * hyperplanes), so the dump is the in-query certification (see
    * Queries.annLshCertified) and every certified bound is emitted as
    * literal TRUE — same pattern as q39's sketch bound. `n_returned` is
    * the one exact value the oracle can predict: top-k always fills at
    * the measured ≥40% candidate fraction.
    */
  val annLshCertified: String = """
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_returned,
           TRUE AS found_exact_neighbor,
           TRUE AS cosine_exact_ok,
           TRUE AS within_exact_bounds,
           TRUE AS corpus_recall_at_5_ok
    FROM embeddings WHERE vec_id < 10
    ORDER BY query_id"""

  /** Mirrors Queries.annQuantizedRescore: q42's quantization formula
    * (scale = maxAbs/127, codes = round(x/scale) as TINYINT), candidate
    * top-32 by 6-dp cosine against the DEQUANTIZED codes, exact-cosine
    * rescore of only those candidates, final top-8. Window tie-breaks
    * (cosine DESC, neighbor ASC) written identically on both engines.
    */
  val annQuantizedRescore: String = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10),
    cs AS (
      SELECT vec_id AS neighbor_id, e AS cv,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings)),
    c2 AS (
      SELECT neighbor_id, cv,
             CASE WHEN scale = 0
                  THEN list_transform(cv, x -> 0.0)
                  ELSE list_transform(cv,
                    x -> CAST(CAST(round(x / scale) AS TINYINT) AS DOUBLE)
                         * scale)
             END AS dv
      FROM cs),
    approx AS (
      SELECT query_id, neighbor_id, qv, cv,
             round(list_cosine_similarity(qv, dv), 6) AS approx_cosine
      FROM q CROSS JOIN c2 WHERE query_id != neighbor_id),
    cand AS (
      SELECT query_id, neighbor_id, qv, cv, approx_cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY approx_cosine DESC, neighbor_id ASC)
                        AS crank
            FROM approx)
      WHERE crank <= 32),
    rescored AS (
      SELECT query_id, neighbor_id, approx_cosine,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM cand)
    SELECT query_id, rank, neighbor_id, cosine, approx_cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM rescored)
    WHERE rank <= 8
    ORDER BY query_id, rank"""

  val embeddingNearDups: String = """
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    ORDER BY id_a, id_b"""

  val jsonExtract: String = """
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  val slidingWindow: String = s"""
    WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events WHERE event_type = 'purchase'),
    w AS (
      SELECT date_trunc('minute', ts) - k * INTERVAL 1 MINUTE AS window_start,
             event_type, value
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS k))
    SELECT window_start, event_type, count(*) AS n_events,
           ${exactAvg("value")} AS avg_value
    FROM w GROUP BY 1, 2 ORDER BY 1, 2"""

  val sessionize: String = s"""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    m AS (
      SELECT user_id, ts, value,
             -- strictly greater: native session_window MERGES events at
             -- EXACTLY gap distance (adjacent windows touch — proven by
             -- the SessionizeSpec parity fixture)
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e),
    g AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           round(${sumDec2("value")}, 2) AS sum_value
    FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""

  /** Click sessions rebuilt with the lag/gap technique (as sessionize),
    * then a plain inequality join pairs each purchase with its containing
    * session — the declarative spec of RangeJoin.pointInInterval.
    */
  val rangeJoinSessions: String = s"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type FROM events),
    c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
    m AS (
      SELECT user_id, ts,
             -- strictly greater: native session_window MERGES events at
             -- EXACTLY gap distance (adjacent windows touch — proven by
             -- the SessionizeSpec parity fixture)
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM c),
    g AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
    sess AS (
      SELECT user_id, min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             count(*) AS n_clicks
      FROM g GROUP BY user_id, sid),
    p AS (
      SELECT user_id, ts AS purchase_ts, value AS purchase_value
      FROM e WHERE event_type = 'purchase')
    SELECT p.user_id, p.purchase_ts, p.purchase_value, s.s_start, s.n_clicks
    FROM p JOIN sess s
      ON p.user_id = s.user_id
     AND p.purchase_ts >= s.s_start AND p.purchase_ts < s.s_end
    ORDER BY p.user_id, purchase_ts, s_start"""

  /** = Queries.packSequences(budget = 512). */
  val packSequences: String = s"""
    WITH t AS (
      SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      -- DuckDB's windowed sum(BIGINT) yields HUGEINT (int128); CAST back to
      -- BIGINT so the driver's pandas hasher sees the same int64 dtype Spark
      -- emits (HUGEINT reaches pandas as object/float and hash-mismatches).
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS start_off
      FROM t)
    SELECT doc_id, source, n_tokens,
           CAST(floor(start_off / 512) AS BIGINT) AS pack_id,
           CAST(start_off % 512 AS BIGINT) AS pack_offset
    FROM c ORDER BY source, doc_id"""

  val setOpsCohorts: String = """
    WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id FROM events WHERE event_type = 'purchase')
    SELECT user_id, 'click_and_purchase' AS cohort
    FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
    UNION ALL
    SELECT user_id, 'click_no_purchase' AS cohort
    FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
    ORDER BY cohort, user_id"""

  val cubeOrders: String = s"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(${sumDec2("o_totalprice")}, 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority"""

  /** = Queries.runningTotals: floor-epoch subtraction mirrors Spark's
    * timestamp→long cast; window ordered by (ts, value) on both sides.
    */
  val runningTotals: String = """
    WITH p AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase')
    SELECT user_id, ts,
           value,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) AS prev_gap_s,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, value
               ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS running_value
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ORDER BY user_id, ts"""

  val distinctUsers: String = """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type"""

  val rollupRevenue: String = s"""
    SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
           CAST(round(sum($revenueDec), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY 1, 2"""

  val percentiles: String = """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  val asofJoin: String = """
    SELECT p.user_id, p.ts AS purchase_ts, p.value AS purchase_value,
           c.value AS last_click_value, c.ts AS last_click_ts
    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                    FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.user_id, purchase_ts"""

  val pivotOrders: String = """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  val multimodalFeatures: String = """
    SELECT doc_id AS media_id,
           'image/fake' AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS fingerprint,
           CAST(320 + strlen(text) % 320 AS INTEGER) AS width,
           CAST(240 + strlen(text) % 240 AS INTEGER) AS height
    FROM documents
    ORDER BY media_id"""

  /** q39: the dump's exact columns are plain GROUP BY aggregates; the
    * estimate-bound column is emitted as literal TRUE — exactly what the
    * in-query 5% bound certifies (the raw sketch estimate itself is
    * implementation-specific and stays out of the hash).
    */
  val sketchProfile: String = """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS estimate_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  /** q48: winnowing fingerprints — k=7 shingle hashes (same md5-derived
    * field hash as minhash), min per w=4 sliding window, sorted distinct
    * set joined to one string (driver hasher can't hash arrays).
    */
  val docFingerprints: String = s"""
    WITH t AS (
      SELECT doc_id, $norm AS norm FROM documents),
    h AS (
      SELECT doc_id,
             -- length() (characters) not strlen() (bytes): Spark's
             -- length/substring are character-based, and substr here is
             -- too — byte counting would desync shingle positions on any
             -- multi-byte document
             CASE WHEN length(norm) >= 7
               THEN list_transform(range(1, length(norm) - 7 + 2),
                      i -> mod(${hash60("substr(norm, i, 7)")}, 1000000007))
               ELSE CAST([] AS BIGINT[]) END AS hs
      FROM t),
    f AS (
      SELECT doc_id, CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                          WHEN len(hs) <= 3 THEN [list_min(hs)]
                          ELSE list_transform(range(1, len(hs) - 3 + 1),
                                 i -> list_min(list_slice(hs, i, i + 3)))
                     END AS mins
      FROM h)
    SELECT doc_id,
           CAST(len(list_distinct(mins)) AS BIGINT) AS n_fps,
           array_to_string(list_sort(list_distinct(mins)), ',') AS fps
    FROM f
    ORDER BY doc_id"""

  /** q49: deterministic hash sampling — membership is a pure function of
    * md5(event_id ':' salt), so both engines select the identical row set;
    * integer parts-per-million thresholds avoid double-rounding skew.
    */
  val hashSampleEvents: String = s"""
    SELECT event_type, count(*) AS n_sampled,
           round(${sumDec2("value")}, 2) AS sum_value
    FROM events
    WHERE mod(${hash60("concat(CAST(event_id AS VARCHAR), ':graft')")}, 1000000)
          < CASE event_type WHEN 'click' THEN 100000
                            WHEN 'purchase' THEN 500000
                            ELSE 250000 END
    GROUP BY event_type
    ORDER BY event_type"""

  /** q50: BPE-ish pre-tokenizer match count — the pattern is lookaround-free
    * so Java regex and RE2 agree; dollar-quoted to keep the quotes in the
    * contraction alternatives intact.
    */
  val bpeTokens: String = s"""
    SELECT doc_id,
           CAST(len($toks) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all($norm, $$$$'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+$$$$)) AS BIGINT) AS n_bpe_tokens
    FROM documents
    ORDER BY doc_id"""

  /** q51: deterministic weighted source mixture — same hash bucket as q49,
    * per-source row_number, quota filter.
    */
  val sourceMixture: String = s"""
    WITH b AS (
      SELECT doc_id, source,
             mod(${hash60("concat(CAST(doc_id AS VARCHAR), ':mixture')")}, 1000000) AS bucket
      FROM documents),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS BIGINT) AS rk
      FROM b)
    SELECT doc_id, source, rk FROM r
    WHERE rk <= CASE WHEN source IN ('src0','src1','src2','src3') THEN 15 ELSE 5 END
    ORDER BY source, rk"""

  /** Shared candidate-graph CTEs (minhash → LSH bands → pairs → both-
    * direction edges) — the front half of q52/q117/q121.
    */
  private lazy val dupEdgesCtes: String = s"""$minhashCte,
    banded AS (
      SELECT doc_id, 0 AS band, md5(concat_ws(',', mh0, mh1)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band, md5(concat_ws(',', mh2, mh3)) AS sig FROM sigs),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs)"""

  /** Shared WITH-body (recursive) of the q52/q97 cluster oracles: LSH
    * candidate pairs → transitive closure → per-doc min-label cluster
    * assignment in `asg`.
    */
  private lazy val dupClusterCtes: String = s"""$dupEdgesCtes,
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    lbl AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
    asg AS (
      SELECT d.doc_id,
             coalesce(least(l.doc_id, l.mn), d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)"""

  /** Connected-component labels — transitive closure via recursive CTE,
    * feasible at oracle scale (the engine side uses O(log² n)
    * star-contraction instead; see graft.operators.Cluster). Candidate
    * edges are q20's, verbatim.
    */
  val dupClusters: String = s"""
    WITH RECURSIVE $dupClusterCtes
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM asg
    ORDER BY doc_id"""

  /** Mirrors Queries.leakageSafeSplit / Sampling.groupSplit: q52's
    * recursive-CTE cluster closure, then the side as the shared integer
    * ppm bucket of the CLUSTER id — membership and split both replayed.
    */
  val leakageSafeSplit: String = s"""
    WITH RECURSIVE $dupClusterCtes
    SELECT doc_id, cluster_id,
           CASE WHEN mod(${hash60(
    "concat(CAST(cluster_id AS VARCHAR), ':cvsplit')")}, 1000000) < 800000
                THEN 'train' ELSE 'heldout' END AS split
    FROM asg
    ORDER BY doc_id"""

  /** Mirrors Queries.dupClusterHistogram: q52's closure rolled up to
    * cluster sizes, then to a size histogram with the integer doc-share.
    */
  val dupClusterHistogram: String = s"""
    WITH RECURSIVE $dupClusterCtes,
    sz AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM asg GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST((cluster_size * CAST(count(*) AS BIGINT) * 1000000)
                // (SELECT n FROM tot) AS BIGINT) AS doc_share_ppm
    FROM sz
    GROUP BY cluster_size
    ORDER BY cluster_size"""

  /** Mirrors Queries.dupPagerank: three unrolled iterations of the
    * all-integer damping recurrence over the LSH candidate edges —
    * identical truncation points (`//` after the 150/850 scaling, and
    * inside each contribution pr // deg), BIGINT-cast sums (DuckDB
    * sums BIGINT into HUGEINT — the historic q58/q82/q83 divergence
    * class).
    */
  val dupPagerank: String = {
    def iter(prev: String, cur: String, c: String) = s"""
    $c AS (
      SELECT e.v AS doc_id, CAST(sum(p.pr // p.deg) AS BIGINT) AS s
      FROM edges e JOIN $prev p ON e.u = p.doc_id GROUP BY e.v),
    $cur AS (
      SELECT d.u AS doc_id, d.deg,
             (150 * (1000000000000 // (SELECT n FROM nn))) // 1000
             + (850 * c.s) // 1000 AS pr
      FROM deg d JOIN $c c ON d.u = c.doc_id)"""
    s"""
    WITH $dupEdgesCtes,
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    p0 AS (SELECT u AS doc_id, deg,
                  1000000000000 // (SELECT n FROM nn) AS pr
           FROM deg),${iter("p0", "p1", "c1")},${iter("p1", "p2", "c2")},${iter("p2", "p3", "c3")}
    SELECT doc_id, deg, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY doc_id"""
  }

  /** Mirrors Queries.mmrRerankGate: q23's candidate SQL capped at 20,
    * then five unrolled greedy MMR steps in INTEGER MICRO-UNITS — each
    * step joins the remaining candidates against the selected-so-far
    * union, takes the max pairwise cosine as an exact int64
    * (`round(round(cos,6)·1e6)`), scores
    * `(70·rel_u − 30·ms_u) // 100` (both engines truncate toward
    * zero), and picks the (score DESC, id ASC) argmax; step 1 uses
    * ms = 0 through the identical formula. The emitted score is
    * `score_u / 1000000.0` — the same integer over the same literal.
    * (A double-space `round((70·rel−30·ms)/100, 6)` systematically
    * lands on exact 7th-digit halves — 6-dp inputs × 70/100 — where
    * Spark's shortest-repr round and DuckDB's binary-exact round
    * disagree; integers have no half.)
    */
  val mmrRerank: String = {
    def step(i: Int) = {
      val prevSel = (1 until i)
        .map(j => s"SELECT query_id, neighbor_id, cv FROM sel$j")
        .mkString(" UNION ALL ")
      s"""
    selu$i AS ($prevSel),
    ms$i AS (
      SELECT r.query_id, r.neighbor_id,
             max(CAST(round(round(list_cosine_similarity(r.cv, s.cv), 6)
                            * 1000000) AS BIGINT)) AS ms_u
      FROM cand r JOIN selu$i s ON r.query_id = s.query_id
      WHERE r.neighbor_id NOT IN (SELECT neighbor_id FROM selu$i x
                                  WHERE x.query_id = r.query_id)
      GROUP BY r.query_id, r.neighbor_id),
    sc$i AS (
      SELECT c.query_id, c.neighbor_id, c.rel, c.cv,
             (70 * c.rel_u - 30 * m.ms_u) // 100 AS score_u
      FROM cand c JOIN ms$i m
        ON c.query_id = m.query_id AND c.neighbor_id = m.neighbor_id),
    sel$i AS (
      SELECT query_id, neighbor_id, rel, cv, score_u, $i AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score_u DESC, neighbor_id ASC) AS rn
            FROM sc$i)
      WHERE rn = 1)"""
    }
    val steps = (2 to 5).map(i => "," + step(i)).mkString
    val unions = (1 to 5)
      .map(i =>
        s"SELECT query_id, rank, neighbor_id, rel, score_u FROM sel$i")
      .mkString(" UNION ALL ")
    s"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
    c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
    cand AS (
      SELECT query_id, neighbor_id, cosine AS rel,
             CAST(round(cosine * 1000000) AS BIGINT) AS rel_u, cv
      FROM (SELECT query_id, neighbor_id, cv,
                   round(list_cosine_similarity(qv, cv), 6) AS cosine,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                              neighbor_id ASC) AS rank
            FROM q CROSS JOIN c WHERE query_id != neighbor_id)
      WHERE rank <= 20),
    sel1 AS (
      SELECT query_id, neighbor_id, rel, cv,
             (70 * rel_u - 30 * 0) // 100 AS score_u, 1 AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY (70 * rel_u - 30 * 0) // 100 DESC,
                                 neighbor_id ASC) AS rn FROM cand)
      WHERE rn = 1)$steps
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, rel,
           CAST(score_u AS BIGINT) / 1000000.0 AS score
    FROM ($unions)
    ORDER BY query_id, rank"""
  }

  /** Mirrors Queries.canonicalDocs: q52's clusters, then canonical
    * election per cluster — the member from the most-trusted source
    * (lowest numeric suffix), doc_id as the tie-break.
    */
  val canonicalDocs: String = s"""
    WITH RECURSIVE $dupClusterCtes,
    mem AS (
      SELECT a.doc_id, a.cluster_id, d.source,
             CAST(substr(d.source, 4) AS BIGINT) AS priority
      FROM asg a JOIN documents d ON a.doc_id = d.doc_id)
    SELECT doc_id, cluster_id, source,
           priority,
           first_value(doc_id) OVER (PARTITION BY cluster_id
             ORDER BY priority ASC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS canonical_id,
           doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
             ORDER BY priority ASC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS is_canonical
    FROM mem
    ORDER BY doc_id"""

  /** Mirrors Queries.heavyHitters: the sketch-then-verify output is
    * byte-identical to the plain full-vocabulary count + threshold, so
    * the oracle IS that plain form — the sketch may only change the
    * exchange size, never the answer.
    */
  val heavyHitters: String = s"""
    WITH t AS (SELECT unnest($toks) AS tok FROM documents),
    tk AS (SELECT tok FROM t WHERE tok <> ''),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk)
    SELECT tok,
           CAST(count(*) AS BIGINT) AS tf,
           (SELECT n FROM tot) AS n_tokens,
           CAST((CAST(count(*) AS BIGINT) * 100000) // (SELECT n FROM tot)
             AS BIGINT) AS per_100k
    FROM tk
    GROUP BY tok
    HAVING CAST(count(*) AS BIGINT) * 30 > (SELECT n FROM tot)
    ORDER BY tf DESC, tok"""

  /** Mirrors Queries.lmCoverage: top-400 trusted-source bigram model,
    * occurrence coverage per doc, >= 50% keep via `covered * 2 >=
    * n_bigrams`. sum() is CAST to BIGINT (DuckDB sums to HUGEINT — the
    * q58 divergence class).
    */
  val lmCoverage: String = s"""
    WITH bg AS (
      SELECT doc_id, source, unnest($bigrams) AS bg FROM documents),
    lm AS (
      SELECT bg FROM bg WHERE CAST(substr(source, 4) AS BIGINT) < 5
      GROUP BY bg ORDER BY count(*) DESC, bg LIMIT 400),
    sc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN bg IN (SELECT bg FROM lm) THEN 1 ELSE 0 END)
               AS BIGINT) AS c
      FROM bg GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN sc.n > 0 THEN (sc.c * 1000) // sc.n END AS coverage_pm,
           coalesce(sc.c * 2 >= sc.n, FALSE) AS keep,
           coalesce(sc.n, 0) AS n_bigrams,
           coalesce(sc.c, 0) AS covered
    FROM documents d LEFT JOIN sc USING (doc_id)
    ORDER BY doc_id"""

  /** Mirrors Queries.semanticDecon: eval = vec_id % 19 == 3; per corpus
    * vector the max 6-dp-rounded cosine against the whole eval set plus
    * the count of eval vectors at or above tau = 0.35. The broadcast
    * fold must equal this plain cross-join recomputation.
    */
  val semanticDecon: String = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    e AS (SELECT v FROM v WHERE vec_id % 19 = 3),
    c AS (SELECT vec_id, v FROM v WHERE vec_id % 19 <> 3),
    m AS (
      SELECT c.vec_id,
             max(round(list_cosine_similarity(c.v, e.v), 6)) AS mx,
             CAST(sum(CASE WHEN round(list_cosine_similarity(c.v, e.v), 6)
                             >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS hits
      FROM c CROSS JOIN e GROUP BY c.vec_id)
    SELECT c.vec_id, m.mx AS max_cos,
           coalesce(m.hits, 0) AS n_hits,
           coalesce(m.hits, 0) > 0 AS contaminated
    FROM c LEFT JOIN m USING (vec_id)
    ORDER BY vec_id"""

  /** Mirrors Queries.bm25WithDeletes: BM25 rebuilt one-shot over the
    * SURVIVORS (doc_id % 7 <> 0) — the index-side CTEs carry the delete
    * filter, the query set does not (a deleted doc's text still
    * queries). Tombstone segments must be invisible.
    */
  val bm25WithDeletes: String = s"""
    WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
    tfg AS (
      SELECT tok, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM t WHERE doc_id % 7 <> 0)
      WHERE tok <> '' GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tfg GROUP BY 1),
    st AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM dl),
    dfreq AS (SELECT tok, count(*) AS df FROM tfg GROUP BY 1),
    qt AS (
      SELECT DISTINCT doc_id AS query_id, tok
      FROM (SELECT doc_id, unnest(tk[1:8]) AS tok FROM t WHERE doc_id < 5)
      WHERE tok <> ''),
    m AS (
      SELECT qt.query_id, g.doc_id,
             ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) *
             (g.tf * (1.2 + 1)) /
             (g.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / st.avgdl)) AS part
      FROM qt
      JOIN tfg g USING (tok)
      JOIN dfreq d ON qt.tok = d.tok
      JOIN dl l ON g.doc_id = l.doc_id, st),
    agg AS (
      SELECT query_id, doc_id, round(sum(part), 4) AS score
      FROM m GROUP BY 1, 2)
    SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, score
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
          FROM agg)
    WHERE rk <= 5
    ORDER BY query_id, rk"""

  /** Mirrors Queries.streamingTokenBudget: one windowed pass in doc_id
    * order per source (batch boundaries are id-ranges, so global doc_id
    * order IS arrival order); the meter counts every arrived token and
    * a doc is admitted iff the meter had room when it arrived.
    */
  val streamingTokenBudget: String = s"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter($toks, x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM t)
    SELECT doc_id, source, n_tokens, cum_before,
           cum_before < 800 AS admitted
    FROM c ORDER BY doc_id"""

  /** Mirrors Queries.stratifiedSample: per-source row_number over the
    * salted stable hash (tie-break doc_id), keep rank <= 12.
    */
  val stratifiedSample: String = s"""
    WITH r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY ${hash60("concat(CAST(doc_id AS VARCHAR), ':graft')")},
                        doc_id) AS BIGINT) AS rk
      FROM documents)
    SELECT doc_id, source, rk FROM r
    WHERE rk <= 12
    ORDER BY source, rk"""

  /** Mirrors Queries.weightedSample: integer priority = salted stable
    * hash `//` (token count + 1); per-source row_number over
    * (priority, doc_id), keep rank <= 12. Both engines' `div`/`//` are
    * exact 64-bit floor division on positives — no float in the draw.
    */
  val weightedSample: String = s"""
    WITH w AS (
      SELECT doc_id, source, CAST(len($toks) + 1 AS BIGINT) AS w
      FROM documents),
    p AS (
      SELECT doc_id, source, w,
             ${hash60("concat(CAST(doc_id AS VARCHAR), ':wps')")} // w
               AS priority
      FROM w),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY priority, doc_id) AS rk
      FROM p)
    SELECT doc_id, source, w, priority, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 12
    ORDER BY source, rk"""

  /** Mirrors Queries.curriculumOrder: per-source quality rank (q87's
    * integer logit, ties by doc_id), then the closed-form interleave
    * position recomputed via scalar subqueries over the per-source
    * counts — the arithmetic the engine does in a broadcast fold.
    */
  val curriculumOrder: String = s"""
    WITH t AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
      WHERE tok <> ''),
    b AS (
      SELECT doc_id,
             mod(mod(${hash60("tok")}, 32) * 37, 21) - 10 AS w10
      FROM t),
    agg AS (SELECT doc_id, CAST(sum(w10) AS BIGINT) AS zn FROM b GROUP BY 1),
    r AS (
      SELECT d.doc_id, d.source,
             CAST(row_number() OVER (PARTITION BY d.source
               ORDER BY coalesce(a.zn, 0) DESC, d.doc_id) AS BIGINT) AS ord
      FROM documents d LEFT JOIN agg a USING (doc_id)),
    c AS (
      SELECT source AS s, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1)
    SELECT r.doc_id, r.source, r.ord,
           CAST((SELECT sum(least(c.c, r.ord - 1)) FROM c) +
                (SELECT count(*) FROM c WHERE c.s < r.source
                   AND c.c >= r.ord) + 1 AS BIGINT) AS global_pos
    FROM r
    ORDER BY global_pos"""

  /** Mirrors Queries.mixtureReweight: per-source ppm rates from the
    * same integer formula, membership by the same salted stable-hash
    * bucket. BIGINT casts keep DuckDB out of HUGEINT.
    */
  val mixtureReweight: String = s"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
    r AS (
      SELECT source,
             least(1000000,
               (300000 * (SELECT t FROM tot) *
                 (CASE WHEN CAST(substr(source, 4) AS BIGINT) < 5
                       THEN 3 ELSE 1 END)) // (30 * n)) AS rate_pm
      FROM c)
    SELECT d.doc_id, d.source, CAST(r.rate_pm AS BIGINT) AS rate_pm
    FROM documents d JOIN r USING (source)
    WHERE mod(${hash60("concat(CAST(doc_id AS VARCHAR), ':remix')")}, 1000000)
            < r.rate_pm
    ORDER BY doc_id"""

  /** Mirrors Queries.leakageAudit: df-capped cross-source candidates,
    * exact distinct-bigram Jaccard, per-source-pair rollup.
    */
  val leakageAudit: String = s"""
    WITH t AS (
      SELECT doc_id, source, list_distinct($bigrams) AS grams FROM documents),
    s AS (
      SELECT doc_id, source, unnest(grams) AS g
      FROM t WHERE len(grams) > 0),
    rare AS (SELECT g FROM s GROUP BY g HAVING count(*) <= 50),
    c AS (SELECT s.doc_id, s.source, s.g FROM s JOIN rare USING (g)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM c a JOIN c b
        ON a.g = b.g AND a.doc_id < b.doc_id AND a.source <> b.source),
    j AS (
      SELECT least(ta.source, tb.source) AS src_a,
             greatest(ta.source, tb.source) AS src_b,
             len(list_intersect(ta.grams, tb.grams)) * 1.0 /
               (len(ta.grams) + len(tb.grams)
                 - len(list_intersect(ta.grams, tb.grams))) AS jac
      FROM cand
      JOIN t ta ON cand.id_a = ta.doc_id
      JOIN t tb ON cand.id_b = tb.doc_id)
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(max(jac), 6) AS max_jaccard
    FROM j WHERE jac >= 0.5
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  /** Mirrors Queries.annIvfDeletes: brute-force top-5 over the
    * SURVIVING corpus (vec_id % 9 <> 4); queries keep the full id range
    * (a deleted vector's embedding still queries; it can no longer be a
    * RESULT). q75's exactness argument (nprobe = nlist) carries over.
    */
  val annIvfDeletes: String = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10),
    c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 9 <> 4),
    s AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q CROSS JOIN c WHERE query_id != neighbor_id)
    SELECT query_id, rank, neighbor_id, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM s)
    WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** Mirrors Queries.dataCard: per-source docs/tokens/langs, exact-dup
    * docs via md5-of-normal-form, q87's integer quality bar, quality as
    * a ratio of integer sums. BIGINT casts on every count/sum.
    */
  val dataCard: String = s"""
    WITH t AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
      WHERE tok <> ''),
    b AS (
      SELECT doc_id,
             mod(mod(${hash60("tok")}, 32) * 37, 21) - 10 AS w10
      FROM t),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(w10) AS BIGINT) AS zn
      FROM b GROUP BY 1),
    per AS (
      SELECT d.source, d.lang, md5($norm) AS fp,
             coalesce(a.n, 0) AS n, coalesce(a.zn, 0) AS zn
      FROM documents d LEFT JOIN agg a USING (doc_id))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs,
           CAST(sum(CASE WHEN zn >= n * 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS keep_docs,
           round(CAST(sum(zn) AS DOUBLE) / (10.0 * sum(n)) - 0.2, 6)
             AS quality
    FROM per
    GROUP BY source
    ORDER BY source"""

  /** Mirrors Queries.hybridSearch: q79's BM25 ranking (k = 20) and
    * q23's cosine ranking (k = 20, self-excluded) recomputed from first
    * principles, fused by reciprocal rank (1/(60+rank) per ranker,
    * absent rank contributes 0), per-query top-5 on (rrf desc, doc_id).
    */
  val hybridSearch: String = s"""
    WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
    tfg AS (
      SELECT tok, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tfg GROUP BY 1),
    st AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM dl),
    dfreq AS (SELECT tok, count(*) AS df FROM tfg GROUP BY 1),
    qt AS (
      SELECT DISTINCT doc_id AS query_id, tok
      FROM (SELECT doc_id, unnest(tk[1:8]) AS tok FROM t WHERE doc_id < 5)
      WHERE tok <> ''),
    m AS (
      SELECT qt.query_id, g.doc_id,
             ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) *
             (g.tf * (1.2 + 1)) /
             (g.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / st.avgdl)) AS part
      FROM qt
      JOIN tfg g USING (tok)
      JOIN dfreq d ON qt.tok = d.tok
      JOIN dl l ON g.doc_id = l.doc_id, st),
    aggb AS (
      SELECT query_id, doc_id, round(sum(part), 4) AS score
      FROM m GROUP BY 1, 2),
    bmr AS (
      SELECT query_id, doc_id, r_bm
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, doc_id) AS r_bm
            FROM aggb)
      WHERE r_bm <= 20),
    q2 AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5),
    c2 AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
    s2 AS (
      SELECT query_id, neighbor_id AS doc_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q2 CROSS JOIN c2 WHERE query_id != neighbor_id),
    annr AS (
      SELECT query_id, doc_id, r_ann
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS r_ann
            FROM s2)
      WHERE r_ann <= 20),
    f AS (
      SELECT coalesce(b.query_id, a.query_id) AS query_id,
             coalesce(b.doc_id, a.doc_id) AS doc_id,
             coalesce(1.0 / (60 + b.r_bm), 0) +
               coalesce(1.0 / (60 + a.r_ann), 0) AS rrf
      FROM bmr b FULL OUTER JOIN annr a
        ON b.query_id = a.query_id AND b.doc_id = a.doc_id)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
           round(rrf, 6) AS rrf
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
          FROM f)
    WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** Mirrors Queries.simhashNearDupPairs: 60-bit bigram simhash
    * recomputed per doc, then the ORACLE is the brute-force all-pairs
    * Hamming scan the banding exists to avoid.
    */
  val simhashNearDupPairs: String = s"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct($bigrams)) AS tok FROM documents),
    h AS (
      SELECT doc_id, ${hash60("tok")} AS hv FROM t),
    v AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (hv >> b.bit) % 2 = 1 THEN 1 ELSE -1 END) AS votes
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) b
      GROUP BY 1, 2),
    s AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN votes >= 0 THEN (CAST(1 AS BIGINT) << bit)
                      ELSE 0 END) AS BIGINT) AS sh
      FROM v GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    ORDER BY id_a, id_b"""

  /** Mirrors Queries.ragPipeline: same chunks, same stub-encoder
    * vectors, brute-force cosine top-5 — the index path must reproduce
    * it exactly at full probe.
    */
  val ragPipeline: String = s"""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(generate_series(1,
               greatest(coalesce(len(text), 0), 1), 80)) AS start
      FROM documents),
    ch AS (
      SELECT CAST(doc_id * 1000 + (start - 1) // 80 AS BIGINT) AS chunk_id,
             substr(text, start, 100) AS chunk
      FROM starts),
    e AS (
      SELECT chunk_id,
             list_transform(generate_series(0, 15), i ->
               (mod(${hash60("concat(chunk, ':', CAST(i AS VARCHAR))")}, 2001)
                 - 1000) / 1000.0) AS v
      FROM ch),
    q AS (
      SELECT chunk_id AS query_id, v AS qv
      FROM e WHERE chunk_id % 1000 = 0 AND chunk_id < 3000),
    s AS (
      SELECT query_id, chunk_id AS neighbor_id,
             round(list_cosine_similarity(qv, v), 6) AS cosine
      FROM q CROSS JOIN e WHERE query_id != chunk_id)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rank
          FROM s)
    WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** Mirrors Queries.funnel: min-after chain recomputed stage by stage;
    * strict `>` between stages on both engines.
    */
  val funnel: String = """
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    v AS (
      SELECT user_id, min(ts) AS t_view
      FROM e WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY 1),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                     WHEN c.t_click IS NOT NULL THEN 2
                     WHEN v.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    ORDER BY user_id"""

  /** Mirrors Queries.retentionCohorts. */
  val retentionCohorts: String = """
    WITH e AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
    c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
    SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
           CAST(e.day - c.cohort_day AS BIGINT) AS offset_days,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  /** Mirrors Queries.abStats: integer-cent sums, DECIMAL(38,0) variance
    * numerator (n·Σc² overflows int64), one double division at the end.
    */
  val abStats: String = """
    WITH e AS (
      SELECT user_id % 2 AS variant,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM events),
    a AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS sc2
      FROM e GROUP BY 1)
    SELECT variant, n,
           round(CAST(sc AS DOUBLE) / (n * 100.0), 6) AS mean,
           round(CAST(CAST(n AS DECIMAL(38,0)) * CAST(sc2 AS DECIMAL(38,0))
                      - CAST(sc AS DECIMAL(38,0)) * CAST(sc AS DECIMAL(38,0))
                   AS DOUBLE)
             / (CAST(n * (n - 1) AS DOUBLE) * 10000.0), 6) AS variance
    FROM a
    ORDER BY variant"""

  /** Mirrors Queries.anomalyFlags: identical integer inequality over
    * the identical trailing window.
    */
  val anomalyFlags: String = """
    WITH m AS (
      SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute,
             event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT minute, event_type, c,
             CAST(count(*) OVER tw AS BIGINT) AS tw,
             CAST(coalesce(sum(c) OVER tw, 0) AS BIGINT) AS s,
             CAST(coalesce(sum(c * c) OVER tw, 0) AS BIGINT) AS q
      FROM m
      WINDOW tw AS (PARTITION BY event_type ORDER BY minute
                    ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING))
    SELECT minute, event_type, c AS n_events,
           tw AS trail_n,
           coalesce(tw >= 30 AND
             (tw * c - s) * (tw * c - s) * (tw - 1)
               > 9 * tw * (tw * q - s * s), FALSE) AS anomaly
    FROM t
    ORDER BY minute, event_type"""

  /** Mirrors Queries.collocations: same integer Dice ppm, same
    * deterministic top-20.
    */
  val collocations: String = s"""
    WITH u AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest($toks) AS tok FROM documents)
      WHERE tok <> '' GROUP BY 1),
    b AS (
      SELECT string_split(bg, ' ')[1] AS tok_a,
             string_split(bg, ' ')[2] AS tok_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM (SELECT unnest($bigrams) AS bg FROM documents)
      GROUP BY 1, 2)
    SELECT b.tok_a, b.tok_b, b.n_ab,
           CAST((2 * b.n_ab * 1000000) // (ua.n + ub.n) AS BIGINT)
             AS dice_ppm
    FROM b
    JOIN u ua ON b.tok_a = ua.tok
    JOIN u ub ON b.tok_b = ub.tok
    ORDER BY dice_ppm DESC, tok_a, tok_b
    LIMIT 20"""

  /** = Queries.phraseSearch: the ORACLE is the full-corpus substring
    * scan the inverted index exists to avoid — data-derived bigram
    * phrases (tokens 2–3 of docs 3, 7, 11) matched at token boundaries
    * via the padded-contains form both sides share. The index path's
    * candidate generation + verify must reproduce it exactly.
    */
  val phraseSearch: String = s"""
    WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
    ph AS (
      SELECT doc_id AS phrase_id, array_to_string(tk[2:3], ' ') AS phrase
      FROM t WHERE doc_id IN (3, 7, 11)),
    j AS (
      SELECT doc_id, ' ' || array_to_string(tk, ' ') || ' ' AS joined
      FROM t)
    SELECT ph.phrase_id, j.doc_id
    FROM ph JOIN j ON contains(j.joined, ' ' || ph.phrase || ' ')
    ORDER BY 1, 2"""

  /** = Queries.bm25TopK: Okapi BM25 (k1 = 1.2, b = 0.75) recomputed
    * from first principles — tf/dl/df/N/avgdl over the same token
    * stream, the same idf ln(1 + (N - df + 0.5)/(df + 0.5)), constant
    * forms (`1.2 + 1`, `1 - 0.75`) written exactly as the Spark side
    * folds them, score rounded 4 dp BEFORE ranking, ties by doc_id.
    */
  val bm25TopK: String = s"""
    WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
    tfg AS (
      SELECT tok, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
      WHERE tok <> '' GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tfg GROUP BY 1),
    st AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM dl),
    dfreq AS (SELECT tok, count(*) AS df FROM tfg GROUP BY 1),
    qt AS (
      SELECT DISTINCT doc_id AS query_id, tok
      FROM (SELECT doc_id, unnest(tk[1:8]) AS tok FROM t WHERE doc_id < 5)
      WHERE tok <> ''),
    m AS (
      SELECT qt.query_id, g.doc_id,
             ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5)) *
             (g.tf * (1.2 + 1)) /
             (g.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / st.avgdl)) AS part
      FROM qt
      JOIN tfg g USING (tok)
      JOIN dfreq d ON qt.tok = d.tok
      JOIN dl l ON g.doc_id = l.doc_id, st),
    agg AS (
      SELECT query_id, doc_id, round(sum(part), 4) AS score
      FROM m GROUP BY 1, 2)
    SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, score
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
          FROM agg)
    WHERE rk <= 5
    ORDER BY query_id, rk"""

  /** = Queries.incrementalProfile: q58's one-shot recipe minus the
    * distinct count — the three-batch fold must be invisible (counts
    * are sums, bounds are min/max; associative by construction), so
    * the oracle profiles the WHOLE table in one pass.
    */
  val incrementalProfile: String = {
    val cols = Seq(
      "o_orderkey" -> false, "o_custkey" -> false, "o_orderstatus" -> true,
      "o_totalprice" -> false, "o_orderpriority" -> true)
    val perCol = cols.map { case (c, isStr) =>
      val (minC, maxC, minS, maxS) =
        if (isStr)
          ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
            s"min($c)", s"max($c)")
        else
          (s"CAST(min($c) * 100 AS BIGINT)", s"CAST(max($c) * 100 AS BIGINT)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      s"""
    SELECT '$c' AS col_name, count($c) AS n,
           CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           $minC AS min_c100, $maxC AS max_c100,
           $minS AS min_str, $maxS AS max_str
    FROM t""" }
    s"""
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
             o_orderpriority
      FROM orders)
    ${perCol.mkString(" UNION ALL ")}
    ORDER BY col_name"""
  }

  /** = Queries.curationFunnel: same quality gate as q41 (unrounded
    * comparisons), duplicate rule = rank-among-PASSERS per md5
    * fingerprint (already-rejected docs never enter the dedup stage),
    * rolled up per (source, fate) with doc and token counts.
    */
  val curationFunnel: String = s"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), source, text
      FROM documents),
    f AS (
      SELECT doc_id, source,
             CAST(len($toks) AS BIGINT) AS n_tokens,
             (len($toks) >= 20
              AND CAST(len(replace($norm, ' ', '')) AS DOUBLE) / len($toks)
                  BETWEEN 3.0 AND 6.0
              AND CAST(len($norm) - len(regexp_replace($norm, '[^a-z0-9 ]', '', 'g'))
                       AS DOUBLE) / greatest(len($norm), 1) <= 0.03
              AND CAST(len(list_filter($toks, x -> x IN $stopEn)) AS DOUBLE)
                  / len($toks) >= 0.05) AS passes,
             md5($norm) AS fp
      FROM corpus),
    ranked AS (
      SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM f WHERE passes),
    fate AS (
      SELECT f.source,
             CASE WHEN NOT f.passes THEN 'low_quality'
                  WHEN r.rn > 1 THEN 'duplicate'
                  ELSE 'kept' END AS fate,
             f.n_tokens
      FROM f LEFT JOIN ranked r ON f.doc_id = r.doc_id)
    SELECT source, fate, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM fate
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  /** = Queries.cdcDiff: both table states recomputed from the change
    * definitions — before = the initial load (event_id unique in
    * events, q61/q62's standing assumption), after = q62's
    * latest-wins-with-deletes window over initial + updates + deletes +
    * fresh-key inserts — then a full-outer join classifies each changed
    * key, with the unchanged-row filter the null-safe conjunction
    * diffSnapshots codegens.
    */
  val cdcDiff: String = """
    WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             value
      FROM events),
    u AS (
      SELECT event_id, ts, user_id, event_type, value, 0 AS del FROM e
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR, user_id, event_type,
             value * 2, 0
      FROM e WHERE user_id % 10 = 0
      UNION ALL
      SELECT event_id, ts + INTERVAL 2 HOUR, NULL, NULL, NULL, 1
      FROM e WHERE user_id % 7 = 0
      UNION ALL
      SELECT event_id + (SELECT max(event_id) + 1 FROM e),
             ts + INTERVAL 1 HOUR, user_id, event_type, value * 10, 0
      FROM e WHERE user_id % 5 = 0),
    fin AS (
      SELECT event_id, ts, user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, del DESC) AS rn
        FROM u)
      WHERE rn = 1 AND del = 0)
    SELECT coalesce(b.event_id, a.event_id) AS event_id,
           CASE WHEN b.event_id IS NULL THEN 'insert'
                WHEN a.event_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           b.ts AS ts_before, a.ts AS ts_after,
           b.value AS value_before, a.value AS value_after
    FROM e b FULL OUTER JOIN fin a ON b.event_id = a.event_id
    WHERE b.event_id IS NULL OR a.event_id IS NULL
       OR NOT (b.ts IS NOT DISTINCT FROM a.ts
           AND b.user_id IS NOT DISTINCT FROM a.user_id
           AND b.event_type IS NOT DISTINCT FROM a.event_type
           AND b.value IS NOT DISTINCT FROM a.value)
    ORDER BY event_id"""

  /** Word-trigram fragment (= TextFunctions.wordNgrams(text, 3)). */
  private val trigrams =
    s"list_transform(generate_series(1, len($toks) - 2)," +
      s" i -> concat_ws(' ', $toks[i], $toks[i + 1], $toks[i + 2]))"

  val decontaminate: String = s"""
    WITH tg AS (
      SELECT doc_id, unnest(list_distinct($trigrams)) AS g FROM documents),
    ev AS (SELECT DISTINCT g FROM tg WHERE doc_id % 97 = 0),
    bad AS (
      SELECT DISTINCT doc_id FROM tg
      WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM ev))
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE doc_id % 97 <> 0
      AND doc_id NOT IN (SELECT doc_id FROM bad)
    ORDER BY doc_id"""

  /** Plant + scrub mirrored from Queries.piiScrub; patterns come from
    * TextFunctions.PiiPatterns verbatim (RE2 ∩ Java subset), so the two
    * sides can never drift.
    */
  val piiScrub: String = {
    val patterns = graft.functions.TextFunctions.PiiPatterns
    val scrub = patterns.foldLeft("tainted") {
      case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    val counts = patterns.zip(Seq("n_urls", "n_emails", "n_nums")).map {
      case ((p, _), name) =>
        s"CAST(len(regexp_extract_all(tainted, '$p')) AS BIGINT) AS $name"
    }
    s"""
    WITH t AS (
      SELECT doc_id,
             concat(coalesce(text, ''), ' contact user', CAST(doc_id AS VARCHAR),
                    '@example.com or http://example.com/u/',
                    CAST(doc_id AS VARCHAR), ' tel +1 (555) 010-',
                    lpad(CAST(doc_id AS VARCHAR), 4, '0')) AS tainted
      FROM documents)
    SELECT doc_id,
           $scrub AS clean_text,
           ${counts.mkString(",\n           ")}
    FROM t
    ORDER BY doc_id"""
  }

  val vocabulary: String = s"""
    WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents)
    SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM tok GROUP BY tok
    ORDER BY tf DESC, tok
    LIMIT 100"""

  /** Per-day stats from the SOURCE table; `single_file` is the layout
    * bound the engine asserts off the rewritten table's scan (pinned as
    * literal TRUE here, like q39's sketch bound).
    */
  val compactLayout: String = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n_rows,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id,
           TRUE AS single_file
    FROM events
    GROUP BY 1
    ORDER BY day"""

  /** Latest-wins upsert mirrored from Queries.mergeUpsert: union base +
    * change batch, row_number per key ordered by (version desc, source
    * desc — updates beat base on ties), keep rank 1.
    */
  val mergeUpsert: String = """
    WITH updates AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS ts,
             user_id, event_type, value * 2 AS value
      FROM events WHERE user_id % 10 = 0),
    unioned AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             value, 0 AS src
      FROM events
      UNION ALL
      SELECT event_id, ts, user_id, event_type, value, 1 AS src FROM updates),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY ts DESC, src DESC) AS rn
      FROM unioned)
    SELECT event_id, ts, user_id, event_type, value
    FROM ranked WHERE rn = 1
    ORDER BY event_id"""

  val profileOrders: String = {
    // (name, isString) — same recipe as Queries.profileOrders: numeric
    // min/max emitted as BIGINT centi-units (value × 100; exact because
    // o_totalprice is pre-cast DECIMAL(18,2) and the rest are integral),
    // string min/max in the _str pair, the unused pair NULL. Integers
    // hash identically in every engine — no rendering on the hashed
    // surface, so no DuckDB-version dependence.
    val cols = Seq(
      "o_orderkey" -> false, "o_custkey" -> false, "o_orderstatus" -> true,
      "o_totalprice" -> false, "o_orderpriority" -> true)
    val perCol = cols.map { case (c, isStr) =>
      val (minC, maxC, minS, maxS) =
        if (isStr)
          ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
            s"min($c)", s"max($c)")
        else
          (s"CAST(min($c) * 100 AS BIGINT)", s"CAST(max($c) * 100 AS BIGINT)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      s"""
    SELECT '$c' AS col_name, count($c) AS n,
           CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT $c) AS n_distinct,
           $minC AS min_c100, $maxC AS max_c100,
           $minS AS min_str, $maxS AS max_str
    FROM t""" }
    s"""
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
             o_orderpriority
      FROM orders)
    ${perCol.mkString(" UNION ALL ")}
    ORDER BY col_name"""
  }

  /** Unsalted equivalents of the skew-salted q59/q60 — salting must be
    * invisible in the results.
    */
  val saltedJoinQty: String = """
    SELECT o_orderpriority, count(*) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  val saltedAggValues: String = """
    SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  /** Global latest-wins replay of q61's three CDC batches — sequential
    * application through the upsert sink must agree with the one-shot
    * merge (versions are monotone per key across the batches, so both
    * resolve to the same rows).
    */
  val cdcApply: String = """
    WITH u AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             value, 0 AS src
      FROM events
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR, user_id,
             event_type, value * 2, 1
      FROM events WHERE user_id % 10 = 0
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR, user_id,
             event_type, value * 3, 2
      FROM events WHERE user_id % 100 = 0),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY ts DESC, src DESC) AS rn
      FROM u)
    SELECT event_id, ts, user_id, event_type, value
    FROM r WHERE rn = 1
    ORDER BY event_id"""

  /** Global latest-wins replay of q62's updates AND deletes as ONE
    * window — a tombstone (del=1) wins its key unless a HIGHER-versioned
    * change exists (ties go to the delete), and a deleted winner is
    * filtered from the output. Sequential application through the
    * tombstone-persisting upsert sink must agree with this global
    * replay; observable rank-1 rows are tie-free by construction (the
    * only same-version collisions, +1h updates for users divisible by
    * 70, sit beneath their +2h tombstone).
    */
  val cdcDeletes: String = """
    WITH u AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             value, 0 AS del
      FROM events
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR, user_id,
             event_type, value * 2, 0
      FROM events WHERE user_id % 10 = 0
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR, NULL,
             NULL, NULL, 1
      FROM events WHERE user_id % 7 = 0
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR, user_id,
             event_type, value * 4, 0
      FROM events WHERE user_id % 14 = 0
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 3 HOUR, user_id,
             event_type, value * 3, 0
      FROM events WHERE user_id % 21 = 0),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY ts DESC, del DESC) AS rn
      FROM u)
    SELECT event_id, ts, user_id, event_type, value
    FROM r WHERE rn = 1 AND del = 0
    ORDER BY event_id"""

  /** q63's change set is q62's restricted to the newest day; the day
    * column is derived from the ORIGINAL ts (key-stable — version
    * bumps don't move it), and the whole replay is one global window:
    * partition-scoped application must be invisible in the result.
    */
  val cdcPartitioned: String = """
    WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             value, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
      FROM events),
    hot AS (SELECT * FROM e WHERE day = (SELECT max(day) FROM e)),
    u AS (
      SELECT event_id, ts, user_id, event_type, value, day, 0 AS del
      FROM e
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR, user_id, event_type,
             value * 2, day, 0
      FROM hot WHERE user_id % 10 = 0
      UNION ALL
      SELECT event_id, ts + INTERVAL 2 HOUR, NULL, NULL, NULL, day, 1
      FROM hot WHERE user_id % 7 = 0
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR, user_id, event_type,
             value * 4, day, 0
      FROM hot WHERE user_id % 14 = 0
      UNION ALL
      SELECT event_id, ts + INTERVAL 3 HOUR, user_id, event_type,
             value * 3, day, 0
      FROM hot WHERE user_id % 21 = 0),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY ts DESC, del DESC) AS rn
      FROM u)
    SELECT event_id, ts, user_id, event_type, value, day
    FROM r WHERE rn = 1 AND del = 0
    ORDER BY event_id"""

  /** One-window replay of q64's three-batch incremental dedup: with
    * ascending-id ingest batches, the cross-batch first-occurrence-wins
    * rule collapses to global min(doc_id) per fingerprint — segment
    * appends and the mid-sequence bucketed compaction must be invisible.
    */
  val incrementalDedup: String = s"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
      FROM documents)
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5($norm)
                                ORDER BY doc_id) AS rn
      FROM corpus) t
    WHERE rn = 1
    ORDER BY doc_id"""

  /** One global pass of q67's three-batch incremental NEAR-dup dedup:
    * with ascending-id ingest batches and the greedy matches-any-
    * smaller-id policy (dropped docs' band keys register too), the
    * sequential band-store loop collapses to "drop b when a smaller-id
    * a shares an LSH band" over the whole planted corpus — the store's
    * segments, mid-sequence compaction, and owner-aware replay
    * matching must be invisible. Minhash/band recipe = dedupeCorpus's
    * (k = 8, bands = 4, word bigrams, minhashParams constants).
    */
  val incrementalNearDedup: String = nearDedupOnePass(s"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
      FROM documents
      UNION ALL
      SELECT doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
             text || ' qz17 qz18' AS text
      FROM documents""")

  /** Mirrors Queries.htmlExtractGate: the planted page (head with
    * script/style payloads, nav/promo/footer link blocks, body split
    * across two p blocks with an entity), then the shared RE2∩Java
    * extraction — drop script/style/comments, split on block tags,
    * per-block visible text + anchor text, keep iff ≥ 25 chars AND
    * link density ≤ 33%, reassemble position-ordered.
    */
  val htmlExtract: String = {
    // the shared visible-text chain: strip tags, decode entities (amp
    // LAST), collapse whitespace, trim — verbatim Html.visibleText
    def visible(x: String) =
      "trim(regexp_replace(" +
        "replace(replace(replace(replace(replace(replace(" +
        s"regexp_replace($x, '<[^>]*>', ' ', 'g')" +
        ", '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>')" +
        ", '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')" +
        ", '\\s+', ' ', 'g'))"
    // coalesce: DuckDB's array_to_string of an EMPTY list is NULL
    // (Spark's array_join is ''), which would null the whole keep
    // predicate for every anchor-free block
    val anchor = visible(
      "coalesce(array_to_string(regexp_extract_all(blk, " +
        "'(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 2), ' '), '')")
    s"""
    WITH d AS (
      SELECT doc_id,
        '<html><head><title>Doc ' || doc_id ||
        '</title><style>p{margin:0}</style>' ||
        '<script type="text/javascript">var id=' || doc_id ||
        ';</script></head><body>' ||
        '<nav><a href="/">home</a> <a href="/about">about</a> ' ||
        '<a href="/contact">contact</a></nav>' ||
        '<h1>Document ' || doc_id || '</h1><p>' ||
        substring(coalesce(text, ''), 1,
          CAST(floor(len(coalesce(text, '')) / 2) AS INTEGER)) ||
        '</p>' ||
        CASE WHEN doc_id % 3 = 0 THEN
          '<div class="promo"><a href="/buy">buy now great deals</a> ' ||
          '<a href="/subscribe">subscribe to the newsletter</a></div>'
        ELSE '' END ||
        '<p>' ||
        substring(coalesce(text, ''),
          CAST(floor(len(coalesce(text, '')) / 2) AS INTEGER) + 1,
          len(coalesce(text, ''))) ||
        ' &amp; more</p>' ||
        '<footer><a href="/privacy">privacy</a> ' ||
        '<a href="/terms">terms</a> (c) 2026</footer></body></html>'
          AS markup
      FROM documents),
    c AS (
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(markup,
        '(?is)<script(\\s[^>]*)?>.*?</script\\s*>', ' ', 'g'),
        '(?is)<style(\\s[^>]*)?>.*?</style\\s*>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d),
    b AS (
      SELECT doc_id, regexp_split_to_array(m,
        '(?i)</?(?:html|head|body|title|p|div|li|ul|ol|h[1-6]|t[dhr]|table|section|article|header|footer|nav|blockquote|form|aside|main|br)(\\s[^>]*)?/?>')
        AS blocks
      FROM c),
    t AS (
      SELECT doc_id, unnest(blocks) AS blk,
             unnest(generate_series(1, len(blocks))) AS pos
      FROM b),
    v AS (
      SELECT doc_id, pos, ${visible("blk")} AS btext, $anchor AS ltext
      FROM t)
    SELECT doc_id,
           CAST(sum(CASE WHEN len(btext) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocks,
           CAST(sum(CASE WHEN len(btext) >= 25
                     AND len(ltext) * 100 <= len(btext) * 33
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN len(btext) >= 25
                     AND len(ltext) * 100 <= len(btext) * 33
                    THEN btext END, ' ' ORDER BY pos), '') AS main_text
    FROM v GROUP BY doc_id
    ORDER BY doc_id"""
  }

  /** The shared q146 canonicalization chain (lowercase scheme/host,
    * fragment + default-port strip, tracking-param removal, byte-order
    * param sort, empty path → '/', bracketed-IPv6 → NULL) as CTEs over
    * a source CTE `src` exposing `url` plus the carried key columns —
    * ends in a CTE named `canon` with (carry..., url_canon, domain).
    * Mirrors [[graft.operators.Urls.canonicalize]] /
    * [[graft.operators.Urls.registeredDomain]] exactly (q146/q149/
    * q152–q154 all replay through this one fragment).
    */
  private def urlCanonChain(src: String, carry: String): String = s"""
    p AS (
      SELECT $carry,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)', 1) AS rest
      FROM $src),
    r0 AS (
      SELECT $carry, scheme,
        regexp_extract(regexp_extract(rest, '^([^/?]*)', 1),
          '([^@]*)$$', 1) AS hostport,
        regexp_extract(rest, '^[^/?]*(/[^?]*)?', 1) AS path0,
        regexp_extract(rest, '\\?(.*)$$', 1) AS query
      FROM p),
    r AS (
      SELECT $carry, scheme,
        CASE WHEN hostport LIKE '[%' THEN ''
             ELSE lower(regexp_extract(hostport, '^([^:]*)', 1)) END AS host,
        regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
        path0, query
      FROM r0),
    s AS (
      SELECT $carry, scheme, host,
        CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
               OR (scheme = 'https' AND port = '443')
          THEN '' ELSE ':' || port END AS portpart,
        CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        list_sort(list_filter(string_split(query, '&'), q -> q <> ''
          AND NOT regexp_matches(regexp_extract(q, '^([^=]*)', 1), '^utm_')
          AND regexp_extract(q, '^([^=]*)', 1)
            NOT IN ('gclid', 'fbclid', 'msclkid', 'mc_eid')))
          AS params
      FROM r),
    canon AS (
      SELECT $carry, host,
        CASE WHEN scheme <> '' AND host <> ''
          THEN scheme || '://' || host || portpart || path ||
            CASE WHEN len(params) > 0
              THEN '?' || coalesce(array_to_string(params, '&'), '')
              ELSE '' END
        END AS url_canon,
        nullif(regexp_extract(host, '([^.]+\\.[^.]+)$$', 1), '') AS domain
      FROM s)"""

  /** The q146 planted URL shapes (shared by the q152/q153 oracles). */
  private val urlPlantCase: String = """
        CASE CAST(doc_id % 5 AS INTEGER)
          WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Doc/'
            || doc_id || '?utm_source=feed&b=2&a=1&gclid=zz#frag'
          WHEN 1 THEN 'https://blog.' || source ||
            '.example.com:443/post?id=' || doc_id ||
            '&utm_campaign=x&z=9&ref=tw'
          WHEN 2 THEN 'https://ads.' || source || '.badsite.net/click?cid='
            || doc_id
          WHEN 3 THEN 'http://user:s3cret@' || source || '.example.com:8080'
          ELSE CASE WHEN doc_id % 10 = 9
            THEN 'http://[2001:db8::1]:8080/v6/' || doc_id
            ELSE 'not a url ' || doc_id END
        END"""

  /** PSL registered-domain CASE over an already-extracted host column
    * (mirrors graft.operators.PublicSuffix.registeredDomainOfHost —
    * the IN-lists are generated from the SAME Seqs).
    */
  private def pslCaseSql(h: String): String = {
    def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")
    val psl2 = inList(graft.operators.PublicSuffix.Suffixes2)
    val psl3 = inList(graft.operators.PublicSuffix.Suffixes3)
    def last(k: Int) = s"array_to_string(string_split($h, '.')[-$k:], '.')"
    val n = s"len(string_split($h, '.'))"
    s"""CASE
      WHEN $h = '' THEN ''
      WHEN $n >= 4 AND ${last(3)} IN ($psl3) THEN ${last(4)}
      WHEN $n = 3 AND ${last(3)} IN ($psl3) THEN ''
      WHEN $n >= 3 AND ${last(2)} IN ($psl2) THEN ${last(3)}
      WHEN $n = 2 AND ${last(2)} IN ($psl2) THEN ''
      WHEN $n >= 2 THEN ${last(2)}
      ELSE '' END"""
  }

  /** Lowercased port-free host of a URL expression (mirrors
    * graft.operators.Urls.hostOf, including the bracketed-IPv6 guard).
    */
  private def hostOfSql(x: String): String = {
    val hp = s"regexp_extract(regexp_extract(regexp_extract($x, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)', 1), '^([^/?]*)', 1), " +
      "'([^@]*)$$', 1)"
    s"CASE WHEN $hp LIKE '[%' THEN '' " +
      s"ELSE lower(regexp_extract($hp, '^([^:]*)', 1)) END"
  }

  /** Shared q154/q158 oracle prefix: the ring plant, anchor
    * extraction, and PSL domain keys — ends in `ed0 (u, v)`, one row
    * per link (multiplicity preserved).
    */
  private def linkRingEdgeCtes: String = s"""d AS (
      SELECT doc_id,
        '<html><body><p><a href="https://www.site' || (doc_id + 1) % 7 ||
        '.net/next">next site</a></p>' ||
        CASE WHEN doc_id % 7 % 2 = 0 THEN
          '<p><a href="https://www.site' || (doc_id + 2) % 7 ||
          '.net/skip">skip ahead</a></p>' ELSE '' END ||
        '<p><a href="https://hub.example.com/dir">hub directory</a></p>' ||
        CASE WHEN doc_id % 5 = 1 THEN
          '<p><a href="https://ads.badsite.net/click">ad</a></p>'
        ELSE '' END ||
        '</body></html>' AS markup,
        'https://www.site' || doc_id % 7 || '.net/doc/' || doc_id
          AS page_url
      FROM documents),
    c AS (
      SELECT doc_id, page_url,
             regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d),
    aa AS (
      SELECT doc_id, page_url,
             regexp_extract_all(m, '(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 0)
               AS anchors
      FROM c),
    ax AS (
      SELECT doc_id, page_url, anchors,
             unnest(generate_series(1, len(anchors))) AS pos
      FROM aa),
    a2 AS (
      SELECT doc_id, page_url,
        regexp_extract(anchors[CAST(pos AS INTEGER)],
          '(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 1) AS attrs
      FROM ax),
    a3 AS (
      SELECT doc_id, page_url,
        CASE WHEN regexp_extract(attrs,
               '(?i)href\\s*=\\s*"([^"]*)"', 1) <> ''
          THEN regexp_extract(attrs, '(?i)href\\s*=\\s*"([^"]*)"', 1)
          ELSE regexp_extract(attrs, '(?i)href\\s*=\\s*''([^'']*)''', 1)
        END AS href
      FROM a2),
    lnk AS (SELECT doc_id, page_url, href FROM a3 WHERE href <> ''),
    hu AS (
      SELECT ${hostOfSql("page_url")} AS hsrc,
             ${hostOfSql("href")} AS hdst
      FROM lnk),
    ed0 AS (
      SELECT nullif(${pslCaseSql("hsrc")}, '') AS u,
             nullif(${pslCaseSql("hdst")}, '') AS v
      FROM hu)"""

  /** Mirrors Queries.domainRankGate: the 7-domain ring plant, anchor
    * extraction, PSL domain keys, DISTINCT directed edges (self-loops
    * and NULLs dropped), then three unrolled all-integer PageRank
    * iterations (the q121 recurrence — identical truncation points,
    * BIGINT-cast sums) over string domain nodes.
    */
  val domainRank: String = {
    def iter(prev: String, cur: String, c: String) = s"""
    $c AS (
      SELECT e.v AS domain, CAST(sum(p.pr // p.deg) AS BIGINT) AS s
      FROM edges e JOIN $prev p ON e.u = p.domain GROUP BY e.v),
    $cur AS (
      SELECT d.u AS domain, d.deg,
             (150 * (1000000000000 // (SELECT n FROM nn))) // 1000
             + (850 * c.s) // 1000 AS pr
      FROM deg d JOIN $c c ON d.u = c.domain)"""
    s"""
    WITH $linkRingEdgeCtes,
    edges AS MATERIALIZED (
      SELECT DISTINCT u, v FROM ed0
      WHERE u IS NOT NULL AND v IS NOT NULL AND u <> v),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    p0 AS (SELECT u AS domain, deg,
                  1000000000000 // (SELECT n FROM nn) AS pr
           FROM deg),${iter("p0", "p1", "c1")},${iter("p1", "p2", "c2")},${iter("p2", "p3", "c3")}
    SELECT domain, deg, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY domain"""
  }

  /** Mirrors Queries.pslDomainCapGate: the planted ccSLD URLs, the PSL
    * registered-domain key (shared suffix Seqs), then q135's
    * row_number cap per domain (NULL domain = one capped group).
    */
  // lazy: qualitySignalCte is declared later in this object; a strict
  // val here would interpolate it before initialization
  lazy val pslDomainCaps: String = s"""
    WITH $qualitySignalCte,
    du AS (
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN 'https://a.shop.co.uk/d/' || doc_id
          WHEN 1 THEN 'https://b.news' || source || '.co.uk/d/' || doc_id
          WHEN 2 THEN 'https://www.example' || source || '.com/d/'
            || doc_id
          ELSE 'https://co.uk/'
        END AS url
      FROM documents),
    hx AS (SELECT doc_id, ${hostOfSql("url")} AS h FROM du),
    dx AS (SELECT doc_id, nullif(${pslCaseSql("h")}, '') AS domain
           FROM hx),
    r AS (
      SELECT s.doc_id, d.domain, s.n_tokens, s.zn,
             row_number() OVER (PARTITION BY d.domain
               ORDER BY s.quality DESC NULLS LAST, s.doc_id ASC) AS rk
      FROM sig s JOIN dx d USING (doc_id))
    SELECT doc_id, domain, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(zn, 0) AS BIGINT) AS zn, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 15
    ORDER BY domain, rk"""

  /** Mirrors Queries.anchorTextGate: planted anchors → extraction →
    * PSL domain keys → per-(domain, token) counts → top-5 per domain
    * by (cnt DESC, token ASC) row_number.
    */
  val anchorText: String = {
    def visible(x: String) =
      "trim(regexp_replace(" +
        "replace(replace(replace(replace(replace(replace(" +
        s"regexp_replace($x, '<[^>]*>', ' ', 'g')" +
        ", '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>')" +
        ", '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')" +
        ", '\\s+', ' ', 'g'))"
    s"""
    WITH d AS (
      SELECT doc_id,
        '<html><body><p><a href="https://www.site' || doc_id % 5 ||
        '.net/x">' ||
        CASE CAST(doc_id % 3 AS INTEGER)
          WHEN 0 THEN 'great quality widgets'
          WHEN 1 THEN 'cheap widgets online'
          ELSE 'widget reviews &amp; news' END ||
        '</a></p>' ||
        CASE WHEN doc_id % 4 = 0 THEN
          '<p><a href="https://hub.example.com/d">hub directory' ||
          ' listing</a></p>' ELSE '' END ||
        CASE WHEN doc_id % 7 = 0 THEN
          '<p><a href="not a url">broken link text</a></p>'
        ELSE '' END ||
        '</body></html>' AS markup
      FROM documents),
    c AS (
      SELECT doc_id, regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g')
               AS m
      FROM d),
    aa AS (
      SELECT doc_id,
             regexp_extract_all(m, '(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 0)
               AS anchors
      FROM c),
    ax AS (
      SELECT doc_id, anchors,
             unnest(generate_series(1, len(anchors))) AS pos
      FROM aa),
    a2 AS (
      SELECT doc_id,
        regexp_extract(anchors[CAST(pos AS INTEGER)],
          '(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 1) AS attrs,
        ${visible(
          "regexp_extract(anchors[CAST(pos AS INTEGER)], " +
            "'(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 2)")} AS anchor
      FROM ax),
    a3 AS (
      SELECT doc_id, anchor,
        CASE WHEN regexp_extract(attrs,
               '(?i)href\\s*=\\s*"([^"]*)"', 1) <> ''
          THEN regexp_extract(attrs, '(?i)href\\s*=\\s*"([^"]*)"', 1)
          ELSE regexp_extract(attrs, '(?i)href\\s*=\\s*''([^'']*)''', 1)
        END AS href
      FROM a2),
    lnk AS (SELECT anchor, href FROM a3 WHERE href <> ''),
    hx AS (SELECT anchor, ${hostOfSql("href")} AS h FROM lnk),
    dx AS (SELECT anchor, nullif(${pslCaseSql("h")}, '') AS domain
           FROM hx),
    tk AS (
      SELECT domain, unnest(string_split(lower(anchor), ' ')) AS token
      FROM dx WHERE domain IS NOT NULL),
    ct AS (
      SELECT domain, token, CAST(count(*) AS BIGINT) AS cnt
      FROM tk WHERE token <> '' GROUP BY 1, 2),
    r AS (
      SELECT domain, token, cnt,
             row_number() OVER (PARTITION BY domain
               ORDER BY cnt DESC, token ASC) AS rk
      FROM ct)
    SELECT domain, token, cnt, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    ORDER BY domain, rk"""
  }

  /** Mirrors Queries.metaRobotsGate / Html.metaRobots: comment strip,
    * both attribute orderings (case-insensitive), directive tokens
    * lowered+trimmed for the flags, original-case content preserved.
    */
  val metaRobots: String = s"""
    WITH d AS (
      SELECT doc_id,
        '<html><head>' ||
        CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN '<meta name="robots" content="noindex, follow">'
          WHEN 1 THEN '<META CONTENT=''NOFOLLOW'' NAME=''ROBOTS''>'
          WHEN 2 THEN ''
          ELSE '<meta name="robots" content="index, follow">'
        END ||
        '<meta charset="utf-8">' ||
        '<meta name="description" content="noindex decoy">' ||
        CASE WHEN doc_id % 4 = 2 THEN
          '<!-- <meta name="robots" content="noindex"> -->' ELSE '' END ||
        '</head><body><p>Doc ' || doc_id || '</p></body></html>' AS markup
      FROM documents),
    c AS (
      SELECT doc_id, regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g')
               AS m
      FROM d),
    x AS (
      SELECT doc_id,
        regexp_extract(m, '(?is)<meta\\s[^>]*name\\s*=\\s*["'']robots["''][^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*>', 1) AS nf,
        regexp_extract(m, '(?is)<meta\\s[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*name\\s*=\\s*["'']robots["''][^>]*>', 1) AS cf
      FROM c),
    f AS (
      SELECT doc_id,
        nullif(CASE WHEN nf <> '' THEN nf ELSE cf END, '')
          AS robots_content
      FROM x)
    SELECT doc_id, robots_content,
      coalesce(list_contains(list_transform(
        string_split(lower(robots_content), ','), t -> trim(t)),
        'noindex'), FALSE) AS noindex,
      coalesce(list_contains(list_transform(
        string_split(lower(robots_content), ','), t -> trim(t)),
        'nofollow'), FALSE) AS nofollow
    FROM f ORDER BY doc_id"""

  /** Mirrors Queries.domainRankWeightedGate: identical extraction, but
    * edge weight = links per (u, v) pair; three unrolled iterations of
    * the WEIGHTED recurrence with the overflow-safe contribution
    * `(pr // wout) * w` (the operator's documented truncation point).
    */
  val domainRankWeighted: String = {
    def iter(prev: String, cur: String, c: String) = s"""
    $c AS (
      SELECT e.v AS domain,
             CAST(sum((p.pr // p.wout) * e.w) AS BIGINT) AS s
      FROM edges e JOIN $prev p ON e.u = p.domain GROUP BY e.v),
    $cur AS (
      SELECT d.u AS domain, d.wout,
             (150 * (1000000000000 // (SELECT n FROM nn))) // 1000
             + (850 * c.s) // 1000 AS pr
      FROM wout d JOIN $c c ON d.u = c.domain)"""
    s"""
    WITH $linkRingEdgeCtes,
    edges AS MATERIALIZED (
      SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM ed0
      WHERE u IS NOT NULL AND v IS NOT NULL AND u <> v GROUP BY u, v),
    wout AS (SELECT u, CAST(sum(w) AS BIGINT) AS wout FROM edges
             GROUP BY u),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM wout),
    p0 AS (SELECT u AS domain, wout,
                  1000000000000 // (SELECT n FROM nn) AS pr
           FROM wout),${iter("p0", "p1", "c1")},${iter("p1", "p2", "c2")},${iter("p2", "p3", "c3")}
    SELECT domain, wout, CAST(pr AS BIGINT) AS pr FROM p3
    ORDER BY domain"""
  }

  /** Mirrors Queries.robotsGate / operators.Robots: line-level robots
    * parsing (comment/CR strip, key:value split), RFC 9309 group ids
    * via the lag-window group-start rule, wildcard-group selection,
    * then per-URL longest-prefix verdicts with Allow winning length
    * ties (row_number over len DESC, allow DESC, prefix DESC = Spark's
    * max(struct(len, allow, prefix))).
    */
  val robotsVerdicts: String = s"""
    WITH rb(domain, txt) AS (VALUES
      ('example0.com',
       'User-agent: *' || chr(10) || 'Disallow: /private/' || chr(10) ||
       'Allow: /private/ok/' || chr(10) || 'Disallow: /cat1' || chr(10)),
      ('example1.com',
       'User-agent: googlebot' || chr(10) || 'Disallow: /' || chr(10) ||
       chr(10) || 'User-agent: *' || chr(10) ||
       'User-agent: legacybot' || chr(10) || 'Disallow: /cat2/' ||
       chr(10) || '# maintenance note' || chr(10) || 'Disallow:' ||
       chr(13) || chr(10))),
    lx AS (
      SELECT domain, parts,
             unnest(generate_series(1, len(parts))) AS pos
      FROM (SELECT domain, string_split(txt, chr(10)) AS parts FROM rb)),
    ln0 AS (
      SELECT domain, pos,
        trim(replace(regexp_replace(parts[CAST(pos AS INTEGER)],
          '#.*$$', ''), chr(13), '')) AS ln
      FROM lx),
    kv AS (
      SELECT domain, pos,
        lower(trim(regexp_extract(ln, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(ln, '^[^:]+:(.*)$$', 1)) AS value
      FROM ln0 WHERE ln <> ''),
    eff AS (
      SELECT domain, pos, key, value, key = 'user-agent' AS isua
      FROM kv WHERE key IN ('user-agent', 'allow', 'disallow')),
    st AS (
      SELECT domain, pos, key, value, isua,
        CASE WHEN isua AND NOT coalesce(lag(isua) OVER
              (PARTITION BY domain ORDER BY pos), FALSE)
          THEN 1 ELSE 0 END AS gstart
      FROM eff),
    grp AS (
      SELECT domain, pos, key, value, isua,
        sum(gstart) OVER
          (PARTITION BY domain ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM st),
    star AS (
      SELECT DISTINCT domain, g FROM grp WHERE isua AND value = '*'),
    rules AS (
      SELECT DISTINCT r.domain, r.key = 'allow' AS allow,
             r.value AS prefix
      FROM grp r JOIN star s ON r.domain = s.domain AND r.g = s.g
      WHERE NOT r.isua AND r.value <> ''),
    u AS (
      SELECT doc_id,
        'https://www.example' || doc_id % 3 || '.com' ||
        CASE CAST(doc_id % 5 AS INTEGER)
          WHEN 0 THEN '/private/item' || doc_id
          WHEN 1 THEN '/private/ok/item' || doc_id
          WHEN 2 THEN '/cat1/item' || doc_id
          WHEN 3 THEN '/cat2/thing' || doc_id
          ELSE '/item' || doc_id
        END || '?page=1' AS url
      FROM documents),
    ku AS (
      SELECT doc_id, ${hostOfSql("url")} AS h,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)', 1)
          AS rest
      FROM u),
    keyed AS (
      SELECT doc_id, nullif(${pslCaseSql("h")}, '') AS domain,
        CASE WHEN rest = '' THEN NULL
          WHEN regexp_extract(rest, '^[^/?]*(/[^#]*|\\?[^#]*)?', 1) = ''
            THEN '/'
          ELSE regexp_extract(rest, '^[^/?]*(/[^#]*|\\?[^#]*)?', 1)
        END AS path
      FROM ku),
    m AS (
      SELECT k.doc_id, k.domain, k.path, r.allow, r.prefix,
        row_number() OVER (PARTITION BY k.doc_id
          ORDER BY len(r.prefix) DESC, r.allow DESC, r.prefix DESC)
          AS rn
      FROM keyed k LEFT JOIN rules r
        ON k.domain = r.domain AND starts_with(k.path, r.prefix))
    SELECT doc_id, domain, path,
           coalesce(allow, TRUE) AS allowed,
           prefix AS rule_prefix, allow AS rule_allow
    FROM m WHERE rn = 1
    ORDER BY doc_id"""

  /** Mirrors Queries.crawlLoopGate: the scheduled top-maxDepth waves
    * per domain, planted statuses over the SCHEDULED set, a depth-8
    * recursive walk over the response redirect edges (the per-hop dual
    * of the engine's pointer doubling), 3 retry attempts per retryable
    * failure, and the full-outer recrawl diff — ten stage counts.
    * Multiply-referenced CTEs MATERIALIZED (DuckDB inlines them
    * per-reference otherwise — the q153 sf1 OOM lesson).
    */
  val crawlLoop: String = s"""
    WITH RECURSIVE f AS MATERIALIZED (
      SELECT doc_id,
             'https://site' || (doc_id % 7) || '.example.com/p/' || doc_id
               AS url,
             'site' || (doc_id % 7) || '.example.com' AS domain,
             (doc_id * 37 + 11) % 100 AS priority
      FROM documents),
    sched AS MATERIALIZED (
      SELECT doc_id, url FROM (
        SELECT doc_id, url,
               row_number() OVER (PARTITION BY domain
                 ORDER BY priority DESC, url ASC) AS wave
        FROM f) WHERE wave <= 40),
    resp AS MATERIALIZED (
      SELECT doc_id, url,
        CASE WHEN doc_id % 10 = 7 OR doc_id % 100 BETWEEN 41 AND 44
               THEN 301
             WHEN doc_id % 10 = 8 THEN 503
             WHEN doc_id % 10 = 9 THEN 429 ELSE 200 END AS status
      FROM sched),
    fet AS MATERIALIZED (
      SELECT doc_id, url FROM resp WHERE status = 200),
    red AS MATERIALIZED (
      SELECT doc_id AS src, doc_id + 1 AS dst
      FROM resp WHERE status = 301),
    walk(src, cur, hops) AS (
      SELECT src, dst, CAST(1 AS BIGINT) FROM red
      UNION ALL
      SELECT w.src, e.dst, w.hops + 1
      FROM walk w JOIN red e ON e.src = w.cur
      WHERE w.hops < 8),
    fin AS MATERIALIZED (
      SELECT src, arg_max(cur, hops) AS endp FROM walk GROUP BY src),
    resolved AS (
      SELECT f2.src FROM fin f2
      WHERE NOT EXISTS (SELECT 1 FROM red r WHERE r.src = f2.endp)),
    retries AS (
      SELECT url, unnest(generate_series(1, 3)) AS attempt
      FROM resp WHERE status IN (429, 503)),
    prev AS MATERIALIZED (
      SELECT 'https://site' || (doc_id % 7) || '.example.com/p/' || doc_id
               AS url,
             DATE '2026-01-01' + CAST(doc_id % 28 AS INTEGER) AS lm,
             TRUE AS p
      FROM documents WHERE doc_id % 11 <> 3),
    curr AS MATERIALIZED (
      SELECT url,
             DATE '2026-01-01' + CAST(doc_id % 28 +
               CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER)
               AS lm,
             TRUE AS c
      FROM fet),
    dif AS MATERIALIZED (
      SELECT CASE WHEN prev.p IS NULL THEN 'new'
                  WHEN curr.c IS NULL THEN 'gone'
                  WHEN prev.lm IS DISTINCT FROM curr.lm THEN 'changed'
                  ELSE 'unchanged' END AS st
      FROM prev FULL OUTER JOIN curr ON prev.url = curr.url)
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'frontier_urls' AS stage,
           CAST(count(*) AS BIGINT) AS n FROM f
    UNION ALL SELECT 1, 'scheduled', count(*) FROM sched
    UNION ALL SELECT 2, 'fetched_ok', count(*) FROM fet
    UNION ALL SELECT 3, 'redirects', count(*) FROM red
    UNION ALL SELECT 4, 'redirects_resolved', count(*) FROM resolved
    UNION ALL SELECT 5, 'retry_attempts', count(*) FROM retries
    UNION ALL SELECT 6, 'recrawl_new', count(*) FROM dif WHERE st = 'new'
    UNION ALL SELECT 7, 'recrawl_changed', count(*) FROM dif
      WHERE st = 'changed'
    UNION ALL SELECT 8, 'recrawl_unchanged', count(*) FROM dif
      WHERE st = 'unchanged'
    UNION ALL SELECT 9, 'recrawl_gone', count(*) FROM dif
      WHERE st = 'gone'
    ORDER BY stage_idx"""

  /** q183: the ANN serving paths are not SQL-expressible (cell probes,
    * PQ codes), so the dump is the in-query recall certification (see
    * Queries.annRecallGate) and every certified bound is emitted as
    * literal TRUE — q27's pattern. Row counts ARE predictable: the
    * query batch is 20, top-k always fills at these corpus sizes
    * (measured at sf0.001/0.01/0.1).
    */
  val annRecall: String = """
    SELECT 'ivf_pq_nprobe4' AS path, CAST(20 AS BIGINT) AS n_queries,
           CAST(160 AS BIGINT) AS n_returned, TRUE AS recall_ok
    UNION ALL SELECT 'ivf_saved_nprobe4', 20, 100, TRUE
    UNION ALL SELECT 'pq_trained', 20, 160, TRUE
    ORDER BY path"""

  /** q184: the deflate byte count is zlib-build-bound (not a
    * cross-engine constant), so the oracle predicts the certification
    * surface: the planted byte length (six newline-joined copies for
    * every 13th doc) and the verdict the mid-gap 2800 pp10k floor must
    * produce — planted self-repetition fails, natural text passes
    * (measured gap: planted ≤ 1820, natural ≥ 3791, all SFs).
    */
  val deflateRatio: String = """
    SELECT doc_id,
           CAST(strlen(CASE WHEN doc_id % 13 = 0
             THEN concat_ws(chr(10), text, text, text, text, text, text)
             ELSE text END) AS BIGINT) AS n_bytes,
           (doc_id % 13 <> 0) AS keep
    FROM documents
    ORDER BY doc_id"""

  /** Mirrors Queries.recrawlPolicyGate / Sitemaps.recrawlPolicy: the
    * q170 diff plants, the modular interval store with a missing third
    * (floor fallback), and the integer multiplicative policy with the
    * [1 h, 4 h] clamp.
    */
  val recrawlPolicy: String = s"""
    WITH prev AS (
      SELECT 'https://ex.com/p/' || doc_id AS url,
             DATE '2026-01-01' + CAST(doc_id % 28 AS INTEGER) AS lm,
             TRUE AS p
      FROM documents WHERE doc_id % 11 <> 3),
    cur AS (
      SELECT 'https://ex.com/p/' || doc_id AS url,
             DATE '2026-01-01' + CAST(doc_id % 28 +
               CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER)
               AS lm,
             TRUE AS c
      FROM documents WHERE doc_id % 11 <> 7),
    d AS (
      SELECT coalesce(prev.url, cur.url) AS url,
             CASE WHEN prev.p IS NULL THEN 'new'
                  WHEN cur.c IS NULL THEN 'gone'
                  WHEN prev.lm IS DISTINCT FROM cur.lm THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM prev FULL OUTER JOIN cur ON prev.url = cur.url),
    iv AS (
      SELECT 'https://ex.com/p/' || doc_id AS url,
             CAST((doc_id % 7 + 1) * 7200000 AS BIGINT) AS interval_ms
      FROM documents WHERE doc_id % 3 <> 1)
    SELECT d.url, d.status, iv.interval_ms,
           CASE WHEN d.status = 'gone' THEN NULL
                WHEN d.status = 'new' THEN 3600000
                WHEN d.status = 'changed' THEN
                  greatest(coalesce(iv.interval_ms, 3600000) // 2, 3600000)
                ELSE least(coalesce(iv.interval_ms, 3600000) * 2, 14400000)
           END AS next_interval_ms
    FROM d LEFT JOIN iv ON d.url = iv.url
    ORDER BY d.url"""

  /** Mirrors Queries.sourceOverlapGate / Dedup.sourceOverlap: the two
    * plants (5-block cross-source mirror, -20 within-source copy), the
    * shared md5-of-normalized fingerprint, distinct (fp, source)
    * collapse, diagonal (within-source n ≥ 2) + off-diagonal pair
    * counts. Sums CAST BIGINT (DuckDB sum of BIGINT is HUGEINT — the
    * q58/q82 pandas-render class).
    */
  val sourceOverlap: String = s"""
    WITH t AS (
      SELECT doc_id, source,
        CASE WHEN (doc_id // 5) % 8 = 0 THEN doc_id - doc_id % 5
             WHEN doc_id % 40 BETWEEN 30 AND 33 THEN doc_id - 20
             ELSE doc_id END AS tid
      FROM documents),
    p AS (
      SELECT t.doc_id, t.source, d.text
      FROM t JOIN documents d ON d.doc_id = t.tid),
    f AS (SELECT md5($norm) AS fp, source FROM p),
    bs AS MATERIALIZED (
      SELECT fp, source, count(*) AS n_docs FROM f GROUP BY fp, source),
    diag AS (
      SELECT source AS source_a, source AS source_b,
             CAST(count(*) AS BIGINT) AS shared_fps,
             CAST(sum(n_docs) AS BIGINT) AS n_docs
      FROM bs WHERE n_docs >= 2 GROUP BY source),
    off AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS shared_fps,
             CAST(sum(a.n_docs + b.n_docs) AS BIGINT) AS n_docs
      FROM bs a JOIN bs b ON a.fp = b.fp AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT * FROM diag
    UNION ALL SELECT * FROM off
    ORDER BY source_a, source_b"""

  /** Mirrors Queries.feedsGate / Feeds.parse by reconstructing the
    * planted truth directly (the q173 discipline): per feed class the
    * two entries with their literal urls, the engine-canonical forms,
    * and epoch-second stamps computed from the planted instants
    * (+0100 → 07:30 UTC, GMT → 12:00, Z → 08:30, +01:00 → 11:00).
    */
  val feedEntries: String = """
    WITH r0 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 0),
    a0 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 3)
    SELECT doc_id, 'rss' AS kind, CAST(0 AS BIGINT) AS entry_pos,
      'HTTPS://Feed.Example.COM:443/a/' || doc_id ||
        '?utm_source=rss&x=1' AS url,
      'https://feed.example.com/a/' || doc_id || '?x=1' AS url_canon,
      CAST(NULL AS VARCHAR) AS guid,
      'Tue, 03 Feb 2026 08:30:00 +0100' AS date_raw,
      CAST(epoch(TIMESTAMP '2026-02-03 07:30:00') AS BIGINT)
        AS published_unix
    FROM r0
    UNION ALL
    SELECT doc_id, 'rss', 1,
      'https://feed.example.com/b/' || doc_id,
      'https://feed.example.com/b/' || doc_id,
      'tag-' || doc_id,
      CASE WHEN doc_id % 12 = 6 THEN 'yesterday-ish'
           ELSE 'Wed, 04 Feb 2026 12:00:00 GMT' END,
      CASE WHEN doc_id % 12 = 6 THEN NULL
           ELSE CAST(epoch(TIMESTAMP '2026-02-04 12:00:00') AS BIGINT) END
    FROM r0
    UNION ALL
    SELECT doc_id, 'atom', 0,
      'https://feed.example.com/c/' || doc_id,
      'https://feed.example.com/c/' || doc_id,
      NULL, '2026-02-03T08:30:00Z',
      CAST(epoch(TIMESTAMP '2026-02-03 08:30:00') AS BIGINT)
    FROM a0
    UNION ALL
    SELECT doc_id, 'atom', 1,
      'https://feed.example.com/d/' || doc_id,
      'https://feed.example.com/d/' || doc_id,
      NULL, '2026-02-04T12:00:00+01:00',
      CAST(epoch(TIMESTAMP '2026-02-04 11:00:00') AS BIGINT)
    FROM a0
    ORDER BY doc_id, kind, entry_pos"""

  /** Mirrors Queries.budgetAllocateGate / Frontier.budgetAllocate: the
    * ⌊√(doc_id mod 400)⌋ domain counts, budget = 55% of the corpus
    * (floor), the sorted-prefix satisfiability test, and the capped
    * split with the +1 remainder on the first capped domains.
    */
  val budgetAllocate: String = """
    WITH c AS (
      SELECT 'site' ||
             CAST(CAST(floor(sqrt(CAST(doc_id % 400 AS DOUBLE)))
               AS BIGINT) AS VARCHAR) || '.example.com' AS domain,
             count(*) AS n
      FROM documents GROUP BY 1),
    b AS (
      SELECT CAST(sum(n) * 55 // 100 AS BIGINT) AS budget,
             count(*) AS k
      FROM c),
    r AS (
      SELECT domain, n,
             sum(n) OVER (ORDER BY n, domain
               ROWS UNBOUNDED PRECEDING) AS s,
             row_number() OVER (ORDER BY n, domain) AS j
      FROM c),
    f AS (
      SELECT r.domain, r.n, r.s, r.j, b.budget, b.k,
             (r.n * (b.k - r.j + 1) + (r.s - r.n)) <= b.budget
               AS satisfied
      FROM r, b),
    agg AS (
      SELECT coalesce(sum(CASE WHEN satisfied THEN n END), 0) AS sfull,
             coalesce(sum(CASE WHEN NOT satisfied THEN 1 END), 0) AS m
      FROM f),
    x AS (
      SELECT f.*, agg.sfull, agg.m,
             row_number() OVER (PARTITION BY satisfied
               ORDER BY domain) AS cr
      FROM f, agg)
    SELECT domain, CAST(n AS BIGINT) AS n_pages, satisfied,
           CAST(CASE WHEN satisfied THEN n
                ELSE (budget - sfull) // m +
                  CASE WHEN cr <= (budget - sfull) % m THEN 1 ELSE 0 END
           END AS BIGINT) AS quota
    FROM x ORDER BY domain"""

  /** Mirrors Queries.streamFrontierGate / FrontierStream.assignStaged:
    * the three-epoch sequence replayed as ONE windowed pass — prior
    * waves per (domain, epoch) from the CAPPED cumulative arrival
    * count (the meter stores min(arrivals, cap)), within-epoch
    * best-first row numbers, per-domain delay pricing. The meter
    * segments, the epoch-1 replay, and the mid-sequence compaction
    * must all be invisible.
    */
  val streamFrontier: String = """
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    disc AS MATERIALIZED (
      SELECT 'https://site' ||
               CAST(CAST(floor(sqrt(CAST(doc_id % 144 AS DOUBLE)))
                 AS BIGINT) AS VARCHAR) || '.example.com/p/' || doc_id
               AS url,
             'site' ||
               CAST(CAST(floor(sqrt(CAST(doc_id % 144 AS DOUBLE)))
                 AS BIGINT) AS VARCHAR) || '.example.com' AS domain,
             CAST(doc_id % 7 AS BIGINT) AS priority,
             CASE WHEN doc_id <= (SELECT m // 3 FROM mx) THEN 0
                  WHEN doc_id <= (SELECT (2 * m) // 3 FROM mx) THEN 1
                  ELSE 2 END AS epoch
      FROM documents),
    cnt AS (
      SELECT domain, epoch, CAST(count(*) AS BIGINT) AS n
      FROM disc GROUP BY 1, 2),
    pri AS (
      SELECT domain, epoch,
             least(coalesce(CAST(sum(n) OVER (PARTITION BY domain
               ORDER BY epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0), 50) AS prior
      FROM cnt),
    wv AS (
      SELECT d.url, d.domain, d.priority,
             p.prior + row_number() OVER (PARTITION BY d.domain, d.epoch
               ORDER BY d.priority DESC, d.url ASC) AS wave
      FROM disc d JOIN pri p
        ON d.domain = p.domain AND d.epoch = p.epoch)
    SELECT url, domain, priority, CAST(wave AS BIGINT) AS wave,
           CAST((wave - 1) *
             (CASE domain WHEN 'site0.example.com' THEN 2000
                          WHEN 'site3.example.com' THEN 500
                          ELSE 1000 END) AS BIGINT) AS eta_ms,
           wave <= 50 AS scheduled
    FROM wv ORDER BY url"""

  /** Mirrors Queries.streamCurationGate / CurationStream.processBatch:
    * the planted WET corpus replayed as ONE pass — extract (q153's
    * block machinery), the noindex and chrome plants by residue,
    * langid routing, global min-id-per-fingerprint dedup over the
    * routed set (ascending-id epochs make the sequential store loop
    * equal one global pass), and the per-domain budget as prefix sums
    * in doc_id order. Epochs, both stores, the replay, and the
    * mid-sequence compactions must all be invisible.
    */
  private def streamCurationCore(finalSelect: String): String = {
    def visible(x: String) =
      "trim(regexp_replace(" +
        "replace(replace(replace(replace(replace(replace(" +
        s"regexp_replace($x, '<[^>]*>', ' ', 'g')" +
        ", '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>')" +
        ", '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')" +
        ", '\\s+', ' ', 'g'))"
    val anchor = visible(
      "coalesce(array_to_string(regexp_extract_all(blk, " +
        "'(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 2), ' '), '')")
    def nrm(x: String) =
      s"trim(regexp_replace(lower($x), '\\s+', ' ', 'g'))"
    def ntoks(x: String) =
      s"CAST(len(list_filter(string_split(${nrm(x)}, ' '), " +
        "t -> t <> '')) AS BIGINT)"
    val langs = Seq("en", "de", "es", "fr", "it", "pt", "nl", "zh")
    val p = Seq(37, 41, 43, 47, 53, 59, 61, 67)
    val q = Seq(5, 11, 17, 2, 8, 19, 3, 13)
    val zCols = langs.indices.map(k =>
      s"CAST(sum(mod(bk * ${p(k)} + ${q(k)}, 21) - 10) AS BIGINT) AS z$k")
      .mkString(",\n             ")
    val zbest = "greatest(" + langs.indices.map(k => s"z$k")
      .mkString(", ") + ")"
    val predCase = langs.indices.map(k =>
      s"WHEN z$k = $zbest THEN '${langs(k)}'").mkString(" ")
    val keepRule = "len(btext) >= 25 AND len(ltext) * 100 <= len(btext) * 33"
    s"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    base AS (
      SELECT d.doc_id, coalesce(r.text, '') AS t
      FROM documents d
      JOIN documents r ON r.doc_id =
        CASE WHEN (d.doc_id - d.doc_id % 10) % 40 = 20
               AND d.doc_id - d.doc_id % 10 >= 200
             THEN d.doc_id - d.doc_id % 10 - 200
             ELSE d.doc_id - d.doc_id % 10 END),
    m0 AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN doc_id % 11 = 0 THEN
          '<html><body><nav><a href="/">home</a> ' ||
          '<a href="/next">next</a></nav></body></html>'
        ELSE
        '<html><head><title>Doc ' || doc_id || '</title>' ||
        CASE WHEN doc_id % 13 = 4
          THEN '<meta name="robots" content="noindex">' ELSE '' END ||
        '</head><body><h1>Document ' || doc_id || '</h1><p>' ||
        substring(t, 1, CAST(floor(len(t) / 2) AS INTEGER)) ||
        '</p><p>' ||
        substring(t, CAST(floor(len(t) / 2) AS INTEGER) + 1, len(t)) ||
        ' and further details</p></body></html>'
        END AS markup,
        'site' || CAST((doc_id // 10) % 5 AS VARCHAR) || '.net' AS source
      FROM base),
    cx AS (
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(markup,
        '(?is)<script(\\s[^>]*)?>.*?</script\\s*>', ' ', 'g'),
        '(?is)<style(\\s[^>]*)?>.*?</style\\s*>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM m0),
    bx AS (
      SELECT doc_id, regexp_split_to_array(m,
        '(?i)</?(?:html|head|body|title|p|div|li|ul|ol|h[1-6]|t[dhr]|table|section|article|header|footer|nav|blockquote|form|aside|main|br)(\\s[^>]*)?/?>')
        AS blocks
      FROM cx),
    tx AS (
      SELECT doc_id, unnest(blocks) AS blk,
             unnest(generate_series(1, len(blocks))) AS pos
      FROM bx),
    vx AS (
      SELECT doc_id, pos, ${visible("blk")} AS btext, $anchor AS ltext
      FROM tx),
    ex AS MATERIALIZED (
      SELECT doc_id,
             CAST(sum(CASE WHEN $keepRule THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN $keepRule THEN btext END,
               chr(10) ORDER BY pos), '') AS main_text
      FROM vx GROUP BY doc_id),
    nmx AS (SELECT doc_id, ${nrm("main_text")} AS nm FROM ex),
    g0x AS (
      SELECT doc_id, nm, unnest(generate_series(1, len(nm) - 2)) AS i
      FROM nmx),
    gx AS (
      SELECT doc_id, substring(nm, CAST(i AS INTEGER), 3) AS gr FROM g0x),
    bkx AS (SELECT doc_id, mod(${hash60("gr")}, 64) AS bk FROM gx),
    zx AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             $zCols
      FROM bkx GROUP BY doc_id),
    lgx AS (
      SELECT e.doc_id,
             CASE WHEN coalesce(z.n_grams, 0) > 0
               THEN CASE $predCase END
               ELSE 'unknown' END AS pred
      FROM ex e LEFT JOIN zx z USING (doc_id)),
    routed AS MATERIALIZED (
      SELECT e.doc_id, m.source, e.main_text,
             md5(${nrm("e.main_text")}) AS fp,
             ${ntoks("e.main_text")} AS n_tokens
      FROM ex e JOIN m0 m USING (doc_id) JOIN lgx l USING (doc_id)
      WHERE e.doc_id % 13 <> 4 AND e.n_kept > 0
        AND l.pred IN ('en', 'it')),
    surv AS MATERIALIZED (
      SELECT doc_id, source, n_tokens
      FROM (SELECT doc_id, source, n_tokens,
              min(doc_id) OVER (PARTITION BY fp) AS rep_id
            FROM routed)
      WHERE doc_id = rep_id),
    adm AS (
      SELECT doc_id, source, n_tokens,
             coalesce(CAST(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS cum_before
      FROM surv)
    $finalSelect"""
  }

  val streamCuration: String = streamCurationCore("""
    SELECT doc_id,
           CAST(CASE WHEN doc_id <= (SELECT m // 3 FROM mx) THEN 0
                WHEN doc_id <= (SELECT (2 * m) // 3 FROM mx) THEN 1
                ELSE 2 END AS BIGINT) AS epoch,
           source, n_tokens, cum_before,
           cum_before < 300 AS admitted
    FROM adm ORDER BY doc_id""")

  /** q191 = q190's one-pass replay minus the epoch column: the gate's
    * range-partitioned file delivery makes batching invisible, and the
    * checkpoint restart must leave every decision byte-identical.
    */
  val streamCurationRestart: String = streamCurationCore("""
    SELECT doc_id, source, n_tokens, cum_before,
           cum_before < 300 AS admitted
    FROM adm ORDER BY doc_id""")

  /** Mirrors Queries.salsaGate / Cluster.salsaInt: the 12-edge lookup
    * plant, three unrolled SALSA sweeps with the engine's exact
    * truncation points (`hub div outdeg`, `auth div indeg`), full
    * outer hub/auth join.
    */
  val salsaScores: String = {
    def sweep(prevH: String, a: String, h: String) = s"""
    $a AS (
      SELECT e.v, sum($prevH.h // outd.od) AS a
      FROM ed e JOIN $prevH ON e.u = $prevH.u
      JOIN outd ON e.u = outd.u
      GROUP BY e.v),
    $h AS (
      SELECT e.u, sum($a.a // ind.id_) AS h
      FROM ed e JOIN $a ON e.v = $a.v
      JOIN ind ON e.v = ind.v
      GROUP BY e.u)"""
    s"""
    WITH ed AS (
      SELECT DISTINCT
        CAST([0,1,2,3,4,5,6,0,1,4,5,5][CAST(doc_id % 12 AS INTEGER) + 1]
          AS BIGINT) AS u,
        CAST([1,2,3,4,5,6,0,3,3,3,0,2][CAST(doc_id % 12 AS INTEGER) + 1]
          AS BIGINT) AS v
      FROM documents),
    outd AS (SELECT u, CAST(count(*) AS BIGINT) AS od FROM ed GROUP BY u),
    ind AS (SELECT v, CAST(count(*) AS BIGINT) AS id_ FROM ed GROUP BY v),
    h0 AS (
      SELECT u, 1000000000000 // (SELECT count(*) FROM outd) AS h
      FROM outd),
    ${sweep("h0", "a1", "h1")},
    ${sweep("h1", "a2", "h2")},
    ${sweep("h2", "a3", "h3")}
    SELECT coalesce(h3.u, a3.v) AS node,
           CAST(h3.h AS BIGINT) AS hub, CAST(a3.a AS BIGINT) AS auth
    FROM h3 FULL OUTER JOIN a3 ON h3.u = a3.v
    ORDER BY node"""
  }

  /** Mirrors Queries.urlTemplateGate / Urls.pathTemplate: digit-masked
    * path templates per host, page counts, trap threshold at 40.
    */
  val urlTemplates: String = s"""
    WITH u AS (
      SELECT 'https://s' || (doc_id % 5) || '.ex.com' ||
        CASE WHEN doc_id % 4 = 0 THEN '/p/' || doc_id
             WHEN doc_id % 4 = 1 THEN '/p/' || doc_id || '/rev/' ||
               (doc_id % 7)
             WHEN doc_id % 20 = 3 THEN '/about'
             ELSE '/cal/2026/' || (doc_id % 12 + 1) || '/' ||
               (doc_id % 28 + 1) END AS url
      FROM documents),
    t AS (
      SELECT ${hostOfSql("url")} AS host,
        regexp_replace(
          CASE WHEN regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(/[^?]*)?', 1) = ''
            THEN '/'
            ELSE regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(/[^?]*)?', 1) END,
          '[0-9]+', '{n}', 'g') AS template
      FROM u)
    SELECT host, template, CAST(count(*) AS BIGINT) AS pages,
           count(*) >= 40 AS trap_suspect
    FROM t GROUP BY 1, 2 ORDER BY host, template"""

  /** Mirrors Queries.paramAuditGate / Urls.explodeParams: param
    * explode (valueless keys carry ''), per-(host, key) URL and
    * distinct-value counts, the constant/identifier/enum verdict.
    */
  val paramAudit: String = s"""
    WITH u AS (
      SELECT 'https://s' || (doc_id % 3) || '.ex.com/p/' || doc_id ||
        '?id=' || doc_id || '&utm_source=feed&page=' || (doc_id % 5) ||
        '&session=' || CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END ||
        '&flag' AS url
      FROM documents),
    q AS (
      SELECT url, regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\\?([^#]*)', 1) AS qs
      FROM u),
    px AS (
      SELECT url,
             unnest(list_filter(string_split(qs, '&'), x -> x <> ''))
               AS p
      FROM q),
    kv AS (
      SELECT ${hostOfSql("url")} AS host,
             regexp_extract(p, '^([^=]*)', 1) AS param_key,
             regexp_extract(p, '^[^=]*=(.*)$$', 1) AS param_value
      FROM px)
    SELECT host, param_key, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT param_value) AS BIGINT) AS n_values,
           CASE WHEN count(DISTINCT param_value) = 1 THEN 'constant'
                WHEN count(DISTINCT param_value) * 2 >= count(*)
                  THEN 'identifier'
                ELSE 'enum' END AS kind
    FROM kv GROUP BY 1, 2 ORDER BY host, param_key"""

  /** Mirrors Queries.sitemapIndexGate: both parse levels (sitemap
    * blocks with the canonicalization chain; urlset pages), the
    * pointer→fetch-URL join, NULL-page dangling children.
    */
  val sitemapIndex: String = s"""
    WITH d0 AS (
      SELECT doc_id,
        CASE WHEN doc_id % 100 = 10 THEN
          '<sitemapindex><sitemap><loc> HTTPS://Ex.COM:443/sm/' ||
          (doc_id - 10) || '.xml?utm_source=i </loc>' ||
          '<lastmod>2026-02-01T00:00:00Z</lastmod></sitemap>' ||
          '<sitemap><loc>https://ex.com/sm/' || (doc_id + 10) ||
          '.xml</loc></sitemap>' ||
          '<sitemap><loc>https://ex.com/sm/9999980.xml</loc></sitemap>' ||
          '<!-- <sitemap><loc>https://ghost.ex.com/x.xml</loc>' ||
          '</sitemap> --></sitemapindex>'
        WHEN doc_id % 20 = 0 THEN
          '<urlset><url><loc>https://ex.com/pg/' || doc_id ||
          '/a</loc></url><url><loc>https://ex.com/pg/' || doc_id ||
          '/b</loc></url></urlset>'
        ELSE '<html><body>Doc ' || doc_id || '</body></html>' END
          AS markup,
        CASE WHEN doc_id % 20 = 0 AND doc_id % 100 <> 10
          THEN 'https://ex.com/sm/' || doc_id || '.xml' END AS sm_url
      FROM documents),
    c AS (
      SELECT doc_id, sm_url,
             regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d0),
    sb AS (
      SELECT doc_id,
             regexp_extract_all(m,
               '(?is)<sitemap\\s*>(.*?)</sitemap\\s*>', 1) AS blocks
      FROM c),
    sx AS (
      SELECT doc_id, blocks,
             unnest(generate_series(1, len(blocks))) AS pos
      FROM sb),
    ch0 AS (
      SELECT doc_id AS index_id, CAST(pos - 1 AS BIGINT) AS child_pos,
             blocks[CAST(pos AS INTEGER)] AS e
      FROM sx),
    lnk AS (
      SELECT index_id, child_pos,
        TRY_CAST(substr(regexp_extract(e,
          '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod\\s*>', 1), 1, 10)
          AS DATE) AS child_lastmod,
        replace(regexp_extract(e,
          '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1), '&amp;', '&')
          AS url
      FROM ch0),
    ${urlCanonChain("lnk", "index_id, child_pos, child_lastmod")},
    ch AS (
      SELECT index_id, child_pos, url_canon AS child_url, child_lastmod
      FROM canon),
    ub AS (
      SELECT doc_id,
             regexp_extract_all(m, '(?is)<url\\s*>(.*?)</url\\s*>', 1)
               AS blocks
      FROM c),
    ux AS (
      SELECT doc_id, blocks,
             unnest(generate_series(1, len(blocks))) AS pos
      FROM ub),
    pg AS (
      SELECT doc_id AS page_doc, CAST(pos - 1 AS BIGINT) AS page_pos,
             nullif(trim(regexp_extract(blocks[CAST(pos AS INTEGER)],
               '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1)), '')
               AS page_loc
      FROM ux),
    ky AS (
      SELECT doc_id AS page_doc, sm_url FROM d0 WHERE sm_url IS NOT NULL)
    SELECT ch.index_id, ch.child_pos, ch.child_url, ch.child_lastmod,
           ky.page_doc IS NOT NULL AS child_found,
           ky.page_doc, pg.page_pos, pg.page_loc
    FROM ch
    LEFT JOIN ky ON ch.child_url = ky.sm_url
    LEFT JOIN pg ON pg.page_doc = ky.page_doc
    ORDER BY index_id, child_pos, page_pos"""

  /** Mirrors Queries.retryScheduleGate / Frontier.retrySchedule: the
    * retryable-status filter, Retry-After floor under the capped
    * exponential, cumulative eta per attempt.
    */
  val retrySchedule: String = s"""
    WITH r AS (
      SELECT 'https://ex.com/p/' || doc_id AS url,
             CASE WHEN doc_id % 10 = 7 THEN 503
                  WHEN doc_id % 10 = 8 THEN 429
                  WHEN doc_id % 10 = 9 THEN 502 ELSE 200 END AS st,
             CASE WHEN doc_id % 10 = 8 THEN 7 END AS ra
      FROM documents),
    x AS (
      SELECT url, st, ra, unnest(generate_series(1, 3)) AS attempt
      FROM r WHERE st IN (429, 500, 502, 503, 504)),
    dly AS (
      SELECT url, st, CAST(attempt AS BIGINT) AS attempt,
        CAST(least(greatest(coalesce(ra * 1000, 0),
          1000 * CAST(pow(2, attempt - 1) AS BIGINT)), 60000)
          AS BIGINT) AS delay_ms
      FROM x)
    SELECT url, CAST(st AS BIGINT) AS status, attempt, delay_ms,
           CAST(sum(delay_ms) OVER (PARTITION BY url ORDER BY attempt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS eta_ms
    FROM dly ORDER BY url, attempt"""

  /** Mirrors Queries.politenessAuditGate: event-time-ordered per-domain
    * gaps in integer microseconds, violations vs the per-domain delay,
    * 7-row rollup.
    */
  val politenessAudit: String = s"""
    WITH e AS (
      SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             'site' || (user_id % 7) || '.example.com' AS domain,
             CASE WHEN (user_id % 7) % 3 = 0 THEN 2000000
                  ELSE 500000 END AS delay_us
      FROM events),
    g AS (
      SELECT domain, delay_us,
             us - lag(us) OVER (PARTITION BY domain
               ORDER BY us, event_id) AS gap_us
      FROM e)
    SELECT domain, CAST(count(*) AS BIGINT) AS fetches,
           CAST(sum(CASE WHEN gap_us < delay_us THEN 1 ELSE 0 END)
             AS BIGINT) AS violations,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(max(delay_us) AS BIGINT) AS delay_us
    FROM g GROUP BY domain ORDER BY domain"""

  /** Mirrors Queries.wordfilterGate / Wordfilter.score: planted tails,
    * whole-token lowercase equality with multiplicity, integer per-10k
    * density, keep on zero hits.
    */
  val wordfilter: String = s"""
    WITH d0 AS (
      SELECT doc_id, text ||
        CASE WHEN doc_id % 23 = 0
          THEN chr(10) || 'win the jackpot at our casino classy'
          ELSE '' END ||
        CASE WHEN doc_id % 46 = 0 THEN ' jackpot again' ELSE '' END
          AS text
      FROM documents),
    sc AS (
      SELECT doc_id,
        CAST(len(list_filter($toks, x -> x <> '')) AS BIGINT)
          AS n_tokens,
        CAST(len(list_filter($toks,
          x -> x IN ('jackpot', 'casino', 'class'))) AS BIGINT) AS hits
      -- NULL text coalesces to '' AFTER planting (the operator's
      -- contract): a NULL-text doc scores (0, 0), never NULL
      FROM (SELECT doc_id, coalesce(text, '') AS text FROM d0))
    SELECT doc_id, n_tokens, hits,
           CASE WHEN n_tokens > 0 THEN (hits * 10000) // n_tokens END
             AS hit_pp10k,
           hits = 0 AS keep
    FROM sc ORDER BY doc_id"""

  /** Mirrors Queries.robotsSitemapGate / Robots.sitemaps: the robots
    * line tokenizer (comment/CR strip, key lowercase), the
    * group-independent `sitemap` key filter, distinct, and the shared
    * canonicalization chain.
    */
  val robotsSitemaps: String = s"""
    WITH rb(domain, txt) AS (VALUES
      ('site0.example.com', 'User-agent: *' || chr(10) ||
        'Disallow: /x' || chr(10) ||
        'Sitemap: HTTP://WWW.Site0.Example.COM:80/sitemap.xml' ||
        '?utm_source=r&b=2&a=1' || chr(10)),
      ('site1.example.com', 'Sitemap: https://site1.example.com/sm1.xml'
        || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /y' ||
        chr(10) || 'Sitemap: https://site1.example.com/sm2.xml' ||
        chr(10)),
      ('site2.example.com', 'User-agent: *' || chr(10) ||
        'sitemap: https://site2.example.com/sm.xml # main' || chr(10)),
      ('site3.example.com', 'User-agent: *' || chr(10) ||
        'Sitemap: not a url' || chr(10)),
      ('site4.example.com', 'Sitemap:' || chr(10) || 'User-agent: *' ||
        chr(10)),
      ('site6.example.com', 'Sitemap: https://site6.example.com/a.xml'
        || chr(10) || 'Sitemap: https://site6.example.com/a.xml' ||
        chr(10))),
    lx AS (
      SELECT domain, parts,
             unnest(generate_series(1, len(parts))) AS pos
      FROM (SELECT domain, string_split(txt, chr(10)) AS parts FROM rb)),
    ln0 AS (
      SELECT domain,
        trim(replace(regexp_replace(parts[CAST(pos AS INTEGER)],
          '#.*$$', ''), chr(13), '')) AS ln
      FROM lx),
    kv AS (
      SELECT domain,
        lower(trim(regexp_extract(ln, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(ln, '^[^:]+:(.*)$$', 1)) AS value
      FROM ln0 WHERE ln <> ''),
    sm AS (
      SELECT DISTINCT domain, value AS sitemap_url, value AS url
      FROM kv WHERE key = 'sitemap' AND value <> ''),
    ${urlCanonChain("sm", "domain, sitemap_url")}
    SELECT domain, sitemap_url, url_canon AS sitemap_canon
    FROM canon ORDER BY domain, sitemap_url"""

  /** Mirrors Queries.warcHttpGate: the planted per-10-block response
    * truth recomputed directly — round-trip identity through the .warc
    * file is the claim under test (q150's discipline).
    */
  val warcHttp: String = s"""
    WITH p AS (
      SELECT doc_id,
        'https://ex.com/p/' || doc_id AS target_uri,
        CASE WHEN doc_id % 10 = 7 THEN 301
             WHEN doc_id % 10 = 8 THEN 404 ELSE 200 END AS st,
        CASE WHEN doc_id % 10 = 9 THEN 'application/pdf'
             ELSE 'text/html' END AS content_type,
        CASE WHEN doc_id % 10 = 7
             THEN 'https://ex.com/p/' || (doc_id + 1) END AS location,
        CASE WHEN doc_id % 10 = 8 THEN 'not found'
             ELSE substr(regexp_replace(coalesce(text, ''),
               chr(13), '', 'g'), 1, 80) END AS body
      FROM documents)
    SELECT doc_id, target_uri, CAST(st AS BIGINT) AS status,
           content_type, location,
           CAST(octet_length(CAST(body AS BLOB)) AS BIGINT) AS body_len,
           st = 200 AND content_type = 'text/html' AS fetch_ok,
           st BETWEEN 300 AND 399 AS redirect
    FROM p ORDER BY doc_id"""

  /** Mirrors Queries.hreflangGate / Html.alternates: link-tag explode,
    * rel=alternate filter, per-tag hreflang/href probes, x-default min
    * through the shared canonicalization chain, own-URL fallback,
    * min-id election per cluster.
    */
  val hreflangClusters: String = {
    def altDq(lang: String) =
      s"'<link rel=\"alternate\" hreflang=\"$lang\" " +
        s"href=\"https://ex.com/$lang/' || (doc_id - doc_id % 4) || '\">'"
    def altSq(lang: String) =
      s"'<LINK HREF=''https://ex.com/$lang/' || (doc_id - doc_id % 4) " +
        s"|| ''' HREFLANG=''${lang.toUpperCase}'' REL=''alternate''>'"
    val xdefDq =
      "'<link rel=\"alternate\" hreflang=\"x-default\" " +
        "href=\"HTTPS://Ex.COM:443/en/' || (doc_id - doc_id % 4) || " +
        "'?utm_source=x\">'"
    val xdefSq =
      "'<LINK HREF=''https://ex.com/en/' || (doc_id - doc_id % 4) || " +
        "''' HREFLANG=''X-DEFAULT'' REL=''alternate''>'"
    s"""
    WITH d0 AS (
      SELECT doc_id,
        '<html><head>' ||
        CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN ${altDq("en")} || ${altDq("fr")} || ${altDq("de")}
            || $xdefDq
          WHEN 1 THEN '<link rel="stylesheet" href="/s.css">' ||
            ${altDq("en")} || ${altDq("fr")} || ${altDq("de")} ||
            '<!-- <link rel="alternate" hreflang="zz" ' ||
            'href="https://ghost.ex.com/"> -->' || $xdefDq
          WHEN 2 THEN ${altSq("en")} || ${altSq("fr")} || ${altSq("de")}
            || $xdefSq
          ELSE '' END ||
        '</head><body>Doc ' || doc_id || '</body></html>' AS markup,
        CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN 'https://ex.com/en/' || (doc_id - doc_id % 4)
          WHEN 1 THEN 'https://ex.com/fr/' || (doc_id - doc_id % 4)
          WHEN 2 THEN 'https://ex.com/de/' || (doc_id - doc_id % 4)
          ELSE 'https://ex.com/solo/' || doc_id END AS url
      FROM documents),
    c AS (
      SELECT doc_id, url,
             regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d0),
    tx AS (
      SELECT doc_id,
             unnest(regexp_extract_all(m, '(?is)<link\\s[^>]*>', 0)) AS t
      FROM c),
    alt AS (
      SELECT doc_id,
        lower(regexp_extract(t,
          '(?is)hreflang\\s*=\\s*["'']([^"'']*)["'']', 1)) AS hreflang,
        CASE WHEN regexp_extract(t, '(?i)href\\s*=\\s*"([^"]*)"', 1) <> ''
          THEN regexp_extract(t, '(?i)href\\s*=\\s*"([^"]*)"', 1)
          ELSE regexp_extract(t, '(?i)href\\s*=\\s*''([^'']*)''', 1)
        END AS href
      FROM tx
      WHERE regexp_matches(t, '(?is)rel\\s*=\\s*["'']alternate["'']')),
    xd0 AS (
      SELECT doc_id, href AS url FROM alt
      WHERE hreflang = 'x-default' AND href <> ''),
    ${urlCanonChain("xd0", "doc_id")},
    xd AS (
      SELECT doc_id, min(url_canon) AS xdef FROM canon GROUP BY doc_id),
    k AS (
      SELECT b.doc_id, b.url, coalesce(xd.xdef, b.url) AS cluster_key
      FROM (SELECT doc_id, url FROM d0) b LEFT JOIN xd USING (doc_id))
    SELECT doc_id, url, cluster_key,
           CAST(min(doc_id) OVER (PARTITION BY cluster_key) AS BIGINT)
             AS rep_id,
           doc_id = min(doc_id) OVER (PARTITION BY cluster_key) AS is_rep
    FROM k ORDER BY doc_id"""
  }

  /** Mirrors Queries.paginationGate: the extracted rel=next map (the
    * commented/malformed plants yield no edge) reversed, walked by a
    * depth-4 recursive CTE to the series head, then the head-keyed
    * length join.
    */
  val paginationSeries: String = s"""
    WITH RECURSIVE rev AS (
      SELECT doc_id + 1 AS src, doc_id AS dst
      FROM documents WHERE doc_id % 10 IN (0, 1, 2)),
    walk(src, cur, hops) AS (
      SELECT src, dst, CAST(1 AS BIGINT) FROM rev
      UNION ALL
      SELECT w.src, r.dst, w.hops + 1
      FROM walk w JOIN rev r ON r.src = w.cur
      WHERE w.hops < 4),
    fin AS (
      SELECT src AS doc_id, arg_max(cur, hops) AS head0,
             max(hops) AS hops
      FROM walk GROUP BY src),
    placed AS MATERIALIZED (
      SELECT d.doc_id, coalesce(f.head0, d.doc_id) AS head_id,
             CAST(coalesce(f.hops, 0) AS BIGINT) AS position
      FROM documents d LEFT JOIN fin f USING (doc_id)),
    lens AS (
      SELECT head_id, CAST(count(*) AS BIGINT) AS series_len
      FROM placed GROUP BY head_id)
    SELECT p.doc_id, 'https://ex.com/a/' || p.doc_id AS url,
           'https://ex.com/a/' || p.head_id AS head_url,
           p.position, l.series_len
    FROM placed p JOIN lens l USING (head_id)
    ORDER BY p.doc_id"""

  /** Mirrors Queries.sitemapDiffGate / Sitemaps.diff: the two planted
    * snapshots, full-outer join with presence markers, null-safe
    * lastmod comparison.
    */
  val sitemapDiff: String = s"""
    WITH prev AS (
      SELECT 'https://ex.com/p/' || doc_id AS url,
             DATE '2026-01-01' + CAST(doc_id % 28 AS INTEGER) AS lm,
             TRUE AS p
      FROM documents WHERE doc_id % 11 <> 3),
    cur AS (
      SELECT 'https://ex.com/p/' || doc_id AS url,
             DATE '2026-01-01' + CAST(doc_id % 28 +
               CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER)
               AS lm,
             TRUE AS c
      FROM documents WHERE doc_id % 11 <> 7)
    SELECT coalesce(prev.url, cur.url) AS url,
           prev.lm AS lastmod_prev, cur.lm AS lastmod_cur,
           CASE WHEN prev.p IS NULL THEN 'new'
                WHEN cur.c IS NULL THEN 'gone'
                WHEN prev.lm IS DISTINCT FROM cur.lm THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM prev FULL OUTER JOIN cur ON prev.url = cur.url
    ORDER BY url"""

  /** Mirrors Queries.discoveryFunnelGate: the discovered-URL universe
    * (seeds ∪ outlinks ∪ the planted-feed entry urls — the feed CTE
    * enumerates exactly what Feeds.parse extracts from the planted
    * RSS: link text trimmed, `&amp;` unescaped; q187 gates the
    * extraction mechanics themselves), canonical distinct via the
    * shared chain, PSL blocklist, the planted single-rule robots
    * verdict (prefix semantics inlined), NOT EXISTS anti-join against
    * the crawled set, six stage counts.
    */
  val discoveryFunnel: String = s"""
    WITH feed AS MATERIALIZED (
      SELECT 'HTTPS://Feed.Example.COM:443/f/' || doc_id ||
               '?utm_source=rss' AS url
      FROM documents WHERE doc_id % 10 = 7
      UNION ALL
      SELECT 'https://ads.badsite.net/feed/' || doc_id
      FROM documents WHERE doc_id % 10 = 7
      UNION ALL
      SELECT 'HTTP://WWW.Example.COM:80/doc/' || doc_id || '?b=2&a=1'
      FROM documents WHERE doc_id % 20 = 7),
    disc AS MATERIALIZED (
      SELECT 'https://www.example.com/page/' || doc_id || '?utm_source=m'
               AS url
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT 'https://ads.badsite.net/promo/' || doc_id
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT 'HTTP://WWW.Example.COM:80/doc/' || doc_id || '?b=2&a=1'
      FROM documents
      UNION ALL
      SELECT 'https://blog.example.com/post?id=' ||
             (doc_id - doc_id % 10)
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT url FROM feed),
    lnk AS (SELECT url FROM disc),
    ${urlCanonChain("lnk", "url")},
    ded AS MATERIALIZED (
      SELECT DISTINCT url_canon AS u FROM canon
      WHERE url_canon IS NOT NULL),
    keyed AS MATERIALIZED (
      SELECT u, nullif(${pslCaseSql("h")}, '') AS domain,
        CASE WHEN rest = '' THEN NULL
          WHEN regexp_extract(rest, '^[^/?]*(/[^#]*|\\?[^#]*)?', 1) = ''
            THEN '/'
          ELSE regexp_extract(rest, '^[^/?]*(/[^#]*|\\?[^#]*)?', 1)
        END AS path
      FROM (SELECT u, ${hostOfSql("u")} AS h,
              regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)', 1)
                AS rest
            FROM ded)),
    unb AS MATERIALIZED (
      SELECT u, domain, path FROM keyed
      WHERE domain IS NULL OR domain <> 'badsite.net'),
    alw AS MATERIALIZED (
      SELECT u FROM unb
      WHERE NOT coalesce(domain = 'example.com'
        AND starts_with(path, '/doc/1'), FALSE)),
    seen AS (
      SELECT 'http://www.example.com/doc/' || doc_id || '?a=1&b=2' AS u
      FROM documents WHERE doc_id % 2 = 0),
    fresh AS MATERIALIZED (
      SELECT u FROM alw a
      WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.u = a.u))
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'feed_entries' AS stage,
           CAST(count(*) AS BIGINT) AS urls FROM feed
    UNION ALL SELECT 1, 'discovered', count(*) FROM disc
    UNION ALL SELECT 2, 'canonical_distinct', count(*) FROM ded
    UNION ALL SELECT 3, 'after_blocklist', count(*) FROM unb
    UNION ALL SELECT 4, 'robots_allowed', count(*) FROM alw
    UNION ALL SELECT 5, 'frontier_new', count(*) FROM fresh
    ORDER BY stage_idx"""

  /** Mirrors Queries.publishedDateGate / Html.publishedDate: comment
    * strip, the five probes (meta article both orders, time tag, meta
    * date both orders), precedence CASE, try-cast DATE of the leading
    * 10 chars, integer day distance to 2026-08-01.
    */
  val publishedDates: String = s"""
    WITH d AS (
      SELECT doc_id,
        '<html><head>' ||
        CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN '<meta property="article:published_time" ' ||
            'content="2026-03-' ||
            lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
            'T10:00:00Z"><time datetime="2020-01-01">old</time>'
          WHEN 1 THEN '<META CONTENT=''2025-12-' ||
            lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
            ''' PROPERTY=''article:published_time''>'
          WHEN 2 THEN CASE WHEN doc_id % 8 = 2
            THEN '<meta name="date" content="last tuesday">'
            ELSE '<time datetime="2024-06-' ||
              lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
              'T08:00:00+01:00">June</time>' END
          ELSE '<!-- <meta name="date" content="1999-01-01"> -->'
        END ||
        '</head><body><p>Doc ' || doc_id || '</p></body></html>'
          AS markup
      FROM documents),
    c AS (
      SELECT doc_id, regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g')
               AS m
      FROM d),
    x AS (
      SELECT doc_id,
        regexp_extract(m, '(?is)<meta\\s[^>]*property\\s*=\\s*["'']article:published_time["''][^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*>', 1) AS akf,
        regexp_extract(m, '(?is)<meta\\s[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*property\\s*=\\s*["'']article:published_time["''][^>]*>', 1) AS acf,
        regexp_extract(m, '(?is)<time\\s[^>]*datetime\\s*=\\s*["'']([^"'']*)["''][^>]*>', 1) AS tt,
        regexp_extract(m, '(?is)<meta\\s[^>]*name\\s*=\\s*["'']date["''][^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*>', 1) AS dkf,
        regexp_extract(m, '(?is)<meta\\s[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*name\\s*=\\s*["'']date["''][^>]*>', 1) AS dcf
      FROM c),
    f AS (
      SELECT doc_id,
        CASE WHEN akf <> '' THEN akf WHEN acf <> '' THEN acf END AS ma,
        tt,
        CASE WHEN dkf <> '' THEN dkf WHEN dcf <> '' THEN dcf END AS md
      FROM x),
    g AS (
      SELECT doc_id,
        CASE WHEN ma IS NOT NULL THEN ma
             WHEN tt <> '' THEN tt
             WHEN md IS NOT NULL THEN md END AS date_raw,
        CASE WHEN ma IS NOT NULL THEN 'meta_article'
             WHEN tt <> '' THEN 'time_tag'
             WHEN md IS NOT NULL THEN 'meta_date' END AS date_source
      FROM f),
    gg AS (
      SELECT doc_id, date_raw, date_source,
             TRY_CAST(substr(date_raw, 1, 10) AS DATE) AS published
      FROM g)
    SELECT doc_id, date_raw, published, date_source,
           CAST(date_diff('day', published, DATE '2026-08-01') AS BIGINT)
             AS age_days
    FROM gg ORDER BY doc_id"""

  /** Mirrors Queries.mojibakeGate / Mojibake.score: the planted
    * cp1252-artifact tails, both regex probes (pattern built with
    * chr(160) so the NBSP survives editors), integer per-10k density.
    */
  val mojibake: String = s"""
    WITH d0 AS (
      SELECT doc_id, text ||
        CASE WHEN doc_id % 19 = 0
          THEN chr(10) || 'naÃ¯ve caffÃ© â€” donâ€™t' ELSE '' END ||
        CASE WHEN doc_id % 38 = 0 THEN ' bad' || chr(65533) || 'bytes'
          ELSE '' END AS t
      FROM documents),
    sc AS (
      SELECT doc_id,
        CAST(length(coalesce(t, '')) AS BIGINT) AS n_chars,
        CAST(len(regexp_extract_all(coalesce(t, ''),
          'Ã[©¨ª«¯±³µ¶º¼½¾‰€™“”]|â€[™œ¦˜“”]|Â[ ' || chr(160) ||
          '®©«»]')) AS BIGINT) AS moji_hits,
        CAST(len(regexp_extract_all(coalesce(t, ''), chr(65533)))
          AS BIGINT) AS repl_chars
      FROM d0)
    SELECT doc_id, n_chars, moji_hits, repl_chars,
           CASE WHEN n_chars > 0
             THEN ((moji_hits + repl_chars) * 10000) // n_chars END
             AS moji_pp10k,
           moji_hits = 0 AND repl_chars = 0 AS clean
    FROM sc ORDER BY doc_id"""

  /** Mirrors Queries.politeFrontierGate: the q159 robots group parse
    * (crawl-delay now an effective key) reduced to per-domain max
    * millisecond delays via DECIMAL(8,3) try-cast, composed with the
    * q165 frontier window and 1000 ms scheduler default.
    */
  val politeFrontier: String = s"""
    WITH rb(domain, txt) AS (VALUES
      ('site0.example.com', 'User-agent: *' || chr(10) ||
        'Crawl-delay: 2' || chr(10) || 'Disallow: /tmp/' || chr(10)),
      ('site1.example.com', 'User-agent: *' || chr(10) ||
        'Crawl-delay: 1.5' || chr(10)),
      ('site2.example.com', 'User-agent: googlebot' || chr(10) ||
        'Crawl-delay: 9' || chr(10) || chr(10) || 'User-agent: *' ||
        chr(10) || 'Crawl-delay: 0.25' || chr(10)),
      ('site3.example.com', 'User-agent: *' || chr(10) ||
        'Crawl-delay: soon' || chr(10)),
      ('site4.example.com', 'User-agent: *' || chr(10) ||
        'Disallow: /x' || chr(10)),
      ('site6.example.com', 'User-agent: *' || chr(10) ||
        'Crawl-delay: 3' || chr(10) || '# peak hours' || chr(10) ||
        'Crawl-delay: 1' || chr(10))),
    lx AS (
      SELECT domain, parts,
             unnest(generate_series(1, len(parts))) AS pos
      FROM (SELECT domain, string_split(txt, chr(10)) AS parts FROM rb)),
    ln0 AS (
      SELECT domain, pos,
        trim(replace(regexp_replace(parts[CAST(pos AS INTEGER)],
          '#.*$$', ''), chr(13), '')) AS ln
      FROM lx),
    kv AS (
      SELECT domain, pos,
        lower(trim(regexp_extract(ln, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(ln, '^[^:]+:(.*)$$', 1)) AS value
      FROM ln0 WHERE ln <> ''),
    eff AS (
      SELECT domain, pos, key, value, key = 'user-agent' AS isua
      FROM kv
      WHERE key IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
    st AS (
      SELECT domain, pos, key, value, isua,
        CASE WHEN isua AND NOT coalesce(lag(isua) OVER
              (PARTITION BY domain ORDER BY pos), FALSE)
          THEN 1 ELSE 0 END AS gstart
      FROM eff),
    grp AS (
      SELECT domain, pos, key, value, isua,
        sum(gstart) OVER
          (PARTITION BY domain ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM st),
    star AS (
      SELECT DISTINCT domain, g FROM grp WHERE isua AND value = '*'),
    cds AS (
      SELECT r.domain,
             max(CAST(TRY_CAST(r.value AS DECIMAL(8,3)) * 1000
               AS BIGINT)) AS delay_ms
      FROM grp r JOIN star s ON r.domain = s.domain AND r.g = s.g
      WHERE NOT r.isua AND r.value <> '' AND r.key = 'crawl-delay'
        AND TRY_CAST(r.value AS DECIMAL(8,3)) >= 0
      GROUP BY r.domain),
    f AS (
      SELECT 'https://site' || (doc_id % 7) || '.example.com/p/' || doc_id
               AS url,
             'site' || (doc_id % 7) || '.example.com' AS domain,
             CAST((doc_id * 37 + 11) % 100 AS BIGINT) AS priority
      FROM documents),
    r AS (
      SELECT url, domain, priority,
             CAST(row_number() OVER (PARTITION BY domain
               ORDER BY priority DESC, url ASC) AS BIGINT) AS wave
      FROM f)
    SELECT r.url, r.domain, r.priority, r.wave,
           CAST(coalesce(cds.delay_ms, 1000) AS BIGINT) AS delay_ms,
           CAST((r.wave - 1) * coalesce(cds.delay_ms, 1000) AS BIGINT)
             AS eta_ms
    FROM r LEFT JOIN cds USING (domain)
    WHERE wave <= 40
    ORDER BY domain, wave"""

  /** Mirrors Queries.frontierGate / Frontier.schedule: per-domain
    * best-first waves (priority DESC, url ASC), depth cap 40, left
    * join to the 5-domain delay table with 1000 ms default,
    * eta = (wave−1) × delay.
    */
  val crawlFrontier: String = s"""
    WITH f AS (
      SELECT 'https://site' || (doc_id % 7) || '.example.com/p/' || doc_id
               AS url,
             'site' || (doc_id % 7) || '.example.com' AS domain,
             CAST((doc_id * 37 + 11) % 100 AS BIGINT) AS priority
      FROM documents),
    r AS (
      SELECT url, domain, priority,
             CAST(row_number() OVER (PARTITION BY domain
               ORDER BY priority DESC, url ASC) AS BIGINT) AS wave
      FROM f),
    dl AS (
      SELECT 'site' || i || '.example.com' AS domain,
             CASE WHEN i % 3 = 0 THEN 2000 ELSE 500 END AS delay_ms
      FROM (SELECT unnest(generate_series(0, 4)) AS i))
    SELECT r.url, r.domain, r.priority, r.wave,
           CAST(coalesce(dl.delay_ms, 1000) AS BIGINT) AS delay_ms,
           CAST((r.wave - 1) * coalesce(dl.delay_ms, 1000) AS BIGINT)
             AS eta_ms
    FROM r LEFT JOIN dl USING (domain)
    WHERE wave <= 40
    ORDER BY domain, wave"""

  /** Mirrors Queries.entropyGate / Entropy.charEntropy: the planted
    * z-flood corpus, per-(doc,char) counts, integer micro-nat terms
    * `cnt × round(ln(n/cnt)·1e6)` summed exactly, floor-divided
    * average, keep at ≥ 2 600 000 µnats — q136's NULL-average /
    * false-keep shape for charless docs.
    */
  val charEntropy: String = s"""
    WITH d0 AS (
      SELECT doc_id, text ||
        CASE WHEN doc_id % 13 = 0 THEN chr(10) || repeat('z', 160)
             ELSE '' END AS t
      FROM documents),
    ch AS (
      SELECT doc_id,
             unnest(regexp_extract_all(coalesce(t, ''), '[\\s\\S]')) AS c
      FROM d0),
    cc AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
      FROM ch GROUP BY 1, 2),
    nn AS (
      SELECT doc_id, cnt,
             CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n
      FROM cc),
    e AS (
      SELECT doc_id, max(n) AS nc, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(cnt * CAST(round(ln(
               CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS es
      FROM nn GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(e.nc, 0) AS n_chars,
           coalesce(e.k, 0) AS distinct_chars,
           coalesce(e.es, 0) AS entropy_sum_micro,
           CASE WHEN e.nc > 0 THEN e.es // e.nc END AS entropy_micro,
           coalesce(e.nc > 0 AND e.es // e.nc >= 2600000, FALSE) AS keep
    FROM documents d LEFT JOIN e USING (doc_id)
    ORDER BY d.doc_id"""

  /** Mirrors Queries.containmentGate / Dedup.containmentPairs: the
    * documents ∪ half-token excerpts corpus, df ≤ 50 capped unigram
    * candidates, exact integer containment (pp10k, floor division)
    * at ≥ 9000 over candidates' full distinct gram sets.
    */
  val containmentPairs: String = s"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(
               list_slice($toks, 1, greatest(len($toks) // 2, 3)), ' ')
               AS text,
             source
      FROM documents WHERE doc_id % 17 = 0),
    t AS (
      SELECT doc_id, source AS block, list_distinct($toks) AS grams
      FROM corpus),
    s AS (
      SELECT doc_id, block, len(grams) AS ng, unnest(grams) AS g
      FROM t WHERE len(grams) > 0),
    rare AS (
      SELECT block, g FROM s GROUP BY 1, 2 HAVING count(*) <= 50),
    c AS (
      SELECT s.doc_id, s.block, s.g FROM s JOIN rare USING (block, g)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM c a JOIN c b
        ON a.block = b.block AND a.g = b.g AND a.doc_id < b.doc_id),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
             count(*) AS inter
      FROM s a JOIN s b
        ON a.block = b.block AND a.g = b.g AND a.doc_id < b.doc_id
      JOIN cand ON cand.id_a = a.doc_id AND cand.id_b = b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(inter AS BIGINT) AS n_common,
           CAST((inter * 10000) // least(na, nb) AS BIGINT)
             AS contain_pp10k
    FROM p
    WHERE inter * 10000 >= 9000 * least(na, nb)
    ORDER BY id_a, id_b"""

  /** Mirrors Queries.sitemapGate / Sitemaps.parse: comment strip,
    * `<url>` block explode with positions, per-block loc/lastmod/
    * priority probes with `&amp;` decode and try-cast NULL semantics,
    * then the shared canonicalization chain over the loc.
    */
  val sitemapUrls: String = s"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 20 = 0 THEN
          '<?xml version="1.0"?><urlset>' ||
          '<url><loc> HTTP://WWW.Example.COM:80/page/' || doc_id ||
          '?utm_source=m&amp;b=2&amp;a=1 </loc><lastmod>2026-01-' ||
          lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
          'T08:30:00Z</lastmod><priority>0.8</priority></url>' ||
          '<url><loc>https://example.com/q/' || doc_id ||
          '?x=1&amp;y=2</loc></url>' ||
          CASE WHEN doc_id % 40 = 0 THEN
            '<url><loc>not a url</loc><lastmod>soon</lastmod>' ||
            '<priority>high</priority></url>' ELSE '' END ||
          CASE WHEN doc_id % 60 = 0 THEN
            '<!-- <url><loc>https://ghost.example.com/x</loc></url> -->'
            ELSE '' END ||
          '</urlset>'
        ELSE '<html><body>Doc ' || doc_id || '</body></html>' END AS markup
      FROM documents),
    c AS (
      SELECT doc_id,
             regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d),
    b0 AS (
      SELECT doc_id,
             regexp_extract_all(m, '(?is)<url\\s*>(.*?)</url\\s*>', 1)
               AS blocks
      FROM c),
    bx AS (
      SELECT doc_id, blocks,
             unnest(generate_series(1, len(blocks))) AS pos
      FROM b0),
    b1 AS (
      SELECT doc_id, CAST(pos - 1 AS BIGINT) AS entry_pos,
             blocks[CAST(pos AS INTEGER)] AS e
      FROM bx),
    b2 AS (
      SELECT doc_id, entry_pos,
        replace(regexp_extract(e,
          '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1), '&amp;', '&')
          AS loc0,
        nullif(regexp_extract(e,
          '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod\\s*>', 1), '')
          AS lastmod_raw,
        nullif(regexp_extract(e,
          '(?is)<priority\\s*>\\s*(.*?)\\s*</priority\\s*>', 1), '') AS pr
      FROM b1),
    lnk AS (
      SELECT doc_id, entry_pos, nullif(loc0, '') AS loc, lastmod_raw,
             TRY_CAST(substr(coalesce(lastmod_raw, ''), 1, 10) AS DATE)
               AS lastmod,
             CAST(TRY_CAST(pr AS DECIMAL(3,2)) * 100 AS BIGINT)
               AS priority_pp100,
             loc0 AS url
      FROM b2),
    ${urlCanonChain("lnk",
      "doc_id, entry_pos, loc, lastmod_raw, lastmod, priority_pp100")}
    SELECT doc_id, entry_pos, loc, url_canon, domain,
           lastmod_raw, lastmod, priority_pp100
    FROM canon ORDER BY doc_id, entry_pos"""

  /** Mirrors Queries.redirectGate / Redirects.resolve: the planted
    * functional redirect map walked by a depth-8 recursive CTE (the
    * per-hop dual of the engine's 2^3-step pointer doubling); a walk
    * whose endpoint still has an outgoing edge after 8 hops — the
    * planted cycles — is unresolved (NULL terminal, NULL hops).
    */
  val redirectChains: String = s"""
    WITH RECURSIVE e AS (
      SELECT doc_id AS src,
             CASE WHEN doc_id % 100 = 15 THEN doc_id + 10
                  WHEN doc_id % 100 = 25 THEN doc_id - 10
                  WHEN doc_id % 100 = 35 THEN doc_id
                  WHEN doc_id % 100 BETWEEN 61 AND 66 THEN doc_id + 1
                  WHEN doc_id % 10 IN (1,2,3) THEN doc_id + 1
             END AS dst
      FROM documents
      WHERE doc_id % 100 IN (15,25,35)
         OR doc_id % 100 BETWEEN 61 AND 66
         OR doc_id % 10 IN (1,2,3)),
    walk(src, cur, hops) AS (
      SELECT src, dst, CAST(1 AS BIGINT) FROM e
      UNION ALL
      SELECT w.src, e.dst, w.hops + 1
      FROM walk w JOIN e ON e.src = w.cur
      WHERE w.hops < 8),
    fin AS (
      SELECT src, arg_max(cur, hops) AS endp, max(hops) AS hops
      FROM walk GROUP BY src)
    SELECT f.src,
           'https://ex.org/p/' || f.src AS src_url,
           CASE WHEN t.src IS NULL
                THEN 'https://ex.org/p/' || f.endp END AS terminal_url,
           CASE WHEN t.src IS NULL THEN f.hops END AS hops,
           t.src IS NOT NULL AS unresolved
    FROM fin f
    LEFT JOIN (SELECT DISTINCT src FROM e) t ON f.endp = t.src
    ORDER BY f.src"""

  /** Mirrors Queries.canonicalKeyGate / Html.canonicalLink: comment
    * strip, both attribute orderings, then the shared canonicalization
    * chain over coalesce(declared canonical, own URL) and min-id
    * election per canon key.
    */
  val canonicalKeys: String = s"""
    WITH d0 AS (
      SELECT doc_id,
        '<html><head>' ||
        CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN '<link rel="canonical" ' ||
            'href="HTTPS://WWW.MirrorSite.COM:443/page/' ||
            (doc_id - doc_id % 10) || '?utm_source=x">'
          WHEN 1 THEN '<LINK HREF=''https://www.mirrorsite.com/page/' ||
            (doc_id - doc_id % 10) || ''' REL=''canonical''>'
          WHEN 3 THEN '<!-- <link rel="canonical" ' ||
            'href="https://ghost.example.com/"> -->'
          ELSE ''
        END ||
        '</head><body><p>Doc ' || doc_id || '</p></body></html>'
          AS markup,
        'https://www.mirrorsite.com/p/' || doc_id || '?utm_medium=x'
          AS own_url
      FROM documents),
    cx AS (
      SELECT doc_id, own_url,
             regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d0),
    ex AS (
      SELECT doc_id, own_url,
        regexp_extract(m, '(?is)<link\\s[^>]*rel\\s*=\\s*["'']canonical["''][^>]*href\\s*=\\s*["'']([^"'']*)["''][^>]*>', 1) AS rf,
        regexp_extract(m, '(?is)<link\\s[^>]*href\\s*=\\s*["'']([^"'']*)["''][^>]*rel\\s*=\\s*["'']canonical["''][^>]*>', 1) AS hf
      FROM cx),
    k AS (
      SELECT doc_id,
        nullif(CASE WHEN rf <> '' THEN rf ELSE hf END, '')
          AS canonical_href,
        coalesce(nullif(CASE WHEN rf <> '' THEN rf ELSE hf END, ''),
          own_url) AS url
      FROM ex),
    ${urlCanonChain("k", "doc_id, canonical_href")}
    SELECT doc_id, canonical_href, url_canon AS canon_key,
           min(doc_id) OVER (PARTITION BY url_canon) AS rep_id,
           doc_id = min(doc_id) OVER (PARTITION BY url_canon) AS is_rep
    FROM canon
    ORDER BY doc_id"""

  /** Mirrors Queries.curationChainGate: the full crawl-curation chain —
    * plant (mirrored/truncated body + chrome paragraphs + per-class
    * URI) → q145 extraction with newline block joins → default-rule
    * domain blocklist → q147 language-ID routing (keep en/it) → q148
    * frequent-line removal over the routed survivors → exact dedup →
    * per-source 40% token budget — reduced to the 7-row funnel. The
    * WET stage is an identity on the planted docs (q150 proves the
    * framing), so the oracle starts from the documents table.
    */
  val curationChain: String = {
    def visible(x: String) =
      "trim(regexp_replace(" +
        "replace(replace(replace(replace(replace(replace(" +
        s"regexp_replace($x, '<[^>]*>', ' ', 'g')" +
        ", '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>')" +
        ", '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')" +
        ", '\\s+', ' ', 'g'))"
    val anchor = visible(
      "coalesce(array_to_string(regexp_extract_all(blk, " +
        "'(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 2), ' '), '')")
    def nrm(x: String) =
      s"trim(regexp_replace(lower($x), '\\s+', ' ', 'g'))"
    def ntoks(x: String) =
      s"CAST(len(list_filter(string_split(${nrm(x)}, ' '), " +
        "t -> t <> '')) AS BIGINT)"
    val langs = Seq("en", "de", "es", "fr", "it", "pt", "nl", "zh")
    val p = Seq(37, 41, 43, 47, 53, 59, 61, 67)
    val q = Seq(5, 11, 17, 2, 8, 19, 3, 13)
    val zCols = langs.indices.map(k =>
      s"CAST(sum(mod(bk * ${p(k)} + ${q(k)}, 21) - 10) AS BIGINT) AS z$k")
      .mkString(",\n             ")
    val zbest = "greatest(" + langs.indices.map(k => s"z$k")
      .mkString(", ") + ")"
    val predCase = langs.indices.map(k =>
      s"WHEN z$k = $zbest THEN '${langs(k)}'").mkString(" ")
    val keepRule = "len(btext) >= 25 AND len(ltext) * 100 <= len(btext) * 33"
    s"""
    WITH base AS (
      SELECT d.doc_id, d.source, coalesce(r.text, '') AS bt
      FROM documents d
      JOIN documents r ON r.doc_id = d.doc_id - d.doc_id % 10),
    tsel AS (
      SELECT doc_id, source,
        CASE WHEN doc_id % 7 = 0 THEN substring(bt, 1, 60) ELSE bt END AS t
      FROM base),
    m0 AS MATERIALIZED (
      SELECT doc_id, source,
        CASE WHEN doc_id % 11 = 0 THEN
          '<html><body><nav><a href="/">home</a> ' ||
          '<a href="/next">next</a></nav></body></html>'
        ELSE
        '<html><head><title>Doc ' || doc_id ||
        '</title><script type="text/javascript">var id=' || doc_id ||
        ';</script></head><body>' ||
        '<nav><a href="/">home</a> <a href="/about">about</a> ' ||
        '<a href="/contact">contact</a></nav>' ||
        '<h1>Document ' || doc_id || '</h1><p>' ||
        substring(t, 1, CAST(floor(len(t) / 2) AS INTEGER)) ||
        '</p><p>' ||
        substring(t, CAST(floor(len(t) / 2) AS INTEGER) + 1, len(t)) ||
        ' and further details</p>' ||
        CASE WHEN doc_id % 2 = 0 THEN
          '<p>Subscribe to our newsletter for the best weekly updates' ||
          ' today</p>' ELSE '' END ||
        CASE WHEN doc_id % 3 = 0 THEN
          '<p>This website uses cookies to improve your browsing' ||
          ' experience</p>' ELSE '' END ||
        '<footer><a href="/privacy">privacy</a> ' ||
        '<a href="/terms">terms</a></footer></body></html>'
        END AS markup,
        CASE WHEN doc_id % 5 = 1
          THEN 'https://ads.' || source || '.badsite.net/click?cid='
            || doc_id
          ELSE 'https://www.' || source || '.example.com/doc/' || doc_id
        END AS uri
      FROM tsel),
    cx AS (
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(markup,
        '(?is)<script(\\s[^>]*)?>.*?</script\\s*>', ' ', 'g'),
        '(?is)<style(\\s[^>]*)?>.*?</style\\s*>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM m0),
    bx AS (
      SELECT doc_id, regexp_split_to_array(m,
        '(?i)</?(?:html|head|body|title|p|div|li|ul|ol|h[1-6]|t[dhr]|table|section|article|header|footer|nav|blockquote|form|aside|main|br)(\\s[^>]*)?/?>')
        AS blocks
      FROM cx),
    tx AS (
      SELECT doc_id, unnest(blocks) AS blk,
             unnest(generate_series(1, len(blocks))) AS pos
      FROM bx),
    vx AS (
      SELECT doc_id, pos, ${visible("blk")} AS btext, $anchor AS ltext
      FROM tx),
    ex AS MATERIALIZED (
      SELECT doc_id,
             CAST(sum(CASE WHEN $keepRule THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN $keepRule THEN btext END,
               chr(10) ORDER BY pos), '') AS main_text
      FROM vx GROUP BY doc_id),
    ux AS (
      SELECT doc_id,
        regexp_extract(lower(regexp_extract(uri, '^https://([^/]*)', 1)),
          '([^.]+\\.[^.]+)$$', 1) AS domain
      FROM m0),
    nmx AS (SELECT doc_id, ${nrm("main_text")} AS nm FROM ex),
    g0x AS (
      SELECT doc_id, nm, unnest(generate_series(1, len(nm) - 2)) AS i
      FROM nmx),
    gx AS (
      SELECT doc_id, substring(nm, CAST(i AS INTEGER), 3) AS gr FROM g0x),
    bkx AS (SELECT doc_id, mod(${hash60("gr")}, 64) AS bk FROM gx),
    zx AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             $zCols
      FROM bkx GROUP BY doc_id),
    lgx AS (
      SELECT e.doc_id,
             CASE WHEN coalesce(z.n_grams, 0) > 0
               THEN CASE $predCase END
               ELSE 'unknown' END AS pred
      FROM ex e LEFT JOIN zx z USING (doc_id)),
    flags1 AS MATERIALIZED (
      SELECT e.doc_id, e.main_text,
             (e.n_kept > 0) AS s1,
             (e.n_kept > 0 AND u.domain <> 'badsite.net') AS s2,
             (e.n_kept > 0 AND u.domain <> 'badsite.net'
               AND l.pred IN ('en', 'it')) AS s3
      FROM ex e JOIN ux u USING (doc_id) JOIN lgx l USING (doc_id)),
    bl0 AS (
      SELECT doc_id, string_split(main_text, chr(10)) AS parts
      FROM flags1 WHERE s3),
    bl1 AS (
      SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS pos
      FROM bl0),
    bl2 AS (
      SELECT doc_id, pos, trim(parts[CAST(pos AS INTEGER)]) AS ln
      FROM bl1),
    blnb AS (SELECT doc_id, pos, ln FROM bl2 WHERE ln <> ''),
    blrm AS (
      SELECT ln FROM (SELECT DISTINCT doc_id, ln FROM blnb)
      GROUP BY ln HAVING count(*) >= 10),
    blk2 AS (
      SELECT n.doc_id, n.pos, n.ln, r.ln IS NOT NULL AS rmv
      FROM blnb n LEFT JOIN blrm r USING (ln)),
    blagg AS (
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT rmv THEN ln END, chr(10)
               ORDER BY pos), '') AS text_clean
      FROM blk2 GROUP BY 1),
    cleaned AS (
      SELECT f.doc_id, coalesce(b.text_clean, '') AS text_clean
      FROM flags1 f LEFT JOIN blagg b USING (doc_id)
      WHERE f.s3),
    surv AS MATERIALIZED (
      SELECT c.doc_id,
             md5(${nrm("c.text_clean")}) AS fp,
             ${ntoks("c.text_clean")} AS n_tokens
      FROM cleaned c WHERE c.text_clean <> ''),
    dd2 AS (
      SELECT doc_id, n_tokens,
             min(doc_id) OVER (PARTITION BY fp) AS rep_id
      FROM surv),
    repsx AS MATERIALIZED (
      SELECT d2.doc_id, d2.n_tokens, dc.source
      FROM dd2 d2 JOIN documents dc USING (doc_id)
      WHERE d2.doc_id = d2.rep_id),
    admx AS (
      SELECT doc_id,
             (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 10
               <= (sum(n_tokens) OVER (PARTITION BY source)) * 4
               AS admitted
      FROM repsx),
    perdoc AS (
      SELECT f.doc_id, TRUE AS s0, f.s1, f.s2, f.s3,
             s.doc_id IS NOT NULL AS s4,
             r.doc_id IS NOT NULL AS s5,
             coalesce(a2.admitted, FALSE) AS s6,
             s.n_tokens
      FROM flags1 f
      LEFT JOIN surv s USING (doc_id)
      LEFT JOIN repsx r USING (doc_id)
      LEFT JOIN admx a2 USING (doc_id)),
    aggx AS (
      SELECT CAST(count(*) AS BIGINT) AS n_in,
             CAST(sum(CASE WHEN s0 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
             CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
             CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
             CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS k4,
             CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS k5,
             CAST(sum(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT) AS k6,
             CAST(sum(CASE WHEN s4 THEN n_tokens END) AS BIGINT) AS tok4,
             CAST(sum(CASE WHEN s5 THEN n_tokens END) AS BIGINT) AS tok5,
             CAST(sum(CASE WHEN s6 THEN n_tokens END) AS BIGINT) AS tok6
      FROM perdoc)
    SELECT st.stage_ord, st.stage,
           CASE st.stage_ord WHEN 0 THEN a.n_in WHEN 1 THEN a.k0
             WHEN 2 THEN a.k1 WHEN 3 THEN a.k2 WHEN 4 THEN a.k3
             WHEN 5 THEN a.k4 ELSE a.k5 END AS docs_in,
           CASE st.stage_ord WHEN 0 THEN a.k0 WHEN 1 THEN a.k1
             WHEN 2 THEN a.k2 WHEN 3 THEN a.k3 WHEN 4 THEN a.k4
             WHEN 5 THEN a.k5 ELSE a.k6 END AS docs_out,
           CASE st.stage_ord WHEN 4 THEN a.tok4 WHEN 5 THEN a.tok5
             WHEN 6 THEN a.tok6 END AS tokens_out
    FROM (VALUES (CAST(0 AS BIGINT), 'wet'), (1, 'extract'), (2, 'url'),
                 (3, 'lang'), (4, 'boilerplate'), (5, 'dedup'),
                 (6, 'budget')) AS st(stage_ord, stage)
    CROSS JOIN aggx a
    ORDER BY st.stage_ord"""
    // single aggx reference: a 7-branch UNION ALL made DuckDB inline
    // (and re-execute) the whole upstream pipeline once per stage row —
    // 7x the runtime and an OOM at sf0.1
  }

  /** Mirrors Queries.pslDomainsGate: the five planted ccSLD URL shapes
    * through the shared canonicalization chain, then the PSL
    * registered-domain rule (longest-suffix-wins over the IN-lists
    * GENERATED from graft.operators.PublicSuffix's Seqs — one suffix
    * table, two engines), the blocklist verdict on the PSL key, and
    * the per-domain rollup.
    */
  val pslDomains: String = {
    def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")
    val psl2 = inList(graft.operators.PublicSuffix.Suffixes2)
    val psl3 = inList(graft.operators.PublicSuffix.Suffixes3)
    s"""
    WITH d AS (
      SELECT doc_id,
        CASE CAST(doc_id % 5 AS INTEGER)
          WHEN 0 THEN 'https://WWW.Shop' || source || '.CO.UK/item/'
            || doc_id || '?b=2&a=1#frag'
          WHEN 1 THEN 'http://blog.evil.co.uk:80/p/' || doc_id
          WHEN 2 THEN 'https://a.b.example' || source || '.com/' || doc_id
          WHEN 3 THEN 'https://myschool' || source || '.k12.ca.us/class/'
            || doc_id
          ELSE 'https://co.uk/'
        END AS url
      FROM documents),
    ${urlCanonChain("d", "doc_id")},
    lbl AS (
      SELECT doc_id, url_canon, domain AS domain_2label, host,
             string_split(host, '.') AS labels
      FROM canon),
    pd AS (
      SELECT doc_id, url_canon, domain_2label,
        nullif(CASE
          WHEN host = '' THEN ''
          WHEN len(labels) >= 4
            AND array_to_string(labels[-3:], '.') IN ($psl3)
            THEN array_to_string(labels[-4:], '.')
          WHEN len(labels) = 3
            AND array_to_string(labels[-3:], '.') IN ($psl3) THEN ''
          WHEN len(labels) >= 3
            AND array_to_string(labels[-2:], '.') IN ($psl2)
            THEN array_to_string(labels[-3:], '.')
          WHEN len(labels) = 2
            AND array_to_string(labels[-2:], '.') IN ($psl2) THEN ''
          WHEN len(labels) >= 2 THEN array_to_string(labels[-2:], '.')
          ELSE '' END, '') AS domain
      FROM lbl),
    b(bdomain) AS (VALUES ('evil.co.uk'), ('spam.com.au')),
    j AS (
      SELECT pd.doc_id, pd.url_canon, pd.domain, pd.domain_2label,
             b.bdomain IS NULL AS keep
      FROM pd LEFT JOIN b ON pd.domain = b.bdomain)
    SELECT doc_id, url_canon, domain, domain_2label, keep,
           CAST(count(*) OVER (PARTITION BY domain) AS BIGINT)
             AS domain_docs
    FROM j ORDER BY doc_id"""
  }

  /** Mirrors Queries.urlCanonGate: the six planted URL shapes, the
    * shared canonicalization chain, the registered-domain blocklist
    * verdict, and the per-domain rollup (the engine computes it as a
    * two-phase aggregate + broadcast join; the window here is the
    * value-equivalent declarative spec).
    */
  val urlCanon: String = s"""
    WITH d AS (
      SELECT doc_id, $urlPlantCase AS url
      FROM documents),
    ${urlCanonChain("d", "doc_id")},
    b(bdomain) AS (VALUES ('badsite.net'), ('tracker.io')),
    j AS (
      SELECT c.doc_id, c.url_canon, c.domain, b.bdomain IS NULL AS keep
      FROM canon c LEFT JOIN b ON c.domain = b.bdomain)
    SELECT doc_id, url_canon, domain, keep,
           CAST(count(*) OVER (PARTITION BY domain) AS BIGINT)
             AS domain_docs
    FROM j ORDER BY doc_id"""

  /** Mirrors Queries.langModelGate / LangId.scoreDocs: char trigrams
    * of the normalized text, 60-bit hash into 64 buckets, the frozen
    * per-language integer weights `(bk·P_k + Q_k) mod 21 − 10`, argmax
    * with first-language-wins tie-break, margin over the runner-up.
    */
  val langModel: String = {
    val langs = Seq("en", "de", "es", "fr", "it", "pt", "nl", "zh")
    val p = Seq(37, 41, 43, 47, 53, 59, 61, 67)
    val q = Seq(5, 11, 17, 2, 8, 19, 3, 13)
    val zCols = langs.indices.map(k =>
      s"CAST(sum(mod(bk * ${p(k)} + ${q(k)}, 21) - 10) AS BIGINT) AS z$k")
      .mkString(",\n             ")
    val negList = langs.indices.map(k => s"-z$k").mkString(", ")
    val predCase = langs.indices.map(k =>
      s"WHEN z$k = -ns[1] THEN '${langs(k)}'").mkString(" ")
    s"""
    WITH nrm AS (SELECT doc_id, $norm AS m FROM documents),
    g0 AS (
      SELECT doc_id, m,
             unnest(generate_series(1, len(m) - 2)) AS i
      FROM nrm),
    g AS (
      SELECT doc_id, substring(m, CAST(i AS INTEGER), 3) AS gr FROM g0),
    b AS (SELECT doc_id, mod(${hash60("gr")}, 64) AS bk FROM g),
    z AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             $zCols
      FROM b GROUP BY doc_id),
    sel AS (
      SELECT doc_id, n_grams, ${langs.indices.map(k => s"z$k").mkString(", ")},
             list_sort([$negList]) AS ns
      FROM z)
    SELECT d.doc_id,
           CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
           CASE WHEN s.n_grams > 0
             THEN CASE $predCase END
             ELSE 'unknown' END AS lang_pred,
           CASE WHEN s.n_grams > 0 THEN CAST(-ns[1] AS BIGINT) END AS z_best,
           CASE WHEN s.n_grams > 0 THEN CAST(ns[2] - ns[1] AS BIGINT) END
             AS margin
    FROM documents d LEFT JOIN sel s USING (doc_id)
    ORDER BY d.doc_id"""
  }

  /** Mirrors Queries.curationPipeline: mirrored/truncated body plant →
    * the q145 extraction chain → token stats + quality rule → exact
    * dedup among quality passers (NULL rep for all-failing groups).
    */
  val curation: String = {
    def visible(x: String) =
      "trim(regexp_replace(" +
        "replace(replace(replace(replace(replace(replace(" +
        s"regexp_replace($x, '<[^>]*>', ' ', 'g')" +
        ", '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>')" +
        ", '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')" +
        ", '\\s+', ' ', 'g'))"
    val anchor = visible(
      "coalesce(array_to_string(regexp_extract_all(blk, " +
        "'(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 2), ' '), '')")
    val normMain =
      "trim(regexp_replace(lower(main_text), '\\s+', ' ', 'g'))"
    s"""
    WITH pick AS (
      SELECT d.doc_id, coalesce(r.text, '') AS bt
      FROM documents d
      JOIN documents r ON r.doc_id = d.doc_id - d.doc_id % 10),
    dd AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN substring(bt, 1, 60) ELSE bt END AS t
      FROM pick),
    d AS (
      SELECT doc_id,
        '<html><head><title>Doc ' || doc_id ||
        '</title><style>p{margin:0}</style>' ||
        '<script type="text/javascript">var id=' || doc_id ||
        ';</script></head><body>' ||
        '<nav><a href="/">home</a> <a href="/about">about</a> ' ||
        '<a href="/contact">contact</a></nav>' ||
        '<h1>Document ' || doc_id || '</h1><p>' ||
        substring(t, 1, CAST(floor(len(t) / 2) AS INTEGER)) ||
        '</p>' ||
        CASE WHEN doc_id % 3 = 0 THEN
          '<div class="promo"><a href="/buy">buy now great deals</a> ' ||
          '<a href="/subscribe">subscribe to the newsletter</a></div>'
        ELSE '' END ||
        '<p>' ||
        substring(t, CAST(floor(len(t) / 2) AS INTEGER) + 1, len(t)) ||
        ' &amp; more</p>' ||
        '<footer><a href="/privacy">privacy</a> ' ||
        '<a href="/terms">terms</a> (c) 2026</footer></body></html>'
          AS markup
      FROM dd),
    c AS (
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(markup,
        '(?is)<script(\\s[^>]*)?>.*?</script\\s*>', ' ', 'g'),
        '(?is)<style(\\s[^>]*)?>.*?</style\\s*>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d),
    b AS (
      SELECT doc_id, regexp_split_to_array(m,
        '(?i)</?(?:html|head|body|title|p|div|li|ul|ol|h[1-6]|t[dhr]|table|section|article|header|footer|nav|blockquote|form|aside|main|br)(\\s[^>]*)?/?>')
        AS blocks
      FROM c),
    tt AS (
      SELECT doc_id, unnest(blocks) AS blk,
             unnest(generate_series(1, len(blocks))) AS pos
      FROM b),
    v AS (
      SELECT doc_id, pos, ${visible("blk")} AS btext, $anchor AS ltext
      FROM tt),
    e AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN len(btext) > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocks,
             CAST(sum(CASE WHEN len(btext) >= 25
                       AND len(ltext) * 100 <= len(btext) * 33
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(string_agg(CASE WHEN len(btext) >= 25
                       AND len(ltext) * 100 <= len(btext) * 33
                      THEN btext END, ' ' ORDER BY pos), '') AS main_text
      FROM v GROUP BY doc_id),
    st AS (
      SELECT doc_id, n_blocks, n_kept,
             string_split($normMain, ' ') AS toksm,
             md5($normMain) AS fp
      FROM e),
    q AS (
      SELECT doc_id, n_blocks, n_kept,
             CAST(len(toksm) AS BIGINT) AS n_tokens,
             round(CAST(list_max(list_transform(list_distinct(toksm),
                     u -> len(list_filter(toksm, x -> x = u)))) AS DOUBLE)
                   / len(toksm), 6) AS top_token_frac,
             fp
      FROM st),
    k AS (
      SELECT *, n_tokens >= 20 AND top_token_frac <= 0.2 AS keep_quality
      FROM q),
    r AS (
      SELECT *, min(CASE WHEN keep_quality THEN doc_id END)
                  OVER (PARTITION BY fp) AS rep_id
      FROM k)
    SELECT doc_id, n_blocks, n_kept, n_tokens, top_token_frac,
           keep_quality, rep_id,
           keep_quality AND doc_id = rep_id AS keep
    FROM r ORDER BY doc_id"""
  }

  /** Mirrors Queries.wetRoundTrip / io.Wet: the WET file round-trip is
    * an identity on the planted documents, so the oracle recomputes
    * the expected rows directly — conversion type, the claimed and
    * actual octet lengths agreeing, payload = the planted multi-line
    * text.
    */
  val wetRoundTrip: String = s"""
    WITH d AS (
      SELECT doc_id,
             text || chr(10) || 'line two (doc ' || doc_id || ')' AS payload
      FROM documents)
    SELECT doc_id,
           'conversion' AS warc_type,
           CAST(strlen(payload) AS BIGINT) AS content_length,
           payload,
           TRUE AS length_ok
    FROM d ORDER BY doc_id"""

  /** Mirrors Queries.linkGraphGate / Html.extractLinks + Urls: planted
    * markup, comment strip, per-anchor href (double- then single-
    * quoted) + visible anchor text, then the q146 canonicalization
    * chain over the hrefs and the per-domain rollup.
    */
  val linkGraph: String = {
    // Html.visibleText verbatim (the q145 helper)
    def visible(x: String) =
      "trim(regexp_replace(" +
        "replace(replace(replace(replace(replace(replace(" +
        s"regexp_replace($x, '<[^>]*>', ' ', 'g')" +
        ", '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>')" +
        ", '&quot;', '\"'), '&#39;', ''''), '&amp;', '&')" +
        ", '\\s+', ' ', 'g'))"
    s"""
    WITH d AS (
      SELECT doc_id,
        '<html><body><p>see <a href="HTTP://WWW.Example.COM:80/doc/' ||
        doc_id || '?utm_source=x&b=2&a=1#f">Doc ' || doc_id || '</a></p>' ||
        CASE WHEN doc_id % 5 = 0 THEN
          '<p><a href=''https://blog.example.com:443/post?id=' || doc_id ||
          '&ref=tw''>blog <b>post</b></a></p>' ELSE '' END ||
        CASE WHEN doc_id % 5 = 1 THEN
          '<p><a href="https://ads.badsite.net/click">ad</a> ' ||
          '<a name="x">no href</a> ' ||
          '<!-- <a href="https://ghost.example.com/">gone</a> --></p>'
        ELSE '' END ||
        CASE WHEN doc_id % 5 = 2 THEN
          '<p><a href="not a url">weird &amp; broken</a></p>' ELSE '' END ||
        '<footer><a href="https://example.com/privacy">privacy' ||
        '&amp;terms</a></footer></body></html>' AS markup
      FROM documents),
    c AS (
      SELECT doc_id,
             regexp_replace(markup, '(?s)<!--.*?-->', ' ', 'g') AS m
      FROM d),
    aa AS (
      SELECT doc_id,
             regexp_extract_all(m, '(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 0)
               AS anchors
      FROM c),
    ax AS (
      SELECT doc_id, anchors,
             unnest(generate_series(1, len(anchors))) AS pos
      FROM aa),
    a1 AS (
      SELECT doc_id, CAST(pos - 1 AS BIGINT) AS link_pos,
             anchors[CAST(pos AS INTEGER)] AS a
      FROM ax),
    a2 AS (
      SELECT doc_id, link_pos,
        regexp_extract(a, '(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 1) AS attrs,
        ${visible(
          "regexp_extract(a, '(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>', 2)")}
          AS anchor
      FROM a1),
    a3 AS (
      SELECT doc_id, link_pos, anchor,
        CASE WHEN regexp_extract(attrs,
               '(?i)href\\s*=\\s*"([^"]*)"', 1) <> ''
          THEN regexp_extract(attrs, '(?i)href\\s*=\\s*"([^"]*)"', 1)
          ELSE regexp_extract(attrs, '(?i)href\\s*=\\s*''([^'']*)''', 1)
        END AS href
      FROM a2),
    lnk AS (SELECT doc_id, link_pos, href, anchor, href AS url
            FROM a3 WHERE href <> ''),
    ${urlCanonChain("lnk", "doc_id, link_pos, href, anchor")}
    SELECT doc_id, link_pos, href, anchor, url_canon, domain,
           CAST(count(*) OVER (PARTITION BY domain) AS BIGINT)
             AS domain_links
    FROM canon ORDER BY doc_id, link_pos"""
  }

  /** Mirrors Queries.boilerplateGate / Boilerplate.removeFrequentLines:
    * the five planted line shapes, whitespace-trimmed non-blank lines,
    * distinct-doc frequency, removal at df ≥ 10, in-order reassembly,
    * one row per document.
    */
  val boilerplate: String = s"""
    WITH d AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 2 = 0
             THEN chr(10) || 'Subscribe to our newsletter today'
             ELSE '' END
        || CASE WHEN doc_id % 3 = 0
             THEN chr(10) || 'copyright 2026 example corp' ELSE '' END
        || CASE WHEN doc_id % 5 = 0
             THEN chr(10) || '  accept our cookie policy  ' ELSE '' END
        || CASE WHEN doc_id IN (1, 7)
             THEN chr(10) || 'rare pair line' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN chr(10) ELSE '' END AS txt
      FROM documents),
    p AS (SELECT doc_id, string_split(txt, chr(10)) AS parts FROM d),
    lx AS (
      SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS pos
      FROM p),
    l AS (
      SELECT doc_id, pos, trim(parts[CAST(pos AS INTEGER)]) AS ln FROM lx),
    nb AS (SELECT doc_id, pos, ln FROM l WHERE ln <> ''),
    rm AS (
      SELECT ln FROM (SELECT DISTINCT doc_id, ln FROM nb)
      GROUP BY ln HAVING count(*) >= 10),
    k AS (
      SELECT n.doc_id, n.pos, n.ln, r.ln IS NOT NULL AS rmv
      FROM nb n LEFT JOIN rm r USING (ln)),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN rmv THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             string_agg(CASE WHEN NOT rmv THEN ln END, chr(10)
               ORDER BY pos) AS text_clean
      FROM k GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(a.text_clean, '') AS text_clean
    FROM d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id"""

  /** = q129: the incremental ClusterStore's accumulated map must equal
    * the ONE-SHOT clustering of the union corpus — q52's recursive-CTE
    * closure with q67's three-batch corpus and the k=8/4-band recipe
    * (the store's per-key owner STARS are connectivity-equivalent to
    * the one-shot per-key cliques, so segments, contraction, the
    * mid-sequence compaction, and incremental relabeling are all
    * invisible in the component labels).
    */
  val clusterStore: String = s"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
      FROM documents
      UNION ALL
      SELECT doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
             text || ' qz17 qz18' AS text
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct($bigrams)) AS sh FROM corpus),
    h AS (
      SELECT doc_id, mod(${hash60("sh")}, 1000000007) AS hh FROM g),
    sigs AS (
      SELECT doc_id,
             min(mod(hh *  2000007 + 777767777, 1000000007)) AS mh0,
             min(mod(hh *  4000013 + 555535547, 1000000007)) AS mh1,
             min(mod(hh *  6000019 + 333303317, 1000000007)) AS mh2,
             min(mod(hh *  8000025 + 111071087, 1000000007)) AS mh3,
             min(mod(hh * 10000031 + 888838864, 1000000007)) AS mh4,
             min(mod(hh * 12000037 + 666606634, 1000000007)) AS mh5,
             min(mod(hh * 14000043 + 444374404, 1000000007)) AS mh6,
             min(mod(hh * 16000049 + 222142174, 1000000007)) AS mh7
      FROM h GROUP BY doc_id),
    banded AS (
      SELECT doc_id, 0 AS band, md5(concat_ws(',', mh0, mh1)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band, md5(concat_ws(',', mh2, mh3)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 2 AS band, md5(concat_ws(',', mh4, mh5)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 3 AS band, md5(concat_ws(',', mh6, mh7)) AS sig FROM sigs),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    lbl AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
    asg AS (
      SELECT c.doc_id,
             coalesce(least(l.doc_id, l.mn), c.doc_id) AS cluster_id
      FROM corpus c LEFT JOIN lbl l ON c.doc_id = l.doc_id)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM asg
    ORDER BY doc_id"""

  /** = q72: the STREAMING near-dup loop over a two-copy planted corpus
    * (originals + suffixed near-dups) collapses to the same one-pass
    * band-drop rule — epoch segments, the replayed middle epoch, and
    * the newest-segment-sparing compaction must all be invisible.
    */
  val streamingNearDedup: String = nearDedupOnePass(s"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
             text || ' qz17 qz18' AS text
      FROM documents""")

  /** Shared one-pass collapse of the band-store near-dup loops (q67/q72):
    * "drop b when a smaller-id a shares an LSH band" over `corpusSql`.
    */
  private def nearDedupOnePass(corpusSql: String): String = s"""
    WITH corpus AS ($corpusSql),
    g AS (
      SELECT doc_id, unnest(list_distinct($bigrams)) AS sh FROM corpus),
    h AS (
      SELECT doc_id, mod(${hash60("sh")}, 1000000007) AS hh FROM g),
    sigs AS (
      SELECT doc_id,
             min(mod(hh *  2000007 + 777767777, 1000000007)) AS mh0,
             min(mod(hh *  4000013 + 555535547, 1000000007)) AS mh1,
             min(mod(hh *  6000019 + 333303317, 1000000007)) AS mh2,
             min(mod(hh *  8000025 + 111071087, 1000000007)) AS mh3,
             min(mod(hh * 10000031 + 888838864, 1000000007)) AS mh4,
             min(mod(hh * 12000037 + 666606634, 1000000007)) AS mh5,
             min(mod(hh * 14000043 + 444374404, 1000000007)) AS mh6,
             min(mod(hh * 16000049 + 222142174, 1000000007)) AS mh7
      FROM h GROUP BY doc_id),
    banded AS (
      SELECT doc_id, 0 AS band, md5(concat_ws(',', mh0, mh1)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band, md5(concat_ws(',', mh2, mh3)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 2 AS band, md5(concat_ws(',', mh4, mh5)) AS sig FROM sigs
      UNION ALL
      SELECT doc_id, 3 AS band, md5(concat_ws(',', mh6, mh7)) AS sig FROM sigs),
    drops AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
    SELECT doc_id, text FROM corpus
    WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    ORDER BY doc_id"""

  /** Mirrors Queries.tfidfTopK: tf per (doc, token), df off the tf
    * frame, smoothed idf, round 4dp BEFORE the per-doc top-5 window so
    * both engines rank the identical rounded values (tok asc breaks
    * rounded ties).
    */
  val tfidfTopK: String = s"""
    WITH tok AS (
      SELECT doc_id, unnest($toks) AS tok FROM documents),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM tok WHERE tok <> '' GROUP BY 1, 2),
    dfreq AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
             round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 4)
               AS tfidf
      FROM tf, dfreq, n WHERE tf.tok = dfreq.tok),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok ASC) AS rk
      FROM scored)
    SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tf, df, tfidf
    FROM r WHERE rk <= 5
    ORDER BY doc_id, rk"""

  /** Same chunk arithmetic as Queries.chunkDocs: 1-based starts
    * 1, 81, 161, … up to max(len, 1), chunk = substr(text, start, 100),
    * index = (start-1) // 80.
    */
  val chunkDocs: String = """
    WITH starts AS (
      SELECT doc_id, text,
             unnest(generate_series(1,
               greatest(coalesce(len(text), 0), 1), 80)) AS start
      FROM documents)
    SELECT doc_id,
           CAST((start - 1) // 80 AS BIGINT) AS chunk_idx,
           substr(text, start, 100) AS chunk
    FROM starts
    ORDER BY doc_id, chunk_idx"""

  /** Mirrors Queries.dupSpans / Dedup.dupSpanProfile: 8-token grams with
    * 1-based positions (DuckDB list slices are inclusive, so
    * toks[pos:pos+7] = the 8-gram at pos), a count window over the gram
    * hash marks second occurrences, then per-doc gaps-and-islands (every
    * interval is exactly 8 tokens → new island when pos > prev_end + 1).
    */
  val dupSpans: String = s"""
    WITH base AS (
      SELECT doc_id, $toks AS toks FROM documents),
    p AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 7)) AS pos
      FROM base),
    occ AS (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos:pos + 7], ' ')) AS g
      FROM p),
    dup AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY g) AS cnt
            FROM occ)
      WHERE cnt >= 2),
    isl AS (
      SELECT doc_id, pos,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS isl
      FROM (SELECT doc_id, pos,
                   CASE WHEN pos > coalesce(
                          max(pos + 7) OVER (PARTITION BY doc_id
                            ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING),
                          -4611686018427387904) + 1
                        THEN 1 ELSE 0 END AS ni
            FROM dup)),
    spans AS (
      SELECT doc_id, isl, min(pos) AS s, max(pos) + 7 AS e
      FROM isl GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, count(*) AS dup_spans, sum(e - s + 1) AS dup_tokens
      FROM spans GROUP BY 1)
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(b.toks), 6)
             AS dup_ratio
    FROM base b LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id"""

  /** Mirrors Queries.bpeMergeStats: word-frequency vocabulary, adjacent
    * char pairs per word (DuckDB's generate_series(1, 0) is empty, so
    * 1-char words drop out naturally — Spark needs the explicit length
    * guard), freq-weighted pair counts, top 20. sum() over BIGINT is
    * HUGEINT in DuckDB → cast back.
    */
  val bpeMergeStats: String = s"""
    WITH wv AS (
      SELECT tok AS w, count(*) AS freq
      FROM (SELECT unnest($toks) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY 1),
    p AS (
      SELECT substr(w, i, 2) AS pair, freq
      FROM (SELECT w, freq,
                   unnest(generate_series(1, len(w) - 1)) AS i
            FROM wv))
    SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM p
    GROUP BY 1
    ORDER BY pair_count DESC, pair ASC
    LIMIT 20"""

  /** Mirrors Queries.bpeTrain / Bpe.trainMerges: the SAME wrapped-symbol
    * string encoding (every symbol wrapped in chr(31)), the same
    * left-to-right non-overlapping `replace` as the merge rule, unrolled
    * for eight rounds as a chained CTE — r{i} applies m{i}'s winning
    * pair to r{i-1}; ties break (pair_count DESC, lhs, rhs) in both
    * engines. sum() over BIGINT is HUGEINT in DuckDB → cast back.
    */
  private val bpeSep = "chr(31)"
  private val BpeRounds = 8

  /** Shared WITH-body prefix of the BPE train/encode oracles: the
    * word-frequency vocabulary, the wrapped-symbol round-0 sequences,
    * and `rounds` chained (pair-count → argmax → replace) iterations
    * producing merge CTEs m1..m{rounds}.
    */
  private def bpeTrainCtes(rounds: Int): String = {
    val sep = bpeSep
    def pairsCte(i: Int) = s"""
    p$i AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
             CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (SELECT syms, freq,
                   unnest(generate_series(1, len(syms) - 1)) AS i
            FROM (SELECT string_split(trim(seq, $sep), $sep || $sep) AS syms,
                         freq
                  FROM r${i - 1}))
      GROUP BY 1, 2),
    m$i AS (
      SELECT lhs, rhs, pair_count FROM p$i
      ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1)"""
    def mergeCte(i: Int) = s"""
    r$i AS (
      SELECT replace(seq, $sep || lhs || $sep || $sep || rhs || $sep,
                     $sep || lhs || rhs || $sep) AS seq, freq
      FROM r${i - 1}, m$i)"""
    val ctes = (1 to rounds).map { i =>
      pairsCte(i) + (if (i < rounds) "," + mergeCte(i) else "")
    }.mkString(",")
    s"""wv AS (
      SELECT tok AS w, count(*) AS freq
      FROM (SELECT unnest($toks) AS tok FROM documents)
      WHERE tok <> '' AND tok NOT LIKE '%' || $sep || '%'
      GROUP BY 1),
    r0 AS (
      SELECT regexp_replace(w, '(.)', $sep || '\\1' || $sep, 'g') AS seq,
             freq
      FROM wv),$ctes"""
  }

  val bpeTrain: String = {
    val union = (1 to BpeRounds)
      .map(i => s"SELECT $i AS round, lhs, rhs, pair_count FROM m$i")
      .mkString("\n      UNION ALL ")
    s"""
    WITH ${bpeTrainCtes(BpeRounds)}
    SELECT CAST(round AS BIGINT) AS round, lhs, rhs,
           lhs || rhs AS merged, pair_count
    FROM ($union)
    ORDER BY round"""
  }

  /** Mirrors Queries.kmeansStep / Similarity.lloydStep: cosine to the 8
    * axis-unit seeds e_{8j+1} (list_cosine_similarity is driver-proven
    * to match Spark's fold at 6 dp — q23/q70), argmax with ties to the
    * smaller cell, then per-(cell, dim) means through exact
    * DECIMAL(38,12) sums with ONE double division at the end.
    */
  val kmeansStep: String = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cand AS (
      SELECT vec_id, v, j,
             round(list_cosine_similarity(v,
               list_transform(generate_series(1, 64),
                 i -> CASE WHEN i = j * 8 + 1 THEN 1.0 ELSE 0.0 END)), 6)
               AS cos
      FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) js),
    asg AS (
      SELECT vec_id, v, j AS cell
      FROM (SELECT vec_id, v, j,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, j ASC) AS rk
            FROM cand)
      WHERE rk = 1),
    n AS (SELECT cell, count(*) AS n_vecs FROM asg GROUP BY 1),
    x AS (
      SELECT cell, d AS dim, CAST(v[d] AS DECIMAL(38,12)) AS xd
      FROM asg, (SELECT unnest(generate_series(1, 64)) AS d) ds),
    sums AS (
      SELECT cell, dim, sum(xd) AS sx FROM x GROUP BY 1, 2)
    SELECT CAST(s.cell AS BIGINT) AS cell, CAST(s.dim AS BIGINT) AS dim,
           n.n_vecs,
           round(CAST(s.sx AS DOUBLE) / n.n_vecs, 6) + 0.0 AS c
    FROM sums s JOIN n USING (cell)
    ORDER BY cell, dim"""

  /** Mirrors Queries.bpeEncode / Bpe.encodeCounts: retrain the q90 merge
    * table (shared CTE prefix), then ENCODE every document — each word's
    * characters wrapped in chr(31), words joined on chr(30) so merges
    * can never cross a word boundary, the eight merges applied in
    * training order as chained replaces — and count the resulting
    * symbols per doc ((wrap-char count)/2).
    */
  val bpeEncode: String = {
    val sep = bpeSep
    val encs = (1 to BpeRounds).map { i =>
      s"""
    enc$i AS (
      SELECT doc_id,
             replace(seq,
               (SELECT $sep || lhs || $sep || $sep || rhs || $sep FROM m$i),
               (SELECT $sep || lhs || rhs || $sep FROM m$i)) AS seq,
             n_ws_tokens
      FROM enc${i - 1})"""
    }.mkString(",")
    s"""
    WITH ${bpeTrainCtes(BpeRounds)},
    enc0 AS (
      SELECT doc_id,
             array_to_string(
               list_transform($toks,
                 w -> regexp_replace(w, '(.)', $sep || '\\1' || $sep, 'g')),
               chr(30)) AS seq,
             len(list_filter($toks, t -> t <> '')) AS n_ws_tokens
      FROM documents),$encs
    SELECT doc_id,
           CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
           CAST((len(seq) - len(replace(seq, $sep, ''))) // 2 AS BIGINT)
             AS n_bpe_tokens,
           round(CAST((len(seq) - len(replace(seq, $sep, ''))) // 2 AS DOUBLE)
                 / nullif(n_ws_tokens, 0), 4) AS tokens_per_word
    FROM enc$BpeRounds
    ORDER BY doc_id"""
  }

  /** Mirrors Queries.kmeansTrainGate / Similarity.kmeansTrain: three
    * chained Lloyd iterations — each round rebuilds centroid LISTS from
    * the previous round's (cell, dim, c) table, assigns by rounded
    * cosine argmax (ties to the smaller cell), updates means through
    * exact DECIMAL(38,12) sums, and carries starved cells' centroids
    * forward unchanged — then one final assignment pass for cluster
    * sizes. Every mean gets the q86 round(·,6) + 0.0 treatment so both
    * engines hand bit-identical centroid doubles to the next round's
    * cosines.
    */
  val kmeansTrainGate: String = {
    def iteration(i: Int) = s"""
    cl${i - 1} AS (
      SELECT cell, list(c ORDER BY dim) AS ctr
      FROM cent${i - 1} GROUP BY cell),
    cand$i AS (
      SELECT vec_id, v, cell,
             round(list_cosine_similarity(v, ctr), 6) AS cos
      FROM v CROSS JOIN cl${i - 1}),
    asg$i AS (
      SELECT vec_id, v, cell
      FROM (SELECT vec_id, v, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cell ASC) AS rk
            FROM cand$i)
      WHERE rk = 1),
    n$i AS (SELECT cell, count(*) AS n_vecs FROM asg$i GROUP BY 1),
    sums$i AS (
      SELECT cell, d AS dim, sum(CAST(v[d] AS DECIMAL(38,12))) AS sx
      FROM asg$i, (SELECT unnest(generate_series(1, 64)) AS d) ds
      GROUP BY 1, 2),
    newc$i AS (
      SELECT s.cell, s.dim,
             round(CAST(s.sx AS DOUBLE) / n.n_vecs, 6) + 0.0 AS c
      FROM sums$i s JOIN n$i n USING (cell)),
    cent$i AS (
      SELECT cell, dim, c FROM newc$i
      UNION ALL
      SELECT cell, dim, c FROM cent${i - 1}
      WHERE cell NOT IN (SELECT DISTINCT cell FROM newc$i))"""
    s"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent0 AS (
      SELECT j AS cell, d AS dim,
             CASE WHEN d = j * 8 + 1 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS c
      FROM (SELECT unnest(generate_series(0, 7)) AS j) js,
           (SELECT unnest(generate_series(1, 64)) AS d) ds),
    ${(1 to 3).map(iteration).mkString(",")},
    cl3 AS (
      SELECT cell, list(c ORDER BY dim) AS ctr FROM cent3 GROUP BY cell),
    cand4 AS (
      SELECT vec_id, cell,
             round(list_cosine_similarity(v, ctr), 6) AS cos
      FROM v CROSS JOIN cl3),
    asg4 AS (
      SELECT vec_id, cell
      FROM (SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cell ASC) AS rk
            FROM cand4)
      WHERE rk = 1),
    n4 AS (SELECT cell, count(*) AS n_vecs FROM asg4 GROUP BY 1)
    SELECT CAST(c.cell AS BIGINT) AS cell, CAST(c.dim AS BIGINT) AS dim,
           CAST(coalesce(n4.n_vecs, 0) AS BIGINT) AS n_vecs, c.c AS c
    FROM cent3 c LEFT JOIN n4 USING (cell)
    ORDER BY cell, dim"""
  }

  /** Shared WITH-body of the q95/q96 gates: the q87 exact-integer logit
    * carried per (doc, source), pre-sigmoid double quality (NULL for
    * empty docs → ranks last under NULLS LAST, never kept).
    */
  private val qualitySignalCte: String = s"""
    t AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
      WHERE tok <> ''),
    b AS (
      SELECT doc_id,
             mod(mod(${hash60("tok")}, 32) * 37, 21) - 10 AS w10
      FROM t),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens, sum(w10) AS zn
      FROM b GROUP BY 1),
    sig AS (
      SELECT d.doc_id, d.source,
             coalesce(a.n_tokens, 0) AS n_tokens,
             a.zn,
             CASE WHEN coalesce(a.n_tokens, 0) > 0
                  THEN CAST(a.zn AS DOUBLE) / (10.0 * a.n_tokens) - 0.2
             END AS quality
      FROM documents d LEFT JOIN agg a USING (doc_id))"""

  /** Mirrors Queries.qualityPercentileGate: per-source rank by the
    * exact quality key, integer cut rank·10 ≤ n·6. The emitted 6-dp
    * quality rounds in exact INTEGER space (half away from zero on the
    * rational (zn−2n)/(10n)) — round(double, 6) diverged across
    * engines on an exact half-boundary value at sf1.
    */
  val qualityPercentileGate: String = s"""
    WITH $qualitySignalCte,
    sigq AS (
      SELECT *,
             CASE WHEN n_tokens > 0 THEN
               CASE WHEN zn - 2 * n_tokens >= 0
                 THEN ((zn - 2 * n_tokens) * 200000 + n_tokens)
                      // (2 * n_tokens)
                 ELSE -(((2 * n_tokens - zn) * 200000 + n_tokens)
                      // (2 * n_tokens))
               END END AS qe6
      FROM sig)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(qe6 AS DOUBLE) / 1000000.0 AS quality,
           CAST(src_rank AS BIGINT) AS src_rank,
           CAST(src_n AS BIGINT) AS src_n,
           src_rank * 10 <= src_n * 6 AS kept
    FROM (SELECT *,
                 row_number() OVER (PARTITION BY source
                   ORDER BY quality DESC NULLS LAST, doc_id ASC) AS src_rank,
                 count(*) OVER (PARTITION BY source) AS src_n
          FROM sigq)
    ORDER BY doc_id"""

  /** Mirrors Queries.tokenBudgetMixture: best-first running token total
    * per source, integer cut cum·10 ≤ total·4.
    */
  val tokenBudgetMixture: String = s"""
    WITH $qualitySignalCte
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(src_tokens AS BIGINT) AS src_tokens,
           cum_tokens * 10 <= src_tokens * 4 AS kept
    FROM (SELECT *,
                 sum(n_tokens) OVER (PARTITION BY source
                   ORDER BY quality DESC NULLS LAST, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens,
                 sum(n_tokens) OVER (PARTITION BY source) AS src_tokens
          FROM sig)
    ORDER BY doc_id"""

  /** Mirrors Queries.qualityModel: md5-stable token→bucket hashing, the
    * ×10 integer weight formula, exact integer logit sums, and the
    * z ≥ 0 keep-gate computed pre-sigmoid (identical double from one
    * division + one subtraction — the only libm call, exp, is inside
    * the 4 dp-rounded score, q66's transcendental discipline).
    */
  val qualityModel: String = s"""
    WITH t AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
      WHERE tok <> ''),
    b AS (
      SELECT doc_id,
             mod(mod(${hash60("tok")}, 32) * 37, 21) - 10 AS w10
      FROM t),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens, sum(w10) AS zn
      FROM b GROUP BY 1),
    z AS (
      SELECT d.doc_id,
             coalesce(a.n_tokens, 0) AS n_tokens,
             CASE WHEN coalesce(a.n_tokens, 0) > 0
                  THEN CAST(a.zn AS DOUBLE) / (10.0 * a.n_tokens) - 0.2
             END AS z
      FROM documents d LEFT JOIN agg a USING (doc_id))
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-z)), 4) AS score,
           coalesce(z >= 0.0, FALSE) AS keep
    FROM z
    ORDER BY doc_id"""

  /** Mirrors Queries.stripSpans / Dedup.stripDupSpans: the q84 dup
    * positions, exploded to covered token indices, anti-joined against
    * the positioned tokens, re-joined in order (string_agg ORDER BY =
    * Spark's sort_array-of-structs rebuild).
    */
  val stripSpans: String = s"""
    WITH base AS (
      SELECT doc_id, $toks AS toks FROM documents),
    p AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 7)) AS pos
      FROM base),
    occ AS (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos:pos + 7], ' ')) AS g
      FROM p),
    dup AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY g) AS cnt
            FROM occ)
      WHERE cnt >= 2),
    cov AS (
      SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + 7)) AS tpos
      FROM dup),
    tok AS (
      SELECT doc_id, i AS tpos, toks[i] AS tok
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks))) AS i
            FROM base)),
    kept AS (
      SELECT t.doc_id, t.tpos, t.tok
      FROM tok t LEFT JOIN cov c
        ON t.doc_id = c.doc_id AND t.tpos = c.tpos
      WHERE c.tpos IS NULL),
    agg AS (
      SELECT doc_id, count(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY tpos) AS clean_text
      FROM kept GROUP BY 1)
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           coalesce(a.clean_text, '') AS clean_text
    FROM base b LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id"""

  /** Mirrors Queries.incrementalDupSpans: the three-batch sequential
    * gram-store loop collapses to one windowed pass — an occurrence is
    * duplicated iff its gram was seen in an EARLIER batch
    * (min(b) OVER gram < b) or twice within its own (count over
    * (gram, b) ≥ 2); islands/profile then exactly as q84.
    */
  val incrementalDupSpans: String = s"""
    WITH corpus AS (
      SELECT 0 AS b, doc_id, text FROM documents
      UNION ALL
      SELECT 1, doc_id + (SELECT max(doc_id) + 1 FROM documents), text
      FROM documents
      UNION ALL
      SELECT 2, doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
             text || ' qz17 qz18' AS text
      FROM documents),
    base AS (
      SELECT b, doc_id, $toks AS toks FROM corpus),
    p AS (
      SELECT b, doc_id, toks,
             unnest(generate_series(1, len(toks) - 7)) AS pos
      FROM base),
    occ AS (
      SELECT b, doc_id, pos,
             md5(array_to_string(toks[pos:pos + 7], ' ')) AS g
      FROM p),
    dup AS (
      SELECT doc_id, pos
      FROM (SELECT b, doc_id, pos,
                   min(b) OVER (PARTITION BY g) AS minb,
                   count(*) OVER (PARTITION BY g, b) AS cnt
            FROM occ)
      WHERE minb < b OR cnt >= 2),
    isl AS (
      SELECT doc_id, pos,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS isl
      FROM (SELECT doc_id, pos,
                   CASE WHEN pos > coalesce(
                          max(pos + 7) OVER (PARTITION BY doc_id
                            ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING),
                          -4611686018427387904) + 1
                        THEN 1 ELSE 0 END AS ni
            FROM dup)),
    spans AS (
      SELECT doc_id, isl, min(pos) AS s, max(pos) + 7 AS e
      FROM isl GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, count(*) AS dup_spans, sum(e - s + 1) AS dup_tokens
      FROM spans GROUP BY 1)
    SELECT bb.doc_id,
           CAST(len(bb.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(bb.toks), 6)
             AS dup_ratio
    FROM base bb LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id"""

  /** Mirrors Queries.incrementalStripSpans: the q89 three-batch corpus
    * and batch-aware dup rule (gram seen in an earlier batch, or twice
    * within its own) feeding the q88 strip machinery — covered token
    * indices, anti-join, in-order rebuild. Doc ids are disjoint across
    * batches, so everything downstream of `dup` keys on doc_id alone.
    */
  val incrementalStripSpans: String = s"""
    WITH corpus AS (
      SELECT 0 AS b, doc_id, text FROM documents
      UNION ALL
      SELECT 1, doc_id + (SELECT max(doc_id) + 1 FROM documents), text
      FROM documents
      UNION ALL
      SELECT 2, doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
             text || ' qz17 qz18' AS text
      FROM documents),
    base AS (
      SELECT b, doc_id, $toks AS toks FROM corpus),
    p AS (
      SELECT b, doc_id, toks,
             unnest(generate_series(1, len(toks) - 7)) AS pos
      FROM base),
    occ AS (
      SELECT b, doc_id, pos,
             md5(array_to_string(toks[pos:pos + 7], ' ')) AS g
      FROM p),
    dup AS (
      SELECT doc_id, pos
      FROM (SELECT b, doc_id, pos,
                   min(b) OVER (PARTITION BY g) AS minb,
                   count(*) OVER (PARTITION BY g, b) AS cnt
            FROM occ)
      WHERE minb < b OR cnt >= 2),
    cov AS (
      SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + 7)) AS tpos
      FROM dup),
    tok AS (
      SELECT doc_id, i AS tpos, toks[i] AS tok
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks))) AS i
            FROM base)),
    kept AS (
      SELECT t.doc_id, t.tpos, t.tok
      FROM tok t LEFT JOIN cov c
        ON t.doc_id = c.doc_id AND t.tpos = c.tpos
      WHERE c.tpos IS NULL),
    agg AS (
      SELECT doc_id, count(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY tpos) AS clean_text
      FROM kept GROUP BY 1)
    SELECT bb.doc_id,
           CAST(len(bb.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           coalesce(a.clean_text, '') AS clean_text
    FROM base bb LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id"""

  /** Mirrors Queries.centroidOutliersGate: per-label exact centroid
    * through DECIMAL(38,12) component sums (= the native vector-sum
    * aggregate), 6-dp cosine of every member to its centroid, integer
    * bottom-10% rank cut. The `+ 0.0` on both the centroid components
    * and the cosine is the −0.0 normalization every mean/cosine gate
    * carries.
    */
  val centroidOutliers: String = s"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    sums AS (
      SELECT label, d AS dim,
             sum(CAST(v[d] AS DECIMAL(38,12))) AS sx,
             count(*) AS n
      FROM v, (SELECT unnest(generate_series(1, 64)) AS d) ds
      GROUP BY 1, 2),
    cent AS (
      SELECT label, any_value(n) AS n_vecs,
             list(round(CAST(sx AS DOUBLE) / n, 6) + 0.0 ORDER BY dim) AS ctr
      FROM sums GROUP BY label),
    scored AS (
      SELECT v.vec_id, v.label, c.n_vecs,
             round(list_cosine_similarity(v.v, c.ctr), 6) + 0.0 AS cos
      FROM v JOIN cent c USING (label)),
    r AS (
      SELECT vec_id, label, n_vecs, cos,
             row_number() OVER (PARTITION BY label
               ORDER BY cos ASC, vec_id ASC) AS rk
      FROM scored)
    SELECT vec_id, label, cos, CAST(rk AS BIGINT) AS rk, n_vecs,
           rk * 1000 <= n_vecs * 100 AS is_outlier
    FROM r ORDER BY label, rk"""

  /** Mirrors Queries.lengthBucketsGate (width 64): all-integer
    * padding-waste report; `//` is DuckDB floor division = Spark `div`
    * on the non-negative values here.
    */
  val lengthBuckets: String = s"""
    WITH t AS (
      SELECT CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
    b AS (
      SELECT n_tokens // 64 AS bucket, count(*) AS n_docs,
             max(n_tokens) AS max_tokens,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      FROM t GROUP BY 1)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(bucket * 64 AS BIGINT) AS min_tokens,
           n_docs, max_tokens, sum_tokens,
           CAST(max_tokens * n_docs AS BIGINT) AS padded_tokens,
           CAST((max_tokens * n_docs - sum_tokens) * 1000000
                // (max_tokens * n_docs) AS BIGINT) AS waste_ppm
    FROM b ORDER BY bucket"""

  /** Mirrors Queries.domainCapGate (cap 15): per-source rank by the
    * q87 exact-integer quality logit (double division of exact
    * integers is IEEE-exact, so both engines order identically; NULLS
    * LAST matches Spark's desc default), keep rank ≤ 15.
    */
  val domainCaps: String = s"""
    WITH $qualitySignalCte,
    r AS (
      SELECT doc_id, source, n_tokens, zn,
             row_number() OVER (PARTITION BY source
               ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rk
      FROM sig)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(zn, 0) AS BIGINT) AS zn, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 15
    ORDER BY source, rk"""

  /** Mirrors Queries.perplexityGate: bounded bigram LM (top-512 trusted
    * bigrams + full trusted unigram table + add-one smoothing over the
    * trusted vocabulary size), per-bigram NLL snapped to integer
    * micro-nats BEFORE summation (`round(ln(r) * 1e6)` — a 1-ulp `ln`
    * divergence moves the product by ~1e-9, never across the rounding
    * boundary), all downstream arithmetic 64-bit integer. `round(x)`
    * returns an integral double in both engines, so the BIGINT cast is
    * exact (never cast a fractional double — DuckDB rounds, Spark
    * truncates).
    */
  val perplexityFilter: String = s"""
    WITH t AS (
      SELECT doc_id, source, $toks AS tk FROM documents),
    bg AS (
      SELECT doc_id, unnest($bigrams) AS bg FROM documents),
    uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT unnest(tk) AS tok FROM t
            WHERE CAST(substr(source, 4) AS BIGINT) < 5)
      GROUP BY tok),
    vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
    lm AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest($bigrams) AS bg FROM documents
            WHERE CAST(substr(source, 4) AS BIGINT) < 5)
      GROUP BY bg ORDER BY cnt DESC, bg LIMIT 512),
    sc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(ln(
               CAST(coalesce(u.c1, 0) + vv.v AS DOUBLE) /
               CAST(coalesce(l.cnt, 0) + 1 AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS s
      FROM bg
      LEFT JOIN lm l USING (bg)
      LEFT JOIN uni u ON u.tok = string_split(bg.bg, ' ')[1]
      CROSS JOIN vv
      GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(sc.n, 0) AS n_bigrams,
           coalesce(sc.s, 0) AS nll_micro,
           CASE WHEN sc.n > 0 THEN sc.s // sc.n END AS avg_nll_micro,
           coalesce(sc.n > 0 AND sc.s <= sc.n * 4200000, FALSE) AS keep
    FROM documents d LEFT JOIN sc USING (doc_id)
    ORDER BY doc_id"""

  /** Mirrors Queries.epochShuffleGate (3 epochs, batch 64, salt
    * "epoch13"): per-epoch global order by the stable 60-bit hash of
    * `id:salt:epoch`, position via row_number − 1, batch by floor
    * division — the one-shot window form of the engine's grouped
    * two-pass cumsum.
    */
  val epochShuffle: String = s"""
    WITH e AS (
      SELECT doc_id, unnest(generate_series(0, 2)) AS epoch
      FROM documents),
    h AS (
      SELECT doc_id, epoch,
             ${hash60("concat(CAST(doc_id AS VARCHAR), ':epoch13:', CAST(epoch AS VARCHAR))")} AS hh
      FROM e),
    r AS (
      SELECT doc_id, epoch,
             row_number() OVER (PARTITION BY epoch ORDER BY hh, doc_id) - 1
               AS pos
      FROM h)
    SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
           CAST(pos AS BIGINT) AS pos,
           CAST(pos // 64 AS BIGINT) AS batch
    FROM r ORDER BY epoch, pos"""

  /** Mirrors Queries.temperatureMixtureGate (α = 0.3, budget 200,
    * salt "tmix13"): per-source weight `round(exp(ln(n) × 0.3) × 1e6)`
    * snapped to integer micro-units (the q136 ulp argument), integer
    * quota division, hash-rank cut. `//` on the positive BIGINTs =
    * Spark `div`.
    */
  val temperatureMixture: String = s"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source),
    w AS (
      SELECT source,
             CAST(round(exp(ln(CAST(n AS DOUBLE)) * 0.3) * 1000000)
               AS BIGINT) AS wu
      FROM c),
    tot AS (SELECT CAST(sum(wu) AS BIGINT) AS t FROM w),
    q AS (
      SELECT source, (200 * wu) // t AS quota FROM w CROSS JOIN tot),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY
               ${hash60("concat(CAST(doc_id AS VARCHAR), ':tmix13')")},
               doc_id) AS rk
      FROM documents)
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk, q.quota
    FROM r JOIN q USING (source)
    WHERE r.rk <= q.quota
    ORDER BY source, rk"""

  /** Mirrors Queries.vocabEncodeGate (minCount 3): pruned vocabulary
    * with dense ids by (count DESC, token ASC), docs re-encoded as
    * position-ordered id sequences, OOV → 0, joined to a csv scalar
    * (the driver hasher can't hash arrays — the q27/q42 precedent).
    * DuckDB zips parallel unnests, giving each token its 1-based
    * position; the final left join from `t` keeps zero-token documents
    * as (0, 0, '') rows — the engine's one-row-per-input-doc contract.
    */
  val vocabEncode: String = s"""
    WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
    tok AS (
      SELECT doc_id,
             unnest(tk) AS tok,
             unnest(generate_series(1, len(tk))) AS pos
      FROM t),
    v AS (
      SELECT tok, count(*) AS cnt FROM tok
      GROUP BY tok HAVING count(*) >= 3),
    ids AS (
      SELECT tok,
             CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
               AS id
      FROM v),
    enc AS (
      SELECT tok.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN i.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unk,
             string_agg(CAST(coalesce(i.id, 0) AS VARCHAR), ',' ORDER BY pos)
               AS ids_csv
      FROM tok LEFT JOIN ids i USING (tok)
      GROUP BY tok.doc_id)
    SELECT t.doc_id,
           CAST(coalesce(e.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(e.n_unk, 0) AS BIGINT) AS n_unk,
           coalesce(e.ids_csv, '') AS ids_csv
    FROM t LEFT JOIN enc e USING (doc_id)
    ORDER BY t.doc_id"""

  /** Mirrors Queries.contrastiveTripletsGate: per query (vec_id % 19 ==
    * 7), argmax same-label cosine (positive) and argmax different-label
    * cosine inside [0.05, 0.45) (hard negative), ties to the smaller id
    * — the rank-window form of the engine's conditional
    * max(struct(cos, −id)) argmax. Queries missing either side drop.
    */
  val contrastiveTriplets: String = """
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    q AS (
      SELECT vec_id AS query_id, label AS qlbl, v AS qv
      FROM v WHERE vec_id % 19 = 7),
    sc AS (
      SELECT q.query_id, c.label = q.qlbl AS same, c.vec_id AS cid,
             round(list_cosine_similarity(q.qv, c.v), 6) + 0.0 AS cos
      FROM q JOIN v c ON c.vec_id <> q.query_id),
    p AS (
      SELECT query_id, cid, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, cid ASC) AS rk
      FROM sc WHERE same),
    n AS (
      SELECT query_id, cid, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, cid ASC) AS rk
      FROM sc WHERE NOT same AND cos >= 0.05 AND cos < 0.45)
    SELECT p.query_id, p.cid AS pos_id, p.cos AS pos_cos,
           n.cid AS neg_id, n.cos AS neg_cos
    FROM p JOIN n USING (query_id)
    WHERE p.rk = 1 AND n.rk = 1
    ORDER BY query_id"""

  /** Mirrors Queries.streamQualityGate / QualityStream.meterStaged:
    * the three-epoch staged quality meter collapses to per-slice q136
    * scoring (model = even-id half, batches = odd-id half by
    * (doc_id % 6 − 1) / 2) with running totals — segment files and the
    * ≤ batch_id reads must be invisible. Counts CAST to BIGINT (the
    * q58 HUGEINT/pandas-dtype class).
    */
  val streamQuality: String = s"""
    WITH tt AS (
      SELECT doc_id, $toks AS tk FROM documents WHERE doc_id % 2 = 0),
    uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT unnest(tk) AS tok FROM tt) GROUP BY tok),
    vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
    lm AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest($bigrams) AS bg FROM documents
            WHERE doc_id % 2 = 0)
      GROUP BY bg ORDER BY cnt DESC, bg LIMIT 512),
    bg AS (
      SELECT (doc_id % 6 - 1) // 2 AS batch_id, doc_id,
             unnest($bigrams) AS bg
      FROM documents WHERE doc_id % 2 = 1),
    sc AS (
      SELECT batch_id, doc_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(ln(
               CAST(coalesce(u.c1, 0) + vv.v AS DOUBLE) /
               CAST(coalesce(l.cnt, 0) + 1 AS DOUBLE)) * 1000000)
               AS BIGINT)) AS BIGINT) AS s
      FROM bg
      LEFT JOIN lm l USING (bg)
      LEFT JOIN uni u ON u.tok = string_split(bg.bg, ' ')[1]
      CROSS JOIN vv
      GROUP BY 1, 2),
    d AS (
      SELECT (doc_id % 6 - 1) // 2 AS batch_id, doc_id
      FROM documents WHERE doc_id % 2 = 1),
    per AS (
      SELECT d.batch_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN sc.n > 0 AND sc.s <= sc.n * 4200000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             CAST(sum(coalesce(sc.s, 0)) AS BIGINT) AS nll_micro
      FROM d LEFT JOIN sc
        ON d.batch_id = sc.batch_id AND d.doc_id = sc.doc_id
      GROUP BY 1)
    SELECT CAST(batch_id AS BIGINT) AS batch_id, n_docs, n_keep, nll_micro,
           CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(sum(n_keep) OVER w AS BIGINT) AS cum_keep,
           CAST(sum(nll_micro) OVER w AS BIGINT) AS cum_nll_micro
    FROM per
    WINDOW w AS (ORDER BY batch_id ROWS UNBOUNDED PRECEDING)
    ORDER BY batch_id"""

  /** Mirrors Queries.spanCorruptGate (15%, salt "t5span"): per-position
    * hash flags, maximal flagged runs become sentinel spans
    * (`lag` for starts, running start-count − 1 for the span index),
    * input/target re-assembled position-ordered. `string_agg ... ORDER
    * BY pos` skips NULL pieces exactly like the engine's filtered
    * struct-sort join; the final left join from `t` keeps zero-token
    * documents as (0, 0, 0, '', '') rows — the engine's
    * one-row-per-input-doc contract.
    */
  val spanCorruption: String = s"""
    WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
    tok AS (
      SELECT doc_id,
             unnest(generate_series(1, len(tk))) AS pos,
             unnest(tk) AS tok
      FROM t),
    f AS (
      SELECT doc_id, pos, tok,
             mod(${hash60("concat(CAST(doc_id AS VARCHAR), ':', CAST(pos AS VARCHAR), ':t5span')")},
                 100) < 15 AS fl
      FROM tok),
    s0 AS (
      SELECT doc_id, pos, tok, fl,
             fl AND NOT coalesce(lag(fl) OVER
               (PARTITION BY doc_id ORDER BY pos), FALSE) AS st
      FROM f),
    m AS (
      SELECT doc_id, pos, tok, fl, st,
             CAST(sum(CASE WHEN st THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS k
      FROM s0),
    p AS (
      SELECT doc_id, pos, fl, st,
             CASE WHEN NOT fl THEN tok
                  WHEN st THEN concat('<extra_id_', k, '>') END AS inp,
             CASE WHEN st THEN concat('<extra_id_', k, '> ', tok)
                  WHEN fl THEN tok END AS tgt
      FROM m),
    g AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN fl THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
             coalesce(string_agg(inp, ' ' ORDER BY pos), '') AS input_text,
             coalesce(string_agg(tgt, ' ' ORDER BY pos), '') AS target_text
      FROM p GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(g.n_masked, 0) AS BIGINT) AS n_masked,
           CAST(coalesce(g.n_spans, 0) AS BIGINT) AS n_spans,
           coalesce(g.input_text, '') AS input_text,
           coalesce(g.target_text, '') AS target_text
    FROM t LEFT JOIN g USING (doc_id)
    ORDER BY t.doc_id"""

  /** Mirrors Queries.clusterQualityGate: q52's recursive-CTE cluster
    * closure joined to the exact-integer quality signal; doc_keep =
    * zn ≥ 2·n_tokens (q87's z ≥ 0 in integer form), cluster_keep =
    * no failing member. Counts CAST to BIGINT (the q58 class).
    */
  val clusterQuality: String = s"""
    WITH RECURSIVE $dupClusterCtes,
    $qualitySignalCte,
    k AS (
      SELECT doc_id, n_tokens, coalesce(zn, 0) AS zn,
             coalesce(n_tokens > 0 AND zn >= 2 * n_tokens, FALSE)
               AS doc_keep
      FROM sig),
    j AS (
      SELECT a.doc_id, a.cluster_id, k.n_tokens, k.zn, k.doc_keep
      FROM asg a JOIN k USING (doc_id))
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER w AS BIGINT) AS cluster_size,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(zn AS BIGINT) AS zn,
           doc_keep,
           CAST(sum(CASE WHEN doc_keep THEN 0 ELSE 1 END) OVER w
             AS BIGINT) = 0 AS cluster_keep
    FROM j
    WINDOW w AS (PARTITION BY cluster_id)
    ORDER BY doc_id"""

  /** All oracles, keyed identically to SparkEntry.queries. */
  val all: Map[String, String] = Map(
    "q01_pricing_summary" -> pricingSummary,
    "q02_filter_project" -> filterProject,
    "q03_join_revenue" -> joinRevenue,
    "q04_left_join_agg" -> leftJoinAgg,
    "q05_semi_anti_join" -> semiAntiJoin,
    "q06_distinct" -> distinctCombos,
    "q07_topk_window" -> topkPerGroup,
    "q08_union_agg" -> unionEntities,
    "q09_minute_agg" -> minuteAgg,
    "q10_bucketing" -> bucketing,
    "q11_validate" -> validateEvents,
    "q12_day_filter" -> dayFilter,
    "q13_mood_flagship" -> moodFlagship,
    "q14_daily_summary" -> dailySummary,
    "q15_classify_news" -> classifyNews,
    "q16_text_stats" -> textStats,
    "q17_lang_id" -> langId,
    "q18_dedup_exact" -> dedupExact,
    "q19_minhash_signatures" -> minhashSignatures,
    "q20_lsh_candidate_pairs" -> lshCandidatePairs,
    "q21_jaccard_pairs" -> jaccardPairs,
    "q22_simhash" -> simhashFingerprints,
    "q23_ann_brute_force" -> annBruteForce,
    "q24_embedding_near_dups" -> embeddingNearDups,
    "q25_multimodal_features" -> multimodalFeatures,
    "q26_streaming_minute_agg" -> minuteAgg,
    "q29_json_extract" -> jsonExtract,
    "q30_sliding_window" -> slidingWindow,
    "q31_sessionize" -> sessionize,
    "q32_distinct_users" -> distinctUsers,
    "q33_rollup_revenue" -> rollupRevenue,
    "q34_pivot_orders" -> pivotOrders,
    "q35_percentiles" -> percentiles,
    // the mapPartitions kernel is bit-equal to the declarative variant
    // (unit-tested) — same oracle
    "q28_multimodal_kernel" -> multimodalFeatures,
    "q36_dedupe_corpus" -> dedupeCorpus,
    "q37_asof_join" -> asofJoin,
    // IVF at full probe is exact — same oracle as brute force; the saved
    // variant serves the same answers from the cell-partitioned table
    "q38_ann_ivf" -> annBruteForce,
    "q47_ann_ivf_saved" -> annBruteForce,
    "q48_doc_fingerprints" -> docFingerprints,
    "q49_hash_sample" -> hashSampleEvents,
    "q50_bpe_tokens" -> bpeTokens,
    "q51_source_mixture" -> sourceMixture,
    // exact columns hash-checked; the sketch-bound column certified as
    // literal TRUE (the in-query 5% assertion is what makes that sound)
    "q39_sketch_profile" -> sketchProfile,
    // in-query certification vs brute force; bounds emitted as literal TRUE
    "q27_ann_lsh" -> annLshCertified,
    "q40_range_join" -> rangeJoinSessions,
    "q41_quality_filter" -> qualityFilter,
    "q42_quantize_embeddings" -> quantizeEmbeddings,
    "q43_cube_orders" -> cubeOrders,
    "q44_running_totals" -> runningTotals,
    "q45_set_ops" -> setOpsCohorts,
    "q46_pack_sequences" -> packSequences,
    "q52_dup_clusters" -> dupClusters,
    "q53_decontaminate" -> decontaminate,
    "q54_pii_scrub" -> piiScrub,
    "q55_vocabulary" -> vocabulary,
    // per-day stats oracle-checked from the source table; single_file is
    // the in-query layout certification (input_file_name() on the
    // rewritten table), pinned as literal TRUE
    "q56_compact_layout" -> compactLayout,
    "q57_merge_upsert" -> mergeUpsert,
    "q58_profile_orders" -> profileOrders,
    // oracles are the UNSALTED equivalents: salting is a physical
    // rewrite and must not change results
    "q59_salted_join" -> saltedJoinQty,
    "q60_salted_agg" -> saltedAggValues,
    "q61_cdc_apply" -> cdcApply,
    "q62_cdc_deletes" -> cdcDeletes,
    "q63_cdc_partitioned" -> cdcPartitioned,
    "q64_incremental_dedup" -> incrementalDedup,
    "q65_chunk_docs" -> chunkDocs,
    "q66_tfidf_topk" -> tfidfTopK,
    "q67_incremental_near_dedup" -> incrementalNearDedup,
    // q68 shares q64's oracle BY DESIGN: the streaming epoch protocol
    // (segment-per-batch-id, replay re-derivation, newest-segment-
    // sparing compaction) must be invisible against the same global
    // min-id-per-fingerprint replay the batch loop is held to.
    "q68_streaming_dedup" -> incrementalDedup,
    "q69_repetition_signals" -> repetitionSignals,
    "q70_semantic_dedup" -> semanticDedup,
    "q71_zorder_key" -> zorderEvents,
    "q72_streaming_near_dedup" -> streamingNearDedup,
    "q73_incremental_agg" -> incrementalAgg,
    // q74 shares q64's oracle BY DESIGN: the bloom prefilter is sound
    // (a negative probe proves store absence, positives are re-checked
    // by the exact anti-join), so the sketch must be bit-invisible
    // against the same global min-id-per-fingerprint replay.
    "q74_bloom_dedup" -> incrementalDedup,
    // q75 shares the brute-force ANN oracle (as q38/q47): a full-probe
    // query over the appended index must be exact over base ∪ deltas.
    "q75_ann_ivf_append" -> annBruteForce,
    // q76 = q67's oracle (bloom prefilter bit-invisible, as q74 vs q64);
    // q77 = q53's oracle (incremental suite registration must equal one
    // global decontamination against the suites' union).
    "q76_bloom_near_dedup" -> incrementalNearDedup,
    "q77_incr_decontaminate" -> decontaminate,
    "q78_phrase_search" -> phraseSearch,
    "q79_bm25_topk" -> bm25TopK,
    // q80 shares q79's oracle: disjoint postings segments are
    // score-invisible (tf/dl per-doc intrinsic, df additive).
    "q80_incr_bm25" -> bm25TopK,
    "q81_cdc_diff" -> cdcDiff,
    "q82_incr_profile" -> incrementalProfile,
    "q83_curation_funnel" -> curationFunnel,
    "q84_dup_spans" -> dupSpans,
    "q85_bpe_merge_stats" -> bpeMergeStats,
    "q86_kmeans_step" -> kmeansStep,
    "q87_quality_model" -> qualityModel,
    "q88_strip_spans" -> stripSpans,
    "q89_incr_dup_spans" -> incrementalDupSpans,
    "q90_bpe_train" -> bpeTrain,
    "q91_kmeans_train" -> kmeansTrainGate,
    "q92_incr_strip_spans" -> incrementalStripSpans,
    "q93_bpe_encode" -> bpeEncode,
    "q94_ann_quantized" -> annQuantizedRescore,
    "q95_quality_percentile" -> qualityPercentileGate,
    "q96_token_budget" -> tokenBudgetMixture,
    "q97_canonical_docs" -> canonicalDocs,
    "q98_heavy_hitters" -> heavyHitters,
    "q99_lm_coverage" -> lmCoverage,
    "q100_semantic_decon" -> semanticDecon,
    "q101_bm25_deletes" -> bm25WithDeletes,
    "q102_stream_token_budget" -> streamingTokenBudget,
    "q103_stratified_sample" -> stratifiedSample,
    "q104_curriculum_order" -> curriculumOrder,
    "q105_mixture_reweight" -> mixtureReweight,
    "q106_leakage_audit" -> leakageAudit,
    "q107_ann_ivf_deletes" -> annIvfDeletes,
    "q108_data_card" -> dataCard,
    "q109_hybrid_search" -> hybridSearch,
    "q110_simhash_near_dups" -> simhashNearDupPairs,
    "q111_rag_pipeline" -> ragPipeline,
    "q112_funnel" -> funnel,
    "q113_retention_cohorts" -> retentionCohorts,
    "q114_ab_stats" -> abStats,
    "q115_anomaly_flags" -> anomalyFlags,
    "q116_collocations" -> collocations,
    "q117_dup_histogram" -> dupClusterHistogram,
    "q118_pq_adc" -> PqOracle.pqAdc,
    // full-probe IVF-PQ is exactly plain ADC — cell machinery must be
    // invisible in the result, so the oracle is q118's verbatim (the
    // q38/q47 reuse discipline)
    "q119_ivf_pq" -> PqOracle.pqAdc,
    "q123_pq_trained" -> PqOracle.pqAdcTrained,
    "q124_allpairs_jaccard" -> allPairsJaccard,
    "q125_hard_negatives" -> hardNegatives,
    "q126_token_shards" -> tokenShards,
    "q127_token_drift" -> tokenDrift,
    "q128_leakage_safe_split" -> leakageSafeSplit,
    "q129_cluster_store" -> clusterStore,
    "q130_stream_drift" -> streamDrift,
    // q131/q132: fused-backfill ingest is row- AND store-identical to
    // the sequential loop (BackfillSpanSpec), so the oracles are
    // q89/q92's verbatim — the q38/q47 reuse discipline
    "q131_backfill_dup_spans" -> incrementalDupSpans,
    "q132_backfill_strip_spans" -> incrementalStripSpans,
    "q120_weighted_sample" -> weightedSample,
    "q121_dup_pagerank" -> dupPagerank,
    "q122_mmr_rerank" -> mmrRerank,
    "q133_centroid_outliers" -> centroidOutliers,
    "q134_length_buckets" -> lengthBuckets,
    "q135_domain_caps" -> domainCaps,
    "q136_perplexity_filter" -> perplexityFilter,
    "q137_epoch_shuffle" -> epochShuffle,
    "q138_temperature_mixture" -> temperatureMixture,
    "q139_vocab_encode" -> vocabEncode,
    "q140_contrastive_triplets" -> contrastiveTriplets,
    "q141_stream_quality" -> streamQuality,
    "q142_span_corruption" -> spanCorruption,
    "q143_cluster_quality" -> clusterQuality,
    // q144 runs q129's corpus through the fused backfill; the stores are
    // spec-asserted identical, so the oracle is identical too
    "q144_cluster_backfill" -> clusterStore,
    "q145_html_extract" -> htmlExtract,
    "q146_url_canonical" -> urlCanon,
    "q147_lang_model" -> langModel,
    "q148_boilerplate" -> boilerplate,
    "q149_link_graph" -> linkGraph,
    "q150_wet_roundtrip" -> wetRoundTrip,
    "q151_curation_pipeline" -> curation,
    "q152_psl_domains" -> pslDomains,
    "q153_curation_chain" -> curationChain,
    "q154_domain_rank" -> domainRank,
    "q155_psl_domain_caps" -> pslDomainCaps,
    "q156_anchor_text" -> anchorText,
    "q157_meta_robots" -> metaRobots,
    "q158_domain_rank_weighted" -> domainRankWeighted,
    "q159_robots_verdicts" -> robotsVerdicts,
    "q160_canonical_keys" -> canonicalKeys,
    "q161_redirect_chains" -> redirectChains,
    "q162_sitemap_urls" -> sitemapUrls,
    "q163_containment_pairs" -> containmentPairs,
    "q164_char_entropy" -> charEntropy,
    "q165_crawl_frontier" -> crawlFrontier,
    "q166_polite_frontier" -> politeFrontier,
    "q167_mojibake" -> mojibake,
    "q168_published_dates" -> publishedDates,
    "q169_discovery_funnel" -> discoveryFunnel,
    "q170_sitemap_diff" -> sitemapDiff,
    "q171_pagination_series" -> paginationSeries,
    "q172_hreflang_clusters" -> hreflangClusters,
    "q173_warc_http" -> warcHttp,
    "q174_robots_sitemaps" -> robotsSitemaps,
    "q175_wordfilter" -> wordfilter,
    "q176_politeness_audit" -> politenessAudit,
    "q177_retry_schedule" -> retrySchedule,
    "q178_sitemap_index" -> sitemapIndex,
    "q179_url_templates" -> urlTemplates,
    "q180_param_audit" -> paramAudit,
    "q181_salsa_scores" -> salsaScores,
    "q182_crawl_loop" -> crawlLoop,
    "q183_ann_recall" -> annRecall,
    "q184_deflate_ratio" -> deflateRatio,
    "q185_recrawl_policy" -> recrawlPolicy,
    "q186_source_overlap" -> sourceOverlap,
    "q187_feed_entries" -> feedEntries,
    "q188_budget_allocation" -> budgetAllocate,
    "q189_stream_frontier" -> streamFrontier,
    "q190_stream_curation" -> streamCuration,
    "q191_stream_curation_restart" -> streamCurationRestart)
}

/** Holder split out so the oracle text initializes before
  * [[Oracles.all]] captures it (object init is lazy per-object;
  * appending the val after the map inside Oracles would capture null).
  */
private object PqOracle {
  /** Mirrors Queries.pqAdc: PQ encode (axis-unit codebooks e_{2j} per
    * 16-dim subspace, so `‖c‖² = 1` and `⟨x,c⟩ = x[2j+1]` exactly) and
    * the ADC scan. Subspace distances use the identical
    * `‖x‖² − 2⟨x,c⟩ + ‖c‖²` decomposition and 6-dp rounds as the Spark
    * operator; the final total adds the four already-rounded table
    * entries left-to-right (`+` chain, the same IEEE order as the
    * operator's fold) with `+ 0.0` normalizing a −0.0 total.
    */
  val pqAdc: String = """
    WITH sub AS (
      SELECT vec_id, m,
             list_sum(list_transform(embedding[m*16+1 : m*16+16],
                                     x -> x*x)) AS ss,
             embedding AS v
      FROM embeddings, range(4) t(m)),
    d2 AS (
      SELECT vec_id, m, j,
             round(ss - 2*v[m*16 + 2*j + 1] + 1.0, 6) AS d
      FROM sub, range(8) t2(j)),
    codes AS (
      SELECT vec_id, m, j AS code
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d, j) AS rn
            FROM d2)
      WHERE rn = 1),
    pairs AS (
      SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id, qd.m, qd.d
      FROM codes c
      JOIN d2 qd ON qd.m = c.m AND qd.j = c.code
      WHERE qd.vec_id < 10 AND qd.vec_id <> c.vec_id),
    adc AS (
      SELECT query_id, neighbor_id,
             round(max(CASE WHEN m=0 THEN d END)
                 + max(CASE WHEN m=1 THEN d END)
                 + max(CASE WHEN m=2 THEN d END)
                 + max(CASE WHEN m=3 THEN d END), 6) + 0.0 AS approx_dist2
      FROM pairs GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, neighbor_id, approx_dist2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_dist2 ASC,
                                         neighbor_id ASC) AS rank
      FROM adc)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, approx_dist2
    FROM ranked WHERE rank <= 8
    ORDER BY query_id, rank"""

  /** Mirrors Queries.pqAdcTrained / Similarity.pqTrain: two chained L2
    * Lloyd iterations per subspace from the q118 axis-unit seeds —
    * each round rebuilds codeword LISTS from the previous round's
    * (m, j, d, c) table, assigns every subvector by the 6-dp-rounded
    * `‖x‖² − 2⟨x,c⟩ + ‖c‖²` argmin (ties to the smaller j — the
    * encoder's own rule), updates means through exact DECIMAL(38,12)
    * sums with one double division and the `round(·,6) + 0.0`
    * normalization, and carries starved codewords forward — then the
    * q118 encode + ADC serving replay against the TRAINED books.
    * `list_dot_product` / `list_sum` accumulate left-to-right, the
    * same IEEE order as the Spark operator's ArrayDot fold.
    */
  val pqAdcTrained: String = {
    def iteration(i: Int) = s"""
    cl${i - 1} AS (
      SELECT m, j, list(c ORDER BY d) AS ctr FROM cb${i - 1} GROUP BY m, j),
    cls${i - 1} AS (
      SELECT m, j, ctr, list_sum(list_transform(ctr, e -> e*e)) AS ssc
      FROM cl${i - 1}),
    cand$i AS (
      SELECT s.vec_id, s.m, c.j,
             round(s.ss - 2*list_dot_product(s.x, c.ctr) + c.ssc, 6) AS dd
      FROM sub s JOIN cls${i - 1} c USING (m)),
    asg$i AS (
      SELECT vec_id, m, j
      FROM (SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dd, j) AS rk
            FROM cand$i)
      WHERE rk = 1),
    n$i AS (SELECT m, j, count(*) AS n_vecs FROM asg$i GROUP BY 1, 2),
    sums$i AS (
      SELECT a.m, a.j, d, sum(CAST(s.x[d] AS DECIMAL(38,12))) AS sx
      FROM asg$i a JOIN sub s USING (vec_id, m),
           (SELECT unnest(generate_series(1, 16)) AS d) ds
      GROUP BY 1, 2, 3),
    newc$i AS (
      SELECT su.m, su.j, su.d,
             round(CAST(su.sx AS DOUBLE) / n.n_vecs, 6) + 0.0 AS c
      FROM sums$i su JOIN n$i n USING (m, j)),
    cb$i AS (
      SELECT m, j, d, c FROM newc$i
      UNION ALL
      SELECT p.m, p.j, p.d, p.c FROM cb${i - 1} p
      WHERE NOT EXISTS (SELECT 1 FROM newc$i x
                        WHERE x.m = p.m AND x.j = p.j))"""
    s"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
      SELECT vec_id, m, v[m*16+1 : m*16+16] AS x,
             list_sum(list_transform(v[m*16+1 : m*16+16], e -> e*e)) AS ss
      FROM v, range(4) t(m)),
    cb0 AS (
      SELECT m, j, d,
             CASE WHEN d = 2*j + 1 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS c
      FROM range(4) t(m), range(8) t2(j),
           (SELECT unnest(generate_series(1, 16)) AS d) ds),
    ${(1 to 2).map(iteration).mkString(",")},
    cl2 AS (
      SELECT m, j, list(c ORDER BY d) AS ctr FROM cb2 GROUP BY m, j),
    cls2 AS (
      SELECT m, j, ctr, list_sum(list_transform(ctr, e -> e*e)) AS ssc
      FROM cl2),
    d2 AS (
      SELECT s.vec_id, s.m, c.j,
             round(s.ss - 2*list_dot_product(s.x, c.ctr) + c.ssc, 6) AS d
      FROM sub s JOIN cls2 c USING (m)),
    codes AS (
      SELECT vec_id, m, j AS code
      FROM (SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d, j) AS rn
            FROM d2)
      WHERE rn = 1),
    pairs AS (
      SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id, qd.m, qd.d
      FROM codes c
      JOIN d2 qd ON qd.m = c.m AND qd.j = c.code
      WHERE qd.vec_id < 10 AND qd.vec_id <> c.vec_id),
    adc AS (
      SELECT query_id, neighbor_id,
             round(max(CASE WHEN m=0 THEN d END)
                 + max(CASE WHEN m=1 THEN d END)
                 + max(CASE WHEN m=2 THEN d END)
                 + max(CASE WHEN m=3 THEN d END), 6) + 0.0 AS approx_dist2
      FROM pairs GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, neighbor_id, approx_dist2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_dist2 ASC,
                                         neighbor_id ASC) AS rank
      FROM adc)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, approx_dist2
    FROM ranked WHERE rank <= 8
    ORDER BY query_id, rank"""
  }
}
