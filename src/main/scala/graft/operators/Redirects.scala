package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HTTP redirect-chain resolution — the crawl-frontier stage that
  * collapses 301/302/meta-refresh/rel=canonical hop chains to their
  * terminal fetch target BEFORE dedup keys are cut (CommonCrawl and
  * every production crawler resolve redirects pre-dedup; a chain left
  * unresolved splits one logical page across N frontier entries).
  *
  * Semantics (the q146 malformed-goes-NULL discipline, extended to
  * graphs): the redirect map is FUNCTIONAL — one outgoing edge per
  * source (a crawler records one Location per fetch). For every source
  * in the map, follow edges until a node with no outgoing edge
  * (terminal) is reached. A walk that has not terminated within
  * `maxHops = 2^doublings` steps — a cycle, a self-loop, a feeder into
  * a cycle, or a genuinely longer-than-budget chain (crawlers cap
  * redirect depth the same way; curl's default is 50) — reports
  * `unresolved = true` with NULL terminal and NULL hops.
  *
  * Algorithm: POINTER DOUBLING, not per-hop iteration. `jump` maps
  * `u → (v, s)`: from `u`, following `s` steps, you reach `v`, where
  * either `s = 2^k` or `v` is terminal. Each round self-joins `jump`
  * with itself to compose `2^k`-step walks into `2^(k+1)`-step walks;
  * entries that already ended on a terminal pass through unchanged
  * (the anti-join side of the composition). After `doublings` rounds a
  * single lookup resolves every source.
  *
  * Scale shape: `doublings` (= log2 maxHops, so 5–6 in production)
  * key-partitioned self-joins over the EDGE set — never the corpus,
  * and never O(chain-length) rounds. Each round's result is
  * `localCheckpoint`ed so the plan stays linear instead of doubling in
  * depth per round. Redirect maps are crawl-log-sized; at 100 TB of
  * page content the edge set is orders of magnitude smaller and each
  * round is one modest exchange.
  */
object Redirects {

  /** Resolve every source of a functional redirect map.
    *
    * @param edges     one row per redirect: (srcCol, dstCol). Sources
    *                  MUST be unique (functional map); duplicate
    *                  sources make the walk ambiguous and the result
    *                  undefined.
    * @param doublings composition rounds; resolves chains up to
    *                  2^doublings hops.
    * @return (src, terminal, hops, unresolved) — one row per distinct
    *         source; terminal/hops NULL and unresolved=true for walks
    *         still mid-chain after 2^doublings steps.
    */
  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
              doublings: Int = 3): DataFrame = {
    require(doublings >= 0 && doublings <= 16,
      s"doublings must be in [0,16], got $doublings")
    // a NULL endpoint is not an edge (a 301 whose Location header was
    // missing): dropped here, so its source simply never appears in
    // the output — the terminal/hops-NULL-iff-unresolved contract
    // stays intact
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

    // jump(u) = (v, s): v reached from u in s steps; s = 2^k or v terminal.
    var jump = e.select(col("src").as("u"), col("dst").as("v"),
      lit(1L).as("s"))
    var k = 0
    while (k < doublings) {
      // Compose: extend entries whose v still has an outgoing walk of
      // its own; entries ending on a terminal (no jump row for v) pass
      // through via the left join's null side.
      val next = jump.as("a")
        .join(jump.select(col("u").as("bu"), col("v").as("bv"),
          col("s").as("bs")), col("a.v") === col("bu"), "left")
        .select(col("a.u").as("u"),
          coalesce(col("bv"), col("a.v")).as("v"),
          (col("a.s") + coalesce(col("bs"), lit(0L))).as("s"))
      jump = next.localCheckpoint(true)
      k += 1
    }

    // A source is resolved iff its walk endpoint has no outgoing edge.
    val srcs = e.select(col("src").as("__s")).distinct()
    jump
      .join(srcs.select(col("__s").as("__t")),
        col("v") === col("__t"), "left")
      .select(col("u").as("src"),
        when(col("__t").isNull, col("v")).as("terminal"),
        when(col("__t").isNull, col("s")).as("hops"),
        col("__t").isNotNull.as("unresolved"))
  }
}
