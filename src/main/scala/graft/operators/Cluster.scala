package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph clustering — the finishing step of near-dup
  * deduplication: LSH/Jaccard emits candidate PAIRS, but a duplicate
  * GROUP is the connected component those pairs span (a~b, b~c ⇒
  * {a,b,c} is one cluster even when a~c was never emitted).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges
  * in O(log² n) rounds REGARDLESS of component diameter. That is the
  * property that matters at 100 TB: the naive min-label propagation
  * loop needs O(diameter) rounds and dies on chain-shaped duplicate
  * graphs (a₁~a₂~…~aₖ), which template-heavy web corpora produce.
  * Each round is a constant number of shuffles over the CURRENT edge
  * set (which only shrinks toward star graphs), and every round's
  * output is eagerly materialized so the iterative lineage never
  * stacks.
  */
object Cluster {

  /** One large-star round: every node connects its strictly-larger
    * neighbors to the smallest node of its neighborhood (including
    * itself). Edges kept canonical (a < b); the emitted (m, v) pair
    * needs no reorder since m ≤ u < v. Output is NOT deduped — the
    * algorithm is insensitive to duplicate edges (min aggregation and
    * connectivity both are), and the following small-star step ends in
    * the round's single distinct, so deduping here would only buy an
    * extra shuffle.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val m = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** One small-star round: orient every edge from its larger to its
    * smaller endpoint, then every node connects all its (smaller)
    * neighbors — and itself — to the smallest of them.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val m = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    val nbr = dir.join(m, "u").select(col("m").as("a"), col("v").as("b"))
    val self = m.select(col("m").as("a"), col("u").as("b"))
    nbr.unionByName(self)
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Connected components of the undirected graph given by
    * (`srcCol`, `dstCol`) pairs. Returns one row per node that appears
    * in `edges` — (node, component), component = the smallest node id
    * of its component. Nodes with no edges are the caller's to label
    * (left-join + coalesce to self — see Queries.dupClusters), so the
    * full vertex set never rides through the iteration.
    *
    * Materialization: each round's edge set is localCheckpoint'ed
    * (lazily: the round's signature aggregate materializes it).
    * Convergence is detected exactly (count + except on the
    * materialized frames — by then the edge set is stars, a sliver of
    * the input), bounded by `maxRounds` as a safety net at ~2 log₂ n.
    *
    * @param localFinishEdges size gate for the LOCAL FINISH fast path:
    *   when the canonicalized edge set is no larger than this (counted
    *   by the same aggregate that seeds convergence detection — no
    *   extra job) AND both node columns are BIGINT, the components are
    *   computed with a driver-side union-find over the collected edges
    *   instead of iterated star rounds. This is the standard hybrid
    *   every production CC runs (finish small graphs locally — each
    *   distributed round costs a fixed scheduler/shuffle overhead that
    *   dwarfs the actual work once the edge set fits in memory): the
    *   collect is BOUNDED BY THE GATE (default 500k edges ≈ 8 MB),
    *   labels are identical (min node id per component), and larger
    *   graphs take the O(log² n) distributed path unchanged. Pass 0 to
    *   force the distributed path.
    * @param noSelfLoops caller's guarantee that `edges` contains no
    *   a == b row (LSH pair emitters produce strictly a < b; the
    *   ClusterStore contraction filters them). When true, the
    *   self-loop-singleton branch — a filter + distinct + anti-join
    *   subplan that is provably EMPTY but still materializes ~4 AQE
    *   stages per consuming action, because Catalyst cannot prune it
    *   statically — is skipped entirely. Results are byte-identical;
    *   this is a pure job-count cut (r17 verdict #3).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 25,
      localFinishEdges: Long = 500000L,
      noSelfLoops: Boolean = false): DataFrame = {
    val s = edges.sparkSession
    val raw = edges.select(
      least(col(srcCol), col(dstCol)).as("a"),
      greatest(col(srcCol), col(dstCol)).as("b"))
    val canon = (if (noSelfLoops) raw
      else raw.filter(col("a") =!= col("b")))
      .distinct()
    // self-loops carry no connectivity but their node DID appear in
    // `edges` — honor the contract by emitting it as a singleton
    // (unless a real edge also covers the node, which would label it
    // twice) rather than silently dropping it with the loop edge.
    // Skipped under the caller's noSelfLoops guarantee: the branch is
    // then provably empty but not statically prunable, and it rides
    // into EVERY action consuming the result (~4 stages each).
    def selfLoopSingletons: DataFrame = {
      val connectedNodes = canon.select(col("a").as("node"))
        .unionByName(canon.select(col("b").as("node")))
      raw.filter(col("a") === col("b"))
        .select(col("a").as("node")).distinct()
        .join(connectedNodes, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("component"))
    }
    def withSingletons(labeled: DataFrame): DataFrame =
      if (noSelfLoops) labeled else labeled.unionByName(selfLoopSingletons)
    // one aggregate job per round: count + order-independent checksum
    // (XOR of row hashes — overflow-free under ANSI, and the frames are
    // distinct so set and multiset semantics coincide). Only when the
    // signature repeats do we pay the exact exceptAll confirmation —
    // i.e. exactly once, at the true fixpoint.
    def signature(df: DataFrame, round: Int): (Long, Long) = {
      val r = graft.util.Described(s, s"cc:sig:r$round")(
        df.agg(count(lit(1)),
          expr("bit_xor(xxhash64(a, b))")).head())
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // LAZY local checkpoint: each round's checkpoint is immediately
    // followed by signature()'s aggregate, so marking the frame and
    // letting that aggregate be the materializing job halves the action
    // count per round (eager checkpoint + signature = 2 driver actions;
    // lazy + signature = 1) — lineage still truncates at first
    // materialization, so the per-round plan-blowup the checkpoint
    // exists to stop is unchanged.
    var cur = canon.localCheckpoint(false)
    val longCols = Seq(srcCol, dstCol).forall(c =>
      edges.schema(c).dataType == org.apache.spark.sql.types.LongType)
    // LOCAL-FINISH gate by LIMIT-COLLECT, not a pre-counting aggregate:
    // limit(bound + 1) over the materialized round-0 blocks either
    // returns the ENTIRE edge set (≤ bound rows — exactly what the
    // union-find needs, one job) or proves it too big with bound + 1
    // rows and falls through to the distributed rounds. The old shape
    // paid a signature aggregate AND a full collect; this is one action
    // with driver memory still bounded by the gate (r17 verdict #3).
    val probe: Option[Array[org.apache.spark.sql.Row]] =
      if (longCols && localFinishEdges > 0L) {
        val bound = math.min(localFinishEdges, Int.MaxValue.toLong - 1).toInt
        val head = graft.util.Described(s, "cc:localfinish")(
          cur.limit(bound + 1).collect())
        if (head.length <= bound) Some(head) else None
      } else None
    if (probe.exists(_.nonEmpty)) {
      // LOCAL FINISH: union-find over the (gate-bounded) collected
      // edges; labels = min node id per component, exactly the
      // distributed fixpoint's
      val arr = probe.get.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      arr.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val rows = arr.iterator.flatMap(e => Iterator(e._1, e._2))
        .toArray.distinct.map(n => (n, find(n))).toSeq
      import s.implicits._
      return withSingletons(rows.toDF("node", "component"))
    }
    if (probe.exists(_.isEmpty)) {
      // no edges at all: nothing to label beyond the self-loop
      // singletons (empty under noSelfLoops)
      import s.implicits._
      return withSingletons(
        Seq.empty[(Long, Long)].toDF("node", "component"))
    }
    var curSig = signature(cur, 0)
    var converged = curSig._1 == 0L
    var round = 1
    while (!converged && round <= maxRounds) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextSig = signature(next, round)
      converged = nextSig == curSig &&
        graft.util.Described(s, "cc:confirm")(next.exceptAll(cur).isEmpty)
      cur = next
      curSig = nextSig
      round += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds")
    // fixpoint edge set is a union of stars rooted at each component's
    // minimum: (root=a, child=b)
    withSingletons(
      cur.select(col("b").as("node"), col("a").as("component"))
        .unionByName(cur.select(col("a").as("node"),
          col("a").as("component"))))
      .distinct()
  }

  /** ALL-INTEGER PageRank over a directed edge list — centrality for
    * the duplicate graph (a canonical-election signal: the most-linked
    * member of a near-dup cluster is usually the original) and any
    * other doc/entity graph the curation pipeline builds.
    *
    * Every arithmetic step is 64-bit integer: ranks carry `scale`
    * total mass (default 1e12), the damping split is
    * `pr' = (150·(scale div N)) div 1000 + (850·Σ contrib) div 1000`
    * with `contrib(v) = pr(v) div deg(v)` — the truncation POINTS are
    * part of the contract, so any engine replays the exact bit pattern
    * (the q86/q91 discipline: no float ever computed, no summation-
    * order sensitivity since integer addition commutes exactly).
    *
    * Scale shape: each iteration is one join of the edge list with the
    * |nodes|-sized rank frame plus one destination-keyed sum — two
    * shuffles on node keys, both with map-side partial aggregation; at
    * cluster scale pre-partition edges by `u` (bucketed table) and the
    * join side reuses that partitioning every round. The driver holds
    * nothing but the loop counter. Nodes are the DOMAIN OF THE EDGE
    * LIST (every u of an edge); with an undirected graph materialized
    * as both directions, every node has in- and out-degree ≥ 1, so no
    * dangling-mass redistribution is needed — isolated docs simply
    * don't participate, and a node appearing ONLY as a destination (a
    * sink in a genuinely directed graph) is absent from `deg`, receives
    * no row in the output, and its would-be mass is truncated away
    * (document the restriction, don't hide it; feed both edge
    * directions if every member must be ranked).
    *
    * Materialization: each iteration's rank frame is localCheckpoint'ed
    * (eager) — exactly [[connectedComponents]]' discipline, because the
    * alternative re-plans iteration i's whole join chain inside
    * iteration i+1's plan: harmless at 3 iterations, quadratic analysis
    * cost and a codegen blowup at PageRank's real 20–50.
    */
  def pagerankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "pagerankInt: iters must be >= 1")
    // materialize the EDGES once, not just deg: every iteration joins
    // them, and an unmaterialized lineage re-runs the caller's whole
    // graph construction (link extraction, dedup, distinct) once per
    // round — iters× the build cost for zero benefit (the standard
    // Pregel discipline: the edge list is the loop invariant)
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint(true)
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true) // reused every round; freeze it once
    val n = deg.count()
    require(n > 0, "pagerankInt: empty edge list")
    val base = (150L * (scale / n)) / 1000L
    var pr = deg.select(col("u").as("doc_id"), col("deg"),
      lit(scale / n).as("pr"))
    for (i <- 1 to iters) {
      val sums = e.join(pr, col("u") === col("doc_id"))
        .select(col("v"), expr("pr div deg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      val next = deg.join(sums, col("u") === col("v"))
        .select(col("u").as("doc_id"), col("deg"),
          (lit(base) + expr("(850 * s) div 1000")).as("pr"))
      // the LAST iteration stays lazy: the caller's one action runs the
      // final join over the frozen previous round, so the gate pays no
      // extra materialization job for it
      pr = if (i == iters) next else next.localCheckpoint(true)
    }
    pr
  }

  /** WEIGHTED integer PageRank — [[pagerankInt]] with per-edge weights
    * (the real web-graph shape: a domain cited by 10 000 pages of a
    * neighbor outranks one cited once; distinct-pair edges throw that
    * signal away). Recurrence per iteration:
    * `pr'(v) = base + (850 · Σ_u (pr(u) div wout(u)) · w(u,v)) div 1000`
    * with `wout(u) = Σ_v w(u,v)`.
    *
    * Overflow contract (the reason the contribution is
    * `(pr div wout) · w`, NOT `(pr · w) div wout`): `pr ≈ scale` and a
    * 100 TB crawl's edge weights reach 1e9+, so `pr · w` overflows
    * Long; dividing FIRST bounds every term by `pr` (since
    * `Σ w = wout`, the summed contribution of `u` is ≤ `pr(u)` exactly
    * as in the unweighted form). The truncation point is part of the
    * operator contract — the oracle unrolls the identical expression.
    *
    * Same discipline as [[pagerankInt]]: edges materialized once (loop
    * invariant), per-round localCheckpoint, weights must be
    * ≥ 1 (a zero-weight edge is "no edge" — drop it upstream), sinks
    * without out-edges are truncated (documented restriction).
    */
  def pagerankWeightedInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "pagerankWeightedInt: iters must be >= 1")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
      col(weightCol).cast("long").as("w"))
      .localCheckpoint(true)
    val wout = e.groupBy(col("u")).agg(sum(col("w")).as("wout"))
      .localCheckpoint(eager = true)
    val n = wout.count()
    require(n > 0, "pagerankWeightedInt: empty edge list")
    val base = (150L * (scale / n)) / 1000L
    var pr = wout.select(col("u").as("node"), col("wout"),
      lit(scale / n).as("pr"))
    for (i <- 1 to iters) {
      val sums = e.join(pr, col("u") === col("node"))
        .select(col("v"), (expr("pr div wout") * col("w")).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      val next = wout.join(sums, col("u") === col("v"))
        .select(col("u").as("node"), col("wout"),
          (lit(base) + expr("(850 * s) div 1000")).as("pr"))
      pr = if (i == iters) next else next.localCheckpoint(true)
    }
    pr
  }

  /** Integer SALSA hub/authority scores (Lempel & Moran 2000, the
    * "Stochastic Approach for Link-Structure Analysis") — the
    * mass-splitting formulation of HITS: per sweep,
    * `auth(v) = Σ_{u→v} hub(u) div outdeg(u)` then
    * `hub(u) = Σ_{u→v} auth(v) div indeg(v)`. Splitting by degree
    * (SALSA's random-walk view) is what makes an EXACT integer
    * recurrence possible: mass is conserved (minus documented
    * truncation), so no per-round float normalization — classic HITS'
    * L2 renorm — is ever needed, values stay bounded by `scale`, and a
    * SQL oracle unrolls the identical bit pattern ([[pagerankInt]]'s
    * q86/q91 discipline).
    *
    * Output: one row per node, (node, hub, auth) — `hub` NULL for
    * pure sinks (no outlinks), `auth` NULL for pure sources (no
    * inlinks). Hub mass initializes uniformly over the nodes WITH
    * outlinks (`scale div n_hubs`).
    *
    * Scale shape: per sweep, two edge-list joins with map-side partial
    * sums (the PageRank shape exactly); hub frames checkpointed per
    * round, edges + degrees frozen once as loop invariants.
    */
  def salsaInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "salsaInt: iters must be >= 1")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint(true)
    val outd = e.groupBy(col("u")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val ind = e.groupBy(col("v")).agg(count(lit(1)).as("indeg"))
      .localCheckpoint(true)
    val nh = outd.count()
    require(nh > 0, "salsaInt: empty edge list")
    var hub = outd.select(col("u").as("hn"), col("outdeg"),
      lit(scale / nh).as("hub"))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      val aRaw = e.join(hub, col("u") === col("hn"))
        .select(col("v"), expr("hub div outdeg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("auth"))
      auth = ind.join(aRaw, Seq("v"))
        .select(col("v").as("an"), col("indeg"), col("auth"))
      // the final sweep's auth freezes BEFORE the hub half consumes it,
      // so the caller's one action replays neither half
      if (i == iters) auth = auth.localCheckpoint(true)
      val hRaw = e.join(auth, col("v") === col("an"))
        .select(col("u"), expr("auth div indeg").as("c"))
        .groupBy(col("u")).agg(sum(col("c")).as("hub"))
      val next = outd.join(hRaw, Seq("u"))
        .select(col("u").as("hn"), col("outdeg"), col("hub"))
      hub = if (i == iters) next else next.localCheckpoint(true)
    }
    hub.select(col("hn").as("node"), col("hub"))
      .join(auth.select(col("an").as("node"), col("auth")),
        Seq("node"), "full_outer")
  }
}
