package graft

import org.scalacheck.Gen

import graft.operators.Cluster

/** Connected components (alternating large-star/small-star) — checked
  * against a driver-side union-find on hand-shaped and random graphs.
  * The chain case matters most: it is exactly the shape where naive
  * min-label propagation needs O(n) rounds and the star algorithm's
  * O(log² n) bound pays off.
  */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponents(edges.toDF("s", "d"), "s", "d")
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize: every node labeled by its component's minimum
    val byRoot = parent.keys.groupBy(find)
    byRoot.flatMap { case (_, ns) =>
      val m = ns.min
      ns.map(_ -> m)
    }.toMap
  }

  test("two components plus a duplicate edge and a reversed edge") {
    val edges = Seq((3L, 1L), (1L, 3L), (3L, 5L), (10L, 20L), (20L, 10L))
    assert(run(edges) == Map(1L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 10L, 20L -> 10L))
  }

  test("a 60-node chain converges (diameter >> round count)") {
    val edges = (0L until 59L).map(i => (i + 1, i))
    val got = run(edges)
    assert(got.size == 60 && got.values.forall(_ == 0L))
  }

  test("empty edge set yields empty labels") {
    assert(run(Seq.empty) == Map.empty)
  }

  test("random graphs match driver-side union-find (randomized rounds)") {
    val edgeGen = Gen.listOfN(80,
      Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L)))
    val seed = org.scalacheck.rng.Seed(7L)
    val datasets = Gen.listOfN(5, edgeGen)
      .apply(Gen.Parameters.default, seed).getOrElse(Nil)
    assert(datasets.nonEmpty)
    datasets.foreach { edges =>
      val real = edges.filter { case (a, b) => a != b }
      assert(run(real) == unionFind(real))
    }
  }

  test("distributed star rounds == local-finish fast path (randomized graphs)") {
    // the size-gated local union-find must be label-identical to the
    // iterated large-star/small-star fixpoint — including self-loop
    // singletons and chain shapes the local path must not mis-label
    val edgeGen = Gen.listOfN(120,
      Gen.zip(Gen.choose(0L, 49L), Gen.choose(0L, 49L)))
    val seed = org.scalacheck.rng.Seed(42L)
    val datasets = Gen.listOfN(4, edgeGen)
      .apply(Gen.Parameters.default, seed).getOrElse(Nil)
    assert(datasets.nonEmpty)
    (datasets :+ (0L until 59L).map(i => (i + 1, i)).toList)
      .foreach { edges =>
        def labels(localGate: Long) = Cluster.connectedComponents(
            edges.toDF("s", "d"), "s", "d",
            localFinishEdges = localGate)
          .collect()
          .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
          .toMap
        assert(labels(500000L) == labels(0L)) // fast path == distributed
      }
  }

  test("staged variant (parquet rounds) matches the checkpoint variant") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 9L))
    val got = Cluster.connectedComponents(edges.toDF("s", "d"), "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 9's only edge is a self-loop: still labeled (as a singleton)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      9L -> 9L))
  }

  test("a node with both a self-loop and a real edge is labeled exactly once") {
    val got = Cluster.connectedComponents(
      Seq((5L, 5L), (3L, 5L)).toDF("s", "d"), "s", "d").collect()
    assert(got.length == 2)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(3L -> 3L, 5L -> 3L))
  }

  test("pagerankInt: matches a hand-computed 2-node replay; hub dominates a star") {
    // undirected pair {1,2}: N=2, every iteration is a fixed point of
    // base + (850 * (pr div 1)) div 1000 starting from scale/2
    val S = 1000000000000L
    val pair = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val got = Cluster.pagerankInt(pair, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    var p = S / 2
    val base = (150L * (S / 2)) / 1000L
    for (_ <- 1 to 3) p = base + (850L * p) / 1000L
    assert(got == Map(1L -> ((1L, p)), 2L -> ((1L, p))))

    // star 0–{1..6}: the hub must outrank every leaf, and total mass
    // stays within truncation loss of the scale
    val star = (1L to 6L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("s", "d")
    val pr = Cluster.pagerankInt(star, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1L to 6L).forall(i => pr(0L) > pr(i)))
    val total = pr.values.sum
    assert(total <= S && total > S - 10000L, s"mass drifted: $total")

    // layout-independent: identical bit pattern after repartition
    val re = Cluster.pagerankInt(star.repartition(5), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(re == pr)
  }

  test("salsaInt: fixed point on the co-citation pair; sinks/sources NULL-sided") {
    import spark.implicits._
    // a→c, b→c: hub mass splits scale/2 each; auth(c) = scale
    // (conserved); hub' = auth(c) div indeg(c) = scale/2 — a fixed
    // point, so every iteration count returns the same exact integers
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("u", "v")
    for (it <- Seq(1, 3)) {
      val got = graft.operators.Cluster
        .salsaInt(edges, "u", "v", iters = it, scale = 1000000L)
        .collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))))
        .toMap
      assert(got === Map(
        1L -> ((Some(500000L), None)), // pure source: no auth
        2L -> ((Some(500000L), None)),
        3L -> ((None, Some(1000000L))))) // pure sink: no hub
    }
  }

  test("salsaInt: the planted hub and authority dominate their sides") {
    import spark.implicits._
    val us = Seq(0, 1, 2, 3, 4, 5, 6, 0, 1, 4, 5, 5).map(_.toLong)
    val vs = Seq(1, 2, 3, 4, 5, 6, 0, 3, 3, 3, 0, 2).map(_.toLong)
    val edges = us.zip(vs).toDF("u", "v")
    val got = graft.operators.Cluster
      .salsaInt(edges, "u", "v", iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // node 3 (cited by 0,1,2,4) is the top authority; node 5 (three
    // outlinks) is the top hub
    assert(got(3L)._2 === got.values.map(_._2).max)
    assert(got(5L)._1 === got.values.map(_._1).max)
  }

  test("pagerankInt: plan size flat in iteration count; 20-iter replay exact; staged seam identical") {
    val S = 1000000000000L
    val pair = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    def planNodes(df: org.apache.spark.sql.DataFrame): Int = {
      var c = 0
      df.queryExecution.analyzed.foreach(_ => c += 1)
      c
    }
    // per-round materialization means iteration i+1 plans over a frozen
    // scan of round i, never over round i's whole join chain — the final
    // plan must not grow with the iteration count
    val p2 = Cluster.pagerankInt(pair, "s", "d", iters = 2)
    val p20 = Cluster.pagerankInt(pair, "s", "d", iters = 20)
    assert(planNodes(p20) == planNodes(p2),
      s"plan grew with iters: ${planNodes(p2)} -> ${planNodes(p20)}")
    // and the deep run still replays the scalar recurrence bit-exactly
    var p = S / 2
    val base = (150L * (S / 2)) / 1000L
    for (_ <- 1 to 20) p = base + (850L * p) / 1000L
    val got = p20.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> p, 2L -> p))
  }
}
