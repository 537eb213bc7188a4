package graft

import org.apache.spark.sql.functions._

import graft.operators.Redirects

/** [[graft.operators.Redirects.resolve]]: pointer-doubling chain
  * resolution on hand-built maps covering every shape the semantics
  * promise — plain chains (including length exactly 2^K and 2^K + 1),
  * cycles, self-loops, feeders INTO cycles, and a brute-force walk
  * cross-check on a pseudo-random functional map.
  */
class RedirectsSpec extends SparkSpec {
  import spark.implicits._

  private def resolve(edges: Seq[(Long, Long)], doublings: Int = 3) =
    Redirects.resolve(edges.toDF("src", "dst"), "src", "dst", doublings)
      .collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (if (r.isNullAt(2)) None else Some(r.getLong(2))),
          r.getBoolean(3)))
      .toMap

  test("plain chain resolves with exact hop counts") {
    val m = resolve(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L))
    assert(m(1L) === ((Some(4L), Some(3L), false)))
    assert(m(2L) === ((Some(4L), Some(2L), false)))
    assert(m(3L) === ((Some(4L), Some(1L), false)))
  }

  test("chain of exactly 2^K hops resolves; 2^K + 1 does not") {
    // 0→1→…→8: the walk from 0 is exactly 8 hops with doublings = 3.
    val edges = (0L until 8L).map(i => i -> (i + 1))
    val m = resolve(edges)
    assert(m(0L) === ((Some(8L), Some(8L), false)))
    val longer = (0L until 9L).map(i => i -> (i + 1))
    val m2 = resolve(longer)
    assert(m2(0L) === ((None, None, true)))
    assert(m2(1L) === ((Some(9L), Some(8L), false)))
  }

  test("cycles, self-loops and feeders into cycles flag unresolved") {
    val m = resolve(Seq(
      10L -> 11L, 11L -> 10L, // two-cycle
      20L -> 20L,             // self-loop
      30L -> 31L, 31L -> 10L, // feeder into the two-cycle
      40L -> 41L))            // control: plain one-hop
    assert(m(10L)._3 && m(11L)._3 && m(20L)._3 && m(30L)._3 && m(31L)._3)
    assert(m(40L) === ((Some(41L), Some(1L), false)))
  }

  test("matches brute-force walk on a pseudo-random functional map") {
    // dst = (src * 37 + 11) % 97 over srcs 0..96 minus a terminal set:
    // deterministic, dense in cycles and feeders.
    val f = (s: Long) => (s * 37 + 11) % 97
    val srcs = (0L until 97L).filterNot(s => f(s) % 7 == 0)
    val edges = srcs.map(s => s -> f(s))
    val byScala: Map[Long, (Option[Long], Option[Long], Boolean)] = {
      val emap = edges.toMap
      srcs.map { s =>
        var cur = s; var hops = 0L; var ok = false
        while (hops < 8 && !ok) {
          emap.get(cur) match {
            case Some(n) => cur = n; hops += 1
            case None => ok = true
          }
        }
        if (!ok && !emap.contains(cur)) ok = true
        s -> (if (ok) (Some(cur), Some(hops), false)
              else (None, None, true))
      }.toMap
    }
    assert(resolve(edges) === byScala)
  }

  test("NULL endpoints are not edges: dropped, contract intact") {
    val edges = Seq((1L, java.lang.Long.valueOf(2L)),
      (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("src", "dst")
    val got = Redirects.resolve(edges, "src", "dst").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    // src 3 has no real edge → absent; src 1 unaffected
    assert(got === Map(1L -> ((2L, false))))
  }

  test("doublings = 0 resolves only one-hop walks") {
    val m = resolve(Seq(1L -> 2L, 2L -> 3L), doublings = 0)
    assert(m(2L) === ((Some(3L), Some(1L), false)))
    assert(m(1L) === ((None, None, true)))
  }
}
