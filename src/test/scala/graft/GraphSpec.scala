package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

/** PageRank semantics against a hand-replayed integer-arithmetic model:
  * the Spark result must match a driver-side Scala replay of the same
  * quantized iteration BIT FOR BIT (the determinism contract the DuckDB
  * oracle relies on), and the induced order must behave like centrality
  * (hubs above leaves; uniform at zero iterations). */
class GraphSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  // star: 0 is the hub of 1,2,3; 4-5 an isolated pair; 6 never appears
  private def edges = {
    val s = spark
    import s.implicits._
    Seq((0L, 1L), (0L, 2L), (0L, 3L), (4L, 5L)).toDF("id_a", "id_b")
  }

  /** Driver-side replay of the exact integer recurrence. */
  private def replay(adj: Map[Long, Seq[Long]], iters: Int,
                     q: Long = Graph.Quantum): Map[Long, Long] = {
    val n = adj.size
    var r = adj.keys.map(_ -> q / n).toMap
    for (_ <- 0 until iters) {
      val tp = (q * 15) / (100L * n)
      val acc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, nbrs) <- adj; v <- nbrs)
        acc(v) += (r(u) * 85 / 100) / nbrs.size
      r = adj.keys.map(k => k -> (tp + acc(k))).toMap
    }
    r
  }

  private val adj = Map(
    0L -> Seq(1L, 2L, 3L), 1L -> Seq(0L), 2L -> Seq(0L), 3L -> Seq(0L),
    4L -> Seq(5L), 5L -> Seq(4L))

  test("pagerank matches the driver-side integer replay bit for bit") {
    val got = Graph.pagerank(edges, iterations = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val want = replay(adj, 5)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L)) // edge-incident only
    got.foreach { case (id, rank, _) => assert(rank == want(id), s"node $id") }
    // degrees are undirected degrees
    assert(got.map(t => t._1 -> t._3).toMap ==
      Map(0L -> 3L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("hub outranks leaves; isolated pair sits between") {
    val r = Graph.pagerank(edges, iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) > r(4L) && r(4L) > r(1L))
    assert(r(1L) == r(2L) && r(2L) == r(3L)) // symmetric leaves tie exactly
    assert(r(4L) == r(5L))
  }

  test("zero iterations = exact uniform start; duplicate/reversed/self edges collapse") {
    val s = spark
    import s.implicits._
    val messy = Seq((0L, 1L), (1L, 0L), (0L, 1L), (2L, 2L), (1L, 2L))
      .toDF("id_a", "id_b")
    val r0 = Graph.pagerank(messy, iterations = 0).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r0.map(_._2).distinct.toSeq == Seq(Graph.Quantum / 3))
    assert(r0.map(t => t._1 -> t._3).toMap == Map(0L -> 1L, 1L -> 2L, 2L -> 1L))
  }

  test("two runs agree exactly (order-independent integer sums)") {
    val a = Graph.pagerank(edges, iterations = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pagerank(edges.repartition(7), iterations = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  // ---- triangles ----------------------------------------------------------

  test("triangles: K4 minus an edge, counts and LCC by hand") {
    val s = spark
    import s.implicits._
    // edges (1,2),(1,3),(2,3),(2,4),(3,4): triangles (1,2,3) and (2,3,4)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val got = Graph.triangles(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1000000L)),      // deg 2, 1 tri, 2·1·1e6/(2·1)
      2L -> ((3L, 2L, 666666L)),       // deg 3, 2 tri, 4e6/6 floored
      3L -> ((3L, 2L, 666666L)),
      4L -> ((2L, 1L, 1000000L))))
  }

  test("triangles: star has none; messy input (dups/reversed/self) collapses") {
    val s = spark
    import s.implicits._
    val star = Seq((0L, 1L), (1L, 0L), (0L, 2L), (0L, 3L), (3L, 3L))
      .toDF("id_a", "id_b")
    val got = Graph.triangles(star).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      0L -> ((3L, 0L, 0L)), 1L -> ((1L, 0L, 0L)),
      2L -> ((1L, 0L, 0L)), 3L -> ((1L, 0L, 0L))))
  }

  test("triangles: a clique is all-1e6 LCC; partition-order invariant") {
    val s = spark
    import s.implicits._
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("id_a", "id_b")
    val a = Graph.triangles(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(a.values.toSet == Set(1000000L))
    val b = Graph.triangles(k4.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(a == b)
  }

  test("labelPropagation: a bridge does NOT merge two dense groups " +
    "(the split CC cannot make); symmetric pair converges, no " +
    "oscillation; partition invariance") {
    val s = spark
    import s.implicits._
    // barbell: K4 {1,2,3,4} — bridge 4-10 — K3 {10,11,12}, plus an
    // isolated pair {20,21} (pure-neighbor LPA oscillates on it forever)
    val barbell = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 10L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val comm = Graph.labelPropagation(barbell, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-traced fixpoint: the K4 keeps label 1, the K3 keeps label 10
    // (the bridge's single cross-vote loses to each side's majority)
    assert(Seq(1L, 2L, 3L, 4L).forall(comm(_) == 1L), comm.toString)
    assert(Seq(10L, 11L, 12L).forall(comm(_) == 10L), comm.toString)
    // CC on the same edges would merge all seven — LPA must not
    assert(comm(4L) != comm(10L))
    // the symmetric pair settles on the min label by the self-vote tie
    assert(comm(20L) == 20L && comm(21L) == 20L)
    val comm2 = Graph.labelPropagation(barbell.repartition(7), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comm == comm2)
  }

  test("bfsHops: min-hop distances from a seed set; hop bound respected; " +
    "isolated seed kept at 0; early-exit fixpoint matches; partition " +
    "invariance") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5, branch 2-6, isolated pair 8-9, seed 7 with no edges
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (8L, 9L)).toDF("id_a", "id_b")
    def seeds(ids: Long*) = ids.toDF("id")
    val got = Graph.bfsHops(es, seeds(1L, 7L), maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 5 is 4 hops out (beyond the bound), 8/9 unreachable — both absent
    assert(got == Map(1L -> 0L, 7L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 2L))
    // a generous bound stops at the true eccentricity (frontier exhausts)
    val full = Graph.bfsHops(es, seeds(1L), maxHops = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 2L, 4L -> 3L,
      5L -> 4L))
    // two seeds: each node takes the MIN distance over seeds
    val multi = Graph.bfsHops(es, seeds(1L, 5L), maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi(3L) == 2L && multi(4L) == 1L && multi(2L) == 1L)
    val rep = Graph.bfsHops(es.repartition(7), seeds(1L, 7L), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rep)
  }

  test("kcore: pendant chain peels round by round, triangle survives, " +
    "star hub peels WITH its leaves, 4-cycle survives 2-core; partition " +
    "invariance") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} with chain 3-4-5 hung off it; star 10→{11,12,13};
    // square 20-21-22-23-20
    val es = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L)).toDF("id_a", "id_b")
    // one round: only degree-1 nodes (5, 11, 12, 13) peel; 4 and the
    // star hub still look safe
    val r1 = Graph.kcore(es, k = 2, rounds = 1).collect()
      .map(r => r.getLong(0)).toSet
    assert(r1 == Set(1L, 2L, 3L, 4L, 10L, 20L, 21L, 22L, 23L))
    // converged: chain gone, star gone entirely (hub's degree collapsed
    // to 0 when its leaves left), triangle and square intact at degree 2
    val r3 = Graph.kcore(es, k = 2, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r3.keySet == Set(1L, 2L, 3L, 20L, 21L, 22L, 23L))
    assert(r3.values.toSet == Set(2L))
    // k=3: nothing in this graph is a 3-core
    assert(Graph.kcore(es, k = 3, rounds = 3).count() == 0L)
    val rep = Graph.kcore(es.repartition(7), k = 2, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r3 == rep)
  }

  test("commonNeighbors: non-adjacent pairs scored by shared-neighbor " +
    "count, adjacency excluded, top-k ties cut by (a, b), duplicate and " +
    "reversed input edges collapse") {
    val s = spark
    import s.implicits._
    // 1-2-3-4 path plus 1-5-3: CN(1,3)={2,5}, CN(2,5)={1,3}, CN(2,4)={3},
    // CN(4,5)={3}; (1,4) shares nothing; adjacent pairs never appear.
    // (2,1) duplicates 1-2 reversed, (3,3) is a self-loop to drop.
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (5L, 3L),
      (2L, 1L), (3L, 3L)).toDF("id_a", "id_b")
    val top3 = Graph.commonNeighbors(es, topK = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(top3 == Seq((1L, 3L, 2L), (2L, 5L, 2L), (2L, 4L, 1L)))
    val all = Graph.commonNeighbors(es, topK = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == Set((1L, 3L, 2L), (2L, 5L, 2L), (2L, 4L, 1L),
      (4L, 5L, 1L)))
    // partitioning-invariant
    val rep = Graph.commonNeighbors(es.repartition(7), topK = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rep == top3)
  }

  test("resourceAllocation: each shared neighbor contributes floor(1e6/deg) " +
    "ppm — a hub center is discounted vs a rare one, adjacency excluded, " +
    "top-k ties cut by (a, b)") {
    val s = spark
    import s.implicits._
    // C4 cycle 1-2-3-4 plus spur 1-5. Degrees: deg(1)=3, deg(2)=deg(3)=
    // deg(4)=2, deg(5)=1. Non-adjacent pairs:
    //  (1,3): centers {2,4}, ra = 500000+500000 = 1000000, common 2
    //  (2,4): centers {1,3}, ra = 333333+500000 = 833333, common 2
    //    — same COMMON count as (1,3), but the hub center 1 discounts it:
    //    exactly the refinement raw counts cannot express
    //  (2,5), (4,5): center {1}, ra = 333333, common 1 — the ppm tie the
    //    (a, b) cut must break deterministically
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 5L))
      .toDF("id_a", "id_b")
    def rows(k: Int) = Graph.resourceAllocation(es, topK = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(rows(10) == Seq(
      (1L, 3L, 1000000L, 2L),
      (2L, 4L, 833333L, 2L),
      (2L, 5L, 333333L, 1L),
      (4L, 5L, 333333L, 1L)))
    assert(rows(3) == Seq(
      (1L, 3L, 1000000L, 2L),
      (2L, 4L, 833333L, 2L),
      (2L, 5L, 333333L, 1L)), "tie at the cut breaks by (a, b)")
  }
}
