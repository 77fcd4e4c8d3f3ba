package graft

import graft.ops.GraphOps
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Independent local simulation of the documented integer recurrence. */
  private def simulate(pairs: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L, dampNum: Long = 85L, dampDen: Long = 100L): Map[Long, Long] = {
    val edges = (pairs.map(p => (p._1, p._2)) ++ pairs.map(p => (p._2, p._1))).distinct
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val base = scale * (dampDen - dampNum) / dampDen
    var rank = deg.keys.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = in.map { case (n, s) => n -> (base + dampNum * s / dampDen) }
    }
    rank
  }

  test("pageRank matches an independent simulation of the integer recurrence") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 1L))
    val got = GraphOps.pageRankSymmetric(
      pairs.toDF("a", "b"), "a", "b", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == simulate(pairs, iters = 4))
  }

  test("star graph: the hub out-ranks every leaf, leaves tie exactly") {
    import spark.implicits._
    val star = (1L to 6L).map(i => (0L, i))
    val rows = GraphOps.pageRankSymmetric(star.toDF("a", "b"), "a", "b", iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hub = rows.find(_._1 == 0L).get
    val leaves = rows.filter(_._1 != 0L)
    assert(hub._3 == 6L && leaves.forall(_._3 == 1L))
    assert(leaves.forall(_._2 < hub._2))
    assert(leaves.map(_._2).distinct.length == 1, "symmetric leaves must tie bit-exactly")
  }

  test("ranks are deterministic across repartitionings") {
    import spark.implicits._
    val pairs = (1L to 40L).map(i => (i, i % 7))
    val a = GraphOps.pageRankSymmetric(pairs.toDF("a", "b"), "a", "b", iters = 3)
      .collect().toSeq
    val b = GraphOps.pageRankSymmetric(pairs.toDF("a", "b").repartition(11), "a", "b", iters = 3)
      .collect().toSeq
    assert(a == b)
  }

  test("rank mass is conserved up to geometrically-bounded truncation loss") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 2L))
    val rows = GraphOps.pageRankSymmetric(pairs.toDF("a", "b"), "a", "b", iters = 5)
      .collect().map(_.getLong(1))
    val n = rows.length.toLong
    val total = rows.sum
    // per round ≤ 2n units truncate away; the damped recurrence caps the
    // steady-state deficit at (2n)·dampDen/(dampDen−dampNum) ≈ 13n
    assert(total <= n * 1000000L)
    assert(total >= n * 1000000L - 100 * n, s"lost too much mass: $total")
  }

  test("triangle counts: K4 minus an edge, stars are triangle-free, edges canonicalize") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (3,4): triangles {1,2,3} and {1,2,4}.
    // Edges deliberately reversed/duplicated to exercise canonicalization;
    // star 5-(6,7,8) closes nothing.
    val pairs = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (3L, 2L), (2L, 4L),
      (5L, 6L), (7L, 5L), (5L, 8L))
      .toDF("a", "b")
    val out = GraphOps.triangleCounts(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L), s"got $out")
    // determinism under repartitioning
    val again = GraphOps.triangleCounts(pairs.repartition(7), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("k-core: a pendant path cascades away over multiple rounds, the triangle survives") {
    import spark.implicits._
    // triangle {10,11,12} with a path 1-2-3 hanging off node 10: the
    // 2-core is the triangle, but reaching it NEEDS three synchronous
    // peels (1 drops, then 2, then 3) — one round is provably not enough
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 10L), (10L, 3L), (3L, 2L), (2L, 1L))
      .toDF("a", "b")
    val full = GraphOps.kCore(pairs, "a", "b", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(10L -> 2L, 11L -> 2L, 12L -> 2L), s"got $full")
    // fixed-round semantics: after ONE round only node 1 has been peeled,
    // node 2's reported degree honestly reflects the partially peeled graph
    val one = GraphOps.kCore(pairs, "a", "b", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one.keySet == Set(2L, 3L, 10L, 11L, 12L), s"got $one")
    assert(one(2L) == 1L && one(10L) == 3L)
    // over-provisioned rounds are a no-op past the fixpoint
    val more = GraphOps.kCore(pairs, "a", "b", k = 2, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == full)
    // k above the max degree dissolves the graph entirely
    assert(GraphOps.kCore(pairs, "a", "b", k = 4, rounds = 3).count() == 0L)
  }

  test("k-core is repartition-invariant and degree-bounded on a denser fixture") {
    import spark.implicits._
    // K5 on {1..5} plus a 4-cycle {20,21,22,23} bridged to it: the 4-core
    // keeps exactly K5 (cycle nodes have degree 2, the bridge dies with them)
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val cyc = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L), (20L, 1L))
    val df = (k5 ++ cyc).toDF("a", "b")
    val got = GraphOps.kCore(df, "a", "b", k = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 5L).map(_ -> 4L).toMap, s"got $got")
    val re = GraphOps.kCore(df.repartition(7), "a", "b", k = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == got)
  }

  test("pageRankSymmetric on a self-loop graph equals the loop-free graph (r8 drop semantics, pinned)") {
    import spark.implicits._
    // r8 routed pageRankSymmetric through symmetricEdges, which DROPS
    // self-loops — a behavioral change vs pre-r8 (where a loop fed a node
    // its own rank back and inflated its degree). This pins the new
    // contract: a self-loop contributes nothing to rank or degree.
    val withLoop = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 2L), (4L, 4L))
      .toDF("a", "b")
    val noLoop = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    val got = rows(GraphOps.pageRankSymmetric(withLoop, "a", "b", iters = 3))
    assert(got == rows(GraphOps.pageRankSymmetric(noLoop, "a", "b", iters = 3)))
    // node 1 (degree 3) must outrank the degree-2 cycle nodes, and node 4
    // appears with degree 1 — its loop dropped, its bridge edge kept
    val deg = got.map(r => r(0).asInstanceOf[Long] -> r(2).asInstanceOf[Long]).toMap
    assert(deg == Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L), s"got $deg")
  }

  test("label propagation separates two bridged triangles into two communities") {
    import spark.implicits._
    // K3 {1,2,3} bridged to K3 {10,11,12}: reachability is ONE component,
    // but majority-label propagation keeps one label per triangle — the
    // signal connected components cannot give. 3 synchronous rounds with
    // the (count desc, label asc) argmax, hand-traced.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)).toDF("a", "b")
    val got = GraphOps.labelPropagation(pairs, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), s"got $got")
    // deterministic under repartitioning (struct-max argmax, no RNG)
    val re = GraphOps.labelPropagation(pairs.repartition(5), "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == got)
  }

  test("shared edge memo: hit serves the identical relation, content equals a fresh build, pairs derive once") {
    import spark.implicits._
    val key = "graphspec-shared-" + System.nanoTime() // unique per run
    var builds = 0
    def pairs = { builds += 1; Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b") }
    val fresh = GraphOps.symmetricEdges(pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits0 = GraphOps.edgeMemo.hits
    val first = GraphOps.symmetricEdgesShared(spark, key, "a", "b")(pairs)
    val second = GraphOps.symmetricEdgesShared(spark, key, "a", "b")(pairs)
    assert(second eq first)
    // >=: the counter is global and other suites run in parallel (the
    // catalog queries share the interaction graph through this memo)
    assert(GraphOps.edgeMemo.hits >= hits0 + 1)
    // by-name pairs: every lookup constructs the plan ONCE to take its
    // content fingerprint (fresh build + first + second = 3), but a hit
    // skips the join/distinct EXECUTION — `second eq first` above
    assert(builds == 3)
    assert(first.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == fresh)
    // a different key never collides
    val other = GraphOps.symmetricEdgesShared(spark, key + "-b", "a", "b")(pairs)
    assert(!(other eq first))
    // STALENESS: same sourceKey, CHANGED upstream data -> the content
    // fingerprint (semanticHash for in-memory frames) forces a rebuild
    def pairs2 = Seq((1L, 2L), (2L, 4L)).toDF("a", "b")
    val changed = GraphOps.symmetricEdgesShared(spark, key, "a", "b")(pairs2)
    assert(!(changed eq first))
    assert(changed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      GraphOps.symmetricEdges(pairs2, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("persisted edge artifact: write -> reload feeds all three algorithms bit-identically") {
    import spark.implicits._
    // the q97/q105 pattern for the graph family: derive the canonical
    // symmetric edge relation ONCE, persist it, and every analysis run
    // reads the artifact instead of re-joining the fact tables
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (6L, 1L), (7L, 7L)) // includes a self-loop: must drop
      ).toDF("a", "b")
    val edges = GraphOps.symmetricEdges(pairs, "a", "b")
    assert(edges.filter($"src" === $"dst").count() == 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_edges_").toString
    val path = dir + "/edges"
    GraphOps.writeEdges(edges, path)
    val reloaded = GraphOps.readEdges(spark, path)
    // the artifact IS the relation: same rows after the round trip
    assert(reloaded.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      edges.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(rows(GraphOps.pageRankFromEdges(reloaded, iters = 3)) ==
      rows(GraphOps.pageRankSymmetric(pairs, "a", "b", iters = 3)))
    assert(rows(GraphOps.kCoreFromEdges(reloaded, k = 2, rounds = 2)) ==
      rows(GraphOps.kCore(pairs, "a", "b", k = 2, rounds = 2)))
    assert(rows(GraphOps.triangleCountsFromEdges(reloaded)) ==
      rows(GraphOps.triangleCounts(pairs, "a", "b")))
    // and the direct triangle path still finds the two triangles
    val tri = GraphOps.triangleCounts(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L), s"got $tri")
  }

  test("degree assortativity: a star is exactly -1, a cycle nulls out, triangles+pendants go negative") {
    import spark.implicits._
    def r(pairs: Seq[(Long, Long)]): (Long, Option[Double]) = {
      val row = GraphOps.degreeAssortativity(
        GraphOps.symmetricEdges(pairs.toDF("a", "b"), "a", "b")).collect().head
      (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getDouble(1)))
    }
    // star K1,3: every directed edge pairs degree 3 with degree 1 in one
    // order or the other — two mirrored points, Pearson exactly -1
    assert(r(Seq((0L, 1L), (0L, 2L), (0L, 3L))) == ((6L, Some(-1.0))))
    // 4-cycle: degree-regular, the integer zero-variance guard fires
    assert(r(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == ((8L, None)))
    // triangle with a pendant leaf: mixed degrees, hub-leaf edges drag r
    // below zero (disassortative), but not to -1 (the core is uniform)
    val (n, corr) = r(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    assert(n == 8L && corr.exists(c => c < 0.0 && c > -1.0))
  }
}
