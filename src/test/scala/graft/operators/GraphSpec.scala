package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pagerankPortable replays the hand-computed path-graph ranks") {
    // Undirected path 1—2—3, symmetrized. deg(1)=deg(3)=1, deg(2)=2.
    // Iter 1: msgs 1←500000, 2←2000000, 3←500000 →
    //         r1 = (575000, 1850000, 575000).
    // Iter 2: msgs 1←925000, 2←1150000, 3←925000 →
    //         r2 = (936250, 1127500, 936250). Exact integer arithmetic.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val got = Graph.pagerankPortable(edges, "src", "dst", iters = 2,
      topK = 3).as[(Long, Long)].collect()
    assert(got === Array((2L, 1127500L), (1L, 936250L), (3L, 936250L)))
  }

  test("the hub of a star graph outranks every leaf") {
    val leaves = (2L to 9L)
    val edges = (leaves.map(l => (1L, l)) ++ leaves.map(l => (l, 1L)))
      .toDF("src", "dst")
    val got = Graph.pagerankPortable(edges, "src", "dst", iters = 3,
      topK = 9).as[(Long, Long)].collect()
    assert(got.head._1 === 1L)
    assert(got.tail.forall(_._2 < got.head._2))
    // Leaves are symmetric: identical ranks, ordered by node id.
    assert(got.tail.map(_._2).distinct.length === 1)
    assert(got.tail.map(_._1).toSeq === leaves.toSeq)
  }

  test("hitsPortable replays the hand-computed bipartite scores") {
    // Hubs {1,2} → authorities {10,11}: 1→10, 1→11, 2→10.
    // Iter1: hr=(2e6,1e6)→h=(1e6,500000); ar(10)=1.5e6, ar(11)=1e6 →
    //        a=(1e6,666666).
    // Iter2: hr(1)=1666666, hr(2)=1e6 → h=(1e6,600000);
    //        ar(10)=1.6e6, ar(11)=1e6 → a=(1e6,625000).
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hitsPortable(edges, "src", "dst", iters = 2, topK = 4)
      .as[(Long, Long, Long)].collect()
    assert(got === Array((10L, 0L, 1000000L), (11L, 0L, 625000L),
      (1L, 1000000L, 0L), (2L, 600000L, 0L)))
  }

  test("hits is invariant to partitioning and duplicate edges") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (1L, 10L))
      .toDF("src", "dst")
    val a = Graph.hitsPortable(edges, "src", "dst", 2, 4)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Graph.hitsPortable(edges.repartition(5), "src", "dst", 2, 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a === b)
  }

  test("degreeAssortativity: star is -1; regular graph is NULL") {
    // Star 1—2, 1—3: pairs (2,1)×2, (1,2)×2 → r = −4/(2·2) = −1.
    val star = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val r1 = Graph.degreeAssortativity(star, "a", "b").collect()(0)
    assert(r1.getAs[Long]("n_edges_directed") === 4L)
    assert(r1.getAs[Double]("assortativity") === -1.0)
    // Triangle: every degree 2 → zero variance → NULL.
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val r2 = Graph.degreeAssortativity(tri, "a", "b").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("assortativity")))
  }

  test("ranks are invariant to input partitioning and duplicate edges") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 2L))
      .toDF("src", "dst")
    val a = Graph.pagerankPortable(edges, "src", "dst", 2, 3)
      .as[(Long, Long)].collect().toSeq
    val b = Graph.pagerankPortable(edges.repartition(5), "src", "dst", 2, 3)
      .as[(Long, Long)].collect().toSeq
    assert(a === b)
    assert(a.head === ((2L, 1127500L))) // dup edge deduped before degrees
  }

  test("triangleStats: hand graph — counts, coefficients, hub-safe orientation") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus a pendant 5-1 and an isolated edge 6-7.
    // K4: every vertex has deg 3 within it, sits in C(3,2)=3 triangles.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (6L, 7L),
      (2L, 1L), (1L, 2L)) // duplicates + reversed: must dedup
      .toDF("a", "b")
    val got = Graph.triangleStats(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 4L, 3L, 500000L),  // deg 4 (K4 + pendant): 3 of C(4,2)=6 pairs
      (2L, 3L, 3L, 1000000L), // fully clustered inside K4
      (3L, 3L, 3L, 1000000L),
      (4L, 3L, 3L, 1000000L),
      (5L, 1L, 0L, -1L),      // pendant: coefficient undefined
      (6L, 1L, 0L, -1L), (7L, 1L, 0L, -1L)))
    // triangle-count conservation: per-node counts sum to 3 x #triangles
    assert(got.map(_._3).sum === 3L * 4L)
  }

  test("personalizedPagerank: mass concentrates around the seed") {
    // Two symmetric 3-cliques bridged by one edge; seeding clique A must
    // rank A's members above B's mirror-image members at equal structure.
    val cliqueA = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val cliqueB = Seq((4L, 5L), (5L, 6L), (4L, 6L))
    val bridge = Seq((3L, 4L))
    val und = (cliqueA ++ cliqueB ++ bridge).flatMap {
      case (a, b) => Seq((a, b), (b, a))
    }
    val got = Graph.pagerankPortable(und.toDF("src", "dst"),
        "src", "dst", seeds = Seq(1L), iters = 3, topK = 10)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) > got(2L) && got(2L) > 0L)
    assert(got.getOrElse(2L, 0L) > got.getOrElse(5L, 0L))
    assert(got.getOrElse(3L, 0L) > got.getOrElse(6L, 0L))
  }

  test("personalizedPagerank: hand-replayed two-iteration path graph") {
    // 1↔2 only, seed {1}, r0 = 1e6, base = 150000.
    // it1: rank1 = 150000 (node 2 started at 0); rank2 = 1e6·85 div 100.
    // it2: rank1 = 150000 + 850000·85 div 100 = 872500;
    //      rank2 = 150000·85 div 100 = 127500.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.pagerankPortable(edges, "src", "dst",
        seeds = Seq(1L), iters = 2, topK = 10)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 872500L, 2L -> 127500L))
  }

  test("bfsHops: multi-seed hop profile, repeated seed, unreachable nodes") {
    // Chain 1→2→3→4→5 plus a separate 6→7, a self-loop, a null endpoint
    // and a duplicate arc. Seeds {1, 4, 1}: hop 0 = {1, 4} (the repeated
    // 1 counts once), hop 1 = {2, 5}, hop 2 = {3} (2→2 is dropped), and
    // hop 3 finds only the visited 4, so the walk stops. 6 and 7 are
    // never reached and appear in no row.
    val edges = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 5L), (6L, 7L), (2L, 2L), (5L, null), (1L, 2L))
      .toDF("src", "dst")
    def hops(maxHops: Int) =
      Graph.bfsHops(edges, "src", "dst", seeds = Seq(1L, 4L, 1L), maxHops)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(hops(5) === Seq((0L, 2L, 1L, 4L), (1L, 2L, 2L, 5L), (2L, 1L, 3L, 3L)))
    // the radius caps the expansion
    assert(hops(1) === Seq((0L, 2L, 1L, 4L), (1L, 2L, 2L, 5L)))
  }

  test("kCore: a pendant chain cascades away over rounds; the core stays") {
    // triangle {1,2,3} + chain 3-4-5-6: at k=2 the chain peels one node
    // per round (6 → 5 → 4, three rounds), the triangle survives intact
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = Graph.kCore(edges, "a", "b", k = 2, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: an unconverged peel fails loudly instead of returning a superset") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      Graph.kCore(edges, "a", "b", k = 2, maxRounds = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // everything peels at k=4: the empty core converges and is empty
    assert(Graph.kCore(edges, "a", "b", k = 4, maxRounds = 8).count() === 0L)
  }

  test("linkPrediction: hand-computed CN and RA with the degree cap") {
    // 1 and 2 share neighbors 10 (deg 3) and 11 (deg 2); 3 touches
    // only 10. Non-edges ranked: (10,11) via z∈{1,2} RA=10⁶, then
    // (1,2) RA=10⁶/3+10⁶/2=833333, then (1,3)/(2,3) at 333333.
    val edges = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (3L, 10L))
      .toDF("a", "b")
    val got = Graph.linkPrediction(edges, "a", "b", maxDeg = 10, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(got.head === ((10L, 11L, 2L, 1000000L)))
    assert(got(1) === ((1L, 2L, 2L, 833333L)))
    assert(got.toSet.contains((1L, 3L, 1L, 333333L)))
    assert(got.toSet.contains((2L, 3L, 1L, 333333L)))
    // existing edges never appear as predictions
    assert(!got.exists(p => (p._1, p._2) == ((1L, 10L))))
    // hub cap: with maxDeg=2 node 10 stops mediating — (1,2) keeps only
    // the z=11 wedge and the (·,3) pairs vanish
    val capped = Graph.linkPrediction(edges, "a", "b", maxDeg = 2,
      topK = 10).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(capped.toSeq.contains((1L, 2L, 1L, 500000L)))
    assert(!capped.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("modularity: hand-computed two-triangle bridge; trivial partition scores zero") {
    // Triangles {1,2,3} and {4,5,6} joined by the bridge (3,4): m = 7,
    // each triangle community has e_c = 3, d_c = 7, so per-community
    // contribution = (4·7·3 − 49)·10⁶ div (4·49) = 178571 (Q ≈ 0.357).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val assign = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("node", "comm")
    val got = Graph.modularity(edges, "a", "b", assign, "node", "comm")
      .orderBy("community")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got === Array(("A", 3L, 3L, 7L, 178571L),
      ("B", 3L, 3L, 7L, 178571L)))
    // the everything-in-one-block partition scores exactly zero
    val one = Graph.modularity(edges, "a", "b",
      assign.select($"node",
        org.apache.spark.sql.functions.lit("ALL").as("comm")),
      "node", "comm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(one === Array(("ALL", 6L, 7L, 14L, 0L)))
    // isolated assigned node: counted, zero mass, no NULLs
    val iso = Graph.modularity(edges, "a", "b",
      assign.unionByName(Seq((9L, "C")).toDF("node", "comm")),
      "node", "comm")
      .filter($"community" === "C")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(iso === Array(("C", 1L, 0L, 0L, 0L)))
  }

  test("labelPropagation: two bridged cliques settle into two communities") {
    // 4-cliques {1..4} and {5..8} joined by the single bridge (4,5).
    // Synchronous min-tiebreak rounds: r1 labels (2,1,1,1 | 4,5,5,5),
    // r2 converges to (1,1,1,1 | 5,5,5,5) — two communities of 4, the
    // bridge never flips a clique.
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(1L to 4L) ++ clique(5L to 8L) :+ ((4L, 5L)))
      .toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", iters = 3, topK = 10)
      .as[(Long, Long)].collect()
    assert(got === Array((1L, 4L), (5L, 4L)))
    // invariant to partitioning, duplicate edges, and edge direction
    val re = Graph.labelPropagation(
      edges.unionByName(edges.select($"b".as("a"), $"a".as("b")))
        .repartition(7), "a", "b", iters = 3, topK = 10)
      .as[(Long, Long)].collect()
    assert(re === got)
  }

  test("harmonicCloseness replays the hand-computed path graph") {
    // Path 1—2—3—4 (both directions). maxHops=2:
    //  seed 1: d(2)=1, d(3)=2 → n=2, H = 1000000 + 500000.
    //  seed 3: d(2)=1, d(4)=1, d(1)=2 → n=3, H = 2500000.
    //  seed 99: isolated — reaches nothing, absent from the output.
    // Duplicate seed 1 must not double-count.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.harmonicCloseness(edges, "src", "dst",
      seeds = Seq(1L, 3L, 1L, 99L), maxHops = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array((1L, 2L, 1500000L), (3L, 3L, 2500000L)))
    // duplicate edges + repartitioning don't change anything
    val re = Graph.harmonicCloseness(
      edges.unionByName(edges).repartition(5), "src", "dst",
      Seq(1L, 3L), 2).as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(re === got)
  }

  test("betweennessSeeded replays hand-computed path and diamond graphs") {
    // Path 1—2—3—4 from seed 1: δ(2) = 2 (paths to 3 and 4 run through
    // it), δ(3) = 1, endpoints contribute nothing.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val path = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.betweennessSeeded(path, "src", "dst",
      seeds = Seq(1L), maxHops = 3, topK = 5)
      .as[(Long, Long)].collect().toSeq
    assert(got.take(2) === Seq((2L, 2000000L), (3L, 1000000L)))
    assert(got.forall(r => r._1 != 1L)) // the seed never scores itself
    // Diamond 1→{2,3}→4→5 (directed): σ(4) = 2, so each middle node
    // carries HALF the dependency through 4 — δ(2) = δ(3) = 1, δ(4) = 1.
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val gd = Graph.betweennessSeeded(dia, "src", "dst",
      seeds = Seq(1L), maxHops = 3, topK = 5)
      .as[(Long, Long)].collect().toMap
    assert(gd === Map(2L -> 1000000L, 3L -> 1000000L, 4L -> 1000000L))
  }

  test("pin fills its table in one job, with no count aggregate") {
    val df = spark.range(0, 200, 1, 2).toDF("k").filter($"k" % 3 =!= 0)
    df.queryExecution.sparkPlan // a plan built before the pin, as spreadBy builds one
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    var p: org.apache.spark.sql.DataFrame = null
    try {
      assert(jobsLaunched { p = Graph.pin(df) } === 1)
      val filled = spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
      assert(filled.nonEmpty && filled.forall(i => i.numCachedPartitions == i.numPartitions),
        filled.toSeq.toString)
      assert(p.count() === 133L)
    } finally if (p != null) p.unpersist(blocking = true)
  }
}
