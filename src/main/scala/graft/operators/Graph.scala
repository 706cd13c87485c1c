package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph measures on edge DataFrames — the entity-importance
  * layer next to [[Components]]' connectivity: which suppliers/parts/docs
  * sit at the center of the link structure. Like [[graft.ml.KMeansLite]],
  * the iteration is ENGINE-PORTABLE: ranks live in integer micro-units and
  * every step is exact integer arithmetic (floor division), so an unrolled
  * SQL replay reproduces each rank bit-for-bit — the hash-checkable
  * promotion the sketch family (q82/q83) made.
  *
  * Shared kernel: the walkers make their edge tables through ONE function
  * per edge shape — [[undirectedEdges]] (`x < y` pairs: triangles, k-core,
  * link prediction) and [[directedEdges]] (src-keyed arcs: BFS, closeness,
  * betweenness) — and the iterated walks (PageRank global and seeded,
  * TextRank's word graph, label propagation) run their generations through
  * ONE pin loop, [[generations]].
  *
  * Scale posture: the textbook message-passing shape — per iteration ONE
  * join of the (pre-degree'd) edge table with the current rank table on
  * src and ONE groupBy(dst) sum, both keyed shuffles that AQE co-plans;
  * ranks never leave the executors (no driver collect at any size), and
  * the edge table is degree-annotated exactly once up front. */
object Graph {
  import org.apache.spark.storage.StorageLevel

  /** Materialize every Nth generation of an iterative walk instead of
    * every generation: shallow walks (the contract's 3-round queries) run
    * as one fused action with zero intermediate persists, while deep walks
    * still get lineage truncation before Catalyst re-optimization of the
    * plan tower dominates driver time. */
  private[operators] val GenEvery = 4

  /** The UNDIRECTED edge substrate: one `(x, y)` row per edge with
    * x < y — endpoints cast to long, nulls and self-loops dropped, spread
    * on both columns (so the dedup reuses the spread exchange), deduped
    * and pinned once ([[Materialize.transient]]): every caller reads it
    * from several subtrees and Spark has no common-subplan reuse. */
  private def undirectedEdges(edges: DataFrame, aCol: String,
                              bCol: String): DataFrame =
    Materialize.transient(edges
      .select(col(aCol).cast("long").as("graft_a"),
        col(bCol).cast("long").as("graft_b"))
      .filter(col("graft_a") =!= col("graft_b") &&
        col("graft_a").isNotNull && col("graft_b").isNotNull)
      .select(least(col("graft_a"), col("graft_b")).as("x"),
        greatest(col("graft_a"), col("graft_b")).as("y"))
      .transform(graft.Tables.spread)
      .distinct())

  /** The DIRECTED edge substrate: deduped `(graft_s, graft_d)` arcs, long
    * endpoints, nulls and self-loops dropped, pinned once. Spread BY THE
    * SRC KEY: every hop/level join keys the edge table on graft_s, so the
    * pinned table arrives pre-clustered for every round (guide §2.4). */
  private def directedEdges(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame =
    Materialize.transient(edges
      .select(col(srcCol).cast("long").as("graft_s"),
        col(dstCol).cast("long").as("graft_d"))
      .filter(col("graft_s").isNotNull && col("graft_d").isNotNull &&
        col("graft_s") =!= col("graft_d"))
      .transform(df => graft.Tables.spreadBy(df, Seq(col("graft_s"))))
      .distinct())

  /** Persist `df` and fill it before anything reads it: one job over the
    * cache entry's own batches (after the jobs of the cached plan's
    * shuffles). A `count()` adds an aggregate whose final stage is a job of
    * its own, and a count over a query plan of `p` adds the adaptive
    * planner's cache-filling stage as one more. */
  private[operators] def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val session = p.queryExecution.sparkSession
    session.sharedState.cacheManager.lookupCachedData(session, p.queryExecution.analyzed)
      .foreach(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.count())
    p
  }

  /** The generation loop of every iterated walk: `iters` applications of
    * `step` from `init`, materializing every [[GenEvery]]-th generation
    * (each fills before the generation it reads is released), then
    * `finish` on the last one. Persisted generations and the caller's
    * `pinned` tables are released on return — also when a step or the
    * final action throws; without that, a failed run leaks
    * MEMORY_AND_DISK blocks for the session lifetime. */
  private def generations(init: DataFrame, iters: Int, pinned: DataFrame*)(
      step: DataFrame => DataFrame)(finish: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var persisted: DataFrame = null
    try {
      for (i <- 1 to iters) {
        cur = step(cur)
        if (i % GenEvery == 0 && i < iters) {
          val p = pin(cur)
          if (persisted ne null) persisted.unpersist()
          persisted = p
          cur = p
        }
      }
      finish(cur)
    } finally {
      if (persisted ne null) persisted.unpersist()
      pinned.foreach(_.unpersist())
    }
  }

  /** PageRank in integer micro-units. `edges` is DIRECTED (pass both
    * directions for an undirected graph); every node must have out-degree
    * ≥ 1 (true by construction for symmetrized edges — the caller owns
    * dangling-node handling otherwise, e.g. self-loops).
    *
    * Per iteration, with integer (floor) division throughout:
    * contribution of src u = rank(u) div outdeg(u); rank'(v) =
    * (r0*15) div 100  +  (85 * Σ contributions(v)) div 100 — the damping
    * 0.85 applied as `(85*s) div 100`, exact on any engine. Returns the
    * `topK` nodes by final rank (ties → lower node id).
    *
    * PERSONALIZED with a non-empty `seeds`: the teleport mass returns to
    * the SEED SET instead of everywhere — "importance relative to THESE
    * nodes", the related-items / similar-suppliers primitive (Gleich, SIAM
    * Rev. 2015 §5). Seeds start at `r0`, everyone else at 0; each round
    * only seeds receive the (r0·15 div 100) refill while all nodes
    * accumulate 85% of in-neighbor contributions, so mass concentrates
    * around the seeds; nodes the walk never reached (rank 0) are dropped.
    * The seed set rides in as a literal IN-list (seed counts are
    * query-sized, never corpus-sized); the walk's shape is unchanged. */
  def pagerankPortable(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int, topK: Int, seeds: Seq[Long] = Nil,
                       r0: Long = 1000000L): DataFrame = {
    // Spread a low-split edge scan BY THE SRC KEY (guide §2.4/§2.5;
    // identity at scale): hash(graft_src) clusters the frame for the
    // dedup, the degree aggregate, the degree join AND every iteration's
    // rank join — one exchange where the struct-keyed form paid four.
    walk(graft.Tables.spreadBy(
      edges.select(col(srcCol).cast("long").as("graft_src"),
        col(dstCol).cast("long").as("graft_dst")),
      Seq(col("graft_src"))).distinct(), iters, topK, seeds, r0)
  }

  /** The integer PageRank walk ([[pagerankPortable]]'s arithmetic) over a
    * deduped `(graft_src, graft_dst)` edge frame whose node key may be any
    * type — [[Search.textRank]] walks WORD keys through it. Returns the
    * pinned top-`topK` `(node, rank)` artifact, rank desc then node asc. */
  private[operators] def walk(e: DataFrame, iters: Int, topK: Int,
                              seeds: Seq[Long] = Nil,
                              r0: Long = 1000000L): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    require(topK >= 1, "topK must be at least 1")
    // Pregel discipline (the [[Components]] loop's): the edge table is
    // persisted ONCE (every iteration re-reads cached blocks instead of
    // replaying distinct + degree join), and rank generations go through
    // [[generations]]. ed/nodes are counted up front so the fused action's
    // concurrent leaf stages read filled caches instead of racing to
    // build them.
    val deg = e.groupBy("graft_src").agg(count(lit(1)).as("graft_deg"))
    val ed = pin(e.join(deg, "graft_src"))
    // nodes FROM the just-persisted ed, not from e: the degree join keeps
    // every src (deg covers all of them), so the node set is identical —
    // and the scan→spread→distinct substrate builds ONCE instead of twice
    // (profiled: the duplicate build was 2 of q131's top-5 stages).
    val nodes = pin(ed.select(col("graft_src").as("node")).distinct())
    val base = r0 * 15L / 100L
    val (start, refill) =
      if (seeds.isEmpty) (lit(r0), lit(base))
      else {
        val isSeed = col("node").isin(seeds: _*)
        (when(isSeed, lit(r0)).otherwise(lit(0L)),
          when(isSeed, lit(base)).otherwise(lit(0L)))
      }
    generations(nodes.withColumn("rank", start), iters, ed, nodes) { ranks =>
      val msgs = ed
        .join(ranks.withColumnRenamed("node", "graft_src"), "graft_src")
        .select(col("graft_dst").as("node"),
          expr("rank div graft_deg").as("graft_c"))
        .groupBy("node").agg(sum("graft_c").as("graft_s"))
      nodes.join(msgs, Seq("node"), "left")
        .select(col("node"),
          (refill + expr("coalesce(graft_s, 0L) * 85 div 100")).as("rank"))
    } { ranks =>
      val reached = if (seeds.isEmpty) ranks else ranks.filter(col("rank") > 0)
      Materialize.artifact(
        reached.orderBy(col("rank").desc, col("node").asc).limit(topK))
    }
  }

  /** HITS hubs-and-authorities — the DIRECTED-graph twin of
    * [[pagerankPortable]] (Kleinberg, JACM 1999): a good hub points at
    * good authorities, a good authority is pointed at by good hubs. The
    * two mutually-recursive scores separate the "curator" role from the
    * "content" role that a single PageRank conflates — on the
    * supplier→part graph, hub mass lands on broad-catalog suppliers and
    * authority mass on widely-sourced parts.
    *
    * Engine-portable integer discipline: scores in micro-units, each
    * half-step renormalized by its MAX via one floor division
    * (s·10⁶ div max — max-norm instead of L2 so no sqrt ever enters),
    * so an unrolled SQL replay reproduces every score bit-for-bit.
    * Score tables stay SPARSE (only nodes with out-/in-edges carry h/a;
    * everyone else is an exact 0, coalesced once at the end).
    *
    * Scale posture: per iteration two keyed joins (edges⋈auth on dst,
    * edges⋈hub on src) and two dst-/src-keyed sums, same message-passing
    * shape as PageRank; the normalization max is a 1-row aggregate
    * broadcast back. Sums stay in BIGINT while max-degree·10¹² < 2⁶³
    * (holds past a million in-edges per node). */
  def hitsPortable(edges: DataFrame, srcCol: String, dstCol: String,
                   iters: Int, topK: Int, r0: Long = 1000000L): DataFrame = {
    require(iters >= 1 && topK >= 1, "iters and topK must be positive")
    // Each half-step's RAW SUM table is pinned with TRUNCATED lineage
    // ([[Materialize.transient]]): a persist() chain keeps the full
    // logical plan, so by iteration 3 Catalyst re-optimizes a tower of
    // nested cached plans and DRIVER PLANNING dominates wall time
    // (measured 3× blowup at sf0.1). Pinning the raw sums before the
    // max-broadcast also stops each half-step's edge join from running
    // twice (once for the norm scalar, once for the main leg). The
    // normalized hub/auth projections over those pins stay lazy.
    val e = Materialize.transient(graft.Tables.spread(
      edges.select(col(srcCol).cast("long").as("graft_src"),
        col(dstCol).cast("long").as("graft_dst"))).distinct())
    val nodes = Materialize.transient(
      e.select(col("graft_src").as("node"))
        .union(e.select(col("graft_dst"))).distinct())
    var auth = nodes.withColumn("graft_a", lit(r0))
    var hub: DataFrame = null
    for (_ <- 1 to iters) {
      val hraw = Materialize.transient(e
        .join(auth.withColumnRenamed("node", "graft_dst")
          .withColumnRenamed("graft_a", "graft_av"), "graft_dst")
        .groupBy(col("graft_src").as("node"))
        .agg(sum("graft_av").as("graft_s")))
      // hub/auth stay LAZY: each is a scalar-broadcast projection over its
      // materialized raw-sum table, so recomputing it for its two readers
      // (next half-step + final readout) re-reads checkpoint blocks
      // instead of paying another materialization job per half-step.
      hub = hraw
        .crossJoin(broadcast(hraw.agg(max("graft_s").as("graft_mx"))))
        .select(col("node"),
          expr("graft_s * 1000000 div graft_mx").as("graft_h"))
      val araw = Materialize.transient(e
        .join(hub.withColumnRenamed("node", "graft_src"), "graft_src")
        .groupBy(col("graft_dst").as("node"))
        .agg(sum("graft_h").as("graft_s")))
      auth = araw
        .crossJoin(broadcast(araw.agg(max("graft_s").as("graft_mx"))))
        .select(col("node"),
          expr("graft_s * 1000000 div graft_mx").as("graft_a"))
    }
    Materialize.artifact(
      nodes
        .join(hub.select(col("node"), col("graft_h")), Seq("node"), "left")
        .join(auth.select(col("node"), col("graft_a")), Seq("node"), "left")
        .select(col("node"), coalesce(col("graft_h"), lit(0L)).as("hub"),
          coalesce(col("graft_a"), lit(0L)).as("auth"))
        .orderBy(col("auth").desc, col("node").asc).limit(topK))
  }

  /** Degree assortativity — Newman's r (PRL 2002): the Pearson
    * correlation of endpoint degrees over the directed edge list, the
    * one-number "do hubs link to hubs?" readout next to
    * [[triangleStats]]' local density and [[pagerankPortable]]'s
    * centrality. r > 0 = assortative (social-network-like cores),
    * r < 0 = disassortative (hub-and-spoke, typical for bipartite
    * supply graphs) — a structural prior that decides whether hub
    * removal fragments the graph.
    *
    * Exactness: degree sums accumulate in DECIMAL(38,0) (Sxy reaches
    * m·d_max², past 2⁶³ on hub-heavy graphs), then the spearman
    * finish — integers → two IEEE sqrts → one division → round 6.
    * Degenerate (regular) graphs NULL via the zero-variance CASE.
    *
    * Scale: dedup + ONE degree aggregate + two src-/dst-keyed joins of
    * the edge list against the |nodes|-row degree table + one global
    * fold — never anything corpus-cross. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val dir = edges.select(col(aCol).cast("long").as("graft_a"),
      col(bCol).cast("long").as("graft_b"))
    // a-keyed spread: serves the dedup, the degree aggregate and the
    // dx-side degree join from one exchange.
    val e = graft.Tables.spreadBy(
      dir.union(dir.select(col("graft_b").as("graft_a"),
        col("graft_a").as("graft_b"))), Seq(col("graft_a"))).distinct()
    val ep = Materialize.transient(e)
    val deg = ep.groupBy(col("graft_a").as("node"))
      .agg(count(lit(1)).as("graft_deg"))
    ep
      .join(deg.select(col("node").as("graft_a"),
        col("graft_deg").as("graft_dx")), "graft_a")
      .join(deg.select(col("node").as("graft_b"),
        col("graft_deg").as("graft_dy")), "graft_b")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("graft_dx").cast("decimal(38,0)").as("sx"),
        sum("graft_dy").cast("decimal(38,0)").as("sy"),
        sum(expr("CAST(graft_dx AS DECIMAL(38,0)) * graft_dx")).as("sxx"),
        sum(expr("CAST(graft_dy AS DECIMAL(38,0)) * graft_dy")).as("syy"),
        sum(expr("CAST(graft_dx AS DECIMAL(38,0)) * graft_dy")).as("sxy"))
      .select(col("n").cast("long").as("n_edges_directed"),
        expr("CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0" +
          " THEN CAST(NULL AS DOUBLE)" +
          " ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)" +
          " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))" +
          " * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) END")
          .as("assortativity"))
  }

  /** Exact triangle counting + local clustering coefficient over an
    * UNDIRECTED edge list — the classic graph-quality readout (how
    * cliquish is each node's neighborhood) next to [[Components]]'
    * connectivity and [[pagerankPortable]]'s centrality.
    *
    * Algorithm: the degree-ordered orientation. Each undirected edge
    * points from its lower-(degree, id) endpoint to the higher, wedges
    * are enumerated at the LOW vertex only (fan-out per node bounded by
    * its OUT-degree, which the orientation caps at O(sqrt(m)) on any
    * graph — the arboricity bound that keeps hub nodes from exploding
    * the join), and a wedge (u; v, w) closes into a triangle iff the
    * undirected edge {v, w} exists (one semi-join). Every triangle is
    * found exactly once, at its lowest-ordered vertex. The result is
    * orientation-independent, so an oracle can replay it with the
    * simpler (non-scaling) id-orientation and match bit for bit.
    *
    * Returns one row per node with an edge: degree, triangle count, and
    * clustering_ppm = 2·tri·10⁶ div (deg·(deg−1)) (NULL when deg < 2 —
    * the coefficient is undefined). Integer arithmetic throughout.
    *
    * Shuffle audit: dedup + degree aggregate + two self-join key
    * exchanges + the closing semi-join + the per-node count — all keyed
    * on node/edge ids, nothing corpus-cross. */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // The deduped edge table feeds FIVE subtrees (degree build, both
    // orientation joins, the closing semi-join, the per-node fold) and
    // Spark has no common-subplan reuse — [[undirectedEdges]] pins it
    // once, and the oriented table (two wedge legs) is pinned likewise
    // ([[Materialize.transient]]'s contract: executor-local blocks,
    // GC-freed).
    val e0 = undirectedEdges(edges, aCol, bCol)
    val deg = e0.select(explode(array(col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("graft_deg"))
    val withDeg = e0
      .join(deg.select(col("n").as("x"), col("graft_deg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("graft_deg").as("dy")), "y")
    // u -> v with (deg, id) strictly increasing along the arrow
    val dir = withDeg.select(
      when(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")),
        struct(col("x").as("u"), col("y").as("v")))
        .otherwise(struct(col("y").as("u"), col("x").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val dirP = Materialize.transient(dir)
    val w1 = dirP.select(col("u"), col("v").as("v1"))
    val w2 = dirP.select(col("u"), col("v").as("v2"))
    val wedges = w1.join(w2, Seq("u")).filter(col("v1") < col("v2"))
    val tri = wedges.join(e0,
      wedges("v1") === e0("x") && wedges("v2") === e0("y"), "left_semi")
    val triPerNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("graft_tri"))
    deg.join(triPerNode, Seq("n"), "left_outer")
      .select(col("n").as("node"),
        col("graft_deg").cast("long").as("degree"),
        coalesce(col("graft_tri"), lit(0L)).as("n_triangles"),
        expr("CASE WHEN graft_deg < 2 THEN CAST(NULL AS BIGINT)" +
          " ELSE 2 * coalesce(graft_tri, 0) * 1000000" +
          " div (graft_deg * (graft_deg - 1)) END").as("clustering_ppm"))
  }

  /** Newman modularity of a GIVEN node partition over an undirected
    * graph — the quality readout community detection (53d''''') and any
    * attribute-based grouping get scored with: Q = Σ_c (e_c/m −
    * (d_c/2m)²), where e_c = intra-community edges, d_c = community
    * degree sum, m = |edges|. High Q means the partition concentrates
    * edges inside its blocks far beyond the degree-preserving random
    * expectation; Q ≈ 0 means the grouping explains nothing.
    *
    * Exactness: each community's contribution is reported as
    * q_contrib_ppm = (4m·e_c − d_c²)·10⁶ div (4m²) — pure integer
    * arithmetic on decimal(38,0) sums (negative contributions truncate
    * toward zero on both engines), Σ rows ≈ Q·10⁶ up to the per-row
    * truncation the oracle mirrors. Nodes in `assign` without edges
    * carry degree 0 (counted in n_nodes, no mass); edge endpoints
    * missing from `assign` are dropped from both e_c and d_c — the
    * caller owns assignment coverage.
    *
    * Shape: one degree aggregate (union-explode of the edge list), two
    * node-keyed joins of the assignment (node-sized relations — the
    * shuffle is the floor any partition scoring pays), one grouped fold
    * per side, one 1-row broadcast of m. Never edges × edges. */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 assign: DataFrame, nodeCol: String,
                 commCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val e = edges.select(col(aCol).as("graft_a"), col(bCol).as("graft_b"))
    val asg = assign.select(col(nodeCol).as("graft_n"),
      col(commCol).as("graft_c"))
    val deg = e.select(explode(array(col("graft_a"), col("graft_b"))).as("graft_n"))
      .groupBy("graft_n").agg(count(lit(1)).as("graft_deg"))
    val perC = asg.join(deg, Seq("graft_n"), "left")
      .groupBy("graft_c")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("graft_deg"), lit(0L))).cast(dec).as("degree_sum"))
    val intra = e
      .join(asg.select(col("graft_n").as("graft_a"),
        col("graft_c").as("graft_ca")), Seq("graft_a"))
      .join(asg.select(col("graft_n").as("graft_b"),
        col("graft_c").as("graft_cb")), Seq("graft_b"))
      .filter(col("graft_ca") === col("graft_cb"))
      .groupBy(col("graft_ca").as("graft_c"))
      .agg(count(lit(1)).as("intra_edges"))
    val m = e.agg(count(lit(1)).cast(dec).as("graft_m"))
    perC.join(intra, Seq("graft_c"), "left")
      .crossJoin(broadcast(m))
      .select(col("graft_c").as("community"),
        col("n_nodes").cast("long").as("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).cast("long").as("intra_edges"),
        col("degree_sum").cast("long").as("degree_sum"),
        expr("CAST((4 * graft_m * coalesce(intra_edges, 0)" +
          " - degree_sum * degree_sum) * 1000000" +
          " div (4 * graft_m * graft_m) AS BIGINT)").as("q_contrib_ppm"))
  }

  /** k-core peel — the cohesive-subgraph extractor between components
    * (any connectivity) and triangles (local density): iteratively
    * remove nodes of degree < k until the remainder is the k-core, the
    * maximal subgraph where EVERY member keeps ≥ k neighbors inside it.
    * The spam/bot-farm and community-backbone screen PageRank can't
    * give (a high-rank node may have one strong edge; a k-core member
    * provably has k mutually-retained ones).
    *
    * Runs at most `maxRounds` peel rounds with a convergence
    * short-circuit — SAFE against a fixed-round replay because peeling
    * is monotone: once a round removes nothing, every further round is
    * a no-op, so "converged at round r ≤ R" and "ran exactly R rounds"
    * give the SAME survivor set (the oracle unrolls R rounds
    * verbatim). If round maxRounds still removed nodes the peel is
    * incomplete and the operator FAILS loudly rather than returning a
    * superset (the honesty rule every bounded-iteration operator here
    * follows).
    *
    * Scale: each round is one degree aggregate + two semi-joins, all
    * keyed on node ids — only the (shrinking) edge list ever shuffles,
    * never source rows; per-round tables are pinned once
    * ([[Materialize.transient]]) because degrees and both semi-join
    * legs consume the same edge set. Round count is bounded by the
    * degeneracy ordering's diameter in practice (single digits on
    * real graphs). */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 10): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "k and maxRounds must be positive")
    var e = undirectedEdges(edges, aCol, bCol)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val deg = e.select(explode(array(col("x"), col("y"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("graft_deg"))
      val keep = deg.filter(col("graft_deg") >= k).select("n")
      val e2 = Materialize.transient(
        e.join(keep.withColumnRenamed("n", "x"), Seq("x"), "left_semi")
          .join(keep.withColumnRenamed("n", "y"), Seq("y"), "left_semi")
          .select("x", "y"))
      converged = e2.count() == e.count() // both pinned: counts are free-ish
      e = e2
      round += 1
    }
    require(converged,
      s"k-core peel did not converge within $maxRounds rounds — raise " +
        "maxRounds (and the replay's unroll depth) in step")
    e.select(explode(array(col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
  }

  /** Multi-seed BFS hop distances — the reachability/radius primitive
    * under the rest of the graph family (how far does influence spread
    * from a seed set; which nodes are k hops out): frontier expansion
    * with exact minimum hop counts. Each round joins the FRONTIER (not
    * the visited set) to the edge list, anti-joins everything already
    * visited, and labels survivors with the round number — so a node's
    * hop count is its true shortest distance, and per-round work tracks
    * the frontier, never the accumulated graph. Fixed `maxHops` rounds
    * (the unrolled-oracle discipline of [[labelPropagation]]); returns
    * the per-hop frontier profile (hops, n_nodes, min/max node) — the
    * exact expansion curve.
    *
    * Scale: per round ONE frontier-keyed join + one anti-join, both on
    * the node key; [[Materialize.transient]] pins each generation so
    * lineage stays one round deep (the Pregel discipline). Early-exits
    * when a frontier empties. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty && maxHops >= 1, "seeds and maxHops required")
    // dedupe: a repeated seed id would double-count n_nodes in the hops=0
    // row (and every visited anti-join after it)
    val seedIds = seeds.distinct
    val spark = edges.sparkSession
    import spark.implicits._
    val e = directedEdges(edges, srcCol, dstCol)
    var visited = Materialize.transient(
      seedIds.toDF("node").select(col("node").cast("long").as("node"),
        lit(0L).as("hops")))
    var frontier = visited.select("node")
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      val next = Materialize.transient(
        frontier.join(e, frontier("node") === e("graft_s"))
          .select(col("graft_d").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hops", lit(h + 1L)))
      if (next.isEmpty) done = true
      else {
        // next is already a pinned artifact; the running union over ≤maxHops
        // pinned frames stays LAZY (one localCheckpoint job per hop saved —
        // the anti-join below reads the same blocks either way).
        visited = visited.unionByName(next)
        frontier = next.select("node")
      }
      h += 1
    }
    visited.groupBy("hops")
      .agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .select(col("hops"), col("n_nodes").cast("long").as("n_nodes"),
        col("min_node").cast("long").as("min_node"),
        col("max_node").cast("long").as("max_node"))
  }

  /** Label-propagation community detection (Raghavan/Albert/Kumara,
    * Phys. Rev. E 2007) made ENGINE-PORTABLE and DETERMINISTIC: every
    * node starts labeled with its own id; each SYNCHRONOUS round every
    * node adopts the most frequent label among its neighbors, ties
    * broken to the SMALLEST label (the paper's asynchronous random-order
    * variant is irreproducible by design — the synchronous min-tiebreak
    * form gives one answer on any engine, so an unrolled SQL replay
    * reproduces every label bit-for-bit). `iters` fixed rounds, no
    * convergence test — near-cliques settle in 2-3 rounds and a fixed
    * unroll is what an oracle can replay. Input is UNDIRECTED pairs
    * (symmetrized + deduped here); self-loops dropped. Returns the topK
    * communities as (community = surviving label, n_members), size desc
    * then label asc.
    *
    * Scale: per round one neighbor-keyed join of the label table onto
    * the edge list, one (node, label) count, one per-node argmax window
    * (partitioned by node — bounded by the node's distinct neighbor
    * labels, never global). Same Pregel pin discipline as
    * [[pagerankPortable]]: cached edges and the [[generations]] loop, so
    * a 3-round propagation runs as one fused action. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       iters: Int, topK: Int): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    require(topK >= 1, "topK must be at least 1")
    val und = edges
      .select(col(aCol).cast("long").as("graft_a"),
        col(bCol).cast("long").as("graft_b"))
      .filter(col("graft_a") =!= col("graft_b") &&
        col("graft_a").isNotNull && col("graft_b").isNotNull)
    // Keyed by graft_b: the per-round label join keys on the NEIGHBOR
    // column, so the one spread exchange serves the dedup and every
    // round's edge-side join (see [[pagerankPortable]]'s src-keyed twin).
    val e = pin(graft.Tables.spreadBy(
        und.unionByName(und.select(col("graft_b").as("graft_a"),
          col("graft_a").as("graft_b"))), Seq(col("graft_b")))
      .distinct())
    val init = e.select(col("graft_a").as("node"))
      .distinct().withColumn("lbl", col("node"))
    generations(init, iters, e) { labels =>
      e.join(labels.withColumnRenamed("node", "graft_b"), "graft_b")
        .groupBy(col("graft_a").as("node"), col("lbl"))
        .agg(count(lit(1)).as("graft_c"))
        .withColumn("graft_rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("node")
            .orderBy(col("graft_c").desc, col("lbl").asc)))
        .filter(col("graft_rn") === 1)
        .select("node", "lbl")
    } { labels =>
      Materialize.artifact(labels
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).cast("long").as("n_members"))
        .orderBy(col("n_members").desc, col("community").asc)
        .limit(topK))
    }
  }

  /** Link prediction by common-neighbor evidence — rank NON-adjacent
    * pairs by how strongly the existing structure implies the missing
    * edge: `n_common` counts shared neighbors, `ra_micro` is the
    * resource-allocation index `Σ_z 10⁶ div deg(z)` over those shared
    * neighbors (Zhou/Lü/Zhang, EPJ B 2009 — RA consistently beats plain
    * CN and Adamic-Adar on dense graphs, and unlike AA it needs no
    * float log: exact integer floor division per wedge). The
    * recommender/auditor primitive: on a supplier↔part graph the top
    * pairs are the co-supply relationships the data says should exist.
    *
    * Hub intermediaries are EXCLUDED by `maxDeg` — a z with huge degree
    * contributes ~0 RA signal (10⁶ div deg rounds toward 0) yet deg²
    * wedge fan-out; dropping it bounds the pair join at
    * |nodes|·maxDeg² instead of the square of the hub degree (the
    * standard df-cap trade, same as [[Dedup]]'s maxDf). The cap is part
    * of the CONTRACT (scores are "RA over sub-maxDeg intermediaries"),
    * so the oracle replays it exactly.
    *
    * Scale: one dedup pass, one degree aggregate, one z-keyed wedge
    * self-join (bounded per z by maxDeg²), one (pair)-keyed sum, one
    * anti-join against the edge list, TakeOrdered topK. */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
                     maxDeg: Int, topK: Int): DataFrame = {
    require(maxDeg >= 2, "maxDeg must be at least 2")
    require(topK >= 1, "topK must be at least 1")
    val e0 = undirectedEdges(edges, aCol, bCol)
    val deg = e0.select(explode(array(col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("graft_deg"))
    val adj = e0.select(col("x").as("graft_z"), col("y").as("graft_v"))
      .unionByName(e0.select(col("y").as("graft_z"), col("x").as("graft_v")))
      .join(deg.filter(col("graft_deg") <= maxDeg)
        .select(col("n").as("graft_z"), col("graft_deg")), Seq("graft_z"))
    val adjP = Materialize.transient(adj)
    val w1 = adjP.select(col("graft_z"), col("graft_v").as("graft_v1"),
      col("graft_deg"))
    val w2 = adjP.select(col("graft_z"), col("graft_v").as("graft_v2"))
    val scored = w1.join(w2, Seq("graft_z"))
      .filter(col("graft_v1") < col("graft_v2"))
      .groupBy("graft_v1", "graft_v2")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div graft_deg")).as("ra_micro"))
    scored
      .join(e0, scored("graft_v1") === e0("x") &&
        scored("graft_v2") === e0("y"), "left_anti")
      .select(col("graft_v1").as("node_a"), col("graft_v2").as("node_b"),
        col("n_common").cast("long").as("n_common"),
        col("ra_micro").cast("long").as("ra_micro"))
      .orderBy(col("ra_micro").desc, col("n_common").desc,
        col("node_a").asc, col("node_b").asc)
      .limit(topK)
  }

  /** Harmonic closeness centrality for a SEED set within a hop radius —
    * the per-node importance reading next to [[bfsHops]]' global
    * expansion curve (reference recommendation.py:52 ranks entities by
    * aggregate affinity; harmonic closeness is that question asked of
    * the link structure): for each seed s, H(s) = Σ_{v≠s, d(s,v)≤maxHops}
    * 1/d(s,v), reported in exact integer micro-units (each reached node
    * contributes `1000000 div d` — floor division, engine-portable).
    * Harmonic (not classic) closeness so unreached nodes contribute 0
    * instead of forcing an infinite-distance convention (Boldi & Vigna,
    * "Axioms for centrality", Internet Math. 2014 — the variant that
    * stays well-defined on disconnected graphs).
    *
    * BFS runs PER SEED in one shared frontier table keyed by
    * (seed, node): per round ONE join of the frontier against the edge
    * list and ONE anti-join against the visited set — both keyed
    * shuffles, the [[bfsHops]] discipline, just seed-qualified. With k
    * seeds the frontier is at most k× the single-seed frontier; the
    * visited table never exceeds k × |V|. Edges are directed (pass both
    * directions for undirected semantics). */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty && maxHops >= 1, "seeds and maxHops required")
    val seedIds = seeds.distinct
    val spark = edges.sparkSession
    import spark.implicits._
    val e = directedEdges(edges, srcCol, dstCol)
    var visited = Materialize.transient(
      seedIds.toDF("seed").select(col("seed").cast("long").as("seed"),
        col("seed").as("node"), lit(0L).as("hops")))
    var frontier = visited.select("seed", "node")
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      val next = Materialize.transient(
        frontier.join(e, frontier("node") === e("graft_s"))
          .select(col("seed"), col("graft_d").as("node")).distinct()
          .join(visited, Seq("seed", "node"), "left_anti")
          .withColumn("hops", lit(h + 1L)))
      if (next.isEmpty) done = true
      else {
        // lazy running union over pinned hop frames — see [[bfsHops]].
        visited = visited.unionByName(next)
        frontier = next.select("seed", "node")
      }
      h += 1
    }
    visited.filter(col("hops") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div hops")).as("harmonic_micro"))
      .select(col("seed"), col("n_reached").cast("long").as("n_reached"),
        col("harmonic_micro").cast("long").as("harmonic_micro"))
  }

  /** Seed-sampled betweenness centrality (Brandes, J. Math. Sociol.
    * 2001, restricted to a seed set and a hop radius — exact Brandes
    * needs a BFS from EVERY node, which is the textbook non-starter at
    * scale; pivot sampling is the standard estimator, Brandes/Pich
    * 2007): which nodes sit ON the shortest paths between others — the
    * broker reading the degree/PageRank family can't give (a low-degree
    * bridge can carry every path between two communities).
    *
    * Per seed: the level-synchronous forward pass accumulates exact
    * path counts σ (σ_{l+1}(w) = Σ over DAG edges of σ_l(v), integers
    * in DECIMAL(38,0)); the backward pass folds dependencies
    * δ_v = Σ_{v→w, dist_w = dist_v+1} σ_v·(10⁶ + δ_w) div σ_w
    * — ONE documented floor per DAG edge, micro units, replayed
    * verbatim by the oracle's unrolled levels. A node's score is its
    * summed δ over seeds (the seed itself excluded; deepest-level
    * nodes contribute 0 by construction). Ties → lower node id.
    *
    * Scale: forward = one edge join + one (seed, node) sum per hop;
    * backward = the same joins in reverse over the ALREADY-bounded
    * level tables; levels are materialized once and reused (the
    * [[bfsHops]] pin discipline). Edges are directed — pass both
    * directions for undirected semantics. */
  def betweennessSeeded(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: Seq[Long], maxHops: Int,
                        topK: Int): DataFrame = {
    require(seeds.nonEmpty && maxHops >= 2, "seeds and maxHops >= 2 required")
    require(topK >= 1, "topK must be positive")
    val dec = "decimal(38,0)"
    val seedIds = seeds.distinct
    val spark = edges.sparkSession
    import spark.implicits._
    val e = directedEdges(edges, srcCol, dstCol)
    // forward: per-level (seed, node, sigma) frames
    val level0 = Materialize.transient(
      seedIds.toDF("seed").select(col("seed").cast("long").as("seed"),
        col("seed").as("node"), lit(1L).cast(dec).as("sigma")))
    var levels = Vector(level0)
    var visited = level0.select("seed", "node")
    var l = 0
    while (l < maxHops && !levels(l).isEmpty) {
      val next = Materialize.transient(
        levels(l).join(e, levels(l)("node") === e("graft_s"))
          .select(col("seed"), col("graft_d").as("node"), col("sigma"))
          .join(visited, Seq("seed", "node"), "left_anti")
          .groupBy("seed", "node")
          .agg(sum("sigma").as("sigma")))
      levels = levels :+ next
      // lazy running union over pinned level frames — see [[bfsHops]].
      visited = visited.unionByName(next.select("seed", "node"))
      l += 1
    }
    val deepest = levels.length - 1
    // backward: delta over DAG edges, deepest level seeds zero
    var delta = levels(deepest).select(col("seed"), col("node"),
      lit(0L).cast(dec).as("graft_delta"))
    var contrib = delta.filter(lit(false)) // empty accumulator, same schema
    var bl = deepest - 1
    while (bl >= 0) {
      val child = levels(bl + 1)
        .join(delta, Seq("seed", "node"))
        .select(col("seed"), col("node").as("graft_w"),
          col("sigma").as("graft_sw"), col("graft_delta").as("graft_dw"))
      val d = levels(bl)
        .join(e, levels(bl)("node") === e("graft_s"))
        .join(child, col("graft_d") === child("graft_w") &&
          levels(bl)("seed") === child("seed"))
        .select(levels(bl)("seed"), col("node"),
          expr("CAST(sigma * (1000000 + graft_dw) div graft_sw" +
            s" AS $dec)").as("graft_t"))
        .groupBy("seed", "node")
        .agg(sum("graft_t").as("graft_delta"))
      delta = Materialize.transient(levels(bl)
        .join(d, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"),
          coalesce(col("graft_delta"), lit(0L).cast(dec))
            .as("graft_delta")))
      if (bl >= 1) contrib = contrib.unionByName(delta)
      bl -= 1
    }
    contrib
      .groupBy("node")
      .agg(sum("graft_delta").as("graft_bc"))
      .select(col("node"), col("graft_bc").cast("long").as("bc_micro"))
      .orderBy(col("bc_micro").desc, col("node").asc)
      .limit(topK)
  }

  /** Parent-pointer hierarchy flattening — the dimension-table classic
    * (org chart, category tree, BOM): from an adjacency (id, parent)
    * column pair, derive per node its ROOT, DEPTH, and materialized
    * PATH (root/…/id) — the columns every rollup over a hierarchy
    * joins against instead of walking pointers per query. Root nodes
    * have a NULL parent.
    *
    * The walk is `maxDepth` level joins (the [[bfsHops]] discipline:
    * one broadcast-or-shuffle join per level over the node table, never
    * an all-pairs closure); a hierarchy deeper than `maxDepth` — or a
    * CYCLE, which no finite depth exhausts — fails the post-walk
    * assert_true instead of silently truncating paths. Real dimension
    * hierarchies are ≤ 20 deep; past that, pointer doubling (log d
    * rounds, the [[Components]] machinery) is the drop-in upgrade.
    *
    * Scale: node-table-sized state re-keyed per level, parents table
    * materialized once; everything else codegen'd string/long arithmetic. */
  def hierarchyFlatten(nodes: DataFrame, idCol: String, parentCol: String,
                       maxDepth: Int = 16): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "maxDepth must be in 1..64")
    val parents = Materialize.transient(
      nodes.select(col(idCol).cast("long").as("graft_pid"),
        col(parentCol).cast("long").as("graft_pparent")))
    var state = nodes
      .select(col(idCol).cast("long").as("graft_id"),
        col(parentCol).cast("long").as("graft_cur0"))
      .select(col("graft_id"),
        coalesce(col("graft_cur0"), col("graft_id")).as("graft_cur"),
        when(col("graft_cur0").isNotNull, 1L).otherwise(0L).as("graft_depth"),
        when(col("graft_cur0").isNotNull,
          concat_ws("/", col("graft_cur0").cast("string"),
            col("graft_id").cast("string")))
          .otherwise(col("graft_id").cast("string")).as("graft_path"))
    var i = 0
    while (i < maxDepth) {
      state = Materialize.transient(state
        .join(parents, state("graft_cur") === parents("graft_pid"), "left")
        .select(col("graft_id"),
          coalesce(col("graft_pparent"), col("graft_cur")).as("graft_cur"),
          (col("graft_depth") +
            when(col("graft_pparent").isNotNull, 1L).otherwise(0L))
            .as("graft_depth"),
          when(col("graft_pparent").isNotNull,
            concat_ws("/", col("graft_pparent").cast("string"),
              col("graft_path")))
            .otherwise(col("graft_path")).as("graft_path")))
      i += 1
    }
    // a node still holding a parented ancestor after maxDepth levels is
    // a too-deep chain or a cycle — loud failure, never a wrong path
    state
      .join(parents, state("graft_cur") === parents("graft_pid"), "left")
      .filter(assert_true(col("graft_pparent").isNull,
        lit(s"hierarchyFlatten: depth > $maxDepth or a parent cycle — " +
          "raise maxDepth or fix the pointers")).isNull)
      .select(col("graft_id").as(idCol),
        col("graft_cur").as("root_id"),
        col("graft_depth").cast("long").as("depth"),
        col("graft_path").as("path"))
  }
}
