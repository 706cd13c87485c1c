package graft.operators

import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a single broadcast of the query
  * vector and one narrow scan + TakeOrderedAndProject; at 100 TB this is
  * the "exact but expensive" path. Scale path: random-projection LSH
  * buckets prefilter candidates so only matching-bucket rows are scored.
  */
object Similarity {

  /** Top-k rows by cosine similarity to the embedding of `queryId`.
    * The 1-row query vector is broadcast; ranking uses the rounded score
    * with an id tiebreak for determinism. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("graft_qv")).limit(1)
    emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /** Filtered (constrained) vector search — top-k nearest UNDER a
    * predicate, the "same-label / same-tenant / in-stock only" retrieval
    * shape every production vector store exposes. Pre-filtering is the
    * exact variant (post-filtering an unfiltered top-k can starve below
    * k); the predicate pushes into the corpus scan BEFORE any scoring,
    * so selective filters also cut the scoring work — with a
    * label-partitioned layout the filter prunes whole files. Scoring and
    * ranking identical to [[cosineTopK]]. */
  def cosineTopKFiltered(emb: DataFrame, idCol: String, vecCol: String,
                         queryId: Long, k: Int,
                         predicate: Column): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("graft_qv")).limit(1)
    emb.filter(predicate)
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /** Batched exact top-k: every query in `queryIds` gets its k nearest
    * corpus rows in ONE corpus scan — the realistic retrieval shape
    * (thousands of probes against one index) where looping [[cosineTopK]]
    * would rescan the corpus per query. The query set broadcasts
    * (O(|queries|·dim), an index-artifact size, never corpus-sized), the
    * corpus side stays a narrow scan, and per-query ranking is one
    * row_number window over (query, rounded score, id) — the only shuffle
    * is on the query key, carrying corpus×|queries| scored pairs at most,
    * which AQE splits on skew. Scoring is identical to [[cosineTopK]], so
    * the DuckDB oracle (q85) replays it per query. */
  def cosineTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                      queryIds: Seq[Long], k: Int): DataFrame = {
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("graft_qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"))
  }

  /** Matryoshka (prefix-dimension) retrieval agreement — "how many
    * dimensions does retrieval actually need": per query, the exact
    * top-k under the FULL embedding vs the top-k under its first
    * `mDims` dimensions, reported as overlap@k in floor-ppm. The
    * dimension-truncation eval an embedding pipeline runs before
    * shipping shorter vectors (MRL-style); both rankings are the q85
    * batch shape (ONE corpus scan each, broadcast query set, rounded
    * score + id tiebreak), so the whole readout hash-checks. */
  def prefixDimAgreement(emb: DataFrame, idCol: String, vecCol: String,
                         queryIds: Seq[Long], k: Int, mDims: Int): DataFrame = {
    require(mDims >= 1, "mDims must be at least 1")
    val full = cosineTopKBatch(emb, idCol, vecCol, queryIds, k)
      .select(col("query_id"), col(idCol))
    val prefix = cosineTopKBatch(
      emb.withColumn(vecCol, slice(col(vecCol), 1, mDims)),
      idCol, vecCol, queryIds, k)
      .select(col("query_id"), col(idCol))
    full.join(prefix, Seq("query_id", idCol))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        expr(s"n_overlap * 1000000 div ${k}L").as("overlap_ppm"))
  }

  /** The RBO depth weights as exact nano integers:
    * W_d = ⌊10⁹·(1−p)·p^(d−1)⌋ with p = pMilli/1000 — computed in exact
    * decimal BigInt arithmetic ((1000−pMilli)·pMilli^(d−1)·10⁹ div
    * 1000^d), so the operator and any external replay share the SAME
    * literal table. Public because the oracle interpolates it. */
  def rboWeightsNano(k: Int, pMilli: Long): Seq[Long] = {
    require(k >= 1 && pMilli >= 1 && pMilli <= 999,
      "k >= 1 and 1 <= pMilli <= 999 required")
    (1 to k).map { d =>
      ((BigInt(1000 - pMilli) * BigInt(pMilli).pow(d - 1) *
        BigInt(10).pow(9)) / BigInt(1000).pow(d)).toLong
    }
  }

  /** Rank-Biased Overlap between the full-dimension and
    * prefix-dimension retrievals — the RANK-WEIGHTED refinement of
    * [[prefixDimAgreement]]'s overlap@k (Webber/Moffat/Zobel, TOIS
    * 2010): two rankings can share 8 of 10 items yet disagree entirely
    * about which come FIRST; RBO weights each prefix depth d by
    * (1−p)·p^(d−1), so early-rank agreement dominates — the eval that
    * decides whether shipping `mDims`-dim vectors preserves what users
    * actually see at the top.
    *
    * Truncated-RBO contract (exact by construction): an item shared by
    * both rankings ENTERS the overlap at depth max(rank_A, rank_B);
    * ov_d = |A_{1..d} ∩ B_{1..d}|;
    * rbo_micro = (Σ_{d≤k} W_d·ov_d div d) div 1000 with the
    * [[rboWeightsNano]] literals — one floor per depth term, replayed
    * verbatim. Both rankings are the q85 batch shape (one corpus scan
    * each, rounded cosine + id tiebreak), so every rank is
    * deterministic and the whole readout hash-checks.
    *
    * Scale: the per-query work after the two scans is ≤ k² rows (entry
    * depth fan-out), grouped per (query, depth) — broadcast-sized. */
  def rboAgreement(emb: DataFrame, idCol: String, vecCol: String,
                   queryIds: Seq[Long], k: Int, mDims: Int,
                   pMilli: Long = 900L): DataFrame = {
    require(mDims >= 1, "mDims must be at least 1")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    def ranked(e: DataFrame, rnName: String): DataFrame = {
      val q = e.filter(col(idCol).isin(queryIds: _*))
        .select(col(idCol).as("query_id"), col(vecCol).as("graft_qv"))
      e.crossJoin(broadcast(q))
        .filter(col(idCol) =!= col("query_id"))
        .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
        .withColumn(rnName, row_number().over(w).cast("long"))
        .filter(col(rnName) <= k)
        .select(col("query_id"), col(idCol), col(rnName))
    }
    val full = ranked(emb, "graft_ra")
    val prefix = ranked(
      emb.withColumn(vecCol, slice(col(vecCol), 1, mDims)), "graft_rb")
    val wNano = typedLit(rboWeightsNano(k, pMilli))
    val agg = full.join(prefix, Seq("query_id", idCol))
      .withColumn("graft_d",
        explode(sequence(greatest(col("graft_ra"), col("graft_rb")),
          lit(k.toLong))))
      .groupBy("query_id", "graft_d")
      .agg(count(lit(1)).as("graft_ov"))
      .withColumn("graft_w", wNano)
      .groupBy("query_id")
      .agg(sum(expr("element_at(" +
        "graft_w, CAST(graft_d AS INT)) * graft_ov div graft_d"))
        .as("graft_nano"),
        max(when(col("graft_d") === k, col("graft_ov"))).as("graft_ovk"))
    // A query whose two top-k lists share ZERO items produces no join
    // rows — exactly the total-disagreement case the metric exists to
    // flag. Left-join from the requested id list so it reports
    // rbo_micro = 0 / n_overlap = 0 instead of vanishing.
    emb.sparkSession.range(1)
      .select(explode(typedLit(queryIds)).as("query_id"))
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("graft_ovk"), lit(0L)).as("n_overlap"),
        coalesce(expr("graft_nano div 1000"), lit(0L)).as("rbo_micro"))
  }

  /** kNN label-noise audit — Confident-Learning-style curation screen:
    * for each PROBE point (a deterministic sample — auditing every
    * point is inherently all-pairs; the production path samples or
    * rides the IVF batch), the fraction of its k nearest neighbors
    * sharing its label, summarized per label as mean agreement and the
    * count of suspect probes (strict-minority agreement, 2·matches <
    * k). Low agreement flags mislabeled or degenerate embeddings.
    * Probe set broadcasts (sample-sized); ONE corpus scan scores all
    * probes; exact integers end to end. */
  def labelAgreement(emb: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, probePred: Column, k: Int): DataFrame = {
    val q = emb.filter(probePred)
      .select(col(idCol).as("query_id"), col(vecCol).as("graft_qv"),
        col(labelCol).as("graft_qlabel"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    val perProbe = emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") <= k)
      .groupBy(col("query_id"), col("graft_qlabel"))
      .agg(sum((col(labelCol) === col("graft_qlabel")).cast("long"))
        .as("graft_match"))
    perProbe.groupBy(col("graft_qlabel").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        expr(s"sum(graft_match) * 1000000 div (count(1) * ${k}L)")
          .as("agreement_ppm"),
        sum((col("graft_match") * 2 < k).cast("long")).as("n_suspect"))
  }

  /** Deterministic random-projection bucket id: sign bits of `nBits` fixed
    * pseudo-random hyperplanes. The "hyperplane" for bit j uses weights
    * w_ij = sin(i·(j+1)) — fixed, seedless, and computable identically on
    * any engine. Rows in the same bucket are ANN candidates. */
  def projectionBucket(vecCol: Column, dim: Int, nBits: Int): Column =
    (0 until nBits).map { j =>
      val proj = aggregate(
        zip_with(vecCol,
          array((0 until dim).map(i => lit(math.sin(i.toDouble * (j + 1)))): _*),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** IVF (inverted-file) ANN index: coarse KMeans centroids partition the
    * corpus into `nLists` cells; a query probes only the `nProbe` nearest
    * cells. This is the classic FAISS-style scale path: candidate count
    * drops to ~n·nProbe/nLists, the cell assignment is a narrow ML
    * transform, and the centroid table is tiny (nLists × dim) — an index
    * artifact, not data. */
  /** @param cached the persisted feature projection backing `assigned`
    *   while the index is live; [[ivfIndex]] fills it, [[loadIndex]] leaves
    *   it empty (a loaded index reads its own parquet). Call [[release]]
    *   when done probing — a later action on a returned probe result just
    *   recomputes the narrow scan+assign chain once. */
  final case class IvfIndex(assigned: DataFrame,
                            centers: Array[(Int, Array[Double])],
                            cached: Option[DataFrame] = None) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
               nLists: Int, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.functions.array_to_vector
    // The KMeans fit makes init + maxIter full passes over the vectors;
    // pin the projection so each pass reads cached blocks instead of
    // re-reading parquet and re-converting arrays (the r2 bench showed the
    // uncached fit as the slowest query once block-manager pressure grew).
    val feats = emb.withColumn("graft_vec",
      array_to_vector(col(vecCol).cast("array<double>")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(seed).setMaxIter(10)
      // One k-means|| init round: coarse IVF cells don't benefit from the
      // refined init, and each init step is a full distributed pass.
      .setInitSteps(1)
      .setFeaturesCol("graft_vec").setPredictionCol("graft_cell")
      .fit(feats)
    val assigned = model.transform(feats).drop("graft_vec")
    val centers = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    IvfIndex(assigned, centers, Some(feats))
  }

  /** Incremental IVF maintenance: assign NEW vectors to the EXISTING
    * centroids (no refit) and append — the build-once/append-many index
    * lifecycle a continuously-ingesting corpus needs. Assignment is a
    * narrow map via the native [[graft.functions.PqAssign]] with the
    * centroid set as a single one-subspace codebook (argmax of x·c −
    * |c|²/2 = the same Euclidean argmin KMeans assignment uses), so an
    * append never re-reads the existing corpus. Centroids drift only on
    * periodic rebuilds, exactly like any production IVF deployment. */
  def ivfAppend(index: IvfIndex, newRows: DataFrame, vecCol: String): IvfIndex = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cb = Array(index.centers.sortBy(_._1).map(_._2))
    val assigned = newRows.withColumn("graft_cell",
      element_at(ColumnBridge.column(graft.functions.PqAssign(
        ColumnBridge.expression(col(vecCol).cast("array<double>")), cb)), 1))
    IvfIndex(index.assigned.unionByName(assigned), index.centers, index.cached)
  }

  /** Persist an IVF index: cell assignments as parquet PARTITIONED BY the
    * cell id, centroids as a tiny side table. Partitioning by cell is the
    * point — a probe filters on `graft_cell IN (...)`, which prunes whole
    * directories at planning time, so a 100 TB corpus reads only
    * ~nProbe/nLists of its files. Build once, probe many. */
  def saveIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.assigned.write.mode("overwrite")
      .partitionBy("graft_cell").parquet(s"$path/cells")
    index.centers.toSeq.toDF("cell", "center")
      .write.mode("overwrite").parquet(s"$path/centers")
  }

  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val assigned = graft.Tables.parquet(spark, s"$path/cells")
    val centers = graft.Tables.parquet(spark, s"$path/centers").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    IvfIndex(assigned, centers)
  }

  /** Top-k by cosine among rows in the `nProbe` cells whose centroids are
    * closest to the query vector. Centroid ranking is driver-side (the
    * centroid table is an O(nLists·dim) index artifact). */
  def ivfTopK(index: IvfIndex, idCol: String, vecCol: String,
              queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val qRow = index.assigned.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head()
    val qv = qRow.getSeq[Double](0).toArray
    def dist2(c: Array[Double]): Double =
      c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
    val probes = index.centers.sortBy { case (_, c) => dist2(c) }
      .take(nProbe).map(_._1)
    val qvCol = array(qv.map(lit): _*)
    index.assigned
      .filter(col("graft_cell").isin(probes: _*) && col(idCol) =!= queryId)
      .withColumn("cos", round(V.cosine(col(vecCol), qvCol), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /** Batched IVF probe: every query in `queryIds` retrieves its top-k in
    * ONE pass over the index — the production retrieval shape (a probe
    * batch of thousands against a built-once index) where looping
    * [[ivfTopK]] would launch a job per query. Driver work stays
    * index-artifact-sized: the query vectors (|queries|·dim) rank the
    * centroid table per query, producing a (query, probe-cell) table that
    * BROADCASTS back onto the corpus scan. The scan reads only the UNION
    * of probed cells — against a [[saveIndex]]-persisted index that is
    * partition pruning, so cost tracks distinct probed cells, not corpus
    * size — and each corpus row joins only the queries probing its cell
    * (fan-out ≤ |queries|, bounded by the broadcast). One row_number
    * window on the query key finishes. With nProbe = nLists the probe
    * set is every cell and the result is EXACTLY [[cosineTopKBatch]]
    * (same rounded score + id tiebreak) with the index plan shape —
    * q98's oracle replays that; recall at nProbe < nLists is
    * spec-pinned. */
  def ivfTopKBatch(index: IvfIndex, idCol: String, vecCol: String,
                   queryIds: Seq[Long], k: Int, nProbe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val qvs = index.assigned.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probeRows = qvs.toSeq.flatMap { case (qid, qv) =>
      def dist2(c: Array[Double]): Double =
        c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
      index.centers.sortBy { case (_, c) => dist2(c) }.take(nProbe)
        .map { case (cell, _) => (qid, cell, qv.toSeq) }
    }
    val probed = probeRows.toDF("query_id", "graft_cell", "graft_qv")
    val cellIds = probeRows.map(_._2).distinct
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    index.assigned
      .filter(col("graft_cell").isin(cellIds: _*))
      .join(broadcast(probed), Seq("graft_cell"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"))
  }

  /** Per-cell angular radius stats for exactness-guaranteed probing: the
    * minimum cosine between any member and its cell centroid (= the cell's
    * maximum member angle). One aggregate over the assignments with a
    * broadcast centroid lookup, collected driver-side — an O(nLists) index
    * artifact like the centroid table itself; at corpus scale this is one
    * extra map-side pass at index-build time. */
  def cellMinCos(index: IvfIndex, vecCol: String): Map[Int, Double] = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val centersDf = index.centers.toSeq.toDF("graft_cell", "graft_center")
    index.assigned
      .join(broadcast(centersDf), "graft_cell")
      .groupBy(col("graft_cell"))
      .agg(min(V.cosine(col(vecCol), col("graft_center"))).as("min_cos"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** EXACT top-k via adaptive IVF probing: cells are probed in descending
    * best-possible-cosine order until the running k-th best (rounded) score
    * provably dominates every unprobed cell. The bound is the spherical
    * triangle inequality — for any member x of a cell with centroid c and
    * angular radius r = max_x angle(x, c):
    * angle(q, x) >= angle(q, c) - r, hence cos(q, x) <= cos(max(0, angle(q,c) - r)).
    *
    * The result is guaranteed identical to [[cosineTopK]] (same rounded
    * score + id tiebreak ordering — the cut is widened by the 6-dp rounding
    * half-step plus an fp-error margin, so boundary ties can't be lost),
    * but reads only the cells whose bound reaches the cut. Against a
    * [[saveIndex]]-persisted index the cell filter is partition pruning, so
    * a 100 TB corpus reads a handful of cell directories; on clustered
    * real-world embeddings the probe count stays near the classic nProbe
    * while exactness is a proof instead of a recall target. Probe-loop
    * actions are driver-side but touch only centroid-count-sized metadata
    * plus k-row score quantiles — no data collects. */
  def ivfTopKExact(index: IvfIndex, idCol: String, vecCol: String,
                   queryId: Long, k: Int): DataFrame =
    ivfTopKExactImpl(index, idCol, vecCol, queryId, k, lit(true))._1

  /** FILTERED exact IVF search — [[cosineTopKFiltered]]'s semantics with
    * [[ivfTopKExact]]'s plan: the predicate is applied INSIDE the
    * cell-pruned scans, below scoring, so selective filters cut scoring
    * work and the probe loop ranks only eligible rows. Exactness
    * survives filtering unchanged: the per-cell bound caps the cosine of
    * EVERY member, so it caps the filtered subset too — the cut can stop
    * early but never wrongly (a filtered running top-k is lower, which
    * only widens probing, never narrows it). Guaranteed equal to
    * pre-filtered brute force (q207's oracle). */
  def ivfTopKExactFiltered(index: IvfIndex, idCol: String, vecCol: String,
                           queryId: Long, k: Int,
                           predicate: Column): DataFrame =
    ivfTopKExactImpl(index, idCol, vecCol, queryId, k, predicate)._1

  /** Core of the exact probe loop; also returns the probed cell list so
    * specs can pin that pruning survives a pushed predicate. */
  private[graft] def ivfTopKExactImpl(index: IvfIndex, idCol: String,
                                      vecCol: String, queryId: Long, k: Int,
                                      predicate: Column): (DataFrame, Seq[Int]) = {
    // Read through an explicit array<double> cast so the index works over
    // both float and double embedding columns (float→double is exact).
    val qRow = index.assigned.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head()
    val qv = qRow.getSeq[Double](0).toArray
    val qvCol = array(qv.map(lit): _*)
    val qn = math.sqrt(qv.map(x => x * x).sum)
    def clamp(x: Double) = math.max(-1.0, math.min(1.0, x))
    val minCos = cellMinCos(index, vecCol)
    // Best achievable cosine per cell, descending.
    val bounds = index.centers.map { case (cell, c) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      val cosQC = clamp(c.zip(qv).map { case (a, b) => a * b }.sum / (qn * cn))
      val thetaQC = math.acos(cosQC)
      val r = math.acos(clamp(minCos.getOrElse(cell, -1.0)))
      val bound = if (thetaQC <= r) 1.0 else math.cos(thetaQC - r)
      (cell, bound)
    }.sortBy(-_._2)
    // Running top-k of ROUNDED scores (the output ranks on the rounded
    // value, so the stopping cut must too), maintained as a driver-side
    // min-heap merged INCREMENTALLY: each admitted cell batch is scanned
    // exactly once (one Spark job over just those cells) and contributes
    // its per-cell top-k rows to the heap — the per-cell top-k retains
    // every global-top-k candidate, so the heap's k-th value equals a
    // top-k over everything probed so far, at O(probed-data) total cost
    // instead of O(rounds × probed-data).
    val heap = scala.collection.mutable.PriorityQueue
      .empty[Double](Ordering[Double].reverse) // min at head
    def admitScan(cells: Seq[Int]): Unit = {
      index.assigned
        .filter(col("graft_cell").isin(cells: _*) && col(idCol) =!= queryId)
        .filter(predicate)
        .select(round(V.cosine(col(vecCol), qvCol), 6).as("c"))
        .orderBy(col("c").desc).limit(k).collect()
        .foreach { r =>
          heap.enqueue(r.getDouble(0))
          if (heap.size > k) heap.dequeue()
        }
    }
    def kthRounded: Option[Double] =
      if (heap.size < k) None else Some(heap.head)
    // Margin: a row rounding to the cut value can sit 5e-7 below it
    // (half-step of round-6), and the driver-side bound arithmetic carries
    // ~1e-15 fp error — 1e-9 covers it comfortably.
    val margin = 5e-7 + 1e-9
    var probed = Vector(bounds.head._1)
    admitScan(probed)
    var frontier = bounds.tail.toVector
    var done = frontier.isEmpty
    while (!done) {
      val admit = kthRounded match {
        case None => frontier.take(1) // fewer than k candidates yet
        case Some(cut) => frontier.takeWhile(_._2 >= cut - margin)
      }
      if (admit.isEmpty) done = true
      else {
        admitScan(admit.map(_._1))
        probed ++= admit.map(_._1)
        frontier = frontier.drop(admit.length)
        done = frontier.isEmpty
      }
    }
    val out = index.assigned
      .filter(col("graft_cell").isin(probed: _*) && col(idCol) =!= queryId)
      .filter(predicate)
      .withColumn("cos", round(V.cosine(col(vecCol), qvCol), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
    (out, probed)
  }

  /** Per-label centroid outliers — embedding-quality screening: for each
    * label, the `k` members least cosine-similar to the label's centroid
    * (mislabeled/degenerate embedding candidates in a training corpus).
    *
    * Exactness across engines: member vectors are quantized to integers
    * via `floor(x·1000 + 0.5)` (floor has no rounding-mode ambiguity,
    * unlike round's HALF_UP-vs-HALF_EVEN divergence on .5 ties), and the
    * centroid is the per-position integer SUM, not the mean — same
    * direction, and integer sums are order-independent, so every dot
    * product/norm below 2^53 is exact in double on any engine and the
    * cosine is bit-identical. Plan: one posexplode + (label,pos) partial
    * aggregate for the centroid (O(labels·dim) result, broadcast back),
    * then a narrow cosine + per-label top-k window. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, k: Int): DataFrame = {
    val scaled = emb.select(col(labelCol).as("label"), col(idCol).as("vec_id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * 1000.0 + lit(0.5)).cast("long")).as("v"))
    val centroid = scaled
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(sum(col("x")).as("cx"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx")).as("c"))
    val w = Window.partitionBy("label").orderBy(col("cos").asc, col("vec_id").asc)
    scaled.join(broadcast(centroid), Seq("label"))
      .withColumn("cos",
        V.cosine(col("v").cast("array<double>"), col("c").cast("array<double>")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("label"), col("vec_id"), col("cos"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Product-quantization index — the compression scale path: each vector
    * is split into `m` subvectors; per subspace a small KMeans codebook
    * (k centroids) is fit and every subvector stored as its nearest
    * centroid id. A 64-dim float vector (256 B) becomes `m` small ints
    * (~8 B): the approximate-scoring scan reads ~30× less data, which at
    * 100 TB is the difference between scanning the corpus and scanning an
    * index. Codebooks are an O(m·k·dsub) driver-side artifact (like the
    * IVF centroid table).
    *
    * @param codes  (id, norm, codes array<int>[m]) — norms are EXACT (from
    *               the original vectors) so the re-rank denominator is not
    *               approximated.
    * @param codebooks codebooks(j)(c) = centroid c of subspace j. */
  final case class PqIndex(codes: DataFrame,
                           codebooks: Array[Array[Array[Double]]],
                           m: Int, dsub: Int,
                           cached: Option[DataFrame] = None) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** Plain seeded Lloyd iterations over an in-memory point set — codebook
    * training for [[pqIndex]]. Deterministic (seeded shuffle init, empty
    * clusters keep their previous center). */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
                    seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "lloyd: empty training set")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    var centers = rnd.shuffle(points.distinct.toVector)
      .take(math.min(k, points.distinct.length)).map(_.clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Int](centers.length)
      for (p <- points) {
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < centers.length) {
          var dist = 0.0; var i = 0
          while (i < dim) { val d = p(i) - centers(ci)(i); dist += d * d; i += 1 }
          if (dist < bestD) { bestD = dist; best = ci }
          ci += 1
        }
        counts(best) += 1
        val s = sums(best); var i = 0
        while (i < dim) { s(i) += p(i); i += 1 }
      }
      centers = centers.indices.map { ci =>
        if (counts(ci) == 0) centers(ci) else sums(ci).map(_ / counts(ci))
      }.toArray
    }
    centers
  }

  def pqIndex(emb: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 8, k: Int = 32, seed: Long = 42L,
              maxTrain: Int = 100000): PqIndex = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    // Codebooks train DRIVER-SIDE on a sample whose ABSOLUTE size is
    // bounded by `maxTrain` — the standard PQ recipe (FAISS trains its
    // quantizers on a bounded in-memory sample regardless of corpus size):
    // codebook quality saturates long before the corpus is exhausted. The
    // sample is hash-ordered (xxhash64 of the id, id tiebreak), so it is
    // deterministic, uniform over the corpus, and independent of
    // partitioning; orderBy+limit compiles to TakeOrderedAndProject, so
    // executors keep only maxTrain rows each and the driver artifact is
    // O(maxTrain·dim) at ANY corpus size. Only assignment and scoring
    // touch the corpus, and both are distributed.
    val sample = emb
      .select(xxhash64(col(idCol)).as("graft_h"), col(idCol).as("graft_id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("graft_h").asc, col("graft_id").asc)
      .limit(maxTrain)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val codebooks = Array.tabulate(m) { j =>
      lloyd(sample.map(_.slice(j * dsub, (j + 1) * dsub)), k,
        iters = 10, seed = seed + j)
    }
    // Distributed assignment via the native PqAssign expression (all m
    // codes in one tight-loop call — a composed-Column argmax would build
    // m·k separate dot expression trees and pay seconds of codegen).
    // The codes table (id, norm, m small ints) IS the index — persist it;
    // probes scan it instead of re-deriving codes from the vectors.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val codes = emb.select(col(idCol).as("id"),
      V.norm(col(vecCol)).as("norm"),
      ColumnBridge.column(graft.functions.PqAssign(
        ColumnBridge.expression(col(vecCol).cast("array<double>")),
        codebooks)).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PqIndex(codes, codebooks, m, dsub, Some(codes))
  }

  /** Persist a PQ index: the codes table as parquet plus the codebooks as
    * a tiny nested side table — build once, probe many (the probe reads
    * ~8 B/vector codes, never the vectors; [[pqTopK]]'s re-rank reads the
    * original store for `refine` rows only). */
  def savePqIndex(index: PqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    index.codebooks.zipWithIndex
      .flatMap { case (cb, j) => cb.zipWithIndex.map { case (c, i) =>
        (j, i, c.toSeq) } }.toSeq
      .toDF("subspace", "centroid", "weights")
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  path: String): PqIndex = {
    val codes = graft.Tables.parquet(spark, s"$path/codes")
    val rows = graft.Tables.parquet(spark, s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val codebooks = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    val dsub = if (codebooks.isEmpty || codebooks(0).isEmpty) 0
      else codebooks(0)(0).length
    PqIndex(codes, codebooks, codebooks.length, dsub)
  }

  /** ANN top-k via asymmetric-distance PQ scoring with exact re-rank:
    * the query builds one m×k lookup table of subspace dot products
    * (driver-side, O(m·k·dsub)); the approximate score of a stored vector
    * is `Σ_j T[j][code_j] / (|q|·|x|)` — a pure lookup-sum over the codes
    * table, no vector data read. The best `refine` candidates are then
    * re-scored exactly against their full vectors and the top `k`
    * returned. With refine ≫ k the result matches brute force on all but
    * adversarial distributions; DedupRecallSpec-style recall is held by
    * SimilaritySpec. The candidate id set is refine-bounded (an index
    * artifact, not data). */
  def pqTopK(index: PqIndex, emb: DataFrame, idCol: String, vecCol: String,
             queryId: Long, k: Int, refine: Int = 100): DataFrame = {
    // Cast-read the query vector so an index built over array<double>
    // embeddings probes without a ClassCastException (and float columns
    // widen exactly) — same read path as pqIndex's own cast.
    val qv = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val qn = math.sqrt(qv.map(x => x * x).sum)
    // LUT: T[j][c] = dot(q_j, centroid_{j,c})
    val lut = index.codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (w, i) =>
        w * qv(j * index.dsub + i) }.sum)
    }
    val approx = (0 until index.m).map { j =>
      element_at(array(lut(j).map(lit): _*), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _) / (col("norm") * qn)
    val candidates = index.codes
      .filter(col("id") =!= queryId)
      .withColumn("graft_approx", approx)
      .orderBy(col("graft_approx").desc, col("id").asc)
      .limit(refine)
      .select(col("id"))
    // Exact re-rank of the refine-bounded candidate set.
    emb.join(broadcast(candidates), col(idCol) === col("id"))
      .withColumn("cos", round(V.cosine(col(vecCol),
        array(qv.map(lit): _*)), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  // ---- IVF-PQ composed index (the FAISS IVFPQ recipe) ----

  /** IVF cells + per-cell RESIDUAL product-quantization codes — the
    * memory/recall operating point production 100 TB retrieval actually
    * runs: the coarse quantizer prunes the scan to ~nProbe/nLists of the
    * corpus (partition pruning when persisted), and within probed cells
    * the ADC scan reads ~(4+m) B/vector codes instead of the vectors.
    * Codes quantize x − c(cell) (residuals, shared codebooks across
    * cells — FAISS's default), which spends the codebook's resolution on
    * the within-cell variation instead of re-encoding cell centroids.
    *
    * @param codes (id, graft_cell, norm, codes array<int>[m]); norms are
    *   EXACT so re-rank denominators are not approximated. */
  final case class IvfPqIndex(codes: DataFrame,
                              centers: Array[(Int, Array[Double])],
                              codebooks: Array[Array[Array[Double]]],
                              m: Int, dsub: Int,
                              cached: Option[DataFrame] = None) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  def ivfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                 dim: Int, nLists: Int = 16, m: Int = 8, k: Int = 32,
                 seed: Long = 42L, maxTrain: Int = 100000): IvfPqIndex = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val ivf = ivfIndex(emb, idCol, vecCol, nLists, seed)
    val ctrs = ivf.centers.sortBy(_._1).map(_._2)
    // Residual training sample: bounded, deterministic, uniform — the
    // same hash-ordered TakeOrdered recipe as pqIndex's (driver artifact
    // stays O(maxTrain·dim) at any corpus size).
    val sample = ivf.assigned
      .select(xxhash64(col(idCol)).as("graft_h"), col(idCol).as("graft_id"),
        col("graft_cell").as("graft_c"),
        col(vecCol).cast("array<double>").as("graft_v"))
      .orderBy(col("graft_h").asc, col("graft_id").asc)
      .limit(maxTrain)
      .select("graft_c", "graft_v").collect()
      .map { r =>
        val c = ctrs(r.getInt(0)); val v = r.getSeq[Double](1).toArray
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
    val codebooks = Array.tabulate(m) { j =>
      lloyd(sample.map(_.slice(j * dsub, (j + 1) * dsub)), k,
        iters = 10, seed = seed + j)
    }
    // Distributed residual encode: residual = zip_with(v, centers[cell])
    // with the centroid table as ONE literal array artifact, then the
    // native PqAssign tight loop — a single narrow projection.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val centersLit = array(ctrs.map(c => array(c.map(lit): _*)): _*)
    val resid = zip_with(col(vecCol).cast("array<double>"),
      element_at(centersLit, col("graft_cell") + 1), (a, b) => a - b)
    val codes = ivf.assigned.select(col(idCol).as("id"), col("graft_cell"),
      V.norm(col(vecCol)).as("norm"),
      ColumnBridge.column(graft.functions.PqAssign(
        ColumnBridge.expression(resid), codebooks)).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codes.count() // materialize BEFORE dropping the build-time projection
    ivf.release()
    IvfPqIndex(codes, ivf.centers, codebooks, m, dsub, Some(codes))
  }

  /** IVF-PQ probe: rank cells by centroid distance driver-side, ADC-scan
    * ONLY the probed cells' codes (approx score = (q·c_cell +
    * Σ_j T[j][code_j]) / (|q|·|x|) — the cell term is a per-cell scalar,
    * the LUT an O(m·k) driver artifact), exact-cosine re-rank of the best
    * `refine` candidates against the vector store. With nProbe = nLists
    * and refine ≥ corpus the result is EXACTLY the brute force (the
    * re-rank sees every id); production points trade recall for the
    * pruned scan. */
  def ivfPqTopK(index: IvfPqIndex, emb: DataFrame, idCol: String,
                vecCol: String, queryId: Long, k: Int, nProbe: Int,
                refine: Int = 100): DataFrame = {
    val qv = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val qn = math.sqrt(qv.map(x => x * x).sum)
    def dist2(c: Array[Double]): Double =
      c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
    val probes = index.centers.sortBy { case (_, c) => dist2(c) }
      .take(nProbe).map(_._1)
    val centerOf = index.centers.toMap
    val qDotC = probes.map(p =>
      p -> centerOf(p).zipWithIndex.map { case (w, i) => w * qv(i) }.sum).toMap
    val cellTerm = coalesce(
      (probes.map(p => when(col("graft_cell") === p, lit(qDotC(p)))) :+
        lit(0.0)): _*)
    val lut = index.codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (w, i) =>
        w * qv(j * index.dsub + i) }.sum)
    }
    val approx = (cellTerm +: (0 until index.m).map { j =>
      element_at(array(lut(j).map(lit): _*), element_at(col("codes"), j + 1) + 1)
    }).reduce(_ + _) / (col("norm") * qn)
    val candidates = index.codes
      .filter(col("graft_cell").isin(probes.toIndexedSeq: _*) &&
        col("id") =!= queryId)
      .withColumn("graft_approx", approx)
      .orderBy(col("graft_approx").desc, col("id").asc)
      .limit(refine)
      .select(col("id"))
    emb.join(broadcast(candidates), col(idCol) === col("id"))
      .withColumn("cos", round(V.cosine(col(vecCol),
        array(qv.map(lit): _*)), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /** Batched IVF-PQ probe — [[ivfTopKBatch]]'s one-scan discipline
    * composed with the ADC score: every query in `queryIds` retrieves
    * its top-k in ONE ADC pass over the UNION of probed cells plus one
    * exact re-rank join, where looping [[ivfPqTopK]] would launch a job
    * per query. Driver work stays index-artifact-sized: per query, the
    * centroid ranking and the m×k LUT (O(|q|·(nLists·dim + m·k·dsub)))
    * — never data. Two broadcast side tables carry the batch onto the
    * code scan: the probe plan (query_id, cell, q·c_cell — the per-cell
    * scalar of the residual decomposition) and the per-query score
    * artifact (query_id, LUT, |q|); each code row joins ONLY the
    * queries probing its cell, so fan-out is bounded by the probe plan,
    * and against a [[saveIvfPqIndex]]-persisted index the cell filter
    * is partition pruning. A per-query row_number bounds the refine
    * set; the exact re-rank joins the (|queries|·refine)-row candidate
    * set broadcast-side against the vector store. The ADC expression
    * keeps [[ivfPqTopK]]'s exact fp association (cell term first, then
    * subspace lookups in order), so with nProbe = nLists and refine ≥
    * corpus each query's rows are EXACTLY its per-query / brute-force
    * rows (same rounded score + id tiebreak) — SimilaritySpec pins both
    * equalities. */
  def ivfPqTopKBatch(index: IvfPqIndex, emb: DataFrame, idCol: String,
                     vecCol: String, queryIds: Seq[Long], k: Int,
                     nProbe: Int, refine: Int = 100): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val qvs = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probeRows = qvs.toSeq.flatMap { case (qid, qv) =>
      def dist2(c: Array[Double]): Double =
        c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
      index.centers.sortBy { case (_, c) => dist2(c) }.take(nProbe)
        .map { case (cell, c) =>
          (qid, cell, c.zipWithIndex.map { case (w, i) => w * qv(i) }.sum) }
    }
    val luts = qvs.toSeq.map { case (qid, qv) =>
      (qid,
        index.codebooks.zipWithIndex.map { case (cb, j) =>
          cb.map(c => c.zipWithIndex.map { case (w, i) =>
            w * qv(j * index.dsub + i) }.sum).toSeq
        }.toSeq,
        math.sqrt(qv.map(x => x * x).sum))
    }
    val probed = probeRows.toDF("query_id", "graft_cell", "graft_qdc")
    val lutDf = luts.toDF("query_id", "graft_lut", "graft_qn")
    val cellIds = probeRows.map(_._2).distinct
    val lutTerms = (0 until index.m).map { j =>
      element_at(element_at(col("graft_lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)
    }
    val approx = (col("graft_qdc") +: lutTerms).reduce(_ + _) /
      (col("norm") * col("graft_qn"))
    val wr = Window.partitionBy("query_id")
      .orderBy(col("graft_approx").desc, col("id").asc)
    val cand = index.codes
      .filter(col("graft_cell").isin(cellIds.toIndexedSeq: _*))
      .join(broadcast(probed), Seq("graft_cell"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(lutDf), Seq("query_id"))
      .withColumn("graft_approx", approx)
      .withColumn("graft_rn", row_number().over(wr))
      .filter(col("graft_rn") <= refine)
      .select(col("query_id"), col("id"))
    val qvDf = qvs.toSeq.map { case (qid, v) => (qid, v.toSeq) }
      .toDF("query_id", "graft_qv")
    val wk = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col(idCol).asc)
    emb.join(broadcast(cand), col(idCol) === col("id"))
      .join(broadcast(qvDf), Seq("query_id"))
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .withColumn("graft_rn", row_number().over(wk))
      .filter(col("graft_rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"))
  }

  /** Reciprocal (mutual) kNN pairs — the high-precision matching rung
    * of the similarity family: (i, j) is kept only when j is in i's
    * top-k AND i is in j's top-k. One-sided kNN admits hubs (a generic
    * vector near everything floods candidate lists); reciprocity is the
    * standard cure (the RNN step of bitext mining / kNN-graph
    * construction). Built on a kNN edge table: the pair test is ONE
    * self-join of the (src, dst) edges with their transpose — edge-
    * table-sized (n·k rows), never corpus². */
  def mutualPairs(knn: DataFrame): DataFrame =
    knn.select(col("query_id").as("graft_s"), col("graft_dst"),
      col("cos"))
      .join(knn.select(col("query_id").as("graft_dst"),
        col("graft_dst").as("graft_s")), Seq("graft_s", "graft_dst"),
        "left_semi")
      .filter(col("graft_s") < col("graft_dst"))
      .select(col("graft_s").as("id1"), col("graft_dst").as("id2"),
        col("cos"))

  /** Exact kNN edge table + [[mutualPairs]] in one call: every row's
    * top-k by rounded cosine (id tiebreak), then the reciprocity
    * semi-join. The kNN substrate here is the EXACT anchor — corpus ×
    * broadcast(corpus-as-queries) scored in one scan with a per-source
    * window; at 100 TB the substrate swaps for [[ivfPqTopKBatch]] over
    * id chunks (identical downstream join), so the anchor doubles as
    * the oracle for the pruned path. */
  def mutualTopK(emb: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    // Norms precompute ONCE per row on each side of the n² scoring —
    // bit-identical to inline V.cosine (same subexpression, same
    // norm(a)·norm(b) multiply order) at a third of the dot work. The
    // stream side REPARTITIONS first: the n² nested-loop (and the
    // per-query top-k sort above it) inherits the scan's partitioning,
    // and a small single-file corpus would score n² pairs on one core.
    // The partition count is EXPLICIT — AQE coalesces a bare
    // repartition(col) of a tiny parent back to one partition, undoing
    // exactly the parallelism this exists to create.
    val withNorm = emb.select(col(idCol), col(vecCol),
      V.norm(col(vecCol)).as("graft_nc"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
    val q = withNorm.select(col(idCol).as("query_id"),
      col(vecCol).as("graft_qv"), col("graft_nc").as("graft_nq"))
    val knn = withNorm.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      // project the vectors AWAY before the top-k sort: WindowGroupLimit
      // still sorts every scored row map-side, and a 3-column row sorts
      // an order of magnitude faster than one dragging both embeddings
      .select(col("query_id"), col(idCol).as("graft_dst"),
        round(V.dot(col(vecCol), col("graft_qv"))
          / (col("graft_nc") * col("graft_nq")), 6).as("cos"))
      .withColumn("graft_rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("graft_dst").asc)))
      .filter(col("graft_rn") <= k)
      .select(col("query_id"), col("graft_dst"), col("cos"))
    // the n² scoring pass feeds BOTH sides of the reciprocity self-join
    // and Spark has no common-subplan reuse — pin the edge table once
    mutualPairs(Materialize.transient(knn))
  }

  /** Persist an IVF-PQ index: codes PARTITIONED BY cell (a probe's
    * `graft_cell IN (...)` prunes whole directories at planning time),
    * centroids and codebooks as tiny side tables — build once, probe
    * many at ~(4+m) B/vector read cost. */
  def saveIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.codes.write.mode("overwrite")
      .partitionBy("graft_cell").parquet(s"$path/codes")
    index.centers.toSeq.toDF("cell", "center")
      .write.mode("overwrite").parquet(s"$path/centers")
    index.codebooks.zipWithIndex
      .flatMap { case (cb, j) => cb.zipWithIndex.map { case (c, i) =>
        (j, i, c.toSeq) } }.toSeq
      .toDF("subspace", "centroid", "weights")
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): IvfPqIndex = {
    val codes = graft.Tables.parquet(spark, s"$path/codes")
    val centers = graft.Tables.parquet(spark, s"$path/centers").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val rows = graft.Tables.parquet(spark, s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val codebooks = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    val dsub = if (codebooks.isEmpty || codebooks(0).isEmpty) 0
      else codebooks(0)(0).length
    IvfPqIndex(codes, centers, codebooks, codebooks.length, dsub)
  }

  /** ANN via LSH bucket prefilter: score only rows whose projection bucket
    * matches the query's. Trades recall for a candidate set ~n/2^nBits. */
  def annBucketTopK(emb: DataFrame, idCol: String, vecCol: String,
                    dim: Int, nBits: Int, queryId: Long, k: Int): DataFrame = {
    val withBucket = emb.withColumn("bk", projectionBucket(col(vecCol), dim, nBits))
    val q = withBucket.filter(col(idCol) === queryId)
      .select(col(vecCol).as("graft_qv"), col("bk").as("graft_qbk")).limit(1)
    withBucket.crossJoin(broadcast(q))
      .filter(col("bk") === col("graft_qbk") && col(idCol) =!= queryId)
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /** Pairwise L2 distance between per-label mean centroids — the class-
    * separation audit for a labeled vector corpus ("are these labels
    * distinguishable in embedding space at all?"), the cheap go/no-go
    * before training a classifier on it.
    *
    * Exactness: components quantize to fixed-point longs, per-(label,dim)
    * sums accumulate as decimal(38,0) (exact, order-independent), and the
    * mean difference is cleared of division up front —
    * Σ_d (s₁·n₂ − s₂·n₁)² stays INTEGER; the only floating point is the
    * final sqrt/divide, the identical expression on every engine, so the
    * result is bit-exact cross-engine (q84/q102 discipline). Overflow:
    * |s·n| ≤ scale·n² ≲ 10³ ·n², squared ≤ 10⁶·n⁴ per dim — under the
    * 10³⁸ decimal ceiling to n ≈ 10⁸ vectors per label; shard the sums
    * for more.
    *
    * Plan: posexplode → one (label, dim) partial aggregate (the only
    * corpus-sized pass), then a dim-keyed self-join of the |labels|×|dims|
    * centroid table — fan-out |labels|² per dim, never corpus-sized. */
  def labelCentroidDistances(df: DataFrame, labelCol: String, vecCol: String,
                             scale: Int = 1000): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cent = df
      .select(col(labelCol).as("lbl"), posexplode(col(vecCol)).as(Seq("pos0", "x")))
      .select(col("lbl"), (col("pos0") + 1).cast("long").as("dim"),
        floor(col("x").cast("double") * scale + lit(0.5)).cast("long").as("q"))
      .groupBy("lbl", "dim")
      .agg(sum(col("q")).cast(dec).as("s"), count(lit(1)).as("n"))
    val a = cent.select(col("lbl").as("l1"), col("dim"),
      col("s").as("graft_s1"), col("n").as("n1"))
    val b = cent.select(col("lbl").as("l2"), col("dim"),
      col("s").as("graft_s2"), col("n").as("n2"))
    val diff = col("graft_s1") * col("n2").cast(dec) -
      col("graft_s2") * col("n1").cast(dec)
    a.join(b, Seq("dim")).filter(col("l1") < col("l2"))
      .groupBy("l1", "l2", "n1", "n2") // n constant per label: one group per pair
      .agg(sum(diff * diff).as("graft_num"))
      .select(col("l1"), col("l2"), col("n1"), col("n2"),
        round(sqrt(col("graft_num").cast("double"))
          / (col("n1").cast("double") * col("n2").cast("double"))
          / lit(scale.toDouble), 6).as("dist"))
  }

  /** Hard-negative mining for contrastive training: for every anchor, the
    * `k` most similar vectors carrying a DIFFERENT label — the pairs that
    * teach a metric model the most (easy negatives are already far; hard
    * ones sit on the decision boundary). Candidates come from the same
    * coarse cells the semantic-dedup pass uses ([[Dedup.signBucket]];
    * production swaps in IVF cells), so the pair join is cell-keyed and
    * fan-out is bounded by the largest cell, never the corpus. Within-cell
    * ranking is a per-anchor window over 6-dp-rounded cosine with an id
    * tiebreak — deterministic cross-engine. Cell-local mining is the
    * standard trade (the hardest negatives are overwhelmingly same-cell by
    * construction of any locality-preserving bucketer); a cross-cell miss
    * is an easy negative, which contrastive batches get for free anyway. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, signBits: Int, k: Int): DataFrame = {
    val rows = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(labelCol).as("lbl"),
      Dedup.signBucket(col(vecCol), signBits).as("bk"),
      V.norm(col(vecCol)).as("nrm"))
    val a = rows.select(col("id").as("anchor_id"), col("v").as("v1"),
      col("lbl").as("graft_l1"), col("bk"), col("nrm").as("nrm1"))
    val b = rows.select(col("id").as("neg_id"), col("v").as("v2"),
      col("lbl").as("graft_l2"), col("bk"), col("nrm").as("nrm2"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cos").desc, col("neg_id").asc)
    a.join(b, Seq("bk"))
      .filter(col("graft_l1") =!= col("graft_l2"))
      .withColumn("cos", round(V.dot(col("v1"), col("v2"))
        / (col("nrm1") * col("nrm2")), 6))
      .select(col("anchor_id"), col("neg_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** MMR (maximal-marginal-relevance) diversified top-k — the
    * re-ranking rung every production retrieval stack puts between the
    * raw similarity ranking and the user: pure [[cosineTopK]] returns k
    * near-copies when the corpus clusters (near-dups, translations,
    * re-posts all crowd the head), so MMR greedily picks the item
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)` against the
    * already-selected set S (Carbonell/Goldstein, SIGIR 1998) — the
    * second term is the redundancy penalty relevance-only ranking
    * can't express. λ is milli (integer), both similarity kinds are the
    * 6-dp-rounded cosine converted to exact micro-units, so every score
    * is a BIGINT (`λ·rel_u − (1000−λ)·maxsim_u`, nano-units) and the
    * greedy argmax (score desc, id asc) replays bit-exactly — the oracle
    * unrolls the same k steps. First pick has S = ∅, penalty 0.
    *
    * Scale: the corpus pays exactly one [[cosineTopK]]-shaped scan
    * (broadcast query, TakeOrdered poolN); everything after — the
    * poolN² pairwise sims and the k greedy steps — runs on a
    * ≤256-row pool, collected as a bounded driver artifact (the
    * centroid/codebook contract). Greedy selection is inherently
    * sequential (step i needs S_{i-1}); doing it on k·poolN driver
    * integers is the only shape that does NOT serialize distributed
    * stages. */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, poolN: Int,
              lambdaMilli: Long): DataFrame = {
    require(k >= 1 && k <= poolN, "k must be in [1, poolN]")
    require(poolN <= 256, "pool must stay a bounded driver artifact")
    require(lambdaMilli >= 0L && lambdaMilli <= 1000L,
      "lambdaMilli is a milli weight in [0, 1000]")
    val spark = emb.sparkSession
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("graft_qv")).limit(1)
    val pool = Materialize.transient(
      emb.crossJoin(broadcast(q))
        .filter(col(idCol) =!= queryId)
        .withColumn("graft_rel",
          round(V.cosine(col(vecCol), col("graft_qv")), 6))
        .orderBy(col("graft_rel").desc, col(idCol).asc)
        .limit(poolN)
        .select(col(idCol).cast("long").as("graft_id"),
          col(vecCol).as("graft_v"),
          expr("cast(round(graft_rel * 1000000) as long)")
            .as("graft_relu")))
    val pa = pool.select(col("graft_id").as("graft_a"),
      col("graft_v").as("graft_va"))
    val pb = pool.select(col("graft_id").as("graft_b"),
      col("graft_v").as("graft_vb"))
    val sims = pa.crossJoin(pb)
      .filter(col("graft_a") =!= col("graft_b"))
      .withColumn("graft_sim",
        round(V.cosine(col("graft_va"), col("graft_vb")), 6))
      .select(col("graft_a"), col("graft_b"),
        expr("cast(round(graft_sim * 1000000) as long)").as("graft_simu"))
    val relU: Seq[(Long, Long)] = pool
      .select("graft_id", "graft_relu").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val simU: Map[(Long, Long), Long] = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val rel = relU.toMap
    var selected = Vector.empty[Long]
    val picks = Vector.newBuilder[(Long, Long, Long, Long)]
    var candidates = relU.map(_._1).toSet
    var rank = 1L
    while (rank <= k && candidates.nonEmpty) {
      val scored = candidates.toSeq.map { c =>
        val pen =
          if (selected.isEmpty) 0L
          else selected.map(s => simU((c, s))).max
        (lambdaMilli * rel(c) - (1000L - lambdaMilli) * pen, c)
      }
      val (score, id) = scored.minBy { case (sc, i) => (-sc, i) }
      picks += ((rank, id, rel(id), score))
      selected :+= id
      candidates -= id
      rank += 1L
    }
    import spark.implicits._
    picks.result().toDF("mmr_rank", "vec_id", "rel_micro", "mmr_nano")
  }

  /** Sign-bit words for a float vector: bit b of word w set iff
    * dimension 64w+b is strictly positive — the 1-bit quantization
    * behind binary vector search (a 64-dim float vector collapses to
    * ONE long; Hamming distance then costs popcount(xor), a 64×
    * bandwidth cut at 100 TB index scale). Pure nested higher-order
    * functions, fully codegen'd. */
  // 1L << b for b = 0..63 as a LITERAL lookup (shiftleft's Scala API
  // only takes a literal shift; a runtime 2^b product could overflow)
  private val SignPowers: Column =
    typedLit(Array.tabulate(64)(b => 1L << b))

  def signWords(v: Column): Column =
    transform(sequence(lit(0), ((size(v) - 1) / 64).cast("int")),
      w => aggregate(sequence(lit(0), lit(63)), lit(0L),
        (acc, b) => when(w * 64 + b < size(v) &&
          element_at(v, (w * 64 + b + 1).cast("int")) > 0f,
          acc.bitwiseOR(element_at(SignPowers, (b + 1).cast("int"))))
          .otherwise(acc)))

  /** Hamming distance between two sign-word arrays: Σ popcount(xor). */
  def hammingWords(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, c) => acc + c)

  /** Binary-quantization ANN — the two-stage shape production vector
    * stores run when the float index no longer fits the bandwidth
    * budget: stage 1 ranks the corpus by HAMMING distance on sign
    * words (popcount over packed longs — the cheap pass) and keeps
    * `candK` candidates (ties broken by id — deterministic); stage 2
    * re-ranks ONLY those candidates by exact rounded cosine and
    * returns the top `k`. Recall loss is confined to stage 1 and
    * shrinks with candK/k (the spec pins a planted-neighbor case).
    *
    * Scale: the corpus pass carries one long-array per row instead of
    * the float vector (64× smaller), candidate selection is
    * TakeOrderedAndProject (never a global sort), and only candK rows
    * ever touch float math again. */
  def binaryAnn(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, candK: Int, k: Int): DataFrame = {
    require(candK >= k && k >= 1, "need candK >= k >= 1")
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("graft_qv"),
        signWords(col(vecCol)).as("graft_qw")).limit(1)
    val cands = emb
      .select(col(idCol), col(vecCol),
        signWords(col(vecCol)).as("graft_w"))
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .withColumn("hamming",
        hammingWords(col("graft_w"), col("graft_qw")))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(candK)
    cands
      .withColumn("cos", round(V.cosine(col(vecCol), col("graft_qv")), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("hamming"), col("cos"))
  }
}
