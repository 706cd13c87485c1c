package graft

import graft.functions.{TextFunctions => T}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * query key maps to. Every oracle-checked query aliases its output columns
  * identically here and in [[oracleSql]], rounds derived doubles before
  * thresholding/ranking, and casts computed integers to BIGINT on both
  * engines so the DuckDB hash compare is exact. */
object SparkEntry
    extends QueryRegistry1 with QueryRegistry2 with QueryRegistry3
    with QueryRegistry4 with OracleRegistry1 with OracleRegistry2
    with OracleRegistry3 with OracleRegistry4 with OracleRegistry5
    with OracleRegistry6 {

  /** Scratch warehouse directory for the table-format queries, deleted at
    * JVM exit: the returned DataFrame is lazy (the driver materializes it
    * after this function returns), so eager deletion would race the scan —
    * a shutdown hook is the earliest safe point. Without it every
    * bench/correctness run of a warehouse query leaked a full table copy
    * under java.io.tmpdir. */
  private[graft] def tempTableDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      sources.WarehouseSink.deleteRecursively(p.toFile)))
    p.toString
  }

  /** Flagship: consecutive-weeks-on-chart streaks (dag.py:118-154) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Charts.weeksOnChart(Tables.events(spark, "/root/testdata/sf0.001"),
      "user_id", "ts_t", "value", 10)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesChunk1 ++ queriesChunk2 ++ queriesChunk3 ++ queriesChunk4

  /** Shared scored table for the eval-metric queries (q167-q169): the
    * heuristic quality score quantized to a 1e4 integer scale, labeled by
    * a deterministic length rule (n_chars ≥ 300 — correlated with the
    * length-saturation term of the score, so the AUC is a real signal,
    * not a coin flip). Deterministic on both engines → every metric
    * hash-checks. */
  private[graft] def scoredDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      // Clamped to [0, 10⁴]: the punctuation penalty can push the raw
      // score slightly negative, and `div` truncates toward zero — floor
      // parity across engines is only guaranteed on nonnegative operands.
      greatest(least(floor(T.qualityScore(col("text")) * 10000 + 0.5),
        lit(10000L)), lit(0L)).cast("long").as("score_q"),
      (col("n_chars") >= 300).cast("long").as("label"))

  /** One catalog root per JVM: the catalog caches its root at first
    * initialization, so every query must hand it the same directory —
    * per-sfDir isolation comes from the namespace instead. */
  private[graft] lazy val catalogRoot: String = tempTableDir("graft_cat_root_")

  private[graft] def useCatalog(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft", "graft.sources.WarehouseCatalog")
    s.conf.set("spark.sql.catalog.graft.root", catalogRoot)
  }

  /** Events with the shared-grain µs timestamp column (see q38-q40 note). */
  private[graft] def eventsUs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))

  /** Pair shingle-intersection stats shared by the exact near-dup family —
    * q20 (Jaccard), q46 (clusters), q53 (containment) — memoized per
    * (session, scale dir): one shingle self-join serves all three (the
    * stats table is the natural pipeline handoff, tiny vs the corpus).
    * pairShingleStats materializes its output via localCheckpoint, so the
    * memo holds a computed artifact, not a pinned cache; [[releaseCaches]]
    * (or GC after the session drops) frees the blocks. Keying by session
    * keeps a restarted session from receiving plans bound to a stopped one. */
  private[graft] val pairStatsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def pairStats(s: SparkSession, d: String): DataFrame =
    pairStatsCache.getOrElseUpdate((s, d),
      Dedup.pairShingleStats(Tables.documents(s, d), "doc_id", "text", 3))
  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardFromStats(pairStats(s, d), minJaccard = 0.2)

  /** Portable-LSH pair set shared by q82 (the pairs themselves), q118
    * (banding quality) and q194 (the source matrix): the md5 signature
    * build + band join runs once per (session, dir) — the operator
    * already returns an eager artifact, so the memo hands out computed
    * rows, not a plan to replay. */
  private[graft] val portablePairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def portableMinhashPairs(s: SparkSession, d: String): DataFrame =
    portablePairsCache.getOrElseUpdate((s, d),
      Dedup.minhashPairsPortable(Tables.documents(s, d), "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 2, minAgree = 0.5))

  /** Cluster labels shared by q46 (the raw clusters) and q100 (the
    * quality-canonical pick): connected() is an iterative job — one run
    * per sweep, memoized as the materialized artifact it returns. */
  private[graft] val clustersCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    clustersCache.getOrElseUpdate((s, d),
      Components.connected(jaccardPairs(s, d), "id1", "id2")
        .select(col("id").as("doc_id"), col("cluster")))

  /** BPE merge table shared by q145 (the learned merges) and q146 (the
    * encode readout), memoized per (session, dir): the learning rounds'
    * outputs are one-row materialized artifacts, so the memo holds a
    * computed result, never a pinned corpus cache. */
  private[graft] val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def bpeMergeTable(s: SparkSession, d: String): DataFrame =
    bpeMergeCache.getOrElseUpdate((s, d),
      Vocab.bpeMerges(Tables.documents(s, d), "text", merges = 4))

  /** Bucketed fp store backing q81, built once per (session, scale dir):
    * distinct fingerprints of the corpus third with doc_id % 3 == 0,
    * written `bucketBy(shuffle-partitions, fp)` so the incremental
    * anti-join's store side scans its buckets without an Exchange, as a
    * deterministic batch artifact the DuckDB oracle can replay. Returns
    * the catalog table name. */
  private[graft] val fpStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[graft] def fpStoreTable(s: SparkSession, d: String): String =
    fpStoreCache.getOrElseUpdate((s, d), {
      val tbl = "graft_q81_store_" + (d.hashCode.toLong & 0xffffffffL).toString
      val buckets = s.sessionState.conf.numShufflePartitions
      // A previous JVM's warehouse dir would make the CREATE path of
      // saveAsTable fail (fresh in-memory catalog + surviving location).
      operators.Etl.resetManagedTable(s, tbl)
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        .distinct()
        .write.mode("overwrite").bucketBy(buckets, "fp").sortBy("fp")
        .saveAsTable(tbl)
      tbl
    })

  /** Bucketed LSH signature store backing q147 — the q81 layout for the
    * NEAR-dup family: the ingested third's (id, band, bk) band table
    * bucketed on (band, bk) (the candidate probe's join key) and its
    * (id, sig) signature table bucketed on id (the verify join's key),
    * both from the portable md5 signature stage so the DuckDB oracle
    * replays the whole incremental path. */
  private[graft] val lshStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]
  private[graft] def lshStoreTables(s: SparkSession, d: String): (String, String) =
    lshStoreCache.getOrElseUpdate((s, d), {
      val suffix = (d.hashCode.toLong & 0xffffffffL).toString
      val bandTbl = "graft_q147_bands_" + suffix
      val sigTbl = "graft_q147_sigs_" + suffix
      val buckets = s.sessionState.conf.numShufflePartitions
      operators.Etl.resetManagedTable(s, bandTbl)
      operators.Etl.resetManagedTable(s, sigTbl)
      val (banded, sig) = Dedup.minhashStoreTables(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2)
      banded.write.mode("overwrite")
        .bucketBy(buckets, "band", "bk").saveAsTable(bandTbl)
      sig.write.mode("overwrite")
        .bucketBy(buckets, "id").saveAsTable(sigTbl)
      (bandTbl, sigTbl)
    })

  /** Bucketed sign-cell store backing q154 — the q147 layout for the
    * SEMANTIC family: the ingested third's (bk, id, v, nrm) cell table
    * bucketed on bk (the probe join's key), built by the
    * [[Dedup.semanticStoreTable]] stage. Returns the catalog table name. */
  private[graft] val semStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[graft] def semanticStoreTable(s: SparkSession, d: String): String =
    semStoreCache.getOrElseUpdate((s, d), {
      val tbl = "graft_q154_cells_" + (d.hashCode.toLong & 0xffffffffL).toString
      val buckets = s.sessionState.conf.numShufflePartitions
      operators.Etl.resetManagedTable(s, tbl)
      Dedup.semanticStoreTable(
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(3)) === 0),
        "vec_id", "embedding", signBits = 4)
        .write.mode("overwrite").bucketBy(buckets, "bk").saveAsTable(tbl)
      tbl
    })

  /** Parquet store + bloom sidecar for q97, memoized per (session, dir):
    * documents written as 16 files NOT organized by doc_id (the sidecar's
    * whole point — equality skipping on a column with no layout help),
    * then one distributed pass builds a per-file bloom. The sidecar is
    * O(nFiles); the probe reads the sidecar, then only candidate files.
    * BloomIndexSpec holds the ≤3-of-16 pruning + no-false-negative bars;
    * this store makes the end-to-end lookup an oracle-checked row. */
  private[graft] val bloomStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]
  private[graft] def bloomStorePaths(s: SparkSession, d: String): (String, String) =
    bloomStoreCache.getOrElseUpdate((s, d), {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q97_" + (d.hashCode.toLong & 0xffffffffL)).getAbsolutePath
      val store = s"$base/store"; val side = s"$base/sidecar"
      Tables.documents(s, d).select("doc_id", "source", "n_chars")
        .repartition(16).write.mode("overwrite").parquet(store)
      // Sized to the store's actual per-file rows: the aggregator
      // allocates a zero-bloom per (file × input partition), so an
      // oversized `expectedPerFile` multiplies build allocations for no
      // fpp gain. Real deployments size this to rows-per-file.
      sources.BloomIndex.build(s, store, side, "doc_id",
        expectedPerFile = 20000L)
      (store, side)
    })

  /** Text store + TERM bloom sidecar for q270, memoized like the q97
    * store: 16 files not organized by content, one term-bloom per file.
    * TermIndexSpec holds the locality-pruning and no-false-negative
    * bars; this store makes the end-to-end search an oracle-checked
    * row set. */
  private[graft] val termStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]
  private[graft] def termStorePaths(s: SparkSession, d: String): (String, String) =
    termStoreCache.getOrElseUpdate((s, d), {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q270_" + (d.hashCode.toLong & 0xffffffffL)).getAbsolutePath
      val store = s"$base/store"; val side = s"$base/sidecar"
      Tables.documents(s, d).select("doc_id", "source", "text")
        .repartition(16).write.mode("overwrite").parquet(store)
      sources.TermIndex.build(s, store, side, "text",
        expectedPerFile = 20000L)
      (store, side)
    })

  /** Range-clustered store + zone-map sidecar for q124, memoized per
    * (session, dir) like the bloom store: the layout is what makes the
    * min/max intervals disjoint enough to prune. */
  private[graft] val zoneStoreCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]
  private[graft] def zoneStorePaths(s: SparkSession, d: String): (String, String) =
    zoneStoreCache.getOrElseUpdate((s, d), {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q124_" + (d.hashCode.toLong & 0xffffffffL)).getAbsolutePath
      val store = s"$base/store"; val side = s"$base/sidecar"
      Etl.writeRangeLayout(Tables.documents(s, d)
        .select("doc_id", "source", "n_chars"),
        store, nFiles = 16, rangeCol = "n_chars", "doc_id")
      sources.ZoneMapIndex.build(s, store, side, Seq("n_chars"))
      (store, side)
    })

  /** Drop only the ML-FIT memos (RF family, the q26 clustering) — the
    * bench's median-of-3 repeats call this between repetitions so every
    * sample pays the real fit instead of a memo hit, while the shared
    * non-ML substrates (pair stats, LSH stores, IVF/PQ indexes) keep
    * their build-once contract. The last repetition repopulates the
    * memos, so downstream sharers (q28/q62/q63) keep their warm path. */
  def releaseMlCaches(): Unit = {
    rfCache.clear()
    clusterCache.clear()
  }

  /** Duplicated-span table at the k=8 contract point, shared by q325
    * (the raw spans), q326 (per-doc rollup), q342 (per-source decision
    * table) and q350 (the rewrite): the detection pass — tokenize, gram
    * explode, two-phase df count, island merge — runs ONCE per
    * (session, dir) and hands out a localCheckpoint'd artifact (span
    * rows are corpus-duplication-sized, tiny next to the corpus). */
  private[graft] val spanCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def dupSpans8(s: SparkSession, d: String): DataFrame =
    spanCache.getOrElseUpdate((s, d), operators.Materialize.transient(
      Dedup.dupSpans(Tables.documents(s, d), "doc_id", "text", k = 8)))

  /** Drop every memoized substrate (pair stats, spans, index stores, ML
    * fits, IVF/PQ indexes) and the parquet schema memo so their blocks
    * and models become collectable — Verify, Bench and ProfileQ call
    * this once their query sweep is done. */
  def releaseCaches(): Unit = {
    Tables.clearCaches()
    spanCache.clear()
    bloomStoreCache.clear()
    zoneStoreCache.clear()
    termStoreCache.clear()
    clustersCache.clear()
    fpStoreCache.clear()
    lshStoreCache.clear()
    semStoreCache.clear()
    bpeMergeCache.clear()
    pairStatsCache.clear()
    portablePairsCache.clear()
    rfCache.clear()
    clusterCache.clear()
    ivfCache.values.foreach(_.release())
    ivfCache.clear()
    pqCache.values.foreach(_.release())
    pqCache.clear()
    ivfPqCache.values.foreach(_.release())
    ivfPqCache.clear()
  }

  /** Clustered parts shared by q26/q62/q63, memoized per (session, dir):
    * ONE KMeans fit serves the single-item, multi-item and composed
    * recommendation queries. localCheckpoint materializes the (tiny —
    * one row per item) clustered table eagerly, so the three consumers
    * share one FIT and one MATERIALIZATION — without it the memo hands out
    * a plan and every consumer's first action replays the prep+transform
    * chain. */
  private[graft] val clusterCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def clusteredParts(s: SparkSession, d: String): DataFrame =
    clusterCache.getOrElseUpdate((s, d),
      ml.Recommend.clusterItems(Tables.part(s, d),
        "p_partkey", "p_brand", Seq("p_retailprice", "p_size"))
        .localCheckpoint(true))

  /** One IVF index shared by q32 (recall-probe) and q61 (exact-probe),
    * memoized per (session, dir): the KMeans cell fit runs once per sweep.
    * The index pins its feature-projection cache while live —
    * [[releaseCaches]] calls release() on every entry. */
  private[graft] val ivfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Similarity.IvfIndex]
  private[graft] def ivfIdx(s: SparkSession, d: String): Similarity.IvfIndex =
    ivfCache.getOrElseUpdate((s, d),
      Similarity.ivfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        nLists = 16))

  /** PQ index for q70, memoized per (session, dir) with the same release
    * contract as the IVF index. */
  private[graft] val pqCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Similarity.PqIndex]
  private[graft] def pqIdx(s: SparkSession, d: String): Similarity.PqIndex =
    pqCache.getOrElseUpdate((s, d),
      Similarity.pqIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64))

  /** Composed IVF-PQ index for q327, memoized like its two parents. */
  private[graft] val ivfPqCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Similarity.IvfPqIndex]
  private[graft] def ivfPqIdx(s: SparkSession, d: String): Similarity.IvfPqIndex =
    ivfPqCache.getOrElseUpdate((s, d),
      Similarity.ivfPqIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, nLists = 16, m = 8, k = 32))

  /** RF fit shared by q27/q28, memoized per (session, scale dir). Trained
    * on a deterministic 5% key-sampled slice so CV tuning stays bounded. */
  private[graft] val rfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), ml.Popularity.Fit]
  private[graft] def rfFit(s: SparkSession, d: String): ml.Popularity.Fit =
    rfCache.getOrElseUpdate((s, d), {
      val sample = Tables.lineitem(s, d)
        .filter(pmod(col("l_orderkey"), lit(40)) === 0)
        .select("l_quantity", "l_discount", "l_tax", "l_extendedprice")
      ml.Popularity.train(sample,
        Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice")
    })

  /** q349's oracle: the q325 span replay templated per anchor length k
    * and UNION ALL'd — the sweep IS three independent replays. */
  private[graft] def spanSweepOracleSql: String =
    Seq(6, 8, 12).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, docs_touched, total_spans,
                covered_tokens
         FROM (
           WITH t AS (SELECT doc_id,
                    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
             FROM documents),
           g AS (SELECT doc_id, i - 1 AS p,
                        array_to_string(toks[i:i+${k - 1}], ' ') AS gram
                 FROM (SELECT doc_id, toks,
                              unnest(range(1, greatest(len(toks) - ${k - 1}, 0) + 1)) AS i
                       FROM t WHERE len(toks) >= $k)),
           sh AS (SELECT gram FROM
                    (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
                  WHERE nd >= 2),
           cov AS (SELECT DISTINCT doc_id, p FROM g JOIN sh USING (gram)),
           isl AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                            OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + $k
                          THEN 1 ELSE 0 END AS ns
                   FROM cov),
           sp AS (SELECT doc_id, p,
                    sum(ns) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS sid
                  FROM isl),
           spans AS (SELECT doc_id, max(p) + $k - min(p) AS slen
                     FROM sp GROUP BY doc_id, sid)
           SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_touched,
                  CAST(count(*) AS BIGINT) AS total_spans,
                  CAST(coalesce(sum(slen), 0) AS BIGINT) AS covered_tokens
           FROM spans)"""
    }.mkString("\nUNION ALL\n")

  /** The q25 random-projection oracle, generated: the hyperplane weights
    * sin(i·(j+1)) are plain doubles computed once here and embedded as
    * shortest-round-trip literals, so DuckDB reproduces the EXACT bucket
    * assignment (list_dot_product folds left-to-right like Spark's
    * `aggregate`, and Double.toString literals parse back to the identical
    * bits). That turns the "probabilistic" candidate set deterministic
    * across engines and lets the full (vec_id, cos) result hash-match. */
  private[graft] def q25OracleSql: String = {
    def weights(j: Int): String =
      (0 until 64).map(i => java.lang.Double.toString(math.sin(i.toDouble * (j + 1))))
        .mkString("[", ", ", "]")
    val bits = (0 until 4).map { j =>
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ${weights(j)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n                + ")
    s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                $bits AS bk
         FROM embeddings),
         q AS (SELECT v AS qv, bk AS qbk FROM b WHERE vec_id = 0)
         SELECT vec_id,
                round(list_dot_product(v, qv)
                      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
         FROM b, q WHERE bk = qbk AND vec_id <> 0
         ORDER BY cos DESC, vec_id LIMIT 20"""
  }

  /** The q129 oracle: KMeansLite's three Lloyd iterations UNROLLED as SQL
    * CTE stages. Everything stays on the integer grid (exact distances,
    * floor-divided centroid updates), so assignment, tiebreak, and every
    * centroid coordinate replay bit-exactly — the iteration count is the
    * only thing the oracle has to agree on with the Scala loop. */
  private[graft] def q129OracleSql: String = {
    def assignCte(a: String, c: String) =
      s"""$a AS (SELECT id, f1, f2, j FROM (
            SELECT f.id, f.f1, f.f2, c.j,
                   row_number() OVER (PARTITION BY f.id
                     ORDER BY (f.f1 - c.cx) * (f.f1 - c.cx)
                            + (f.f2 - c.cy) * (f.f2 - c.cy), c.j) AS rn
            FROM f CROSS JOIN $c c) WHERE rn = 1)"""
    def updateCte(c: String, prev: String, a: String) =
      s"""$c AS (SELECT p.j,
                   CAST(COALESCE(g.sx // g.n, p.cx) AS BIGINT) AS cx,
                   CAST(COALESCE(g.sy // g.n, p.cy) AS BIGINT) AS cy
            FROM $prev p LEFT JOIN (SELECT j, sum(f1) AS sx, sum(f2) AS sy,
                                           count(*) AS n FROM $a GROUP BY j) g
              ON p.j = g.j)"""
    s"""WITH f AS (SELECT p_partkey AS id,
                CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS f1,
                CAST(p_size * 10000 AS BIGINT) AS f2 FROM part),
       c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS j,
                     f1 AS cx, f2 AS cy
              FROM (SELECT * FROM f ORDER BY id LIMIT 4)),
       ${assignCte("a1", "c0")},
       ${updateCte("c1", "c0", "a1")},
       ${assignCte("a2", "c1")},
       ${updateCte("c2", "c1", "a2")},
       ${assignCte("a3", "c2")},
       ${updateCte("c3", "c2", "a3")},
       ${assignCte("a4", "c3")},
       sz AS (SELECT j, CAST(count(*) AS BIGINT) AS n FROM a4 GROUP BY j)
       SELECT c3.j AS cluster, COALESCE(sz.n, 0) AS n, c3.cx, c3.cy
       FROM c3 LEFT JOIN sz ON c3.j = sz.j"""
  }

  /** The q145 oracle: 4 BPE merge rounds UNROLLED as SQL CTE stages
    * (q129's discipline). Pair weights are exact integer sums, the winner
    * is the (weight DESC, pair ASC) total order, and the merge rewrite is
    * the same space-padded leftmost non-overlapping `replace` the Scala
    * loop applies — so every round's winner and rewritten vocab replay
    * bit-exactly. */
  private[graft] def q145OracleSql: String = {
    def round(k: Int, wPrev: String) =
      s"""p$k AS (SELECT pair, CAST(sum(n) AS BIGINT) AS weight
            FROM (SELECT s.syms[i] || ' ' || s.syms[i + 1] AS pair, s.n
                  FROM (SELECT string_split(sym, ' ') AS syms, n,
                               unnest(range(1, len(string_split(sym, ' ')))) AS i
                        FROM $wPrev) s)
            GROUP BY pair),
          b$k AS (SELECT $k AS merge_idx, pair,
                         replace(pair, ' ', '') AS merged, weight
                  FROM p$k ORDER BY weight DESC, pair ASC LIMIT 1),
          w$k AS (SELECT trim(replace(' ' || w.sym || ' ',
                                      ' ' || b.pair || ' ',
                                      ' ' || b.merged || ' ')) AS sym, w.n
                  FROM $wPrev w, b$k b)"""
    s"""WITH w0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS sym,
                  CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(lower(trim(
                          regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
                 FROM documents)
           WHERE length(w) > 0
           GROUP BY 1),
       ${round(1, "w0")},
       ${round(2, "w1")},
       ${round(3, "w2")},
       ${round(4, "w3")}
       SELECT merge_idx, pair, merged, weight FROM b1
       UNION ALL SELECT merge_idx, pair, merged, weight FROM b2
       UNION ALL SELECT merge_idx, pair, merged, weight FROM b3
       UNION ALL SELECT merge_idx, pair, merged, weight FROM b4"""
  }

  /** The q146 oracle: q145's four learning rounds (same CTEs) plus the
    * per-source encode — the k merges applied in learned order as nested
    * scalar-subquery replaces over the per-source word table. */
  private[graft] def q146OracleSql: String = {
    val learning = q145OracleSql
      .substring(0, q145OracleSql.indexOf("SELECT merge_idx"))
      .trim.stripSuffix(",")
    val rewritten = (1 to 4).foldLeft("sym") { (e, k) =>
      s"trim(replace(' ' || $e || ' ', ' ' || (SELECT pair FROM b$k) || ' ', ' ' || (SELECT merged FROM b$k) || ' '))"
    }
    s"""$learning,
       ws AS (SELECT source, array_to_string(string_split(w, ''), ' ') AS sym,
                     CAST(count(*) AS BIGINT) AS n
              FROM (SELECT source, unnest(string_split(lower(trim(
                             regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
                    FROM documents)
              WHERE length(w) > 0
              GROUP BY 1, 2),
       enc AS (SELECT source, n,
                      len(string_split(sym, ' ')) * n AS tc,
                      len(string_split($rewritten, ' ')) * n AS tb
               FROM ws)
       SELECT source, CAST(sum(n) AS BIGINT) AS n_words,
              CAST(sum(tc) AS BIGINT) AS tokens_chars,
              CAST(sum(tb) AS BIGINT) AS tokens_bpe,
              CAST((sum(tc) - sum(tb)) * 1000000 // sum(tc) AS BIGINT)
                AS saved_ppm
       FROM enc GROUP BY source"""
  }

  /** The q131 oracle: PageRank's three integer-arithmetic iterations
    * unrolled as SQL CTE stages (q129's discipline). DuckDB `//` and
    * Spark `div` agree on floor division for the all-positive ranks, so
    * every micro-unit rank replays exactly; HUGEINT intermediates cast
    * back to BIGINT at each stage. */
  private[graft] def q256OracleSql: String = {
    val seedIn = "(1, 2, 3)"
    def iter(m: String, rPrev: String, r: String) =
      s"""$m AS (SELECT e.dst AS node, sum(r.rank // dg.deg) AS s
            FROM e JOIN $rPrev r ON e.src = r.node
                   JOIN dg ON e.src = dg.src GROUP BY 1),
          $r AS (SELECT n.node,
                   CAST((CASE WHEN n.node IN $seedIn THEN 150000 ELSE 0 END)
                        + COALESCE($m.s, 0) * 85 // 100 AS BIGINT)
                     AS rank
                 FROM n LEFT JOIN $m USING (node))"""
    s"""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                       CAST(l_partkey + 10000000 AS BIGINT) AS dst
                FROM lineitem
                UNION
                SELECT DISTINCT CAST(l_partkey + 10000000 AS BIGINT),
                       CAST(l_suppkey AS BIGINT)
                FROM lineitem),
       n AS (SELECT DISTINCT src AS node FROM e),
       dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       r0 AS (SELECT node,
                CAST(CASE WHEN node IN $seedIn THEN 1000000 ELSE 0 END
                     AS BIGINT) AS rank
              FROM n),
       ${iter("m1", "r0", "r1")},
       ${iter("m2", "r1", "r2")},
       ${iter("m3", "r2", "r3")}
       SELECT node, rank FROM r3 WHERE rank > 0
       ORDER BY rank DESC, node LIMIT 20"""
  }

  /** HITS unrolled: each iteration is two joins + two max-normed floor
    * divisions; score tables stay sparse exactly as the operator's. */
  /** The q301 oracle: the co-occurrence graph from the length-filtered
    * token sequence and the q131 integer walk unrolled on WORD keys. */
  private[graft] def q301OracleSql: String = {
    def iter(m: String, rPrev: String, r: String) =
      s"""$m AS (SELECT e.dst AS word, sum(r.rank // dg.deg) AS s
            FROM e JOIN $rPrev r ON e.src = r.word
                   JOIN dg ON e.src = dg.src GROUP BY 1),
          $r AS (SELECT n.word,
                   CAST(150000 + COALESCE($m.s, 0) * 85 // 100 AS BIGINT)
                     AS rank
                 FROM n LEFT JOIN $m ON n.word = $m.word)"""
    s"""WITH t AS (SELECT doc_id,
                list_filter(string_split(lower(trim(
                  regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
                  w -> length(w) >= 3) AS ws
           FROM documents),
       p AS (SELECT doc_id, i AS pos, ws[i] AS w
             FROM (SELECT doc_id, ws,
                     unnest(range(1, len(ws) + 1)) AS i
                   FROM t) u),
       pr AS (SELECT a.w AS wa, b.w AS wb
              FROM p a JOIN p b ON a.doc_id = b.doc_id
                   AND b.pos > a.pos AND b.pos <= a.pos + 2
                   AND a.w <> b.w),
       e AS (SELECT DISTINCT wa AS src, wb AS dst FROM pr
             UNION SELECT DISTINCT wb, wa FROM pr),
       n AS (SELECT DISTINCT src AS word FROM e),
       dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
              FROM e GROUP BY 1),
       r0 AS (SELECT word, CAST(1000000 AS BIGINT) AS rank FROM n),
       ${iter("m1", "r0", "r1")},
       ${iter("m2", "r1", "r2")},
       ${iter("m3", "r2", "r3")}
       SELECT word, rank AS rank_micro FROM r3
       ORDER BY rank DESC, word LIMIT 20"""
  }

  /** The q299 oracle: the same exact-cross-multiply tournament, then
    * `iters` UNROLLED MM steps over the ≤|items|²-row wins matrix —
    * per step one d-fold, the raw update with the d=0 carry, and the
    * max-norm back to 1000 milli. Pure integer floor arithmetic.
    * `w` and every `p$k` are MATERIALIZED: each step reads its `p` three
    * times, and DuckDB otherwise re-expands the whole CTE chain per
    * reference (minutes instead of milliseconds at sf0.001). */
  private[graft] def q299OracleSql: String = {
    val iters = 3
    val steps = (1 to iters).map { k =>
      s"""d$k AS (SELECT nt.i,
                  SUM(CASE WHEN nt.n = 0 THEN 0
                      ELSE nt.n * 1000000 // (pi.p + pj.p) END) AS d
           FROM nt JOIN p${k - 1} pi ON nt.i = pi.i
                JOIN p${k - 1} pj ON nt.j = pj.i
           GROUP BY 1),
         r$k AS (SELECT d$k.i,
                  CASE WHEN d = 0 THEN p.p
                       ELSE wt.wtot * 1000000 // d END AS v
                 FROM d$k JOIN p${k - 1} p ON d$k.i = p.i
                      JOIN wt ON d$k.i = wt.i),
         p$k AS MATERIALIZED (SELECT i, v * 1000
                  // greatest(1, (SELECT max(v) FROM r$k)) AS p
                 FROM r$k)"""
    }.mkString(",\n         ")
    s"""WITH cells AS (SELECT user_id AS e, event_type AS i,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS HUGEINT) AS s,
                CAST(count(*) AS HUGEINT) AS n
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             AND value IS NOT NULL
           GROUP BY 1, 2),
         w AS MATERIALIZED (SELECT a.i AS wi, b.i AS li,
                CAST(count(*) AS BIGINT) AS n
               FROM cells a JOIN cells b ON a.e = b.e AND a.i <> b.i
               WHERE a.s * b.n > b.s * a.n GROUP BY 1, 2),
         it AS (SELECT DISTINCT i FROM
                 (SELECT wi AS i FROM w UNION SELECT li FROM w) u),
         nt AS (SELECT x.i AS i, y.i AS j,
                  CAST(coalesce(w1.n, 0) + coalesce(w2.n, 0) AS BIGINT)
                    AS n,
                  CAST(coalesce(w1.n, 0) AS BIGINT) AS wij
                FROM it x JOIN it y ON x.i <> y.i
                LEFT JOIN w w1 ON w1.wi = x.i AND w1.li = y.i
                LEFT JOIN w w2 ON w2.wi = y.i AND w2.li = x.i),
         wt AS (SELECT i, CAST(sum(wij) AS BIGINT) AS wtot
                FROM nt GROUP BY 1),
         ls AS (SELECT i, CAST(sum(n - wij) AS BIGINT) AS losses
                FROM nt GROUP BY 1),
         p0 AS (SELECT i, CAST(1000 AS BIGINT) AS p FROM it),
         $steps
         SELECT p$iters.i AS item, wt.wtot AS wins, ls.losses,
                CAST(p$iters.p AS BIGINT) AS bt_milli
         FROM p$iters JOIN wt ON p$iters.i = wt.i
              JOIN ls ON p$iters.i = ls.i"""
  }

  /** The q282 oracle: the same bounded pool, pairwise micro-unit sims,
    * and k UNROLLED greedy MMR steps — per step one argmax CTE (score
    * desc, id asc) plus the accumulated selected set. Everything after
    * the 6-dp cosine rounding is BIGINT arithmetic, so the greedy path
    * replays bit-exactly. */
  private[graft] def q282OracleSql: String = {
    val (lam, k, poolN) = (700L, 6, 16)
    def cos(a: String, b: String) =
      s"""round(list_dot_product($a, $b)
             / (sqrt(list_dot_product($a, $a))
                * sqrt(list_dot_product($b, $b))), 6)"""
    val steps = (2 to k).map { i =>
      s"""sel$i AS (SELECT p.id, p.rel_u,
                  $lam * p.rel_u - ${1000L - lam} * max(s.sim_u) AS score
           FROM pool p JOIN sims s ON s.a = p.id
                JOIN all${i - 1} t ON s.b2 = t.id
           WHERE p.id NOT IN (SELECT id FROM all${i - 1})
           GROUP BY p.id, p.rel_u
           ORDER BY score DESC, p.id LIMIT 1),
         all$i AS (SELECT id, rel_u, score, $i AS rk FROM sel$i
                   UNION ALL SELECT * FROM all${i - 1})"""
    }.mkString(",\n         ")
    s"""WITH b AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         q AS (SELECT v AS qv FROM b WHERE id = 0),
         sc AS (SELECT id, v, ${cos("v", "qv")} AS rel
                FROM b, q WHERE id <> 0),
         pool AS (SELECT id, v, CAST(round(rel * 1000000) AS BIGINT) AS rel_u
                  FROM sc ORDER BY rel DESC, id LIMIT $poolN),
         sims AS (SELECT x.id AS a, y.id AS b2,
                    CAST(round(${cos("x.v", "y.v")} * 1000000) AS BIGINT)
                      AS sim_u
                  FROM pool x JOIN pool y ON x.id <> y.id),
         sel1 AS (SELECT id, rel_u, $lam * rel_u AS score FROM pool
                  ORDER BY score DESC, id LIMIT 1),
         all1 AS (SELECT id, rel_u, score, 1 AS rk FROM sel1),
         $steps
         SELECT CAST(rk AS BIGINT) AS mmr_rank, CAST(id AS BIGINT) AS vec_id,
                rel_u AS rel_micro, CAST(score AS BIGINT) AS mmr_nano
         FROM all$k"""
  }

  private[graft] def q272OracleSql: String = {
    def iter(aPrev: String, i: Int) =
      s"""hr$i AS (SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS s
            FROM e JOIN $aPrev a ON e.dst = a.node GROUP BY 1),
          h$i AS (SELECT node, CAST(s * 1000000 //
                    (SELECT max(s) FROM hr$i) AS BIGINT) AS h
                  FROM hr$i),
          ar$i AS (SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS s
            FROM e JOIN h$i h ON e.src = h.node GROUP BY 1),
          a$i AS (SELECT node, CAST(s * 1000000 //
                    (SELECT max(s) FROM ar$i) AS BIGINT) AS a
                  FROM ar$i)"""
    s"""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                CAST(l_partkey + 10000000 AS BIGINT) AS dst FROM lineitem),
       n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       a0 AS (SELECT node, CAST(1000000 AS BIGINT) AS a FROM n),
       ${iter("a0", 1)},
       ${iter("a1", 2)},
       ${iter("a2", 3)}
       SELECT n.node, COALESCE(h3.h, 0) AS hub, COALESCE(a3.a, 0) AS auth
       FROM n LEFT JOIN h3 ON n.node = h3.node
              LEFT JOIN a3 ON n.node = a3.node
       ORDER BY auth DESC, n.node LIMIT 20"""
  }

  private[graft] def q131OracleSql: String = {
    def iter(m: String, rPrev: String, r: String) =
      s"""$m AS (SELECT e.dst AS node, sum(r.rank // dg.deg) AS s
            FROM e JOIN $rPrev r ON e.src = r.node
                   JOIN dg ON e.src = dg.src GROUP BY 1),
          $r AS (SELECT n.node,
                   CAST(150000 + COALESCE($m.s, 0) * 85 // 100 AS BIGINT)
                     AS rank
                 FROM n LEFT JOIN $m USING (node))"""
    s"""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                       CAST(l_partkey + 10000000 AS BIGINT) AS dst
                FROM lineitem
                UNION
                SELECT DISTINCT CAST(l_partkey + 10000000 AS BIGINT),
                       CAST(l_suppkey AS BIGINT)
                FROM lineitem),
       n AS (SELECT DISTINCT src AS node FROM e),
       dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
       ${iter("m1", "r0", "r1")},
       ${iter("m2", "r1", "r2")},
       ${iter("m3", "r2", "r3")}
       SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20"""
  }

  /** DuckDB 1.0 oracle SQL — same table names, same output column names.
    * DuckDB-vs-Spark portability rules: regexp_replace needs the 'g' flag
    * (Spark replaces all matches by default); computed ints are CAST to
    * BIGINT (DuckDB sum(int)→HUGEINT, row_number→BIGINT vs Spark INT);
    * doubles from aggregation are rounded identically on both sides. */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // q200's oracle composes the member readouts' own proven SQL — any
    // member drifting from its oracle breaks the panel identically.
    base + ("q200_stats_panel" ->
      s"""SELECT 'attr_ppm' AS metric, attr_ppm AS value_ppm
            FROM (${base("q174_attribution")})
          UNION ALL SELECT 'auc_ppm', auc_ppm
            FROM (${base("q167_roc_auc")})
          UNION ALL SELECT 'cuped_adj_diff_ppm', adj_diff_ppm
            FROM (${base("q170_cuped")})
          UNION ALL SELECT 'eta2_ppm', eta2_ppm
            FROM (${base("q196_variance_decomposition")})
          UNION ALL SELECT 'ks_ppm', ks_ppm
            FROM (${base("q198_ks_test")})""") +
    // Panel #2 composes the round-10 eval family the same way.
    ("q265_eval_panel" ->
      s"""SELECT 'kappa_ppm' AS metric, kappa_ppm AS value
            FROM (${base("q243_agreement")})
          UNION ALL SELECT 'brier_ppm', brier_ppm
            FROM (${base("q246_brier")})
          UNION ALL SELECT 'ece_ppm', ece_ppm
            FROM (${base("q253_ece")})
          UNION ALL SELECT 'conformal_coverage_ppm', coverage_ppm
            FROM (${base("q254_conformal")})
          UNION ALL SELECT 'jackknife_z_milli', z_milli
            FROM (${base("q247_jackknife")})
          UNION ALL SELECT 'logrank_z_milli', z_milli
            FROM (${base("q264_logrank")})""")
  }

  private[graft] def oracleSqlBase: Map[String, String] =
    oracleChunk1 ++ oracleChunk2 ++ oracleChunk3 ++ oracleChunk4 ++
    oracleChunk5 ++ oracleChunk6

  /** The q167-q169 scored-docs CTE (DuckDB): the clamped 1e4-quantized
    * heuristic quality score + the n_chars≥300 label — the oracle twin of
    * [[scoredDocs]]. */
  /** The portable-minhash candidate-pair CTE chain (the q82 pipeline):
    * 3-gram shingles → 16 md5 minhashes → 8×2 bands → band-key candidates
    * → signature-agreement filter at 0.5. Ends in `pr(id1, id2)`; shared
    * by every oracle that reasons over near-dup PAIRS (q194, q298). */
  private[graft] val PortablePairsSql: String =
    """t AS (SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM (SELECT doc_id, toks,
                             unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
                      FROM t)),
         mh AS (SELECT doc_id, s,
                       min(substr(md5((s // 4)::VARCHAR || ':' || g),
                                  CAST(1 + 8 * (s % 4) AS INTEGER), 8)) AS h
                FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS s) seeds
                GROUP BY doc_id, s),
         sig AS (SELECT doc_id, list(h ORDER BY s) AS sig FROM mh GROUP BY doc_id),
         band AS (SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS bk
                  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands),
         cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
                  FROM band a JOIN band c
                    ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id),
         agr AS (SELECT cand.id1, cand.id2,
                        sum(CASE WHEN s1.sig[k+1] = s2.sig[k+1] THEN 1 ELSE 0 END) AS agree
                 FROM cand JOIN sig s1 ON cand.id1 = s1.doc_id
                           JOIN sig s2 ON cand.id2 = s2.doc_id
                      CROSS JOIN (SELECT unnest(range(0, 16)) AS k) ks
                 GROUP BY 1, 2),
         pr AS (SELECT id1, id2 FROM agr WHERE agree / 16.0 >= 0.5)"""

  /** [[ScoredDocsSql]] with the language slice carried through — the
    * q306 substrate. Derived mechanically so the two can never drift. */
  private[graft] lazy val SlicedScoredDocsSql: String = {
    val marker = "sc AS (SELECT "
    require(ScoredDocsSql.startsWith(marker), "ScoredDocsSql shape moved")
    marker + "lang AS slice, " + ScoredDocsSql.stripPrefix(marker)
  }

  /** [[ScoredDocsSql]] with doc identity and length carried through —
    * the q385 substrate. Same mechanical derivation. */
  private[graft] lazy val IdScoredDocsSql: String = {
    val marker = "sc AS (SELECT "
    require(ScoredDocsSql.startsWith(marker), "ScoredDocsSql shape moved")
    marker + "doc_id, n_chars, " + ScoredDocsSql.stripPrefix(marker)
  }

  private[graft] val ScoredDocsSql: String =
    """sc AS (SELECT greatest(least(CAST(floor(
                round(0.5 * least(length(text) / 500.0, 1.0)
                  + 0.5 * least(len(regexp_extract_all(text, '[A-Za-z0-9]+')) * 1.0
                          / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 1.0)
                  - len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
                    / greatest(length(text), 1), 4) * 10000 + 0.5) AS BIGINT),
                10000), 0) AS s,
              CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
         FROM documents)"""
}
