package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's workloads: which contract keys one closed-loop client
  * cycles through, and which shared substrates are built where. */
object Workloads {

  /** A memoized substrate, built through its `SparkEntry` accessor. The
    * accessor returns an eager artifact, so timing the call times the
    * build. */
  final case class Substrate(name: String, build: (SparkSession, String) => Any)

  private val pairStats = Substrate("pair_stats", SparkEntry.pairStats)
  private val clusterLabels = Substrate("cluster_labels", SparkEntry.clusterLabels)
  private val portablePairs = Substrate("portable_pairs", SparkEntry.portableMinhashPairs)
  private val ivf = Substrate("ivf", SparkEntry.ivfIdx)
  private val pq = Substrate("pq", SparkEntry.pqIdx)
  private val dupSpans = Substrate("dup_spans", SparkEntry.dupSpans8)
  private val rfFit = Substrate("rf_fit", SparkEntry.rfFit)
  private val kmeansParts = Substrate("kmeans_parts", SparkEntry.clusteredParts)
  private val termStore = Substrate("term_store", SparkEntry.termStorePaths)

  /** @param keys       contract keys run once per cycle, in seed order
    * @param perCycle   substrates rebuilt at the top of every cycle, after
    *                   `SparkEntry.releaseCaches()`, in this fixed
    *                   (dependency) order
    * @param warmPasses untimed passes over the keys before the first timed
    *                   cycle; the first one collects each key's result and
    *                   writes it for the correctness check. With none, each
    *                   key's output is captured right after its first timed
    *                   run.
    * @param cycleS     nominal seconds of one timed cycle on a 4-core
    *                   machine: a run measures round(--seconds / cycleS)
    *                   whole cycles (at least one), so every commit does
    *                   the same work and reports the same percentiles */
  final case class Workload(name: String, keys: Seq[String],
                            perCycle: Seq[Substrate] = Nil,
                            warmPasses: Int, cycleS: Double)

  val ordered: Seq[Workload] = Seq(
    // app.py/dag.py read surface: ops take 0.2-1.2 s and run ~4 jobs
    // each, so per-op fixed cost (planning, job submission, eager actions)
    // dominates. Charts (q01 q07 q08) and Etl (q05 q11) reads, an
    // Analytics panel (q138) and the bloom (q97) and zone-map (q124)
    // lookups of sources, whose stores are memos built in set-up. After
    // the collecting pass, one set-up pass runs every key through the timed
    // (noop) path; cycle times still fall for several passes while the JIT
    // compiles, and the metrics are medians over the cycles.
    Workload("app-interactive",
      keys = Seq(
        "q01_topk", "q05_enrich_join", "q07_latest_snapshot",
        "q08_weeks_on_chart", "q11_recent_window", "q138_trending",
        "q97_bloom_lookup", "q124_zonemap_scan"),
      warmPasses = 2, cycleS = 4),
    // The nightly batch as a fresh driver process runs it: dag.py's load
    // (warehouse merge and merge-on-read merge: WarehouseSink and
    // WarehouseCatalog commits and the local filesystem) and the weekly
    // retrain (the memos dropped, one substrate per module built cold: the
    // KMeans of ml.Recommend, the PQ index of Similarity, the portable
    // MinHash pairs of Dedup, whose signature stage goes through
    // Materialize, and the term-index store of sources; their consumers, a
    // Vocab encode, and the strongly connected components (Components) and
    // hierarchy walk (Graph)). The substrates are built first, then the
    // keys run in seed order. One cycle, JVM warm-up included, as the batch
    // pays it. The costliest builds and walkers (the
    // RF fit of ml.Popularity, 22-37 s cold; pairStats; q131, q392) stay in
    // iterative-cold, which a benchmark run could not fit.
    Workload("batch-cold",
      keys = Seq(
        "q171_warehouse_merge", "q311_mor_merge",
        "q63_recommend_multi", "q70_ann_pq", "q82_minhash_portable",
        "q270_term_lookup", "q323_bpe_encode", "q451_scc", "q417_hierarchy"),
      perCycle = Seq(kmeansParts, pq, portablePairs, termStore),
      warmPasses = 0, cycleS = 50),
    // Every substrate and consumer of the weekly retrain, run by hand and
    // by the order-independence check: one cycle (~95 s) is longer than a
    // benchmark run may take. Every cycle drops the memos and rebuilds each
    // substrate cold, then runs its consumers and the graph walkers.
    // q209/q229 fail on this commit and count as failed ops.
    Workload("iterative-cold",
      keys = Seq(
        "q46_dedup_clusters", "q53_containment", "q100_canonical_quality",
        "q82_minhash_portable", "q118_lsh_quality",
        "q61_ann_ivf_exact", "q70_ann_pq", "q325_dup_spans",
        "q326_span_report", "q27_rf_predict", "q62_predict_recommend",
        "q63_recommend_multi", "q131_pagerank", "q392_betweenness",
        "q451_scc", "q209_triangles", "q229_kcore"),
      // Dependency order: clusterLabels reads pairStats.
      perCycle = Seq(pairStats, clusterLabels, portablePairs, ivf, pq,
        dupSpans, rfFit, kmeansParts),
      warmPasses = 0, cycleS = 95),
  )

  val all: Map[String, Workload] = ordered.map(w => w.name -> w).toMap

  /** Memo entries currently held by `SparkEntry`, read from outside. */
  def memoEntries(): Int = {
    import SparkEntry._
    Seq(pairStatsCache, portablePairsCache, clustersCache, bpeMergeCache,
      fpStoreCache, lshStoreCache, semStoreCache, bloomStoreCache,
      termStoreCache, zoneStoreCache, spanCache, clusterCache, ivfCache,
      pqCache, ivfPqCache, rfCache).map(_.size).sum
  }

  def query(key: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"unknown contract key $key"))
}
