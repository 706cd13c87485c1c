package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session bootstrap for running graft at cluster scale.
  *
  * Defaults encode the 100 TB posture the operators assume:
  *  - AQE on (runtime re-plan), with skew-join splitting and post-shuffle
  *    partition coalescing — the safety net for hot keys and for the
  *    static `shuffle.partitions` guess being wrong at any one stage.
  *  - `spark.sql.extensions=graft.GraftExtensions` so the native sketch
  *    functions (`graft_dot`, `graft_shingles`, `graft_minhash`,
  *    `graft_simhash`) resolve in plain SQL.
  *  - UTC session timezone (calendar ops must not depend on driver locale).
  *  - A whole-stage codegen cache of 150 classes
  *    (`spark.sql.codegen.cache.maxEntries`), so an interactive session's
  *    warm plans stop recompiling.
  *  - RocksDB streaming state with changelog checkpointing.
  *
  * Sizing guidance (cluster-tunable, not hardcoded):
  *  - `spark.sql.shuffle.partitions`: ~2-3× total executor cores, and at
  *    least (largest shuffled stage input / ~200 MB) partitions so a
  *    partition fits executor memory; AQE coalesces the excess.
  *  - `spark.sql.files.maxPartitionBytes`: 128-256 MB — scan parallelism
  *    tracks the input, independent of the shuffle setting.
  *  - Broadcast threshold: raise only with executor heap; every operator
  *    here already broadcasts its genuinely-small sides explicitly.
  */
object GraftSession {

  /** graft's scale defaults, in the order [[tune]] applies them. */
  val defaults: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Apply AQE to plans feeding persisted frames too — iterative operators
    // (connected components) cache small intermediates whose shuffles should
    // coalesce instead of running at the static partition count each round.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // Whole-stage codegen keeps compiled classes in one JVM-wide cache of
    // 100 entries by default, split across Guava segments that each evict
    // on their own. The app.py read mix (charts, ETL reads, an analytics
    // panel, index lookups: 8 keys) overflows it and recompiles ~3 evicted
    // classes per query on every pass; measured at sf0.1, 125 entries
    // already stop that, 150 leaves a segment's worth of margin. Static:
    // read once, when the first plan is compiled in the JVM.
    "spark.sql.codegen.cache.maxEntries" -> "150",
    // Streaming state lives OFF-HEAP in RocksDB: EventCharts.streaks keys
    // its `transformWithState` state by entity (also in batch, q36), whose
    // cardinality at 100 TB is unbounded — the default in-heap
    // HDFSBackedStateStore OOMs an executor long before the data does, and
    // transformWithState needs RocksDB's multiple column families.
    // Changelog checkpointing uploads per-batch deltas instead of full SST
    // snapshots, keeping commit latency flat as state grows.
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Apply graft's scale defaults to a builder (pre-session). */
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    defaults.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  def builder(appName: String = "graft"): SparkSession.Builder =
    tune(SparkSession.builder().appName(appName))

  /** Local development/test session ([[builder]] + local master). For an
    * ALREADY-running session (e.g. a shared notebook), session-level confs
    * apply but `spark.sql.extensions` cannot retroactively — call
    * [[GraftExtensions.register]] on it instead. */
  def local(cores: Int): SparkSession = {
    val s = builder("graft-local")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }
}
