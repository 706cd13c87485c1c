package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the graft test schema.
  *
  * Loads are lazy parquet scans through [[parquet]], so Catalyst owns column
  * pruning and predicate pushdown: every operator downstream selects only
  * the columns it needs *before* wide transforms, which at 100 TB turns
  * these into narrow columnar scans with PushedFilters instead of
  * full-table reads. [[parquet]] reuses each file version's inferred schema,
  * so building a plan over a known table launches no job.
  */
object Tables {
  /** Inferred schemas by (qualified path, modification time, length,
    * inference confs). Cleared by `SparkEntry.releaseCaches()`. */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long, Seq[String]), StructType]

  /** Session confs that change the schema parquet inference yields:
    * `Tables.events` sets `nanosAsLong`, which turns TIMESTAMP(NANOS) `ts`
    * into a LongType column. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** `spark.read.parquet(path)` without its per-read schema inference.
    * Inference lists the path, reads a footer and runs a one-task
    * schema-merge job; an interactive session reading the same tables op
    * after op paid that job on every read. The inferred schema is kept per
    * file version (the path's status: a rewrite replaces the file or
    * directory and moves its modification time) and handed back as a
    * user schema. Every call still builds a FRESH relation, so two reads
    * in one query carry distinct attribute ids and self-join cleanly.
    *
    * A change nested below a directory that leaves the directory's own
    * status alone (a file swapped inside a partition subdirectory) is not
    * seen until [[clearSchemas]]. Paths that do not resolve to one status
    * (missing paths, globs) take the plain read and its errors. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException | _: IllegalArgumentException => None }
    status match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = (st.getPath.toString, st.getModificationTime, st.getLen,
          inferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")))
        val schema = schemas.getOrElseUpdate(key, spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
    }
  }

  private[graft] def clearSchemas(): Unit = schemas.clear()

  /** OPT-IN guard against single-task map stages on low-split inputs
    * (spark_optimization_guide §2.5, "input skew: one huge unsplittable
    * file"): a parquet file is only splittable at row-group boundaries, so
    * a table that arrives as one file/one row group plans every downstream
    * map stage at ONE task no matter how many cores the session has. When
    * the frame's partition count is below the session parallelism,
    * hash-spread the rows across the cores (hash repartition, not
    * round-robin: deterministic row→partition mapping, no
    * sort-before-repartition pass). At real scale the split count exceeds
    * the core count and this is an identity — no exchange is added.
    *
    * Deliberately NOT applied to every load: for scan→partial-agg plans
    * the extra full-row exchange costs more than the map work it
    * parallelizes (measured: q13 0.39 s → 1.57 s, q103 0.57 s → 1.38 s,
    * q15/q16 +0.1 s each with a blanket spread). Only operators whose
    * per-row map work dominates (LM fluency scoring, shingle explodes,
    * bootstrap replica explodes) call this at their input. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    // Hash on every non-map column (maps are not hashable in Spark), as a
    // COLUMN LIST rather than one struct(...) expression: Catalyst
    // recognizes HashPartitioning(c1..cn) as satisfying the clustered
    // distribution a downstream distinct()/groupBy on those columns needs,
    // so the spread exchange is REUSED instead of followed by a second
    // full exchange (struct(c1..cn) hashing is opaque to that check —
    // measured: one Exchange removed from every spread→distinct substrate).
    val keys = df.schema.fields.toIndexedSeq
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => org.apache.spark.sql.functions.col(f.name))
    if (keys.isEmpty) df else spreadBy(df, keys)
  }

  /** [[spread]] with an explicit partitioning key: operators whose next
    * shuffle boundary is keyed (the graph family joins/aggregates its edge
    * table on the src endpoint) spread by THAT key, so the distinct, the
    * degree aggregate and the per-iteration edge joins all reuse the one
    * exchange instead of re-partitioning (guide §2.4 "two operations keyed
    * the same way can share one exchange"). Hash co-locates equal keys —
    * callers own key-skew judgement (a graph's src key is node-bounded). */
  private[graft] def spreadBy(df: DataFrame,
                              keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // Partition-count probe WITHOUT df.rdd: under AQE, .rdd finalizes the
    // adaptive plan, which EXECUTES every upstream shuffle stage eagerly
    // and throws that work away when the frame is re-planned downstream.
    // On a join-free plan, sparkPlan.execute() builds the non-adaptive
    // physical RDD lazily — partition arithmetic only, no job — although
    // the plan is unprepared (no exchanges inserted). A join cannot run
    // unprepared: a broadcast join asks its build side for a broadcast
    // that only the missing exchange gives ("HashAggregate does not
    // implement doExecuteBroadcast"). A joined frame is therefore kept as
    // it is, unprobed: a shuffled join already runs at the shuffle
    // partition count, and a broadcast join keeps its stream side's
    // partitioning until the next keyed exchange.
    val plan = df.queryExecution.sparkPlan
    val joined = plan.exists(p => p.children.length > 1 &&
      !p.isInstanceOf[org.apache.spark.sql.execution.UnionExec])
    if (joined || plan.execute().getNumPartitions >= cores) df
    else df.repartition(cores, keys: _*)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in one of two physical forms depending on the data
    * generator: parquet TIMESTAMP(NANOS) (which Spark 4 refuses to read as a
    * timestamp — we read it as exact int64 nanoseconds via the legacy flag),
    * or a plain parquet timestamp[us] (read as TIMESTAMP_NTZ). Either way the
    * contract downstream is fixed: `ts` is int64 epoch NANOS (exact ordering
    * and window math, no doubles) and `ts_t` is a µs TimestampType column for
    * calendar ops like `date_trunc('week', …)`. All graft sessions run with
    * session timeZone=UTC, so the NTZ wall-clock == the UTC instant and the
    * cast below is value-preserving — the same convention DuckDB applies when
    * `epoch_us(ts)` is taken over the naive column in the oracle SQL. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts_t",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts", unix_micros(col("ts_t")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
