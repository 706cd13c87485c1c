package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the graft test schema.
  *
  * Loads are lazy parquet scans through [[parquet]], so Catalyst owns column
  * pruning and predicate pushdown: every operator downstream selects only
  * the columns it needs *before* wide transforms, which at 100 TB turns
  * these into narrow columnar scans with PushedFilters instead of
  * full-table reads. [[parquet]] resolves each file version once (schema
  * inference, data source lookup and file listing) and serves every later
  * read of that version from the resolved relation, so building a plan
  * over a known table launches no job and lists nothing but the path.
  */
object Tables {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

  /** A resolved parquet relation and the version it was resolved at: the
    * (name, modification time, length) of each leaf file and the
    * inference confs. */
  private final case class Resolved(version: (Seq[(String, Long, Long)], Seq[String]),
                                    relation: HadoopFsRelation)

  /** A kept relation holds its file index's copy of the Hadoop conf (about
    * 110 KB a path, measured), so only the paths read last are kept. */
  private[graft] val MaxRelations = 64

  /** One resolved relation per qualified path, in access order; a new
    * version replaces the old one. Cleared by `SparkEntry.releaseCaches()`. */
  private val relations = new java.util.LinkedHashMap[String, Resolved](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Resolved]): Boolean =
      size > MaxRelations
  }

  /** Session confs that change the schema parquet inference yields:
    * `Tables.events` sets `nanosAsLong`, which turns TIMESTAMP(NANOS) `ts`
    * into a LongType column. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** `spark.read.parquet(path)` resolved once per file version. A plain
    * read looks up the data source, copies Hadoop confs, checks the path,
    * lists the files, and infers the schema with a one-task job; an
    * interactive session reading the same tables op after op paid all of
    * that on every read. Here the path's leaf files are listed (one status
    * call for a file, one listing for a flat directory) and, while they are
    * unchanged (same names, modification times and lengths) and the session
    * and inference confs are the same, the kept `HadoopFsRelation` is
    * handed back through `baseRelationToDataFrame`. Every read still builds
    * a FRESH `LogicalRelation`, so two reads in one query carry distinct
    * attribute ids and self-join cleanly. Any change to a leaf, also a file
    * rewritten in place inside the directory, resolves the path again.
    *
    * Paths that are not one file or a flat directory of files (globs,
    * missing paths, nested or partitioned directories) take the plain read
    * and its errors. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    leaves(spark, p) match {
      case None => spark.read.parquet(path)
      case Some((key, files)) =>
        val version = (files, inferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")))
        relations.synchronized(Option(relations.get(key))) match {
          case Some(r) if r.version == version && (r.relation.sparkSession eq spark) =>
            spark.baseRelationToDataFrame(r.relation)
          case _ =>
            val df = spark.read.parquet(path)
            relation(df).foreach(rel =>
              relations.synchronized(relations.put(key, Resolved(version, rel))))
            df
        }
    }
  }

  /** The qualified path and the sorted (name, modification time, length)
    * of each file `p` holds: itself when it is a file, its children when it
    * is a directory of files. None for a glob, a missing path, or a
    * directory with a subdirectory. */
  private def leaves(spark: SparkSession,
                     p: Path): Option[(String, Seq[(String, Long, Long)])] =
    if (p.toString.exists("{}[]*?\\".contains(_))) None
    else {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val status =
        try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException | _: IllegalArgumentException => None }
      status.flatMap { st =>
        val files: Seq[FileStatus] = if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
        if (files.exists(_.isDirectory)) None
        else Some(st.getPath.toString -> files
          .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).sortBy(_._1))
      }
    }

  /** The `HadoopFsRelation` a single-relation read scans. */
  private def relation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) => fs
    } match {
      case Seq(fs) => Some(fs)
      case _ => None
    }

  private[graft] def cachedPaths: Seq[String] =
    relations.synchronized(relations.keySet.toArray(Array.empty[String]).toSeq)

  /** Footers by file version (qualified path, modification time, length),
    * read by [[FooterAggregate]] and [[events]]: a row count and, per
    * top-level column, its types and integer range. */
  private val footers =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Footer]

  private[graft] def footer(st: org.apache.hadoop.fs.FileStatus,
                            conf: => org.apache.hadoop.conf.Configuration): Footer =
    footers.getOrElseUpdate((st.getPath.toString, st.getModificationTime, st.getLen),
      Footer.read(conf, st))

  private[graft] def cachedFooters: Int = footers.size

  /** Drop the kept relations and footers. */
  private[graft] def clearCaches(): Unit = {
    relations.synchronized(relations.clear())
    footers.clear()
  }

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
    // The partition count is read off the planned (unprepared) plan's
    // leaves, never by executing it: under AQE even `.rdd` runs every
    // upstream shuffle stage. A joined frame is kept as it is, unprobed: a
    // shuffled join already runs at the shuffle partition count, and a
    // broadcast join keeps its stream side's partitioning until the next
    // keyed exchange. So is a frame whose count needs a run to know.
    val plan = df.queryExecution.sparkPlan
    val joined = plan.exists(p => p.children.length > 1 &&
      !p.isInstanceOf[org.apache.spark.sql.execution.UnionExec])
    if (joined || splitCount(plan, df.sparkSession).forall(_ >= cores)) df
    else df.repartition(cores, keys: _*)
  }

  /** The partitions `plan` runs at, as Spark computes them when it builds
    * the plan's RDD: file scans by `FilePartition` arithmetic over the
    * listed files, RDD scans by their RDD, local rows, ranges, explicit
    * repartitions, coalesces and unions by their own rules. None when a
    * leaf's count is only known by running it (an unfilled cache). */
  private def splitCount(plan: org.apache.spark.sql.execution.SparkPlan,
                         spark: SparkSession): Option[Int] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.datasources.FilePartition
    plan match {
      case s: FileSourceScanExec if !s.bucketedScan =>
        val session = s.relation.sparkSession
        val maxSplit = FilePartition.maxSplitBytes(session, s.selectedPartitions)
        val splits = s.selectedPartitions.filePartitionIterator.flatMap { p =>
          p.files.flatMap { f =>
            PartitionedFileUtil.splitFiles(f, f.getPath, s.relation.fileFormat
              .isSplitable(session, s.relation.options, f.getPath), maxSplit, p.values)
          }
        }.toSeq.sortBy(-_.length)
        Some(FilePartition.getFilePartitions(session, splits, maxSplit).size)
      case r: RDDScanExec => Some(r.rdd.getNumPartitions)
      case l: LocalTableScanExec =>
        Some(if (l.rows.isEmpty) 0 else math.min(l.rows.size,
          spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
            .fold(spark.sparkContext.defaultParallelism)(_.toInt)))
      case r: RangeExec => Some(if (r.isEmptyRange) 0 else r.numSlices)
      case m: columnar.InMemoryTableScanExec =>
        val cache = m.relation.cacheBuilder
        if (cache.isCachedColumnBuffersLoaded) Some(cache.cachedColumnBuffers.getNumPartitions)
        else None
      case e: exchange.ShuffleExchangeExec => Some(e.outputPartitioning.numPartitions)
      case c: CoalesceExec => splitCount(c.child, spark).map(n =>
        if (c.numPartitions == 1 && n < 1) 1 else math.min(n, c.numPartitions))
      case u: UnionExec => u.children.foldLeft(Option(0)) { (acc, child) =>
        for (a <- acc; n <- splitCount(child, spark)) yield a + n }
      case _: CollectLimitExec | _: TakeOrderedAndProjectExec => Some(1)
      case p if p.children.length == 1 => splitCount(p.children.head, spark)
      case _ => None
    }
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
    * or a plain parquet timestamp[us]. Either way the contract downstream is
    * fixed: `ts` is int64 epoch NANOS (exact ordering and window math, no
    * doubles) and `ts_t` is a µs TimestampType column for calendar ops like
    * `date_trunc('week', …)`.
    *
    * A timestamp[us] column (INT64 micros in every file, with or without a
    * zone) is read as its stored LongType micros: `ts` = micros × 1000 and
    * `ts_t` = `timestamp_micros(micros)`. No row goes through a time-zone
    * conversion, and the values do not depend on the session time zone: a
    * zone-less wall clock is taken as UTC, the convention DuckDB applies
    * when `epoch_us(ts)` is taken over the naive column in the oracle SQL.
    * Any other form (INT96, millis) is cast to TimestampType in the session
    * zone, which is UTC in every graft session. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(s, s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      case _ => relation(raw).filter(storedMicros(_, "ts")) match {
        case Some(fs) =>
          // The read's own relation with `ts` as its stored LongType: no
          // second resolution of the path.
          s.baseRelationToDataFrame(fs.copy(dataSchema = StructType(fs.dataSchema.map(f =>
              if (f.name == "ts") f.copy(dataType = LongType) else f)))(fs.sparkSession))
            .withColumn("ts_t", timestamp_micros(col("ts")))
            .withColumn("ts", col("ts") * lit(1000L))
        case None =>
          raw.withColumn("ts_t", col("ts").cast(TimestampType))
            .withColumn("ts", unix_micros(col("ts_t")) * lit(1000L))
      }
    }
  }

  /** Whether every file `fs` scans stores `column` as an INT64 timestamp in
    * microseconds. */
  private def storedMicros(fs: HadoopFsRelation, column: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    Footer.files(fs).exists { case (_, statuses) =>
      lazy val conf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
      statuses.nonEmpty && statuses.forall(st =>
        Footer.column(footer(st, conf), column).exists(c => c.physical == INT64 &&
          (c.annotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.MICROS
            case _ => false
          })))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
