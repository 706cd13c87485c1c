package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch ETL operators mirroring the reference DAG's transform/load stages
  * (dag.py:408-532, 725-738), re-expressed as declarative plans so predicate
  * pushdown / column pruning / partial aggregation are Catalyst's problem.
  */
object Etl {

  /** Filter + project + rename — the reference's `df[df.popularity != 0]`
    * then column alignment (dag.py:442-452). The predicate lands in the
    * parquet scan as a pushed filter; the select prunes the read schema. */
  def filterProject(orders: DataFrame, minTotal: Double): DataFrame =
    orders
      .filter(col("o_totalprice") > minTotal && col("o_orderstatus") =!= "P")
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"))

  /** History ∪ fresh-batch with exact dedup — `pd.concat(...)` +
    * `drop_duplicates` (dag.py:457-464). Both legs slice the same fact by
    * date (at scale: partition-pruned reads), union is metadata-only, and
    * the distinct is one hash-aggregate shuffle. */
  def unionHistory(orders: DataFrame, historyCutDays: Int,
                   freshDays: Int): DataFrame = {
    val maxd = orders.agg(max(col("o_orderdate")).as("maxd"))
    val withMax = orders.crossJoin(broadcast(maxd))
    val history = withMax.filter(
      col("o_orderdate") < expr(s"maxd - INTERVAL $historyCutDays DAYS"))
    val fresh = withMax.filter(
      col("o_orderdate") >= expr(s"maxd - INTERVAL $freshDays DAYS"))
    history.unionByName(fresh)
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"))
      .distinct()
  }

  /** Keyed upsert (MERGE): new batch wins over target on the key.
    * Reference: BigQueryUpsertTableOperator (dag.py:5) + append loads.
    * source ∪ (target ⟕anti source) — the anti join shuffles on the key
    * once; with a small source Spark broadcasts it. */
  def upsert(target: DataFrame, source: DataFrame, key: String): DataFrame =
    source.unionByName(target.join(source.select(key), Seq(key), "left_anti"))

  /** Deterministic keyed dedup: keep the first row per key-set by a stable
    * order — reference's `drop_duplicates(subset=[...])` (dag.py:462-483)
    * made order-stable (pandas keeps first encounter; we keep min order col). */
  def dedupKeys(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col(_).asc): _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Keyed snapshot DIFF — classify every key across two versions of a
    * table (time-travel reads, warehouse branches, or any two
    * same-schema frames) as added / removed / changed / unchanged: the
    * "what did this release change" audit a version-diff UI or a
    * reconciliation job runs, and the readable complement of the
    * row-level change feed (42k'' replays HOW a table moved; this
    * compares any two STATES, however far apart, without needing the
    * intermediate history).
    *
    * One full-outer join on the key with the non-key payload packed
    * into a struct compared null-safely (`<=>` — NULL payload fields
    * equal themselves, so nullable columns can't fake a change). Keys
    * must be unique per side (the snapshot contract); the join shuffles
    * key+struct, never more. */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(before.columns.sorted.sameElements(after.columns.sorted),
      "snapshotDiff requires identical schemas " +
        s"(${before.columns.mkString(",")} vs ${after.columns.mkString(",")})")
    val dataCols = before.columns.filterNot(keyCols.contains).sorted
    def packed(df: DataFrame, as: String) = df.select(
      keyCols.map(col) :+ struct(dataCols.map(col): _*).as(as): _*)
    packed(before, "graft_b")
      .join(packed(after, "graft_a"), keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("graft_b").isNull, lit("added"))
          .when(col("graft_a").isNull, lit("removed"))
          .when(col("graft_a") <=> col("graft_b"), lit("unchanged"))
          .otherwise(lit("changed")).as("change"): _*)
  }

  /** SCD type-2 interval build: turn a keyed event/value history into
    * validity intervals — one row per VALUE CHANGE with [valid_from,
    * valid_to) bounds (open `valid_to` = current). The warehouse-proper
    * form of the reference's daily snapshot merges (dag.py:137-154 keeps
    * only "latest"; SCD-2 keeps the full history queryable as-of any
    * time). Two window passes (change detection + lead) share ONE shuffle
    * on the key; consecutive duplicates collapse so interval count tracks
    * CHANGES, not events. */
  def scd2(df: DataFrame, key: String, ts: String, tieCol: String,
           attr: String): DataFrame = {
    val byTime = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col(tieCol).asc)
    df.select(col(key), col(ts), col(tieCol), col(attr))
      .withColumn("graft_prev", lag(col(attr), 1).over(byTime))
      .filter(col("graft_prev").isNull || col(attr) =!= col("graft_prev"))
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(byTime))
      .select(col(key), col(attr), col("valid_from"), col("valid_to"))
  }

  /** Apply a CDC batch (inserts/updates/deletes) to a keyed target — the
    * MERGE-with-deletes the plain [[upsert]] lacks. The latest op per key
    * wins (row_number over the change order); a final 'D' removes the key,
    * anything else replaces the row. One shuffle family on the key: the
    * latest-op window, the anti join and the union all co-partition. */
  def applyCdc(target: DataFrame, cdc: DataFrame, key: String,
               orderCols: Seq[String], opCol: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols.map(col(_).desc): _*)
    val latest = cdc.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1).drop("graft_rn")
    val upserts = latest.filter(col(opCol) =!= "D")
      .drop(opCol).drop(orderCols.filterNot(target.columns.contains): _*)
    target.join(latest.select(col(key)), Seq(key), "left_anti")
      .unionByName(upserts)
  }

  /** Rows within the trailing `days` window of the table's own max timestamp —
    * the reference's "last 2 months" filter (dag.py:488-491). The 1-row max
    * aggregate is broadcast; at scale the comparison prunes partitions. */
  def recentWindow(df: DataFrame, ts: String, days: Int): DataFrame = {
    val maxd = df.agg(max(col(ts)).as("graft_maxd"))
    df.crossJoin(broadcast(maxd))
      .filter(col(ts) > expr(s"graft_maxd - INTERVAL $days DAYS"))
      .drop("graft_maxd")
  }

  /** As [[recentWindow]] but over an int64 epoch-nanoseconds column —
    * exact long arithmetic, bit-identical to an engine comparing native
    * nanosecond timestamps. */
  def recentWindowNanos(df: DataFrame, tsNanos: String, days: Int): DataFrame = {
    val maxd = df.agg(max(col(tsNanos)).as("graft_maxd"))
    df.crossJoin(broadcast(maxd))
      .filter(col(tsNanos) > col("graft_maxd") - lit(days.toLong * 86400L * 1000000000L))
      .drop("graft_maxd")
  }

  /** Weekly grouped aggregate — the weekly-cadence batch rollup. One
    * partial-aggregated shuffle on (week, group). */
  def weeklyAgg(events: DataFrame, ts: String, group: String,
                value: String): DataFrame =
    events
      .select(date_format(date_trunc("week", col(ts)), "yyyy-MM-dd").as("wk"),
        col(group), col(value))
      .groupBy("wk", group)
      .agg(count(lit(1)).as("n"),
        round(sum(value), 2).as("sum_v"),
        round(avg(value), 2).as("avg_v"))

  /** Fact-to-dim enrichment: lineitem ⟕ part, then revenue by brand.
    * Reference: tracks ⟕ audio-features merge (dag.py:462-464) feeding
    * aggregated dashboards. The dim side is broadcast — no fact shuffle for
    * the join; the aggregate shuffles only (brand) partials. */
  def enrichRevenueByBrand(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_partkey"), col("l_extendedprice"),
      col("l_discount"), col("l_quantity"))
    val p = part.select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "left")
      .groupBy(coalesce(col("p_brand"), lit("UNKNOWN")).as("brand"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        round(sum("l_quantity"), 2).as("sum_qty"))
  }

  /** TPC-H Q1-flavoured pricing summary: the canonical partial-agg scan.
    * All measures compute in one pass; map-side combine shrinks the shuffle
    * to |returnflag × linestatus| rows per partition. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Fixed-width histogram: bucket = floor(metric/width) clamped to
    * [0, nBuckets). Static bounds (not data-dependent min/max) keep it a
    * single map-side aggregate — no extra pass, and bucket ids are stable
    * as data grows. */
  def histogram(df: DataFrame, metric: String, width: Double,
                nBuckets: Int): DataFrame =
    df.groupBy(
      greatest(least(floor(col(metric) / width), lit(nBuckets - 1L)), lit(0L))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(metric)), 2).as("lo"),
        round(max(col(metric)), 2).as("hi"))

  /** Partition-pruned, sorted parquet sink: directory partitioning on the
    * coarse key (readers filtering on it skip whole directories at
    * planning time) + sortWithinPartitions on the fine keys (row-group
    * min/max statistics make point reads skip pages within files). This
    * is the layout contract every downstream scan in this library assumes
    * a 100 TB table to have. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       sortCols: String*): Unit =
    df.repartition(col(partitionCol))
      // The partition column leads the sort: the parquet writer REQUIRES
      // task rows ordered by partition columns and would otherwise insert
      // its own re-sort above this one — re-sorting everything and (with
      // spills) destroying the fine-key order this function promises.
      .sortWithinPartitions(col(partitionCol) +: sortCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Dynamic partition overwrite — replace ONLY the partitions the batch
    * touches, leaving every other directory byte-identical: the daily
    * backfill shape ("rewrite yesterday, keep three years of history")
    * that a plain overwrite would turn into a full-table rewrite and a
    * plain append into duplicates. Spark's static overwrite mode drops
    * ALL partitions first, so dynamic mode is requested as a PER-WRITE
    * DataFrameWriter option — scoped to exactly this write, never the
    * session conf: toggling the process-global
    * `spark.sql.sources.partitionOverwriteMode` (even save/restored)
    * would hand dynamic-overwrite semantics to any concurrent writer in
    * the same session during the window. At 100 TB this is the
    * difference between a batch-sized and a corpus-sized backfill job. */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
                                 partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions(col(partitionCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** Globally range-clustered parquet layout: repartitionByRange on the
    * cluster key + sortWithinPartitions, so every file owns a DISJOINT
    * key range and file/row-group min-max statistics prune a point or
    * range predicate down to ~one file of `nFiles` at planning time. This
    * is the right layout when the scan key is high-cardinality (ids,
    * timestamps) where [[writePartitioned]]'s directory-per-value would
    * explode the listing; range boundaries come from Spark's built-in
    * reservoir sample of the key, so skewed keys still split evenly.
    * Secondary `sortCols` order rows within files for page-level skips. */
  def writeRangeLayout(df: DataFrame, path: String, nFiles: Int,
                       rangeCol: String, sortCols: String*): Unit =
    df.repartitionByRange(nFiles, col(rangeCol))
      .sortWithinPartitions((rangeCol +: sortCols).map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Mergeable aggregate STATE per key: (n, sum_v, min_v, max_v) — every
    * algebraic summary a dashboard needs, carried in a form that merges.
    * Pair with [[mergeAggStates]] for incremental materialized-view
    * refresh: a weekly rollup over years of history updates by
    * aggregating ONLY the new batch and merging O(groups) rows, instead
    * of rescanning history every refresh — the difference between a
    * batch-sized and a corpus-sized daily job at 100 TB. Derived
    * measures (avg = sum/n) belong at READ time ([[aggReadView]]), never
    * in the state: averages don't merge, sums do. */
  def aggState(df: DataFrame, keys: Seq[String], valCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valCol)).as("sum_v"),
        min(col(valCol)).as("min_v"),
        max(col(valCol)).as("max_v"))

  /** Merge two [[aggState]] tables: + for counts/sums, min/max for
    * bounds. Associative and commutative, so batches can arrive in any
    * order and the fold can tree-reduce. */
  def mergeAggStates(stored: DataFrame, batch: DataFrame,
                     keys: Seq[String]): DataFrame =
    stored.unionByName(batch)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Read-time view over an [[aggState]]: the derived measures. */
  def aggReadView(state: DataFrame): DataFrame =
    state.withColumn("avg_v",
      round(col("sum_v") / col("n"), 2))

  /** RETRACTABLE incremental refresh: apply a CDC batch of row-level
    * `inserts` AND `deletes` to a stored [[aggState]]. [[mergeAggStates]]
    * folds inserts only — feed it a delete and the view silently
    * corrupts, because count/sum CAN subtract but min/max cannot (the
    * reference's blunt answer is a full truncate+append recompute,
    * dag.py:735-738; this is the batch-sized answer that must not be
    * weaker).
    *
    * Plan shape, all O(batch) + O(affected-group rows):
    *  - n/sum retract algebraically: stored + inserts − deletes, one
    *    full-outer merge of three O(groups) aggregates; groups whose
    *    count reaches 0 drop out of the view.
    *  - min/max re-aggregate from `base` (the base table AFTER the CDC
    *    applied) for ONLY the groups where a deleted value actually tied
    *    the stored extreme (`del_min ≤ stored_min` or `del_max ≥
    *    stored_max`); every other group keeps
    *    least/greatest(stored, inserts), which deletes can't invalidate.
    *    The rescan is a semi-join of `base` against the affected-key set
    *    — batch-shaped, never history-shaped, and empty (no scan at all)
    *    for an insert-only batch.
    * Deletes of rows that were never counted (no stored group) surface
    * as dropped/negative groups rather than fabricated state. */
  def retractAggState(stored: DataFrame, inserts: DataFrame,
                      deletes: DataFrame, base: DataFrame,
                      keys: Seq[String], valCol: String): DataFrame = {
    def named(df: DataFrame, p: String) =
      aggState(df, keys, valCol).select(
        keys.map(col) ++ Seq(col("n").as(s"${p}_n"), col("sum_v").as(s"${p}_sum"),
          col("min_v").as(s"${p}_min"), col("max_v").as(s"${p}_max")): _*)
    val st = stored.select(
      keys.map(col) ++ Seq(col("n").as("st_n"), col("sum_v").as("st_sum"),
        col("min_v").as("st_min"), col("max_v").as("st_max")): _*)
    // Zero literal in the state's OWN sum dtype — a bare 0.0 would
    // silently promote integer sums to double.
    val zeroSum = lit(0).cast(stored.schema("sum_v").dataType)
    val merged = st
      .join(named(inserts, "in"), keys, "full_outer")
      .join(named(deletes, "dl"), keys, "full_outer")
      .withColumn("graft_n2",
        coalesce(col("st_n"), lit(0L)) + coalesce(col("in_n"), lit(0L))
          - coalesce(col("dl_n"), lit(0L)))
      .withColumn("graft_sum2",
        coalesce(col("st_sum"), zeroSum) + coalesce(col("in_sum"), zeroSum)
          - coalesce(col("dl_sum"), zeroSum))
      // least/greatest skip nulls, so insert-only and stored-only groups
      // fall out of the same expression.
      .withColumn("graft_cmin", least(col("st_min"), col("in_min")))
      .withColumn("graft_cmax", greatest(col("st_max"), col("in_max")))
      .withColumn("graft_rescan",
        col("dl_n").isNotNull && (col("st_min").isNull ||
          col("dl_min") <= col("st_min") || col("dl_max") >= col("st_max")))
    val affected = merged.filter(col("graft_rescan")).select(keys.map(col): _*)
    val rescanned = aggState(base.join(affected, keys, "left_semi"),
      keys, valCol).select(
      keys.map(col) ++ Seq(col("min_v").as("graft_rmin"),
        col("max_v").as("graft_rmax")): _*)
    merged.filter(col("graft_n2") > 0)
      .join(rescanned, keys, "left")
      .select(keys.map(col) ++ Seq(
        col("graft_n2").as("n"), col("graft_sum2").as("sum_v"),
        when(col("graft_rescan"), col("graft_rmin"))
          .otherwise(col("graft_cmin")).as("min_v"),
        when(col("graft_rescan"), col("graft_rmax"))
          .otherwise(col("graft_cmax")).as("max_v")): _*)
  }

  /** Z-order-clustered parquet layout: rows sort by the INTERLEAVED bits
    * of two columns' 8-bit linear bins, so file/row-group min-max stats
    * prune predicates on EITHER column to ~√nFiles files — the
    * two-dimensional generalization of [[writeRangeLayout]] (which prunes
    * perfectly on one column and not at all on a second). Bin bounds come
    * from one global min/max aggregate (an O(1) artifact); the z-value is
    * a static 16-term bit-interleave expression, fully codegen'd; the
    * write is one range repartition + in-file sort. Linear bins (not rank
    * bins) keep it single-pass — skewed columns degrade pruning toward
    * the range layout's, never below it. */
  def writeZorderLayout(df: DataFrame, path: String, nFiles: Int,
                        colA: String, colB: String): Unit = {
    val Array(b) = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).collect()
    // Empty input (or all-null cluster columns) has no bounds: write the
    // empty/degenerate frame as-is instead of NPE-ing on the null min.
    if (b.isNullAt(0) || b.isNullAt(2)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (loA, hiA, loB, hiB) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    def bin(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(greatest(
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * 256.0),
        lit(0L)), lit(255L)).cast("long")
    val (za, zb) = (bin(colA, loA, hiA), bin(colB, loB, hiB))
    val z = (0 until 8).map { i =>
      shiftleft(shiftright(za, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(zb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce((x, y) => x.bitwiseOR(y))
    df.withColumn("graft_z", z)
      .repartitionByRange(nFiles, col("graft_z"))
      .sortWithinPartitions(col("graft_z"))
      .drop("graft_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Make an overwrite-`saveAsTable` safe under a fresh in-memory catalog:
    * after a JVM restart (no Hive metastore) the catalog forgets the
    * table, so Spark treats the name as CREATE — and refuses because the
    * default warehouse location still exists on disk. Drop the catalog
    * entry if registered and delete an orphaned location so the rebuild
    * always succeeds; callers rebuild the table's CONTENT from its source
    * of truth anyway (the fp store / the corpus), so deleting the stale
    * directory loses nothing. */
  def resetManagedTable(spark: org.apache.spark.sql.SparkSession,
                        table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Compact a small-file parquet directory into ~`targetBytes` output
    * files — the maintenance pass every continuously-appended store
    * (incremental ingest, streaming sinks) needs before small files
    * throttle scan parallelism and NameNode/listing costs. File count is
    * computed from the directory's ACTUAL bytes, not guessed; the write
    * goes to a new directory (callers swap atomically) because overwriting
    * an input while reading it is undefined. One narrow read + one
    * round-robin repartition. */
  def compactTo(spark: org.apache.spark.sql.SparkSession, srcPath: String,
                dstPath: String, targetBytes: Long): Int = {
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(src).getLength
    val nFiles = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    spark.read.parquet(srcPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(dstPath)
    nFiles
  }

  /** Snapshot reconciliation — the full-outer diff report a migration or
    * backfill audit runs before cutover: classify every key as
    * `left_only` / `right_only` / `changed` / `same` over the compared
    * columns and reduce to one row per status with the key range.
    *
    * Scale shape: ONE shuffled full-outer join on the key (AQE splits
    * skewed key ranges); the comparison is a null-safe projected
    * expression, and the report side is status-cardinality (≤4 rows) via
    * map-side partial aggregation — never a table-sized collect. The
    * null-safe `<=>` makes a NULL→value transition count as `changed`,
    * not `same`. */
  def reconcile(left: DataFrame, right: DataFrame, keys: Seq[String],
                compareCols: Seq[String]): DataFrame = {
    val l = left.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"graft_l_$c")) :+
      lit(1).as("graft_l"): _*)
    val r = right.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"graft_r_$c")) :+
      lit(1).as("graft_r"): _*)
    // foldLeft, not reduce: an empty compareCols is the legitimate
    // keys-only presence diff (nothing compares → nothing is 'changed').
    val changed = compareCols
      .map(c => !(col(s"graft_l_$c") <=> col(s"graft_r_$c")))
      .foldLeft(lit(false))(_ || _)
    l.join(r, keys, "full_outer")
      .select(
        when(col("graft_l").isNull, "right_only")
          .when(col("graft_r").isNull, "left_only")
          .when(changed, "changed")
          .otherwise("same").as("status"),
        col(keys.head).as("graft_k"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        min(col("graft_k")).as("min_key"),
        max(col("graft_k")).as("max_key"))
  }

  /** Star-schema revenue rollup: fact ⋈ orders ⋈ customer. Catalyst/AQE
    * picks broadcast for dims that fit and shuffled hash beyond; the
    * aggregation reduces map-side before the group-key exchange. */
  def starRevenue(lineitem: DataFrame, orders: DataFrame,
                  customer: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(col("rev")), 2).as("revenue"))

  /** Incremental maintenance of a two-sided equi-JOIN materialized view
    * under appends — the JOIN leg of the IVM family next to the
    * mergeable-aggregate (q92) and retractable (q96) refreshes. The new
    * matches a batch of appends creates are exactly the delta rule
    *
    *   ΔMV = ΔA ⋈ (B_old ∪ ΔB)  ∪  A_old ⋈ ΔB
    *
    * (the ΔA⋈ΔB cross term folded into the first leg, so no pair is
    * produced twice) — returned as the row set to APPEND to the stored
    * view; the old view is never rescanned or rejoined.
    *
    * Scale posture: each leg joins a BATCH-sized delta against one full
    * side. With the stores laid out bucketed/partitioned on the join key
    * (the q81/q147 store discipline, or 42t's value-partitioned
    * warehouse layout), the full side reads shuffle-free and only the
    * delta exchanges — per-batch cost tracks batch size, not view size,
    * the same incremental shape as the dedup ingests. */
  def incrementalJoinDelta(aOld: DataFrame, aDelta: DataFrame,
                           bOld: DataFrame, bDelta: DataFrame,
                           key: String): DataFrame =
    incrementalJoinDelta(aOld, aDelta, bOld, bDelta, Seq(key))

  /** Multi-key variant (join on (bucket, key) so a bucket-partitioned
    * store side can co-locate). Three-leg form — ΔA⋈B_old ∪ A_old⋈ΔB ∪
    * ΔA⋈ΔB — keeps each STORE a pure join side (no union over it), which
    * is what lets a KeyGroupedPartitioning store scan stay Exchange-free
    * while only the batch-sized delta shuffles into its layout. */
  def incrementalJoinDelta(aOld: DataFrame, aDelta: DataFrame,
                           bOld: DataFrame, bDelta: DataFrame,
                           keys: Seq[String]): DataFrame =
    aDelta.join(bOld, keys)
      .unionByName(aOld.join(bDelta, keys))
      .unionByName(aDelta.join(bDelta, keys))

  /** Group-median imputation audit — the missing-value repair step a
    * feature pipeline runs before any model sees the table (reference
    * dag.py drops NA rows outright at dag.py:210; imputation is the
    * alternative that keeps the row), as an EXACT readout: per group
    * the LOWER MEDIAN of the non-null centi values (the 48b'
    * convention — an actual data value, no interpolation), how many
    * rows it would fill, and the exact post-fill sum
    * (Σ non-null + n_null·fill) so the downstream mean shift is
    * auditable before committing. An all-null group reports NULL fill
    * and NULL post-sum — imputing from nothing is a decision, not a
    * default. The filled frame itself is one broadcast join of this
    * table back onto the corpus (the caller composes it; the audit is
    * the contract).
    *
    * Scale: one (group, value)-keyed count (map-combinable), the
    * median window over the cardinality-gated distinct-value table,
    * one group-level fold — the rank-family posture. */
  def imputePanel(df: DataFrame, groupCol: String, valueCol: String,
                  maxDistinct: Long = 1L << 20): DataFrame = {
    val dec = "decimal(38,0)"
    val wAll = Window.partitionBy()
    val rows = df.select(col(groupCol).cast("string").as("graft_g"),
      floor(col(valueCol) * lit(100.0) + lit(0.5)).cast("long")
        .as("graft_c"))
    val perVal = rows.filter(col("graft_c").isNotNull)
      .groupBy("graft_g", "graft_c").agg(count(lit(1)).as("graft_w"))
      .withColumn("graft_card", count(lit(1)).over(wAll))
      .filter(assert_true(col("graft_card") <= lit(maxDistinct),
        lit(s"imputePanel: more than $maxDistinct distinct " +
          "(group, centi value) pairs — quantize coarser")).isNull)
      .drop("graft_card")
    val wg = Window.partitionBy("graft_g").orderBy("graft_c")
    val wt = Window.partitionBy("graft_g")
    val med = perVal
      .withColumn("graft_cum", sum("graft_w").over(wg.rowsBetween(
        Window.unboundedPreceding, 0)))
      .withColumn("graft_tot", sum("graft_w").over(wt))
      .filter(col("graft_cum") * 2 >= col("graft_tot"))
      .groupBy("graft_g").agg(min("graft_c").as("graft_fill"))
    rows.groupBy("graft_g")
      .agg(count(lit(1)).as("graft_n"),
        sum(when(col("graft_c").isNull, 1L).otherwise(0L)).as("graft_nn"),
        coalesce(sum(col("graft_c").cast(dec)), lit(0L).cast(dec))
          .as("graft_s"))
      .join(med, Seq("graft_g"), "left")
      .select(col("graft_g").as(groupCol),
        col("graft_n").cast("long").as("n_rows"),
        col("graft_nn").cast("long").as("n_null"),
        col("graft_fill").cast("long").as("fill_centi"),
        expr("CASE WHEN graft_fill IS NULL AND graft_nn > 0" +
          " THEN CAST(NULL AS BIGINT)" +
          " ELSE CAST(graft_s + graft_nn" +
          " * coalesce(graft_fill, 0) AS BIGINT) END")
          .as("sum_after_centi"))
  }

  /** Business days in [start, end) — the SLA/settlement arithmetic every
    * warehouse date dimension exists for, in CLOSED FORM instead of a
    * calendar explode: with d = days since the 1970-01-05 Monday epoch,
    * f(d) = 5·⌊d/7⌋ + min(d mod 7, 5) counts weekdays before d, so the
    * half-open interval holds f(end) − f(start) weekdays; `holidays`
    * (ISO date strings — a config-sized list; ship a dim + broadcast
    * join at calendar scale) subtract when they land on a weekday
    * inside the interval. Negative/reversed intervals yield 0 (a
    * defined degenerate, not a negative SLA). Pure integer expression
    * arithmetic — zero shuffle, engine-replayable. */
  def businessDaysBetween(start: Column, end: Column,
                          holidays: Seq[String] = Seq.empty): Column = {
    def d(c: Column): Column =
      datediff(c.cast("date"), lit("1970-01-05").cast("date"))
    def f(dd: Column): Column =
      lit(5L) * floor(dd / 7).cast("long") +
        least(pmod(dd, lit(7)).cast("long"), lit(5L))
    val weekdays = f(d(end)) - f(d(start))
    val hol =
      if (holidays.isEmpty) lit(0L)
      else size(filter(typedLit(holidays),
        h => d(h.cast("string")) >= d(start) && d(h.cast("string")) < d(end) &&
          pmod(d(h.cast("string")), lit(7)) < 5)).cast("long")
    greatest(weekdays - hol, lit(0L))
  }
}
