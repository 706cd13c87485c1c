package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Chart / leaderboard analytics.
  *
  * Re-expresses the reference dashboard's pandas sort-head logic
  * (app.py:60-119) and the ETL's "weeks on chart" streak computation
  * (dag.py:118-154) as window-function plans.
  *
  * Scale notes: the reference loops over each timestamp and each group in
  * Python (dag.py:127-152 — O(weeks × entities) driver-side). Here the whole
  * streak is two window passes over a per-(entity, week) pre-aggregate, which
  * is tiny relative to the raw fact table, so the expensive shuffle happens
  * once on the pre-aggregate's keys and everything after is narrow.
  */
object Charts {

  /** Global top-k by a metric with a deterministic tiebreak.
    * Reference: app.py:62-63 `sort_values("popularity", ascending=False).head(20)`.
    * TopK through `orderBy.limit` lets Spark run a per-partition partial
    * top-k (TakeOrderedAndProject) — no full sort of 100 TB. */
  def topK(df: DataFrame, metric: String, tiebreak: String, k: Int): DataFrame =
    df.orderBy(col(metric).desc, col(tiebreak).asc).limit(k)

  /** Top-k within each group via row_number — one shuffle on the group key.
    * Reference: the dashboard's per-entity-type leaderboards (app.py:56-89). */
  def topKPerGroup(df: DataFrame, group: String, metric: String,
                   tiebreak: String, k: Int): DataFrame = {
    val w = Window.partitionBy(group).orderBy(col(metric).desc, col(tiebreak).asc)
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Distribution stats per group — the audio-feature comparison surface
    * (app.py:35-53, 93-97) generalized to one partial-aggregated pass. */
  def featureStats(df: DataFrame, group: String, feature: String): DataFrame =
    df.groupBy(group).agg(
      count(lit(1)).as("n"),
      round(avg(feature), 2).as("avg_v"),
      round(min(feature), 2).as("min_v"),
      round(max(feature), 2).as("max_v"),
      // stddev_samp of a single row is NaN in Spark but NULL in ANSI
      // engines — normalize to NULL for oracle parity.
      round(when(isnan(stddev(feature)), lit(null)).otherwise(stddev(feature)), 2)
        .as("std_v"))

  /** Latest row per entity (reference keeps `group.iloc[-1]`, dag.py:139).
    * row_number over (entity order by ts desc) — one shuffle on entity. */
  def latestSnapshot(df: DataFrame, entity: String, ts: String,
                     tiebreak: String): DataFrame = {
    val w = Window.partitionBy(entity).orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Per-(entity, ISO week) score: the weekly snapshot the reference gets
    * from its weekly Airflow cadence. Rounded before any ranking so that
    * cross-engine rank tiebreaks are deterministic. `wk` is the week's
    * Monday as a date and `weeknum` counts weeks from 1970-01-05
    * ([[weekStart]], [[weekNumber]]). */
  def weeklyScores(events: DataFrame, entity: String, ts: String,
                   value: String): DataFrame =
    events
      .select(col(entity), weekStart(unix_micros(col(ts))).as("graft_w"), col(value))
      .groupBy(col(entity), col("graft_w"))
      .agg(round(sum(value), 2).as("score"))
      .select(col(entity),
        expr("date_from_unix_date(cast(graft_w as int))").as("wk"),
        col("score"), weekNumber(col("graft_w")).as("weeknum"))

  private val DayMicros = 86400000000L

  /** The epoch day of the Monday that starts the UTC week holding the
    * instant `micros`, in integer arithmetic: the epoch day `d` is floored
    * from the micros, and its week starts on day `d - pmod(d + 3, 7)` (day
    * 0, 1970-01-01, is a Thursday). Per row that is a few long operations
    * instead of a calendar `date_trunc`. */
  private def weekStart(micros: Column): Column = {
    val day = call_function("div", micros - pmod(micros, lit(DayMicros)), lit(DayMicros))
    day - pmod(day + 3, lit(7L))
  }

  /** Weeks from Monday 1970-01-05 to the week starting on epoch day `start`. */
  private def weekNumber(start: Column): Column = call_function("div", start - 4, lit(7L))

  /** Rank entities within each week — the per-week chart. */
  def weeklyChart(events: DataFrame, entity: String, ts: String,
                  value: String, k: Int): DataFrame = {
    val w = Window.partitionBy("wk").orderBy(col("score").desc, col(entity).asc)
    weeklyScores(events, entity, ts, value)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(date_format(col("wk"), "yyyy-MM-dd").as("wk"),
        col(entity), col("score"), col("rnk"))
  }

  /** Consecutive-weeks-on-chart streak ending at the newest week.
    *
    * Reference semantics (dag.py:118-154): an entity's `chart` counter is the
    * number of consecutive weekly appearances in the top-`k` chart, reset to 0
    * on a gap, and reported as 0 unless the streak reaches the newest week.
    *
    * Plan: weekly pre-agg → per-week row_number (chart membership `on`) →
    * one window over each entity's weeks, newest first, whose running
    * `sum(on)` counts the entity's charted weeks from that week on. A
    * charted week is in the final streak exactly when that count fills
    * every week up to the newest one (`weeknum + run = maxwk + 1`), so a
    * per-entity count of such weeks is the streak, 0 for an entity never
    * charted. That is three exchanges over the pre-aggregate and no join.
    * The newest week is the week of the input's newest instant: a one-row
    * aggregate that the footers answer over a plain parquet read
    * ([[graft.FooterAggregate]]) and that is otherwise computed and
    * broadcast. A NULL entity reports 0, as the reference's keyed join
    * gives it no streak.
    */
  def weeksOnChart(events: DataFrame, entity: String, ts: String,
                   value: String, k: Int): DataFrame = {
    val rankW = Window.partitionBy("wk").orderBy(col("score").desc, col(entity).asc)
    val runW = Window.partitionBy(entity).orderBy(col("weeknum").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newest = events.agg(max(unix_micros(col(ts))).as("graft_maxus"))
    val maxWeek = weekNumber(weekStart(col("graft_maxus")))
    weeklyScores(events, entity, ts, value)
      .select(col(entity), col("weeknum"),
        when(row_number().over(rankW) <= k, 1L).otherwise(0L).as("graft_on"))
      .withColumn("graft_run", sum("graft_on").over(runW))
      .crossJoin(broadcast(newest))
      .groupBy(col(entity))
      .agg(count(when(col(entity).isNotNull && col("graft_on") === 1L &&
        col("weeknum") + col("graft_run") === maxWeek + 1L, lit(1))).as("weeks_on_chart"))
  }

  /** Leaderboard turnover — how volatile is the top-k chart week over
    * week: for each consecutive week pair, the Jaccard churn of the two
    * top-k member SETS (turnover_ppm = 10⁶ − |∩|·10⁶ div |∪|) — 0 =
    * frozen chart, 10⁶ = complete replacement. The health metric for
    * any ranking surface (a frozen chart isn't ranking, a thrashing one
    * isn't stable), and the set-level complement to the per-entity
    * streaks. Weeks are UTC epoch-week buckets (ts div 7 days — the
    * weekly-agg convention); membership by (count desc, entity asc)
    * rank ≤ k, fully tie-broken.
    *
    * Scale: one (week, entity) aggregate, a per-week rank window over
    * that bounded table, and a week↔week+1 self-join of k-row sets. */
  def chartTurnover(events: DataFrame, entityCol: String, tsUsCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val week = 7L * 86400L * 1000000L
    // Pinned: the ranked membership table feeds FIVE subtrees (both
    // join legs, both size aggregates, the intersection).
    val ranked = Materialize.transient(events
      .select(col(entityCol).as("graft_e"),
        expr(s"$tsUsCol div ${week}L").as("graft_w"))
      .groupBy("graft_w", "graft_e")
      .agg(count(lit(1)).as("graft_c"))
      .withColumn("graft_rk", row_number().over(
        Window.partitionBy("graft_w")
          .orderBy(col("graft_c").desc, col("graft_e").asc)))
      .filter(col("graft_rk") <= k)
      .select(col("graft_w"), col("graft_e")))
    val cur = ranked.select(col("graft_w"), col("graft_e"))
    val nxt = ranked.select((col("graft_w") - 1L).as("graft_w"),
      col("graft_e").as("graft_e2"))
    val sizes = cur.groupBy("graft_w").agg(count(lit(1)).as("graft_na"))
    val nsizes = nxt.groupBy("graft_w").agg(count(lit(1)).as("graft_nb"))
    val inter = cur.join(nxt,
      cur("graft_w") === nxt("graft_w") &&
        cur("graft_e") === nxt("graft_e2"))
      .groupBy(cur("graft_w").as("graft_w"))
      .agg(count(lit(1)).as("graft_i"))
    sizes.join(nsizes, Seq("graft_w"))
      .join(inter, Seq("graft_w"), "left")
      .select(col("graft_w").cast("long").as("week"),
        coalesce(col("graft_i"), lit(0L)).cast("long").as("n_common"),
        expr("CAST(1000000 - coalesce(graft_i, 0L) * 1000000" +
          " div (graft_na + graft_nb - coalesce(graft_i, 0L))" +
          " AS BIGINT)").as("turnover_ppm"))
      .orderBy("week")
  }
}
