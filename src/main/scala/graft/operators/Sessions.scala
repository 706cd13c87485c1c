package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time session and rolling-window operators.
  *
  * The reference pipeline batches on Airflow's weekly cadence (dag.py
  * schedule_interval); these are the continuous-time counterparts a
  * behavioral/training-data pipeline needs: inactivity-gap sessionization
  * and sliding time-window aggregates.
  *
  * Scale posture: both are single-shuffle window plans partitioned by the
  * entity key — state per key is bounded by that key's rows, so 1000
  * executors scale by users, and no driver-side iteration exists.
  * Timestamps are int64 microseconds (exact integer math, no double
  * rounding, oracle-identical across engines).
  */
object Sessions {

  /** Inactivity-gap sessionization (classic gaps-and-islands):
    * a new session starts when the gap to the user's previous event
    * exceeds `gapUs`. Emits one row per session with bounds and size.
    *
    * One shuffle on the user key serves both window passes (lag + running
    * sum share the partitioning); the session agg then reduces map-side.
    */
  def sessionize(events: DataFrame, userCol: String, tsUsCol: String,
                 idCol: String, gapUs: Long): DataFrame = {
    val byTime = Window.partitionBy(col(userCol))
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
    val withGap = events.select(col(userCol), col(tsUsCol), col(idCol))
      .withColumn("graft_prev", lag(col(tsUsCol), 1).over(byTime))
      .withColumn("graft_new",
        when(col("graft_prev").isNull ||
          col(tsUsCol) - col("graft_prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("graft_new")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsUsCol)).as("start_us"),
        max(col(tsUsCol)).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  /** Session entry/exit profile — which event types OPEN and CLOSE
    * sessions, and which bounce (single-event sessions): the landing/
    * leave-page analytics readout on top of [[sessionize]]'s gap rule.
    * Per session, the first and last event ride ONE min/max of a
    * (ts, id, type) struct on the session aggregate (the window pass
    * that built session ids is the only sort; (ts, id) is unique so the
    * struct order is total); the per-type rollup joins the entry and
    * exit legs full-outer so a type that only ever closes sessions
    * still reports. bounce_ppm = single-event sessions over entries,
    * integer ppm. */
  def entryExit(events: DataFrame, userCol: String, tsUsCol: String,
                idCol: String, typeCol: String, gapUs: Long): DataFrame = {
    val byTime = Window.partitionBy(col(userCol))
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
    val s = events
      .select(col(userCol), col(tsUsCol), col(idCol),
        col(typeCol).as("graft_t"))
      .withColumn("graft_prev", lag(col(tsUsCol), 1).over(byTime))
      .withColumn("graft_new",
        when(col("graft_prev").isNull ||
          col(tsUsCol) - col("graft_prev") > gapUs, 1L).otherwise(0L))
      .withColumn("graft_sid", sum(col("graft_new")).over(
        byTime.rowsBetween(Window.unboundedPreceding, 0)))
    val per = Materialize.transient(
      s.groupBy(col(userCol), col("graft_sid"))
        .agg(min(struct(col(tsUsCol), col(idCol), col("graft_t")))
          .as("graft_first"),
          max(struct(col(tsUsCol), col(idCol), col("graft_t")))
            .as("graft_last"),
          count(lit(1)).as("graft_n")))
    val entries = per
      .groupBy(per("graft_first").getField("graft_t").as("event_type"))
      .agg(count(lit(1)).as("graft_entries"),
        sum(when(col("graft_n") === 1L, 1L).otherwise(0L))
          .as("graft_bounces"))
    val exits = per
      .groupBy(per("graft_last").getField("graft_t").as("event_type"))
      .agg(count(lit(1)).as("graft_exits"))
    entries.join(exits, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("graft_entries"), lit(0L)).cast("long").as("n_entries"),
        coalesce(col("graft_exits"), lit(0L)).cast("long").as("n_exits"),
        coalesce(col("graft_bounces"), lit(0L)).cast("long").as("n_bounces"),
        expr("CASE WHEN coalesce(graft_entries, 0) = 0 THEN 0" +
          " ELSE coalesce(graft_bounces, 0) * 1000000" +
          " div graft_entries END").as("bounce_ppm"))
  }

  /** Top user journeys: the most common first-`k`-event-type paths across
    * sessions ("view>click>purchase") — the navigation-pattern report on
    * top of sessionization. Scale shape: session ids AND in-session
    * positions both come off the ONE user-keyed window pass (position =
    * row_number − session-start row_number, no second sort), rows beyond
    * position k are dropped BEFORE any list is built (collected arrays
    * are ≤ k elements even for bot-length sessions), and the final
    * ranking is a distributed top-N, never a global sort. */
  def sessionPaths(events: DataFrame, userCol: String, tsUsCol: String,
                   idCol: String, typeCol: String, gapUs: Long, k: Int,
                   topN: Int): DataFrame = {
    val byTime = Window.partitionBy(col(userCol))
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
    val run = byTime.rowsBetween(Window.unboundedPreceding, 0)
    val firstK = events
      .select(col(userCol), col(tsUsCol), col(idCol), col(typeCol))
      .withColumn("graft_prev", lag(col(tsUsCol), 1).over(byTime))
      .withColumn("graft_new",
        when(col("graft_prev").isNull ||
          col(tsUsCol) - col("graft_prev") > gapUs, 1L).otherwise(0L))
      .withColumn("graft_sid", sum(col("graft_new")).over(run))
      .withColumn("graft_rn", row_number().over(byTime))
      .withColumn("graft_start_rn",
        max(when(col("graft_new") === 1L, col("graft_rn"))).over(run))
      .filter(col("graft_rn") - col("graft_start_rn") < k)
    firstK
      .groupBy(col(userCol), col("graft_sid"))
      .agg(array_sort(collect_list(struct(col(tsUsCol).as("t"),
        col(idCol).as("i"), col(typeCol).as("e")))).as("graft_evs"))
      .select(concat_ws(">",
        transform(col("graft_evs"), x => x.getField("e"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topN)
  }

  /** Sequential-pattern pairs — the GAP-TOLERANT ordered rung of the
    * co-occurrence family: [[transitionCounts]] sees only ADJACENT
    * steps, q113's lift ignores order entirely; this one counts, per
    * ordered type pair (a → b), the SESSIONS in which some a-event
    * happens strictly before some b-event, any distance apart — the
    * 2-sequence core of PrefixSpan-style mining, where "browse
    * eventually precedes purchase" survives interleaved noise events
    * that break the adjacent-transition signal. a = b is the repeat
    * pattern (the session re-does a). Confidence = support ·10⁶ div
    * sessions-containing-a (floor ppm).
    *
    * The enumeration trick that keeps it scalable: "∃ a before b" ⟺
    * min_pos(a) < max_pos(b) within the session, so the corpus
    * collapses to one (session, type, min_pos, max_pos) row per type
    * per session — the pair join runs on that |types|-bounded table
    * (fan-out ≤ |types|² per session), NEVER on raw events, and each
    * pair counts once per session by construction (no distinct pass).
    * One user-keyed window Exchange + one (user, session)-keyed pair
    * join; in-session positions ride the same window pass
    * (row_number is per-user but monotone inside each session, which
    * is all the comparison needs). */
  def sequentialPairs(events: DataFrame, userCol: String, tsUsCol: String,
                      idCol: String, typeCol: String, gapUs: Long,
                      minSupport: Long): DataFrame = {
    val byTime = Window.partitionBy(col("graft_u"))
      .orderBy(col("graft_t").asc, col("graft_i").asc)
    val run = byTime.rowsBetween(Window.unboundedPreceding, 0)
    val st = events
      .select(col(userCol).as("graft_u"), col(tsUsCol).as("graft_t"),
        col(idCol).as("graft_i"), col(typeCol).as("graft_ty"))
      .withColumn("graft_prev", lag(col("graft_t"), 1).over(byTime))
      .withColumn("graft_new",
        when(col("graft_prev").isNull ||
          col("graft_t") - col("graft_prev") > gapUs, 1L).otherwise(0L))
      .withColumn("graft_sess", sum(col("graft_new")).over(run))
      .withColumn("graft_pos", row_number().over(byTime).cast("long"))
      .groupBy(col("graft_u"), col("graft_sess"), col("graft_ty"))
      .agg(min("graft_pos").as("graft_mn"), max("graft_pos").as("graft_mx"))
    // Three consumers (two join legs + the antecedent totals) and no
    // common-subplan reuse — pin the bounded per-session type table.
    val stp = Materialize.transient(st)
    val pairs = stp.as("a").join(stp.as("b"),
        col("a.graft_u") === col("b.graft_u") &&
          col("a.graft_sess") === col("b.graft_sess") &&
          col("a.graft_mn") < col("b.graft_mx"))
      .groupBy(col("a.graft_ty").as("ante"), col("b.graft_ty").as("cons"))
      .agg(count(lit(1)).as("n_sessions"))
    val ante = stp.groupBy(col("graft_ty").as("ante"))
      .agg(count(lit(1)).as("graft_na"))
    pairs.join(ante, "ante")
      .filter(col("n_sessions") >= minSupport)
      .select(col("ante"), col("cons"), col("n_sessions"),
        expr("n_sessions * 1000000 div graft_na").as("conf_ppm"))
  }

  /** Session aggregation via Spark's native `session_window` — the same
    * sessions as [[sessionize]] but usable UNCHANGED in Structured
    * Streaming (watermark → state eviction when a session's gap closes).
    * `session_window.start` is the first event; `.end` is last event +
    * gap, so span = end - start - gap. Prefer this form for streaming;
    * [[sessionize]] for oracle-exact batch output with stable indices. */
  def sessionWindowAgg(events: DataFrame, userCol: String, tsCol: String,
                       gap: String): DataFrame =
    events.groupBy(session_window(col(tsCol), gap).as("sw"), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Sliding time-window aggregate: for every event, the average of
    * `valueCol` over the user's events in the preceding `windowUs`
    * (inclusive of the current row). RANGE frame over int64 µs — peers at
    * the same timestamp are included on both engines identically.
    *
    * The windowed sum runs over fixed-point integers (`valueCol` scaled by
    * 10^scale and rounded to long), not doubles: integer addition is
    * associative, so the result is independent of accumulation order —
    * exact under any partitioning, task retry, or engine's window
    * algorithm (a double sum is none of those; DuckDB's segment-tree
    * accumulation order measurably diverges from a sequential fold in the
    * 4th decimal). The single final division is deterministic. */
  def rollingAvg(events: DataFrame, userCol: String, tsUsCol: String,
                 idCol: String, valueCol: String, windowUs: Long,
                 scale: Int = 2): DataFrame = {
    val factor = math.pow(10, scale)
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsUsCol).asc)
      .rangeBetween(-windowUs, 0)
    events.select(col(idCol), col(userCol), col(tsUsCol), col(valueCol))
      .withColumn("graft_cents", round(col(valueCol) * factor, 0).cast("long"))
      .withColumn("roll_n", count(lit(1)).over(w))
      // No rounding: integer-sum ÷ (factor·n) is ONE IEEE-754 division, so
      // the double is bit-identical on any engine; rounding would instead
      // surface HALF_UP-vs-HALF_EVEN differences on exact .5 ties (ratios
      // with small denominators hit them constantly).
      .withColumn("roll_avg",
        sum(col("graft_cents")).over(w) / (lit(factor) * col("roll_n")))
      .drop("graft_cents")
  }

  /** Same-key event pairs within `windowUs` of each other, via a binned
    * range join: left rows fan out to their bin and both neighbor bins, the
    * join is a plain equi-join on (key, bin), and the exact |Δt| ≤ window
    * predicate filters the survivors. Each qualifying pair matches exactly
    * one exploded bin key (the right row's own bin), so no dedup pass is
    * needed. At scale this is the standard interval-join shape: shuffle is
    * keyed by (entity, coarse-time), never a full cross product; bin width
    * = window keeps the candidate blow-up ≤ 3×.
    * Returns per-key pair counts (bounded output).
    */
  def rangeJoinPairCounts(events: DataFrame, userCol: String, tsUsCol: String,
                          idCol: String, windowUs: Long): DataFrame = {
    val base = events.select(col(userCol).as("k"), col(tsUsCol).cast("long").as("t"),
      col(idCol).as("id"))
    // Exact int64 floor division: pmod yields the nonnegative remainder,
    // the subtraction stays in long arithmetic, and `div` is Spark's
    // integral divide — no double rounding, so bins are exact for any
    // int64 timestamp (floor via `/` is double division, off-by-one past
    // 2^53, which would silently drop qualifying pairs from the ±1-bin
    // candidate set).
    def bin: Column = expr(s"(t - pmod(t, ${windowUs}L)) div ${windowUs}L")
    val probe = base.select(col("k"), col("t").as("t1"), col("id").as("id1"),
      explode(array(bin - 1, bin, bin + 1)).as("bin"))
    val build = base.select(col("k"), col("t").as("t2"), col("id").as("id2"),
      bin.as("bin"))
    probe.join(build, Seq("k", "bin"))
      .filter(col("id1") < col("id2") &&
        abs(col("t1") - col("t2")) <= windowUs)
      .groupBy(col("k").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Event-type transition counts — the first-order Markov edge list over
    * per-user event streams (the "what do users do next" building block
    * for funnel mining and next-action models). ONE shuffle on the user
    * key serves the ordering window; the bigram count is a map-side-
    * combinable aggregate whose output is O(|types|²) rows regardless of
    * corpus size. Ordering ties on the timestamp break by event id, so
    * re-sharding never flips a transition. */
  def transitionCounts(events: DataFrame, userCol: String, tsCol: String,
                       idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(userCol)
      .orderBy(col(tsCol).asc, col(idCol).asc)
    events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("graft_prev", lag(col(typeCol), 1).over(w))
      .filter(col("graft_prev").isNotNull)
      .groupBy(col("graft_prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Conversion rate by SESSION ORDINAL — "do users convert in their
    * first visit or their fifth?": each user's events split into
    * gap-sessions ([[sessionize]]'s islands), a session converts if it
    * holds a `convType` event, and the readout groups by the session's
    * per-user ordinal (capped into a `maxOrdinal+` tail bucket so the
    * output is bounded at any activity level). Floor-ppm rates.
    * One user-keyed window pass (the sessionize shuffle) + a
    * bounded-ordinal aggregate. */
  def conversionBySessionOrdinal(events: DataFrame, userCol: String,
                                 tsUsCol: String, idCol: String,
                                 typeCol: String, convType: String,
                                 gapUs: Long, maxOrdinal: Int): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsUsCol).asc, col(idCol).asc)
    val sessions = events
      .select(col(userCol), col(tsUsCol), col(idCol), col(typeCol))
      .withColumn("graft_new",
        when(lag(col(tsUsCol), 1).over(w).isNull ||
          col(tsUsCol) - lag(col(tsUsCol), 1).over(w) > gapUs, 1)
          .otherwise(0))
      .withColumn("graft_sid",
        sum("graft_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("graft_sid"))
      .agg(max((col(typeCol) === convType).cast("long")).as("graft_conv"))
    sessions
      .withColumn("ordinal",
        least(col("graft_sid"), lit(maxOrdinal.toLong + 1)).cast("long"))
      .groupBy("ordinal")
      .agg(count(lit(1)).as("n_sessions"),
        sum("graft_conv").as("n_converting"))
      .withColumn("conv_ppm",
        expr("n_converting * 1000000 div n_sessions"))
      .orderBy("ordinal")
  }

  /** Linear multi-touch attribution: every `touchType` event in the
    * window before a conversion shares the conversion's credit equally
    * (floor 10⁶ div n ppm each — totals under-sum by the floor remainder,
    * a defined property the oracle replays). The readout buckets credit
    * by touch AGE (days before the conversion): the attribution decay
    * curve that decides lookback windows.
    *
    * Shape: conversions ⋈ touches on the USER KEY with a range predicate
    * — one shuffle each side; fan-out is per-user conversions × in-window
    * touches (activity-bounded, the q39 range-join posture). Totals per
    * age bucket are a tiny aggregate. */
  def linearAttribution(events: DataFrame, userCol: String, tsUsCol: String,
                        idCol: String, typeCol: String, touchType: String,
                        convType: String, windowUs: Long): DataFrame = {
    val convs = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("graft_u"), col(tsUsCol).as("graft_cts"),
        col(idCol).as("graft_cid"))
    val touches = events.filter(col(typeCol) === touchType)
      .select(col(userCol).as("graft_u"), col(tsUsCol).as("graft_tts"))
    val pairs = convs.join(touches, Seq("graft_u"))
      .filter(col("graft_tts") < col("graft_cts") &&
        col("graft_cts") - col("graft_tts") <= windowUs)
    val credited = pairs
      .withColumn("graft_n",
        count(lit(1)).over(Window.partitionBy("graft_u", "graft_cid")))
      .withColumn("credit_ppm", expr("1000000 div graft_n"))
      .withColumn("age_days",
        expr(s"(graft_cts - graft_tts) div ${86400L * 1000000L}L"))
    credited.groupBy("age_days")
      .agg(count(lit(1)).as("n_touches"),
        sum("credit_ppm").as("credit_ppm_sum"))
      .orderBy("age_days")
  }

  /** Last-touch conversion attribution: each `convType` event attributes
    * to the user's most recent `touchType` event STRICTLY BEFORE it
    * (total order = (ts, event id), so same-timestamp ties never flip
    * across engines or re-sharding) and within `windowUs`.
    *
    * One user-keyed window pass carries the running last-touch timestamp
    * (`max` of the touch-typed ts over preceding rows) — no self-join,
    * no per-conversion scan; the report is a single tiny aggregate.
    * Gap stats are exact integers (µs sums, floor-div mean). */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsUsCol: String,
                           idCol: String, typeCol: String, touchType: String,
                           convType: String, windowUs: Long): DataFrame = {
    val w = Window.partitionBy(userCol)
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col(userCol), col(tsUsCol), col(idCol), col(typeCol))
      .withColumn("graft_touch_ts",
        max(when(col(typeCol) === touchType, col(tsUsCol))).over(w))
      .filter(col(typeCol) === convType)
      .withColumn("graft_attr",
        col("graft_touch_ts").isNotNull &&
          col(tsUsCol) - col("graft_touch_ts") <= windowUs)
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("graft_attr").cast("long")).as("n_attributed"),
        sum(when(col("graft_attr"), col(tsUsCol) - col("graft_touch_ts"))
          .otherwise(lit(0L))).as("sum_gap_us"))
      .select(col("n_conversions"), col("n_attributed"),
        expr("CASE WHEN n_conversions = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE n_attributed * 1000000 div n_conversions END").as("attr_ppm"),
        expr("CASE WHEN n_attributed = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE sum_gap_us div n_attributed END").as("avg_gap_us"))
  }

  /** Peak concurrency via a distributed sweep-line — "how many sessions
    * were open AT ONCE, and when did load peak": each interval becomes a
    * +1 event at its start and a −1 at its end, and the running sum of
    * deltas in time order IS the concurrency curve; the readout is its
    * per-key maximum and the earliest instant attaining it. The
    * capacity-planning question a pair join cannot answer (overlap
    * joins count PAIRS — concurrency needs the k-way overlap, which the
    * sweep reads off in linear work).
    *
    * Tie semantics (engine-pinned): at equal timestamps, ends apply
    * before starts (delta −1 sorts before +1), so back-to-back
    * intervals never double-count — end-exclusive intervals. Rows tied
    * on (t, delta) are interchangeable: any order yields the same
    * multiset of running values, so max and its earliest t are
    * deterministic on every engine.
    *
    * Scale: one Exchange on the sweep key; the running sum and the
    * argmax pick share it. The key bounds each sweep's sort (per-day,
    * per-tenant); intervals crossing a key boundary are attributed to
    * their start key — document the key choice accordingly. */
  def peakConcurrency(intervals: DataFrame, keyCol: Column,
                      startCol: String, endCol: String): DataFrame = {
    val deltas = intervals
      .select(keyCol.as("graft_k"), col(startCol).as("graft_t"),
        lit(1L).as("graft_delta"))
      .unionByName(intervals.select(keyCol.as("graft_k"),
        col(endCol).as("graft_t"), lit(-1L).as("graft_delta")))
    val sweep = Window.partitionBy("graft_k")
      .orderBy(col("graft_t").asc, col("graft_delta").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val pick = Window.partitionBy("graft_k")
      .orderBy(col("graft_run").desc, col("graft_t").asc)
    deltas
      .withColumn("graft_run", sum("graft_delta").over(sweep))
      .withColumn("graft_nd",
        count(lit(1)).over(Window.partitionBy("graft_k")))
      .withColumn("graft_rk", row_number().over(pick))
      .filter(col("graft_rk") === 1)
      .select(col("graft_k").as("sweep_key"),
        expr("graft_nd div 2").as("n_intervals"),
        col("graft_run").as("peak_concurrency"),
        col("graft_t").as("peak_at_us"))
  }

  /** EXACT Shapley-value attribution — the game-theoretic rung of the
    * family (last-touch credits one, linear splits evenly, Markov asks
    * the removal counterfactual; Shapley averages each channel's
    * marginal contribution over every coalition order). Characteristic
    * function: v(S) = conversions whose prior-touch channel SET is a
    * subset of S (the standard coalition model). Exactness trick: scale
    * by k! — w(S) = |S|!·(k−1−|S|)! is an integer, so each channel's
    * k!-scaled Shapley value Σ_{S∌i} w(S)·(v(S∪i) − v(S)) is EXACT
    * integer arithmetic (BigInt driver-side), and shares report in
    * floor-ppm of k!·v(full). Σᵢ shapley = v(full) by construction.
    *
    * Scale: ONE corpus pass builds (user, touched-channel set) and
    * collapses it to ≤2^k mask counts (map-combining aggregates); the
    * 2^k×k lattice is driver arithmetic on an index-sized artifact,
    * gated by `maxChannels` (attribution over more than ~12 channels is
    * statistically meaningless anyway — asserted loudly). */
  def shapleyAttribution(events: DataFrame, userCol: String, tsCol: String,
                         channelCol: String, convChannel: String,
                         maxChannels: Int = 12): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col(userCol).as("graft_u"),
      col(tsCol).as("graft_t"), col(channelCol).as("graft_ch"))
    val conv = ev.filter(col("graft_ch") === convChannel)
      .groupBy("graft_u").agg(min("graft_t").as("graft_ct"))
    val touches = ev.filter(col("graft_ch") =!= convChannel)
      .join(conv, Seq("graft_u"))
      .filter(col("graft_t") < col("graft_ct"))
      .select("graft_u", "graft_ch").distinct()
    val chans = touches.select("graft_ch").distinct()
      .orderBy("graft_ch").as[String].collect().toSeq
    require(chans.size <= maxChannels,
      s"shapleyAttribution: ${chans.size} channels exceed $maxChannels — " +
        "bucket channels before attributing")
    val k = chans.size
    if (k == 0)
      return Seq.empty[(String, Long, Long)]
        .toDF("channel", "shapley_kfact", "share_ppm")
    val bit = chans.zipWithIndex.toMap
    val bitOf = typedLit(bit)
    val maskCnt = touches
      .withColumn("graft_b", element_at(bitOf, col("graft_ch")))
      .groupBy("graft_u")
      .agg(sum(expr("CAST(1 AS BIGINT) << graft_b")).as("graft_mask"))
      .groupBy("graft_mask").agg(count(lit(1)).as("graft_c"))
      .as[(Long, Long)].collect().toMap
    // dense subset-sum lattice (2^k entries, k ≤ maxChannels)
    val v = new Array[Long](1 << k)
    for ((m, c) <- maskCnt; s <- 0 until (1 << k)
         if (m & s) == m) v(s.toInt) += c
    def f(n: Int): BigInt = (1 to n).foldLeft(BigInt(1))(_ * _)
    val kfact = f(k)
    val vfull = BigInt(v((1 << k) - 1))
    val out = chans.zipWithIndex.map { case (ch, i) =>
      var num = BigInt(0)
      for (s <- 0 until (1 << k) if (s & (1 << i)) == 0) {
        val sz = java.lang.Integer.bitCount(s)
        num += f(sz) * f(k - 1 - sz) * (v(s | (1 << i)) - v(s))
      }
      val ppm = if (vfull == 0) 0L
        else (num * 1000000 / (kfact * vfull)).toLong
      require(num.isValidLong, s"shapley numerator overflows long for $ch")
      (ch, num.toLong, ppm)
    }
    out.toDF("channel", "shapley_kfact", "share_ppm")
  }

  /** Markov-chain (removal-effect) attribution — the data-driven rung
    * completing the family ([[lastTouchAttribution]] credits one touch,
    * [[linearAttribution]] splits evenly; this one asks the
    * counterfactual: REMOVE each channel and see how much conversion
    * collapses). First-order chain over per-user journeys: START → the
    * ordered channel states up to and including the FIRST `convChannel`
    * event (mapped to the absorbing CONV; later events are a converted
    * user's afterlife, not a path to conversion), journeys without one
    * absorb into NULL. Transition probabilities are floor-ppm of counts;
    * absorption probabilities come from `iters` synchronized
    * power-iteration steps with the per-step floor PINNED — exactly
    * replayable (the oracle unrolls the same steps), converging
    * geometrically (path survival decays per hop, so 8 steps bound the
    * truncation error below ppm for any chain whose cycles lose mass).
    * Removal variant c redirects every transition INTO c to NULL; the
    * readout is each channel's conversion drop and its normalized share.
    *
    * Scale: ONE corpus shuffle (user-keyed windows) builds transitions;
    * everything after — the |channels|+1 variants, the ≤(states²·
    * variants)-row chain, the iteration loop — runs on bounded tables
    * pinned per step. */
  def markovAttribution(events: DataFrame, userCol: String, tsUsCol: String,
                        idCol: String, channelCol: String,
                        convChannel: String, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 64, "iters must be in [1, 64]")
    val ev = events.select(col(userCol).as("graft_u"),
      col(tsUsCol).as("graft_t"), col(idCol).as("graft_id"),
      when(col(channelCol) === convChannel, lit("CONV"))
        .otherwise(col(channelCol)).as("graft_st"))
    val wOrd = Window.partitionBy("graft_u")
      .orderBy(col("graft_t").asc, col("graft_id").asc)
    val ord = ev.withColumn("graft_rn", row_number().over(wOrd))
    val fc = ord.filter(col("graft_st") === "CONV")
      .groupBy("graft_u").agg(min("graft_rn").as("graft_fc"))
    val wJ = Window.partitionBy("graft_u").orderBy(col("graft_rn").asc)
    val steps = ord.join(fc, Seq("graft_u"), "left")
      .filter(col("graft_fc").isNull || col("graft_rn") <= col("graft_fc"))
      .withColumn("graft_nxt", lead(col("graft_st"), 1).over(wJ))
    val trans = steps.filter(col("graft_rn") === 1)
      .select(lit("START").as("graft_f"), col("graft_st").as("graft_to"))
      .unionByName(steps.filter(col("graft_nxt").isNotNull)
        .select(col("graft_st").as("graft_f"),
          col("graft_nxt").as("graft_to")))
      .unionByName(steps
        .filter(col("graft_nxt").isNull && col("graft_st") =!= "CONV")
        .select(col("graft_st").as("graft_f"), lit("NULL").as("graft_to")))
    val counts = Materialize.transient(
      trans.groupBy("graft_f", "graft_to").agg(count(lit(1)).as("graft_c")))
    val channels = Materialize.transient(
      ev.filter(col("graft_st") =!= "CONV")
        .select(col("graft_st").as("graft_ch")).distinct())
    val variants = channels.select(col("graft_ch").as("graft_var"))
      .unionByName(channels.limit(1).select(lit("none").as("graft_var")))
    val wFrom = Window.partitionBy("graft_var", "graft_f")
    val tvp = Materialize.transient(counts.crossJoin(variants)
      .select(col("graft_var"), col("graft_f"),
        when(col("graft_to") === col("graft_var"), lit("NULL"))
          .otherwise(col("graft_to")).as("graft_to"),
        col("graft_c"))
      .groupBy("graft_var", "graft_f", "graft_to")
      .agg(sum("graft_c").as("graft_c"))
      .withColumn("graft_tot", sum("graft_c").over(wFrom))
      .withColumn("graft_p", expr("graft_c * 1000000 div graft_tot")))
    val conv1 = variants
      .select(col("graft_var"), lit("CONV").as("graft_state"),
        lit(1000000L).as("graft_v"))
    var v = conv1
    for (i <- 1 to iters) {
      v = tvp.join(v.withColumnRenamed("graft_var", "graft_vv"),
            col("graft_var") === col("graft_vv") &&
              col("graft_to") === col("graft_state"))
          .groupBy("graft_var", "graft_f")
          .agg(expr("sum(graft_p * graft_v) div 1000000").as("graft_v"))
          .select(col("graft_var"), col("graft_f").as("graft_state"),
            col("graft_v"))
          .unionByName(conv1)
      // The value table is (variants × states)-sized — tiny at any scale.
      // Pin every 4th generation only (Graph.GenEvery discipline): the
      // 8-round solve then pays 1 checkpoint job instead of 8.
      if (i % 4 == 0 && i < iters) v = Materialize.transient(v)
    }
    val start = v.filter(col("graft_state") === "START")
    val base = start.agg(coalesce(max(when(col("graft_var") === "none",
      col("graft_v"))), lit(0L)).as("graft_base"))
    val wAll = Window.partitionBy()
    channels
      .join(start.select(col("graft_var").as("graft_ch2"),
        col("graft_v").as("graft_removed0")),
        col("graft_ch") === col("graft_ch2"), "left")
      .crossJoin(broadcast(base))
      .withColumn("graft_removed", coalesce(col("graft_removed0"), lit(0L)))
      .withColumn("graft_d",
        greatest(lit(0L), col("graft_base") - col("graft_removed")))
      .withColumn("graft_dtot", sum("graft_d").over(wAll))
      .select(col("graft_ch").as("channel"),
        col("graft_base").as("base_conv_ppm"),
        expr("CASE WHEN graft_base = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE graft_d * 1000000 div graft_base END").as("removal_ppm"),
        expr("CASE WHEN graft_dtot = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE graft_d * 1000000 div graft_dtot END").as("share_ppm"))
  }

  /** Time-to-conversion distribution — the latency companion the funnel
    * family lacks (q55/q115 count WHO converts; this measures HOW LONG
    * conversion takes, the number a growth team actually tunes): per
    * user, first `fromType` event to the first `toType` event at or
    * after it, day-quantized, summarized as exact interpolated quartiles
    * + p90 (quantile_cont definition, q47's parity rules) with the
    * conversion rate alongside.
    *
    * Scale: two type-filtered user-keyed aggregates (first-view, then
    * min matching purchase — the join is user-keyed and the purchase
    * side pre-collapses to per-user min BEFORE joining, so the join
    * carries one row per converting user, not per event); the
    * percentile runs over the converting-user table. */
  def timeToConversion(events: DataFrame, userCol: String, tsUsCol: String,
                       typeCol: String, fromType: String,
                       toType: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val firstFrom = events.filter(col(typeCol) === fromType)
      .groupBy(col(userCol).as("graft_u")).agg(min(tsUsCol).as("graft_v"))
    // pre-collapse the conversion side: earliest toType per user — the
    // candidate set; the >= v filter then needs only one row per user
    val firstTo = events.filter(col(typeCol) === toType)
      .select(col(userCol).as("graft_u"), col(tsUsCol).as("graft_p"))
    val conv = firstFrom.join(firstTo, Seq("graft_u"))
      .filter(col("graft_p") >= col("graft_v"))
      .groupBy("graft_u", "graft_v").agg(min("graft_p").as("graft_p"))
      .select(expr(s"(graft_p - graft_v) div ${dayUs}L").as("graft_days"))
    val nViewed = firstFrom.agg(count(lit(1)).as("n_from"))
    conv.agg(count(lit(1)).as("n_converted"),
        percentile(col("graft_days"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("qs"))
      .crossJoin(broadcast(nViewed))
      .select(col("n_from"), col("n_converted"),
        expr("CASE WHEN n_from = 0 THEN CAST(NULL AS BIGINT)"
          + " ELSE n_converted * 1000000 div n_from END").as("conv_ppm"),
        round(element_at(col("qs"), 1), 2).as("p25_days"),
        round(element_at(col("qs"), 2), 2).as("p50_days"),
        round(element_at(col("qs"), 3), 2).as("p75_days"),
        round(element_at(col("qs"), 4), 2).as("p90_days"))
  }

  /** Interval-OVERLAP join — the genuine two-interval relational
    * operator Spark has no native form of ([[rangePairs]] joins points
    * within a tolerance; SCD lookups join a point INTO an interval;
    * this joins interval TO interval): pairs (a, b) with
    * [aStart, aEnd) ∩ [bStart, bEnd) ≠ ∅, each pair exactly once, with
    * the exact overlap length. The scale shape is the binned equi-join:
    * every interval explodes to its covered `binUs` buckets (fan-out
    * GATED at `maxBins` per interval — an unbounded interval would
    * otherwise explode the corpus), candidates meet on the bucket key,
    * the true inequality check runs on the bounded candidate set, and
    * the pair DEDUPES structurally by keeping only the FIRST shared
    * bucket (bin == max(startBins) — no distinct pass). Never a
    * cartesian, never an unbounded broadcast inequality join.
    *
    * Half-open convention: intervals touching only at an endpoint do
    * NOT overlap; `overlap_us` = min(ends) − max(starts) > 0.
    *
    * Each pair also carries its ALLEN RELATION (`relation`) — the nine
    * interval-algebra relations with non-empty interior intersection
    * (equals, starts/started_by, finishes/finished_by, during/contains,
    * overlaps/overlapped_by; Allen, CACM 1983). The four disjoint
    * relations (precedes/meets + inverses) are out of scope BY
    * CONSTRUCTION — finding non-intersecting pairs at arbitrary
    * distance is inherently all-pairs, which is exactly what the
    * bucket join exists to avoid. */
  def intervalOverlapJoin(a: DataFrame, aIdCol: String, aStartCol: String,
                          aEndCol: String,
                          b: DataFrame, bIdCol: String, bStartCol: String,
                          bEndCol: String,
                          binUs: Long, maxBins: Long = 1000L): DataFrame = {
    require(binUs >= 1, "binUs must be positive")
    def binned(t: DataFrame, id: String, st: String, en: String,
               side: String): DataFrame =
      t.select(col(id).as(s"${side}_id"),
          col(st).cast("long").as(s"${side}_start"),
          col(en).cast("long").as(s"${side}_end"))
        .filter(col(s"${side}_end") > col(s"${side}_start"))
        .filter(assert_true(
          expr(s"(${side}_end - 1) div ${binUs}L" +
            s" - ${side}_start div ${binUs}L") <= lit(maxBins),
          lit(s"intervalOverlapJoin: an interval spans more than " +
            s"$maxBins bins — raise binUs")).isNull)
        .withColumn("graft_bin", explode(sequence(
          expr(s"${side}_start div ${binUs}L"),
          expr(s"(${side}_end - 1) div ${binUs}L"))))
    val ab = binned(a, aIdCol, aStartCol, aEndCol, "a")
    val bb = binned(b, bIdCol, bStartCol, bEndCol, "b")
    ab.join(bb, Seq("graft_bin"))
      .filter(col("a_start") < col("b_end") &&
        col("b_start") < col("a_end"))
      // first shared bucket claims the pair: exactly-once, no distinct
      .filter(col("graft_bin") ===
        greatest(expr(s"a_start div ${binUs}L"),
          expr(s"b_start div ${binUs}L")))
      .select(col("a_id"), col("b_id"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_us"),
        expr("CASE" +
          " WHEN a_start = b_start AND a_end = b_end THEN 'equals'" +
          " WHEN a_start = b_start AND a_end < b_end THEN 'starts'" +
          " WHEN a_start = b_start THEN 'started_by'" +
          " WHEN a_end = b_end AND a_start > b_start THEN 'finishes'" +
          " WHEN a_end = b_end THEN 'finished_by'" +
          " WHEN a_start > b_start AND a_end < b_end THEN 'during'" +
          " WHEN a_start < b_start AND a_end > b_end THEN 'contains'" +
          " WHEN a_start < b_start THEN 'overlaps'" +
          " ELSE 'overlapped_by' END").as("relation"))
  }

  /** Markov next-event predictor with a TEMPORAL holdout — "does
    * yesterday's transition matrix actually predict tomorrow": the
    * argmax-transition predictor (count desc, type asc tiebreak — one
    * answer on any engine) is FIT on consecutive-event pairs whose
    * leading event falls on an even epoch-day and EVALUATED on odd-day
    * pairs, so the readout is a real out-of-sample hit rate, not the
    * in-sample echo a same-data eval gives. Per from-type: training
    * pairs, the predicted type, eval pairs, hits, floor-ppm hit rate;
    * a from-type seen only in eval keeps NULL prediction and zero hits
    * (never a fabricated guess).
    *
    * Scale: one user-keyed lag window (the q87 shuffle), two bounded
    * (from, to) aggregates, a |types|-sized argmax window, one
    * broadcast join of predictions onto the eval counts. */
  def nextEventEval(events: DataFrame, userCol: String, tsUsCol: String,
                    idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(userCol)
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
    val pairs = events
      .select(col(userCol), col(tsUsCol), col(idCol),
        col(typeCol).cast("string").as("graft_ty"))
      .withColumn("graft_prev", lag(col("graft_ty"), 1).over(w))
      .withColumn("graft_pts", lag(col(tsUsCol), 1).over(w))
      .withColumn("graft_pday", expr("graft_pts div 86400000000"))
      .filter(col("graft_prev").isNotNull)
      .select(col("graft_prev").as("graft_from"),
        col("graft_ty").as("graft_to"), col("graft_pday"))
    // pmod, not %: Spark's % keeps the dividend's sign, so a pre-1970
    // leading event (negative epoch day) would have parity -1 and fall
    // out of BOTH splits silently.
    val train = pairs.filter(pmod(col("graft_pday"), lit(2)) === 0)
      .groupBy("graft_from", "graft_to")
      .agg(count(lit(1)).as("graft_n"))
    val wArg = Window.partitionBy("graft_from")
      .orderBy(col("graft_n").desc, col("graft_to").asc)
    val pred = train
      .withColumn("graft_rn", row_number().over(wArg))
      .groupBy("graft_from")
      .agg(sum("graft_n").as("graft_ntrain"),
        max(when(col("graft_rn") === 1, col("graft_to")))
          .as("graft_pred"))
    val eval0 = pairs.filter(pmod(col("graft_pday"), lit(2)) === 1)
      .groupBy("graft_from", "graft_to")
      .agg(count(lit(1)).as("graft_ne"))
    eval0.join(pred, Seq("graft_from"), "left")
      .groupBy(col("graft_from").as("from_type"))
      .agg(max("graft_ntrain").as("graft_nt"),
        max("graft_pred").as("predicted_type"),
        sum("graft_ne").as("graft_nv"),
        coalesce(sum(when(col("graft_to") === col("graft_pred"),
          col("graft_ne"))), lit(0L)).as("graft_hits"))
      .select(col("from_type"),
        coalesce(col("graft_nt"), lit(0L)).cast("long").as("n_train"),
        col("predicted_type"),
        col("graft_nv").cast("long").as("n_eval"),
        col("graft_hits").cast("long").as("n_hits"),
        expr("CASE WHEN graft_nv = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE graft_hits * 1000000 div graft_nv END").as("hit_ppm"))
  }
}
