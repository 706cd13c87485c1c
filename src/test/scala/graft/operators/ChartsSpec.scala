package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ChartsSpec extends SparkSpec {
  import spark.implicits._

  test("topK returns k rows ordered with deterministic tiebreak") {
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 9.0), (4L, 1.0)).toDF("id", "v")
    val got = Charts.topK(df, "v", "id", 2).collect().map(r => r.getLong(0))
    assert(got.toSeq == Seq(3L, 1L)) // 9.0 first, then tie 5.0 broken by id
  }

  test("topKPerGroup keeps k per group with rank") {
    val df = Seq(("a", 1L, 3.0), ("a", 2L, 2.0), ("a", 3L, 1.0), ("b", 4L, 9.0))
      .toDF("g", "id", "v")
    val got = Charts.topKPerGroup(df, "g", "v", "id", 2)
    assert(got.count() == 3)
    assert(got.filter($"g" === "a" && $"rnk" === 1).select("id").as[Long].head() == 1L)
  }

  test("latestSnapshot keeps the newest row per entity") {
    val df = Seq((1L, 10L, "old"), (1L, 20L, "new"), (2L, 5L, "only"))
      .toDF("ent", "ts", "tag")
    val got = Charts.latestSnapshot(df, "ent", "ts", "ts")
      .select("ent", "tag").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "new", 2L -> "only"))
  }

  /** weeklyScores over (entity, UTC instant, value) rows, as (entity,
    * week start, score, weeknum) sorted by weeknum; checks the output
    * schema and agreement with the calendar `date_trunc` it replaces. */
  private def weeks(rows: Seq[(Long, String, Double)]): Seq[(Long, String, Double, Long)] = {
    val df = rows.map { case (e, t, v) => (e, java.time.Instant.parse(t), v) }
      .toDF("ent", "ts", "v")
    val got = Charts.weeklyScores(df, "ent", "ts", "v")
    assert(got.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("ent" -> "bigint", "wk" -> "date", "score" -> "double", "weeknum" -> "bigint"))
    val calendar = df.select($"ent", date_trunc("week", $"ts").cast("date").as("wk"))
      .distinct()
    assert(got.select("ent", "wk").collect().toSet === calendar.collect().toSet)
    got.select($"ent", date_format($"wk", "yyyy-MM-dd"), $"score", $"weeknum")
      .as[(Long, String, Double, Long)].collect().sortBy(_._4).toSeq
  }

  test("weeklyScores splits UTC weeks between Sunday 23:59:59.999999 and Monday 00:00") {
    assert(weeks(Seq(
      (1L, "2024-01-07T23:59:59.999999Z", 1.0), // Sunday: week of Mon Jan 1
      (1L, "2024-01-08T00:00:00Z", 2.0))) ===   // Monday: its own week
      Seq((1L, "2024-01-01", 1.0, 2817L), (1L, "2024-01-08", 2.0, 2818L)))
  }

  test("weeklyScores buckets 1969 timestamps into their Monday weeks") {
    assert(weeks(Seq(
      (2L, "1969-12-31T23:00:00Z", 4.0),   // Wednesday: week of Dec 29
      (2L, "1969-07-20T20:17:00Z", 8.0))) === // Sunday: week of Jul 14
      Seq((2L, "1969-07-14", 8.0, -25L), (2L, "1969-12-29", 4.0, -1L)))
  }

  test("weeksOnChart counts consecutive weeks ending at the newest week") {
    // 3 weekly periods (Mondays). Entity 1 charted in all 3; entity 2 only
    // in weeks 1-2 of 3 (streak broken at the end → 0); entity 3 only in
    // the last week → 1. k=2 of 3 entities per week.
    def ts(week: Int, day: Int) =
      java.sql.Timestamp.valueOf(s"2024-01-${1 + week * 7 + day} 12:00:00")
    val rows = Seq(
      // week 0 (Jan 1 Mon): e1=100, e2=50, e3=1
      (1L, ts(0, 0), 100.0), (2L, ts(0, 0), 50.0), (3L, ts(0, 0), 1.0),
      // week 1: e1=100, e2=50, e3=1
      (1L, ts(1, 0), 100.0), (2L, ts(1, 0), 50.0), (3L, ts(1, 0), 1.0),
      // week 2: e1=100, e3=50, e2=1  (e2 drops off, e3 charts)
      (1L, ts(2, 0), 100.0), (3L, ts(2, 0), 50.0), (2L, ts(2, 0), 1.0))
    val df = rows.toDF("user_id", "ts_t", "value")
    val got = Charts.weeksOnChart(df, "user_id", "ts_t", "value", 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 0L, 3L -> 1L))
  }

  /** weeksOnChart over (entity, week offset from Monday 2024-01-01, value)
    * rows, one event each at noon on the week's Wednesday, as a map. */
  private def streaks(rows: Seq[(Option[Long], Int, Double)], k: Int): Map[Option[Long], Long] = {
    val monday = java.time.Instant.parse("2024-01-03T12:00:00Z")
    val df = rows.map { case (e, w, v) => (e, monday.plus(7L * w, java.time.temporal.ChronoUnit.DAYS), v) }
      .toDF("user_id", "ts_t", "value")
    val got = Charts.weeksOnChart(df, "user_id", "ts_t", "value", k)
    assert(got.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("user_id" -> "bigint", "weeks_on_chart" -> "bigint"))
    val out = got.as[(Option[Long], Long)].collect()
    assert(out.map(_._1).distinct.length === out.length, "one row per entity")
    out.toMap
  }

  test("weeksOnChart: a week without the entity breaks its streak") {
    // k=2. Entity 1 has no event in week 1, so its streak restarts in
    // week 2; entity 3 charts from week 1 on; entity 2 drops out.
    val got = streaks(Seq(
      (Some(1L), 0, 10.0), (Some(2L), 0, 5.0), (Some(3L), 0, 1.0),
      (Some(2L), 1, 5.0), (Some(3L), 1, 1.0),
      (Some(1L), 2, 10.0), (Some(2L), 2, 1.0), (Some(3L), 2, 5.0),
      (Some(1L), 3, 10.0), (Some(2L), 3, 1.0), (Some(3L), 3, 5.0)), k = 2)
    assert(got === Map(Some(1L) -> 2L, Some(2L) -> 0L, Some(3L) -> 3L))
  }

  test("weeksOnChart: a rank tie goes to the smaller entity") {
    val got = streaks(Seq(
      (Some(5L), 0, 7.0), (Some(4L), 0, 7.0),
      (Some(5L), 1, 7.0), (Some(4L), 1, 7.0)), k = 1)
    assert(got === Map(Some(4L) -> 2L, Some(5L) -> 0L))
  }

  test("weeksOnChart: an entity never charted gets 0, and so does a week gap for everyone") {
    // Nobody has events in week 2, so no streak reaches back past it.
    val got = streaks(Seq(
      (Some(1L), 0, 9.0), (Some(9L), 0, 0.5),
      (Some(1L), 1, 9.0), (Some(9L), 1, 0.5),
      (Some(1L), 3, 9.0), (Some(9L), 3, 0.5)), k = 1)
    assert(got === Map(Some(1L) -> 1L, Some(9L) -> 0L))
  }

  test("weeksOnChart: a NULL entity is reported once, with 0") {
    val got = streaks(Seq(
      (None, 0, 100.0), (Some(1L), 0, 10.0),
      (None, 1, 100.0), (Some(1L), 1, 10.0)), k = 2)
    assert(got === Map(None -> 0L, Some(1L) -> 2L))
  }

  test("weeksOnChart agrees with a week-by-week replay of the reference counter") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(400)((Some(rnd.nextInt(12).toLong), rnd.nextInt(9),
      rnd.nextInt(20).toDouble))
    val k = 3
    val scores = rows.groupBy(r => (r._1.get, r._2)).map { case (key, rs) => key -> rs.map(_._3).sum }
    val charted = scores.groupBy(_._1._2).map { case (w, es) =>
      w -> es.toSeq.sortBy { case ((e, _), v) => (-v, e) }.take(k).map(_._1._1).toSet }
    val maxWk = rows.map(_._2).max
    val expected = rows.map(_._1.get).distinct.map { e =>
      Some(e) -> (maxWk to 0 by -1).takeWhile(w => charted.get(w).exists(_(e))).size.toLong
    }.toMap
    assert(streaks(rows, k) === expected)
  }

  test("weeklyChart ranks within each week") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 10.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 20.0))
      .toDF("user_id", "ts_t", "value")
    val got = Charts.weeklyChart(df, "user_id", "ts_t", "value", 5)
    val top = got.filter($"rnk" === 1).select("user_id").as[Long].head()
    assert(top == 2L)
    assert(got.select("wk").distinct().as[String].head() == "2024-01-01")
  }

  test("chartTurnover: hand-computed Jaccard churn between weekly top-k") {
    val wk = 7L * 86400L * 1000000L
    def burst(u: Long, w: Long, n: Int) =
      (1 to n).map(i => (u, w * wk + i))
    // week 0 top-2 = {1, 2}; week 1 top-2 = {2, 3}: ∩=1, ∪=3 →
    // turnover = 10⁶ − 333333 = 666667. week 2 repeats week 1 → 0.
    val ev = (burst(1L, 0, 3) ++ burst(2L, 0, 2) ++ burst(3L, 0, 1) ++
      burst(2L, 1, 3) ++ burst(3L, 1, 2) ++ burst(1L, 1, 1) ++
      burst(2L, 2, 3) ++ burst(3L, 2, 2))
      .toDF("user_id", "ts_us")
    val got = Charts.chartTurnover(ev, "user_id", "ts_us", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1L, 666667L), (1L, 2L, 0L)))
  }
}
