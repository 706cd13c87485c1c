package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation}
import org.apache.spark.sql.functions._

/** [[FooterAggregate]] and [[OneRowJoin]] on the shipped session: which
  * aggregates the footers answer, which they leave to the scan, and what
  * the rules make of the recent-window reads. */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def answered(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def scanned(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate])

  /** ids -50..149 over three files, an int column, a string and a double. */
  private def writeTable(path: String): Unit =
    (-50L until 150L).map(i => (i, (i % 7).toInt, s"s$i", i * 0.5))
      .toDF("id", "n", "s", "d").repartition(3).write.parquet(path)

  test("min, max and count(*) over a multi-file dir match the data and launch no job") {
    val path = s"${tmp("graft_footer")}/t.parquet"
    writeTable(path)
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) === 3)
    val t = Tables.parquet(spark, path)
    val q = t.agg(min($"id"), max($"id" * 10), max(expr("(cast(n as long) + 5) div 2")),
      min($"id" - 3), count(lit(1)), (max($"id") - min($"id")).as("span"))
    assert(answered(q), q.queryExecution.optimizedPlan.toString)
    var row: org.apache.spark.sql.Row = null
    assert(jobsLaunched { row = q.head() } === 0)
    assert(row.toSeq === Seq(-50L, 1490L, 5L, -53L, 200L, 199L))
    assert(jobsLaunched { assert(t.count() === 200L) } === 0)
  }

  test("aggregates the footers cannot answer are left to the scan") {
    val d = tmp("graft_footer_no")
    val path = s"$d/t.parquet"
    writeTable(path)
    val t = Tables.parquet(spark, path)
    val filtered = t.filter($"n" > 2).agg(max($"id"))
    assert(scanned(filtered))
    assert(filtered.head().getLong(0) === 146L)
    val dbl = t.agg(max($"d"))
    assert(scanned(dbl))
    assert(dbl.head().getDouble(0) === 74.5)
    val str = t.agg(max($"s"))
    assert(scanned(str))
    assert(str.head().getString(0) === "s99")
    val noStats = s"$d/nostats.parquet"
    (1L to 20L).toDF("id").write
      .option("parquet.column.statistics.enabled", "false").parquet(noStats)
    val ns = spark.read.parquet(noStats).agg(max($"id"))
    assert(scanned(ns))
    assert(ns.head().getLong(0) === 20L)
    val parted = s"$d/parted.parquet"
    (1L to 20L).map(i => (i, i % 2)).toDF("id", "p").write.partitionBy("p").parquet(parted)
    val pq = spark.read.parquet(parted).agg(max($"id"), count(lit(1)))
    assert(scanned(pq))
    assert(pq.head().toSeq === Seq(20L, 20L))
    val wh = s"$d/wh"
    (1L to 20L).toDF("id").write.format("graft.sources.WarehouseSink")
      .option("path", wh).mode("overwrite").save()
    val wq = spark.read.format("graft.sources.WarehouseSink").option("path", wh).load()
      .agg(max($"id"))
    assert(!answered(wq))
    assert(wq.head().getLong(0) === 20L)
  }

  test("a wrapper that overflows at the column's min throws as the scan does") {
    val path = s"${tmp("graft_footer_ovf")}/t.parquet"
    Seq(-1000L, 3L, 50L).toDF("x").write.parquet(path)
    val q = spark.read.parquet(path).agg(max($"x" * lit(100000000000000000L)))
    assert(scanned(q))
    val ex = intercept[Exception](q.head())
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[ArithmeticException]), ex.toString)
  }

  test("an all-null column answers NULL from the footers") {
    val path = s"${tmp("graft_footer_null")}/t.parquet"
    Seq((1L, Option.empty[Long]), (2L, None)).toDF("id", "x").write.parquet(path)
    val q = spark.read.parquet(path).agg(max($"x"), min($"x"), count(lit(1)))
    assert(answered(q))
    val row = q.head()
    assert(row.isNullAt(0) && row.isNullAt(1) && row.getLong(2) === 2L)
  }

  test("a rewritten file is read again, and releaseCaches clears the footers") {
    val path = s"${tmp("graft_footer_rw")}/t.parquet"
    Seq(1L, 2L).toDF("x").write.parquet(path)
    assert(Tables.parquet(spark, path).agg(max($"x")).head().getLong(0) === 2L)
    Seq(7L, 9L, 11L).toDF("x").write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path).agg(max($"x"), count(lit(1)))
    assert(answered(again))
    assert(again.head().toSeq === Seq(11L, 3L))
    assert(Tables.cachedFooters > 0)
    SparkEntry.releaseCaches()
    assert(Tables.cachedFooters === 0)
  }

  test("a one-row join becomes a projection that keeps rows and attribute ids") {
    val left = (1L to 5L).toDF("id").filter($"id" =!= 3L)
    val one = Seq((10L, "k")).toDF("c", "tag")
    val j = left.crossJoin(one)
    val opt = j.queryExecution.optimizedPlan
    assert(!opt.exists(_.isInstanceOf[Join]), opt.toString)
    assert(opt.output.map(_.exprId) === j.queryExecution.analyzed.output.map(_.exprId))
    assert(j.as[(Long, Long, String)].collect().sortBy(_._1).toSeq ===
      Seq((1L, 10L, "k"), (2L, 10L, "k"), (4L, 10L, "k"), (5L, 10L, "k")))
    val inner = left.join(one, $"id" + $"c" > 13L)
    assert(!inner.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join]))
    assert(inner.select("id").as[Long].collect().sorted.toSeq === Seq(4L, 5L))
    val self = j.as("a").join(j.as("b"), $"a.id" === $"b.id")
      .select($"a.id", $"b.c")
    assert(self.as[(Long, Long)].collect().sortBy(_._1).toSeq ===
      Seq(1L, 2L, 4L, 5L).map(_ -> 10L))
  }

  test("events reads stored micros: the old derivation under UTC, the same under Los Angeles") {
    val d = tmp("graft_footer_events")
    val walls = Seq("2024-03-01T12:34:56.789012", "1969-12-31T23:59:59.000001",
      "2024-11-03T01:30:00")
    walls.zipWithIndex.map { case (w, i) => (i.toLong, java.time.LocalDateTime.parse(w)) }
      .toDF("event_id", "ts").write.parquet(s"$d/events.parquet")
    val old = spark.read.parquet(s"$d/events.parquet")
      .withColumn("ts_t", $"ts".cast("timestamp"))
      .withColumn("ts", unix_micros($"ts_t") * 1000L)
    def values(ev: DataFrame) = ev.select($"event_id", $"ts", unix_micros($"ts_t"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val utc = Tables.events(spark, d)
    assert(utc.columns.toSeq === Seq("event_id", "ts", "ts_t"))
    assert(values(utc) === values(old))
    assert(values(utc).head._2 === 1709296496789012000L)
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    assert(values(Tables.events(la, d)) === values(old))
  }

  test("recent-window reads scan events once") {
    val dir = tmp("graft_footer_recent")
    (0L until 40L).map(i => (i, java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(i),
        i % 5, if (i % 2 == 0) "view" else "click", i * 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    try {
      val q11 = SparkEntry.queries("q11_recent_window")(spark, dir)
      val p11 = q11.queryExecution.executedPlan
      val nodes11 = p11.collect { case n => n.nodeName }
      assert(nodes11.count(_.contains("Scan")) === 1, p11.toString)
      assert(!nodes11.exists(n => n.contains("Aggregate") || n.contains("Join") ||
        n.contains("BroadcastExchange")), p11.toString)
      var recent: Array[org.apache.spark.sql.Row] = null
      assert(jobsLaunched { recent = q11.collect() } === 1)
      assert(recent.map(_.getLong(0)).sorted.toSeq === (26L until 40L))
      val p138 = SparkEntry.queries("q138_trending")(spark, dir).queryExecution.optimizedPlan
      assert(p138.collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
        .size === 1, p138.toString)
    } finally SparkEntry.releaseCaches()
  }

  test("a DATE column's min and max come from the footers") {
    val path = s"${tmp("graft_footer_date")}/t.parquet"
    val days = Seq("1969-07-20", "1995-03-01", "2024-02-29", "1998-08-02")
      .map(java.time.LocalDate.parse)
    days.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "d")
      .repartition(2).write.parquet(path)
    val q = Tables.parquet(spark, path).agg(min($"d"), max($"d"))
    assert(answered(q), q.queryExecution.optimizedPlan.toString)
    var row: org.apache.spark.sql.Row = null
    assert(jobsLaunched { row = q.head() } === 0)
    assert(row.getDate(0).toLocalDate === days.min && row.getDate(1).toLocalDate === days.max)
    val julian = s"${tmp("graft_footer_julian")}/t.parquet"
    Seq(java.time.LocalDate.parse("1500-03-01"), days.head).toDF("d").write.parquet(julian)
    assert(scanned(Tables.parquet(spark, julian).agg(min($"d"))))
  }

  test("an all-null DATE column answers NULL; one written without stats is scanned") {
    val d = tmp("graft_footer_date_no")
    Seq((1L, Option.empty[java.time.LocalDate]), (2L, None)).toDF("id", "d")
      .write.parquet(s"$d/null.parquet")
    val nulls = spark.read.parquet(s"$d/null.parquet").agg(max($"d"), min($"d"))
    assert(answered(nulls))
    assert(nulls.head().toSeq === Seq(null, null))
    Seq(java.time.LocalDate.parse("2020-01-02"), java.time.LocalDate.parse("2021-05-06"))
      .toDF("d").write.option("parquet.column.statistics.enabled", "false")
      .parquet(s"$d/nostats.parquet")
    val ns = spark.read.parquet(s"$d/nostats.parquet").agg(max($"d"))
    assert(scanned(ns))
    assert(ns.head().getDate(0).toLocalDate === java.time.LocalDate.parse("2021-05-06"))
  }

  test("a microsecond TIMESTAMP column is answered; one before 1900 is scanned") {
    val d = tmp("graft_footer_ts")
    val walls = Seq("2024-03-01T12:34:56.789012", "1995-01-01T00:00:00", "2001-08-01T00:00:00")
      .map(java.time.LocalDateTime.parse)
    walls.toDF("t").write.parquet(s"$d/ntz.parquet")
    val ntz = Tables.parquet(spark, s"$d/ntz.parquet").agg(min($"t"), max($"t"))
    assert(answered(ntz), ntz.queryExecution.optimizedPlan.toString)
    assert(ntz.head().toSeq === Seq(walls.min, walls.max))
    val instants = walls.map(_.toInstant(java.time.ZoneOffset.UTC))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try instants.toDF("t").write.parquet(s"$d/ltz.parquet")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val ltz = Tables.parquet(spark, s"$d/ltz.parquet").agg(max(unix_micros($"t")), min($"t"))
    assert(answered(ltz), ltz.queryExecution.optimizedPlan.toString)
    assert(ltz.head().getLong(0) === 1709296496789012L)
    assert(ltz.head().getTimestamp(1).toInstant === instants.min)
    Seq(java.time.LocalDateTime.parse("1899-12-31T23:00:00"), walls.head).toDF("t")
      .write.parquet(s"$d/old.parquet")
    val old = Tables.parquet(spark, s"$d/old.parquet").agg(min($"t"))
    assert(scanned(old))
    assert(old.head().get(0) === java.time.LocalDateTime.parse("1899-12-31T23:00:00"))
  }

  test("unix_micros(timestamp_micros(x)) is answered as x") {
    val path = s"${tmp("graft_footer_micros")}/t.parquet"
    Seq(-5L, 1709296496789012L, 42L).toDF("x").write.parquet(path)
    val q = Tables.parquet(spark, path)
      .agg(max(unix_micros(timestamp_micros($"x"))), min(unix_micros(timestamp_micros($"x"))))
    assert(answered(q), q.queryExecution.optimizedPlan.toString)
    assert(q.head().toSeq === Seq(1709296496789012L, -5L))
  }

  test("weeks-on-chart scans events once, joins nothing and runs at most 4 jobs") {
    val dir = tmp("graft_footer_weeks")
    (0L until 60L).map(i => (i, java.time.LocalDateTime.of(2024, 1, 1, 6, 0).plusHours(i * 29),
        i % 7, "view", (i % 11) * 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    try {
      val q08 = SparkEntry.queries("q08_weeks_on_chart")(spark, dir)
      val opt = q08.queryExecution.optimizedPlan
      assert(opt.collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
        .size === 1, opt.toString)
      assert(!opt.exists(_.isInstanceOf[Join]), opt.toString)
      var rows: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsLaunched { rows = q08.collect() }
      assert(jobs <= 4, s"$jobs jobs")
      assert(rows.length === 7)
      val plan = q08.queryExecution.executedPlan
      val nodes = Helper.collect(plan) { case n => n.nodeName }
      assert(nodes.count(_.contains("Scan")) === 1, plan.toString)
      assert(!nodes.exists(n => n.contains("Join") || n.contains("BroadcastExchange")),
        plan.toString)
    } finally SparkEntry.releaseCaches()
  }

  private object Helper extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}
