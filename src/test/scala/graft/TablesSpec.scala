package graft

import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeOrders(dir: String): Unit =
    (1L to 50L).map(i => (i, i % 7, s"o$i")).toDF("o_orderkey", "o_custkey", "o_comment")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

  test("a second load of a table infers nothing and launches no job") {
    val d = tmpDir("graft_tables_reuse")
    writeOrders(d)
    val first = jobsLaunched(Tables.orders(spark, d))
    assert(first >= 1, "the first load infers the schema with a job")
    assert(jobsLaunched(Tables.orders(spark, d)) === 0)
    assert(Tables.orders(spark, d).count() === 50L)
  }

  test("a path rewritten with a different schema is inferred again") {
    val path = s"${tmpDir("graft_tables_rewrite")}/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    assert(Tables.parquet(spark, path).schema.map(_.name) === Seq("k", "v"))
    Seq(("x", 2L, 3L)).toDF("name", "n", "m").write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.schema.map(f => f.name -> f.dataType) ===
      Seq("name" -> StringType, "n" -> LongType, "m" -> LongType))
    assert(again.as[(String, Long, Long)].collect().toSeq === Seq(("x", 2L, 3L)))
  }

  test("two loads of one table self-join with distinct attributes") {
    val d = tmpDir("graft_tables_selfjoin")
    writeOrders(d)
    val a = Tables.orders(spark, d)
    val b = Tables.orders(spark, d)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val joined = a.join(b, a("o_custkey") === b("o_custkey") &&
      a("o_orderkey") < b("o_orderkey"))
    val expected = (1L to 50L).groupBy(_ % 7).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(joined.count() === expected)
  }

  test("spreadBy over a self-joined frame neither throws nor launches a job") {
    // The q209/q229 edge shape: a deduped (order, item) table joined to
    // itself on the order. Its unprepared plan broadcasts an aggregate,
    // which cannot execute before the exchanges are planned.
    val items = (1L to 40L).map(i => (i % 8, i % 5)).toDF("o", "i").distinct()
    val edges = items.select($"o", $"i".as("a"))
      .join(items.select($"o", $"i".as("b")), "o")
      .filter($"a" < $"b").select("a", "b")
    var spread: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunched { spread = Tables.spreadBy(edges, Seq($"a")) } === 0)
    assert(spread.count() === edges.count())
  }

  test("spreadBy spreads a one-split scan and keeps a frame already at the core count") {
    val d = tmpDir("graft_tables_spread")
    writeOrders(d)
    val cores = spark.sparkContext.defaultParallelism
    val scan = Tables.orders(spark, d).filter($"o_custkey" > 0L)
    var spread: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunched { spread = Tables.spreadBy(scan, Seq($"o_orderkey")) } === 0)
    assert(spread.rdd.getNumPartitions === cores)
    assert(spread.count() === scan.count())
    val wide = spark.range(0, 100, 1, cores).toDF("k")
    assert(Tables.spreadBy(wide, Seq($"k")) eq wide)
    val unioned = wide.union(spark.range(0, 10, 1, 1).toDF("k"))
    assert(Tables.spreadBy(unioned, Seq($"k")) eq unioned)
    val narrow = spark.range(0, 100, 1, 1).toDF("k")
    assert(Tables.spreadBy(narrow, Seq($"k")).rdd.getNumPartitions === cores)
  }

  test("events keeps its ts / ts_t contract on a cached schema") {
    val d = tmpDir("graft_tables_events")
    val t0 = java.time.Instant.parse("2024-03-01T12:34:56.789012Z")
    Seq((1L, t0)).toDF("user_id", "ts").write.parquet(s"$d/events.parquet")
    val loads = Seq(Tables.events(spark, d), Tables.events(spark, d))
    for (ev <- loads) {
      assert(ev.schema("ts").dataType === LongType)
      assert(ev.schema("ts_t").dataType === TimestampType)
      val row = ev.select("ts", "ts_t").head()
      assert(row.getLong(0) === 1709296496789012000L)
      assert(row.getTimestamp(1).getTime === 1709296496789L)
    }
  }
}
