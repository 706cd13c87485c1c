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
    var first: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunched { first = Tables.orders(spark, d) } >= 1,
      "the first load infers the schema with a job")
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunched { second = Tables.orders(spark, d) } === 0)
    assert(relation(second) eq relation(first), "the second load reuses the resolved relation")
    assert(Tables.orders(spark, d).count() === 50L)
  }

  private def relation(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
    }.get

  private def entries(path: String): Int =
    Tables.cachedPaths.count(_.endsWith(new java.io.File(path).getCanonicalPath))

  test("a file rewritten in place inside a flat directory is resolved again") {
    val d = tmpDir("graft_tables_inplace")
    val path = s"$d/t.parquet"
    (1L to 3L).toDF("k").coalesce(1).write.parquet(path)
    (1L to 500L).toDF("k").coalesce(1).write.parquet(s"$d/other.parquet")
    assert(Tables.parquet(spark, path).count() === 3L)
    val dir = new java.io.File(path)
    val stamp = dir.lastModified()
    def part(p: java.io.File) = p.listFiles().filter(_.getName.startsWith("part-")).head
    val target = part(dir)
    dir.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    java.nio.file.Files.write(target.toPath,
      java.nio.file.Files.readAllBytes(part(new java.io.File(s"$d/other.parquet")).toPath))
    assert(dir.setLastModified(stamp))
    assert(Tables.parquet(spark, path).count() === 500L)
    assert(Tables.parquet(spark, path).as[Long].collect().sorted.toSeq === (1L to 500L))
    assert(Tables.parquet(spark, path).agg(org.apache.spark.sql.functions.max("k"))
      .head().getLong(0) === 500L)
  }

  test("a nested directory takes the plain read and is not kept") {
    val path = s"${tmpDir("graft_tables_nested")}/t.parquet"
    (1L to 10L).map(i => (i, i % 2)).toDF("k", "p").write.partitionBy("p").parquet(path)
    val t = Tables.parquet(spark, path)
    assert(t.columns.toSeq === Seq("k", "p"))
    assert(t.filter($"p" === 1L).count() === 5L)
    assert(entries(path) === 0)
  }

  test("a rewrite replaces the path's entry, and releaseCaches empties the cache") {
    val path = s"${tmpDir("graft_tables_entry")}/t.parquet"
    Seq(1L).toDF("k").write.parquet(path)
    val before = relation(Tables.parquet(spark, path))
    assert(entries(path) === 1)
    Seq(2L, 3L).toDF("k").write.mode("overwrite").parquet(path)
    val after = Tables.parquet(spark, path)
    assert(relation(after) ne before)
    assert(after.as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    assert(entries(path) === 1)
    SparkEntry.releaseCaches()
    assert(Tables.cachedPaths.isEmpty)
  }

  test("only the paths read last are kept") {
    val d = tmpDir("graft_tables_bound")
    val paths = (0 to Tables.MaxRelations).map { i =>
      val path = s"$d/t$i.parquet"
      Seq(i.toLong).toDF("k").write.parquet(path)
      Tables.parquet(spark, path)
      path
    }
    assert(Tables.cachedPaths.size <= Tables.MaxRelations)
    assert(entries(paths.head) === 0 && entries(paths.last) === 1)
    assert(Tables.parquet(spark, paths.head).as[Long].collect().toSeq === Seq(0L))
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
    assert(relation(a) eq relation(b))
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
