package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WarehouseSinkSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.sources.WarehouseSink"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_whsink").toString

  test("write-read roundtrip preserves rows, types and nulls") {
    val dir = tmp()
    val df = Seq(
      (1L, Some("alpha\tbeta"), 1.5, true),
      (2L, Some("line\nbreak"), -0.25, false),
      (3L, None, Double.MaxValue, true),
      (4L, Some("back\\slash"), 7.0, false))
      .toDF("id", "s", "x", "b")
    df.repartition(3).write.format(Fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.as[(Long, Option[String], Double, Boolean)].collect().sortBy(_._1)
      === df.as[(Long, Option[String], Double, Boolean)].collect().sortBy(_._1))
  }

  test("append accumulates; overwrite truncates to the new generation") {
    val dir = tmp()
    def w(lo: Long, hi: Long, mode: String) =
      (lo until hi).map(i => (i, s"v$i")).toDF("id", "v")
        .write.format(Fmt).option("path", dir).mode(mode).save()
    w(0, 10, "append") // append to a not-yet-existing table creates it
    w(10, 15, "append")
    def ids() = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids() === (0L until 15L))
    w(100, 103, "overwrite")
    assert(ids() === (100L until 103L))
    // truncate only UN-REFERENCES the old generation: version 1 (the
    // second append) still time-travels until vacuum reclaims it
    def atV1() = spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", "1").load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(atV1() === (0L until 15L))
    // vacuum drops pre-live generations: on-disk .wtsv == exactly the
    // live manifest set, and the vacuumed version is an explicit error
    assert(WarehouseSink.vacuum(dir, keepVersions = 1) > 0)
    val live = WarehouseSink.readManifest(dir).get.files.toSet
    val onDisk = new File(dir).listFiles
      .filter(_.getName.endsWith(".wtsv")).map(_.getName).toSet
    assert(onDisk === live)
    intercept[Exception] { atV1() }
    assert(ids() === (100L until 103L)) // live generation untouched
  }

  test("LIMIT pushdown plans only enough files; filters disable the trim") {
    val dir = tmp()
    (1L to 90L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(9)
      .write.format(Fmt).option("path", dir).mode("append").save()
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.getNumPartitions
    val base = spark.read.format(Fmt).option("path", dir).load()
    assert(splits(base) === 9)
    // a bare LIMIT 5 needs one ~10-row file, not nine
    val lim = base.limit(5)
    assert(lim.count() === 5L)
    val plan = lim.queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.inputRDD.getNumPartitions === 1,
      s"limit should plan 1 file, got ${scans.head.inputRDD.getNumPartitions}")
    // correctness: rows come back and Spark's own Limit still trims
    assert(lim.collect().length === 5)
    // with a pushed filter the trim is OFF (a file's rows may all fail)
    val filtered = base.filter(col("id") > 80L).limit(5)
    val fscans = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(filtered.collect().length === 5)
    assert(fscans.head.inputRDD.getNumPartitions >= 1) // stats-pruned set, untrimmed
  }

  test("vacuumOlderThan drops by commit timestamp, keeps the live generation") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "v").write.format(Fmt)
      .option("path", dir).mode("append").save()
    Seq((2L, "b")).toDF("id", "v").write.format(Fmt)
      .option("path", dir).mode("append").save()
    val m1 = WarehouseSink.readManifestAt(dir, 1L).get
    Seq((3L, "c")).toDF("id", "v").write.format(Fmt)
      .option("path", dir).mode("append").save()
    // boundary between v1 and v2: v0 and v1's manifests predate it...
    // commits within the same millisecond get clamped-monotonic ts, so
    // use v2's ts as the boundary — everything strictly older drops
    val m2 = WarehouseSink.readManifestAt(dir, 2L).get
    if (m2.ts > m1.ts) {
      val dropped = WarehouseSink.vacuumOlderThan(dir, m2.ts)
      assert(dropped >= 1)
      assert(WarehouseSink.readManifestAt(dir, 2L).isDefined)
      assert(WarehouseSink.readManifestAt(dir, 0L).isEmpty)
      // the live read still returns every row (appends carry files)
      assert(spark.read.format(Fmt).option("path", dir).load().count() === 3L)
    }
    // a boundary in the future keeps at least the live generation
    val d2 = WarehouseSink.vacuumOlderThan(dir, Long.MaxValue)
    assert(WarehouseSink.readManifest(dir).isDefined)
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 3L)
  }

  test("versionAsOf reads any retained generation; writing to one is refused") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "v").write.format(Fmt)
      .option("path", dir).mode("append").save() // generation 0
    Seq((2L, "b")).toDF("id", "v").write.format(Fmt)
      .option("path", dir).mode("append").save() // generation 1
    def at(v: Int) = spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v.toString).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(at(0) === Seq(1L))
    assert(at(1) === Seq(1L, 2L))
    intercept[Exception] {
      Seq((9L, "z")).toDF("id", "v").write.format(Fmt)
        .option("path", dir).option("versionAsOf", "0")
        .mode("append").save()
    }
    // the failed versioned write changed nothing
    assert(at(1) === Seq(1L, 2L))
  }

  test("a claimed-but-unswapped manifest slot is rebased on, not lost") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "v").write.format(Fmt)
      .option("path", dir).mode("append").save() // generation 0
    val m0 = WarehouseSink.readManifest(dir).get
    // Simulate a committer that claimed slot 1 (data file moved, manifest
    // written) and stalled before swapping _current.
    val orphan = "orphan-file.wtsv"
    java.nio.file.Files.write(new File(dir, orphan).toPath,
      "2\tb\n".getBytes("UTF-8"))
    val files = (m0.files :+ orphan).map(f => "\"" + f + "\"").mkString(", ")
    java.nio.file.Files.write(new File(dir, "manifest-1.json").toPath,
      s"""{"version": 1, "epoch": -1, "schema": "${m0.schemaDdl}", "files": [$files]}"""
        .getBytes("UTF-8"))
    assert(WarehouseSink.readManifest(dir).get.version === 0) // no swap yet
    // Writer B appends: its publish conflicts on slot 1, waits out the
    // grace period, then REBASES on the claimed slot's manifest — the
    // stalled committer's row must survive in generation 2.
    Seq((3L, "c")).toDF("id", "v").write.format(Fmt)
      .option("path", dir).mode("append").save()
    val m2 = WarehouseSink.readManifest(dir).get
    assert(m2.version === 2, s"expected rebase onto slot 1, got $m2")
    val ids = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("a failed load aborts cleanly: table state unchanged, staging removed") {
    val dir = tmp()
    Seq((1L, "keep")).toDF("id", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val bad = spark.range(0, 100, 1, 2).toDF("id")
      .withColumn("v", when(col("id") === 57,
        raise_error(lit("boom"))).otherwise(concat(lit("x"), col("id"))))
    intercept[Exception] {
      bad.write.format(Fmt).option("path", dir).mode("overwrite").save()
    }
    // manifest pointer never moved: the pre-failure generation is intact
    val back = spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq
    assert(back === Seq((1L, "keep")))
    assert(!new File(dir, "_staging").exists() ||
      new File(dir, "_staging").listFiles().isEmpty,
      "staging must be cleaned up on abort")
  }

  test("reader parallelism mirrors the written layout (one split per file)") {
    val dir = tmp()
    spark.range(0, 1000).toDF("id").repartition(7)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.rdd.getNumPartitions === 7)
    assert(back.count() === 1000)
  }

  test("streaming write: micro-batches append exactly-once, replay skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp()
    val ckpt = tmp()
    val stream = MemoryStream[Long]
    val q = stream.toDF().withColumnRenamed("value", "id")
      .writeStream.format(Fmt)
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      stream.addData(1L to 5L: _*); q.processAllAvailable()
      stream.addData(6L to 8L: _*); q.processAllAvailable()
    } finally q.stop()
    def ids() = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids() === (1L to 8L))
    // replayed epoch: re-invoking commit with an already-folded epochId
    // must be a no-op (the restart-redelivery path)
    val m0 = WarehouseSink.readManifest(dir).get
    assert(m0.epoch >= 0)
    val sw = new WarehouseStreamingWrite(dir,
      spark.read.format(Fmt).option("path", dir).load().schema, "qtest")
    sw.commit(m0.epoch, Array.empty) // replay of the last epoch
    assert(ids() === (1L to 8L))
    assert(WarehouseSink.readManifest(dir).get.version === m0.version)
  }

  test("batch append between epochs carries the streaming replay cursor forward") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[Long]
    val q = stream.toDF().withColumnRenamed("value", "id")
      .writeStream.format(Fmt)
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try { stream.addData(1L to 3L: _*); q.processAllAvailable() } finally q.stop()
    val cursor = WarehouseSink.readManifest(dir).get.epoch
    assert(cursor >= 0)
    // A batch APPEND interleaved with the stream must preserve the epoch
    // cursor — resetting it would let a checkpoint restart replay the
    // last micro-batch past the guard and double-publish.
    Seq(100L).toDF("id").write.format(Fmt).option("path", dir)
      .mode("append").save()
    assert(WarehouseSink.readManifest(dir).get.epoch === cursor)
    val sw = new WarehouseStreamingWrite(dir,
      spark.read.format(Fmt).option("path", dir).load().schema, "qtest")
    sw.commit(cursor, Array.empty) // restart replays the folded epoch
    val ids = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L, 100L)) // no duplicates from the replay
    // TRUNCATE deliberately resets the cursor: new generation, fresh
    // streams must publish from epoch 0.
    Seq(200L).toDF("id").write.format(Fmt).option("path", dir)
      .mode("overwrite").save()
    assert(WarehouseSink.readManifest(dir).get.epoch === -1L)
  }

  test("a batch write with streamEpoch publishes each epoch once") {
    val dir = tmp()
    def w(id: Long, epoch: Long, mode: String) =
      Seq(id).toDF("id").write.format(Fmt).option("path", dir)
        .option("streamEpoch", epoch.toString).mode(mode).save()
    def ids() = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    w(1L, 0L, "append"); w(2L, 1L, "append")
    val m = WarehouseSink.readManifest(dir).get
    assert(m.epoch === 1L)
    // a replayed epoch is a detected no-op, for append and overwrite alike
    w(3L, 1L, "append"); w(4L, 0L, "overwrite")
    assert(ids() === Seq(1L, 2L))
    assert(WarehouseSink.readManifest(dir).get.version === m.version)
  }

  test("streaming epoch into a partitioned table keeps the partition claim") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp(); val ckpt = tmp()
    // A value-partitioned table first (the SPJ layout).
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.format(Fmt).option("path", dir)
      .option("partitionBy", "k").mode("append").save()
    assert(WarehouseSink.readManifest(dir).get.partitionCol === "k")
    // A streaming epoch must not wipe the claim: later batch appends
    // would inherit "" and maintain() could never restore the layout.
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("id", "k")
      .writeStream.format(Fmt)
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try { stream.addData((3L, "a"), (4L, "b")); q.processAllAvailable() }
    finally q.stop()
    assert(WarehouseSink.readManifest(dir).get.partitionCol === "k",
      "streaming publish dropped the partition-column claim")
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 4)
    // and maintain() can still restore the one-file-per-value layout
    WarehouseSink.maintain(spark, dir, targetBytes = Long.MaxValue)
    assert(WarehouseSink.readManifest(dir).get.partitionCol === "k")
  }

  test("streaming write resumes from checkpoint without duplicating rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp()
    val ckpt = tmp()
    val stream = MemoryStream[Long]
    def run(data: Seq[Long]): Unit = {
      val q = stream.toDF().withColumnRenamed("value", "id")
        .writeStream.format(Fmt)
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try { stream.addData(data: _*); q.processAllAvailable() } finally q.stop()
    }
    run(1L to 4L)
    run(5L to 6L) // same checkpoint: continues, never re-publishes 1-4
    val got = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === (1L to 6L))
  }

  test("watermarked streaming aggregate lands exactly-once in the warehouse") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp(); val ckpt = tmp()
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = graft.streaming.EventCharts.weeklyAggStream(
      stream.toDF().toDF("entity", "ts", "value"),
      "ts", "entity", "value", watermark = "1 day")
    val q = agg.writeStream.format(Fmt)
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      stream.addData((1L, ts(1), 2.0), (1L, ts(2), 3.0)) // week of Jan 1
      q.processAllAvailable()
      stream.addData((1L, ts(15), 5.0)) // watermark passes week 1 → emits
      q.processAllAvailable()
      stream.addData((1L, ts(25), 7.0)) // closes week of Jan 15
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.format(Fmt).option("path", dir).load()
    // closed weeks are present exactly once with the full-week totals
    val sums = out.groupBy("entity").count().as[(Long, Long)].collect().toMap
    assert(sums.getOrElse(1L, 0L) >= 1,
      s"no closed window reached the sink: ${out.collect().toSeq}")
    val weeks = out.select("entity").count()
    assert(weeks === out.dropDuplicates().count(), "duplicated window rows")
  }

  test("row codec round-trips arbitrary strings and nulls (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    // strings biased toward the escape alphabet, plus the null sentinel
    // text itself as a LITERAL value (must survive, not decode to null)
    val tricky = Gen.oneOf(
      Gen.listOf(Gen.oneOf('\t', '\n', '\\', '0', ' ', 'a', '"')).map(_.mkString),
      Gen.asciiPrintableStr, Gen.const("\\0"), Gen.const("\\"), Gen.const(""))
    val cases = (1L to 64L).map(s => sample(Gen.option(tricky), s)) ++
      Seq(None, Some("\\0"), Some("\\\\0"), Some("\t\n\\"))
    for (s <- cases) {
      val enc = WarehouseSink.encode(s.map(UTF8String.fromString).orNull)
      assert(!enc.contains('\t') && !enc.contains('\n'),
        s"encoded token leaks a delimiter: ${enc.toList}")
      val dec = WarehouseSink.decode(enc, StringType)
      assert(Option(dec).map(_.toString) === s, s"roundtrip broke for $s")
    }
  }

  test("maintain: compacts live files, preserves the epoch cursor, vacuums history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp(); val ckpt = tmp()
    // One streaming epoch first, so the table carries a replay cursor the
    // maintenance pass must not lose.
    val stream = MemoryStream[Long]
    val q = stream.toDF().withColumnRenamed("value", "id")
      .writeStream.format(Fmt)
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try { stream.addData(1L to 4L: _*); q.processAllAvailable() } finally q.stop()
    // Then the fragmentation a continuously-appended table accumulates.
    (5L to 24L).toDF("id").repartition(10)
      .write.format(Fmt).option("path", dir).mode("append").save()
    (25L to 44L).toDF("id").repartition(10)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val before = WarehouseSink.readManifest(dir).get
    assert(before.files.size >= 20)
    assert(before.epoch >= 0)
    def ids() = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    val rows0 = ids()

    val rep = WarehouseSink.maintain(spark, dir,
      targetBytes = Long.MaxValue, keepVersions = 1)
    assert(rep.compacted)
    assert(rep.filesBefore === before.files.size)
    assert(rep.filesAfter === 1, s"expected one compacted file, got $rep")
    assert(rep.reclaimed > 0, "pre-compaction generations must be vacuumed")

    val after = WarehouseSink.readManifest(dir).get
    assert(after.epoch === before.epoch,
      "OPTIMIZE must carry the exactly-once replay cursor forward")
    assert(ids() === rows0, "compaction must not change table contents")
    // On-disk data files are exactly the live manifest's set.
    val onDisk = new File(dir).listFiles
      .filter(_.getName.endsWith(".wtsv")).map(_.getName).toSet
    assert(onDisk === after.files.toSet)
    // Vacuumed history is an explicit error, the live generation reads.
    intercept[Exception] {
      spark.read.format(Fmt).option("path", dir)
        .option("versionAsOf", before.version.toString).load().collect()
    }
    // A replayed streaming epoch is still detected after maintenance.
    new WarehouseStreamingWrite(dir,
      spark.read.format(Fmt).option("path", dir).load().schema, "qmaint")
      .commit(after.epoch, Array.empty)
    assert(ids() === rows0, "replay guard lost across maintain")
    // Already-compact table: maintain is a layout no-op.
    val rep2 = WarehouseSink.maintain(spark, dir,
      targetBytes = Long.MaxValue, keepVersions = 1)
    assert(!rep2.compacted && rep2.filesAfter === 1)
    assert(ids() === rows0)
  }

  test("per-file stats skip refuted files at planning time, rows re-filtered") {
    val dir = tmp()
    spark.range(0, 100).toDF("id")
      .withColumn("name", concat(lit("u"), lpad(col("id").cast("string"), 3, "0")))
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    def table() = spark.read.format(Fmt).option("path", dir).load()
    assert(table().rdd.getNumPartitions === 4)
    // range probe: three of the four files' id ranges refute it
    val probe = table().filter(col("id") < 25)
    assert(probe.rdd.getNumPartitions === 1, "expected 3 files skipped")
    assert(probe.select("id").as[Long].collect().sorted.toSeq === (0L until 25L))
    // string equality narrows to one file via the name ranges
    val eq = table().filter(col("name") === "u042")
    assert(eq.rdd.getNumPartitions === 1)
    assert(eq.count() === 1)
    // a refuted-everywhere probe plans ZERO partitions
    val none = table().filter(col("id") > 5000)
    assert(none.rdd.getNumPartitions === 0)
    assert(none.count() === 0)
    // skipping is an optimization only: the unfiltered read is complete
    assert(table().count() === 100)
    // stats ride through OPTIMIZE: the compacted file carries fresh
    // ranges and its sidecar is the only one left on disk
    WarehouseSink.maintain(spark, dir, targetBytes = Long.MaxValue)
    assert(table().rdd.getNumPartitions === 1)
    assert(new File(dir).listFiles.count(_.getName.endsWith(".stats")) === 1)
    assert(table().filter(col("id") > 5000).rdd.getNumPartitions === 0)
    assert(table().filter(col("id") < 25).count() === 25)
  }

  test("schema round-trips through the manifest for schemaless reads") {
    val dir = tmp()
    Seq((1L, 2.5, "s")).toDF("a", "b", "c")
      .write.format(Fmt).option("path", dir).mode("append").save()
    // no .schema() and no schema option: inferred from the manifest
    val got = spark.read.format(Fmt).option("path", dir).load().schema
    assert(got.fieldNames.toSeq === Seq("a", "b", "c"))
  }

  test("column pruning reaches the warehouse reader") {
    val dir = tmp()
    Seq((1L, "a", 2.5), (2L, "b", -1.0), (3L, "c", 0.5))
      .toDF("id", "s", "x")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val pruned = spark.read.format(Fmt).option("path", dir).load()
      .select("x", "id")
    val readSchema = pruned.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema()
    }.get
    assert(readSchema.fieldNames.toSet === Set("x", "id"),
      s"reader should decode only the projected columns, got $readSchema")
    assert(pruned.as[(Double, Long)].collect().sortBy(_._2).toSeq ===
      Seq((2.5, 1L), (-1.0, 2L), (0.5, 3L)))
    // a pushed filter on a NON-projected column still skips/filters right
    val f = spark.read.format(Fmt).option("path", dir).load()
      .filter(col("s") === "b").select("id")
    assert(f.as[Long].collect().toSeq === Seq(2L))
  }

  test("metadata-only aggregates answer from sidecars without opening data files") {
    val dir = tmp()
    Seq((1L, Option("b"), 2.5), (2L, None, -1.0),
      (3L, Option("a"), 9.25), (4L, Option("zz"), 0.0))
      .toDF("id", "s", "x")
      .repartition(3)
      .write.format(Fmt).option("path", dir).mode("append").save()
    def table() = spark.read.format(Fmt).option("path", dir).load()

    val agg = table().agg(count(lit(1)).as("n"),
      min("id").as("id_mn"), max("id").as("id_mx"),
      min("s").as("s_mn"), max("s").as("s_mx"),
      min("x").as("x_mn"), max("x").as("x_mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"),
      "expected the pushed metadata aggregate scan:\n" +
        agg.queryExecution.executedPlan)
    val r = agg.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 1L, 4L)))
    assert((r.getString(3), r.getString(4)) === (("a", "zz")))
    assert((r.getDouble(5), r.getDouble(6)) === ((-1.0, 9.25)))

    // gates: a residual filter, grouping, or an unsupported function all
    // refuse the pushdown — and the fallback answers identically
    // (sum over a DOUBLE column refuses: order-dependent accumulation)
    for (df <- Seq(
      table().filter(col("id") > 1).agg(max("id").as("m")),
      table().groupBy("s").agg(max("id")),
      table().agg(sum("x")))) {
      assert(!df.queryExecution.executedPlan.toString.contains("metadata-only"))
      df.collect() // and executes fine against the data files
    }
    assert(table().filter(col("id") > 1)
      .agg(max("id")).collect()(0).getLong(0) === 4L)

    // a sidecar without the #rows line (a pre-rowcount writer) voids the
    // stats-completeness proof: pushdown refuses, scan still correct
    val m = WarehouseSink.readManifest(dir).get
    val sc = new File(dir, m.files.head + ".stats")
    val stripped = new String(java.nio.file.Files.readAllBytes(sc.toPath))
      .linesIterator.filterNot(_.startsWith("#rows\t")).mkString("\n")
    java.nio.file.Files.write(sc.toPath, stripped.getBytes)
    val noPush = table().agg(count(lit(1)).as("n"))
    assert(!noPush.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(noPush.collect()(0).getLong(0) === 4L)
  }

  test("metadata aggregate survives a missing data file; a full scan cannot") {
    val dir = tmp()
    spark.range(0, 40).toDF("id").repartition(4)
      .write.format(Fmt).option("path", dir).mode("append").save()
    def table() = spark.read.format(Fmt).option("path", dir).load()
    val f = WarehouseSink.readManifest(dir).get.files.head
    assert(new File(dir, f).delete(), "fixture: drop one data file")
    // sidecar + manifest remain: the aggregate never opens the data file
    val r = table().agg(count(lit(1)).as("n"), min("id").as("mn"),
      max("id").as("mx")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((40L, 0L, 39L)))
    intercept[org.apache.spark.SparkException] { table().collect() }
  }

  test("deleteWhere rewrites only stat-candidate files; others carry by name") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val dir = tmp()
    spark.range(0, 100).toDF("id")
      .withColumn("v", col("id") % 10)
      .repartitionByRange(4, col("id")) // 4 disjoint id-range files
      .write.format(Fmt).option("path", dir).mode("append").save()
    val before = WarehouseSink.readManifest(dir).get
    assert(before.files.size === 4)
    // delete ids [30, 45): intersects one or two of the four range files
    val rep = WarehouseSink.deleteWhere(spark, dir,
      Seq(GreaterThanOrEqual("id", 30L), LessThan("id", 45L)))
    assert(rep.rowsDeleted === 15L)
    assert(rep.filesRewritten + rep.filesCarried >= 4)
    assert(rep.filesRewritten <= 2,
      s"stats should confine the rewrite to the overlapping range files: $rep")
    val after = WarehouseSink.readManifest(dir).get
    // carried files keep their identity (no copy, no rename)
    assert(before.files.toSet.intersect(after.files.toSet).size === rep.filesCarried)
    def ids(opts: Map[String, String] = Map.empty) = {
      var r = spark.read.format(Fmt).option("path", dir)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().select("id").as[Long].collect().sorted.toSeq
    }
    assert(ids() === ((0L until 30L) ++ (45L until 100L)))
    // pre-delete generation still time-travels until vacuumed
    assert(ids(Map("versionAsOf" -> before.version.toString)) === (0L until 100L))
    // a predicate matching nothing publishes NO new generation
    val v = WarehouseSink.readManifest(dir).get.version
    val rep2 = WarehouseSink.deleteWhere(spark, dir,
      Seq(GreaterThanOrEqual("id", 5000L)))
    assert(rep2 === WarehouseSink.DeleteReport(0, after.files.size, 0L))
    assert(WarehouseSink.readManifest(dir).get.version === v)
  }

  test("deleteWhere keeps rows where the predicate is null (SQL DELETE semantics)") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = tmp()
    Seq((1L, Some("drop")), (2L, Some("keep")), (3L, None))
      .toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val rep = WarehouseSink.deleteWhere(spark, dir, Seq(EqualTo("s", "drop")))
    assert(rep.rowsDeleted === 1L)
    val left = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(left === Seq(2L, 3L), "null predicate must keep the row")
  }

  test("merge upserts: matched keys replaced, new keys inserted, files pruned") {
    val dir = tmp()
    spark.range(0, 100).toDF("id")
      .withColumn("v", (col("id") % 10).cast("long"))
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val before = WarehouseSink.readManifest(dir).get
    assert(before.files.size === 4)
    // updates confined to ids [40, 50) + two brand-new keys
    val updates = ((40L until 50L).map(i => (i, 777L)) ++
      Seq((200L, 1L), (201L, 2L))).toDF("id", "v")
    val rep = WarehouseSink.merge(spark, dir, updates, Seq("id"))
    assert(rep.rowsMatched === 10L && rep.rowsUpserted === 12L)
    // the [40,50)∪{200,201} key box overlaps at most 3 of 4 range files
    assert(rep.filesRewritten <= 3 && rep.filesCarried >= 1, rep.toString)
    val back = spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val want = ((0L until 100L).map(i =>
      (i, if (i >= 40 && i < 50) 777L else i % 10)) ++
      Seq((200L, 1L), (201L, 2L))).sortBy(_._1)
    assert(back === want)
    // pre-merge generation still time-travels
    assert(spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", before.version.toString).load().count() === 100L)
  }

  test("merge with null-keyed and empty updates") {
    val dir = tmp()
    Seq((Some(1L), "a"), (Some(2L), "b")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    // a NULL-keyed update row can match nothing → pure insert
    val rep = WarehouseSink.merge(spark, dir,
      Seq((Option.empty[Long], "n"), (Some(2L), "B")).toDF("id", "s"),
      Seq("id"))
    assert(rep.rowsMatched === 1L && rep.rowsUpserted === 2L)
    val back = spark.read.format(Fmt).option("path", dir).load()
      .as[(Option[Long], String)].collect().toSeq
      .sortBy(r => (r._1.isEmpty, r._1.getOrElse(0L)))
    assert(back === Seq((Some(1L), "a"), (Some(2L), "B"), (None, "n")))
    // empty updates: nothing matches, nothing rewrites, table unchanged
    val v = WarehouseSink.readManifest(dir).get.version
    val rep2 = WarehouseSink.merge(spark, dir,
      spark.emptyDataset[(Option[Long], String)].toDF("id", "s"), Seq("id"))
    assert(rep2.rowsMatched === 0L && rep2.rowsUpserted === 0L)
    assert(rep2.filesRewritten === 0)
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 3L)
    assert(WarehouseSink.readManifest(dir).get.version >= v)
  }

  test("updateWhere rewrites matching rows in place, prunes by stats") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val dir = tmp()
    spark.range(0, 100).toDF("id")
      .withColumn("v", (col("id") % 10).cast("long"))
      .repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    val rep = WarehouseSink.updateWhere(spark, dir,
      Seq(GreaterThanOrEqual("id", 30L), LessThan("id", 45L)),
      Map("v" -> (col("v") + 1000L)))
    assert(rep.rowsUpdated === 15L)
    assert(rep.filesRewritten <= 2 && rep.filesCarried >= 2, rep.toString)
    val back = spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(back === (0L until 100L).map(i =>
      (i, if (i >= 30 && i < 45) i % 10 + 1000L else i % 10)))
  }

  test("updateWhere leaves null-predicate rows unchanged (SQL UPDATE semantics)") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = tmp()
    Seq((1L, Some("hit"), 10L), (2L, Some("miss"), 20L), (3L, None, 30L))
      .toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val rep = WarehouseSink.updateWhere(spark, dir, Seq(EqualTo("s", "hit")),
      Map("v" -> lit(999L)))
    assert(rep.rowsUpdated === 1L)
    val back = spark.read.format(Fmt).option("path", dir).load()
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, 999L), (2L, 20L), (3L, 30L)),
      "null predicate must leave the row unchanged")
  }

  test("updateWhere assignments see pre-update values") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val dir = tmp()
    Seq((1L, 2L, 3L), (2L, 5L, 7L)).toDF("id", "a", "b")
      .write.format(Fmt).option("path", dir).mode("append").save()
    // swap-shaped assignment: both RHS evaluate against the OLD row
    WarehouseSink.updateWhere(spark, dir, Seq(GreaterThanOrEqual("id", 0L)),
      Map("a" -> col("b"), "b" -> col("a")))
    val back = spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, 3L, 2L), (2L, 7L, 5L)))
  }

  test("schema evolution: mergeSchema append widens; old files read null") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    // new column v: requires explicit opt-in
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).option("mergeSchema", "true")
      .mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.schema.fieldNames.toSeq === Seq("id", "s", "v"))
    assert(back.as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
      === Seq((1L, "a", None), (2L, "b", None),
        (3L, "c", Some(30L)), (4L, "d", Some(40L))))
    // pruning straight to the evolved column still maps per file
    assert(back.select("v").as[Option[Long]].collect().flatten.sorted.toSeq
      === Seq(30L, 40L))
    // filter on the evolved column: old files conservatively kept by the
    // skip path, their null cells dropped by the residual filter
    assert(back.filter(col("v") > 35L).select("id").as[Long].collect().toSeq
      === Seq(4L))
  }

  test("schema evolution: frame missing an old column null-fills its rows") {
    val dir = tmp()
    Seq((1L, "a", 10L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    Seq((2L, 20L)).toDF("id", "v")
      .write.format(Fmt).option("path", dir).option("mergeSchema", "true")
      .mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, Option[String], Long)].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, Some("a"), 10L), (2L, None, 20L)))
  }

  test("schema mismatch without mergeSchema fails loudly; type change always fails") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val e1 = intercept[Exception] {
      Seq((2L, "b", 1L)).toDF("id", "s", "v")
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    assert(e1.getMessage != null || e1.getCause != null) // surfaced, not silent
    // table unchanged after the refused append
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 1L)
    val e2 = intercept[Exception] {
      Seq((2L, 9L)).toDF("id", "s") // s: string -> long
        .write.format(Fmt).option("path", dir)
        .option("mergeSchema", "true").mode("append").save()
    }
    assert(e2.getMessage != null || e2.getCause != null)
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 1L)
  }

  test("reordered append decodes by per-file column mapping, schema stable") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    // same (name, type) set, different order: allowed without evolution
    Seq(("b", 2L)).toDF("s", "id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.schema.fieldNames.toSeq === Seq("id", "s"))
    assert(back.as[(Long, String)].collect().sortBy(_._1).toSeq
      === Seq((1L, "a"), (2L, "b")))
  }

  test("metadata MIN/MAX over an evolved column ignores pre-evolution files") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    Seq((3L, "c", 30L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).option("mergeSchema", "true")
      .mode("append").save()
    val agg = spark.read.format(Fmt).option("path", dir).load()
      .agg(count(lit(1)), min("v"), max("v"))
    // still answered from sidecars (pre-evolution files hold no v range
    // line = all-null there, which MIN/MAX ignore — matching a full scan)
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(agg.as[(Long, Option[Long], Option[Long])].head()
      === ((3L, Some(30L), Some(30L))))
  }

  test("streaming read: snapshot first, then per-append increments only") {
    val dir = tmp()
    val ckpt = tmp()
    def append(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i * 2)).toDF("id", "v")
        .write.format(Fmt).option("path", dir).mode("append").save()
    append(0, 10)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .select("id")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0))
        seen.synchronized { seen ++= ids; batches += ids.length.toLong }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(seen.sorted.toSeq === (0L until 10L), "first batch = snapshot")
      append(10, 15); q.processAllAvailable()
      append(15, 18); q.processAllAvailable()
    } finally q.stop()
    assert(seen.sorted.toSeq === (0L until 18L))
    assert(seen.size === 18, "increments must not re-read earlier files")
  }

  test("streaming read resumes from checkpoint without re-reading") {
    val dir = tmp()
    val ckpt = tmp()
    (0L until 6L).map(i => Tuple1(i)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", dir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = b.select("id").collect().map(_.getLong(0))
          seen.synchronized { seen ++= ids }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(seen.sorted.toSeq === (0L until 6L))
    (6L until 9L).map(i => Tuple1(i)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    run() // restart: only the post-checkpoint append arrives
    assert(seen.sorted.toSeq === (0L until 9L) && seen.size === 9)
  }

  test("streaming read fails loudly on a non-append generation") {
    val dir = tmp()
    val ckpt = tmp()
    (0L until 8L).map(i => Tuple1(i)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    try {
      q.processAllAvailable()
      // truncate drops every consumed file from the live manifest
      Seq(Tuple1(99L)).toDF("id")
        .write.format(Fmt).option("path", dir).mode("overwrite").save()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("append-only")), msgs(e).mkString("|"))
    } finally q.stop()
  }

  test("warehouse-to-warehouse streaming pipe is exactly-once across restart") {
    val src = tmp()
    val dst = tmp()
    val ckpt = tmp()
    def appendSrc(lo: Long, hi: Long) =
      (lo until hi).map(i => Tuple1(i)).toDF("id")
        .write.format(Fmt).option("path", src).mode("append").save()
    appendSrc(0, 5)
    def pipe(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", src).load()
        .writeStream.format(Fmt)
        .option("path", dst).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    pipe()
    appendSrc(5, 9)
    pipe() // restart mid-history: source offsets + sink epoch guard compose
    val got = spark.read.format(Fmt).option("path", dst).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === (0L until 9L), "no loss, no duplicates end to end")
  }

  test("metadata COUNT(col) and integral SUM answer without data files") {
    val dir = tmp()
    Seq((1L, Some(10L), Some(1.5)), (2L, None, None), (3L, Some(30L), Some(2.5)))
      .toDF("id", "v", "x")
      .repartition(2)
      .write.format(Fmt).option("path", dir).mode("append").save()
    def table = spark.read.format(Fmt).option("path", dir).load()
    val full = table.agg(count(col("v")), sum(col("v")))
      .as[(Long, Long)].head()
    assert(full === ((2L, 40L)))
    val agg = table.agg(count(col("v")), sum(col("v")))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"),
      agg.queryExecution.executedPlan.toString)
    // delete a data file: metadata path must still answer identically
    val m = WarehouseSink.readManifest(dir).get
    new java.io.File(dir, m.files.head).delete()
    assert(table.agg(count(col("v")), sum(col("v")))
      .as[(Long, Long)].head() === full)
    // double SUM is refused (order-dependent): plans a real scan and FAILS
    // on the missing file — proof it did not answer from metadata
    intercept[Exception] {
      table.agg(sum(col("x"))).collect()
    }
  }

  test("metadata SUM of an all-null column is NULL, like a scan") {
    val dir = tmp()
    Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("id", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val r = spark.read.format(Fmt).option("path", dir).load()
      .agg(sum(col("v")), count(col("v"))).head()
    assert(r.isNullAt(0) && r.getLong(1) === 0L)
  }

  test("partitionBy write splits one file per value; filters prune whole groups") {
    val dir = tmp()
    (0L until 60L).map(i => (i, s"g${i % 3}"))
      .toDF("id", "grp")
      .write.format(Fmt).option("path", dir).option("partitionBy", "grp")
      .mode("overwrite").save()
    val m = WarehouseSink.readManifest(dir).get
    assert(m.partitionCol === "grp")
    // every file holds exactly one grp value (min == max in its sidecar)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    m.files.foreach { f =>
      val st = WarehouseSink.readStats(dir, f, schema).get("grp")
      assert(st._1 === st._2, s"$f mixes values")
    }
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.as[(Long, String)].collect().sortBy(_._1).toSeq
      === (0L until 60L).map(i => (i, s"g${i % 3}")))
    // un-optioned append INHERITS the partition column
    (60L until 66L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val m2 = WarehouseSink.readManifest(dir).get
    assert(m2.partitionCol === "grp")
    m2.files.foreach { f =>
      val st = WarehouseSink.readStats(dir, f, schema).get("grp")
      assert(st._1 === st._2)
    }
  }

  test("storage-partitioned join on co-partitioned tables plans NO shuffle") {
    val a = tmp(); val b = tmp()
    (0L until 90L).map(i => (i, s"k${i % 5}", i * 2))
      .toDF("id", "k", "va")
      .write.format(Fmt).option("path", a).option("partitionBy", "k")
      .mode("overwrite").save()
    (0L until 40L).map(i => (i, s"k${i % 5}", i + 100))
      .toDF("id2", "k", "vb")
      .write.format(Fmt).option("path", b).option("partitionBy", "k")
      .mode("overwrite").save()
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val l = spark.read.format(Fmt).option("path", a).load()
      val r = spark.read.format(Fmt).option("path", b).load()
      val joined = l.join(r, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle:\n$plan")
      // and the answer is the real join
      assert(joined.count() === 90L / 5L * (40L / 5L) * 5L)
    }
  }

  test("one-side storage-partitioned join shuffles only the delta side") {
    val store = tmp()
    (0L until 64L).map(i => (i, s"v$i")).toDF("k", "aval")
      .withColumn("graft_bucket", pmod(xxhash64(col("k")), lit(4)))
      .write.format(Fmt).option("path", store)
      .option("partitionBy", "graft_bucket").mode("overwrite").save()
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val storeSide = spark.read.format(Fmt).option("path", store).load()
      val delta = (0L until 8L).map(i => (i, i * 100L)).toDF("k", "bval")
        .withColumn("graft_bucket", pmod(xxhash64(col("k")), lit(4)))
      val joined = delta.join(storeSide, Seq("graft_bucket", "k"))
      val plan = joined.queryExecution.executedPlan.toString
      // exactly ONE Exchange: the delta re-clustering into the store's
      // KeyGroupedPartitioning; the store scan itself is Exchange-free
      assert("Exchange".r.findAllIn(plan).size === 1,
        s"want one (delta-side) Exchange:\n$plan")
      assert(joined.count() === 8L)
    }
  }

  test("two-column storage-partitioned join plans NO shuffle") {
    val a = tmp(); val b = tmp()
    (0L until 120L).map(i => (i, s"r${i % 3}", s"s${i % 4}", i * 2))
      .toDF("id", "rk", "sk", "va")
      .write.format(Fmt).option("path", a).option("partitionBy", "rk,sk")
      .mode("overwrite").save()
    (0L until 60L).map(i => (i, s"r${i % 3}", s"s${i % 4}", i + 100))
      .toDF("id2", "rk", "sk", "vb")
      .write.format(Fmt).option("path", b).option("partitionBy", "rk,sk")
      .mode("overwrite").save()
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val l = spark.read.format(Fmt).option("path", a).load()
      val r = spark.read.format(Fmt).option("path", b).load()
      val joined = l.join(r, Seq("rk", "sk"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"two-column SPJ must not shuffle:\n$plan")
      // oracle: plain DataFrame join over the raw rows
      val want = (for (i <- 0L until 120L; j <- 0L until 60L
        if i % 3 == j % 3 && i % 4 == j % 4) yield 1).size.toLong
      assert(joined.count() === want)
    }
  }

  test("null-aware skipping: IS NULL / IS NOT NULL prune by the #nulls sidecar") {
    val dir = tmp()
    // three files by id range: [0,10) all-null v, [10,20) no nulls,
    // [20,30) mixed
    (0L until 30L).map { i =>
      val v = if (i < 10) None
        else if (i < 20) Some(i) else if (i % 2 == 0) Some(i) else None
      (i, v)
    }.toDF("id", "v").repartitionByRange(3, col("id"))
      .write.format(Fmt).option("path", dir).mode("overwrite").save()
    def table() = spark.read.format(Fmt).option("path", dir).load()
    assert(table().rdd.getNumPartitions === 3)
    // IS NULL: the no-null file plans no partition
    val isNull = table().filter(col("v").isNull)
    assert(isNull.rdd.getNumPartitions === 2, "no-null file must skip")
    assert(isNull.count() === 10L + 5L)
    // IS NOT NULL: the all-null file plans no partition
    val notNull = table().filter(col("v").isNotNull)
    assert(notNull.rdd.getNumPartitions === 2, "all-null file must skip")
    assert(notNull.count() === 10L + 5L)
    // composed: equality carries an implicit IsNotNull — all-null file
    // skips via the null leg, [20,30) via ranges
    val eq = table().filter(col("v") === 15L)
    assert(eq.rdd.getNumPartitions === 1)
    assert(eq.count() === 1L)
    // DML candidate pruning rides the same leg: deleting IS NULL rows
    // carries the no-null file by name
    val rep = WarehouseSink.deleteWhere(spark, dir,
      Seq(org.apache.spark.sql.sources.IsNull("v")))
    assert(rep.filesCarried >= 1, rep.toString)
    assert(table().count() === 15L)
  }

  test("maintain preserves a two-column partitioned layout (SPJ after compaction)") {
    val dir = tmp()
    (0L until 60L).map(i => (i, s"r${i % 2}", s"s${i % 3}"))
      .toDF("id", "rk", "sk")
      .write.format(Fmt).option("path", dir).option("partitionBy", "rk,sk")
      .mode("overwrite").save()
    // fragment with an inherited-layout append, then compact
    (100L until 130L).map(i => (i, s"r${i % 2}", s"s${i % 3}"))
      .toDF("id", "rk", "sk")
      .write.format(Fmt).option("path", dir).mode("append").save()
    WarehouseSink.maintain(spark, dir, targetBytes = Long.MaxValue)
    val m = WarehouseSink.readManifest(dir).get
    assert(m.partitionCol === "rk,sk")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val t = spark.read.format(Fmt).option("path", dir).load()
      val agg = t.groupBy("rk", "sk").agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"post-compaction tuple-partitioned aggregate must not shuffle:\n$plan")
      assert(agg.as[(String, String, Long)].collect().map(_._3).sum === 90L)
    }
  }

  test("SPJ with MISMATCHED partition value sets joins shuffle-free via pushPartValues") {
    val a = tmp(); val b = tmp()
    // left covers tuples (r0..r2 x s0..s3); right only r0/r1 x s0/s1 —
    // value sets differ, so plain SPJ can't align 1:1.
    (0L until 120L).map(i => (i, s"r${i % 3}", s"s${i % 4}", i * 2))
      .toDF("id", "rk", "sk", "va")
      .write.format(Fmt).option("path", a).option("partitionBy", "rk,sk")
      .mode("overwrite").save()
    (0L until 40L).map(i => (i, s"r${i % 2}", s"s${i % 2}", i + 100))
      .toDF("id2", "rk", "sk", "vb")
      .write.format(Fmt).option("path", b).option("partitionBy", "rk,sk")
      .mode("overwrite").save()
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val l = spark.read.format(Fmt).option("path", a).load()
      val r = spark.read.format(Fmt).option("path", b).load()
      val joined = l.join(r, Seq("rk", "sk"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"mismatched-value-set SPJ must not shuffle:\n$plan")
      val want = (for (i <- 0L until 120L; j <- 0L until 40L
        if s"r${i % 3}" == s"r${j % 2}" && s"s${i % 4}" == s"s${j % 2}")
        yield 1).size.toLong
      assert(joined.count() === want)
    }
  }

  test("partition-local aggregation on the partition column plans no shuffle") {
    val dir = tmp()
    (0L until 80L).map(i => (i, s"k${i % 4}")).toDF("id", "k")
      .write.format(Fmt).option("path", dir).option("partitionBy", "k")
      .mode("overwrite").save()
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.read.format(Fmt).option("path", dir).load()
        .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"partition-local aggregate must not shuffle:\n$plan")
      val got = agg.as[(String, Long, Long)].collect().toSet
      val want = (0L until 80L).groupBy(i => s"k${i % 4}")
        .map { case (k, is) => (k, is.size.toLong, is.sum) }.toSet
      assert(got === want)
    }
  }

  test("merge/update/delete agree with the relational model on random data") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val rnd = new scala.util.Random(7)
    val dir = tmp()
    var model = (0L until 200L).map(i => (i, rnd.nextInt(1000).toLong)).toMap
    model.toSeq.toDF("id", "v").repartitionByRange(4, col("id"))
      .write.format(Fmt).option("path", dir).mode("overwrite").save()
    def check(stage: String): Unit = {
      val got = spark.read.format(Fmt).option("path", dir).load()
        .as[(Long, Long)].collect().toMap
      assert(got === model, s"divergence after $stage")
    }
    // MERGE: update 30 random existing keys, insert 10 new ones
    val upd = rnd.shuffle((0L until 200L).toList).take(30)
      .map(i => (i, 5000L + i)) ++
      (500L until 510L).map(i => (i, i))
    WarehouseSink.merge(spark, dir, upd.toDF("id", "v"), Seq("id"))
    model = model ++ upd.toMap
    check("merge")
    // UPDATE: v += 10000 where 40 <= id < 160
    WarehouseSink.updateWhere(spark, dir,
      Seq(GreaterThanOrEqual("id", 40L), LessThan("id", 160L)),
      Map("v" -> (col("v") + 10000L)))
    model = model.map { case (k, v) =>
      (k, if (k >= 40 && k < 160) v + 10000 else v) }
    check("update")
    // DELETE: drop 100 <= id < 505
    WarehouseSink.deleteWhere(spark, dir,
      Seq(GreaterThanOrEqual("id", 100L), LessThan("id", 505L)))
    model = model.filter { case (k, _) => k < 100 || k >= 505 }
    check("delete")
  }

  test("write-audit-publish: staged rows invisible until promoted") {
    val dir = tmp()
    (1L to 4L).map(i => (i, i * 10.0)).toDF("id", "price")
      .write.format(Fmt).option("path", dir).mode("append").save()
    def liveIds() = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    // stage a clean batch: live table unchanged, audit sees the batch
    val tok = WarehouseSink.stageAppend(spark, dir,
      Seq((5L, 50.0), (6L, 60.0)).toDF("id", "price"))
    assert(liveIds() === (1L to 4L))
    val staged = WarehouseSink.readStaged(spark, dir, tok)
    assert(staged.select("id").as[Long].collect().sorted.toSeq === Seq(5L, 6L))
    // audit = the existing expectation suite over the staged read
    import graft.operators.Expectations._
    val audit = check(staged, Seq(InRange("price", 0.0, 100.0)))
      .agg(sum(col("n_violations"))).as[Long].head()
    assert(audit === 0L)
    WarehouseSink.promoteStaged(dir, tok)
    assert(liveIds() === (1L to 6L))
    assert(!new java.io.File(dir, s"staged-$tok.json").isFile)
    // a failed audit discards: table untouched, files reclaimed
    val tok2 = WarehouseSink.stageAppend(spark, dir,
      Seq((7L, -5.0)).toDF("id", "price"))
    val bad = check(WarehouseSink.readStaged(spark, dir, tok2),
      Seq(InRange("price", 0.0, 100.0)))
      .agg(sum(col("n_violations"))).as[Long].head()
    assert(bad === 1L)
    val reclaimed = WarehouseSink.discardStaged(dir, tok2)
    assert(reclaimed >= 1)
    assert(liveIds() === (1L to 6L))
  }

  test("a batch append interleaved with a pending stage: promote rebases") {
    val dir = tmp()
    (1L to 3L).map(Tuple1(_)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val tok = WarehouseSink.stageAppend(spark, dir, Seq(Tuple1(50L)).toDF("id"))
    // a normal append lands WHILE the stage is pending
    (4L to 6L).map(Tuple1(_)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    WarehouseSink.promoteStaged(dir, tok)
    // both the interleaved append and the promoted stage survive
    assert(spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 5L, 6L, 50L))
  }

  test("zorder maintenance: both dimensions prune; rewrite is lossless") {
    val dir = tmp()
    val rnd = new scala.util.Random(7)
    // 40×40 grid, shuffled across 16 unclustered appends.
    rnd.shuffle((for (x <- 0L until 40L; y <- 0L until 40L)
      yield (x, y)).toList).grouped(100).foreach { g =>
      g.toDF("x", "y").coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    val rep = WarehouseSink.maintain(spark, dir, targetBytes = 2000L,
      zorderBy = Some(("x", "y")))
    assert(rep.compacted)
    assert(WarehouseSink.readManifest(dir).get.sortedBy === "zorder(x,y)")
    def table() = spark.read.format(Fmt).option("path", dir).load()
    val total = table().rdd.getNumPartitions
    assert(total >= 4, s"need a multi-file layout to prove pruning, got $total")
    // Lossless rewrite.
    assert(table().count() === 1600L)
    assert(table().agg(org.apache.spark.sql.functions.sum(
      col("x") * 1000 + col("y"))).as[Long].head() ===
      (for (x <- 0L until 40L; y <- 0L until 40L) yield x * 1000 + y).sum)
    // EITHER dimension prunes files — the claim clusterBy can't make
    // for its trailing column. Boundary determinism is explicitly NOT
    // the operator's contract (approxQuantile boundaries wobble with
    // partition merge order under load), so probe BOTH edges of each
    // dimension and require each dimension to prune on at least one —
    // a curve that failed to rectangle at all still fails both probes.
    def planned(c: String, lo: Boolean): Int =
      (if (lo) table().filter(col(c) < 5L)
       else table().filter(col(c) >= 35L)).rdd.getNumPartitions
    val xs = math.min(planned("x", lo = true), planned("x", lo = false))
    val ys = math.min(planned("y", lo = true), planned("y", lo = false))
    assert(xs < total, s"no x-slice pruned (best $xs of $total files)")
    assert(ys < total, s"no y-slice pruned (best $ys of $total files)")
    assert(table().filter(col("x") < 5L).count() === 200L)
    assert(table().filter(col("y") < 5L).count() === 200L)
  }

  test("maintain rejects zorder combined with clusterBy") {
    val dir = tmp()
    (0L until 10L).map(i => (i, i)).toDF("x", "y")
      .write.format(Fmt).option("path", dir).mode("overwrite").save()
    intercept[IllegalArgumentException] {
      WarehouseSink.maintain(spark, dir, clusterBy = Some("x"),
        zorderBy = Some(("x", "y")))
    }
  }

  test("maintain rejects clusterBy on a value-partitioned table") {
    val dir = tmp()
    (0L until 10L).map(i => (i, s"k${i % 2}")).toDF("id", "k")
      .write.format(Fmt).option("path", dir).option("partitionBy", "k")
      .mode("overwrite").save()
    intercept[IllegalArgumentException] {
      WarehouseSink.maintain(spark, dir, clusterBy = Some("id"))
    }
  }

  test("vacuum never reclaims a pending stage") {
    val dir = tmp()
    (1L to 3L).map(Tuple1(_)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    // create history then stage
    (4L to 5L).map(Tuple1(_)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val tok = WarehouseSink.stageAppend(spark, dir,
      Seq(Tuple1(9L)).toDF("id"))
    WarehouseSink.vacuum(dir, keepVersions = 1)
    // the staged batch survived maintenance and still promotes cleanly
    WarehouseSink.promoteStaged(dir, tok)
    assert(spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 5L, 9L))
  }

  test("clusterBy maintenance lets the planner elide redundant sorts") {
    val dir = tmp()
    val rnd = new scala.util.Random(5)
    rnd.shuffle((0L until 80L).toList).grouped(20).foreach { g =>
      g.map(i => Tuple1(i)).toDF("id").coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    def sortPlan() = spark.read.format(Fmt).option("path", dir).load()
      .sortWithinPartitions("id").queryExecution.executedPlan.toString
    assert(sortPlan().contains("Sort"), "unsorted table needs the sort")
    WarehouseSink.maintain(spark, dir, targetBytes = 100L,
      clusterBy = Some("id"))
    assert(WarehouseSink.readManifest(dir).get.sortedBy === "id")
    assert(!sortPlan().contains("Sort"),
      s"reported ordering must elide the sort:\n${sortPlan()}")
    // rows really do arrive sorted within each partition
    val parts = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].rdd
      .mapPartitions(it => Iterator(it.toSeq)).collect()
    parts.foreach(p => assert(p === p.sorted, "file not internally sorted"))
    // an append invalidates the claim: the sort comes back
    Seq(Tuple1(999L)).toDF("id")
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(WarehouseSink.readManifest(dir).get.sortedBy === "")
    assert(sortPlan().contains("Sort"))
  }

  test("maintain preserves the value-partitioned layout through compaction") {
    val dir = tmp()
    // three appends → up to 3 files per value; compaction must merge them
    // back to one-per-value, NOT round-robin values together
    for (b <- 0 until 3)
      (0L until 30L).map(i => (b * 100L + i, s"k${i % 3}")).toDF("id", "k")
        .write.format(Fmt).option("path", dir)
        .option("partitionBy", "k")
        .mode(if (b == 0) "overwrite" else "append").save()
    val before = WarehouseSink.readManifest(dir).get
    WarehouseSink.maintain(spark, dir, targetBytes = 1L << 30)
    val after = WarehouseSink.readManifest(dir).get
    assert(after.partitionCol === "k")
    assert(after.files.size < before.files.size)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(after.schemaDdl)
    after.files.foreach { f =>
      val st = WarehouseSink.readStats(dir, f, schema).get("k")
      assert(st._1 === st._2, s"compaction mixed values in $f")
    }
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() === 90L)
    // SPJ still available post-OPTIMIZE
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = back.groupBy("k").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(agg.as[(String, Long)].collect().toMap
        === Map("k0" -> 30L, "k1" -> 30L, "k2" -> 30L))
    }
  }

  test("maintain clusterBy rewrites into disjoint, sorted key ranges") {
    val dir = tmp()
    // shuffled ids across many small appends: ranges overlap heavily
    val rnd = new scala.util.Random(3)
    rnd.shuffle((0L until 120L).toList).grouped(20).foreach { g =>
      g.map(i => Tuple1(i)).toDF("id").coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    val rep = WarehouseSink.maintain(spark, dir, targetBytes = 120L,
      clusterBy = Some("id"))
    assert(rep.compacted && rep.filesAfter > 1)
    val m = WarehouseSink.readManifest(dir).get
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val ranges = m.files.map { f =>
      val (mn, mx) = WarehouseSink.readStats(dir, f, schema).get("id")
      (mn.asInstanceOf[Long], mx.asInstanceOf[Long])
    }.sortBy(_._1)
    // post-cluster ranges are pairwise DISJOINT — the skip path's best case
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $ranges")
      case _ =>
    }
    assert(spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq === (0L until 120L))
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("reported statistics let the planner broadcast a small warehouse table") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "dim")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val small = spark.read.format(Fmt).option("path", dir).load()
    val big = spark.range(0, 10000).toDF("k2")
    val joined = big.join(small, col("k2") === col("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"3-row table with reported stats should broadcast:\n$plan")
    assert(joined.count() === 3)
  }

  test("metadata aggregate: all-null column yields null MIN/MAX exactly like a scan") {
    val dir = tmp()
    Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val agg = spark.read.format(Fmt).option("path", dir).load()
      .agg(min("s").as("mn"), max("s").as("mx"), count(lit(1)).as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"))
    val r = agg.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) === 2L)
  }

  test("promote rejects a schema-mismatched stage; merge rejects extra columns") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    // staged batch with a different column set cannot promote
    val tok = WarehouseSink.stageAppend(spark, dir,
      Seq((2L, "b", 9L)).toDF("id", "s", "extra"))
    intercept[Exception] { WarehouseSink.promoteStaged(dir, tok) }
    // the failed promote left the live table untouched; discard reclaims
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 1L)
    WarehouseSink.discardStaged(dir, tok)
    // merge with a mismatched updates schema is refused up front
    intercept[Exception] {
      WarehouseSink.merge(spark, dir,
        Seq((1L, "x", 5L)).toDF("id", "s", "extra"), Seq("id"))
    }
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 1L)
  }

  test("cloneTable: zero-copy clone diverges under DML; source vacuum " +
    "cannot break it") {
    val src = tmp(); val dst = tmp() + "/clone"
    (0L until 50L).map(i => (i, i * 10.0)).toDF("id", "v")
      .write.format(Fmt).option("path", src).mode("append").save()
    val linked = WarehouseSink.cloneTable(src, dst)
    assert(linked > 0)
    def ids(d: String) = spark.read.format(Fmt).option("path", d).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(dst) === (0L until 50L))
    // DML on the clone must not touch the source (immutable shared files)
    WarehouseSink.deleteWhere(spark, dst,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 24L)))
    assert(ids(dst) === (0L until 25L))
    assert(ids(src) === (0L until 50L))
    // source truncate + vacuum drops ALL originally-shared names from the
    // source dir; the clone's hard links keep the bytes alive
    Seq((999L, 1.0)).toDF("id", "v")
      .write.format(Fmt).option("path", src).mode("overwrite").save()
    WarehouseSink.vacuum(src, keepVersions = 1)
    assert(ids(src) === Seq(999L))
    assert(ids(dst) === (0L until 25L))
    // clone history is fresh: version 0, op = clone
    val m = WarehouseSink.readManifest(dst)
    assert(m.exists(_.op == "delete")) // after the DML
    assert(WarehouseSink.readManifestAt(dst, 0L).exists(_.op == "clone"))
    // cloning onto an existing table is refused
    intercept[Exception] { WarehouseSink.cloneTable(src, dst) }
  }

  test("timestampAsOf resolves to the newest generation at or before " +
    "the instant") {
    val dir = tmp()
    def w(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"v$i")).toDF("id", "v")
        .write.format(Fmt).option("path", dir).mode("append").save()
    w(0, 10)
    val t0 = WarehouseSink.readManifest(dir).get.ts
    Thread.sleep(5)
    w(10, 20)
    val t1 = WarehouseSink.readManifest(dir).get.ts
    assert(t1 >= t0) // monotonic stamps
    def idsAt(ts: String) = spark.read.format(Fmt).option("path", dir)
      .option("timestampAsOf", ts).load()
      .select("id").as[Long].collect().sorted.toSeq
    // at t0: only the first generation; at t1 (and any later instant):
    // both; before the table existed: loud error
    assert(idsAt(t0.toString) === (0L until 10L))
    assert(idsAt(t1.toString) === (0L until 20L))
    assert(idsAt((t1 + 60000L).toString) === (0L until 20L))
    // ISO-8601 form resolves identically
    assert(idsAt(java.time.Instant.ofEpochMilli(t1).toString) ===
      (0L until 20L))
    val ex = intercept[Exception] { idsAt((t0 - 60000L).toString) }
    assert(ex.getMessage.contains("no retained generation"))
    // explicit versionAsOf wins over timestampAsOf
    assert(spark.read.format(Fmt).option("path", dir)
      .option("timestampAsOf", (t1 + 1000L).toString)
      .option("versionAsOf", "0").load()
      .select("id").as[Long].collect().sorted.toSeq === (0L until 10L))
  }

  test("each DML verb launches a pinned number of Spark jobs, feed off and on") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val band = Seq(GreaterThanOrEqual("id", 10L), LessThan("id", 15L))
    val updates = ((10L until 15L).map(i => (i, 777L)) ++
      Seq((100L, 1L), (101L, 2L))).toDF("id", "v")
    val changes = Seq((10L, 7L, false), (11L, 7L, false), (13L, 0L, true),
      (100L, 1L, false)).toDF("id", "v", "del")
    val source = ((0L until 36L).map(i => (i, i % 10)) :+ ((100L, 1L)))
      .toDF("id", "v")
    val verbs: Seq[(String, String => Unit)] = Seq(
      "deleteWhere" -> (d => WarehouseSink.deleteWhere(spark, d, band)),
      "updateWhere" -> (d => WarehouseSink.updateWhere(spark, d, band,
        Map("v" -> (col("v") + 100L)))),
      "merge" -> (d => WarehouseSink.merge(spark, d, updates, Seq("id"))),
      "deleteWhereMoR" -> (d => WarehouseSink.deleteWhereMoR(spark, d, band)),
      "updateWhereMoR" -> (d => WarehouseSink.updateWhereMoR(spark, d, band,
        Map("v" -> (col("v") + 100L)))),
      "mergeMoR" -> (d => WarehouseSink.mergeMoR(spark, d, updates, Seq("id"))),
      "applyChangesMoR" -> (d => WarehouseSink.applyChangesMoR(spark, d,
        changes, Seq("id"), "del")),
      "syncMoR" -> (d => WarehouseSink.syncMoR(spark, d, source, Seq("id"))))
    val got = for ((name, run) <- verbs; cdf <- Seq(false, true)) yield {
      val dir = tmp()
      spark.range(0, 40).toDF("id")
        .withColumn("v", col("id") % 10)
        .repartitionByRange(4, col("id"))
        .write.format(Fmt).option("path", dir).mode("append").save()
      if (cdf) WarehouseSink.enableChangeFeed(dir)
      s"$name${if (cdf) "+cdf" else ""}" -> jobsLaunched(run(dir))
    }
    // A change to the shared DML skeleton must not add a job to any verb.
    assert(got.toMap === Map(
      "deleteWhere" -> 1, "deleteWhere+cdf" -> 2,
      "updateWhere" -> 3, "updateWhere+cdf" -> 4,
      "merge" -> 7, "merge+cdf" -> 14,
      "deleteWhereMoR" -> 2, "deleteWhereMoR+cdf" -> 3,
      "updateWhereMoR" -> 3, "updateWhereMoR+cdf" -> 4,
      "mergeMoR" -> 8, "mergeMoR+cdf" -> 15,
      "applyChangesMoR" -> 12, "applyChangesMoR+cdf" -> 21,
      "syncMoR" -> 14, "syncMoR+cdf" -> 23), got.mkString(", "))
  }

  test("merge prunes by every key column: a NULL-only key column matches nothing") {
    val dir = tmp()
    spark.range(0, 40).toDF("a")
      .withColumn("b", col("a") % 4)
      .withColumn("v", lit("old"))
      .repartitionByRange(4, col("a"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    // the updates' `a` range overlaps the table, but every `b` is NULL:
    // no row can match on (a, b), so no file may be rewritten
    val updates = Seq((5L, Option.empty[Long], "new"),
      (25L, Option.empty[Long], "new")).toDF("a", "b", "v")
    val rep = WarehouseSink.merge(spark, dir, updates, Seq("a", "b"))
    assert(rep.filesRewritten === 0, rep.toString)
    assert(rep.rowsMatched === 0L && rep.rowsUpserted === 2L, rep.toString)
    val back = spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, Option[Long], String)].collect().toSeq
    val want = (0L until 40L).map(a => (a, Option(a % 4), "old")) ++
      Seq((5L, None, "new"), (25L, None, "new"))
    assert(back.sortBy(r => (r._1, r._2.getOrElse(-1L), r._3)) ===
      want.sortBy(r => (r._1, r._2.getOrElse(-1L), r._3)))
  }
}
