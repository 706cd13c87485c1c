package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThan, LessThan}

class WarehouseCdfSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.sources.WarehouseSink"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_cdf_").toString

  private def changes(dir: String, from: Long, to: Long) =
    WarehouseSink.tableChanges(spark, dir, from, to)
      .select(col("_commit_version").as("v"), col("_change_type").as("ct"),
        col("id"), col("s"))
      .as[(Long, String, Long, String)].collect().sorted.toSeq

  test("deleteWhere captures before-images; append synthesizes inserts") {
    val dir = tmp()
    WarehouseSink.enableChangeFeed(dir)
    (1L to 6L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    WarehouseSink.deleteWhere(spark, dir, Seq(GreaterThan("id", 4L))) // v1
    Seq((9L, "r9")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v2
    assert(changes(dir, 0, 1) ===
      Seq((1L, "delete", 5L, "r5"), (1L, "delete", 6L, "r6")))
    assert(changes(dir, 1, 2) === Seq((2L, "insert", 9L, "r9")))
    // and the whole range unions both steps
    assert(changes(dir, 0, 2).size === 3)
    // initial write's images: every v0 row as an insert
    assert(changes(dir, -1, 0) ===
      (1L to 6L).map(i => (0L, "insert", i, s"r$i")))
  }

  test("updateWhere captures pre and post images") {
    val dir = tmp()
    WarehouseSink.enableChangeFeed(dir)
    (1L to 5L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    WarehouseSink.updateWhere(spark, dir, Seq(LessThan("id", 3L)),
      Map("s" -> lit("X"))) // v1
    assert(changes(dir, 0, 1) === Seq(
      (1L, "update_postimage", 1L, "X"), (1L, "update_postimage", 2L, "X"),
      (1L, "update_preimage", 1L, "r1"), (1L, "update_preimage", 2L, "r2")))
  }

  test("merge captures preimages, postimages, and inserts") {
    val dir = tmp()
    WarehouseSink.enableChangeFeed(dir)
    (1L to 4L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    WarehouseSink.merge(spark, dir,
      Seq((3L, "m3"), (4L, "m4"), (7L, "m7")).toDF("id", "s"), Seq("id")) // v1
    assert(changes(dir, 0, 1) === Seq(
      (1L, "insert", 7L, "m7"),
      (1L, "update_postimage", 3L, "m3"), (1L, "update_postimage", 4L, "m4"),
      (1L, "update_preimage", 3L, "r3"), (1L, "update_preimage", 4L, "r4")))
  }

  test("truncate reads as full delete + insert; maintain as zero changes") {
    val dir = tmp()
    WarehouseSink.enableChangeFeed(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    Seq((5L, "z")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("overwrite").save() // v1
    assert(changes(dir, 0, 1) === Seq(
      (1L, "delete", 1L, "a"), (1L, "delete", 2L, "b"),
      (1L, "insert", 5L, "z")))
    // fragment the table, compact: rows unchanged → empty feed step
    Seq((6L, "y")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v2
    WarehouseSink.maintain(spark, dir, targetBytes = Long.MaxValue,
      keepVersions = 10) // v3
    assert(WarehouseSink.readManifest(dir).get.version === 3L)
    assert(changes(dir, 2, 3).isEmpty)
  }

  test("DML with the feed disabled is refused loudly by tableChanges") {
    val dir = tmp() // no enableChangeFeed
    (1L to 4L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    WarehouseSink.deleteWhere(spark, dir, Seq(GreaterThan("id", 2L)))
    val ex = intercept[IllegalArgumentException] {
      changes(dir, 0, 1)
    }
    assert(ex.getMessage.contains("change feed"))
    // appends still synthesize without the feed
    Seq((8L, "r8")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(changes(dir, 1, 2) === Seq((2L, "insert", 8L, "r8")))
  }

  test("vacuum retains change files with their generation, reclaims after") {
    val dir = tmp()
    WarehouseSink.enableChangeFeed(dir)
    (1L to 6L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    WarehouseSink.deleteWhere(spark, dir, Seq(GreaterThan("id", 4L))) // v1
    Seq((9L, "r9")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v2
    // keep v1..v2: the v1 delete images must still replay
    WarehouseSink.vacuum(dir, keepVersions = 2)
    assert(changes(dir, 0, 1).count(_._2 == "delete") === 2)
    // keep only v2: v1's manifest AND its change files are reclaimed
    WarehouseSink.vacuum(dir, keepVersions = 1)
    intercept[IllegalArgumentException] { changes(dir, 0, 1) }
    // live reads unaffected
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 5L)
  }

  test("streaming change feed delivers images per generation, survives DML") {
    val dir = tmp(); val ck = tmp()
    WarehouseSink.enableChangeFeed(dir)
    (1L to 4L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, String)]
    val q = spark.readStream.format(Fmt)
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.select("_commit_version", "_change_type", "id", "s")
            .collect().map(r => (r.getLong(0), r.getString(1),
              r.getLong(2), r.getString(3)))
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      // snapshot at stream start: every live row as an insert at v0
      assert(buf.sorted.toSeq ===
        (1L to 4L).map(i => (0L, "insert", i, s"r$i")))
      buf.clear()
      import org.apache.spark.sql.sources.GreaterThan
      WarehouseSink.deleteWhere(spark, dir, Seq(GreaterThan("id", 3L))) // v1
      q.processAllAvailable()
      assert(buf.sorted.toSeq === Seq((1L, "delete", 4L, "r4")))
      buf.clear()
      WarehouseSink.merge(spark, dir,
        Seq((1L, "m1"), (9L, "m9")).toDF("id", "s"), Seq("id")) // v2
      q.processAllAvailable()
      assert(buf.sorted.toSeq === Seq(
        (2L, "insert", 9L, "m9"),
        (2L, "update_postimage", 1L, "m1"),
        (2L, "update_preimage", 1L, "r1")))
      buf.clear()
      // maintenance: layout-only, the stream sees nothing and lives on
      WarehouseSink.maintain(spark, dir, targetBytes = Long.MaxValue,
        keepVersions = 10) // v3
      Seq((7L, "r7")).toDF("id", "s")
        .write.format(Fmt).option("path", dir).mode("append").save() // v4
      q.processAllAvailable()
      assert(buf.sorted.toSeq === Seq((4L, "insert", 7L, "r7")))
    } finally q.stop()
  }

  test("streaming change feed fails loudly on DML with the feed disabled") {
    val dir = tmp(); val ck = tmp() // no enableChangeFeed
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    val q = spark.readStream.format(Fmt)
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    try {
      q.processAllAvailable()
      import org.apache.spark.sql.sources.GreaterThan
      WarehouseSink.deleteWhere(spark, dir, Seq(GreaterThan("id", 1L)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("change feed")))
    } finally q.stop()
    // batch misuse of the option is refused with the tableChanges pointer
    val ex2 = intercept[Exception] {
      spark.read.format(Fmt).option("path", dir)
        .option("readChangeFeed", "true").load().collect()
    }
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    assert(msgs2(ex2).exists(_.contains("tableChanges")))
  }

  test("skipChangeCommits: append-only stream survives DML, delivers appends only") {
    val dir = tmp(); val ck = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format(Fmt)
      .option("path", dir).option("skipChangeCommits", "true").load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.select("id", "s").collect()
            .map(r => (r.getLong(0), r.getString(1)))
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(buf.sorted.toSeq === Seq((1L, "a"), (2L, "b")))
      buf.clear()
      // a DELETE would kill the default stream; the opt-in skips it
      WarehouseSink.deleteWhere(spark, dir,
        Seq(GreaterThan("id", 1L))) // v1: change commit, skipped
      Seq((5L, "e")).toDF("id", "s")
        .write.format(Fmt).option("path", dir).mode("append").save() // v2
      q.processAllAvailable()
      assert(buf.sorted.toSeq === Seq((5L, "e")),
        s"only the append lands; got $buf")
    } finally q.stop()
  }

  test("restore rolls back to a retained generation, O(metadata), feed-visible") {
    val dir = tmp()
    WarehouseSink.enableChangeFeed(dir)
    (1L to 4L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    Seq((9L, "r9")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v1
    WarehouseSink.deleteWhere(spark, dir, Seq(GreaterThan("id", 2L))) // v2
    assert(spark.read.format(Fmt).option("path", dir).load().count() === 2L)
    WarehouseSink.restore(dir, 1L) // v3: back to the 5-row state
    def ids() = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids() === Seq(1L, 2L, 3L, 4L, 9L))
    // rolled-back states stay time-travelable; history moved FORWARD
    assert(WarehouseSink.readManifest(dir).get.version === 3L)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", "2").load().count() === 2L)
    // the feed sees the restore as delete(v2 state) + insert(v1 state)
    val step = changes(dir, 2, 3)
    assert(step.count(_._2 == "delete") === 2)
    assert(step.count(_._2 == "insert") === 5)
    // restoring a vacuumed version fails loudly
    WarehouseSink.vacuum(dir, keepVersions = 1)
    intercept[IllegalArgumentException] { WarehouseSink.restore(dir, 0L) }
    assert(ids() === Seq(1L, 2L, 3L, 4L, 9L))
  }

  test("history lists retained generations newest-first with their ops") {
    val dir = tmp()
    WarehouseSink.enableChangeFeed(dir)
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save() // v0
    WarehouseSink.deleteWhere(spark, dir, Seq(GreaterThan("id", 0L))) // v1
    Seq((2L, "b")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("overwrite").save() // v2
    WarehouseSink.restore(dir, 0L) // v3
    val h = WarehouseSink.history(spark, dir)
      .select("version", "operation", "change_feed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .toSeq
    assert(h.map(_._1) === Seq(3L, 2L, 1L, 0L), "newest first")
    assert(h.map(_._2) === Seq("restore", "truncate", "delete", "append"))
    assert(h.find(_._1 == 1L).get._3 === true, "DML captured under the feed")
    // vacuum drops the reclaimed generations from the listing
    WarehouseSink.vacuum(dir, keepVersions = 2)
    assert(WarehouseSink.history(spark, dir).select("version")
      .as[Long].collect().toSeq === Seq(3L, 2L))
  }

  test("copy-on-write and merge-on-read merges emit the same change feed") {
    def table(): String = {
      val dir = tmp()
      WarehouseSink.enableChangeFeed(dir)
      (1L to 30L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(3, col("id"))
        .write.format(Fmt).option("path", dir).mode("append").save() // v0
      dir
    }
    // matched keys in two files, a NULL key and two fresh keys
    val updates = Seq((Option(4L), "m4"), (Option(5L), "m5"),
      (Option(22L), "m22"), (Option.empty[Long], "mnull"),
      (Option(40L), "m40"), (Option(41L), "m41")).toDF("id", "s")
    val (cow, mor) = (table(), table())
    WarehouseSink.merge(spark, cow, updates, Seq("id")) // v1
    WarehouseSink.mergeMoR(spark, mor, updates, Seq("id")) // v1
    def feed(dir: String) = WarehouseSink.tableChanges(spark, dir, 0, 1)
      .select(col("_commit_version"), col("_change_type"), col("id"), col("s"))
      .as[(Long, String, Option[Long], String)].collect().toSeq
      .sortBy(r => (r._2, r._3.getOrElse(-1L), r._4))
    assert(feed(cow) === feed(mor))
    assert(feed(cow).map(_._2).groupBy(identity).map { case (k, v) =>
      k -> v.size } === Map("update_preimage" -> 3, "update_postimage" -> 3,
        "insert" -> 3))
  }
}
