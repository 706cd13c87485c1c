package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Table-level CHECK constraints: per-row writer enforcement with atomic
  * failure, existing-data validation on add, DML/clone/streaming
  * coverage. */
class WarehouseChecksSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.sources.WarehouseSink"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_whck").toString

  private def seed(dir: String): Unit =
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "grp", "v")
      .write.format(Fmt).option("path", dir).mode("overwrite").save()

  private def ids(dir: String) =
    spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq

  test("a violating append fails atomically; a clean one passes") {
    val dir = tmp(); seed(dir)
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("v_floor", "min", "v", "0"))
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("grp_domain", "in", "grp", "a;b;c"))
    val bad = Seq((3L, "a", -5.0)).toDF("id", "grp", "v")
    val ex = intercept[Exception] {
      bad.write.format(Fmt).option("path", dir).mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("CHECK 'v_floor' violated")))
    assert(ids(dir) === Seq(1L, 2L)) // staged files never published
    intercept[Exception] {
      Seq((3L, "z", 5.0)).toDF("id", "grp", "v")
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    Seq((3L, "c", 5.0)).toDF("id", "grp", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(ids(dir) === Seq(1L, 2L, 3L))
    // NULL passes range/in checks (SQL semantics) but not notnull
    Seq((4L, Option.empty[String], Option.empty[Double]))
      .toDF("id", "grp", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("id_req", "notnull", "id", ""))
    intercept[Exception] {
      Seq((Option.empty[Long], Option("a"), Option(1.0)))
        .toDF("id", "grp", "v")
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
  }

  test("addCheck validates EXISTING data and refuses a violated check") {
    val dir = tmp(); seed(dir) // v = 10, 20
    val ex = intercept[IllegalArgumentException] {
      WarehouseSink.addCheck(spark, dir,
        WarehouseSink.Check("v_cap", "max", "v", "15"))
    }
    assert(ex.getMessage.contains("violated by existing data"))
    assert(WarehouseSink.checks(dir).isEmpty) // policy unchanged
    // dropCheck reopens the gate
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("v_floor", "min", "v", "0"))
    WarehouseSink.dropCheck(dir, "v_floor")
    Seq((9L, "a", -1.0)).toDF("id", "grp", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(ids(dir).contains(9L))
  }

  test("UPDATE and MERGE cannot smuggle violating rows past the policy") {
    val dir = tmp(); seed(dir)
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("v_floor", "min", "v", "0"))
    intercept[Exception] {
      WarehouseSink.updateWhere(spark, dir,
        Seq(org.apache.spark.sql.sources.EqualTo("id", 1L)),
        Map("v" -> lit(-99.0)))
    }
    assert(spark.read.format(Fmt).option("path", dir).load()
      .filter(col("v") < 0).count() === 0L)
    intercept[Exception] {
      WarehouseSink.merge(spark, dir,
        Seq((5L, "a", -3.0)).toDF("id", "grp", "v"), Seq("id"))
    }
    assert(ids(dir) === Seq(1L, 2L))
    // clean DML still flows
    WarehouseSink.merge(spark, dir,
      Seq((5L, "a", 3.0)).toDF("id", "grp", "v"), Seq("id"))
    assert(ids(dir) === Seq(1L, 2L, 5L))
  }

  test("a clone inherits the CHECK policy") {
    val dir = tmp(); seed(dir)
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("v_floor", "min", "v", "0"))
    val dst = tmp() + "/cl"
    WarehouseSink.cloneTable(dir, dst)
    assert(WarehouseSink.checks(dst).map(_.name) === Seq("v_floor"))
    intercept[Exception] {
      Seq((7L, "a", -1.0)).toDF("id", "grp", "v")
        .write.format(Fmt).option("path", dst).mode("append").save()
    }
  }

  test("write-audit-publish staging refuses rows the CHECK policy refuses") {
    val dir = tmp(); seed(dir) // v = 10, 20
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("v_cap", "max", "v", "30"))
    intercept[Exception] {
      val tok = WarehouseSink.stageAppend(spark, dir,
        Seq((6L, "a", 60.0)).toDF("id", "grp", "v"))
      WarehouseSink.promoteStaged(dir, tok)
    }
    assert(ids(dir) === Seq(1L, 2L))
  }

  test("a branch append refuses rows the CHECK policy refuses") {
    val dir = tmp(); seed(dir)
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("v_cap", "max", "v", "30"))
    WarehouseSink.createBranch(dir, "audit")
    intercept[Exception] {
      WarehouseSink.appendToBranch(spark, dir, "audit",
        Seq((7L, "a", 70.0)).toDF("id", "grp", "v"))
    }
    val onBranch = spark.read.format(Fmt).option("path", dir)
      .option("ref", "audit").load().select("id").as[Long].collect().sorted
    assert(onBranch.toSeq === Seq(1L, 2L))
  }

  test("streaming epochs enforce checks; the failed epoch never publishes") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmp(); seed(dir)
    WarehouseSink.addCheck(spark, dir,
      WarehouseSink.Check("v_floor", "min", "v", "0"))
    val in = MemoryStream[(Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_whck_cp").toString
    val q = in.toDF().toDF("id", "grp", "v")
      .writeStream.format(Fmt).option("path", dir)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((10L, "a", 1.0))
      q.processAllAvailable()
      assert(ids(dir).contains(10L))
      in.addData((11L, "a", -1.0))
      intercept[Exception] { q.processAllAvailable() }
    } finally q.stop()
    assert(!ids(dir).contains(11L))
  }
}
