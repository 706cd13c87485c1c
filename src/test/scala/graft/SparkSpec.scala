package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; JVM exit cleans up

  /** Spark jobs `body` submits from this thread, counted by a
    * SparkListener (jobs are tagged through a thread-local property, so
    * work on other threads does not count). */
  def jobsLaunched(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.jobs") == tag) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try {
      body
      org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
      n.get
    } finally {
      sc.setLocalProperty("graft.test.jobs", null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  /** The shipped session ([[GraftSession.builder]]: extensions, AQE, UTC,
    * codegen cache, RocksDB state) with the test overrides: two local
    * cores, two shuffle partitions and a temporary warehouse. */
  lazy val session: SparkSession = GraftSession.builder("graft-test")
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
