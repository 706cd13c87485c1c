package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only measurement harness (guide §1): run named queries with a
  * SparkListener attached and print a per-stage time/shuffle breakdown, so
  * optimization targets the stage that actually costs instead of a guess.
  * Not part of the driver contract — Bench.scala remains the timing surface.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.ProfileQ q392_betweenness [reps]"
  */
object ProfileQ {
  final case class StageRow(id: Int, name: String, tasks: Int, ms: Long,
                            shufWrite: Long, shufRead: Long, input: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.lastOption.flatMap(_.toIntOption).getOrElse(1)
    val names = args.filterNot(_.forall(_.isDigit))
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }

    val stages = mutable.Map.empty[Int, StageRow]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(0L)
        val m = si.taskMetrics
        stages(si.stageId) = StageRow(si.stageId, si.name, si.numTasks, ms,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { r =>
        stages.clear(); jobs = 0
        SparkEntry.releaseMlCaches()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftbridge.ListenerBusBridge.drain(spark.sparkContext)
        println(f"===== $name rep$r: $dt%.3f s, $jobs jobs, ${stages.size} stages =====")
        if (r == reps) {
          val rows = stages.values.toSeq.sortBy(-_.ms).take(20)
          for (s <- rows)
            println(f"  stage ${s.id}%4d ${s.ms}%6d ms ${s.tasks}%3d tasks " +
              f"in=${s.input / 1024}%7d KiB sw=${s.shufWrite / 1024}%7d KiB " +
              f"sr=${s.shufRead / 1024}%7d KiB  ${s.name.take(90)}")
          println(f"  stage-ms sum: ${stages.values.map(_.ms).sum}%d ms")
        }
        dt
      }
      val sorted = times.sorted
      val median = (sorted((sorted.size - 1) / 2) + sorted(sorted.size / 2)) / 2
      println(f"===== $name times: ${times.map(t => f"$t%.2f").mkString(", ")} " +
        f"median=$median%.3f =====")
    }
    SparkEntry.releaseCaches()
    spark.stop()
  }
}
