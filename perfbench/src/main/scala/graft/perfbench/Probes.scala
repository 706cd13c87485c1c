package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** JVM and end-of-run state probes: JIT and GC time, retained driver heap
  * and scratch disk. */
object Probes {

  /** Counters a cycle's record takes the difference of: milliseconds the
    * JVM has spent in JIT compilation and in garbage collection, and the
    * generated classes Spark's whole-stage codegen has compiled (a plan
    * whose code misses the codegen cache compiles new classes, which the
    * JIT then compiles again). */
  def counters(): Map[String, Long] = Map(
    "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum,
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Driver heap in use after full collections (explicit GC is not
    * disabled in the benchmark JVM, so `System.gc()` runs a full one). */
  def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50L) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `graft_*` scratch tables under `java.io.tmpdir` (freed only by
    * `SparkEntry.tempTableDir`'s shutdown hooks) plus Spark's local dirs. */
  def tmpDiskMb(sc: SparkContext): Double = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val graftDirs = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))
    val localDirs = sc.getConf.getOption("spark.local.dir").toSeq
      .flatMap(_.split(",")).map(new File(_))
    (graftDirs ++ localDirs).map(bytes).sum / 1048576.0
  }

  private def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else f.length()
}
