package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

/** One closed-loop client over one workload: session start, untimed warm-up
  * (whose first pass also captures each key's output for the correctness
  * check), `round(--seconds / cycleS)` whole timed cycles, then end-of-run
  * state probes. Every raw observation — op records, substrate builds, memo
  * counts, probes and, with `--trace 1`, the job and stage spans — goes to
  * one JSON file (`--out`); `run.py` derives the metrics from it.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data SF_DIR --check CHECK_DIR --out RESULT.json
  */
object Main {

  final case class Op(id: Long, key: String, kind: String, cycle: Int,
                      traced: Boolean, startMs: Long, endMs: Long,
                      buildS: Double, actionS: Double, ok: Boolean, error: String)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.all.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceMode = opt("trace") == "1"
    val data = opt("data")
    val checkDir = opt("check")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ops = mutable.ArrayBuffer.empty[Op]
    var nextId = 0L
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(key: String, kind: String, cycle: Int, traced: Boolean,
              action: DataFrame => Unit = noop)(build: => DataFrame): Op = {
      nextId += 1
      val id = nextId
      sc.setLocalProperty(SparkTrace.OpProp, id.toString)
      sc.setLocalProperty(SparkTrace.PhaseProp, "build")
      val startMs = System.currentTimeMillis()
      val a = System.nanoTime()
      var b = a
      val (ok, err) = try {
        val df = build
        b = System.nanoTime()
        if (df != null) {
          sc.setLocalProperty(SparkTrace.PhaseProp, "action")
          action(df)
        }
        (true, null)
      } catch { case NonFatal(e) => (false, s"${e.getClass.getName}: ${e.getMessage}") }
      val c = System.nanoTime()
      if (b == a) b = c // the registry call threw: all of it was build time
      sc.setLocalProperty(SparkTrace.OpProp, null)
      sc.setLocalProperty(SparkTrace.PhaseProp, null)
      val op = Op(id, key, kind, cycle, traced, startMs, System.currentTimeMillis(),
        (b - a) / 1e9, (c - b) / 1e9, ok, Option(err).map(_.take(300)).orNull)
      ops += op
      op
    }
    def buildSubstrate(sub: Workloads.Substrate, cycle: Int, traced: Boolean): Op =
      timed(s"substrate.${sub.name}", "substrate", cycle, traced) {
        sub.build(spark, data); null
      }
    def order(cycle: Int): Seq[String] =
      new Random(seed * 1000003L + cycle).shuffle(w.keys)

    // The correctness check's capture: the key's output as parquet, read by
    // run.py. Its writes are the check's cost, not the program's, so their
    // time is kept out of set-up.
    val captured = mutable.Set.empty[String]
    var captureS = 0.0
    def capture(key: String)(write: File => Unit): Unit = if (captured.add(key)) {
      val c0 = System.nanoTime()
      try write(new File(checkDir, key))
      catch { case NonFatal(_) => () } // the timed runs record the failure
      captureS += (System.nanoTime() - c0) / 1e9
    }

    // Warm-up. The first pass materializes each key's result by collecting
    // it, then writes the collected rows for the check; further passes run
    // every key through the timed path, untimed.
    val warm0 = System.nanoTime()
    if (w.warmPasses > 0) order(-1).foreach { key =>
      var result: (Array[Row], StructType) = null
      val op = timed(key, "warmup", -1, traced = false,
        df => result = (df.collect(), df.schema))(Workloads.query(key)(spark, data))
      if (op.ok) capture(key) { dir =>
        val (rows, schema) = result
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(dir.getPath)
      }
    }
    for (p <- 1 until w.warmPasses; key <- order(-1 - p))
      timed(key, "warmup", -1 - p, traced = false)(Workloads.query(key)(spark, data))
    // The benchmark's own sink: its first write loads the noop data source,
    // which would otherwise land on whichever key the seed puts first.
    noop(spark.range(1).toDF())
    val warmS = (System.nanoTime() - warm0) / 1e9 - captureS
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - captureS

    // Timed cycles. A traced run (at least three cycles) traces the odd
    // ones, so every traced cycle follows an untraced one and the tracing
    // overhead is measured within one process.
    val trace = new SparkTrace
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    var cycle = 0
    val nCycles = math.max(if (traceMode) 3 else 1, math.round(seconds / w.cycleS).toInt)
    while (cycle < nCycles) {
      val traced = traceMode && cycle % 2 == 1
      if (traced) sc.addSparkListener(trace)
      if (w.perCycle.nonEmpty) SparkEntry.releaseCaches()
      val memoStart = Workloads.memoEntries()
      val counters0 = Probes.counters()
      w.perCycle.foreach(buildSubstrate(_, cycle, traced))
      order(cycle).foreach { key =>
        timed(key, "query", cycle, traced)(Workloads.query(key)(spark, data))
        // Without warm-up the check captures right after the key's first
        // timed run, untimed and with the memo state that run saw.
        capture(key)(dir => Workloads.query(key)(spark, data)
          .write.mode("overwrite").parquet(dir.getPath))
      }
      cycles += Map[String, Any]("cycle" -> cycle, "traced" -> traced,
        "memo_start" -> memoStart, "memo_end" -> Workloads.memoEntries()) ++
        Probes.counters().map { case (k, v) => k -> (v - counters0(k)) }
      if (traced) { trace.drain(sc); sc.removeSparkListener(trace) }
      cycle += 1
    }
    val timedS = (System.nanoTime() - loop0) / 1e9

    // End-of-run probes: before and after releaseCaches().
    val probes = mutable.LinkedHashMap.empty[String, Any]
    probes("persisted_rdds_end") = sc.getPersistentRDDs.size
    probes("mem_mb_end") = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    probes("tmp_disk_mb_end") = Probes.tmpDiskMb(sc)
    probes("retained_heap_mb") = Probes.heapAfterGcMb()
    SparkEntry.releaseCaches()
    probes("heap_mb_after_release") = Probes.heapAfterGcMb()
    probes("persisted_rdds_after_release") = sc.getPersistentRDDs.size

    val out = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traceMode, "cores" -> cores,
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS,
        "warm_s" -> warmS, "capture_s" -> captureS),
      "timed_s" -> timedS,
      "ops" -> ops.map(o => Map(
        "id" -> o.id, "key" -> o.key, "kind" -> o.kind, "cycle" -> o.cycle,
        "traced" -> o.traced, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "build_s" -> o.buildS, "action_s" -> o.actionS, "ok" -> o.ok,
        "error" -> o.error)),
      "keys" -> w.keys,
      "substrates" -> w.perCycle.map(_.name),
      "oracle" -> w.keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap,
      "cycles" -> cycles,
      "probes" -> probes.toMap,
      "jobs" -> trace.jobs.map(j => Map("job" -> j.jobId, "op" -> j.op,
        "phase" -> j.phase, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages)),
      "stages" -> trace.stages.map(s => Map("stage" -> s.stageId,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "input_b" -> s.inputBytes,
        "output_b" -> s.outputBytes, "shuffle_read_b" -> s.shuffleReadBytes,
        "shuffle_write_b" -> s.shuffleWriteBytes, "spill_b" -> s.spillBytes,
        "max_task_records" -> s.maxTaskRecords, "records" -> s.records)))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opt("out")), out)
    spark.stop()
  }
}
