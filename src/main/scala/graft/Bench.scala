package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Warm up codegen/JIT + parquet footers so the first timed query isn't
    // charged Spark's session start-up cost.
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }
    // Optional comma-separated query filter for local iteration on one
    // query's timing (unset in driver runs → full sweep).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // ML-training queries carry large fit variance (thread scheduling in
    // parallel CV fits measured 3.7-10.2s for the same query on one
    // host): report the MEDIAN of three cold repetitions, clearing only
    // the ML-fit memos between samples so each one pays the real fit.
    // The final repetition leaves the memo populated, preserving the
    // warm path of the queries that share the fit (q28/q62/q63).
    // Sample counts tuned to measured run-to-run spread: the two fits
    // that still exceeded 1.15x between full runs at 3 samples take 5.
    // q276_zorder is a 64-file layout REWRITE, not a query — its
    // wall-clock rides filesystem/page-cache state and has flapped
    // 5s ↔ 14s between identical runs, polluting round-over-round
    // comparison. Same median-of-3 pin (each rep writes a fresh temp
    // dir, so repetitions are independent and cold).
    val mlNoise = Map(
      "q26_kmeans_recommend" -> 5, "q27_rf_predict" -> 5,
      "q34_model_compare" -> 5, "q120_tuned_gbt" -> 3,
      "q164_quality_classifier" -> 5, "q276_zorder" -> 3)
    // A query that throws has no timing: it goes to `failed`, never into
    // the per-query map or the total as a fast success.
    val timed = selected.map { case (name, fn) =>
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); None }
      }
      val t = mlNoise.get(name) match {
        case Some(reps) =>
          val samples = (1 to reps)
            .map { _ => SparkEntry.releaseMlCaches(); once() }
          if (samples.contains(None)) None
          else Some(samples.flatten.sorted.apply(reps / 2))
        case None => once()
      }
      name -> t
    }
    val results = timed.collect { case (k, Some(v)) => k -> v }.toMap
    val failed = timed.collect { case (k, None) => k }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    // The full per-query map ALSO lands as a sidecar file: harvesters
    // that tail-capture stdout truncate the map above to their window
    // (~56 of 300+ queries), which starves round-over-round comparison.
    // One sorted entry per line so git diffs show per-query deltas.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full_latest.json")
    try {
      val body = results.toSeq.sortBy(_._1)
        .map { case (k, v) => f"""  "$k": $v%.3f""" }
        .mkString(
          f"""{%n  "_sf": "$sfDir",%n  "_total_sec": $total%.3f,%n  "_n_queries": ${results.size},%n  "_failed": $failedJson,%n""",
          ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // stdout line above remains the contract
    // Per-query map re-emitted as BOUNDED chunks (≤50 entries per line,
    // integer milliseconds): the 462-entry map on one line is ~14 KB and
    // outgrows tail-capture windows, which starved the round-15 per-query
    // comparison (PERF_r15 n_common=0). Each chunk is a complete parseable
    // JSON line, so a bounded tail always contains whole chunks. Values
    // here are rounded copies of the map above — the first line and the
    // sidecar file remain the full-precision record.
    val chunks = results.toSeq.sortBy(_._1).grouped(50).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val body = chunk
        .map { case (k, v) => s"\"" + k + "\":" + math.round(v * 1000) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries_${i + 1}of${chunks.size}","unit":"ms","queries":$body}""")
    }
    // Compact totals-only record, under a DISTINCT metric name so a
    // harvester that sums or filters by metric can never double-count the
    // sweep total. It is the LAST stdout line, so a harvester that
    // tail-captures output always sees it whole.
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"sf":"$sfDir"}""")
    SparkEntry.releaseCaches()
    spark.stop()
  }
}
