package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  test("bloom sidecar prunes files for point lookups; exact rows, no misses") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomidx").toString
    val store = s"$dir/store"; val side = s"$dir/side"
    // 16 files, each holding a disjoint id slice (hash-partitioned write)
    val df = (1L to 4000L).map(i => (i, s"payload$i")).toDF("id", "v")
    df.repartition(16, col("id")).write.parquet(store)
    val nFiles = spark.read.parquet(store)
      .select(input_file_name()).distinct().count()
    assert(nFiles === 16)
    BloomIndex.build(spark, store, side, "id", expectedPerFile = 1000L)
    // a present key: few candidate files (1 true + fpp noise), exact row
    val cands = BloomIndex.candidateFiles(spark, side, "1234")
    assert(cands.nonEmpty && cands.size <= 3,
      s"bloom should prune to ~1 file, got ${cands.size} of $nFiles")
    val hit = BloomIndex.lookup(spark, store, side, "id", "1234")
      .as[(Long, String)].collect().toSeq
    assert(hit === Seq((1234L, "payload1234")))
    // an absent key: no wrong rows; usually zero files read
    val miss = BloomIndex.lookup(spark, store, side, "id", "999999")
    assert(miss.count() === 0)
    // schema preserved on the short-circuit path
    assert(miss.columns.toSeq === Seq("id", "v"))
  }

  test("bloom sidecar never false-negatives across every stored key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomidx2").toString
    val store = s"$dir/store"; val side = s"$dir/side"
    (1L to 500L).map(i => (i, i * 2)).toDF("k", "v")
      .repartition(8, col("k")).write.parquet(store)
    BloomIndex.build(spark, store, side, "k", expectedPerFile = 200L)
    // every present key must be found (blooms have no false negatives)
    for (k <- Seq(1L, 77L, 250L, 499L, 500L)) {
      val got = BloomIndex.lookup(spark, store, side, "k", k.toString)
        .select("v").as[Long].collect().toSeq
      assert(got === Seq(k * 2), s"key $k")
    }
  }

  test("non-selective probe past the candidate cap falls back to a full scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomidx3").toString
    val store = s"$dir/store"; val side = s"$dir/side"
    // The SAME key lands in every file — a probe for it matches all 8
    // blooms, so with maxCandidates below the file count the lookup must
    // fall back to the plain store read and still return exact rows.
    val df = (1L to 8L).flatMap(p => Seq((42L, p), (p + 100L, p))).toDF("k", "part")
    df.repartition(8, col("part")).write.parquet(store)
    BloomIndex.build(spark, store, side, "k", expectedPerFile = 100L)
    val got = BloomIndex.lookup(spark, store, side, "k", "42", maxCandidates = 2)
      .select("part").as[Long].collect().sorted.toSeq
    assert(got === (1L to 8L))
  }

  test("probing a known sidecar plans without launching a job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomidx4").toString
    val store = s"$dir/store"; val side = s"$dir/side"
    (1L to 200L).map(i => (i, i)).toDF("k", "v")
      .repartition(4, col("k")).write.parquet(store)
    BloomIndex.build(spark, store, side, "k", expectedPerFile = 100L)
    BloomIndex.candidateFiles(spark, side, "7") // infers the sidecar schema
    var probe: org.apache.spark.sql.Dataset[String] = null
    assert(jobsLaunched { probe = BloomIndex.candidateQuery(spark, side, "7") } === 0)
    assert(probe.collect().length >= 1)
  }

  test("the probe hash is the build column's xxhash64, computed without a query") {
    for (v <- Seq("", "7", "Grüße, 東京 \uD83C\uDFB5")) {
      val built = Seq(v).toDF("v").select(xxhash64($"v".cast("string"))).head().getLong(0)
      var probe = 0L
      assert(jobsLaunched { probe = BloomIndex.probeHash(v) } === 0)
      assert(probe === built, v)
    }
  }
}
