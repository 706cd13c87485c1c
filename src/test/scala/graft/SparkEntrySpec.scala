package graft

class SparkEntrySpec extends SparkSpec {
  import spark.implicits._

  test("releaseCaches() empties the semantic-store memo") {
    val d = java.nio.file.Files.createTempDirectory("graft_entry_sem").toString
    // the store keys a cell on 4 sign bits, so vectors need >= 4 dims
    (1L to 9L).map(i => (i, Array(i.toFloat, 1f - i, 0.5f, -0.25f * i)))
      .toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    val tbl = SparkEntry.semanticStoreTable(spark, d)
    assert(SparkEntry.semStoreCache.get((spark, d)) === Some(tbl))
    SparkEntry.releaseCaches()
    assert(SparkEntry.semStoreCache.isEmpty)
  }
}
