package graft

class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("local() applies AQE + skew-join confs and registers SQL functions") {
    val s = GraftSession.local(2) // getOrCreate: applies confs to shared session
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    Seq((Array(2.0f, 0.0f), Array(3.0f, 1.0f))).toDF("a", "b")
      .createOrReplaceTempView("gs_vecs")
    assert(s.sql("SELECT graft_dot(a, b) AS d FROM gs_vecs")
      .as[Double].head() === 6.0)
  }

  test("tune() stamps the extensions conf for cluster submission") {
    // Builder-level check: the conf map the builder will submit with.
    val b = GraftSession.builder("x")
    // No public accessor for builder options; creating against the shared
    // context and reading back the session conf covers the apply path.
    val s = b.master("local[2]").getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") === "true")
    assert(s.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    assert(s.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      === "true")
  }

  test("defaults pin the codegen cache size and apply through local()") {
    val defaults = GraftSession.defaults
    assert(defaults.map(_._1).distinct.size === defaults.size)
    // Static: fixed when the JVM first compiles a plan, so the shared test
    // session cannot read it back — the settings list is the contract.
    assert(defaults.toMap.get("spark.sql.codegen.cache.maxEntries") === Some("150"))
    assert(org.apache.spark.sql.internal.SQLConf
      .isStaticConfigKey("spark.sql.codegen.cache.maxEntries"))
    val s = GraftSession.local(2)
    for ((k, v) <- defaults
         if !org.apache.spark.sql.internal.SQLConf.isStaticConfigKey(k))
      assert(s.conf.get(k) === v, k)
  }
}
