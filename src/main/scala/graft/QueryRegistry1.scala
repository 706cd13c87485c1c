package graft

import graft.functions.{TextFunctions => T}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mechanical split of the `SparkEntry.queries` registry (chunk 1 of
  * 4) — entries verbatim from the original single map;
  * `SparkEntry` concatenates the chunks, so the contract is unchanged. */
private[graft] trait QueryRegistry1 { this: SparkEntry.type =>

  private[graft] def queriesChunk1: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_topk" -> ((s, d) =>
      Charts.topK(Tables.part(s, d).select("p_partkey", "p_name", "p_retailprice"),
        "p_retailprice", "p_partkey", 20)),

    "q02_topk_per_group" -> ((s, d) =>
      Charts.topKPerGroup(
        Tables.customer(s, d).select("c_mktsegment", "c_custkey", "c_name", "c_acctbal"),
        "c_mktsegment", "c_acctbal", "c_custkey", 5)
        .withColumn("rnk", col("rnk").cast("long"))),

    "q03_feature_stats" -> ((s, d) =>
      Charts.featureStats(Tables.part(s, d), "p_brand", "p_retailprice")),

    "q04_filter_project" -> ((s, d) =>
      Etl.filterProject(Tables.orders(s, d), 150000.0)),

    "q05_enrich_join" -> ((s, d) =>
      Etl.enrichRevenueByBrand(Tables.lineitem(s, d), Tables.part(s, d))),

    "q06_union_history" -> ((s, d) =>
      Etl.unionHistory(Tables.orders(s, d), 730, 365)),

    "q07_latest_snapshot" -> ((s, d) =>
      Charts.latestSnapshot(Tables.events(s, d), "user_id", "ts", "event_id")
        .select("user_id", "event_id", "event_type", "value")),

    "q08_weeks_on_chart" -> ((s, d) =>
      Charts.weeksOnChart(Tables.events(s, d), "user_id", "ts_t", "value", 10)),

    "q09_dedup_keys" -> ((s, d) =>
      Etl.dedupKeys(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"),
        Seq("l_orderkey", "l_partkey"), Seq("l_linenumber", "l_quantity"))),

    "q10_upsert" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val maxd = orders.agg(max(col("o_orderdate")).as("maxd"))
      val withMax = orders.crossJoin(broadcast(maxd))
      def slice(pred: org.apache.spark.sql.Column) = withMax.filter(pred)
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"))
      val target = slice(col("o_orderdate") < expr("maxd - INTERVAL 365 DAYS"))
      val source = slice(col("o_orderdate") >= expr("maxd - INTERVAL 730 DAYS"))
      Etl.upsert(target, source, "o_orderkey")
    }),

    "q11_recent_window" -> ((s, d) =>
      Etl.recentWindowNanos(Tables.events(s, d), "ts", 14)
        .select("event_id", "user_id", "event_type", "value")),

    "q12_weekly_agg" -> ((s, d) =>
      Etl.weeklyAgg(Tables.events(s, d), "ts_t", "event_type", "value")),

    "q13_pricing_summary" -> ((s, d) =>
      Etl.pricingSummary(Tables.lineitem(s, d))),

    "q14_weekly_chart" -> ((s, d) =>
      Charts.weeklyChart(Tables.events(s, d), "user_id", "ts_t", "value", 5)
        .withColumn("rnk", col("rnk").cast("long"))),

    "q15_token_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.wsTokens(col("text")).cast("long").as("ws_tokens"),
        T.wordTokens(col("text")).cast("long").as("word_tokens"))),

    "q16_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("len"),
        T.wordTokens(col("text")).cast("long").as("word_tokens"),
        T.stopwordHits(col("text")).cast("long").as("stop_hits"),
        T.punctHits(col("text")).cast("long").as("punct_hits"),
        T.qualityScore(col("text")).as("quality"))),

    "q17_lang_guess" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"), T.langGuess(col("text")).as("guess"))),

    "q18_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), T.fingerprint(col("text")).as("fp"))),

    "q19_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")),

    // Incremental dedup against a BUCKETED fp store, as an oracle-checked
    // batch query: the "already ingested" third of the corpus
    // (doc_id % 3 == 0) persists its distinct fingerprints bucketed on fp;
    // the remaining docs arrive as a batch, dedup within themselves, and
    // anti-join the store. The store side reads its buckets with NO
    // shuffle (bucket count == shuffle partitions, so the
    // batch side's window exchange serves the join too — PlanAuditSpec
    // asserts the single-Exchange shape); the RESULT is pure relational
    // algebra, so DuckDB replays it exactly.
    "q81_incremental_dedup" -> ((s, d) =>
      Dedup.incrementalExact(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) =!= 0),
        "doc_id", "text", s.table(fpStoreTable(s, d)))
        .select("doc_id", "fp")),

    "q20_ngram_jaccard" -> ((s, d) => jaccardPairs(s, d)),

    // The df-capped exact path — the production skew bound at corpus scale
    // (a boilerplate shingle shared by 1% of 10⁹ docs would alone fan out
    // ~10¹⁴ candidate pairs; the cap bounds every shingle's fan-out at
    // maxDf²). Oracle-EXACT: intersections count only sub-maxDf shingles
    // while set sizes stay uncapped, and the DuckDB oracle replays exactly
    // that (capped intersections, uncapped sizes) — see its HAVING clause.
    // DedupSpec's planted-boilerplate case additionally pins the recall
    // story vs the uncapped q20 path.
    "q64_jaccard_capped" -> ((s, d) =>
      Dedup.jaccardFromStats(
        Dedup.pairShingleStats(Tables.documents(s, d), "doc_id", "text", 3,
          maxDf = Some(50L)),
        minJaccard = 0.2)),

    // Context-window chunking: 64-token windows every 48 tokens — the
    // doc → training-example fan-out step. Bounded generate, no shuffle.
    "q65_chunk_tokens" -> ((s, d) =>
      Corpus.chunkTokens(Tables.documents(s, d), "doc_id", "text",
        chunkSize = 64, stride = 48)),

    // Per-source p75 quality gate — corpus filtering with a per-group
    // quantile threshold (broadcast O(|sources|) table, narrow filter).
    "q66_quality_gate" -> ((s, d) =>
      Corpus.qualityGate(Tables.documents(s, d), "doc_id", "text",
        "source", quantile = 0.75)),

    // Test-set decontamination: planted held-out set = doc_id % 97 == 0;
    // training docs sharing ≥1 3-shingle with it are dropped.
    "q67_decontaminate" -> ((s, d) =>
      Corpus.decontaminate(Tables.documents(s, d), "doc_id", "text",
        isTest = pmod(col("doc_id"), lit(97)) === 0, n = 3)),

    // Embedding-quality screening: per-label centroid outliers (the 3
    // least-cohesive members per label). Fixed-point quantization makes
    // the cosine bit-exact cross-engine — see Similarity.centroidOutliers.
    "q68_label_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", k = 3)),

    // Token-stream sequence packing (capacity 2048, shard = source):
    // doc → (offset, sequence) assignment, exact integer window math.
    "q69_pack_sequences" -> ((s, d) =>
      Corpus.packSequences(Tables.documents(s, d), "doc_id", "text",
        "source", capacity = 2048L)),

    // PQ-compressed ANN with exact re-rank — the third scale path next to
    // LSH buckets (q25) and IVF (q32/q61): approximate scoring reads only
    // the ~8-byte codes, then `refine` candidates re-rank exactly.
    // Rows-only (codebooks are KMeans-dependent); SimilaritySpec holds the
    // brute-force-equality and recall@20 evidence.
    "q70_ann_pq" -> ((s, d) =>
      Similarity.pqTopK(pqIdx(s, d), Tables.embeddings(s, d),
        "vec_id", "embedding", queryId = 0L, k = 20, refine = 100)),

    // Composed IVF-PQ (the FAISS IVFPQ recipe): coarse cells prune the
    // scan, residual PQ codes feed the ADC score, exact cosine re-ranks
    // the refine set. Rows-only contract like q70/q32 (KMeans float fits
    // are engine-specific); SimilaritySpec holds recall vs brute force
    // and the exact-configuration equality.
    "q327_ivfpq_ann" -> ((s, d) =>
      Similarity.ivfPqTopK(ivfPqIdx(s, d), Tables.embeddings(s, d),
        "vec_id", "embedding", queryId = 0L, k = 20, nProbe = 4,
        refine = 100)),

    // Batched IVF-PQ probe: the production retrieval shape (a probe
    // batch against the built-once composed index) — ONE ADC scan of
    // the probed-cell union answers every query, one exact re-rank
    // join finishes. Rows-only like q327 (KMeans float fits);
    // SimilaritySpec pins per-query equality and the full-probe
    // brute-force identity.
    "q351_ivfpq_batch" -> ((s, d) =>
      Similarity.ivfPqTopKBatch(ivfPqIdx(s, d), Tables.embeddings(s, d),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L), k = 10,
        nProbe = 4, refine = 100)),

    // SCD type-2 validity intervals per user over the event-type history —
    // the as-of-queryable form of the reference's snapshot merges.
    "q74_scd2" -> ((s, d) =>
      Etl.scd2(eventsUs(s, d), "user_id", "ts_us", "event_id", "event_type")),

    // Point-in-time lookup against the q74 SCD-2 dimension: each event
    // takes the attribute valid at its timestamp. Because SCD-2 intervals
    // PARTITION time per key, "containing interval" ≡ "last change at or
    // before ts" — so this plans as the AS-OF union+window (ONE shuffle,
    // linear) instead of an events×intervals join whose per-key fan-out
    // grows quadratically with history density. Self-consistency makes
    // the oracle sharp: the attr valid at each event's time is the
    // event's OWN type, so n_matched == n_events.
    "q77_interval_lookup" -> ((s, d) => {
      val e = eventsUs(s, d).select("user_id", "ts_us", "event_id", "event_type")
      val dim = Etl.scd2(e, "user_id", "ts_us", "event_id", "event_type")
        .select(col("user_id"), col("valid_from").as("ts_us"),
          col("event_type").as("dim_type"))
      AsOf.asofJoin(e, dim, "user_id", "ts_us", "dim_type", "dim_at")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === col("dim_at"), 1)).as("n_matched"))
    }),

    // CDC apply with deletes: the pre-cutoff latest state is the target,
    // post-cutoff events are the change stream ('error' = delete, else
    // upsert); the latest op per key wins.
    "q75_cdc_apply" -> ((s, d) => {
      val e = eventsUs(s, d)
        .select("user_id", "ts_us", "event_id", "event_type", "value")
      val cut = e.agg((max("ts_us") - lit(14L * 86400 * 1000000)).as("graft_cut"))
      val ec = e.crossJoin(broadcast(cut))
      val target = Charts.latestSnapshot(
        ec.filter(col("ts_us") < col("graft_cut")), "user_id", "ts_us", "event_id")
        .select("user_id", "value")
      val cdc = ec.filter(col("ts_us") >= col("graft_cut"))
        .withColumn("op", when(col("event_type") === "error", "D").otherwise("U"))
        .select("user_id", "value", "op", "ts_us", "event_id")
      Etl.applyCdc(target, cdc, "user_id", Seq("ts_us", "event_id"), "op")
    }),

    // Upsampling mix: src0-4 ×2.5 expected, src5-9 ×1, rest ×0.5 —
    // repeats are content-deterministic with copy indices.
    "q78_corpus_upsample" -> ((s, d) =>
      Corpus.mixUpsample(Tables.documents(s, d), "doc_id", "text", "source",
        rates = (0 to 4).map(i => s"src$i" -> 2.5).toMap ++
          (5 to 9).map(i => s"src$i" -> 1.0).toMap,
        defaultRate = 0.5)),

    // Deterministic 5-per-source sample — reproducible eval subsets
    // (membership is a pure function of content, not a seed).
    "q76_group_sample" -> ((s, d) =>
      Corpus.sampleKPerGroup(Tables.documents(s, d), "doc_id", "text",
        "source", k = 5)),

    // Deterministic corpus mixing: content-hash sampling with per-source
    // rates (domain reweighting) — full/half/quarter tiers.
    "q72_corpus_mix" -> ((s, d) =>
      Corpus.mixSample(Tables.documents(s, d), "doc_id", "text", "source",
        rates = (0 to 4).map(i => s"src$i" -> 1.0).toMap ++
          (5 to 9).map(i => s"src$i" -> 0.5).toMap,
        defaultRate = 0.25)),

    // Percent-rank / cume-dist normalization within brand — the
    // distribution-free popularity normalization recommenders feed on.
    // Unique ordering (price, id) makes both window functions exact
    // integer ratios → bit-identical cross-engine.
    "q73_rank_normalize" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p_brand").orderBy(col("p_retailprice").asc, col("p_partkey").asc)
      Tables.part(s, d).select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
    }),

    // Custom DataSource V2 connector (sources/RangeSource.scala): the id
    // range predicate narrows the generated window at planning time
    // (pushdown) and only 3 of 4 columns are read (pruning). The
    // deterministic row function lets DuckDB regenerate the identical
    // table with range(). Fixed-point cents keep the sum exact.
    "q71_custom_source" -> ((s, _) =>
      s.read.format("graft.sources.RangeSource")
        .option("rows", "100000").option("users", "50").option("slices", "8")
        .load()
        .filter(col("id") >= 20000 && col("id") < 80000 && col("etype") =!= "error")
        .groupBy("etype")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"),
          countDistinct(col("uid")).as("n_users"))),

    // 16 bands × 2 rows: candidate probability 1-(1-j²)^16 ≈ 0.78 at j=0.3
    // (vs 0.06 for 8×4) — banding tuned to the corpus's jaccard range.
    "q21_minhash_lsh" -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 2, minAgree = 0.2)),

    "q22_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, maxHamming = 16)),

    "q23_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(Tables.embeddings(s, d), "vec_id", "embedding", 0L, 20)),

    "q24_embedding_neardup" -> ((s, d) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", 0.3)),

    // Reciprocal (mutual) kNN pairs: (i,j) kept only when each is in
    // the other's top-5 by rounded cosine — the hub-resistant matching
    // rung (bitext-mining RNN step); exact anchor here, IVF-PQ batch
    // substrate at scale.
    "q353_mutual_knn" -> ((s, d) =>
      Similarity.mutualTopK(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 5)),

    "q29_json_extract" -> ((s, d) => {
      val parsed = sources.Semi.parseJson(Tables.events(s, d), "props", "k INT")
      parsed.select(col("event_type"), sources.Semi.jsonField("props", "k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").cast("long").as("sum_k"),
          round(avg("k"), 2).as("avg_k"),
          count(when(col("k") > 50, 1)).as("n_high"))
    }),

    "q30_entity_compare" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_suppkey").isin(1, 2))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(avg("l_extendedprice"), 2).as("avg_price"),
          round(sum("l_extendedprice"), 2).as("sum_price"))),

    "q31_source_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          T.qualityScore(col("text")).as("q"),
          T.wordTokens(col("text")).cast("long").as("wt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          round(avg("q"), 4).as("avg_quality"),
          round(avg("n_chars"), 2).as("avg_chars"),
          sum("wt").as("sum_tokens"))),

    "q25_ann_buckets" -> ((s, d) =>
      Similarity.annBucketTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, nBits = 4, queryId = 0L, k = 20)),

    "q37_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOf.asofJoin(ev, purchases, "user_id", "ts", "value", "last_purchase")
        .select("event_id", "user_id", "event_type", "value", "last_purchase")
    }),

    "q33_chart_snapshot" -> ((s, d) => {
      // Reference's final merged output (dag.py:137-154): each entity's
      // latest row annotated with its weeks-on-chart streak.
      val ev = Tables.events(s, d)
      val latest = Charts.latestSnapshot(ev, "user_id", "ts", "event_id")
        .select("user_id", "event_id", "event_type", "value")
      val streaks = Charts.weeksOnChart(ev, "user_id", "ts_t", "value", 10)
      latest.join(streaks, Seq("user_id"))
    }),

    "q32_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(ivfIdx(s, d), "vec_id", "embedding",
        queryId = 0L, k = 20, nProbe = 4)),

    // Same index family as q32 but with the adaptive exactness-guaranteed
    // probe — output is provably identical to brute force, so unlike q32
    // (recall-target nProbe) this one hash-matches an exact SQL oracle.
    "q61_ann_ivf_exact" -> ((s, d) =>
      Similarity.ivfTopKExact(ivfIdx(s, d), "vec_id", "embedding",
        queryId = 7L, k = 25)),

    "q26_kmeans_recommend" -> ((s, d) =>
      ml.Recommend.recommendFor(clusteredParts(s, d), "p_partkey", 1L,
        Seq("p_partkey", "p_name", "p_brand"))),

    // Multi-item recommendation — the reference's list-input mode vote
    // (recommendation.py:64-66): modal cluster over the query items, mates
    // minus every input item.
    "q63_recommend_multi" -> ((s, d) =>
      ml.Recommend.recommendForAll(clusteredParts(s, d), "p_partkey",
        Seq(1L, 2L, 3L), Seq("p_partkey", "p_name", "p_brand"))),

    // Composed Model-page surface (app.py:149-175): ONE call returns the
    // chosen item's predicted metric and its recommendations, like
    // `model_prediction` returning (output[0], songs). The RF fit and the
    // KMeans clustering are both memoized substrates shared with q27/q26.
    "q62_predict_recommend" -> ((s, d) => {
      val fit = rfFit(s, d)
      val itemRows = Tables.lineitem(s, d).filter(col("l_partkey") === 1L)
        .select("l_quantity", "l_discount", "l_tax")
      val predicted = ml.Popularity.predict(fit, itemRows)
        .agg(round(avg("prediction"), 2).as("p")).head().getDouble(0)
      ml.Recommend.recommendFor(clusteredParts(s, d), "p_partkey", 1L,
        Seq("p_partkey", "p_name", "p_brand"))
        .withColumn("predicted_price", lit(predicted))
    }),

    "q27_rf_predict" -> ((s, d) =>
      ml.Popularity.metricsDf(s, rfFit(s, d))),

    "q28_feature_importance" -> ((s, d) =>
      ml.Popularity.importancesDf(s, rfFit(s, d))),

    "q35_multimodal_meta" -> ((s, d) => {
      // Binary media pipeline over synthesized payloads: text bytes stand in
      // for encoded media, deliberately exercising the digest fallback of
      // multimodal.Binary.decode (real BMP/PNG header parsing is covered by
      // BinarySpec with crafted container bytes; text payloads can't match
      // the magic numbers, so the nibble oracle below stays exact).
      import s.implicits._
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("video"), lit("audio")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        col("text").cast("binary").as("bytes"),
        col("source")).as[multimodal.Binary.MediaRecord]
      multimodal.Binary.extractMeta(media).toDF()
    }),

    "q36_stateful_streaks" -> ((s, d) => {
      import s.implicits._
      val weekly = Charts.weeklyScores(Tables.events(s, d), "user_id", "ts_t", "value")
        .select(col("user_id").as("entity"), col("weeknum").as("weekNum"),
          col("score"))
        .as[streaming.EventCharts.WeeklyScore]
      streaming.EventCharts.streaks(weekly).toDF()
        .select(col("entity").as("user_id"), col("weekNum").as("weeknum"),
          col("streak").cast("long").as("streak"))
    }),

    "q34_model_compare" -> ((s, d) =>
      ml.Popularity.compareModels(s,
        Tables.lineitem(s, d)
          .filter(pmod(col("l_orderkey"), lit(40)) === 0)
          .select("l_quantity", "l_discount", "l_tax", "l_extendedprice"),
        Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice")),

    // Timestamps for q38-q40 are int64 MICROseconds (`ts div 1000` here,
    // epoch_us(ts) in the oracle): DuckDB truncates the parquet ns
    // timestamps to µs on read, so µs is the finest exactly-shared grain.
    "q38_sessionize" -> ((s, d) =>
      Sessions.sessionize(eventsUs(s, d), "user_id", "ts_us", "event_id",
        gapUs = 30L * 60 * 1000000)),

    "q39_range_pairs" -> ((s, d) =>
      Sessions.rangeJoinPairCounts(eventsUs(s, d), "user_id", "ts_us",
        "event_id", windowUs = 3600000000L)),

    "q40_rolling_avg" -> ((s, d) =>
      Sessions.rollingAvg(eventsUs(s, d), "user_id", "ts_us", "event_id",
        "value", windowUs = 7L * 86400 * 1000000)),

    "q41_rollup" -> ((s, d) =>
      Analytics.rollup2(
        Tables.lineitem(s, d).select("l_returnflag", "l_linestatus", "l_quantity"),
        "l_returnflag", "l_linestatus", "l_quantity")),

    "q79_cube" -> ((s, d) =>
      Analytics.cube2(
        Tables.lineitem(s, d).select("l_returnflag", "l_linestatus", "l_quantity"),
        "l_returnflag", "l_linestatus", "l_quantity")),

    // Explicit grouping sets (Spark 4 native API): just the two
    // one-dimensional margins, no cross combinations.
    "q80_grouping_sets" -> ((s, d) =>
      Analytics.marginals2(
        Tables.lineitem(s, d).select("l_returnflag", "l_linestatus", "l_quantity"),
        "l_returnflag", "l_linestatus", "l_quantity")),

    "q42_pivot_weekly" -> ((s, d) =>
      Analytics.pivotWeekly(Tables.events(s, d),
        date_format(date_trunc("week", col("ts_t")), "yyyy-MM-dd"),
        "event_type", Seq("click", "error", "purchase", "signup", "view"))),

    "q43_hash_split" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), T.hashSplit(col("text")).as("split"))),

    "q44_top_terms" -> ((s, d) =>
      Analytics.topTerms(Tables.documents(s, d), "text", 50)),

    // Vocabulary coverage / OOV rate per source against the global
    // top-200 term vocabulary: token-mass and type coverage in exact
    // ppm — the tokenizer-fit go/no-go for a new source mix.
    "q357_vocab_coverage" -> ((s, d) =>
      Analytics.vocabCoverage(Tables.documents(s, d), "text", "source",
        vocabSize = 200)),

    "q45_pii_scrub" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), T.piiScrub(col("text")).as("scrubbed"),
        T.piiHits(col("text")).cast("long").as("pii_hits"))),

    // connected() returns a materialized artifact (it checkpoints and
    // releases its own loop caches) — the rename is a free projection.
    "q46_dedup_clusters" -> ((s, d) => clusterLabels(s, d)),

    // Canonicalization by QUALITY: within each near-dup cluster keep the
    // best-quality member (rounded score, id tiebreak) — the curation
    // step after clustering ("which copy do we train on?"), composing the
    // memoized cluster substrate with the q16 quality signal. One window
    // shuffle over the O(clustered docs) label table.
    "q100_canonical_quality" -> ((s, d) => {
      val quality = Tables.documents(s, d).select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      val pick = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
        .orderBy(col("quality").desc, col("doc_id").asc)
      clusterLabels(s, d).join(quality, "doc_id")
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .withColumn("graft_rn", row_number().over(pick))
        .filter(col("graft_rn") === 1)
        .select(col("cluster"), col("doc_id").as("canonical_id"),
          col("quality"), col("n_members"))
    }),

    "q47_percentiles" -> ((s, d) =>
      Analytics.quartiles(
        Tables.documents(s, d).select("source", "n_chars"), "source", "n_chars")),

    // Ordered collect: smallest-5 part names per brand as one string —
    // collect_list is unordered by contract, so sort in the expression;
    // slice bounds the per-group state the shuffle carries.
    // Deep dimensional chain: fact ⋈ supplier ⋈ nation ⋈ region — the
    // snowflake path. The three dims are broadcast (each orders of
    // magnitude under the fact), so the fact never shuffles before the
    // final group-key exchange.
    // Inter-event gaps per user (lag over the µs grain): the cadence
    // metric behind churn/engagement features. One shuffle on the user
    // key; integer µs math keeps gaps exact.
    "q59_event_gaps" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      eventsUs(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"))
        .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          max(col("gap")).as("max_gap_us"),
          (sum(col("gap")) / count(lit(1))).as("avg_gap_us"))
    }),

    // Quartile bucketing by ntile over a total order — distribution
    // segmentation (price tiers per brand). ntile's uneven-bucket rule is
    // SQL-standard, so the bucket sizes agree across engines.
    "q60_ntile" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p_brand").orderBy(col("p_retailprice").asc, col("p_partkey").asc)
      Tables.part(s, d).select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("tier", ntile(4).over(w).cast("long"))
        .groupBy("p_brand", "tier")
        .agg(count(lit(1)).as("n"),
          round(min(col("p_retailprice")), 2).as("lo"),
          round(max(col("p_retailprice")), 2).as("hi"))
    }),

    "q58_region_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("rev")), 2).as("revenue"))),

    "q56_group_concat" -> ((s, d) =>
      Tables.part(s, d).select("p_brand", "p_name")
        .groupBy("p_brand")
        .agg(array_join(slice(array_sort(collect_list(col("p_name"))), 1, 5), ",")
          .as("sample_names"),
          count(lit(1)).as("n"))),

    // Cross-modal join: text-side quality vs embedding-side label — the
    // docs and embeddings tables co-key on id, so the join is a plain
    // hash join on the shared key (bucket both sides at scale).
    "q57_crossmodal" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), T.qualityScore(col("text")).as("q"))
        .join(Tables.embeddings(s, d).select(col("vec_id").as("doc_id"), col("label")),
          Seq("doc_id"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(col("q")), 4).as("avg_quality"),
          round(avg(col("n_chars")), 2).as("avg_chars"))),

    "q54_weekly_active" -> ((s, d) =>
      Analytics.weeklyActive(Tables.events(s, d), "ts_t", "user_id")),

    // µs grain (see q38-q40 note): strict ts inequalities must agree with
    // the oracle engine's µs-truncated timestamps.
    "q55_funnel" -> ((s, d) =>
      Analytics.funnel(eventsUs(s, d), "user_id", "ts_us", "event_type",
        "view", "click", "purchase")),

    "q52_tfidf_terms" -> ((s, d) =>
      Analytics.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", 3)),

    "q53_containment" -> ((s, d) =>
      Dedup.containmentFromStats(pairStats(s, d), minContainment = 0.5)),

    "q51_repetition" -> ((s, d) =>
      Analytics.repetitionProfile(Tables.documents(s, d), "doc_id", "text")),

    "q49_histogram" -> ((s, d) =>
      Etl.histogram(Tables.lineitem(s, d).select("l_extendedprice"),
        "l_extendedprice", width = 6000.0, nBuckets = 20)),

    "q50_star_join" -> ((s, d) =>
      Etl.starRevenue(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d))),

    "q48_salted_topk" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_extendedprice"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("row_id"))
      Skew.saltedTopK(li, "l_extendedprice", "row_id", 20, 8)
        .select("row_id", "l_extendedprice")
    }),

    // Engine-portable MinHash+LSH (md5 min-wise hashing): unlike q21's
    // crc32-native sketch, the whole pipeline — signatures, banding,
    // candidates, verification — replays in DuckDB, so the LSH family
    // gets a hash-exact oracle. 8 bands × 2 rows = 16 hashes, est ≥ 0.5.
    "q82_minhash_portable" -> ((s, d) => portableMinhashPairs(s, d)),

    // Engine-portable 32-bit SimHash (md5 nibble votes, bit-string
    // fingerprint): votes, block banding, and hamming verification all
    // replay in DuckDB — the SimHash twin of q82's oracle-exact contract.
    "q83_simhash_portable" -> ((s, d) =>
      Dedup.simhashPairsPortable(Tables.documents(s, d), "doc_id", "text",
        n = 3, maxHamming = 6)),

    // Exact-sum Pearson correlation matrix over the lineitem measures:
    // integer-quantized values, decimal(38,0) sums (order-independent,
    // exact), correlation assembled in double from the exact sums — so
    // the 6-pair matrix is bit-identical across engines.
    "q84_feature_corr" -> ((s, d) =>
      Analytics.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Batched exact ANN: ten query vectors answered in ONE corpus scan
    // (broadcast query set + per-query row_number window) — the realistic
    // many-probes retrieval shape, scored identically to q23.
    "q85_ann_batch" -> ((s, d) =>
      Similarity.cosineTopKBatch(Tables.embeddings(s, d), "vec_id",
        "embedding", queryIds = (0L until 10L), k = 5)),

    // Batched probe against the IVF index: ten queries, one pass over the
    // index, (query, probe-cell) table broadcast onto the cell-pruned
    // scan. Probing every cell (nProbe = nLists) makes it provably equal
    // to the brute-force batch, so it hash-checks like q85 while
    // exercising the index plan; SkewAndIvfSpec pins the nProbe<nLists
    // recall and the one-scan shape.
    "q98_ann_ivf_batch" -> ((s, d) =>
      Similarity.ivfTopKBatch(ivfIdx(s, d), "vec_id", "embedding",
        queryIds = (10L until 20L), k = 5, nProbe = 16)),

    // Robust per-type outliers: |value − median| > 3·MAD with exact
    // percentiles — the monitoring screen whose threshold outliers can't
    // poison. Group stats broadcast; rows never shuffle.
    "q86_mad_outliers" -> ((s, d) =>
      Analytics.madOutliers(Tables.events(s, d), "event_type", "event_id",
        "value", k = 3.0)),

    // First-order Markov transition counts over per-user event streams:
    // one user-key window shuffle, O(|types|²) output.
    "q87_transitions" -> ((s, d) =>
      Sessions.transitionCounts(Tables.events(s, d), "user_id", "ts_t",
        "event_id", "event_type")),

    // Weekly cohort retention grid: cohort = first active ISO week per
    // user, cells count distinct users at each week offset.
    "q88_cohort_retention" -> ((s, d) =>
      Analytics.cohortRetention(Tables.events(s, d), "user_id", "ts_t")),

    // Data-quality audit: null/exact-distinct/min/max per measure in one
    // aggregate pass (the approx HLL++ twin is spec'd for the 100 TB path).
    "q89_profile" -> ((s, d) =>
      Analytics.profileNumeric(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Winsorized per-source doc-length stats: clamp at exact p05/p95 then
    // average — the robust location estimate for feature pipelines.
    "q90_winsorized" -> ((s, d) =>
      Analytics.winsorizedStats(Tables.documents(s, d), "source", "n_chars",
        pLo = 0.05, pHi = 0.95)),

    // Class-balance report with cumulative share (counts first, window
    // only over the O(|labels|) aggregate).
    "q91_label_balance" -> ((s, d) =>
      Analytics.labelBalance(Tables.embeddings(s, d), "label")),

    // Incremental materialized-view refresh as an oracle row: two thirds
    // of events are the "stored" pre-aggregated state, the last third is
    // the arriving batch; merge is O(groups), no history rescan, and the
    // read view equals the full recompute (which is what DuckDB replays).
    "q92_incremental_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        date_format(date_trunc("week", col("ts_t")), "yyyy-MM-dd").as("wk"),
        col("event_type"), col("value"), col("event_id"))
      def state(f: DataFrame) =
        operators.Etl.aggState(f.drop("event_id"), Seq("wk", "event_type"), "value")
      val stored = state(ev.filter(pmod(col("event_id"), lit(3)) =!= 2))
      val batch = state(ev.filter(pmod(col("event_id"), lit(3)) === 2))
      operators.Etl.aggReadView(
        operators.Etl.mergeAggStates(stored, batch, Seq("wk", "event_type")))
        .select(col("wk"), col("event_type"), col("n"),
          round(col("sum_v"), 2).as("sum_v"),
          round(col("min_v"), 4).as("min_v"),
          round(col("max_v"), 4).as("max_v"),
          col("avg_v"))
    }),

    // Retractable incremental refresh: the CDC batch carries DELETES as
    // well as inserts — mergeAggStates would silently corrupt here (min/
    // max can't subtract). retractAggState retracts n/sum algebraically
    // and re-aggregates min/max for ONLY the groups a delete's value
    // could have owned; the oracle is the one-shot recompute over the
    // post-CDC base, which the merged view must equal exactly.
    "q96_retract_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        date_format(date_trunc("week", col("ts_t")), "yyyy-MM-dd").as("wk"),
        col("event_type"), col("value"), col("event_id"))
      val initial = ev.filter(pmod(col("event_id"), lit(3)) =!= 2)
      val cdcIns = ev.filter(pmod(col("event_id"), lit(3)) === 2)
      val cdcDel = initial.filter(pmod(col("event_id"), lit(5)) === 0)
      val baseAfter = ev.filter(!(pmod(col("event_id"), lit(3)) =!= 2 &&
        pmod(col("event_id"), lit(5)) === 0))
      val stored = operators.Etl.aggState(initial.drop("event_id"),
        Seq("wk", "event_type"), "value")
      // avg divides the ROUNDED sum: the retracted sum can differ from
      // the recompute's in the last ulp, and a /n can park the quotient
      // exactly on a .005 boundary — rounding first makes both engines
      // divide the identical double.
      operators.Etl.retractAggState(stored, cdcIns.drop("event_id"),
          cdcDel.drop("event_id"), baseAfter.drop("event_id"),
          Seq("wk", "event_type"), "value")
        .select(col("wk"), col("event_type"), col("n"),
          round(col("sum_v"), 2).as("sum_v"),
          round(col("min_v"), 4).as("min_v"),
          round(col("max_v"), 4).as("max_v"),
          round(round(col("sum_v"), 2) / col("n"), 2).as("avg_v"))
    }),

    // Per-source dedup-rate report — the curation dashboard's first
    // number ("which source is mostly copies?"): one two-phase
    // count(distinct fp) aggregate per source, no pair join anywhere.
    "q101_dedup_rate" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), T.fingerprint(col("text")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          round((count(lit(1)) - countDistinct(col("fp"))).cast("double")
            / count(lit(1)), 4).as("dup_rate"))),

    // Per-dimension embedding profile (64 rows): dead dims, scale drift,
    // variance collapse. Fixed-point quantization makes every stat exact
    // integer math; mean/variance derive bit-identically on both engines.
    "q102_dim_stats" -> ((s, d) =>
      Analytics.dimStats(Tables.embeddings(s, d), "embedding")),

    // Source-vocabulary redundancy matrix (190 pairs at 20 sources): the
    // join is keyed on term over the DEDUPLICATED vocabulary — fan-out
    // bounded by sources², never corpus size.
    // Routed through the exact/sketch dispatch: the 20-source corpus
    // sits below the threshold, so the exact matrix (and its hash) is
    // unchanged; past 64 sources the KMV twin answers instead.
    "q103_source_overlap" -> ((s, d) =>
      Analytics.sourceOverlapAuto(Tables.documents(s, d), "source",
        "text")),

    // "800 tokens from every source" deterministic mixing cap: content-
    // hash pick order, exact long cumsum, one window per source partition.
    "q104_token_budget" -> ((s, d) =>
      Corpus.tokenBudgetCap(Tables.documents(s, d), "doc_id", "text",
        "source", budget = 800L)),

    // Full warehouse-load cycle through the DSv2 WRITE path: decoy load →
    // truncate-overwrite (slice A) → append (slice B) → read back via the
    // manifest → aggregate. The oracle sees none of the sink: it aggregates
    // the A∪B predicate directly, so staged commit + truncate + append +
    // read must ALL be exact for the hashes to meet.
    "q105_warehouse_cycle" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_wh_")
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      // (DSv2 via format().save() admits only append/overwrite modes)
      src.limit(50).write.format(fmt).option("path", dir)
        .mode("append").save() // decoy generation the overwrite must drop
      src.filter(col("o_totalprice") < 100000.0)
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      src.filter(col("o_totalprice") >= 100000.0 &&
          col("o_totalprice") < 150000.0)
        .write.format(fmt).option("path", dir).mode("append").save()
      s.read.format(fmt).option("path", dir).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),

    // "Does this join need salting?" — the pre-shuffle key audit: skew
    // ratio (max / mean rows-per-key) per candidate key, one two-phase
    // aggregate each, nothing key-cardinality-sized on the driver.
    "q106_key_skew" -> ((s, d) =>
      Skew.keySkewReport(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),

    // Vector-corpus hygiene: distribution of embedding norms (zero /
    // degenerate / outlier vectors show up as edge buckets). Quantized
    // components make norm² an exact long; the histogram is one narrow
    // aggregate — no shuffle wider than the bucket count.
    "q107_norm_histogram" -> ((s, d) => {
      val q = transform(col("embedding").cast("array<double>"),
        x => floor(x * 1000 + lit(0.5)).cast("long"))
      val norms = Tables.embeddings(s, d).select(
        aggregate(q, lit(0L), (acc, v) => acc + v * v)
          .cast("double").as("norm2_q"))
      Etl.histogram(norms, "norm2_q", 1e6, 20)
    }),

    // Split-balance audit: per-source train/test shares of the q43
    // deterministic content-hash split — the "is my held-out set
    // represented in every source?" check before training.
    "q108_split_balance" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      Tables.documents(s, d)
        .select(col("source"), T.hashSplit(col("text")).as("split"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"))
        .withColumn("frac",
          round(col("n").cast("double") / sum(col("n")).over(w), 4))
    }),

    // Weekly stickiness (DAU/WAU): Σ active-days / (7·WAU) per ISO week —
    // the habit metric; one distinct + two shrinking aggregates.
    "q109_stickiness" -> ((s, d) =>
      Analytics.stickiness(Tables.events(s, d), "user_id", "ts_t")),

    // Per-source lexical diversity: type/token ratio + hapax fraction —
    // the template-boilerplate / OCR-noise screen over the corpus.
    "q110_lexical_diversity" -> ((s, d) =>
      Analytics.lexicalDiversity(Tables.documents(s, d), "source", "text")),

    // Truncation-duplicate screen: same first-16-token prefix, different
    // doc — one md5 + one aggregate, the cheapest near-dup family member.
    "q111_prefix_dups" -> ((s, d) =>
      Dedup.prefixDuplicates(Tables.documents(s, d), "doc_id", "text", 16)),

    // Activity concentration: share of events from the top 1/5/10% of
    // users — Lorenz audit via count-of-counts, never a user-level sort.
    "q112_user_concentration" -> ((s, d) =>
      Analytics.userConcentration(Tables.events(s, d), "user_id",
        Seq(0.01, 0.05, 0.10))),

    // Event-type co-occurrence lift over distinct (user, type) — the
    // market-basket view; |types|²-bounded fan-out, broadcast totals.
    "q113_cooccur_lift" -> ((s, d) =>
      Analytics.eventCooccurrence(Tables.events(s, d), "user_id",
        "event_type")),

    // Label-centroid separation matrix: exact fixed-point mean centroids,
    // integer-cleared distance numerator, one corpus pass.
    "q114_label_separation" -> ((s, d) =>
      Similarity.labelCentroidDistances(Tables.embeddings(s, d), "label",
        "embedding")),

    // Time-windowed ordered funnel: click after signup, purchase after
    // click, everything within 7 days of the FIRST signup — q55's honest
    // sibling (no credit for a conversion a year later).
    "q115_windowed_funnel" -> ((s, d) =>
      Analytics.windowedFunnel(eventsUs(s, d), "user_id", "ts_us",
        "event_type", Seq("signup", "click", "purchase"),
        windowUs = 7L * 86400 * 1000000)),

    // Top user journeys: most common first-3-event-type session paths;
    // positions come off the one user-keyed window pass, rows beyond
    // position 3 drop before any list is built.
    "q116_session_paths" -> ((s, d) =>
      Sessions.sessionPaths(eventsUs(s, d), "user_id", "ts_us", "event_id",
        "event_type", gapUs = 30L * 60 * 1000000, k = 3, topN = 25)),

    // Daily volume anomalies: per-type day counts z-scored against the
    // trailing 28 observed days (yesterday back) — exact integer window
    // sums, so z replays bit-identically.
    "q117_daily_anomaly" -> ((s, d) =>
      Analytics.dailyAnomalies(Tables.events(s, d), "event_type", "ts_t",
        trailing = 28, minHistory = 7)),

    // LSH banding quality audit: the q82 candidate pipeline (agreement
    // filter off) scored against exact shingle-Jaccard truth at 0.5 —
    // measured precision/recall of 8×2 banding on THIS corpus, the
    // number that sizes a 100 TB dedup run. Reuses the memoized
    // pair-stats substrate for the truth leg.
    "q118_lsh_quality" -> ((s, d) =>
      Dedup.lshQualityAudit(Tables.documents(s, d), "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 2, trueJaccard = 0.5,
        precomputedStats = Some(pairStats(s, d)))),

    // Duplicate-cluster size histogram over the memoized q46 labels:
    // "is duplication a few mega-clusters or a long tail?" — the shape
    // that picks between survivor-ranking strategies.
    "q119_cluster_sizes" -> ((s, d) =>
      clusterLabels(s, d)
        .groupBy("cluster").agg(count(lit(1)).as("graft_sz"))
        .groupBy(col("graft_sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("graft_sz")).as("n_docs"))),

    // Length-bucketed batch packing report: rank within ⌊tokens/32⌋
    // buckets, chop into 16-doc batches, report per-batch padding waste —
    // the bucketed-batching audit; the window key is the bounded bucket,
    // never a global order.
    "q99_length_batches" -> ((s, d) =>
      Corpus.lengthBatches(Tables.documents(s, d), "doc_id", "text",
        binTokens = 32, batchSize = 16)),

    // Bloom-sidecar point lookup as a driver row: the probe consults the
    // O(nFiles) sidecar, reads ONLY candidate files, and re-applies the
    // exact predicate — the oracle is the plain filter, because blooms
    // change which FILES are read, never which ROWS come back.
    "q97_bloom_lookup" -> ((s, d) => {
      val (store, side) = bloomStorePaths(s, d)
      sources.BloomIndex.lookup(s, store, side, "doc_id", "7")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Weekly churn — q88's complement: users active in week w with no
    // activity in week w+1, via a left-anti join between the weekly
    // distinct-user sets (user-set-sized, never event-sized). The final
    // calendar week trivially "churns" (no successor week exists) —
    // included deliberately so the row is a closed-form replay.
    "q94_weekly_churn" -> ((s, d) => {
      val wu = Tables.events(s, d).select(
        date_trunc("week", col("ts_t")).cast("date").as("wk"),
        col("user_id")).distinct()
      val nxt = wu.select(col("wk").as("wk2"), col("user_id").as("uid2"))
      wu.join(nxt, wu("user_id") === nxt("uid2") &&
          date_add(wu("wk"), 7) === nxt("wk2"), "left_anti")
        .groupBy(date_format(col("wk"), "yyyy-MM-dd").as("wk"))
        .agg(countDistinct(col("user_id")).as("churned"))
    }),

    // Rolling 7-day active users per observed day: bounded ×7 explode +
    // observed-day semi-join + one distinct-count — never a range
    // self-join (quadratic in the window) and never a window frame
    // (count distinct has none).
    "q95_rolling_active" -> ((s, d) =>
      Analytics.rollingActiveUsers(Tables.events(s, d), "user_id", "ts_t", 7)),

    // The salted skewed join in the driver contract: semantics are
    // EXACTLY the plain join's (which is what DuckDB replays) while the
    // physical join keys on (suppkey, salt) — the manual skew spread for
    // plans AQE can't rewrite. Dim side: supplier ⋈ nation, broadcast.
    "q93_salted_join" -> ((s, d) => {
      val fact = Tables.lineitem(s, d).select(col("l_suppkey"),
        col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val dim = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("l_suppkey"), col("n_name"))
      operators.Skew.saltedJoin(fact, dim, "l_suppkey", "l_orderkey", 8)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), round(sum(col("rev")), 2).as("revenue"))
    }),

    // Tuned gradient-boosted trees — the notebook's searched-XGBoost
    // analog (learning rate × depth × rounds over a train/validation
    // screen). Rows-only: a distributed GBT fit has no SQL oracle; the
    // holdout metrics row is the driver surface.
    "q120_tuned_gbt" -> ((s, d) =>
      ml.Popularity.tunedGbt(s,
        Tables.lineitem(s, d)
          .filter(pmod(col("l_orderkey"), lit(80)) === 0)
          .select("l_quantity", "l_discount", "l_tax", "l_extendedprice"),
        Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice")._2),

    // Snapshot reconciliation: current orders vs a deterministically
    // perturbed next load (deletes at %13, price bumps at %7, inserts at
    // %11 under shifted keys) — the pre-cutover diff report, ONE
    // full-outer join reduced to status cardinality.
    "q121_reconcile" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val l = o.select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val r = o.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0,
            round(col("o_totalprice") * 1.1, 2))
            .otherwise(col("o_totalprice")).as("p"))
        .unionByName(o.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 10000000L).as("k"),
            col("o_totalprice").as("p")))
      Etl.reconcile(l, r, Seq("k"), Seq("p"))
    }),

    // Feature-drift screen between the low- and high-quantity halves of
    // lineitem over revenue: per-bin populations plus the exact-integer
    // cumulative L1 distance (the engine-portable PSI stand-in).
    "q122_feature_drift" -> ((s, d) =>
      Analytics.featureDrift(Tables.lineitem(s, d), "l_extendedprice",
        col("l_quantity") <= 25, col("l_quantity") > 25,
        lo = 0.0, hi = 110000.0, bins = 22)),

    // All-dtype schema-health audit: null/distinct/constant per column in
    // ONE Expand-planned aggregate pass over orders.
    "q123_column_hygiene" -> ((s, d) =>
      Analytics.columnHygiene(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"))),

    // Zone-map range scan: range-clustered store + per-file min/max
    // sidecar; the probe reads only files whose interval intersects the
    // range, then re-applies the exact predicate — so the oracle is the
    // plain filter (zone maps change which FILES are read, never which
    // rows come back). ZoneMapIndexSpec holds the ≤2-of-16 pruning bar.
    "q124_zonemap_scan" -> ((s, d) => {
      val (store, side) = zoneStorePaths(s, d)
      sources.ZoneMapIndex.rangeScan(s, store, side, "n_chars",
        lit(200L), lit(400L))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Warehouse time travel, end-to-end: generation 0 (overwrite) is read
    // back AS OF its version AFTER a later append changed the live table —
    // the oracle sees only the sink-free predicate of generation 0, so
    // manifest retention + versioned file listing must both be exact.
    "q125_time_travel" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_tt_")
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      src.filter(col("o_totalprice") < 100000.0)
        .write.format(fmt).option("path", dir).mode("overwrite").save() // v0
      src.filter(col("o_totalprice") >= 100000.0)
        .write.format(fmt).option("path", dir).mode("append").save() // v1
      s.read.format(fmt).option("path", dir)
        .option("versionAsOf", "0").load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),

    // Corpus-frequency boilerplate strip — the line/paragraph-dedup step
    // of web-corpus pipelines on 3-token segments: a segment shared by
    // more than 2 documents is chrome, not content.
    "q126_boilerplate_strip" -> ((s, d) =>
      Corpus.boilerplateStrip(Tables.documents(s, d), "doc_id", "text",
        segTokens = 3, maxDf = 2)),

    "q127_lang_fertility" -> ((s, d) =>
      Corpus.langFertility(Tables.documents(s, d), "text", "lang")),

    // Train/test contamination audit: embedding near-dup pairs (q24
    // semantics) whose members land on OPPOSITE sides of the q43 hash
    // split — each such pair leaks evaluation signal into training.
    "q128_split_leakage" -> ((s, d) => {
      val pairs = Dedup.embeddingNearDup(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", 0.3)
      val splits = Tables.documents(s, d)
        .select(col("doc_id"), T.hashSplit(col("text")).as("split"))
      pairs
        .join(splits.select(col("doc_id").as("id1"),
          col("split").as("split1")), "id1")
        .join(splits.select(col("doc_id").as("id2"),
          col("split").as("split2")), "id2")
        .filter(col("split1") =!= col("split2"))
        .select("id1", "id2", "cos", "split1", "split2")
    }),

    // Engine-portable Lloyd clustering (quantized integer grid, k lowest
    // ids as seeds, floor-divided centroid updates) — the hash-checkable
    // twin of the seeded MLlib KMeans path, the same promotion q82/q83
    // made for the MinHash/SimHash sketches.
    "q129_kmeans_portable" -> ((s, d) =>
      ml.KMeansLite.fit(Tables.part(s, d), "p_partkey",
        floor(col("p_retailprice") * 100 + 0.5), col("p_size") * 10000,
        k = 4, iters = 3)),

    // Declarative expectation suite over the fact tables: publish-gate
    // checks with planted-threshold rules that actually fire (price cap,
    // discount cap, status subset) alongside the structural ones that
    // must hold (keys unique, FKs resolve, priority format).
    "q130_expectations" -> ((s, d) => {
      import Expectations._
      val orders = Tables.orders(s, d)
      val ordersReport = Expectations.check(orders, Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        Matches("o_orderpriority", "^[1-5]-"),
        OneOf("o_orderstatus", Seq("O", "F")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", Tables.customer(s, d), "c_custkey",
          "customer")))
      val lineitemReport = Expectations.check(Tables.lineitem(s, d), Seq(
        InRange("l_discount", 0.0, 0.05),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("l_orderkey", orders, "o_orderkey", "orders")))
      ordersReport.unionByName(lineitemReport)
    }),

    // Engine-portable PageRank over the supplier↔part bipartite graph
    // (distinct lineitem edges, symmetrized; parts offset to their own id
    // space). Integer micro-unit ranks → the unrolled SQL oracle replays
    // every iteration bit-for-bit.
    "q131_pagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_suppkey").as("sk"),
        (col("l_partkey") + lit(10000000L)).cast("long").as("pk"))
      // Both edge directions from ONE scan (explode of a 2-struct array)
      // — the union form scanned the input twice (guide §2.4).
      val edges = li.select(explode(array(
          struct(col("sk").as("src"), col("pk").as("dst")),
          struct(col("pk").as("src"), col("sk").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.pagerankPortable(edges, "src", "dst", iters = 3, topK = 20)
    }),

    // BM25 ranked retrieval (rational idf, micro-unit fixed point) for a
    // three-term query over the corpus.
    "q132_bm25" -> ((s, d) =>
      Search.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("join", "vector", "slow"), topK = 20)),

    // SQ8 scalar quantization: per-dim [min,max] → 8-bit codes. The CSV
    // form hash-checks the exact codes of the first 20 vectors.
    "q133_sq8_codes" -> ((s, d) =>
      Quantize.sq8Encode(Tables.embeddings(s, d), "vec_id", "embedding")
        .filter(col("vec_id") < 20)
        .select("vec_id", "codes_csv")),

    // ANN over the SQ8 codes: quantized dot product is pure integer
    // arithmetic, so the whole search is hash-exact — no float caveats.
    "q134_sq8_ann" -> ((s, d) =>
      Quantize.sq8TopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 20)),

    // Impact-ordered inverted index: top-30 terms by df, each with its
    // top-5 postings (tf desc) as a doc:tf string.
    "q135_inverted_index" -> ((s, d) =>
      Search.invertedIndex(Tables.documents(s, d), "doc_id", "text",
        maxPostings = 5, topTerms = 30)),

    // The dead-letter side of the q130 gate: rows failing a row-local
    // rule, each labeled with what it violated.
    "q136_quarantine" -> ((s, d) => {
      import Expectations._
      Expectations.quarantine(Tables.orders(s, d), Seq(
        InRange("o_totalprice", 0.0, 400000.0),
        OneOf("o_orderstatus", Seq("O", "F"))))
        .select("o_orderkey", "violated")
    }),

    // Deterministic A/B readout: view-exposed users hash-split into arms,
    // conversion = a purchase over 50; all rates in integer ppm.
    "q137_ab_lift" -> ((s, d) =>
      Experiment.abLift(Tables.events(s, d), "user_id", "event_type",
        "value", exposureType = "view", conversionType = "purchase",
        minValue = 50.0)),

    // Trending: rational recency decay (10⁶ div (1+age_days)) — integer
    // arithmetic end to end, snapshot-deterministic reference time.
    "q138_trending" -> ((s, d) =>
      Analytics.decayedEngagement(eventsUs(s, d), "event_type", "ts_us")),

    // The end-to-end corpus build, composed from the pipeline's own
    // stages: quality threshold → exact-dedup survivor → decontaminate
    // against the held-out set → per-source token budget → final mix
    // report. Every stage is an already-oracle-proven operator; the
    // composition is the "switch your curation pipeline to this library"
    // demonstration, hash-checked end to end.
    "q140_corpus_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isTest = col("doc_id") % 97 === 0
      val train = docs.filter(!isTest)
        .filter(T.qualityScore(col("text")) >= 0.5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("graft_fp").orderBy(col("doc_id").asc)
      val surv = train
        .withColumn("graft_fp", T.fingerprint(col("text")))
        .withColumn("graft_rk", row_number().over(w))
        .filter(col("graft_rk") === 1)
        .drop("graft_fp", "graft_rk")
      // Only surv docs' contamination status can affect the result, so the
      // train side of the check is restricted to surv — quality-rejected and
      // dedup-dropped docs are never shingled. The test side still needs the
      // FULL held-out split, hence the union rather than a plain filter.
      val keep = Corpus.decontaminate(
        docs.filter(isTest).unionByName(surv), "doc_id", "text", isTest, 3)
      val clean = surv.join(keep, Seq("doc_id"), "left_semi")
      Corpus.tokenBudgetCap(clean, "doc_id", "text", "source", 800L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("tot_tokens"))
    }),
  )
}
