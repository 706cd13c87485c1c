package graft

import graft.functions.{TextFunctions => T}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mechanical split of the `SparkEntry.queries` registry (chunk 2 of
  * 4) — entries verbatim from the original single map;
  * `SparkEntry` concatenates the chunks, so the contract is unchanged. */
private[graft] trait QueryRegistry2 { this: SparkEntry.type =>

  private[graft] def queriesChunk2: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Change data feed between warehouse generations: gen 0 = the full
    // snapshot; gen 1 = an overwrite that drops the >450k tail and
    // rewrites sub-50k statuses. The version-to-version reconcile is the
    // Delta CHANGES readout on the manifest history.
    "q139_table_changes" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_cdf_")
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      src.write.format(fmt).option("path", dir).mode("overwrite").save()
      src.filter(col("o_totalprice") <= 450000.0)
        .withColumn("o_orderstatus",
          when(col("o_totalprice") < 50000.0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      val v0 = s.read.format(fmt).option("path", dir)
        .option("versionAsOf", "0").load()
      val v1 = s.read.format(fmt).option("path", dir)
        .option("versionAsOf", "1").load()
      Etl.reconcile(v0, v1, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
    }),

    // SemDeDup-style semantic dedup: sign-bit coarse cells over the
    // embedding space, greedy lowest-id-wins inside each cell at
    // cos ≥ 0.35. Per-cell survivor counts, oracle-replayed exactly.
    "q141_semantic_dedup" -> ((s, d) =>
      Dedup.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        signBits = 4, minCos = 0.35)),

    // Passage-level duplication: 8-token windows at stride 4, md5 window
    // hashes; per-doc count of windows shared with ANOTHER doc.
    "q142_passage_dedup" -> ((s, d) =>
      Dedup.passageDuplication(Tables.documents(s, d), "doc_id", "text",
        w = 8, stride = 4)),

    // k-anonymity audit on customer quasi-identifiers (nation, market
    // segment, account-balance band): groups under k=3 are
    // re-identification risks.
    "q143_k_anonymity" -> ((s, d) =>
      Analytics.kAnonymityRisk(Tables.customer(s, d),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal / 2000) AS BIGINT)")),
        Seq("nation", "segment", "balance_band"), k = 3L)),

    // Corpus-trained character-bigram fluency score (the perplexity-filter
    // analog) in integer parts-per-million; 20 least fluent docs.
    "q144_fluency" -> ((s, d) =>
      Corpus.fluencyScore(Tables.documents(s, d), "doc_id", "text",
        bottomK = 20)),

    // Tokenizer-vocabulary induction: the first 4 BPE merges learned from
    // the corpus word-frequency table (one corpus scan, then vocab-sized
    // iterations); oracle = the 4 merge rounds unrolled as SQL CTEs.
    "q145_bpe_merges" -> ((s, d) => bpeMergeTable(s, d)),

    // Apply the corpus-learned merges back per source: token-count
    // compression readout (chars baseline vs BPE'd), integer ppm savings.
    // The learning pass is the memoized q145 substrate — computed once.
    "q146_bpe_encode" -> ((s, d) =>
      Vocab.bpeEncode(Tables.documents(s, d), "text", "source", merges = 4,
        precomputed = Some(bpeMergeTable(s, d)))),

    // Per-source data card — the model-card readout (docs, tokens, mean
    // quality in basis points, exact-dup ppm, language count) composed
    // from already-proven per-doc metrics, all integer-exact aggregation.
    // Paged-external-source ingest (sources/PagedSource.scala): the
    // reference DAG's REST extract loop as a DSv2 connector. The
    // documents table is serialized into a paged JSONL endpoint (page =
    // doc_id div 100 — dense ids make pages contiguous, the protocol's
    // contract), read back through planning-time page slicing with
    // per-partition fetch, and rolled up; the oracle replays the rollup
    // straight off the parquet — the connector round-trip is the fact
    // under test.
    "q153_paged_source" -> ((s, d) => {
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q153_" + (d.hashCode.toLong & 0xffffffffL)).getAbsolutePath
      sources.PagedEndpoint.writeFixture(
        Tables.documents(s, d).select(
          to_json(struct(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))).as("value"),
          (col("doc_id") / lit(100)).cast("int").as("page")),
        dir)
      s.read.format("graft.sources.PagedSource")
        .option("dir", dir).option("slices", "8")
        .option("schema", "doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .load()
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          max("doc_id").as("max_doc_id"))
    }),

    // Audio-metadata extraction over REAL WAV containers: each doc gets a
    // synthesized RIFF/WAVE payload whose fmt/data fields are pure
    // functions of doc_id, the partition-wise decoder parses them back,
    // and the oracle recomputes every field arithmetically — so the hash
    // match verifies parse(synth(p)) == p end-to-end through the typed
    // binary-column path (digest dropped: the oracle can't md5 bytes it
    // never builds). Synthesis and decode are both map-only sweeps.
    "q155_audio_meta" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, src) =>
          multimodal.Binary.MediaRecord(id, "audio",
            multimodal.Binary.synthWav(
              sampleRate = (8000 * (1 + id % 3)).toInt,
              channels = (1 + id % 2).toInt,
              bitsPerSample = (8 * (1 + id % 2)).toInt,
              nSamples = 200 + id % 100), src)
        }
      multimodal.Binary.extractAudioMeta(media).toDF()
        .select("media_id", "size_bytes", "sample_rate", "channels",
          "bits_per_sample", "n_samples", "duration_ms")
    }),

    // Video twin of q155: ISO BMFF containers synthesized from
    // doc_id-derived parameters (timescale 600, the QuickTime default),
    // decoded by the real box walk, fields re-derived arithmetically by
    // the oracle — parse(synth(p)) == p for the video path.
    "q156_video_meta" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, src) =>
          multimodal.Binary.MediaRecord(id, "video",
            multimodal.Binary.synthMp4(
              width = (160 * (1 + id % 8)).toInt,
              height = (120 * (1 + id % 6)).toInt,
              durationUnits = 600 + id % 1000), src)
        }
      multimodal.Binary.extractVideoMeta(media).toDF()
        .select("media_id", "width", "height", "duration_ms")
    }),

    // File-skipping probe through the warehouse scan: orders land in 8
    // disjoint o_orderkey-range files (each with its stats sidecar), and
    // the range probe reads back through the stats-pruned DSv2 scan — the
    // oracle replays the same predicate on the parquet directly, so the
    // hash proves skipping loses no rows (the partition-count assertions
    // live in WarehouseSinkSpec; this is the completeness contract).
    // Money sums in floor'd integer cents: Spark's double→long cast
    // truncates where DuckDB's rounds, so the floor is explicit.
    "q158_warehouse_skip" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_whskip_")
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      s.read.format(fmt).option("path", dir).load()
        .filter(col("o_orderkey") >= 1000L && col("o_orderkey") < 3000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // Metadata-only table probe: unfiltered COUNT(*)/MIN/MAX answered
    // entirely from the manifest's per-file stats sidecars — the scan
    // plans ONE synthetic partition and never opens a data file (the
    // Delta/Iceberg "O(metadata) sanity probe"; on a 100 TB table this is
    // the difference between milliseconds and a full scan). The spec
    // proves the no-data-read claim by deleting a data file and
    // aggregating anyway; here the oracle proves exactness against the
    // raw source the warehouse was loaded from.
    "q159_metadata_agg" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_whagg_")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_quantity").cast("double").as("qty"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
        .repartition(8)
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      s.read.format(fmt).option("path", dir).load()
        .agg(count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
          min("qty").as("min_qty"), max("qty").as("max_qty"),
          min("ship").as("min_ship"), max("ship").as("max_ship"))
    }),

    // Deterministic epoch-shard balance: the seeded hash-bucket shard
    // assignment a trainer shuffles by, audited for evenness (a skewed
    // shard is a straggler for the whole training step). Pure function
    // of (seed, doc_id) — survives repartitioning and engine swaps.
    "q160_epoch_shards" -> ((s, d) =>
      Corpus.epochShardReport(Tables.documents(s, d), "doc_id", "text",
        seed = 7L, nShards = 8)),

    // C4-style per-source frequency cap: at most 40 docs per source,
    // chosen by seeded-hash rank (WindowGroupLimit bounds every
    // partition's contribution BEFORE the shuffle).
    "q161_source_cap" -> ((s, d) =>
      Corpus.sourceCapSurvivors(Tables.documents(s, d), "doc_id", "source",
        seed = 7L, cap = 40)),

    // Corpus release manifest: per (source, split) counts + exact
    // order-independent 48-bit XOR content checksum any engine replays.
    "q162_release_manifest" -> ((s, d) =>
      Corpus.releaseManifest(Tables.documents(s, d), "text", "source")),

    // Lossless-audio edition of q155: FLAC STREAMINFO containers
    // synthesized from doc_id-derived parameters, decoded by the real
    // bit-field parse, every field re-derived arithmetically by the
    // oracle — parse(synth(p)) == p through the typed partition sweep.
    "q166_flac_meta" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, src) =>
          multimodal.Binary.MediaRecord(id, "audio",
            multimodal.Binary.synthFlac(
              sampleRate = (8000 * (1 + id % 4)).toInt,
              channels = (1 + id % 2).toInt,
              bitsPerSample = (8 + (id % 3) * 4).toInt,
              nSamples = 300 + id % 200), src)
        }
      multimodal.Binary.extractAudioMeta(media).toDF()
        .select("media_id", "size_bytes", "sample_rate", "channels",
          "bits_per_sample", "n_samples", "duration_ms")
    }),

    // Copy-on-write DELETE through the warehouse manifest: candidate
    // files chosen by the SAME stats algebra the skip path tests, so a
    // narrow delete rewrites the overlapping range files and carries
    // every other file by name; readback proves row-exact semantics.
    "q165_warehouse_delete" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_whdel_")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      graft.sources.WarehouseSink.deleteWhere(s, dir,
        Seq(GreaterThanOrEqual("o_orderkey", 2000L),
          LessThan("o_orderkey", 4000L)))
      s.read.format(fmt).option("path", dir).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // Heaps-law vocabulary growth at geometric corpus prefixes: ONE
    // corpus scan (a term's contribution to every prefix is fixed by its
    // first appearance), vs the naive rescan-per-checkpoint. The
    // sub-linear curve is the "diverse or recycled?" probe run before
    // committing a training run to a corpus.
    "q163_vocab_growth" -> ((s, d) =>
      Analytics.vocabGrowth(Tables.documents(s, d), "doc_id", "text",
        checkpoints = Seq(50L, 500L, 5000L, 50000L, 500000L))),

    // CCNet-style model-based quality filter: hashed bag-of-words
    // logistic regression bootstrapped from weak labels at the corpus
    // MEDIAN of the heuristic score (balanced classes by construction —
    // a fixed threshold would drift degenerate across scale factors).
    // The median is ONE driver double; everything else distributes.
    // Model-dependent probabilities → rows-only; the planted-
    // separability spec carries the correctness claim.
    "q164_quality_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val med = docs.select(T.qualityScore(col("text")).as("graft_q"))
        .agg(expr("percentile(graft_q, 0.5)")).collect()(0).getDouble(0)
      ml.QualityClassifier.weakLabelPipeline(docs, "doc_id", "text",
        labelOf = T.qualityScore(col("text")) > med, dim = 1024)
    }),

    // Temperature-weighted (α = 0.5) source allocation over a 1M-token
    // budget: the training-mix smoothing readout, floor'd fixed-point
    // weights so the hash check is engine-exact.
    "q157_temperature_mix" -> ((s, d) =>
      Corpus.temperatureMix(Tables.documents(s, d), "text", "source",
        budgetTokens = 1000000L, alpha = 0.5)),

    "q152_data_card" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"),
          T.wordTokens(col("text")).cast("long").as("graft_t"),
          floor(T.qualityScore(col("text")) * 10000 + 0.5).cast("long")
            .as("graft_q"),
          T.fingerprint(col("text")).as("graft_fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("graft_t").as("n_tokens"),
          expr("sum(graft_q) div count(1)").as("mean_quality_bp"),
          count_distinct(col("graft_fp")).as("graft_u"),
          count_distinct(col("lang")).as("n_langs"))
        .withColumn("dup_ppm",
          expr("(n_docs - graft_u) * 1000000 div n_docs"))
        .drop("graft_u")),

    // Three-way weighted content-hash split (80/10/10): the 16-bit hex
    // bucket compared against literal bounds — reproducible across
    // engines, runs, and repartitioning; per-source counts readout.
    "q151_hash_split3" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          T.hashSplit3(col("text"), trainPct = 80, valPct = 10).as("split"))
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))),

    // JSONL corpus ingestion with corrupt-line quarantine: documents
    // round-trip through the one-doc-per-line dump format with every
    // 97th line deterministically truncated mid-object; the PERMISSIVE
    // read routes those to _corrupt_record and the readout rolls up
    // clean counts per source plus the quarantined line count.
    "q150_jsonl_quarantine" -> ((s, d) => {
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q150_" + (d.hashCode.toLong & 0xffffffffL)).getAbsolutePath
      val lines = Tables.documents(s, d).select(
        when(pmod(col("doc_id"), lit(97)) === 0,
          concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
            lit(",\"source\":\""), col("source"), lit("\",\"text\":")))
          .otherwise(to_json(struct(col("doc_id"), col("source"),
            col("text")))).as("value"))
      lines.coalesce(4).write.mode("overwrite").text(dir)
      sources.Semi.readJsonlQuarantine(s, dir,
          "doc_id LONG, source STRING, text STRING")
        .groupBy(when(col("graft_status") === "corrupt", lit("_corrupt"))
          .otherwise(col("source")).as("source"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("graft_status") === "ok",
            length(col("text"))).otherwise(0L)).as("clean_chars"))
    }),

    // The reference DAG's transform cadence end to end (dag.py's
    // extract→align→concat→dedup→chart chain, q140's discipline for the
    // music-ETL side): history store + a re-fetched "API batch" whose
    // window OVERLAPS the store by 7 days (renamed fields, aligned back),
    // concatenated, overlap collapsed by keyed dedup, and the weeks-on-
    // chart leaderboard read off the merged store — hash-checked end to
    // end. Every stage is an already-proven primitive; the only new facts
    // are the handoffs.
    "q149_etl_pipeline" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dayNs = 86400L * 1000000000L
      val m = ev.agg(max(col("ts")).as("graft_mt"))
      val wide = ev.crossJoin(broadcast(m))
      val hist = wide.filter(col("ts") <= col("graft_mt") - lit(7L * dayNs))
      val batch = wide.filter(col("ts") > col("graft_mt") - lit(14L * dayNs))
      // the "API" ships its own field names; align back to the warehouse
      // schema (dag.py's rename/align step) before the concat
      val api = batch.select(col("event_id").as("id"),
        col("user_id").as("entity"), col("ts").as("captured_at"),
        col("ts_t").as("captured_t"), col("value").as("score"))
      val aligned = api.select(col("id").as("event_id"),
        col("entity").as("user_id"), col("captured_at").as("ts"),
        col("captured_t").as("ts_t"), col("score").as("value"))
      val cols = Seq("event_id", "user_id", "ts", "ts_t", "value")
      val merged = hist.select(cols.map(col): _*).unionByName(aligned)
      val store = Etl.dedupKeys(merged, Seq("event_id"), Seq("ts"))
      Charts.weeksOnChart(store, "user_id", "ts_t", "value", 10)
    }),

    // Hard-negative mining: per anchor, the 2 most similar DIFFERENT-label
    // vectors from its coarse cell — contrastive-training pair selection,
    // deterministic (6-dp cosine, id tiebreak).
    "q148_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", signBits = 4, k = 2)),

    // Incremental MinHash near-dup: the batch (docs with id % 3 != 0)
    // probes the ingested third's PERSISTED bucketed band store, verified
    // against its persisted signatures — q81's incremental shape for the
    // LSH family, oracle-replayed end to end.
    "q147_incremental_minhash" -> ((s, d) => {
      val (bandTbl, sigTbl) = lshStoreTables(s, d)
      Dedup.incrementalMinhash(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) =!= 0),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 2,
        minAgree = 0.5, s.table(bandTbl), s.table(sigTbl))
    }),

    // Incremental SEMANTIC near-dup: the batch (vectors with id % 3 != 0)
    // probes the ingested third's PERSISTED bucketed sign-cell store —
    // q147's split-candidate shape over q141's cosine semantics.
    "q154_incremental_semantic" -> ((s, d) =>
      Dedup.incrementalSemantic(
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(3)) =!= 0),
        "vec_id", "embedding", signBits = 4, minCos = 0.35,
        s.table(semanticStoreTable(s, d)))),

    // Exact ROC-AUC of the heuristic quality score against a
    // length-based label (Mann-Whitney midrank formulation, integer
    // end-to-end): the offline-eval readout that decides whether a
    // cheap scorer is worth gating a 100 TB corpus on. Score quantized
    // to 1e4; the rank window runs over the ≤10⁴-row per-score table,
    // never the corpus.
    "q167_roc_auc" -> ((s, d) =>
      ml.Eval.rocAuc(scoredDocs(s, d), "score_q", "label")),

    // Exact average precision (PR-AUC step area) with BOTH
    // deterministic tie bounds — the class-imbalance ranking readout
    // next to q167's ROC-AUC. Scored as "does the quality score
    // retrieve English?" — a genuinely partial separation (stopword
    // ratios favor English), so the tie bounds do real work.
    "q366_avg_precision" -> ((s, d) =>
      ml.Eval.averagePrecision(
        Tables.documents(s, d).select(
          greatest(least(floor(T.qualityScore(col("text")) * 10000 + 0.5),
            lit(10000L)), lit(0L)).cast("long").as("score_q"),
          (col("lang") === "en").cast("long").as("label")),
        "score_q", "label")),

    // Reliability table for the same scorer: 10 equal-width score bins,
    // exact mean score vs empirical positive rate (both floor-ppm) — the
    // calibration readout next to q167's ranking readout.
    "q168_calibration" -> ((s, d) =>
      ml.Eval.calibration(scoredDocs(s, d), "score_q", "label",
        bins = 10, scale = 10000L)),

    // Precision/recall/F1 sweep across 9 quality thresholds: confusion
    // counts exact, rates floor-ppm, F1 from the ppm pair — the
    // threshold-picking table for the corpus quality gate.
    "q169_threshold_sweep" -> ((s, d) =>
      ml.Eval.thresholdSweep(scoredDocs(s, d), "score_q", "label",
        thresholds = (1000L to 9000L by 1000L))),

    // CUPED variance-reduced A/B readout: purchase value split at the
    // month midpoint into pre-period covariate and post-period outcome,
    // pooled θ from exact decimal sums, adjusted per-arm means in
    // floor-ppm of centi-units — deterministic arm assignment like q137.
    "q170_cuped" -> ((s, d) =>
      Experiment.cuped(eventsUs(s, d), "user_id", "event_type", "value",
        "ts_us", metricType = "purchase",
        cutTsUs = java.time.LocalDate.of(2024, 1, 16)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L)),

    // Copy-on-write MERGE through the warehouse manifest: a key-local
    // update batch (every 10th order repriced) plus disjoint inserts;
    // the updates' key bounding box prunes candidate files, matched old
    // versions drop via anti-join, ONE generation publishes. Readback
    // proves row-exact upsert semantics against the relational recompute.
    "q171_warehouse_merge" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_whmrg_")
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      base.repartitionByRange(8, col("o_orderkey"))
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(base.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), lit(50.25).as("o_totalprice")))
      graft.sources.WarehouseSink.merge(s, dir, updates, Seq("o_orderkey"))
      s.read.format(fmt).option("path", dir).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // Copy-on-write UPDATE WHERE SET: a key-range reprice rewrites only
    // the stats-overlapping files (assignments see pre-update values,
    // NULL predicates leave rows untouched); readback vs the CASE
    // recompute proves row-exact in-place semantics.
    "q172_warehouse_update" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_whupd_")
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .repartitionByRange(8, col("p_partkey"))
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      graft.sources.WarehouseSink.updateWhere(s, dir,
        Seq(GreaterThanOrEqual("p_partkey", 500L), LessThan("p_partkey", 1500L)),
        Map("p_retailprice" -> (col("p_retailprice") + 100.0)))
      s.read.format(fmt).option("path", dir).load()
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          sum(floor(col("p_retailprice") * 100).cast("long")).as("sum_cents"))
    }),

    // Schema evolution on append (mergeSchema): half the corpus lands
    // before the n_chars column exists, half after; per-file #cols
    // sidecar mapping reads pre-evolution files as null for the new
    // column — the readback aggregate proves both generations decode
    // correctly against the widened schema.
    "q173_warehouse_evolve" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_whevo_")
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "source")
        .write.format(fmt).option("path", dir).mode("append").save()
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "source", "n_chars")
        .write.format(fmt).option("path", dir)
        .option("mergeSchema", "true").mode("append").save()
      s.read.format(fmt).option("path", dir).load()
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"),
          count(col("n_chars")).as("n_with_chars"))
    }),

    // Last-touch attribution: each purchase credits the user's most
    // recent prior view within 7 days — one user-keyed window pass
    // carrying the running last-view timestamp (no self-join), ties
    // broken by event id so re-sharding never flips a credit.
    "q174_attribution" -> ((s, d) =>
      Sessions.lastTouchAttribution(eventsUs(s, d), "user_id", "ts_us",
        "event_id", "event_type", touchType = "view", convType = "purchase",
        windowUs = 7L * 86400L * 1000000L)),

    // Consistent bottom-k corpus sample: the 100 smallest-md5 documents —
    // a content-keyed sample stable across runs, engines, re-sharding
    // and appends; plans as per-partition k-heaps, never a global sort.
    "q175_consistent_sample" -> ((s, d) =>
      Corpus.consistentSample(Tables.documents(s, d), "doc_id", "text",
        k = 100, keep = Seq("source"))),

    // RFM segmentation: exact per-user recency/frequency/centi-monetary
    // metrics from one event aggregate, tie-broken ntile(5) tiers over
    // the user-cardinality table, users counted per (r,f,m) cell.
    "q176_rfm" -> ((s, d) =>
      Analytics.rfmSegments(eventsUs(s, d), "user_id", "ts_us", "value",
        refTsUs = 1706745600000000L)),

    // Exact phrase search (positional adjacency, which BM25's bag of
    // words can't express): anchor-keyed slot counting — only phrase
    // terms survive the scan, fan-out ≤ hits × phrase length.
    "q177_phrase_search" -> ((s, d) =>
      Search.phraseSearch(Tables.documents(s, d), "doc_id", "text",
        phrase = Seq("value", "table"))),

    // Proximity search (scan NEAR/5 column): unordered within-k-token
    // co-occurrence with pair count + closest distance — the rung
    // between bag-of-words and exact phrase.
    "q361_proximity_search" -> ((s, d) =>
      Search.proximitySearch(Tables.documents(s, d), "doc_id", "text",
        termA = "scan", termB = "column", k = 5)),

    // COUNT(col)/SUM through the warehouse metadata path: null counts
    // and exact integral sums ride the per-file sidecars, so the whole
    // readout — including a column with planted NULLs — answers in
    // O(metadata) (the spec proves no data file opens). The oracle
    // recomputes from the raw parquet.
    "q178_metadata_sum" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_whsum_")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          when(col("l_linenumber") =!= 1, col("l_partkey")).as("opt_part"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_cents"))
        .repartition(8)
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      s.read.format(fmt).option("path", dir).load()
        .agg(count(lit(1)).as("n_rows"),
          count(col("opt_part")).as("n_with_part"),
          sum(col("opt_part")).as("sum_part"),
          sum(col("price_cents")).as("sum_cents"))
    }),

    // REAL pixel-space image resize (no stub): deterministic 24-bpp BMPs
    // synthesized per doc, nearest-neighbor resized to 8×6 through the
    // pure-JDK pixel path, then re-decoded — dims, byte size, and the
    // LAST pixel's BGR are pure integer functions of doc_id the oracle
    // replays, so a hash match proves decode→resize→re-encode→decode.
    "q179_image_resize" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, src) =>
          multimodal.Binary.MediaRecord(id, "image",
            multimodal.Binary.synthBmp(
              width = (16 + (id % 8) * 2).toInt,
              height = (12 + (id % 6) * 2).toInt,
              seed = (id % 251).toInt), src)
        }
      multimodal.Binary.resizeImages(media, outW = 8, outH = 6)
        .map { r =>
          val (w, h) = multimodal.Binary.imageDims(r.bytes)
            .getOrElse((-1, -1))
          val (b, g, rr) = multimodal.Binary.bmpPixel(r.bytes, w - 1, h - 1)
            .getOrElse((-1, -1, -1))
          (r.media_id, w, h, r.bytes.length.toLong, b, g, rr)
        }
        .toDF("media_id", "width", "height", "size_bytes",
          "last_b", "last_g", "last_r")
    }),

    // REAL sample-level audio feature extraction: deterministic PCM-16
    // waveforms synthesized per doc, energy stats (count, peak, exact
    // sum of squares) computed from the decoded samples — integers the
    // oracle recomputes from the same waveform formula.
    "q180_audio_energy" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, _) =>
          val bytes = multimodal.Binary.synthWavPcm16(sampleRate = 8000,
            nSamples = (100 + id % 50).toInt, seed = id)
          val (n, peak, ss) = multimodal.Binary.wavEnergy(bytes)
            .getOrElse((-1L, -1L, -1L))
          (id, n, peak, ss)
        }
        .toDF("media_id", "n_samples", "peak_abs", "sum_sq")
    }),

    // Value-partitioned warehouse tables: orders and customers both laid
    // out one-file-per-status/segment value (the storage-partitioned-join
    // layout; the shuffle-free SPJ plan itself is spec-asserted), read
    // back through the grouped readers and joined — correctness of the
    // partitioned write→group-read→join path against the plain replay.
    "q181_partitioned_join" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val oDir = tempTableDir("graft_whpo_")
      val cDir = tempTableDir("graft_whpc_")
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.format(fmt).option("path", oDir)
        .option("partitionBy", "o_orderstatus").mode("overwrite").save()
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.format(fmt).option("path", cDir)
        .option("partitionBy", "c_mktsegment").mode("overwrite").save()
      val o = s.read.format(fmt).option("path", oDir).load()
      val c = s.read.format(fmt).option("path", cDir).load()
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // Linear multi-touch attribution: every view in the 7 days before a
    // purchase shares its credit equally (floor-ppm), bucketed by touch
    // age — the decay curve q174's last-touch readout can't show.
    "q182_linear_attribution" -> ((s, d) =>
      Sessions.linearAttribution(eventsUs(s, d), "user_id", "ts_us",
        "event_id", "event_type", touchType = "view", convType = "purchase",
        windowUs = 7L * 86400L * 1000000L)),

    // Language-ID confusion matrix: the langGuess heuristic evaluated
    // against the labeled lang column — per (actual, predicted) counts
    // plus per-actual recall in floor-ppm; the eval readout for q17.
    "q183_lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), T.langGuess(col("text")).as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        .withColumn("recall_ppm",
          expr("n * 1000000 div sum(n) OVER (PARTITION BY lang)"))),

    // Day-of-week seasonality profile: per event type, each weekday's
    // event share as a ×7 index (10⁶ = flat) — the load-shape readout
    // capacity planning and anomaly baselines start from.
    "q184_seasonality" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), (dayofweek(col("ts_t")) - 1).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
        .withColumn("index_ppm",
          expr("n * 7 * 1000000 div sum(n) OVER (PARTITION BY event_type)"))),

    // Compression-ratio quality signal (rows-only: no SQL twin can
    // replay zlib; the planted-ordering spec carries correctness).
    "q185_compressibility" -> ((s, d) =>
      Corpus.compressibility(Tables.documents(s, d), "doc_id", "text")),

    // Per-type trend slope: exact least squares of daily counts over the
    // day index (CUPED's integer discipline) — growing or decaying, in
    // floor-ppm events/day per day.
    "q186_trend_slope" -> ((s, d) =>
      Analytics.trendSlope(eventsUs(s, d), "event_type", "ts_us")),

    // Incremental JOIN-view maintenance: orders/customer split into
    // old + append batches, the stored view (old⋈old) extended by the
    // delta rule ΔA⋈B_new ∪ A_old⋈ΔB — readback must equal the full
    // join recompute, proving no pair is lost or doubled.
    "q187_incremental_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        .withColumnRenamed("c_custkey", "o_custkey")
      val (oOld, oNew) = (o.filter(col("o_orderkey") % 5 =!= 0),
        o.filter(col("o_orderkey") % 5 === 0))
      val (cOld, cNew) = (c.filter(col("o_custkey") % 7 =!= 0),
        c.filter(col("o_custkey") % 7 === 0))
      val mvOld = oOld.join(cOld, Seq("o_custkey"))
      val refreshed = mvOld.unionByName(
        Etl.incrementalJoinDelta(oOld, oNew, cOld, cNew, "o_custkey"))
      refreshed.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // Hybrid retrieval: BM25 lexical leg + exact-cosine dense leg fused
    // by reciprocal rank (10⁶ div (60 + rank), integer-exact) — the RAG
    // stack's retrieval composition over the two proven legs.
    "q188_hybrid_retrieval" -> ((s, d) =>
      Search.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
        "doc_id", "text", "vec_id", "embedding",
        queryTerms = Seq("join", "vector", "slow"), queryVecId = 0L,
        legK = 20, k = 10)),

    // Query expansion: top co-occurring terms for a seed by integer
    // lift (the PMI ordering without the log) — one tokenize, seed-doc
    // semi-restricted co-counts, wordcount dfs.
    "q189_related_terms" -> ((s, d) =>
      Search.relatedTerms(Tables.documents(s, d), "doc_id", "text",
        seed = "vector", minCo = 3L, k = 20)),

    // Write-audit-publish end to end: a clean batch stages, audits, and
    // promotes; a dirty batch (negative totals planted) stages, FAILS
    // its audit, and discards — the readback must contain exactly base +
    // the clean batch, proving staged rows never leak either way.
    "q190_wap_cycle" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val wh = graft.sources.WarehouseSink
      val dir = tempTableDir("graft_whwap_")
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      orders.filter(col("o_orderkey") % 3 === 0)
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      val clean = orders.filter(col("o_orderkey") % 3 === 1)
      val dirty = orders.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * -1)
      import graft.operators.Expectations._
      def violations(tok: String): Long =
        check(wh.readStaged(s, dir, tok), Seq(InRange("o_totalprice", 0.0, 1e9)))
          .agg(sum(col("n_violations"))).collect()(0).getLong(0)
      val t1 = wh.stageAppend(s, dir, clean)
      require(violations(t1) == 0L, "clean batch must pass its audit")
      wh.promoteStaged(dir, t1)
      val t2 = wh.stageAppend(s, dir, dirty)
      require(violations(t2) > 0L, "dirty batch must fail its audit")
      wh.discardStaged(dir, t2)
      s.read.format(fmt).option("path", dir).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // Referential-integrity audit across the star schema: orphaned and
    // null foreign keys per relation — one anti-join each, the dangling-
    // reference gate next to the in-table expectation rules.
    "q191_fk_audit" -> ((s, d) =>
      graft.operators.Expectations.fkAudit(Seq(
        ("lineitem.orderkey", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        ("orders.custkey", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        ("customer.nationkey", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey")))),

    // Cross-source exact-duplicate matrix: which sources copy from
    // which, via per-fingerprint source counts + pair arithmetic — no
    // doc-level pair join anywhere. The synthetic corpus is dup-free,
    // so a deterministic 'mirror' source (every 7th doc re-hosted)
    // plants the cross-source copies the matrix must expose.
    "q193_source_dup_matrix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mirrored = docs.unionByName(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("source", lit("mirror")))
      Dedup.crossSourceDupMatrix(mirrored, "doc_id", "text", "source")
    }),

    // Soft dedup: duplicate-aware training weights over the mirrored
    // corpus — weight 1/n_copies per doc, per-source EFFECTIVE size in
    // micro-docs (the number mixing ratios should use).
    "q368_soft_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mirrored = docs.unionByName(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("source", lit("mirror")))
      Dedup.softDedupWeights(mirrored, "doc_id", "text", "source")
    }),

    // Entity resolution end-to-end: Jaro-Winkler fuzzy links (≥ 0.88,
    // first-token blocked) union-found into entities via the q46
    // min-label components — the alias-unification pipeline over noisy
    // name keys; per-cluster membership is the contract readout.
    "q369_entity_resolution" -> ((s, d) => {
      val names = Tables.part(s, d).select("p_name").distinct()
      val pairs = Dedup.jwNameMatch(names, "p_name", "p_name",
        minJw = 0.88, maxBlock = 100000L)
      Components.connected(pairs, "id1", "id2")
        .select(col("id").as("name"), col("cluster").as("entity"))
    }),

    // URL extraction + registrable-domain rollup over planted citations:
    // the C4/RefinedWeb provenance audit. URLs (subdomain/tld/port/path
    // varied by doc_id, one with trailing punctuation, one ftp:// decoy
    // that must NOT match) are planted deterministically so the real
    // regex extraction + host normalization replays arithmetically.
    "q370_url_domains" -> ((s, d) => {
      val subs = typedLit(Seq("", "www.", "cdn.", "api."))
      val names = typedLit(Seq("alpha", "beta", "gamma", "delta", "epsilon"))
      val tlds = typedLit(Seq("com", "org", "co.uk"))
      val planted = Tables.documents(s, d).select(col("doc_id"), concat(
        col("text"), lit(" http://"),
        element_at(subs, (col("doc_id") % 4 + 1).cast("int")),
        element_at(names, (col("doc_id") % 5 + 1).cast("int")), lit("."),
        element_at(tlds, (col("doc_id") % 3 + 1).cast("int")),
        when(col("doc_id") % 7 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), col("doc_id"), lit(","),
        when(col("doc_id") % 2 === 0,
          lit(" https://mirror.example.net/x)")).otherwise(lit("")),
        lit(" ftp://skip.example.org/no")).as("text"))
      Corpus.urlDomains(planted, "doc_id", "text")
    }),

    // Jarque-Bera normality screen on per-type daily event counts — the
    // "is it even normal" gate in front of the parametric test family;
    // exact centered power sums, one ordered double expression per stat.
    "q371_jarque_bera" -> ((s, d) => {
      val daily = eventsUs(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      Analytics.jarqueBera(daily, "event_type", "cnt")
    }),

    // Wilcoxon signed-rank: per customer, odd-orderkey spend vs
    // even-orderkey spend — the paired twin of q328's rank-sum, doubled
    // midranks over the gated distinct-|d| table.
    "q372_wilcoxon_signed" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val pairs = o.groupBy("o_custkey").agg(
        sum(when(col("o_orderkey") % 2 === 1, col("cents")).otherwise(0L))
          .as("x"),
        sum(when(col("o_orderkey") % 2 === 0, col("cents")).otherwise(0L))
          .as("y"))
      Analytics.wilcoxonSignedRank(pairs, "x", "y")
    }),

    // gzip member metadata over deterministic stored-block fixtures:
    // real RFC 1952 header walk + CRC32/ISIZE verification against the
    // recomputed checksum; the synth arithmetic replays in SQL.
    "q373_gzip_meta" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val len = 100 + (id % 1000L).toInt
          val got = multimodal.Binary.gzipMeta(
            multimodal.Binary.synthGzip(len, 1600000000L + id, 256))
            .getOrElse((-1L, -1, -1, -1L, false))
          (id, got._1, got._3.toLong, got._4, got._5)
        }.toDF("doc_id", "mtime", "n_blocks", "isize", "crc_ok")
    }),

    // Snapshot-sync MERGE (WHEN NOT MATCHED BY SOURCE THEN DELETE with
    // a protective keepWhere): the table becomes the incoming snapshot
    // except protected stragglers; the oracle recomputes the final
    // table from source arithmetic.
    "q374_sync_merge" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_sync_")
      val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      base.write.format(fmt).option("path", dir).mode("overwrite").save()
      val snap = base.filter(col("k") % 3 =!= 0)
        .select(col("k"), when(col("k") % 5 === 0, col("cents") + 500L)
          .otherwise(col("cents")).as("cents"))
        .unionByName(base.filter(col("k") % 11 === 0)
          .select((col("k") + 2000000000L).as("k"), lit(99L).as("cents")))
      sources.WarehouseSink.syncMoR(s, dir, snap, Seq("k"),
        keepWhere = Some("cents % 10 = 3"))
      s.read.format(fmt).option("path", dir).load()
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .select(col("bucket").cast("long").as("bucket"), col("n_rows"),
          col("sum_cents").cast("long").as("sum_cents"))
    }),

    // Harmonic closeness for a seed set on the supplier↔part bipartite
    // graph (the q330 substrate): per-seed BFS in one shared frontier,
    // exact 1000000 div d contributions within 3 hops.
    "q375_closeness" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_suppkey").as("sk"),
        (col("l_partkey") + lit(10000000L)).cast("long").as("pk"))
      // Both edge directions from ONE scan (explode of a 2-struct array)
      // — the union form scanned the input twice (guide §2.4).
      val edges = li.select(explode(array(
          struct(col("sk").as("src"), col("pk").as("dst")),
          struct(col("pk").as("src"), col("sk").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.harmonicCloseness(edges, "src", "dst", seeds = Seq(1L, 2L, 3L),
        maxHops = 3)
    }),

    // Cramér-von Mises two-sample distance on the q198 A/B split —
    // the whole-curve companion of the KS sup-gap, one exact rational
    // over the same cumulative substrate.
    "q376_cvm_test" -> ((s, d) =>
      Analytics.cvmTest(
        Tables.events(s, d).filter(col("event_type") === "purchase"),
        sideCol = substring(md5(col("user_id").cast("string")), 1, 1) < "8",
        "value")),

    // Pettitt rank-based changepoint per event-type daily series —
    // the distribution-free "did the level shift, and when" next to
    // q219's CUSUM; doubled midranks keep U_t exact.
    "q377_pettitt" -> ((s, d) =>
      Analytics.pettittTest(eventsUs(s, d), "event_type", "ts_us")),

    // DBSCAN over the quantized 2-D embedding projection, with a
    // second +18-shifted population planted so the density structure
    // has two real clusters plus border and noise verdicts.
    "q378_dbscan" -> ((s, d) => {
      val base = Tables.embeddings(s, d).select(
        (floor(element_at(col("embedding"), 1) * 20) + 20).cast("long")
          .as("x"),
        (floor(element_at(col("embedding"), 2) * 20) + 20).cast("long")
          .as("y"),
        col("vec_id"))
      val planted = base.unionByName(
        base.filter(col("vec_id") % 5 === 0)
          .select((col("x") + 18L).as("x"), (col("y") + 18L).as("y"),
            col("vec_id")))
      Analytics.dbscan2d(planted, "x", "y", eps = 1L, minPts = 8L)
    }),

    // SVG dimensions: width/height attributes with the viewBox
    // fallback exercised on odd ids; the synth arithmetic replays.
    "q379_svg_dims" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val w = ((id % 300L) + 1L).toInt * 2
          val h = ((id % 150L) + 1L).toInt * 3
          val got = multimodal.Binary.svgDims(
            multimodal.Binary.synthSvg(w, h, explicit = id % 2 == 0))
          (id, got.map(_._1.toLong).getOrElse(-1L),
            got.map(_._2.toLong).getOrElse(-1L))
        }.toDF("doc_id", "width", "height")
    }),

    // PDF metadata: version, /Type /Page count (the /Pages tree node
    // excluded), and startxref→xref validation over real minimal
    // fixtures with correct byte offsets.
    "q380_pdf_meta" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val pages = 1 + (id % 9L).toInt
          val minor = (4 + id % 4L).toInt
          val got = multimodal.Binary.pdfMeta(
            multimodal.Binary.synthPdf(1, minor, pages))
            .getOrElse((-1, -1, -1, false))
          (id, got._1.toLong, got._2.toLong, got._3.toLong, got._4)
        }.toDF("doc_id", "ver_major", "ver_minor", "n_pages", "xref_ok")
    }),

    // Haar wavelet energy per event-type daily series: exact integer
    // detail energies over the latest 16 observed days — which
    // timescale the variance lives at (the generator ships 30-day
    // spans, so the 16-day dyadic window is the largest that fills).
    "q381_haar_energy" -> ((s, d) =>
      Analytics.haarEnergy(eventsUs(s, d), "event_type", "ts_us",
        levels = 4)),

    // Johnson-Lindenstrauss distortion audit: deterministic md5-sign
    // ±1 projection 64→16, pairwise distance distortion spread over a
    // consistent-hash sample — exact fixed-point end to end.
    "q382_jl_distortion" -> ((s, d) =>
      Quantize.jlDistortion(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, k = 16, sampleMod = 13L)),

    // ICO icon-directory walk over deterministic fixtures: entry
    // count + max declared dims, offsets containment-checked.
    "q383_ico_meta" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val n = 1 + (id % 4L).toInt
          val dims = (0 until n).map(k =>
            (((id % 200L) + 1).toInt + k, ((id % 100L) + 1).toInt + k))
          val got = multimodal.Binary.icoMeta(
            multimodal.Binary.synthIco(dims)).getOrElse((-1, -1, -1))
          (id, got._1.toLong, got._2.toLong, got._3.toLong)
        }.toDF("doc_id", "n_images", "max_width", "max_height")
    }),

    // SQL UPDATE + MERGE INTO through the catalog (group-based
    // copy-on-write row-level operations): update a slice, merge a
    // change batch with matched updates and not-matched inserts, read
    // the final state back — the oracle recomputes it from source
    // arithmetic.
    "q384_sql_update" -> ((s, d) => {
      useCatalog(s)
      val ns = "c" + (d.hashCode.toLong & 0xffffffffL)
      new java.io.File(catalogRoot, ns).mkdirs()
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.upd_t")
      s.sql(s"CREATE TABLE graft.$ns.upd_t (k BIGINT, cents BIGINT)")
      Tables.orders(s, d).select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .createOrReplaceTempView("graft_q384_src")
      s.sql(s"INSERT INTO graft.$ns.upd_t SELECT * FROM graft_q384_src")
      s.sql(s"UPDATE graft.$ns.upd_t SET cents = cents + 250 " +
        "WHERE k % 7 = 2")
      s.sql(s"""MERGE INTO graft.$ns.upd_t t
                USING (SELECT k, cents FROM graft_q384_src WHERE k % 9 = 0
                       UNION ALL
                       SELECT k + 1000000000 AS k, 77 AS cents
                       FROM graft_q384_src WHERE k % 11 = 0) s
                ON t.k = s.k
                WHEN MATCHED THEN UPDATE SET cents = s.cents + 13
                WHEN NOT MATCHED THEN
                  INSERT (k, cents) VALUES (s.k, s.cents)""")
      s.sql(s"""SELECT CAST(k % 10 AS BIGINT) AS bucket,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(cents) AS BIGINT) AS sum_cents
                FROM graft.$ns.upd_t GROUP BY 1""")
    }),

    // Exact 2-D Mahalanobis outliers over (quality centi, n_chars):
    // docs inside both marginal ranges but off the correlation ridge —
    // one integer rational per point, distributed top-k.
    "q385_mahalanobis" -> ((s, d) =>
      Analytics.mahalanobis2d(
        Tables.documents(s, d).select(col("doc_id"),
          greatest(least(floor(T.qualityScore(col("text")) * 10000 + 0.5),
            lit(10000L)), lit(0L)).cast("long").as("q0"),
          col("n_chars"))
          .select(col("doc_id"), expr("q0 div 100").as("q"),
            col("n_chars")),
        "doc_id", "q", "n_chars", topK = 20)),

    // Poisson-bootstrap CI for the MEDIAN per event type — the quantile
    // rung next to q314's mean variance; deterministic md5 weights,
    // lower weighted medians, exact order-statistic CI.
    "q386_boot_median" -> ((s, d) =>
      Experiment.bootstrapMedian(Tables.events(s, d), "event_type",
        "value", "event_id")),

    // Rank-Biased Overlap between full-dim and 16-dim retrieval on the
    // q211 query set — the rank-weighted refinement of overlap@k; every
    // depth weight is a shared exact nano literal.
    "q387_rbo" -> ((s, d) =>
      Similarity.rboAgreement(Tables.embeddings(s, d), "vec_id",
        "embedding", queryIds = Seq(0L, 7L, 21L, 42L, 63L), k = 10,
        mDims = 16)),

    // Matroska/WebM metadata via a real EBML varint walk: DocType,
    // duration (timestamp-scale rule), track-type census, first video
    // track dimensions; the synth arithmetic replays.
    "q388_webm_meta" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val dt = if (id % 2 == 0) "webm" else "matroska"
          val got = multimodal.Binary.webmMeta(
            multimodal.Binary.synthWebm(dt, 1000 + id % 9000L,
              ((id % 200L).toInt + 1) * 4, ((id % 100L).toInt + 1) * 4,
              (id % 3L).toInt))
            .getOrElse(("", -1L, -1, -1, -1, -1))
          (id, got._1, got._2, got._3.toLong, got._4.toLong,
            got._5.toLong, got._6.toLong)
        }.toDF("doc_id", "doc_type", "duration_ms", "n_video", "n_audio",
          "width", "height")
    }),

    // Bigram collocation mining by exact floor-ppm lift over the
    // documents corpus — which word pairs travel together beyond
    // chance, with a support floor and a deterministic top-k.
    "q389_collocations" -> ((s, d) =>
      Corpus.collocations(Tables.documents(s, d), "text",
        minSupport = 5L, topK = 25)),

    // Group-median imputation audit on events with planted nulls
    // (event_id % 7): per type the exact fill value, null count and
    // post-fill sum — the NA-repair readout next to dag.py's dropna.
    "q390_impute" -> ((s, d) =>
      Etl.imputePanel(
        Tables.events(s, d).withColumn("value",
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(col("value"))),
        "event_type", "value")),

    // Markov next-event predictor with a temporal holdout: fit on
    // even-day transition pairs, score on odd-day pairs — a real
    // out-of-sample hit rate per from-type.
    "q391_next_event" -> ((s, d) =>
      Sessions.nextEventEval(eventsUs(s, d), "user_id", "ts_us",
        "event_id", "event_type")),

    // Seed-sampled Brandes betweenness on the supplier↔part bipartite
    // graph: exact path counts forward, one documented floor per DAG
    // edge backward — the broker scores the degree family can't see.
    "q392_betweenness" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_suppkey").as("sk"),
        (col("l_partkey") + lit(10000000L)).cast("long").as("pk"))
      // Both edge directions from ONE scan (explode of a 2-struct array)
      // — the union form scanned the input twice (guide §2.4).
      val edges = li.select(explode(array(
          struct(col("sk").as("src"), col("pk").as("dst")),
          struct(col("pk").as("src"), col("sk").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.betweennessSeeded(edges, "src", "dst",
        seeds = Seq(1L, 2L, 3L), maxHops = 3, topK = 20)
    }),

    // HTML main-text extraction over planted markup: script/style
    // blocks die with content, links/images counted, entities decode
    // in the documented order — the C4 markup-strip step, replayed
    // regex-for-regex by the oracle (clean text compared by md5).
    "q393_html_extract" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script>var x=1;</script></head><body><h1>T&amp;"),
        col("doc_id"), lit("</h1><p>"), col("text"),
        lit("</p><a href=\"/x\">link</a>"),
        when(col("doc_id") % 2 === 0, lit("<img src=\"a.png\"/>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("html"))
      Corpus.htmlExtract(planted, "doc_id", "html")
        .select(col("doc_id"), md5(col("clean_text")).as("text_md5"),
          col("n_links"), col("n_images"), col("n_tags"),
          col("markup_ppm"))
    }),

    // Per-source Gini-Simpson diversity + Chao1 richness — the
    // single-sample ecology pair next to TTR/Good-Turing, entropy-free
    // exact fixed point.
    "q394_diversity" -> ((s, d) =>
      Analytics.diversityPanel(Tables.documents(s, d), "source", "text")),

    // Feature-hashing collision audit: the portable md5 bucket at four
    // candidate widths over the distinct vocabulary — the
    // bits-vs-quality trade for hashed bag-of-words models, measured.
    "q395_hash_collisions" -> ((s, d) =>
      Vocab.hashCollisionAudit(Tables.documents(s, d), "text",
        bucketBits = Seq(6, 8, 10, 12))),

    // Interval-overlap join: q38 sessions (padded half-open by 1µs so
    // instant sessions count) against the daily 2-hour maintenance
    // windows — per window, overlapping sessions + exact overlap mass.
    // The binned equi-join is the scale shape; the oracle replays with
    // a plain inequality join.
    "q396_interval_overlap" -> ((s, d) => {
      val sess = Sessions.sessionize(eventsUs(s, d), "user_id", "ts_us",
        "event_id", gapUs = 1800L * 1000000L)
        .select((col("user_id") * 1000000L + col("session_idx"))
          .as("sid"), col("start_us"),
          (col("end_us") + 1L).as("end_pad_us"))
      val dayUs = 86400L * 1000000L
      val windows = eventsUs(s, d)
        .select(expr(s"ts_us div ${dayUs}L").as("day")).distinct()
        .withColumn("slot", explode(typedLit(Seq(0, 1))))
        .select((col("day") * 2 + col("slot")).as("wid"),
          (col("day") * dayUs +
            (lit(3L) + col("slot") * 12L) * 3600000000L).as("w_start"),
          (col("day") * dayUs +
            (lit(5L) + col("slot") * 12L) * 3600000000L).as("w_end"))
      Sessions.intervalOverlapJoin(
          sess, "sid", "start_us", "end_pad_us",
          windows, "wid", "w_start", "w_end",
          binUs = 3600L * 1000000L)
        .groupBy(col("b_id").as("wid"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("overlap_us").as("graft_o"))
        .select(col("wid").cast("long").as("wid"), col("n_sessions"),
          col("graft_o").cast("long").as("overlap_us_total"))
    }),
  )
}
