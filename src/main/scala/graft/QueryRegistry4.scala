package graft

import graft.functions.{TextFunctions => T}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mechanical split of the `SparkEntry.queries` registry (chunk 4 of
  * 4) — entries verbatim from the original single map;
  * `SparkEntry` concatenates the chunks, so the contract is unchanged. */
private[graft] trait QueryRegistry4 { this: SparkEntry.type =>

  private[graft] def queriesChunk4: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ID3v2 tag walk: synchsafe-size round-trip + frame iteration —
    // the oracle derives the expected tag size arithmetically, so the
    // hash match proves the 7-bit size encoding and the frame walk.
    "q281_id3_tags" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val title = "T" + ("x" * (id % 7).toInt)
          val artist = "A" + ("y" * (id % 3).toInt)
          multimodal.Binary.id3Tags(multimodal.Binary.synthMp3Id3(
            title, artist, padBytes = 200, audioBytes = 64)) match {
            case Some((t, a, sz)) => (t, a, sz)
            case None => ("?", "?", -1L)
          }
        }.toDF("title", "artist", "tag_size")
        .groupBy("title", "artist", "tag_size")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Degree assortativity: Newman's r over the supplier↔part graph —
    // do hubs link to hubs, exact degree sums then the spearman finish.
    "q280_assortativity" -> ((s, d) =>
      Graph.degreeAssortativity(Tables.lineitem(s, d)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + lit(10000000L)).cast("long").as("dst")),
        "src", "dst")),

    // Qini uplift curve: cumulative incremental conversions by score
    // decile — treated vs exposure-scaled control, the model-free
    // pre-activity score any uplift model must beat.
    "q279_qini" -> ((s, d) =>
      Experiment.upliftCurve(eventsUs(s, d), "user_id", "event_type",
        "value", "ts_us", metricType = "purchase",
        cutTsUs = 1705363200000000L)),

    // Coarsened-exact-matching ATT: the observational-causal rung —
    // treated vs control compared only inside coarsened pre-covariate
    // strata, off-support units pruned and REPORTED, effect as an exact
    // rational pair plus one correctly-rounded double division.
    "q278_cem" -> ((s, d) =>
      Experiment.cemAtt(eventsUs(s, d), "user_id", "event_type", "value",
        "ts_us", metricType = "purchase", cutTsUs = 1705363200000000L)),

    // Ljung-Box whiteness test: one-number portmanteau over q218's
    // exact ACF lags — joint autocorrelation through lag 3, the chain
    // of correctly-rounded FP ops pinned by expression shape.
    "q277_ljung_box" -> ((s, d) =>
      Analytics.ljungBox(eventsUs(s, d), "event_type", "ts_us", maxLag = 3)),

    // Z-order maintenance cycle: Morton-clustered rewrite (quantile-rank
    // bit interleave) gives every file a tight rectangle in
    // (l_orderkey, l_partkey) space, then a 2-D box probe reads through
    // the min/max skip path — pruning on BOTH columns, which
    // single-column clustering gives only its lead dimension.
    "q276_zorder" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_zord_")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(64)
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      sources.WarehouseSink.maintain(s, dir, targetBytes = 256L << 10,
        zorderBy = Some(("l_orderkey", "l_partkey")))
      s.read.format(fmt).option("path", dir).load()
        .filter(col("l_orderkey") >= 1000L && col("l_orderkey") < 2500L &&
          col("l_partkey") >= 500L && col("l_partkey") < 1500L)
        .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
          sum("l_orderkey").as("sum_ok"), sum("l_partkey").as("sum_pk"))
    }),

    // Sequential-pattern pairs: gap-tolerant ordered mining — sessions
    // where type a happens EVENTUALLY before type b (min-pos < max-pos
    // collapse, so the pair join never touches raw events).
    "q275_seq_patterns" -> ((s, d) =>
      Sessions.sequentialPairs(eventsUs(s, d), "user_id", "ts_us",
        "event_id", "event_type", gapUs = 30L * 60 * 1000000,
        minSupport = 2L)),

    // Difference-in-differences with a pre-period placebo replay: the
    // quasi-experimental rung of the experiment family — each arm's own
    // pre-trend subtracted, parallel-trends made checkable.
    "q274_did" -> ((s, d) =>
      Experiment.diffInDiff(eventsUs(s, d), "user_id", "event_type",
        "value", "ts_us", metricType = "purchase",
        cutTsUs = 1705363200000000L, placeboCutUs = 1704672000000000L)),

    // Kruskal-Wallis: the k-sample rung of the rank family — do the
    // event types draw `value` from one distribution, judged on exact
    // integral midranks with the tie-corrected H in floor-milli.
    "q273_kruskal_wallis" -> ((s, d) =>
      Analytics.kruskalWallis(Tables.events(s, d), "event_type", "value")),

    // HITS hubs/authorities: the directed twin of q131's PageRank — on
    // the supplier→part graph, hub mass = broad-catalog suppliers,
    // authority mass = widely-sourced parts; max-normed integer
    // half-steps so the oracle unrolls the identical arithmetic.
    "q272_hits" -> ((s, d) =>
      Graph.hitsPortable(Tables.lineitem(s, d)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + lit(10000000L)).cast("long").as("dst")),
        "src", "dst", iters = 3, topK = 20)),

    // t-closeness: the privacy triad's skew rung after k-anonymity
    // (q143) and l-diversity (q241) — ordered-domain EMD between each
    // (nation, segment) group's acctbal-band distribution and the
    // global one, denominators cleared so the statistic stays integral.
    "q271_t_closeness" -> ((s, d) =>
      Analytics.tClosenessRisk(Tables.customer(s, d),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        Seq("nation", "segment"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)"), tPpm = 100000L)),

    // Term-bloom full-text file skipping: the sidecar-index family's
    // third leg (equality bloom, zone maps, now TOKENS) — search 'dup'
    // through the index, exact token predicate re-applied.
    "q270_term_lookup" -> ((s, d) => {
      val (store, side) = termStorePaths(s, d)
      sources.TermIndex.search(s, store, side, "text", "dup")
        .select(col("doc_id"), col("source"))
    }),

    // Operating-point picker: the Youden-J and F1-max thresholds over
    // every distinct score — the cut a deployed classifier ships.
    "q269_operating_point" -> ((s, d) =>
      ml.Eval.operatingPoint(scoredDocs(s, d), "score_q", "label")),

    // GIF frame count via the real block walk — the animated-vs-static
    // media signal, no LZW decode needed. Deterministic synth fixtures.
    "q268_gif_frames" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val n = 1 + (id % 5L).toInt
          val got = multimodal.Binary.gifFrameCount(
            multimodal.Binary.synthGif(16, 12, n)).getOrElse(-1)
          (n.toLong, got.toLong)
        }.toDF("frames", "frames_decoded")
        .groupBy("frames", "frames_decoded")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Fano-factor burstiness: variance-to-mean of daily counts per
    // series — 1e6 ppm = Poisson baseline, above = bursty.
    "q267_fano" -> ((s, d) =>
      Analytics.fanoFactor(eventsUs(s, d), "event_type", "ts_us")),

    // Out-of-fold target encoding: the leakage-free categorical feature
    // table (lang → label mean from the OTHER md5 folds), exact ppm.
    "q266_target_encoding" -> ((s, d) =>
      ml.Eval.targetEncode(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          (col("n_chars") >= 300).cast("long").as("label")),
        "doc_id", "lang", "label", folds = 4)),

    // Composed eval panel #2 (the q200 pattern over the round-10 eval
    // family): kappa, Brier, ECE, conformal coverage, jackknife z and
    // log-rank z in one labeled table — the oracle composes the
    // members' own proven SQL, so any member drifting breaks both.
    "q265_eval_panel" -> ((s, d) => {
      def one(metric: String, df: DataFrame, valueCol: String): DataFrame =
        df.select(lit(metric).as("metric"), col(valueCol).as("value"))
      Seq(
        one("kappa_ppm",
          ml.Eval.agreementStats(scoredDocs(s, d), "score_q", "label",
            threshold = 5000L), "kappa_ppm"),
        one("brier_ppm",
          ml.Eval.brierDecomposition(scoredDocs(s, d), "score_q", "label",
            scale = 10000L), "brier_ppm"),
        one("ece_ppm",
          ml.Eval.calibrationError(scoredDocs(s, d), "score_q", "label",
            bins = 10, scale = 10000L), "ece_ppm"),
        one("conformal_coverage_ppm",
          ml.Eval.conformalCoverage(
            Tables.documents(s, d).select(col("doc_id"),
              greatest(least(floor(T.qualityScore(col("text")) * 10000
                + 0.5), lit(10000L)), lit(0L)).cast("long").as("pred"),
              ((col("n_chars") >= 300).cast("long") * 10000L)
                .as("actual")),
            "doc_id", "pred", "actual", alphaPpm = 100000L),
          "coverage_ppm"),
        one("jackknife_z_milli",
          Experiment.jackknifeDiff(Tables.events(s, d), "user_id",
            "event_type", "value", metricType = "purchase", buckets = 16),
          "z_milli"),
        one("logrank_z_milli",
          Analytics.logRank(eventsUs(s, d), "user_id", "ts_us",
            censorDays = 7), "z_milli"))
        .reduce(_ unionByName _)
    }),

    // Log-rank test: do the two md5 cohorts' churn curves differ —
    // censoring-correct O/E per event time, Brier-style exact micro
    // accumulation, pinned z assembly.
    "q264_logrank" -> ((s, d) =>
      Analytics.logRank(eventsUs(s, d), "user_id", "ts_us",
        censorDays = 7)),

    // Exact two-covariate OLS: daily purchases ~ views + clicks by
    // Cramer's rule — every coefficient one rational, NULL on collinear.
    "q263_ols2" -> ((s, d) =>
      Analytics.ols2(eventsUs(s, d), "ts_us", "event_type",
        yType = "purchase", xType = "view", zType = "click")),

    // Functional-dependency audit: declared "lhs → rhs" candidates over
    // lineitem — true dependencies audit clean, believed-but-false ones
    // surface denormalization drift.
    "q262_fd_audit" -> ((s, d) =>
      Expectations.fdAudit(Tables.lineitem(s, d), Seq(
        (Seq("l_orderkey"), "l_suppkey"),
        (Seq("l_partkey"), "l_suppkey"),
        (Seq("l_orderkey", "l_linenumber"), "l_partkey")))),

    // KMV bottom-k sketch Jaccard: a deterministic (md5-ordered) sketch
    // whose estimate hash-checks — each source compresses to 64 hashes,
    // pair cost O(k) instead of q103's vocabulary join.
    "q261_kmv_overlap" -> ((s, d) =>
      Analytics.kmvOverlap(Tables.documents(s, d), "source", "text",
        k = 64)),

    // Zipf frequency spectrum: distinct terms + occurrences per log2
    // frequency bucket — exact power-of-two thresholds, no float log.
    "q260_zipf_profile" -> ((s, d) =>
      Analytics.zipfProfile(Tables.documents(s, d), "text")),

    // Time-to-conversion distribution: first view → first purchase at
    // or after it, day-quantized exact quartiles + p90 with the rate.
    "q259_time_to_convert" -> ((s, d) =>
      Sessions.timeToConversion(eventsUs(s, d), "user_id", "ts_us",
        "event_type", fromType = "view", toType = "purchase")),

    // Binary-segmentation changepoints: q219's single break plus the
    // strongest left/right sub-breaks, each side re-running the exact
    // CUSUM statistic with side-local mass.
    "q258_cusum_segments" -> ((s, d) =>
      Analytics.cusumSegments(eventsUs(s, d), "event_type", "ts_us")),

    // Nested denormalized export: one row per order with its line items
    // as a SORTED array of structs (the JSONL-export shape a training
    // pipeline ships), and the readout is computed FROM the nested form
    // (size / element_at / higher-order aggregate) — proving the
    // build+access round trip, hash-checked against the flat oracle.
    "q257_nested_export" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        struct(col("l_linenumber").cast("long").as("ln"),
          col("l_partkey").cast("long").as("pk"),
          floor(col("l_extendedprice") * 100).cast("long")
            .as("price_cents")).as("item"))
      val nested = li.groupBy("l_orderkey")
        .agg(sort_array(collect_list("item")).as("items"))
      require(nested.schema("items").dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType],
        "export shape must nest items as an array of structs")
      nested.select(col("l_orderkey"),
        size(col("items")).cast("long").as("n_items"),
        col("items").getItem(0).getField("pk").as("first_pk"),
        aggregate(col("items"), lit(0L),
          (acc, it) => acc + it.getField("price_cents")).as("total_cents"))
    }),

    // Personalized PageRank: teleport mass pinned to three seed
    // suppliers on the supplier↔part graph — "parts/suppliers similar
    // to THESE", same integer discipline as q131.
    "q256_ppr" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_suppkey").as("sk"),
        (col("l_partkey") + lit(10000000L)).cast("long").as("pk"))
      // Both edge directions from ONE scan (explode of a 2-struct array)
      // — the union form scanned the input twice (guide §2.4).
      val edges = li.select(explode(array(
          struct(col("sk").as("src"), col("pk").as("dst")),
          struct(col("pk").as("src"), col("sk").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.pagerankPortable(edges, "src", "dst",
        seeds = Seq(1L, 2L, 3L), iters = 3, topK = 20)
    }),

    // JPEG DQT quality estimate: real marker-walk to the quantization
    // table, exact integer inversion of the IJG scale — ranks re-encoded
    // spam without decoding a pixel. Deterministic synthJpeg fixtures.
    "q255_jpeg_quality" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val q = 1 + (id % 100L).toInt
          val est = multimodal.Binary.jpegDqtQuality(
            multimodal.Binary.synthJpeg(8, 8, q)).getOrElse(-1)
          (q.toLong, est.toLong)
        }.toDF("quality", "quality_est")
        .groupBy("quality", "quality_est")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Split-conformal interval + held-out coverage: q̂ is an exact order
    // statistic over md5-split calibration residuals; coverage audited
    // on the disjoint test half at the 90% target.
    "q254_conformal" -> ((s, d) => {
      val rows = Tables.documents(s, d).select(
        col("doc_id"),
        greatest(least(floor(T.qualityScore(col("text")) * 10000 + 0.5),
          lit(10000L)), lit(0L)).cast("long").as("pred"),
        ((col("n_chars") >= 300).cast("long") * 10000L).as("actual"))
      ml.Eval.conformalCoverage(rows, "doc_id", "pred", "actual",
        alphaPpm = 100000L)
    }),

    // ECE + MCE: the calibration table as two exact numbers — the bin
    // denominators cancel, so ECE is ONE floor division over bin sums.
    "q253_ece" -> ((s, d) =>
      ml.Eval.calibrationError(scoredDocs(s, d), "score_q", "label",
        bins = 10, scale = 10000L)),

    // Per-source readability: Flesch ease + FK grade from the documented
    // vowel-group heuristic — two floor divisions per doc, exact milli.
    "q252_readability" -> ((s, d) =>
      Corpus.readabilityProfile(Tables.documents(s, d), "text", "source")),

    // Named refs: tag the first load, stage the second on a branch
    // (invisible to main — gated in-query), fast-forward, then read both
    // the tag snapshot and the promoted main. Oracle replays both legs
    // relationally from orders.
    "q251_refs" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_refs_")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      ord.filter(col("o_orderkey") % 2 === 0)
        .write.format(fmt).option("path", dir).mode("append").save()
      graft.sources.WarehouseSink.createTag(dir, "v1")
      graft.sources.WarehouseSink.createBranch(dir, "wip")
      graft.sources.WarehouseSink.appendToBranch(s, dir, "wip",
        ord.filter(col("o_orderkey") % 2 === 1))
      val mainBefore = s.read.format(fmt).option("path", dir).load().count()
      val branchNow = s.read.format(fmt).option("path", dir)
        .option("ref", "wip").load().count()
      require(mainBefore < branchNow,
        s"branch isolation broken: main=$mainBefore branch=$branchNow")
      graft.sources.WarehouseSink.fastForward(dir, "wip")
      def leg(tag: Option[String], name: String) = {
        val r = s.read.format(fmt).option("path", dir)
        tag.foreach(t => r.option("ref", t))
        r.load().agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * 100).cast("long")).cast("long")
              .as("price_cents"))
          .select(lit(name).as("leg"), col("n"), col("price_cents"))
      }
      leg(None, "main").unionAll(leg(Some("v1"), "tag_v1"))
    }),

    // PARTITION EVOLUTION: bucket(4) → bucket(8) as a metadata-only
    // manifest bump — old files keep pruning under the spec each records
    // (#tpartspec), appends land under the new spec, maintain() unifies
    // the layout. In-query partition gates pin both pruning regimes.
    "q250_partition_evolution" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_pevo_")
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      cust.filter(col("c_custkey") % 2 === 0).coalesce(1)
        .write.format(fmt).option("path", dir)
        .option("partitionBy", "bucket(4,c_custkey)")
        .mode("overwrite").save()
      graft.sources.WarehouseSink.evolvePartitioning(dir,
        "bucket(8,c_custkey)")
      cust.filter(col("c_custkey") % 2 === 1).coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
      // 4 bucket(4) files + 8 bucket(8) files; a point lookup plans at
      // most one file per spec space (each prunes under ITS OWN spec)
      val probe = s.read.format(fmt).option("path", dir).load()
        .filter(col("c_custkey") === 2L)
      require(probe.rdd.getNumPartitions <= 2,
        s"mixed-spec pruning failed: ${probe.rdd.getNumPartitions} planned")
      // compaction completes the evolution physically: one spec space
      graft.sources.WarehouseSink.maintain(s, dir, keepVersions = 1)
      val probe2 = s.read.format(fmt).option("path", dir).load()
        .filter(col("c_custkey") === 2L)
      require(probe2.rdd.getNumPartitions <= 1,
        s"post-maintain pruning failed: ${probe2.rdd.getNumPartitions}")
      s.read.format(fmt).option("path", dir).load()
        .groupBy((col("c_custkey") % 7).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("c_acctbal") * 100).cast("long"))
            .cast("long").as("bal_cents"))
    }),

    // McNemar paired test: does the quality-score rule beat the plain
    // length rule on the SAME docs — discordant pairs only, exact
    // continuity-corrected statistic in milli.
    "q249_mcnemar" -> ((s, d) => {
      val preds = Tables.documents(s, d).select(
        (greatest(least(floor(T.qualityScore(col("text")) * 10000 + 0.5),
          lit(10000L)), lit(0L)) >= 5000L).cast("long").as("p_quality"),
        (T.wordTokens(col("text")) >= 50).cast("long").as("p_length"),
        (col("n_chars") >= 300).cast("long").as("label"))
      ml.Eval.mcnemar(preds, "p_quality", "p_length", "label")
    }),

    // Encoding-damage + character-hygiene audit per source: control
    // chars / U+FFFD / mojibake battery + composition ppms — the
    // pre-curation transcode screen (zeros on a clean corpus ARE the
    // readout; the spec plants damage).
    "q248_encoding_audit" -> ((s, d) =>
      Corpus.encodingAudit(Tables.documents(s, d), "text", "source")),

    // Bucketed-jackknife variance for the A/B mean difference: the
    // delete-one-group standard error real experiment platforms use at
    // scale (replicates from a G-row bucket table, never a resample).
    "q247_jackknife" -> ((s, d) =>
      Experiment.jackknifeDiff(Tables.events(s, d), "user_id",
        "event_type", "value", metricType = "purchase", buckets = 16)),

    // Brier score + Murphy decomposition: the proper-scoring-rule
    // readout over the quantized quality score — REL − RES + UNC with
    // exact quotient/remainder splits, floor drift surfaced as the gap.
    "q246_brier" -> ((s, d) =>
      ml.Eval.brierDecomposition(scoredDocs(s, d), "score_q", "label",
        scale = 10000L)),

    // Binary (sign-bit) quantization ANN: 1 bit/dim packed into 32-bit
    // words, similarity = XOR + popcount — integer-exact end to end, the
    // 32×-compression rung below SQ8/PQ.
    "q244_binary_ann" -> ((s, d) =>
      Quantize.hammingTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", queryId = 3L, k = 20)),

    // Two-stage binary retrieval: 64-wide Hamming shortlist, exact
    // cosine re-rank — only shortlist rows pay full-precision work.
    "q245_binary_rerank" -> ((s, d) =>
      Quantize.hammingRerankTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", queryId = 3L, candidates = 64, k = 10)),

    // l-diversity audit: the homogeneity-attack screen k-anonymity
    // misses — nation×segment groups whose customers' balance band is
    // too uniform leak the band even at k-safe group sizes.
    "q241_l_diversity" -> ((s, d) =>
      Analytics.lDiversityRisk(Tables.customer(s, d),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        Seq("nation", "segment"),
        expr("CAST(floor(c_acctbal / 2000) AS BIGINT)"), l = 5L)),

    // Markov removal-effect attribution: the data-driven rung of the
    // attribution family — remove each channel and measure the
    // conversion collapse, ppm-floored power iteration pinned at 8 steps
    // so the DuckDB oracle unrolls the identical arithmetic.
    "q240_markov_attribution" -> ((s, d) =>
      Sessions.markovAttribution(eventsUs(s, d), "user_id", "ts_us",
        "event_id", "event_type", convChannel = "purchase", iters = 8)),

    // Exact isotonic (PAV) calibration WITHOUT the sequential PAV: the
    // minimax identity turns the pooling into prefix sums + a bounded
    // O(points²) pair join + one running-min window — SQL a DuckDB
    // oracle replays bit-for-bit. 201 calibration points (score_q/50).
    "q239_isotonic" -> ((s, d) =>
      ml.Eval.isotonicCalibration(
        scoredDocs(s, d).select(expr("score_q div 50").as("score_pt"),
          col("label")),
        "score_pt", "label", maxPoints = 256L)),

    // The warehouse as a SQL catalog: CREATE TABLE ... PARTITIONED BY
    // (bucket(...)), INSERT INTO, and the aggregate — all through
    // spark.sql against the registered WarehouseCatalog.
    "q237_sql_catalog" -> ((s, d) => {
      useCatalog(s)
      val ns = "c" + (d.hashCode.toLong & 0xffffffffL)
      new java.io.File(catalogRoot, ns).mkdirs()
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_t")
      s.sql(s"CREATE TABLE graft.$ns.orders_t (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) " +
        "PARTITIONED BY (bucket(4, o_custkey))")
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("graft_q237_src")
      s.sql(s"INSERT INTO graft.$ns.orders_t SELECT * FROM graft_q237_src")
      s.sql(s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
                FROM graft.$ns.orders_t GROUP BY o_orderstatus""")
    }),

    // Storage-partitioned join on a bucket TRANSFORM layout — the SPJ
    // family's third rung (q181 identity, q204 multi-column + mismatched
    // value sets, this one hashed buckets): the catalog's bucket function
    // resolves both scans' bucket(4,·) keys, the join AND the per-key
    // aggregate ride the layout, and the in-query gate proves the plan
    // holds zero Exchange.
    "q238_bucket_spj" -> ((s, d) => {
      useCatalog(s)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val ns = "c" + (d.hashCode.toLong & 0xffffffffL)
      new java.io.File(catalogRoot, ns).mkdirs()
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.ord_b")
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.cust_b")
      s.sql(s"CREATE TABLE graft.$ns.ord_b (o_custkey BIGINT, " +
        "o_totalprice DOUBLE) PARTITIONED BY (bucket(4, o_custkey))")
      s.sql(s"CREATE TABLE graft.$ns.cust_b (c_custkey BIGINT, " +
        "c_mktsegment STRING) PARTITIONED BY (bucket(4, c_custkey))")
      Tables.orders(s, d).select("o_custkey", "o_totalprice")
        .createOrReplaceTempView("graft_q238_o")
      Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .createOrReplaceTempView("graft_q238_c")
      s.sql(s"INSERT INTO graft.$ns.ord_b SELECT * FROM graft_q238_o")
      s.sql(s"INSERT INTO graft.$ns.cust_b SELECT * FROM graft_q238_c")
      val prevBroadcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q = s.sql(
          s"""SELECT o.o_custkey AS custkey, max(c.c_mktsegment) AS segment,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents
              FROM graft.$ns.ord_b o JOIN graft.$ns.cust_b c
                ON o.o_custkey = c.c_custkey
              GROUP BY o.o_custkey""")
        require(!q.queryExecution.executedPlan.toString.contains("Exchange"),
          "bucket-transform SPJ must plan zero Exchange")
        // pin the result before the confs are restored below
        Materialize.transient(q)
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }),

    // Hidden (transform) partitioning: bucket(8, c_custkey) layout, then
    // a point-lookup batch that PROVES the transform pruning in-plan —
    // a hash bucket's raw min/max spans everything, so only the recorded
    // per-file bucket value can prune; the require gates on it.
    "q236_bucket_lookup" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_bkt_")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .coalesce(1)
        .write.format(fmt).option("path", dir)
        .option("partitionBy", "bucket(8,c_custkey)")
        .mode("overwrite").save()
      val keys = Seq(7L, 19L, 83L)
      val q = s.read.format(fmt).option("path", dir).load()
        .filter(col("c_custkey").isin(keys: _*))
      // 8 one-bucket files on disk; ≤3 distinct buckets among the keys —
      // the scan must plan at most that many partitions
      require(q.rdd.getNumPartitions <= 3,
        s"bucket pruning failed: ${q.rdd.getNumPartitions} partitions planned")
      q.select(col("c_custkey"), col("c_name"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
    }),

    // EWMA forecast backtest: exponential smoothing made oracle-exact by
    // dyadic weights — S = Σ y_lag·2^(20-lag), forecast = S div (2^20−1),
    // pure integer arithmetic both engines replay bit-for-bit.
    "q235_ewma_backtest" -> ((s, d) =>
      Analytics.ewmaBacktest(eventsUs(s, d), "event_type", "ts_us", 20)),

    // Holt level+trend one-step backtest (α=0.3, β=0.1 in milli): the
    // genuinely sequential per-series fold in micro fixed point, oracle
    // = the identical recursion as a recursive CTE.
    "q360_holt_backtest" -> ((s, d) =>
      Analytics.holtBacktest(eventsUs(s, d), "event_type", "ts_us",
        alphaMilli = 300L, betaMilli = 100L)),

    // Gopher/C4 heuristic curation-rule audit: the published hard-filter
    // battery as a per-source profile — every ratio tested by integer
    // cross-multiplication, so the oracle replays it exactly.
    "q234_curation_rules" -> ((s, d) =>
      Corpus.curationRules(Tables.documents(s, d), "text", "source")),

    // Merge-on-read DELETE: two overlapping deletion-vector deletes (the
    // second merges vectors on shared files), zero data files rewritten,
    // then an aggregate read through the vectors. The CoW twin is q165.
    "q233_mor_delete" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_mordel_")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThan}
      graft.sources.WarehouseSink.deleteWhereMoR(s, dir,
        Seq(GreaterThan("o_totalprice", 250000.0)))
      graft.sources.WarehouseSink.deleteWhereMoR(s, dir,
        Seq(GreaterThanOrEqual("o_orderkey", 1000L),
          LessThan("o_orderkey", 3000L)))
      // the merge-on-read CONTRACT: both deletes left every file in place
      val hist = graft.sources.WarehouseSink.history(s, dir)
        .select("version", "operation", "n_files")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      require(hist.count(_._2 == "delete_mor") == 2 &&
        hist.map(_._3).distinct.length == 1,
        "MoR delete must not rewrite data files")
      s.read.format(fmt).option("path", dir).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),

    // k-core of the co-purchase graph (sparser 1-in-17 sample so the
    // peel genuinely cascades): the cohesive backbone between q46's
    // components and q209's triangles. Convergence short-circuit is
    // replay-safe (peeling is monotone: a no-op round stays no-op).
    "q229_kcore" -> ((s, d) => {
      val items = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 17 === 0)
        .select(col("l_orderkey").as("graft_o"),
          col("l_partkey").as("graft_i")).distinct()
      val a = items.select(col("graft_o"), col("graft_i").as("pa"))
      val b = items.select(col("graft_o"), col("graft_i").as("pb"))
      val edges = a.join(b, Seq("graft_o"))
        .filter(col("pa") < col("pb")).select("pa", "pb")
      Graph.kCore(edges, "pa", "pb", k = 4, maxRounds = 8)
    }),

    // Cumulative gains / lift by score decile: the campaign-targeting
    // readout over q167's scored substrate — groups-atomic buckets so
    // score ties never split nondeterministically.
    "q226_gains" -> ((s, d) =>
      ml.Eval.gainsChart(scoredDocs(s, d), "score_q", "label", tiles = 10)),

    // PCA projection: exact-integer covariance moments (one map-side
    // typed aggregate) -> driver power iteration -> map-side projection.
    // Rows-only by declared contract (no SQL engine can replay the
    // eigensolve); PcaSpec pins planted-axis recovery and determinism.
    "q227_pca" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = ml.Pca.fit(emb, "embedding", dim = 64, k = 2)
      ml.Pca.transform(emb, "vec_id", "embedding", model)
    }),

    // Frame-sample schedule over the real MP4 duration decode: the
    // planning half of video frame extraction, oracle-checked (decode of
    // scheduled frames stays behind the documented codec stand-in).
    "q228_frame_schedule" -> ((s, d) => {
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
      multimodal.Binary.frameSchedule(
        multimodal.Binary.extractVideoMeta(media).toDF(),
        "media_id", "duration_ms", stepMs = 400L, maxFrames = 5)
    }),

    // Zero-copy clone: hard-linked files, fresh manifest chain; the two
    // tables then DIVERGE under copy-on-write DML, and the source is
    // VACUUMED after its own DML — the clone's links must keep every
    // shared byte alive (the claim path-based shallow clones can't make).
    "q225_clone" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val W = graft.sources.WarehouseSink
      val src = tempTableDir("graft_clone_")
      val dst = src + "/cl"
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format(fmt).option("path", src).mode("overwrite").save()
      W.cloneTable(src, dst)
      W.deleteWhere(s, dst, Seq(
        org.apache.spark.sql.sources.GreaterThan("o_totalprice", 300000.0)))
      W.deleteWhere(s, src, Seq(
        org.apache.spark.sql.sources.LessThan("o_totalprice", 50000.0)))
      W.vacuum(src, keepVersions = 1)
      def side(dir: String, tag: String) =
        s.read.format(fmt).option("path", dir).load()
          .agg(count(lit(1)).as("n_rows"),
            sum(floor(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"))
          .withColumn("side", lit(tag))
      side(src, "source").unionByName(side(dst, "clone"))
    }),

    // Exact ACF: calendar-lag 1-3 autocorrelation of daily volume per
    // event type — integer deviation products, no sqrt (the n² factors
    // cancel), the forecaster's first readout next to q210's backtest.
    "q218_acf" -> ((s, d) =>
      Analytics.acf(eventsUs(s, d), "event_type", "ts_us", maxLag = 3)),

    // CUSUM changepoint: the day each series' cumulative mean-deviation
    // peaks — "did the level shift, and when", exact integer sweep.
    "q219_cusum" -> ((s, d) =>
      Analytics.cusumChangepoint(eventsUs(s, d), "event_type", "ts_us")),

    // Kendall tau-b over the bounded daily (activity, spend) table —
    // the pair-concordance twin of q203's Spearman.
    "q220_kendall" -> ((s, d) =>
      Analytics.kendallTau(
        Tables.events(s, d)
          .groupBy(expr("(ts div 1000) div 86400000000").as("graft_day"))
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents")),
        "n_events", "cents")),

    // Stratified EXACT-quota split: per source, exactly floor(80%) to
    // train by md5 rank — the per-stratum guarantee q43/q151's
    // independent hashing can only approximate. Readout pins membership
    // (xor of doc ids), not just counts.
    "q221_stratified_split" -> ((s, d) =>
      Corpus.stratifiedSplit(Tables.documents(s, d), "doc_id", "source",
          seed = 7L, trainPct = 80)
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(doc_id)").as("id_xor"))),

    // Blocked fuzzy matching, oracle-checked: levenshtein <= 3 name
    // pairs on the DISTINCT-name substrate (64 names stand in for 20k
    // parts — the dedup discipline), first-token blocking, pair volume
    // recovered by count arithmetic.
    "q222_fuzzy_pairs" -> ((s, d) => {
      val names = Tables.part(s, d).groupBy("p_name")
        .agg(count(lit(1)).as("graft_n"))
      val pairs = Dedup.fuzzyNameMatch(names, "p_name", "p_name", maxDist = 3)
      pairs
        .join(names.select(col("p_name").as("id1"),
          col("graft_n").as("graft_n1")), Seq("id1"))
        .join(names.select(col("p_name").as("id2"),
          col("graft_n").as("graft_n2")), Seq("id2"))
        .select(col("id1").as("name_1"), col("id2").as("name_2"),
          col("dist"), (col("graft_n1") * col("graft_n2")).as("n_pairs"))
    }),

    // TRUE Damerau-Levenshtein pairs (native Lowrance-Wagner
    // expression): swaps cost 1 where plain levenshtein charges 2 —
    // both distances reported side by side so the transposition mass
    // is visible; oracle = DuckDB's own damerau_levenshtein.
    "q367_damerau_pairs" -> ((s, d) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val n = Tables.part(s, d).select("p_name").distinct()
        .select(col("p_name"), split(col("p_name"), " ").getItem(0).as("blk"))
      val a = n.select(col("blk"), col("p_name").as("name_1"))
      val b = n.select(col("blk"), col("p_name").as("name_2"))
      a.join(b, Seq("blk")).filter(col("name_1") < col("name_2"))
        .withColumn("dl_dist", ColumnBridge.column(
          graft.functions.DamerauLevenshtein(
            ColumnBridge.expression(col("name_1")),
            ColumnBridge.expression(col("name_2")))).cast("long"))
        .filter(col("dl_dist") <= 3)
        .select(col("name_1"), col("name_2"), col("dl_dist"),
          levenshtein(col("name_1"), col("name_2")).cast("long")
            .as("lev_dist"))
    }),

    // Jaro-Winkler graded fuzzy pairs (native codegen'd expression,
    // first-token blocking): the length-normalized record-linkage score
    // next to q222's levenshtein distance; oracle = DuckDB's own
    // jaro_winkler_similarity, bit-matched at 6 dp.
    "q363_jw_pairs" -> ((s, d) =>
      Dedup.jwNameMatch(Tables.part(s, d).select("p_name").distinct(),
        "p_name", "p_name", minJw = 0.85, maxBlock = 100000L)
        .select(col("id1").as("name_1"), col("id2").as("name_2"),
          col("jw"))),

    // Peak concurrent sessions per day via the sweep-line: the k-way
    // overlap readout a pair join can't produce — capacity planning on
    // top of q38's sessions.
    "q223_peak_concurrency" -> ((s, d) =>
      Sessions.peakConcurrency(
        Sessions.sessionize(eventsUs(s, d), "user_id", "ts_us",
          "event_id", gapUs = 1800L * 1000000L),
        expr("start_us div 86400000000").as("graft_day"),
        "start_us", "end_us")),

    // Time-weighted average value per event type: trapezoid over the
    // irregular event times in exact centi-units — the gauge-stream
    // mean a plain AVG gets wrong.
    "q224_twa" -> ((s, d) =>
      Analytics.timeWeightedAvg(eventsUs(s, d), "event_type", "ts_us",
        "event_id", "value")),

    // Per-source curation funnel: how many documents survive each
    // pipeline stage (raw -> quality gate -> exact dedup -> decontam ->
    // token budget) — the stage-attrition readout published next to the
    // q140 end-to-end build, from the same proven operators.
    "q217_curation_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isTest = col("doc_id") % 97 === 0
      val train = docs.filter(!isTest)
      val qual = train.filter(T.qualityScore(col("text")) >= 0.5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("graft_fp").orderBy(col("doc_id").asc)
      val surv = qual
        .withColumn("graft_fp", T.fingerprint(col("text")))
        .withColumn("graft_rk", row_number().over(w))
        .filter(col("graft_rk") === 1)
        .drop("graft_fp", "graft_rk")
      val keep = Corpus.decontaminate(
        docs.filter(isTest).unionByName(surv), "doc_id", "text", isTest, 3)
      val clean = surv.join(keep, Seq("doc_id"), "left_semi")
      val budget = Corpus.tokenBudgetCap(clean, "doc_id", "text",
        "source", 800L)
      def cnt(df: DataFrame, name: String) =
        df.groupBy("source").agg(count(lit(1)).as(name))
      cnt(train, "n_raw")
        .join(cnt(qual, "n_quality"), Seq("source"), "left_outer")
        .join(cnt(surv, "n_dedup"), Seq("source"), "left_outer")
        .join(cnt(clean, "n_clean"), Seq("source"), "left_outer")
        .join(cnt(budget, "n_budget"), Seq("source"), "left_outer")
        .na.fill(0L)
    }),

    // Near-dup threshold sensitivity sweep: how many pairs each Jaccard
    // cutoff would merge — the tuning table a dedup rollout reads before
    // picking its threshold. Rides the memoized q20 pair-stats substrate
    // (the shingle self-join runs once per corpus); integer ppm cutoffs.
    "q216_dedup_sweep" -> ((s, d) => {
      import s.implicits._
      val ts = Seq(200000L, 300000L, 400000L, 500000L, 600000L,
        700000L, 800000L, 900000L).toDF("threshold_ppm")
      pairStats(s, d)
        .withColumn("graft_jac",
          expr("inter * 1000000 div (n1 + n2 - inter)"))
        .crossJoin(broadcast(ts))
        .filter(col("graft_jac") >= col("threshold_ppm"))
        .groupBy("threshold_ppm")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("threshold_ppm")
    }),

    // Perceptual image hashing (aHash): deterministic 16x12 PNGs whose
    // seed collides every 17 docs, hashed through the REAL pixel decode
    // (8x8 sample grid, integer grayscale, strict-above-mean bits) and
    // grouped — the image leg of exact dedup; identical renders hash
    // identically, so group sizes replay arithmetically.
    "q215_image_phash" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val png = multimodal.Binary.synthPng(16, 12, (id % 17L).toInt)
          (id, multimodal.Binary.aHash64(png).getOrElse(-1L))
        }
        .toDF("doc_id", "ahash")
        .groupBy("ahash")
        .agg(count(lit(1)).as("n_images"), min("doc_id").as("min_doc"))
    }),

    // Benchmark-contamination report: per train doc, the ppm of its
    // distinct 3-gram shingles found in the held-out split — the graded
    // audit next to q67's boolean drop.
    "q214_contamination" -> ((s, d) =>
      Corpus.contaminationReport(Tables.documents(s, d), "doc_id", "text",
        isTest = col("doc_id") % 97 === 0, n = 3, topK = 25)),

    // Exact nDCG@10 retrieval eval: per query term, the BM25 ranking's
    // discounted gain vs the ideal gain ordering — integer discount
    // constants (the spec'd log2 table), graded gain = raw tf,
    // ndcg_ppm exact.
    "q213_ndcg" -> ((s, d) =>
      Search.ndcgAtK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("join", "vector", "slow", "data"), k = 10)),

    // MRR@10 + recall@10: binary relevance (tf >= 2) judged against the
    // BM25 ranking — the remaining legs of the retrieval-eval panel.
    "q344_mrr_recall" -> ((s, d) =>
      Search.mrrRecallAtK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("join", "vector", "slow", "data"), k = 10,
        minTf = 2)),

    // Matryoshka retrieval agreement: exact top-10 under the full
    // 64-dim embedding vs under its first 16 dims, overlap@k floor-ppm
    // per query — the dimension-truncation eval before shipping shorter
    // vectors.
    "q211_matryoshka" -> ((s, d) =>
      Similarity.prefixDimAgreement(Tables.embeddings(s, d), "vec_id",
        "embedding", queryIds = Seq(0L, 7L, 21L, 42L, 63L), k = 10,
        mDims = 16)),

    // kNN label-noise audit: per label, mean k-neighbor label agreement
    // over a deterministic probe sample + suspect count — the
    // Confident-Learning-style curation screen.
    "q212_label_noise" -> ((s, d) =>
      Similarity.labelAgreement(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", probePred = col("vec_id") % 7 === 0,
        k = 10)),

    // Seasonal-naive forecast backtest: per event type, is the weekly
    // shape predictive — floor-mean same-weekday forecast vs the
    // previous-day naive, exact floor-milli MAEs over observed days.
    "q210_seasonal_backtest" -> ((s, d) =>
      Analytics.seasonalBacktest(eventsUs(s, d), "event_type", "ts_us",
        k = 3)),

    // Triangle counting + local clustering coefficient on the
    // co-purchase graph (parts are neighbors when one order holds both):
    // degree-ordered orientation bounds wedge fan-out at O(sqrt(m)) per
    // node — hub parts can't explode the join — and the result is
    // orientation-independent, so the oracle replays with the simple
    // id-orientation. Any order of >= 3 lines contributes triangles.
    "q209_triangles" -> ((s, d) => {
      // Deterministic part sample (1-in-5): triangle counting is
      // O(wedges) by nature — the sample keeps the bench query's wedge
      // volume proportionate while the operator itself stays general
      // (the same predicate bounds it identically at any scale).
      val items = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey").as("graft_o"),
          col("l_partkey").as("graft_i")).distinct()
      val a = items.select(col("graft_o"), col("graft_i").as("pa"))
      val b = items.select(col("graft_o"), col("graft_i").as("pb"))
      val edges = a.join(b, Seq("graft_o"))
        .filter(col("pa") < col("pb"))
        .select("pa", "pb")
      Graph.triangleStats(edges, "pa", "pb")
        .orderBy(col("n_triangles").desc, col("node").asc)
        .limit(50)
    }),

    // Newman modularity of the brand partition over the part
    // co-purchase graph (q209's sampled edge substrate): per-brand
    // intra-edge mass vs the degree-preserving random expectation, in
    // exact integer ppm — the quality readout any community detection
    // or attribute grouping gets scored with.
    "q354_modularity" -> ((s, d) => {
      val items = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey").as("graft_o"),
          col("l_partkey").as("graft_i")).distinct()
      val a = items.select(col("graft_o"), col("graft_i").as("pa"))
      val b = items.select(col("graft_o"), col("graft_i").as("pb"))
      val edges = a.join(b, Seq("graft_o"))
        .filter(col("pa") < col("pb"))
        .select("pa", "pb").distinct()
      Graph.modularity(edges, "pa", "pb",
        Tables.part(s, d).filter(col("p_partkey") % 5 === 0),
        "p_partkey", "p_brand")
    }),

    // CDF-DRIVEN incremental aggregate maintenance — the composition the
    // row-level feed exists for: an aggregate view starts from the v0
    // snapshot and folds ONLY the change images of the q205 DML chain
    // (insert/update_postimage add, delete/update_preimage retract);
    // the result must equal the ground-truth aggregate over the FINAL
    // table state, which the oracle reconstructs relationally. The view
    // never rescans the table — per-DML cost is O(changed rows).
    "q208_cdf_refresh" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_cdfr_")
      graft.sources.WarehouseSink.enableChangeFeed(dir)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format(fmt).option("path", dir).mode("overwrite").save() // v0
      graft.sources.WarehouseSink.deleteWhere(s, dir,
        Seq(org.apache.spark.sql.sources.GreaterThan("o_totalprice",
          450000.0))) // v1
      graft.sources.WarehouseSink.updateWhere(s, dir,
        Seq(org.apache.spark.sql.sources.LessThan("o_totalprice", 50000.0)),
        Map("o_orderstatus" -> lit("X"))) // v2
      graft.sources.WarehouseSink.merge(s, dir,
        Tables.orders(s, d)
          .filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
            col("o_totalprice")),
        Seq("o_orderkey")) // v3
      val cents = floor(col("o_totalprice") * 100).cast("long")
      val base = s.read.format(fmt).option("path", dir)
        .option("versionAsOf", "0").load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("graft_n"), sum(cents).as("graft_c"))
      val deltas = graft.sources.WarehouseSink.tableChanges(s, dir, 0L, 3L)
        .withColumn("graft_sign",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("o_orderstatus")
        .agg(sum(col("graft_sign")).as("graft_dn"),
          sum(col("graft_sign") * cents).as("graft_dc"))
      base.join(deltas, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("graft_n"), lit(0L)) +
            coalesce(col("graft_dn"), lit(0L))).as("n_orders"),
          (coalesce(col("graft_c"), lit(0L)) +
            coalesce(col("graft_dc"), lit(0L))).as("sum_cents"))
        .filter(col("n_orders") > 0)
    }),

    // Filtered search INSIDE the index probe: q195's pre-filter semantics
    // with q61's exactness-guaranteed cell pruning — the predicate runs
    // below scoring in every probed cell, so the result provably equals
    // pre-filtered brute force (the oracle) while the scan still reads
    // only the cells the bound admits (probe-count spec-pinned).
    "q207_filtered_ivf" -> ((s, d) =>
      Similarity.ivfTopKExactFiltered(ivfIdx(s, d), "vec_id", "embedding",
        queryId = 7L, k = 10, predicate = col("label") === 1)),

    // REAL PNG pixel pipeline (no stub): deterministic 8-bit truecolor
    // PNGs synthesized per doc with ROTATING row filters (all five types
    // land across the corpus), nearest-neighbor resized to 6x4 through
    // the Inflater+unfilter decode path, re-encoded, RE-decoded — the
    // corner pixels are integer functions of doc_id the oracle replays,
    // so a hash match proves the full zlib+filter codec round trip.
    "q206_png_resize" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, src) =>
          multimodal.Binary.MediaRecord(id, "image",
            multimodal.Binary.synthPng(
              width = (10 + (id % 7) * 2).toInt,
              height = (8 + (id % 5) * 2).toInt,
              seed = (id % 97).toInt), src)
        }
      multimodal.Binary.resizeImages(media, outW = 6, outH = 4)
        .map { r =>
          multimodal.Binary.pngDecode(r.bytes) match {
            case Some((w, h, px)) =>
              def at(x: Int, y: Int, c: Int): Int = px((y * w + x) * 3 + c) & 0xff
              (r.media_id, w, h, at(0, 0, 0), at(0, 0, 1), at(0, 0, 2),
                at(w - 1, h - 1, 0), at(w - 1, h - 1, 1), at(w - 1, h - 1, 2))
            case None => (r.media_id, -1, -1, -1, -1, -1, -1, -1, -1)
          }
        }
        .toDF("media_id", "width", "height", "first_r", "first_g", "first_b",
          "last_r", "last_g", "last_b")
    }),

    // Row-level change data feed through the DML triad: a CDF-enabled
    // warehouse table takes a DELETE, an UPDATE, and a MERGE;
    // tableChanges(0, 3) replays every change IMAGE (delete /
    // update_preimage / update_postimage / insert) from the captured
    // change files — never a generation diff — and the readout
    // aggregates images per (version, type). The oracle reconstructs
    // the same images relationally from the op definitions.
    "q205_change_feed" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      val dir = tempTableDir("graft_cdfq_")
      graft.sources.WarehouseSink.enableChangeFeed(dir)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format(fmt).option("path", dir).mode("overwrite").save() // v0
      graft.sources.WarehouseSink.deleteWhere(s, dir,
        Seq(org.apache.spark.sql.sources.GreaterThan("o_totalprice",
          450000.0))) // v1
      graft.sources.WarehouseSink.updateWhere(s, dir,
        Seq(org.apache.spark.sql.sources.LessThan("o_totalprice", 50000.0)),
        Map("o_orderstatus" -> lit("X"))) // v2
      graft.sources.WarehouseSink.merge(s, dir,
        Tables.orders(s, d)
          .filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
            col("o_totalprice")),
        Seq("o_orderkey")) // v3
      graft.sources.WarehouseSink.tableChanges(s, dir, 0L, 3L)
        .groupBy(col("_commit_version").as("v"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
          sum((col("o_orderstatus") === "X").cast("long")).as("n_x"),
          sum((col("o_orderstatus") === "M").cast("long")).as("n_m"))
    }),

    // Two-column storage-partitioned join with MISMATCHED value sets:
    // both warehouse tables laid out one-file-per-(status, priority)
    // tuple; the right side holds only non-'P' tuples, so a zero-
    // Exchange join needs pushPartValues (Spark pads the missing
    // groups). The shuffle-free plan itself is spec-asserted in
    // WarehouseSinkSpec; this query hash-checks the joined result
    // against a plain relational replay. The two bucketing confs are
    // session-safe: they only activate on DSv2 scans that REPORT
    // KeyGroupedPartitioning — exactly the warehouse layout.
    "q204_spj_multicol" -> ((s, d) => {
      val fmt = "graft.sources.WarehouseSink"
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val aDir = tempTableDir("graft_spja_")
      val bDir = tempTableDir("graft_spjb_")
      Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice"))
        .write.format(fmt).option("path", aDir)
        .option("partitionBy", "o_orderstatus,o_orderpriority")
        .mode("overwrite").save()
      Tables.orders(s, d).filter(col("o_orderstatus") =!= "P")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_right"))
        .write.format(fmt).option("path", bDir)
        .option("partitionBy", "o_orderstatus,o_orderpriority")
        .mode("overwrite").save()
      val a = s.read.format(fmt).option("path", aDir).load()
      val b = s.read.format(fmt).option("path", bDir).load()
      a.join(b, Seq("o_orderstatus", "o_orderpriority"))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
          max("n_right").as("n_right"))
    }),

    // Spearman: do more-active users spend monotonically more — rank
    // correlation of per-user event count vs centi-spend, exact
    // midranks, q84's bit-stable assembly.
    "q203_spearman" -> ((s, d) =>
      Analytics.spearman(
        Tables.events(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents")),
        "n_events", "cents")),

    // Conversion by session ordinal: does the first visit or a later one
    // convert — gap-sessions, per-user ordinal (5+ tail bucket),
    // floor-ppm rates.
    "q202_session_conversion" -> ((s, d) =>
      Sessions.conversionBySessionOrdinal(eventsUs(s, d), "user_id",
        "ts_us", "event_id", "event_type", convType = "purchase",
        gapUs = 1800L * 1000000L, maxOrdinal = 4)),

    // Market-basket pairs: co-purchased parts by support + integer lift
    // — pair fan-out bounded by basket size (≤7 lines per order), never
    // the corpus.
    "q201_basket_pairs" -> ((s, d) =>
      Analytics.basketPairs(Tables.lineitem(s, d), "l_orderkey",
        "l_partkey", minSupport = 2L, k = 20)),

    // The stats panel: five one-row testing readouts (attribution rate,
    // AUC, CUPED adjusted diff, ANOVA η², KS distance) unioned into one
    // labeled metrics table — the dashboard row a pipeline health check
    // publishes per run; its oracle composes the members' proven SQL.
    "q200_stats_panel" -> ((s, d) => {
      def one(metric: String, df: DataFrame, valueCol: String): DataFrame =
        df.select(lit(metric).as("metric"), col(valueCol).as("value_ppm"))
      Seq(
        one("attr_ppm",
          Sessions.lastTouchAttribution(eventsUs(s, d), "user_id", "ts_us",
            "event_id", "event_type", "view", "purchase",
            7L * 86400L * 1000000L), "attr_ppm"),
        one("auc_ppm", ml.Eval.rocAuc(scoredDocs(s, d), "score_q", "label"),
          "auc_ppm"),
        one("cuped_adj_diff_ppm",
          Experiment.cuped(eventsUs(s, d), "user_id", "event_type", "value",
            "ts_us", "purchase", 1705363200000000L), "adj_diff_ppm"),
        one("eta2_ppm",
          Analytics.varianceDecomposition(Tables.events(s, d), "event_type",
            "value"), "eta2_ppm"),
        one("ks_ppm",
          Analytics.ksTest(
            Tables.events(s, d).filter(col("event_type") === "purchase"),
            substring(md5(col("user_id").cast("string")), 1, 1) < "8",
            "value"), "ks_ppm"))
        .reduce(_ unionByName _)
    }),

    // Two-sample KS distance between the hash arms' purchase values:
    // did the DISTRIBUTION shift, not just the mean — exact D in ppm.
    "q198_ks_test" -> ((s, d) =>
      Analytics.ksTest(
        Tables.events(s, d).filter(col("event_type") === "purchase"),
        sideCol = substring(md5(col("user_id").cast("string")), 1, 1) < "8",
        "value")),

    // Chi-square independence of event type × weekday: the categorical
    // sibling of q196, exact floor-milli per contingency cell.
    "q197_chi_square" -> ((s, d) =>
      Analytics.chiSquare(
        Tables.events(s, d)
          .select(col("event_type"), (dayofweek(col("ts_t")) - 1).as("dow")),
        "event_type", "dow")),

    // Benford first-significant-digit profile of order totals: observed
    // digit shares in floor-ppm next to the Benford expectation — the
    // classic forensic screen for fabricated numerics.
    "q192_benford" -> ((s, d) =>
      Tables.orders(s, d)
        .select(regexp_extract(col("o_totalprice").cast("string"),
          "[1-9]", 0).as("digit"))
        .filter(col("digit") =!= "")
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("share_ppm",
          expr("n * 1000000 div sum(n) OVER ()"))),

    // pass@k (Chen et al. 2021): per-task falling-factorial rational,
    // exact integers; tasks = customers, attempts = orders, a planted
    // correctness rule both engines replay.
    "q407_pass_at_k" -> ((s, d) =>
      ml.Eval.passAtK(Tables.orders(s, d), "o_custkey",
        col("o_orderkey") % 3 === 0, ks = Seq(1, 3, 5))),

    // Luhn-validated card scrub: even docs get a REAL checksum-valid
    // 16-digit PAN (check digit computed, not hand-typed), odd docs the
    // same number with the checksum broken (+1 mod 10) — the scrub must
    // mask exactly the valid ones; DuckDB recomputes the check digit
    // with its own digit arithmetic, so the md5 proves the mask.
    "q408_luhn_scrub" -> ((s, d) => {
      import s.implicits._
      val planted = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val body = "4" + ("%014d".format(id % 100000000000000L))
          val check = graft.functions.Luhn.checkDigit(body)
          val digits =
            if (id % 2 == 0) body + check.toString
            else body + ((check + 1) % 10).toString
          (id, s"$text card $digits ok")
        }.toDF("doc_id", "text")
      planted.select(col("doc_id"),
        T.cardScrub(col("text")).as("graft_scrubbed"))
        .select(col("doc_id"),
          (regexp_count(col("graft_scrubbed"), lit("<CARD>")))
            .cast("long").as("n_masked"),
          md5(col("graft_scrubbed")).as("scrub_md5"))
    }),

    // URL blocklist gate (the C4 pre-fetch stage): five planted URL
    // shapes exercise exact-host, suffix (subdomain + apex), path, the
    // userinfo/port normalization, and the admit path; the verdict
    // names the rule that fired.
    "q409_url_filter" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("https://ads.tracker.example/x/"), col("doc_id")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("https://user:pw@Good.Example.org:8443/page/"),
              col("doc_id")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("https://sub.spam.example/y/"), col("doc_id")))
          .when(col("doc_id") % 5 === 3,
            concat(lit("https://good.example.org/ads/banner?id="),
              col("doc_id")))
          .otherwise(concat(lit("https://spam.example/z/"), col("doc_id")))
          .as("url"))
      Corpus.urlFilter(planted, "url",
        bannedHosts = Seq("ads.tracker.example"),
        bannedSuffixes = Seq("spam.example"),
        bannedPathPrefixes = Seq("/ads/"))
        .select(col("doc_id"), col("host"), col("path"),
          col("verdict"), col("rule"))
    }),

    // HTML head-metadata extraction: title / og:title / canonical /
    // lang, with one field dropped per doc_id class to pin the NULL
    // (absent ≠ empty) contract.
    "q410_html_meta" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html lang=\"en-US\"><head>"),
        when(col("doc_id") % 4 =!= 1,
          concat(lit("<title> Doc  "), col("doc_id"),
            lit(" title </title>"))).otherwise(lit("")),
        when(col("doc_id") % 4 =!= 2,
          concat(lit("<meta property=\"og:title\" content=\"OG "),
            col("doc_id"), lit("\"/>"))).otherwise(lit("")),
        when(col("doc_id") % 4 =!= 3,
          concat(lit("<link rel=\"canonical\" href=\"https://ex.org/c/"),
            col("doc_id"), lit("\"/>"))).otherwise(lit("")),
        lit("</head><body><p>b</p></body></html>")).as("html"))
      Corpus.htmlMeta(planted, "doc_id", "html")
    }),

    // Line-wise filtering (the RefinedWeb stage): five planted lines
    // per doc trip exactly one rule each — boilerplate, too-short,
    // punct-heavy, within-doc duplicate — and the reassembled clean
    // text is the surviving body line, md5-proven.
    "q411_line_filter" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit("\nclick here\na\n!!!???!!!???\n"),
          col("text")).as("text"))
      Corpus.lineFilter(planted, "doc_id", "text",
        minChars = 10, maxPunctPct = 30,
        boilerplate = Seq("click here"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // Context-window truncation bill with the REAL BPE tokenizer: per
    // (source, context length), docs over the limit and exact tokens
    // lost — the "what does L buy us" table read before picking a
    // sequence length; the disjoint-merge closed form replays in SQL.
    "q412_truncation_loss" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          Vocab.bpeTokenCount(col("text"), Vocab.DisjointMerges)
            .as("graft_n"))
        .withColumn("context_len", explode(typedLit(Seq(64L, 128L))))
        .groupBy("source", "context_len")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum((col("graft_n") > col("context_len")).cast("long"))
            .cast("long").as("docs_over"),
          sum(greatest(col("graft_n") - col("context_len"), lit(0L)))
            .cast("long").as("tokens_lost"))),

    // T5 span-corruption example builder: portable-hash noise selection
    // at 15% (3/20), sentinel-collapsed input + sentinel-keyed target,
    // both sides md5-proven against DuckDB's own assembly.
    "q413_span_corruption" -> ((s, d) =>
      Corpus.spanCorruption(Tables.documents(s, d), "doc_id", "text")),

    // Fill-in-the-middle transform (Bavarian et al. 2022): two portable
    // md5 cut points split the normalized text into prefix/middle/
    // suffix, rendered in PSM sentinel order — the code-model training
    // objective's data prep, md5-proven end to end.
    "q414_fim_transform" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), T.normText(col("text")).as("graft_nt"))
        .withColumn("graft_len", length(col("graft_nt")))
        .withColumn("graft_c1", pmod(conv(substring(md5(concat_ws("",
          col("doc_id").cast("string"), lit(":a")).cast("binary")), 1, 12),
          16, 10).cast("long"), col("graft_len").cast("long")) + 1)
        .withColumn("graft_c2", pmod(conv(substring(md5(concat_ws("",
          col("doc_id").cast("string"), lit(":b")).cast("binary")), 1, 12),
          16, 10).cast("long"), col("graft_len").cast("long")) + 1)
        .withColumn("graft_lo", least(col("graft_c1"), col("graft_c2")))
        .withColumn("graft_hi", greatest(col("graft_c1"), col("graft_c2")))
        .select(col("doc_id"),
          (col("graft_lo") - 1).cast("long").as("len_prefix"),
          (col("graft_hi") - col("graft_lo")).cast("long").as("len_middle"),
          (col("graft_len") - col("graft_hi") + 1).cast("long")
            .as("len_suffix"),
          md5(concat(lit("<PRE> "),
            substring(col("graft_nt"), lit(1), col("graft_lo") - 1),
            lit(" <SUF> "),
            substring(col("graft_nt"), col("graft_hi"),
              col("graft_len") - col("graft_hi") + 1),
            lit(" <MID> "),
            substring(col("graft_nt"), col("graft_lo"),
              col("graft_hi") - col("graft_lo")))).as("psm_md5"))),

    // Self-consistency / majority-vote eval (Wang et al. 2022): per
    // task the modal answer (count desc, answer asc tiebreak) against
    // the planted truth — the best-of-n readout next to q407's pass@k.
    "q415_self_consistency" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("graft_task")
        .orderBy(col("graft_n").desc, col("graft_ans").asc)
      Tables.orders(s, d)
        .select(col("o_custkey").as("graft_task"),
          (col("o_orderkey") % 5).cast("long").as("graft_ans"))
        .groupBy("graft_task", "graft_ans")
        .agg(count(lit(1)).as("graft_n"))
        .withColumn("graft_rn", row_number().over(w))
        .filter(col("graft_rn") === 1)
        .select(col("graft_task"), col("graft_ans"),
          (col("graft_task") % 5).cast("long").as("graft_truth"))
        .agg(count(lit(1)).cast("long").as("n_tasks"),
          sum((col("graft_ans") === col("graft_truth")).cast("long"))
            .cast("long").as("n_correct"))
        .withColumn("accuracy_ppm",
          expr("n_correct * 1000000 div n_tasks"))
    }),

    // Group-relative reward normalization (the GRPO/REINFORCE-baseline
    // data prep): per event type, z = (n·r − Σr)/√(n·Σr² − (Σr)²) —
    // integer inner terms, ONE IEEE sqrt, round(z, 6); deterministic
    // event-id slice keeps the per-attempt table compare-sized.
    "q416_reward_normalize" -> ((s, d) => {
      val rewards = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_id") % 23 === 0)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("reward_centi"))
      val dec = "decimal(38,0)"
      val mom = rewards.groupBy("event_type")
        .agg(count(lit(1)).cast(dec).as("graft_n"),
          sum(col("reward_centi")).cast(dec).as("graft_s"),
          sum(expr(s"CAST(reward_centi AS $dec) * reward_centi"))
            .as("graft_s2"))
      rewards.join(broadcast(mom), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("reward_centi"),
          expr("CASE WHEN graft_n * graft_s2 - graft_s * graft_s <= 0" +
            " THEN CAST(NULL AS DOUBLE)" +
            " ELSE round(CAST(graft_n * reward_centi - graft_s AS DOUBLE)" +
            "   / sqrt(CAST(graft_n * graft_s2 - graft_s * graft_s" +
            "     AS DOUBLE)), 6) END").as("advantage_z"))
    }),

    // Parent-pointer hierarchy flatten: a planted 10-ary forest
    // (parent = id div 10, roots 0..9) walked to root/depth/path —
    // DuckDB replays with a real recursive CTE.
    "q417_hierarchy" -> ((s, d) => {
      val nodes = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") >= 10, expr("doc_id div 10")).as("parent"))
      Graph.hierarchyFlatten(nodes, "doc_id", "parent", maxDepth = 8)
    }),

    // Interpolated Kneser-Ney bigram LM table (D = 3/4, quarter-exact
    // rational — no logs): the KenLM artifact next to q144's char-LM
    // scorer; top-30 bigrams with exact floor-ppm probabilities.
    "q418_kneser_ney" -> ((s, d) =>
      Corpus.kneserNeyBigrams(Tables.documents(s, d), "text", topK = 30)),

    // SFT chat-example assembly with loss masking: each user's events
    // become alternating user/assistant turns in (ts, id) order, the
    // template renders with role sentinels, and train_tokens counts
    // ONLY assistant-turn tokens (the loss mask every SFT pipeline
    // needs right); rendering md5-proven.
    "q419_chat_sft" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("graft_u").orderBy(col("graft_ts").asc,
          col("graft_id").asc)
      eventsUs(s, d)
        .select(col("user_id").as("graft_u"), col("ts_us").as("graft_ts"),
          col("event_id").as("graft_id"),
          col("event_type").as("graft_c"))
        .withColumn("graft_pos", row_number().over(w).cast("long"))
        .withColumn("graft_role",
          when(pmod(col("graft_pos"), lit(2)) === 1, lit("user"))
            .otherwise(lit("assistant")))
        .groupBy(col("graft_u").as("user_id"))
        .agg(count(lit(1)).cast("long").as("n_turns"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("graft_pos"),
              concat(lit("<|"), col("graft_role"), lit("|> "),
                col("graft_c")).as("graft_piece")))),
            x => x("graft_piece")))).as("rendered_md5"),
          sum(when(col("graft_role") === "assistant",
            T.wsTokens(col("graft_c")).cast("long")).otherwise(0L))
            .cast("long").as("train_tokens"),
          sum(T.wsTokens(col("graft_c")).cast("long")).cast("long")
            .as("total_tokens"))
    }),

    // Multi-rule survivorship (MDM golden record): per entity, each
    // field keeps its own rule — last event type by (ts, id), MODAL
    // event type (count desc, type asc), max value — the merge step
    // after q369's entity resolution.
    "q420_survivorship" -> ((s, d) => {
      val ev = eventsUs(s, d).select(col("user_id"), col("ts_us"),
        col("event_id"), col("event_type"),
        floor(coalesce(col("value"), lit(0.0)) * 100 + 0.5).cast("long")
          .as("graft_cents"))
      val wLast = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").desc,
          col("event_id").desc)
      val last = ev.withColumn("graft_rn", row_number().over(wLast))
        .filter(col("graft_rn") === 1)
        .select(col("user_id"), col("event_type").as("last_type"))
      val wMode = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("graft_n").desc,
          col("event_type").asc)
      val modal = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("graft_n"))
        .withColumn("graft_rn", row_number().over(wMode))
        .filter(col("graft_rn") === 1)
        .select(col("user_id"), col("event_type").as("modal_type"))
      val aggs = ev.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_records"),
          max("graft_cents").cast("long").as("max_cents"))
      aggs.join(last, Seq("user_id")).join(modal, Seq("user_id"))
        .select(col("user_id"), col("n_records"), col("last_type"),
          col("modal_type"), col("max_cents"))
    }),

    // Language-consistency (code-switching) audit: lang-ID each half
    // of the token stream separately; halves that disagree (both
    // confidently) flag mixed-language docs — the curation screen a
    // whole-doc lang-ID majority vote hides.
    "q421_lang_consistency" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), T.tokens(col("text"))
          .as("graft_ts"))
        .withColumn("graft_n", size(col("graft_ts")))
        .withColumn("graft_a", concat_ws(" ",
          slice(col("graft_ts"), lit(1), expr("graft_n div 2"))))
        .withColumn("graft_b", concat_ws(" ",
          slice(col("graft_ts"), expr("graft_n div 2 + 1"),
            expr("graft_n - graft_n div 2"))))
        .withColumn("graft_la", T.langGuess(col("graft_a")))
        .withColumn("graft_lb", T.langGuess(col("graft_b")))
      docs.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum((col("graft_la") =!= col("graft_lb") &&
            col("graft_la") =!= "und" && col("graft_lb") =!= "und")
            .cast("long")).cast("long").as("n_mixed"),
          sum((col("graft_la") === "und" || col("graft_lb") === "und")
            .cast("long")).cast("long").as("n_undetermined"))
        .withColumn("mixed_ppm",
          expr("n_mixed * 1000000 div n_docs"))
    }),

    // Source-capped global top-k (the feed-ranking diversity rule):
    // at most 2 docs per source in the global quality top-20 — a
    // per-source rank window then a distributed TakeOrdered, never a
    // global sort.
    "q422_capped_topk" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("score_q").desc,
          col("doc_id").asc)
      Tables.documents(s, d).select(col("doc_id"), col("source"),
          greatest(least(floor(T.qualityScore(col("text")) * 10000
            + 0.5), lit(10000L)), lit(0L)).cast("long").as("score_q"))
        .withColumn("src_rank", row_number().over(w).cast("long"))
        .filter(col("src_rank") <= 2)
        .orderBy(col("score_q").desc, col("doc_id").asc)
        .limit(20)
    }),

    // robots.txt politeness gate (RFC 9309): a real parse of the
    // User-agent:* group, longest-matching-rule verdicts with Allow
    // winning ties, default-open for unmatched URLs, foreign-UA groups
    // ignored, empty robots handled.
    "q423_robots_filter" -> ((s, d) => {
      import s.implicits._
      val robots = Seq(
        ("a.example", "# site rules\nUser-agent: *\nDisallow: /private/\n" +
          "Allow: /private/ok/\nCrawl-delay: 5\n"),
        ("b.example", "User-agent: bot\nDisallow: /\n"),
        ("c.example", "")).toDF("host_d", "robots_txt")
      val urls = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("https://a.example/public/"), col("doc_id")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("https://a.example/private/"), col("doc_id")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("https://a.example/private/ok/"), col("doc_id")))
          .when(col("doc_id") % 5 === 3,
            concat(lit("https://b.example/private/"), col("doc_id")))
          .otherwise(concat(lit("https://c.example/x/"), col("doc_id")))
          .as("url"))
      Robots.robotsFilter(urls, "url", robots, "host_d", "robots_txt")
        .select(col("doc_id"), col("host"), col("allowed"),
          col("matched_rule"))
    }),

    // Time-grid alignment + forward fill (the pandas asfreq+ffill): a
    // per-type daily grid from first to last observed day, gaps carry
    // the last observed count — the series every lag-window analytic
    // upstream assumes is gap-free.
    "q424_grid_ffill" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("etype").orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val daily = eventsUs(s, d)
        .select(col("event_type").as("etype"),
          expr("ts_us div 86400000000").as("day"))
        .groupBy("etype", "day").agg(count(lit(1)).as("graft_n"))
      val grid = daily.groupBy("etype")
        .agg(min("day").as("graft_d0"), max("day").as("graft_d1"))
        .select(col("etype"), explode(expr(
          "sequence(graft_d0, graft_d1)")).as("day"))
      grid.join(daily, Seq("etype", "day"), "left")
        .withColumn("value_ffill",
          last(col("graft_n"), ignoreNulls = true).over(w).cast("long"))
        .select(col("etype"), col("day").cast("long").as("day"),
          col("value_ffill"),
          col("graft_n").isNotNull.as("is_observed"))
    }),

    // Mix-shift decomposition: Δ(overall avg value) split exactly into
    // share-shift × old rate vs new share × rate-shift per event type,
    // across the corpus-midpoint day split — all floor-ppm/centi
    // integer terms.
    "q425_mix_shift" -> ((s, d) =>
      Analytics.mixShift(eventsUs(s, d), "event_type", "ts_us", "value")),

    // Off-policy bandit replay eval (Li et al. 2011): a fixed
    // context→action policy scored ONLY on logged events whose action
    // matches (the unbiased replay estimator under uniform logging);
    // per policy: matched plays, exact reward-rate ppm, and the
    // logged baseline for contrast.
    "q426_bandit_replay" -> ((s, d) => {
      val plays = eventsUs(s, d)
        .filter(col("value").isNotNull)
        .select((col("user_id") % 4).cast("long").as("graft_ctx"),
          col("event_type").as("graft_act"),
          (floor(col("value") * 100 + 0.5) >= 500L).cast("long")
            .as("graft_r"))
      val policies = Seq(
        ("always_view", Seq("view", "view", "view", "view")),
        ("ctx_rotate", Seq("view", "click", "purchase", "signup")),
        ("logged", Seq.empty[String])) // baseline: every play matches
      // ONE scan: the policy list explodes onto each play (a literal
      // |policies|-wide Expand, no re-read), match becomes a flag, and
      // the per-policy rollup is a single conditional aggregate — one
      // Exchange in the plan instead of a filter+agg leg per policy.
      val polLit = array(policies.map { case (name, acts) =>
        struct(lit(name).as("policy"), typedLit(acts).as("acts")) }: _*)
      plays
        .select(col("graft_act"), col("graft_ctx"), col("graft_r"),
          explode(polLit).as("p"))
        .select(col("p.policy").as("policy"), col("graft_r"),
          when(size(col("p.acts")) === 0, lit(true))
            .otherwise(col("graft_act") === element_at(col("p.acts"),
              (col("graft_ctx") + 1).cast("int"))).as("graft_m"))
        .groupBy("policy")
        .agg(sum(when(col("graft_m"), 1L).otherwise(0L)).cast("long")
            .as("n_matched"),
          expr("CASE WHEN sum(CASE WHEN graft_m THEN 1 ELSE 0 END) = 0" +
            " THEN CAST(NULL AS BIGINT)" +
            " ELSE sum(CASE WHEN graft_m THEN graft_r ELSE 0 END)" +
            " * 1000000 div sum(CASE WHEN graft_m THEN 1 ELSE 0 END) END")
            .as("reward_ppm"))
    }),

    // Crawl digest dedup (the WARC revisit-record economics): each URL
    // captured 1 + id%3 times with identical payloads through the REAL
    // multi-record .warc.gz walk; first capture by (ts, url) keeps the
    // payload, later identical digests become revisits; per host the
    // dedup bill (captures, uniques, revisits, bytes saved).
    "q427_crawl_dedup" -> ((s, d) => {
      import s.implicits._
      val caps = Tables.spread(Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text")))
        .as[(Long, String, String)]
        .flatMap { case (id, src, text) =>
          val html = s"<html><body><p>$text</p></body></html>"
          val uri = s"https://$src.example.org/doc/$id"
          (0 to (id % 3).toInt).iterator.map { k =>
            val bytes = multimodal.Warc.synthWarcGz(uri,
              1600000000L + id + 86400L * k, html, text)
            val (recs, _) = multimodal.Warc.walkGz(bytes)
            val resp = recs.find(_.warcType == "response").get
            val body = multimodal.Warc.httpResponse(resp.payload).get._3
            (resp.targetUri.stripPrefix("https://").takeWhile(_ != '/'),
              resp.targetUri,
              multimodal.Warc.dateEpochSec(resp.date),
              new String(body, "UTF-8"), body.length.toLong)
          }
        }.toDF("host", "url", "fetch_ts", "graft_body", "graft_len")
      // WARC revisit semantics: same URI re-fetched — a later capture
      // whose digest equals the FIRST capture's digest is a revisit
      // (store a pointer, save the bytes); a changed digest is a real
      // re-capture and must be stored (n_changed counts those).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("url").orderBy(col("fetch_ts").asc)
      caps.withColumn("graft_dig", md5(col("graft_body")))
        .withColumn("graft_rn", row_number().over(w))
        .withColumn("graft_d0", first(col("graft_dig")).over(w))
        .withColumn("graft_rev",
          col("graft_rn") > 1 && col("graft_dig") === col("graft_d0"))
        .groupBy("host")
        .agg(count(lit(1)).cast("long").as("n_captures"),
          sum(when(col("graft_rn") === 1, 1L).otherwise(0L))
            .cast("long").as("n_unique"),
          sum(col("graft_rev").cast("long")).cast("long")
            .as("n_revisits"),
          sum(when(col("graft_rn") > 1 && !col("graft_rev"), 1L)
            .otherwise(0L)).cast("long").as("n_changed"),
          sum(when(col("graft_rev"), col("graft_len"))
            .otherwise(0L)).cast("long").as("bytes_saved"))
    }),

    // Anchor-text extraction: the (href, text) pairs that seed both
    // the link graph (q131/q256's input at web scale) and anchor-text
    // retrieval; planted links make the two-stage regex chain replay.
    "q428_anchor_text" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html><body><p>intro</p><a href=\"https://ex.org/t/"),
        col("doc_id"), lit("\">target "), col("doc_id"),
        lit("</a> mid <a class=\"x\" href=\"/rel/"), col("doc_id") % 7,
        lit("\"> padded  text </a>"),
        when(col("doc_id") % 2 === 0,
          lit("<a href=\"https://ex.org/dup\">dup</a>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("html"))
      Corpus.anchorText(planted, "doc_id", "html")
    }),

    // sitemap.xml extraction: planted two-entry sitemaps (lastmod on
    // the first entry only — the NULL contract), whitespace inside
    // tags exercised; crawl discovery next to q423's politeness gate.
    "q429_sitemap" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc> https://s.org/p/"),
        col("doc_id"), lit(" </loc><lastmod>2024-0"),
        col("doc_id") % 9 + 1, lit("-15</lastmod></url><url><loc>"),
        lit("https://s.org/q/"), col("doc_id") % 50,
        lit("</loc></url></urlset>")).as("xml"))
      Corpus.sitemapUrls(planted, "doc_id", "xml")
    }),

    // Outlink profile: q428's anchors rolled into the per-page crawl
    // stat — internal (relative href) vs external split, distinct
    // external hosts — the outdegree table a link-graph build reads.
    "q430_outlink_profile" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html><body><p>intro</p><a href=\"https://ex.org/t/"),
        col("doc_id"), lit("\">target "), col("doc_id"),
        lit("</a> mid <a class=\"x\" href=\"/rel/"), col("doc_id") % 7,
        lit("\"> padded  text </a>"),
        when(col("doc_id") % 2 === 0,
          lit("<a href=\"https://other.net/dup\">dup</a>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("html"))
      Corpus.anchorText(planted, "doc_id", "html")
        .withColumn("graft_ext",
          col("href").startsWith("http://") ||
            col("href").startsWith("https://"))
        .withColumn("graft_host",
          when(col("graft_ext"), regexp_replace(regexp_replace(
            lower(regexp_extract(col("href"),
              "^[a-zA-Z]+://([^/?#]+)", 1)), "^.*@", ""),
            ":[0-9]+$", "")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_links"),
          sum(when(!col("graft_ext"), 1L).otherwise(0L)).cast("long")
            .as("n_internal"),
          sum(col("graft_ext").cast("long")).cast("long")
            .as("n_external"),
          countDistinct(col("graft_host")).cast("long")
            .as("n_ext_hosts"))
    }),

    // HTTP chunked transfer-encoding decode (RFC 9112 §7.1): each doc
    // becomes a chunked 200 response with id-derived chunk splits
    // (sizes 1..7, a chunk extension on the second chunk, a trailer
    // field); httpResponse de-chunks byte-exactly. doc_id % 11 == 5
    // tears the terminator — framing tears degrade the WHOLE split
    // (all fields NULL), never a half body.
    "q431_http_chunked" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val html = s"<html><body><p>$text</p></body></html>"
          val cs = (1 + id % 7).toInt
          val full = multimodal.Warc.synthHttpChunked(html, cs)
          val bytes = if (id % 11 == 5) full.take(full.length - 9)
            else full
          val r = multimodal.Warc.httpResponse(bytes)
          (id, cs.toLong, r.map(_._1.toLong), r.map(_._2),
            r.map(_._3.length.toLong),
            r.map(x => new String(x._3, "UTF-8")))
        }
        .toDF("doc_id", "chunk_size", "status", "mime", "body_len",
          "graft_body")
        .select(col("doc_id"), col("chunk_size"), col("status"),
          col("mime"), col("body_len"),
          md5(col("graft_body")).as("body_md5"))
    }),

    // URL canonicalization (RFC 3986 §6 + tracking strip): four planted
    // arms — default-port/case/fragment/tracker strip with unreserved
    // percent-decode and query sort; kept non-default port; bare host
    // gaining "/"; a non-URL passing through verbatim. The oracle
    // replays every rule's RESULT arithmetically.
    "q432_canonical_url" -> ((s, d) => {
      val raw = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Example"), col("doc_id") % 5,
            lit(".COM:443/Path/"), col("doc_id"),
            lit("?utm_source=news&b="), col("doc_id") % 7,
            lit("&a=%41%2f1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://ex"), col("doc_id") % 5,
            lit(".org:8080/p%7Euser/"), col("doc_id"),
            lit("?z=1&y=2&gclid=abc")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("HTTP://Bare"), col("doc_id") % 5, lit(".NET:80")))
        .otherwise(concat(lit("not a url "), col("doc_id")))
        .as("url"))
      raw.select(col("doc_id"), col("url"),
        T.canonicalUrl(col("url")).as("canonical_url"))
    }),

    // Crawl dedup re-keyed on the canonical form: three frontier rows
    // per doc (verbatim, cased+default-port+fragment, tracker-suffixed)
    // collapse to one canonical capture; the % 3 arm's genuine ?page=2
    // param stays a SEPARATE key — canonicalization dedups noise, not
    // real variation.
    "q433_canonical_dedup" -> ((s, d) => {
      val base = concat(lit("https://site.example/art/"),
        col("doc_id") % 97)
      val variants = Tables.documents(s, d).select(col("doc_id"),
        explode(array(
          base,
          concat(lit("HTTPS://Site.Example:443/art/"), col("doc_id") % 97,
            lit("?utm_campaign=x#top")),
          when(col("doc_id") % 3 === 0,
            concat(base, lit("?page=2&utm_source=y")))
            .otherwise(concat(base, lit("?utm_source=y&utm_medium=z")))
        )).as("url"))
      variants
        .withColumn("canonical_url", T.canonicalUrl(col("url")))
        .groupBy("canonical_url")
        .agg(count(lit(1)).cast("long").as("n_captures"),
          countDistinct(col("url")).cast("long").as("n_raw_forms"),
          min("doc_id").cast("long").as("first_doc"))
    }),

    // RFC 9309 wildcard rules: '*' spans, trailing '$' anchors, the
    // most-octets (raw pattern length) rule wins, Allow breaking length
    // ties — six planted URL arms resolve one rule each by construction
    // (extension block with a scoped allow-back, tmp prefix with an
    // anchored exception, mid-path wildcard, no-match default-open).
    "q434_robots_wildcards" -> ((s, d) => {
      import s.implicits._
      val robots = Seq(("w.example",
        "User-agent: *\nDisallow: /*.pdf$\nAllow: /pub/*.pdf$\n" +
          "Disallow: /tmp*\nAllow: /tmp/keep$\nDisallow: /*/private/\n"))
        .toDF("host_d", "robots_txt")
      val urls = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("https://w.example"),
          when(col("doc_id") % 6 === 0,
            concat(lit("/doc"), col("doc_id"), lit(".pdf")))
          .when(col("doc_id") % 6 === 1,
            concat(lit("/pub/x"), col("doc_id"), lit(".pdf")))
          .when(col("doc_id") % 6 === 2,
            concat(lit("/tmp/file"), col("doc_id")))
          .when(col("doc_id") % 6 === 3, lit("/tmp/keep"))
          .when(col("doc_id") % 6 === 4,
            concat(lit("/a"), col("doc_id"), lit("/private/x")))
          .otherwise(concat(lit("/clean/"), col("doc_id"))))
          .as("url"))
      Robots.robotsFilter(urls, "url", robots, "host_d", "robots_txt")
        .select(col("doc_id"), col("path"), col("allowed"),
          col("matched_rule"))
    }),

    // robots.txt directives beyond the rules: the star group's
    // Crawl-delay (first occurrence; foreign-group delays invisible)
    // and the file-global Sitemap lines (order kept, group-independent).
    "q435_robots_directives" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val txt = (id % 3) match {
            case 0 =>
              s"User-agent: *\nCrawl-delay: ${1 + id % 9}\n" +
                s"Disallow: /x\nSitemap: https://h$id.ex/sm1.xml\n" +
                s"Sitemap: https://h$id.ex/sm2.xml\n"
            case 1 =>
              "User-agent: gbot\nCrawl-delay: 7\n" +
                s"Sitemap: https://h$id.ex/only.xml\n" +
                "User-agent: *\nDisallow: /y\n"
            case _ => ""
          }
          val (delay, maps) = Robots.parseDirectives(txt)
          (id, delay, maps.length.toLong, maps.headOption)
        }
        .toDF("doc_id", "crawl_delay_sec", "n_sitemaps", "first_sitemap")
    }),

    // Per-host politeness schedule: slots in doc order within host,
    // start = (slot-1)*delay; even hosts carry a planted delay row,
    // odd hosts exercise the 1s default.
    "q436_politeness_schedule" -> ((s, d) => {
      val urls = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("h"), col("doc_id") % 20).as("host"))
      val delays = urls.select((col("doc_id") % 20).as("graft_hn"))
        .distinct()
        .filter(col("graft_hn") % 2 === 0)
        .select(concat(lit("h"), col("graft_hn")).as("host_d"),
          (col("graft_hn") % 5 + 1).cast("long").as("delay_d"))
      Robots.politenessSchedule(urls, "host", "doc_id",
        delays, "host_d", "delay_d")
        .select(col("doc_id"), col("host"), col("delay_sec"),
          col("slot"), col("start_sec"))
    }),

    // SURT key (the CDX-index sort key): reversed comma-joined host +
    // ')' + lowercased path?query; scheme/fragment/userinfo/port
    // dropped, bare host gains '/', non-URLs NULL out.
    "q437_surt_key" -> ((s, d) => {
      val raw = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://WWW.Example"), col("doc_id") % 5,
            lit(".COM/A/B"), col("doc_id"), lit("?X=1#f")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://U:p@S"), col("doc_id") % 5,
            lit(".Ex.ORG:8080/P"), col("doc_id")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://Host"), col("doc_id") % 5, lit(".NET")))
        .otherwise(concat(lit("no url "), col("doc_id")))
        .as("url"))
      raw.select(col("doc_id"), col("url"),
        Corpus.surtKey(col("url")).as("surt_key"))
    }),

    // Per-page robots meta gate: first robots meta tag's content
    // (verbatim, NULL when absent), indexable/followable flags from the
    // case-insensitive comma list, default-open like robots.txt.
    "q438_meta_robots" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html><head><title>t</title>"),
        when(col("doc_id") % 5 === 1,
          lit("<meta name=\"robots\" content=\"noindex\"/>"))
        .when(col("doc_id") % 5 === 2,
          lit("<meta name=\"robots\" content=\"NOINDEX, NOFOLLOW\"/>"))
        .when(col("doc_id") % 5 === 3,
          lit("<meta name=\"robots\" content=\"none\"/>"))
        .when(col("doc_id") % 5 === 4,
          lit("<meta name=\"robots\" content=\"nofollow, noarchive\"/>"))
        .otherwise(lit("")),
        lit("</head><body>x</body></html>")).as("html"))
      Corpus.metaRobots(planted, "doc_id", "html")
    }),

    // Host-level link graph (the host-rank/frontier input): q428's
    // planted pages rolled to (src_host, dst_host) edges — absolute
    // links only, self-loops dropped, weight + page support.
    "q439_host_graph" -> ((s, d) => {
      val pages = Tables.documents(s, d).select(col("doc_id"),
        concat(col("source"), lit(".example.org")).as("host"),
        concat(
          lit("<html><body><a href=\"https://ex.org/t/"), col("doc_id"),
          lit("\">t</a><a href=\"/rel/"), col("doc_id") % 7,
          lit("\">r</a>"),
          when(col("doc_id") % 2 === 0,
            lit("<a href=\"https://other.net/dup\">d</a>"))
            .otherwise(lit("")),
          lit("</body></html>")).as("html"))
      Corpus.hostGraph(pages, "doc_id", "host", "html")
    }),

    // Registered domain (eTLD+1) against a declared suffix table:
    // multi-label suffixes beat their single-label tails (co.uk over
    // uk), bare suffixes and unmatched hosts NULL out.
    "q440_registered_domain" -> ((s, d) => {
      import s.implicits._
      val sfx = Seq("com", "org", "net", "uk", "co.uk", "ac.uk", "io",
        "github.io").toDF("suffix")
      val hosts = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("X"), col("doc_id"), lit(".Sub.Example.CO.UK")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("www.test"), col("doc_id") % 7, lit(".COM")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("deep.a.b"), col("doc_id") % 7, lit(".github.io")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("localhost"), col("doc_id")))
        .otherwise(lit("com"))
        .as("host"))
      Corpus.registeredDomain(hosts, "host", sfx, "suffix")
        .select(col("doc_id"), col("host"), col("public_suffix"),
          col("registered_domain"))
    }),

    // Wayback closest-capture lookup: the CDX point-in-time query —
    // captures keyed by SURT, a nearest as-of (backward+forward pass,
    // ties to earlier) picks the capture closest to the query instant.
    "q441_wayback_lookup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val url = concat(lit("https://s"), col("doc_id") % 5,
        lit(".ex/d/"), col("doc_id"))
      val caps = docs.select(col("doc_id"),
          explode(sequence(lit(0), (col("doc_id") % 3).cast("int")))
            .as("k"))
        .select(col("k").cast("long").as("k"),
          Corpus.surtKey(url).as("sk"),
          (lit(1600000000L) + col("doc_id") + col("k") * 86400L)
            .as("ts"))
      val queries = docs.select(col("doc_id"),
        Corpus.surtKey(url).as("sk"),
        (lit(1600000000L) + col("doc_id") + 100000L).as("ts"))
      AsOf.asofJoinNearest(queries, caps.select("sk", "ts", "k"),
          "sk", "ts", "k", "cap_k")
        .select(col("doc_id"), col("cap_k"),
          col("cap_k_ts").as("capture_ts"),
          abs(col("ts") - col("cap_k_ts")).cast("long").as("dist_sec"))
    }),

    // WER + CER: 6 distinct ref tokens per doc; hyp plants id%3 prefix
    // substitutions and a tail arm (delete-1 / append-1 / delete-2 /
    // none) at DISJOINT positions with novel symbols, so the optimal
    // edit count is exactly their sum; char edits re-derived by
    // DuckDB's own levenshtein — an independent-implementation oracle.
    "q442_wer_cer" -> ((s, d) => {
      val id = col("doc_id")
      def w(i: Int) = concat(lit(s"w${i}_"), id)
      def tok(i: Int) = when(lit(i) < id % 3,
        concat(lit(s"x${i}_"), id)).otherwise(w(i))
      val t = id % 4
      val base = array((0 to 5).map(tok): _*)
      val kept = when(t === 1, slice(base, 1, 5))
        .when(t === 3, slice(base, 1, 4))
        .otherwise(base)
      val hypArr = when(t === 2,
        concat(kept, array(concat(lit("z_"), id)))).otherwise(kept)
      val pairs = Tables.documents(s, d).select(id,
        array_join(hypArr, " ").as("hyp"),
        array_join(array((0 to 5).map(w): _*), " ").as("ref"))
      ml.TextEval.werCer(pairs, "doc_id", "hyp", "ref")
    }),

    // ROUGE-1 + ROUGE-2 via the distributed clipped-overlap path
    // (grams explode + (id, gram) count merge): hyp = k-token prefix of
    // the 6-token ref plus id%3 novel tokens — overlaps k and k-1 by
    // construction, rates exact floor-ppm.
    "q443_rouge_n" -> ((s, d) => {
      val id = col("doc_id")
      def w(i: Int) = concat(lit(s"w${i}_"), id)
      val k = lit(6) - id % 4
      val kept = slice(array((0 to 5).map(w): _*), lit(1), k)
      // sequence(1, 0) is DESCENDING [1,0], not empty — guard a == 0
      val novel = when(id % 3 > 0,
        transform(sequence(lit(1), (id % 3).cast("int")),
          j => concat(lit("n"), j, lit("_"), id)))
        .otherwise(array().cast("array<string>"))
      val pairs = Tables.documents(s, d).select(id,
        array_join(concat(kept, novel), " ").as("hyp"),
        array_join(array((0 to 5).map(w): _*), " ").as("ref"))
      ml.TextEval.rougeN(pairs, "doc_id", "hyp", "ref", 1)
        .unionByName(ml.TextEval.rougeN(pairs, "doc_id", "hyp", "ref", 2))
    }),

    // ROUGE-L: k-token prefix with positions 1,2 swapped on even docs —
    // an adjacent swap of distinct tokens costs the LCS exactly one.
    "q444_rouge_l" -> ((s, d) => {
      val id = col("doc_id")
      def w(i: Int) = concat(lit(s"w${i}_"), id)
      val k = lit(6) - id % 4
      val kept = slice(array((0 to 5).map(w): _*), lit(1), k)
      val swapped = concat(slice(kept, lit(1), lit(1)),
        slice(kept, lit(3), lit(1)), slice(kept, lit(2), lit(1)),
        slice(kept, lit(4), k - 3))
      val pairs = Tables.documents(s, d).select(id,
        array_join(when(id % 2 === 0, swapped).otherwise(kept), " ")
          .as("hyp"),
        array_join(array((0 to 5).map(w): _*), " ").as("ref"))
      ml.TextEval.rougeL(pairs, "doc_id", "hyp", "ref")
    }),

    // Fleiss' kappa: 4 planted raters per doc — three vote the doc's
    // category, the fourth defects on odd docs; N·n decimal rationals,
    // floor-ppm, replayed from the same votes CTE in DuckDB.
    "q445_fleiss_kappa" -> ((s, d) => {
      val votes = Tables.documents(s, d).select(col("doc_id"),
          explode(sequence(lit(0), lit(3))).as("graft_r"))
        .select(col("doc_id"),
          when(col("graft_r") < 3, col("doc_id") % 3)
            .otherwise((col("doc_id") % 3 + col("doc_id") % 2) % 3)
            .as("cat"))
      ml.Agreement.fleissKappa(votes, "doc_id", "cat")
    }),

    // Krippendorff's alpha (nominal) on the same planted rating design
    // — the sampling-without-replacement expected disagreement
    // (T−1 denominator) distinguishes it from kappa's p_j².
    "q446_krippendorff" -> ((s, d) => {
      val votes = Tables.documents(s, d).select(col("doc_id"),
          explode(sequence(lit(0), lit(3))).as("graft_r"))
        .select(col("doc_id"),
          when(col("graft_r") < 3, col("doc_id") % 3)
            .otherwise((col("doc_id") % 3 + col("doc_id") % 2) % 3)
            .as("cat"))
      ml.Agreement.krippendorffAlpha(votes, "doc_id", "cat")
    }),

    // Copeland leaderboard over planted pairwise matches (the Elo-free
    // tournament readout): per model the match record, win rate, and
    // head-to-head beats minus beaten-bys.
    "q447_leaderboard" -> ((s, d) => {
      val a = col("doc_id") % 5
      val b = (col("doc_id") % 5 + 1 + col("doc_id") % 3) % 5
      val awin = col("doc_id") % 7 < 4
      val matches = Tables.documents(s, d).select(
        concat(lit("m"), when(awin, a).otherwise(b)).as("winner"),
        concat(lit("m"), when(awin, b).otherwise(a)).as("loser"))
      ml.Agreement.matchLeaderboard(matches, "winner", "loser")
    }),

    // Multiple-testing panel: Bonferroni / Holm / BH over planted
    // per-family p-value spreads — every threshold compare
    // cross-multiplied to integers, the (p, id) total order making
    // decisions engine-replayable under ties.
    "q448_multiple_testing" -> ((s, d) => {
      val tests = Tables.documents(s, d).select(
        (col("doc_id") % 10).cast("long").as("family"),
        col("doc_id"),
        ((col("doc_id") * 7919) % 997 * 1000 + col("doc_id") % 1000)
          .cast("long").as("p_ppm"))
      Experiment.multipleTesting(tests, "family", "doc_id", "p_ppm",
        alphaPpm = 50000L)
    }),

    // Avro OCF walk: per doc a real container (zigzag-varint binary
    // encoding, metadata map, sync-framed blocks) over three codec arms
    // (deflate / null / unknown-snappy → honest degrade) with a planted
    // tail tear at %9 — complete blocks survive, the rest flags
    // truncated; every emitted field is synth arithmetic.
    "q449_avro_walk" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val k = (1 + id % 4).toInt
          val recs = (0 until 2 * k).map(j =>
            multimodal.Avro.Record(id * 10 + j, s"n${id}_$j",
              (id + j) % 1000))
          val codec = (id % 3) match {
            case 0 => "deflate"
            case 1 => "null"
            case _ => "snappy"
          }
          val full = multimodal.Avro.synth(recs, k, codec, id.toString)
          val bytes = if (id % 9 == 4) full.take(full.length - 10)
            else full
          val r = multimodal.Avro.walk(bytes)
          (id, r.codec, r.schemaOk, r.records.size.toLong, r.truncated,
            r.records.map(_.score).sum,
            if (r.records.nonEmpty)
              Some(r.records.map(_.name).mkString(",")) else None)
        }
        .toDF("doc_id", "codec", "schema_ok", "n_records", "truncated",
          "sum_score", "graft_names")
        .select(col("doc_id"), col("codec"), col("schema_ok"),
          col("n_records"), col("truncated"), col("sum_score"),
          md5(col("graft_names")).as("names_md5"))
    }),

    // TFRecord + protobuf wire walk: masked-CRC32C framing verified per
    // record, payloads decoded through the real varint/LEN field walk;
    // %9==4 tears the tail, %9==7 corrupts the final data CRC — both
    // drop exactly the last record and flag truncated.
    "q450_tfrecord_walk" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val n = (1 + id % 5).toInt
          val recs = (0 until n).map(j =>
            multimodal.Avro.Record(id * 10 + j, s"n${id}_$j",
              (id + j) % 1000))
          val full = multimodal.TfRecord.synth(recs)
          val bytes =
            if (id % 9 == 4) full.take(full.length - 6)
            else if (id % 9 == 7) {
              val b = full.clone()
              b(b.length - 1) = (b(b.length - 1) ^ 0x01).toByte
              b
            } else full
          val (payloads, torn) = multimodal.TfRecord.walk(bytes)
          val decoded = payloads.flatMap(multimodal.TfRecord.decodeRecord)
          (id, decoded.size.toLong, torn,
            decoded.map(_.score).sum,
            if (decoded.nonEmpty)
              Some(decoded.map(_.name).mkString(",")) else None)
        }
        .toDF("doc_id", "n_records", "truncated", "sum_score",
          "graft_names")
        .select(col("doc_id"), col("n_records"), col("truncated"),
          col("sum_score"), md5(col("graft_names")).as("names_md5"))
    }),

    // Strongly connected components: six 10-node ring SCCs with
    // one-directional cross edges between blocks (undirected components
    // would merge them into three blobs) plus a 2-node chain of
    // singleton SCCs; labels = min node id per component.
    "q451_scc" -> ((s, d) => {
      import s.implicits._
      val ring = Tables.documents(s, d).select(
        (col("doc_id") % 60).as("src"),
        expr("(doc_id % 60) div 10 * 10 + ((doc_id % 60) % 10 + 1) % 10")
          .as("dst"))
      val cross = Seq((0L, 10L), (20L, 30L), (40L, 50L), (100L, 101L))
        .toDF("src", "dst")
      Components.stronglyConnected(ring.unionByName(cross), "src", "dst")
        .select(col("id").cast("long").as("node"),
          col("scc").cast("long").as("scc"))
    }),

    // Unicode NFC audit: decomposed plants (combining acute / ring /
    // diaeresis) compose, already-NFC text passes through; the oracle
    // runs DuckDB's OWN nfc_normalize on the same raw strings — two
    // independent UAX #15 implementations must agree.
    "q452_nfc_audit" -> ((s, d) => {
      val raw = when(col("doc_id") % 4 === 0,
          concat(lit("Cafe\u0301 nr "), col("doc_id")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("caf\u00e9 "), col("doc_id")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("A\u030angstro\u0308m "), col("doc_id")))
        .otherwise(concat(lit("plain "), col("doc_id")))
      Tables.documents(s, d).select(col("doc_id"), raw.as("graft_raw"))
        .select(col("doc_id"),
          T.nfc(col("graft_raw")).as("graft_norm"),
          length(col("graft_raw")).cast("long").as("n_before"),
          col("graft_raw"))
        .select(col("doc_id"),
          (col("graft_norm") =!= col("graft_raw")).as("changed"),
          col("n_before"),
          length(col("graft_norm")).cast("long").as("n_after"),
          md5(col("graft_norm")).as("norm_md5"))
    }),

    // Mixed-script homoglyph audit: a Cyrillic \u043e / Greek \u03bf planted
    // inside a Latin word \u2014 the spoof every exact matcher misses.
    "q453_mixed_script" -> ((s, d) => {
      val text = when(col("doc_id") % 3 === 0, // Cyrillic \u043e
          concat(lit("The w\u043erd id"), col("doc_id"), lit(" here")))
        .when(col("doc_id") % 3 === 1, // Greek \u03bf
          concat(lit("The w\u03bfrd id"), col("doc_id"), lit(" here")))
        .otherwise(concat(lit("The word id"), col("doc_id"),
          lit(" here")))
      Corpus.scriptProfile(Tables.documents(s, d)
        .select(col("doc_id"), text.as("text")), "doc_id", "text")
    }),

    // Trojan-Source bidi scrub: planted RLO/PDF pairs and isolate
    // pairs (+RLM) counted and stripped; clean docs untouched.
    "q454_bidi_scrub" -> ((s, d) => {
      val text = when(col("doc_id") % 3 === 0, // RLO \u2026 PDF
          concat(lit("start \u202eevil\u202c end "), col("doc_id")))
        .when(col("doc_id") % 3 === 1, // LRI \u2026 PDI + RLM
          concat(lit("a \u2066iso\u2069\u200f b "), col("doc_id")))
        .otherwise(concat(lit("clean text "), col("doc_id")))
      Corpus.bidiScrub(Tables.documents(s, d)
          .select(col("doc_id"), text.as("text")), "doc_id", "text")
        .select(col("doc_id"), col("n_bidi"), col("suspicious"),
          md5(col("scrubbed")).as("scrubbed_md5"))
    }),

    // Binary-quantization ANN: sign-word Hamming candidate pass
    // (popcount over packed longs) + exact cosine re-rank — the oracle
    // recomputes Hamming per-dimension, a different computation path
    // that must land on identical candidates and ranks.
    "q455_binary_ann" -> ((s, d) =>
      Similarity.binaryAnn(Tables.embeddings(s, d), "vec_id",
        "embedding", queryId = 3L, candK = 60, k = 15)),

    // Aho-Corasick blocklist scan: ONE automaton pass counts every
    // pattern incl. the overlapping he/she nest inside the planted
    // "hershey" (he x2, she x1 — the classic AC property a
    // per-pattern-regex loop only matches at |patterns|x the cost).
    "q456_blocklist_scan" -> ((s, d) => {
      val pats = (0 to 4).map(k => s"badword$k") ++
        Seq("spamterm", "she", "he")
      val text = concat(lit("clean prefix badword"),
        col("doc_id") % 5, lit(" hershey"),
        when(col("doc_id") % 2 === 0, lit(" spamterm spamterm"))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          T.ahoCounts(text, pats).as("graft_c"))
        .select(col("doc_id"),
          aggregate(col("graft_c"), lit(0L), (a, x) => a + x)
            .as("n_hits"),
          size(filter(col("graft_c"), x => x > 0L)).cast("long")
            .as("n_patterns"),
          element_at(col("graft_c"),
            (col("doc_id") % 5 + 1).cast("int")).as("n_planted"))
    }),

    // NCSA Combined Log Format parse: GET/404-dash/malformed arms —
    // unparseable lines keep their row with NULL fields, '-' bytes is
    // the CLF no-body NULL.
    "q457_access_log" -> ((s, d) => {
      val line = when(col("doc_id") % 3 === 0, concat(
          lit("10.0.0."), col("doc_id") % 9,
          lit(" - alice [ts"), col("doc_id"),
          lit("] \"GET /p/"), col("doc_id"),
          lit(" HTTP/1.1\" 200 "), col("doc_id") % 1000,
          lit(" \"https://ref.ex/\" \"Mozilla/5.0 Chrome/120.0\"")))
        .when(col("doc_id") % 3 === 1, concat(
          lit("172.16.0."), col("doc_id") % 9,
          lit(" - - [ts"), col("doc_id"),
          lit("] \"HEAD /missing HTTP/1.1\" 404 - \"-\" \"curl/8.0\"")))
        .otherwise(concat(lit("garbage line "), col("doc_id")))
      AccessLogs.parseCombined(Tables.documents(s, d)
        .select(col("doc_id"), line.as("line")), "doc_id", "line")
    }),

    // IPv4/CIDR blocklist gate: longest-prefix match surfaces (the
    // /24 beats the /8 on arm 1), invalid quads NULL out, clean IPs
    // survive unblocked — row-level enrichment, broadcast dim.
    "q458_cidr_blocklist" -> ((s, d) => {
      import s.implicits._
      val ip = when(col("doc_id") % 5 === 0, concat(lit("10.1."),
          col("doc_id") % 256, lit("."), col("doc_id") % 250))
        .when(col("doc_id") % 5 === 1,
          concat(lit("10.2.3."), col("doc_id") % 250))
        .when(col("doc_id") % 5 === 2, concat(lit("192.168."),
          col("doc_id") % 256, lit("."), col("doc_id") % 250))
        .when(col("doc_id") % 5 === 3, concat(lit("172.16."),
          col("doc_id") % 256, lit("."), col("doc_id") % 250))
        .otherwise(lit("999.1.2.3"))
      val block = Seq("10.0.0.0/8", "10.2.3.0/24", "192.168.0.0/16")
        .toDF("cidr")
      AccessLogs.cidrFilter(Tables.documents(s, d)
          .select(col("doc_id"), ip.as("ip")), "ip", block, "cidr")
        .select(col("doc_id"), col("ip"), col("ip32"), col("blocked"),
          col("matched_cidr"))
    }),

    // UA classification: the real precedence rules (Edge before
    // Chrome, Chrome before Safari) + bot markers.
    "q459_bot_detect" -> ((s, d) => {
      val ua = when(col("doc_id") % 6 === 0,
          lit("Mozilla/5.0 (Windows) Chrome/120.0 Safari/537.36"))
        .when(col("doc_id") % 6 === 1,
          lit("Mozilla/5.0 (Mac) Version/17 Safari/605.1"))
        .when(col("doc_id") % 6 === 2,
          lit("Mozilla/5.0 Gecko/20100101 Firefox/128.0"))
        .when(col("doc_id") % 6 === 3,
          lit("Mozilla/5.0 Chrome/120.0 Safari/537.36 Edg/120.0"))
        .when(col("doc_id") % 6 === 4,
          lit("Mozilla/5.0 (compatible; Googlebot/2.1)"))
        .otherwise(lit("python-requests/2.31.0"))
      val (isBot, family) = AccessLogs.uaClassify(ua)
      Tables.documents(s, d).select(col("doc_id"),
        isBot.as("is_bot"), family.as("family"))
    }),

    // Soundex blocking (the NIST example set): Robert/Rupert and
    // Smith/Smyth collide into shared blocks, the rest stand alone —
    // the phonetic blocking key entity resolution prefilters on.
    "q460_soundex_blocking" -> ((s, d) => {
      val name = element_at(typedLit(Seq("Robert", "Rupert", "Tymczak",
        "Honeyman", "Smith", "Smyth", "Jackson", "Washington")),
        (col("doc_id") % 8 + 1).cast("int"))
      val named = Tables.documents(s, d).select(col("doc_id"),
        name.as("name"), soundex(name).as("soundex_code"))
      val blocks = named.groupBy("soundex_code")
        .agg(countDistinct(col("name")).as("graft_nb"))
      named.join(broadcast(blocks), Seq("soundex_code"))
        .select(col("doc_id"), col("name"), col("soundex_code"),
          col("graft_nb").cast("long").as("n_names_in_block"))
    }),

    // Business days in [start, end) by the closed-form weekday count
    // (no calendar explode) minus weekday holidays; the planted
    // Saturday holiday must NOT subtract.
    "q461_business_days" -> ((s, d) => {
      val hols = Seq("2026-01-26", "2026-02-16", "2026-03-02",
        "2026-02-14", "2026-04-06") // 02-14 is a Saturday
      val start = date_add(lit("2026-01-05").cast("date"),
        (col("doc_id") % 60).cast("int"))
      val end = date_add(start, (col("doc_id") % 90).cast("int"))
      Tables.documents(s, d).select(col("doc_id"),
        start.cast("string").as("start_day"),
        end.cast("string").as("end_day"),
        Etl.businessDaysBetween(start, end, hols)
          .as("n_business_days"))
    }),

    // IDN (punycode) host decoding: real RFC 3492 bootstring over the
    // xn-- labels (the gap canonicalizeUrl documents out of scope);
    // malformed ACE stays verbatim and keeps its xn-- audit marker.
    "q462_idn_hosts" -> ((s, d) => {
      val host = when(col("doc_id") % 4 === 0,
          concat(lit("XN--MNCHEN-3YA.s"), col("doc_id"),
            lit(".example")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("xn--bcher-kva.h"), col("doc_id"), lit(".de")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("WWW"), col("doc_id"), lit(".Example.COM")))
        .otherwise(concat(lit("xn--!!!.b"), col("doc_id"), lit(".x")))
      Tables.documents(s, d).select(col("doc_id"), host.as("host"))
        .select(col("doc_id"), col("host"),
          T.idnToUnicode(col("host")).as("unicode_host"))
        .withColumn("is_decoded", !col("unicode_host").contains("xn--"))
    }),
  )
}
