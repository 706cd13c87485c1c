package graft.operators

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication family for training-data pipelines.
  *
  * Scale posture: nothing here is O(n²) on the full corpus. Every near-dup
  * variant routes candidate generation through a bucket key (shingle, LSH
  * band, or partition label) so the self-join shuffles on the bucket and
  * only intra-bucket pairs are scored.
  */
object Dedup {

  /** Cross-source exact-duplicate matrix — which corpus sources copy
    * from which: for every unordered source pair (a ≤ b), the number of
    * duplicate DOC PAIRS sharing a content fingerprint across them. The
    * inter-source contamination readout that decides what a multi-source
    * mix double-counts.
    *
    * Scale shape: NO doc-level pair join — the corpus collapses to
    * (fingerprint, source, count) in one shuffle, and pair counts come
    * from arithmetic on that table (same source: C(n,2); cross: n_a·n_b)
    * via a fingerprint-keyed self-join whose fan-out is ≤ |sources|² per
    * fingerprint, corpus-size-free. */
  def crossSourceDupMatrix(docs: DataFrame, idCol: String, textCol: String,
                           sourceCol: String): DataFrame = {
    val perSrc = docs.select(
        T.fingerprint(col(textCol)).as("graft_fp"),
        col(sourceCol).as("graft_s"))
      .groupBy("graft_fp", "graft_s")
      .agg(count(lit(1)).as("graft_n"))
    val a = perSrc.select(col("graft_fp"), col("graft_s").as("src_a"),
      col("graft_n").as("graft_na"))
    val b = perSrc.select(col("graft_fp"), col("graft_s").as("src_b"),
      col("graft_n").as("graft_nb"))
    a.join(b, Seq("graft_fp"))
      .filter(col("src_a") <= col("src_b"))
      .withColumn("graft_pairs",
        when(col("src_a") === col("src_b"),
          expr("graft_na * (graft_na - 1) div 2"))
          .otherwise(expr("graft_na * graft_nb")))
      .groupBy("src_a", "src_b")
      .agg(sum("graft_pairs").as("n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
  }

  /** Exact dedup by content fingerprint, keeping the smallest id — the
    * distributed `SELECT DISTINCT`/`drop_duplicates` (dag.py:725-733) made
    * deterministic. One hash shuffle on the fingerprint. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy(col(idCol).asc)
    docs.select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** N-gram Jaccard near-dup pairs, threshold on the rounded score.
    *
    * Candidate generation: explode distinct word shingles, self-join on the
    * shingle (shuffle key = shingle), count intersections per pair, then
    * |A∪B| = |A|+|B|−|A∩B|. At 100 TB the hot shingles are the skew risk —
    * production path is [[minhashPairs]]; this exact variant is the oracle
    * for it. */
  /** (id, nsh, g): one row per distinct word shingle per doc, with the
    * doc's shingle-set size attached. Tokens and the shingle array are
    * materialized in their own projections (regex runs once per doc, and
    * `nsh` is computed before the explode so Generate doesn't drag the
    * array through every exploded row). */
  private def explodedShingles(docs: DataFrame, idCol: String,
                               textCol: String, n: Int): DataFrame =
    // Shingling + explode + hash is the heavy map stage of the near-dup
    // family; a single-split corpus would run it on one task (guide §2.5).
    // Tables.spread is an identity once the input has ≥cores partitions.
    graft.Tables.spread(docs)
      .select(col(idCol).as("id"), T.wordShinglesNative(col(textCol), n).as("shs"))
      .select(col("id"), size(col("shs")).as("nsh"), col("shs"))
      // explode_outer, NOT explode: plain explode makes Catalyst infer a
      // `size(shs) > 0` filter and push it below the projections,
      // re-substituting the whole interpreted shingle expression into the
      // filter (≈10× slowdown measured at sf0.1). The null row an empty
      // doc produces is dropped by the cheap generated-attribute filter.
      // The join key is the shingle's 64-bit hash, not the ~n-word string:
      // the self-join shuffle carries 8-byte keys and the hash-join probe
      // compares longs. Distinct-shingle counts are unaffected (computed
      // on the array before hashing); a cross-shingle hash collision would
      // inflate one pair's intersection by 1 — P ≈ (distinct shingles)²/2⁶⁵,
      // ~1e-8 at 10⁶ shingles, the standard trade every shingling pipeline
      // makes.
      .select(col("id"), col("nsh"), explode_outer(col("shs")).as("g0"))
      .filter(col("g0").isNotNull)
      .select(col("id"), col("nsh"), xxhash64(col("g0")).as("g"))

  /** Pair-intersection statistics (id1, id2, n1, n2, inter) for every doc
    * pair sharing ≥1 shingle — the shared substrate of the exact near-dup
    * family: Jaccard, containment, and overlap are all arithmetic over
    * these five columns, so pipelines compute this ONCE and derive each
    * measure for free. Shingle-set sizes ride along the join rows (no
    * per-doc count aggregate or post-join lookups): the whole op is
    * explode → one self-join on the shingle → one pair agg. At skew (hot
    * shingles) AQE's skew-join split keeps partitions bounded; the MinHash
    * path is the preferred O(n·sig) variant at corpus scale. */
  /** @param maxDf optional document-frequency cap: shingles appearing in
    *   more than `maxDf` documents are dropped BEFORE the self-join. This
    *   is the standard skew bound for the exact path at corpus scale — a
    *   boilerplate shingle shared by 1% of a 10⁹-doc corpus would alone
    *   generate ~10¹⁴ candidate pairs; capping df bounds each shingle's
    *   pair fan-out at maxDf² while leaving genuinely distinctive overlap
    *   intact. The uncapped form (None) is the oracle. */
  def pairShingleStats(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, maxDf: Option[Long] = None): DataFrame =
    pairShingleStatsPlan(docs, idCol, textCol, n, maxDf)
      .transform(Materialize.artifact)

  /** [[pairShingleStats]] WITHOUT the final artifact materialization —
    * the un-truncated plan, for plan-shape assertions (a checkpoint
    * collapses lineage to a Scan ExistingRDD). `mat` is the
    * intra-operator materialization hook: production keeps
    * [[Materialize.transient]]; plan tests pass `identity` so the full
    * lineage stays inspectable. */
  private[graft] def pairShingleStatsPlan(docs: DataFrame, idCol: String,
                                          textCol: String, n: Int,
                                          maxDf: Option[Long] = None,
                                          mat: DataFrame => DataFrame =
                                            Materialize.transient): DataFrame = {
    val shAll = explodedShingles(docs, idCol, textCol, n)
    val shCapped = maxDf match {
      case Some(cap) =>
        // df via two-phase groupBy + semi-join, NOT a count window: a
        // window has no map-side combine, so every occurrence of a hot
        // boilerplate shingle would land on ONE reducer before the cap
        // discards it — the exact skew this cap exists to bound. The
        // aggregate absorbs hot keys in partial (map-side) combine; the
        // semi-join's right side is ≤ |qualifying vocab| rows and its
        // hot-key partitions are AQE-splittable (windows are not).
        val keep = shAll.groupBy("g").agg(count(lit(1)).as("graft_df"))
          .filter(col("graft_df") <= cap).select("g")
        shAll.join(keep, Seq("g"), "left_semi")
      case None => shAll
    }
    // Materialized EAGERLY (artifact) because it feeds both join legs:
    // a lazy persist is racy under one action — the two self-join sides
    // run as concurrent stages and each re-runs the shingle pipeline
    // before the cache fills (measured ~2× the build). The artifact's
    // blocks are freed by the ContextCleaner on GC, so a 60-query
    // session doesn't accumulate corpus-sized shingle tables either.
    val sh = mat(shCapped)
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.nsh").as("n1"), col("b.nsh").as("n2"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Jaccard over precomputed [[pairShingleStats]] rows. */
  def jaccardFromStats(stats: DataFrame, minJaccard: Double): DataFrame =
    stats
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Containment over precomputed [[pairShingleStats]] rows. */
  def containmentFromStats(stats: DataFrame, minContainment: Double): DataFrame =
    stats
      .withColumn("containment",
        col("inter").cast("double") / least(col("n1"), col("n2")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("id1"), col("id2"), col("containment"))

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minJaccard: Double): DataFrame =
    jaccardFromStats(pairShingleStats(docs, idCol, textCol, n), minJaccard)

  /** Prefix-filter EXACT set-similarity self-join — the PPJoin-family
    * candidate generation (Chaudhuri et al. ICDE'06; Xiao et al.
    * WWW'08) over the same shingle substrate as [[ngramJaccardPairs]]:
    * produces the IDENTICAL answer to the brute-force all-pairs join
    * (the oracle IS the brute force — hash equality proves the filter
    * lossless), but the self-join runs on each document's PREFIX only.
    * With tokens globally ordered rarest-first (df asc, token asc — a
    * total order), the prefix is the first |x| − ⌈t·|x|⌉ + 1 tokens:
    * for any pair with J ≥ t, the smallest-order token of A∩B must sit
    * inside BOTH prefixes (every token of A ordered before it lies
    * outside the intersection, of which A has at most
    * |A| − ⌈t·|A|⌉ — the pigeonhole), so joining prefix tokens loses
    * nothing. Candidates then verify with the exact intersection count
    * over the FULL sets and the q20 rounding contract.
    *
    * Why this beats the maxDf cap at scale: the cap CHANGES the answer
    * (documented underestimate); the prefix filter doesn't — and its
    * join fan-out rides the RARE end of the df spectrum by
    * construction (prefixes are rarest-first), while boilerplate
    * shingles land in suffixes and never generate candidates. At
    * t = 0.5 the index carries half of each doc's tokens; at t = 0.8,
    * a fifth. No global rank structure is built: the ordering rides as
    * the (df, token) pair itself, and the per-doc prefix pick is an
    * id-partitioned window, never a global one.
    *
    * Scale: one shingle explode, one token-keyed df aggregate (partial
    * combine absorbs hot boilerplate shingles map-side — never a
    * corpus-sized window), one id-keyed prefix window, one prefix-token
    * self-join (rare-token bounded), one pair-keyed exact verify join
    * over candidates.
    *
    * Threshold contract: `minJaccard` is read at 4-decimal precision
    * (matching the verify's `round(J,4) >= t` filter). Candidates
    * generate at the half-ulp-looser rational t' = (2·⌊t·10⁴⌉ − 1)/2·10⁴
    * = t − 0.00005 with EXACT integer ceil arithmetic, so boundary
    * pairs whose true J rounds UP to t are never lost to float ceil
    * (e.g. ceil(0.1·3000) evaluating 301) or to the rounding gap. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, minJaccard: Double): DataFrame =
    prefixJaccardPlan(docs, idCol, textCol, n, minJaccard)
      .transform(Materialize.artifact)

  /** [[prefixJaccardPairs]] without the final artifact materialization;
    * `mat` as in [[pairShingleStatsPlan]] (identity for plan tests). */
  private[graft] def prefixJaccardPlan(docs: DataFrame, idCol: String,
                                       textCol: String, n: Int,
                                       minJaccard: Double,
                                       mat: DataFrame => DataFrame =
                                         Materialize.transient): DataFrame = {
    require(minJaccard > 0.0 && minJaccard < 1.0,
      "minJaccard must be in (0, 1) — at 0 the prefix is the whole set")
    // t' = t − 1/20000 as an exact rational num/den; ceilT(m) = ⌈t'·m⌉
    // in pure integer arithmetic: `div` is Spark's IntegralDivide, so no
    // float ever enters the threshold ceil (the prior floor(x / den) went
    // through double division — exact only because fractional parts are
    // multiples of 1/20000; this makes the integer-ceil contract literal).
    val num = 2L * math.round(minJaccard * 10000.0) - 1L
    val den = 20000L
    def ceilT(m: Column): Column =
      call_function("div", m * lit(num) + lit(den - 1L), lit(den))
    val sh = mat(explodedShingles(docs, idCol, textCol, n))
    // df via groupBy + join-back, NOT count().over(Window.partitionBy(g)):
    // a window has no map-side combine, so a boilerplate shingle present
    // in most documents would pile every occurrence onto one reducer
    // before the prefix filter ever discards it. The aggregate combines
    // partially map-side; the join's hot-g partitions are AQE-splittable.
    val dfTab = sh.groupBy("g").agg(count(lit(1)).as("graft_df"))
    val withDf = sh.join(dfTab, Seq("g"))
    val prefix = withDf
      .withColumn("graft_pos", row_number().over(
        Window.partitionBy("id")
          .orderBy(col("graft_df").asc, col("g").asc)))
      .filter(col("graft_pos") <= col("nsh") - ceilT(col("nsh")) + 1)
      .select("id", "nsh", "g")
    val a = prefix.select(col("id").as("id1"), col("nsh").as("n1"), col("g"))
    val b = prefix.select(col("id").as("id2"), col("nsh").as("n2"), col("g"))
    val candidates = a.join(b, Seq("g"))
      .filter(col("id1") < col("id2") &&
        // the standard length filter: J >= t' bounds the size ratio
        col("n2") >= ceilT(col("n1")) &&
        col("n1") >= ceilT(col("n2")))
      .select("id1", "id2").distinct()
    val s1 = sh.select(col("id").as("id1"), col("nsh").as("n1"), col("g"))
    val s2 = sh.select(col("id").as("id2"), col("nsh").as("n2"), col("g"))
    candidates
      .join(s1, Seq("id1")).join(s2, Seq("id2", "g"))
      .groupBy("id1", "id2", "n1", "n2")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** MinHash signatures via the native map-side sketch ([[MinHashSig]]):
    * sig[i] = min over crc32-based permutation i of the doc's shingles.
    * No explode, no groupBy — one narrow projection. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    docs.select(col(idCol).as("id"),
      ColumnBridge.column(graft.functions.MinHashSig(
        ColumnBridge.expression(T.wordShinglesNative(col(textCol), n)),
        numHashes)).as("sig"))
  }

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * `rowsPerBand`, bucket-join on (band, band-hash), verify candidates with
    * exact signature agreement ≥ threshold. Signature build is map-side;
    * the only shuffles are the band bucket joins, whose pair blow-up is
    * bounded by bucket size, not corpus size. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, bands: Int, rowsPerBand: Int,
                   minAgree: Double): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Artifact, not lazy persist: three consumers in one action would
    // race the cache and recompute the sketch per stage (see the
    // portable twin's note).
    val sig = Materialize.transient(
      minhashSignature(docs, idCol, textCol, n, numHashes))
    // One row per (doc, band) with the band's bucket hash, then ONE
    // self-join on (band, bucket) — same candidate set as a join per band,
    // but a single shuffle over bands·n rows instead of `bands` separate
    // join stages (plan size and stage count stay flat as bands grows).
    val banded = sig.select(col("id"), posexplode(array((0 until bands).map { b =>
      hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }: _*)).as(Seq("band", "bk")))
    val l = banded.toDF("id1", "band", "bk")
    val r = banded.toDF("id2", "band", "bk")
    val candidates = l.join(r, Seq("band", "bk"))
      .filter(col("id1") < col("id2")).select("id1", "id2").distinct()
    val s1 = sig.toDF("id1", "sig1")
    val s2 = sig.toDF("id2", "sig2")
    val agree = aggregate(
      zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    candidates.join(s1, "id1").join(s2, "id2")
      .withColumn("est_jaccard", round(agree.cast("double") / numHashes, 4))
      .filter(col("est_jaccard") >= minAgree)
      .select(col("id1"), col("id2"), col("est_jaccard"))
      .transform(Materialize.artifact)
  }

  /** SimHash fingerprints via the native map-side sketch ([[SimHash64]]):
    * 64-bit weighted bit-vote over the doc's shingle hashes, computed in
    * one narrow projection. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    docs.select(col(idCol).as("id"),
      ColumnBridge.column(graft.functions.SimHash64(
        ColumnBridge.expression(T.wordShinglesNative(col(textCol), n))))
        .as("simhash"))
  }

  /** SimHash near-dup pairs by hamming distance, with block-banded
    * candidate generation: the 64-bit signature is split into `blocks`
    * equal blocks and candidates agree on at least one block. Pigeonhole:
    * every pair with hamming ≤ blocks-1 is GUARANTEED a matching block;
    * beyond that detection is probabilistic. Pick blocks ≈ maxHamming+1
    * for a hard guarantee; fewer blocks → wider blocks → fewer false
    * candidates at corpus scale (narrow blocks collide in n²/2^width
    * pairs per block). A single-prefix bucket is NOT a substitute — one
    * differing prefix bit hides a pair regardless of total distance. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, maxHamming: Int, blocks: Int = 4): DataFrame = {
    require(64 % blocks == 0, "blocks must divide 64")
    val width = 64 / blocks
    val mask = (1L << width) - 1
    val s = Materialize.transient(simhash(docs, idCol, textCol, n))
    // Single (block, value) bucket join across all blocks — see the
    // minhash banding note above for why this beats a join per block.
    val blocked = s.select(col("id"), posexplode(array((0 until blocks).map { b =>
      shiftright(col("simhash"), b * width).bitwiseAND(mask)
    }: _*)).as(Seq("blk", "bk")))
    val l = blocked.toDF("id1", "blk", "bk")
    val r = blocked.toDF("id2", "blk", "bk")
    val candidates = l.join(r, Seq("blk", "bk"))
      .filter(col("id1") < col("id2")).select("id1", "id2").distinct()
    val h1 = s.toDF("id1", "h1")
    val h2 = s.toDF("id2", "h2")
    candidates.join(h1, "id1").join(h2, "id2")
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
      .transform(Materialize.artifact)
  }

  /** Engine-portable MinHash + LSH: sig[i] is the lexicographic MIN of
    * `md5("<i>:" ++ shingle)` hex digests over the doc's distinct word
    * shingles — min-wise hashing over the md5 order, so the WHOLE pipeline
    * (signatures, banding, candidate generation, verification) replays
    * bit-for-bit in any engine with an md5 function: the DuckDB oracle
    * (q82) re-runs it end-to-end in SQL, which promotes the LSH family
    * from rows-only to hash-verified. [[minhashPairs]] (crc32-permutation
    * native sketch) stays the throughput path; this is the cross-engine
    * contract with the SAME plan shape — map-side signature projection,
    * ONE (band, bucket) self-join for candidates (pair fan-out bounded by
    * bucket size, not corpus size), signature-agreement verification.
    * Cost note: one md5 digest yields FOUR min-wise hashes (its 8-hex
    * slices are independent 32-bit hashes, and lexicographic min over
    * fixed-width hex = numeric min), so numHashes hashes cost
    * ⌈numHashes/4⌉ md5 calls per shingle — the digests are hoisted into
    * one projection and the per-hash fold is a cheap substr over them. */
  def minhashPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, bands: Int, rowsPerBand: Int,
                           minAgree: Double): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Signature build is ONE generated call per row (Md5MinHashSig) with
    // byte-identical output to the interpreted transform/md5/array_min
    // HOF chain (PropertiesSpec twins them) — the md5 cost is unchanged,
    // the per-element lambda interpretation and intermediate arrays are
    // gone.
    // Artifact, not a lazy persist: the signature table feeds the band
    // explode AND both verify-join sides inside ONE action, and a lazy
    // cache is racy there — concurrent stages each recompute the full
    // shingle+md5 build before the cache fills (measured 2-3× the whole
    // query at sf0.1). The table is rows × numHashes hex slices — tiny.
    val sig = Materialize.transient(docs
      .select(col(idCol).as("id"), T.wordShinglesNative(col(textCol), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), T.md5MinhashNative(col("shs"), numHashes).as("sig")))
    // Band bucket key = the band's minhash values joined verbatim ('|' is
    // not a hex char, so the key is collision-free) — the oracle can
    // rebuild it with string concat; see minhashPairs for why one
    // (band, bucket) join beats a join per band.
    val banded = sig.select(col("id"), posexplode(array((0 until bands).map { b =>
      concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }: _*)).as(Seq("band", "bk")))
    val l = banded.toDF("id1", "band", "bk")
    val r = banded.toDF("id2", "band", "bk")
    val candidates = l.join(r, Seq("band", "bk"))
      .filter(col("id1") < col("id2")).select("id1", "id2").distinct()
    val s1 = sig.toDF("id1", "sig1")
    val s2 = sig.toDF("id2", "sig2")
    val agree = aggregate(
      zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    // est_jaccard = k/numHashes: the threshold filter and 4-dp round
    // replay identically across engines because both evaluate the SAME
    // double division (k and numHashes are small exact integers), not
    // because the quotient is exactly representable.
    val out = candidates.join(s1, "id1").join(s2, "id2")
      .withColumn("est_jaccard", round(agree.cast("double") / numHashes, 4))
      .filter(agree.cast("double") / numHashes >= minAgree)
      .select(col("id1"), col("id2"), col("est_jaccard"))
      .transform(Materialize.artifact)
    out
  }

  /** Engine-portable 32-bit SimHash: per-shingle hash = md5 hex digest;
    * fingerprint bit j is the SIGN of Σ over shingles of (2·bit_j − 1),
    * where bit_j reads nibble j/4 of the digest. The fingerprint is a
    * 32-char '0'/'1' string, so votes, banding, and hamming verification
    * all replay in any engine with md5 + substr (DuckDB oracle q83).
    * Fingerprint build is ONE NARROW projection: the md5 array is hoisted
    * once per doc, then 32 aggregate-folds read nibbles out of it — no
    * explode, no shuffle until the block-bucket candidate join (same
    * one-shot (block, value) join as [[simhashPairs]]; pigeonhole with 4
    * blocks: every pair with hamming ≤ 3 is guaranteed a matching block,
    * detection beyond is probabilistic — and the oracle replays the same
    * blocks, so the candidate sets agree exactly). */
  def simhashPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, maxHamming: Int): DataFrame = {
    val blocks = 4
    val width = 8 // 32 bit-chars / 4 blocks
    // Fingerprint build is ONE generated call per row (Md5SimHash32) with
    // byte-identical output to the interpreted conv/aggregate vote folds
    // (PropertiesSpec twins them); the oracle replay — which reads hex
    // chars positionally — is unchanged.
    // Artifact for the same reason as the minhash twin: three consumers
    // inside one action make a lazy persist racy (recompute per stage).
    val fps = Materialize.transient(docs
      .select(col(idCol).as("id"), T.wordShinglesNative(col(textCol), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), T.md5SimhashNative(col("shs")).as("fp")))
    val blocked = fps.select(col("id"), posexplode(array((0 until blocks).map { b =>
      substring(col("fp"), 1 + width * b, width)
    }: _*)).as(Seq("blk", "bk")))
    val l = blocked.toDF("id1", "blk", "bk")
    val r = blocked.toDF("id2", "blk", "bk")
    val candidates = l.join(r, Seq("blk", "bk"))
      .filter(col("id1") < col("id2")).select("id1", "id2").distinct()
    val f1 = fps.toDF("id1", "fp1")
    val f2 = fps.toDF("id2", "fp2")
    val hamming = (0 until 32).map { k =>
      when(substring(col("fp1"), k + 1, 1) =!= substring(col("fp2"), k + 1, 1), 1)
        .otherwise(0)
    }.reduce(_ + _)
    val out = candidates.join(f1, "id1").join(f2, "id2")
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
      .transform(Materialize.artifact)
    out
  }

  /** Incremental exact dedup: drop batch docs whose fingerprint already
    * exists in the corpus fingerprint store, and dedup within the batch.
    * This is the continuous-ingest pattern — the corpus side is only its
    * (fingerprint) column, so the anti-join shuffles fingerprints, never
    * documents; with a bucketed fingerprint store the shuffle disappears
    * entirely. Returns surviving (id, fp) rows to append to the store. */
  def incrementalExact(batch: DataFrame, idCol: String, textCol: String,
                       knownFps: DataFrame): DataFrame = {
    val fresh = exact(batch, idCol, textCol) // dedup within the batch
    fresh.join(knownFps.select(col("fp")), Seq("fp"), "left_anti")
  }

  /** Distributed bloom build over a store's `fp` column: one aggregation
    * pass, one compact driver-side artifact. Hash family: xxhash64 longs
    * (putLong on build, the same hash on probe). */
  def fpBloom(knownFps: DataFrame, expectedItems: Long,
              fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val hashed = knownFps.select(xxhash64(col("fp")).as("graft_h"))
    // stat.bloomFilter NPEs on a 0-row input (null aggregation buffer) —
    // an empty store legitimately occurs (first start, or a replay whose
    // batches were all duplicates wrote only empty files). The empty case
    // must still go through the SAME builder: the aggregate CLAMPS bit
    // counts at conf ceilings, so a sketch-side BloomFilter.create can
    // disagree on bit size with a later stat-built batch filter and blow
    // up mergeInPlace. One reserved sentinel row makes the build total;
    // its lone maybe-hit only routes one fp through the exact anti-join.
    val src =
      if (hashed.isEmpty) knownFps.sparkSession.range(1)
        .select(xxhash64(lit("graft:bloom:sentinel")).as("graft_h"))
      else hashed
    src.stat.bloomFilter("graft_h", expectedItems, fpp)
  }

  /** Shared bloom-prefilter core: probe `fresh` (already batch-deduped,
    * carrying `fp`) against a prebuilt filter; rows the filter rejects are
    * DEFINITELY new and skip the anti-join, only the maybe-duplicate
    * sliver (true dups + fpp false positives) shuffles against the store.
    * The batch feeds both union branches and is materialized eagerly so
    * the window dedup and bloom probe run once per row; artifacts free
    * via the ContextCleaner, so a foreachBatch caller never accumulates
    * one pinned batch cache per micro-batch. */
  private def bloomPrefiltered(fresh0: DataFrame, knownFps: DataFrame,
                               bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // Artifact: the two union branches are concurrent stages of one
    // action — a lazy persist would run the window dedup + bloom probe
    // twice before the cache fills.
    val fresh = Materialize.transient(fresh0
      .withColumn("graft_maybe",
        ColumnBridge.bloomMightContain(bytes, xxhash64(col("fp")))))
    val definitelyNew = fresh.filter(!col("graft_maybe"))
    val checked = fresh.filter(col("graft_maybe"))
      .join(knownFps.select(col("fp")), Seq("fp"), "left_anti")
    definitelyNew.unionByName(checked).drop("graft_maybe")
      .transform(Materialize.transient) // batch-sized, consumed immediately
  }

  /** Bloom-prefiltered incremental dedup — the 100 TB shape of
    * [[incrementalExact]]. The filter is built here from the store (one
    * distributed aggregation, one ~MB-to-GB driver artifact) and shipped
    * to every task as a literal inside the codegen'd
    * `BloomFilterMightContain` probe. At a 1% duplicate rate the
    * anti-join's probe side shrinks ~99%: join cost tracks the DUP rate,
    * not the corpus growth rate. Returns surviving (id, fp) rows. */
  def incrementalExactBloom(batch: DataFrame, idCol: String, textCol: String,
                            knownFps: DataFrame, expectedItems: Long,
                            fpp: Double = 0.01): DataFrame =
    bloomPrefiltered(exact(batch, idCol, textCol), knownFps,
      fpBloom(knownFps, expectedItems, fpp))

  /** Blocked fuzzy matching — entity resolution over a name/title column:
    * candidate pairs share a blocking key (the first token), survivors are
    * within `maxDist` edit distance. The classic record-linkage shape at
    * scale: the self-join shuffles on the block key, never all-pairs, and
    * the O(|a|·|b|) levenshtein only runs inside blocks. Both engines
    * implement the same case-sensitive Levenshtein, so the result is
    * oracle-exact on the surviving blocks.
    *
    * Skew bound: first-token blocks are Zipfian in real name data ("The
    * …"), and in-block pairing is O(block²) — so blocks larger than
    * `maxBlock` never self-join on the first token alone. They are NOT
    * dropped: oversized blocks re-block on the finer composite key
    * (first token, length band), with band width ≥ maxDist and each row
    * emitted to its own band AND the next one. Any true match satisfies
    * |len1−len2| ≤ dist ≤ maxDist ≤ width, so the pair's bands differ by
    * at most one and the double emission guarantees a shared sub-block —
    * recall inside routed blocks is FULL, at a bounded 2× row fan-out.
    * Sub-blocks still larger than `maxBlock` (a hot token AND a hot
    * length) are dropped as the final bound: per-(sub-)block fan-out is
    * ≤ maxBlock², and a hot block can never melt one reducer. The
    * planted DedupSpec cases pin both the recovered links and the
    * final-bound drop. */
  /** Jaro-Winkler blocked matching — [[fuzzyNameMatch]]'s GRADED twin:
    * levenshtein's integer distance punishes long strings uniformly,
    * while JW is length-normalized and front-weighted (the
    * record-linkage standard), so near-identical long names score high
    * instead of falling off an absolute-distance cliff. Same first-token
    * blocking with the broadcast size cap; oversized blocks DROP with
    * the documented bound (JW admits no length-band routing — an edit
    * bound implies a length bound, a similarity ratio does not). The
    * score is the codegen'd native [[graft.functions.JaroWinkler]]
    * rounded to 6 dp (the cosine cross-engine discipline); pairs at or
    * below `minJw` drop. */
  def jwNameMatch(df: DataFrame, idCol: String, nameCol: String,
                  minJw: Double, maxBlock: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val base = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      split(col(nameCol), " ").getItem(0).as("blk"))
    val ok = base.join(broadcast(
      base.groupBy("blk").agg(count(lit(1)).as("graft_bn"))
        .filter(col("graft_bn") <= maxBlock).select("blk")), Seq("blk"))
    val a = ok.select(col("blk"), col("id").as("id1"), col("name").as("name1"))
    val b = ok.select(col("blk"), col("id").as("id2"), col("name").as("name2"))
    a.join(b, Seq("blk")).filter(col("id1") < col("id2"))
      .withColumn("jw", round(ColumnBridge.column(
        graft.functions.JaroWinkler(
          ColumnBridge.expression(col("name1")),
          ColumnBridge.expression(col("name2")))), 6))
      .filter(col("jw") >= minJw)
      .select(col("id1"), col("id2"), col("jw"))
  }

  def fuzzyNameMatch(df: DataFrame, idCol: String, nameCol: String,
                     maxDist: Int, maxBlock: Long = 1000L): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      split(col(nameCol), " ").getItem(0).as("blk"))
    // Block sizes are a tiny (distinct first tokens) aggregate; the cap
    // filter BROADCASTS back onto both join sides, so oversized blocks
    // never enter the shuffle at all.
    val sizes = base.groupBy("blk").agg(count(lit(1)).as("graft_bn"))
    def pairsOf(side: DataFrame, keys: Seq[String]): DataFrame = {
      val a = side.select(keys.map(col) :+ col("id").as("id1")
        :+ col("name").as("name1"): _*)
      val b = side.select(keys.map(col) :+ col("id").as("id2")
        :+ col("name").as("name2"): _*)
      a.join(b, keys).filter(col("id1") < col("id2"))
        .withColumn("dist", levenshtein(col("name1"), col("name2")))
        .filter(col("dist") <= maxDist)
        .select(col("id1"), col("id2"), col("dist").cast("long").as("dist"))
    }
    val okBlocks = sizes.filter(col("graft_bn") <= maxBlock).select("blk")
    val okPairs = pairsOf(base.join(broadcast(okBlocks), Seq("blk")), Seq("blk"))
    // Hot route: (first token, length band) with band-adjacent double
    // emission; pairs found in two shared bands dedup below.
    val hotBlocks = sizes.filter(col("graft_bn") > maxBlock).select("blk")
    val bandWidth = math.max(maxDist, 2)
    val hot = base.join(broadcast(hotBlocks), Seq("blk"))
      .withColumn("graft_band", floor(length(col("name")) / bandWidth))
    val emitted = hot.select(col("blk"), col("graft_band"), col("id"), col("name"))
      .unionByName(hot.select(col("blk"),
        (col("graft_band") + 1).as("graft_band"), col("id"), col("name")))
    val okSub = emitted.groupBy("blk", "graft_band")
      .agg(count(lit(1)).as("graft_sn"))
      .filter(col("graft_sn") <= maxBlock).select("blk", "graft_band")
    val routed = emitted.join(broadcast(okSub), Seq("blk", "graft_band"))
    okPairs.unionByName(pairsOf(routed, Seq("blk", "graft_band")).distinct())
  }

  /** Embedding near-dup: cosine ≥ τ among pairs sharing a coarse bucket
    * (IVF-style partition prefilter → intra-bucket self-join only). */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       bucketCol: String, minCos: Double): DataFrame = {
    // Norms are computed once per row before the self-join (n·dim work)
    // instead of once per pair (n²/buckets·dim) — each pair then costs a
    // single dot product. Same doubles as dot/√dot·√dot, so oracle-exact.
    val withNorm = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(bucketCol).as("bk"), V.norm(col(vecCol)).as("nrm"))
    val a = withNorm.toDF("id1", "v1", "bk", "nrm1")
    val b = withNorm.toDF("id2", "v2", "bk", "nrm2")
    a.join(b, Seq("bk")).filter(col("id1") < col("id2"))
      .withColumn("cos",
        round(V.dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")), 6))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** LSH banding quality audit: runs the engine-portable minhash pipeline
    * WITHOUT its agreement filter and scores its candidate pairs against
    * the exact shingle-Jaccard truth at `trueJaccard` — the measured
    * precision/recall of the banding configuration on THIS corpus, not
    * the textbook S-curve. This is the number that decides bands×rows
    * before a 100 TB dedup run: recall says what the banding misses,
    * precision says how much exact verification the candidates still
    * need. Both legs are the existing oracle-replayable pipelines; the
    * audit is three one-row counts cross-joined, so the whole report is
    * engine-exact. */
  def lshQualityAudit(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, bands: Int, rowsPerBand: Int,
                      trueJaccard: Double,
                      precomputedStats: Option[DataFrame] = None): DataFrame = {
    val cand = minhashPairsPortable(docs, idCol, textCol, n, bands,
      rowsPerBand, minAgree = 0.0).select("id1", "id2")
    val stats = precomputedStats.getOrElse(
      pairShingleStats(docs, idCol, textCol, n))
    val truth = jaccardFromStats(stats, trueJaccard).select("id1", "id2")
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = cand.join(truth, Seq("id1", "id2"))
      .agg(count(lit(1)).as("n_caught"))
    nCand.crossJoin(nTrue).crossJoin(nHit)
      .select(col("n_candidates"), col("n_true"), col("n_caught"),
        round(col("n_caught").cast("double")
          / greatest(col("n_candidates"), lit(1L)).cast("double"), 4)
          .as("lsh_precision"),
        round(col("n_caught").cast("double")
          / greatest(col("n_true"), lit(1L)).cast("double"), 4)
          .as("lsh_recall"))
  }

  /** Duplicate-prefix groups: documents whose first `k` tokens are
    * identical — the truncation-duplicate screen (the same article
    * crawled twice and cut at different lengths has different full-text
    * hashes but the same opening). One md5 per document, one hash-keyed
    * aggregate; no joins, no pairs — the cheapest member of the near-dup
    * family, and the one to run FIRST at 100 TB because it costs a
    * wordcount. Returns one row per collision group with the canonical
    * survivor (min id). */
  def prefixDuplicates(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame =
    docs
      .select(col(idCol),
        md5(concat_ws(" ",
          slice(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"),
            lit(0)), 1, k))).as("prefix_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Incremental NEAR-dup against a persisted LSH signature store — the
    * q81 (incremental exact) discipline extended to the MinHash family: a
    * long-lived ingest persists, for every accepted document, its banded
    * bucket keys and its full signature (both bucketed tables); a new
    * batch computes signatures for ITS OWN rows only, probes the band
    * store on (band, bucket) — the store side reads its buckets with no
    * shuffle — and verifies candidates against the stored signatures.
    * Per-batch cost tracks the batch size and the collision rate, never
    * the store size; no shingle of an already-ingested document is ever
    * recomputed. Returns (id1 = store doc, id2 = batch doc, est_jaccard)
    * for flagged pairs; callers anti-join `id2` to admit survivors.
    *
    * `storeBands` must carry (id, band, bk); `storeSigs` (id, sig) — both
    * built with the SAME (n, bands, rowsPerBand) by the portable pipeline
    * ([[minhashPairsPortable]]'s signature stage), which is what makes the
    * whole incremental path oracle-replayable. */
  def incrementalMinhash(batch: DataFrame, idCol: String, textCol: String,
                         n: Int, bands: Int, rowsPerBand: Int,
                         minAgree: Double, storeBands: DataFrame,
                         storeSigs: DataFrame): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = Materialize.transient(batch
      .select(col(idCol).as("id"), T.wordShinglesNative(col(textCol), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), T.md5MinhashNative(col("shs"), numHashes).as("sig")))
    val banded = sig.select(col("id").as("id2"),
      posexplode(array((0 until bands).map { b =>
        concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
      }: _*)).as(Seq("band", "bk")))
    val candidates = banded
      .join(storeBands.select(col("id").as("id1"), col("band"), col("bk")),
        Seq("band", "bk"))
      .select("id1", "id2").distinct()
    val agree = aggregate(
      zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val out = candidates
      .join(storeSigs.select(col("id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sig.select(col("id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est_jaccard", round(agree.cast("double") / numHashes, 4))
      .filter(agree.cast("double") / numHashes >= minAgree)
      .select(col("id1"), col("id2"), col("est_jaccard"))
      .transform(Materialize.artifact)
    out
  }

  /** The store half of [[incrementalMinhash]]: (id, band, bk) band table
    * and (id, sig) signature table for `docs`, from the same portable
    * signature stage. A real ingest appends each batch's survivors to
    * both tables; here it builds them in one pass for the store split. */
  def minhashStoreTables(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, bands: Int,
                         rowsPerBand: Int): (DataFrame, DataFrame) = {
    val numHashes = bands * rowsPerBand
    val sig = docs
      .select(col(idCol).as("id"), T.wordShinglesNative(col(textCol), n).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), T.md5MinhashNative(col("shs"), numHashes).as("sig"))
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
      }: _*)).as(Seq("band", "bk")))
    (banded, sig)
  }

  /** Sign-bit coarse bucket over the first `bits` embedding dimensions —
    * a '0'/'1' string key both engines can rebuild verbatim. This is the
    * oracle-replayable stand-in for the coarse quantizer in semantic
    * dedup: a production run swaps in the IVF centroid assignment
    * (Similarity.ivfIndex) for better-balanced cells; the downstream
    * within-cell logic is identical either way. */
  private[operators] def signBucket(vecCol: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(vecCol, i) >= 0f, lit("1")).otherwise(lit("0"))): _*)

  /** Semantic (embedding-space) dedup, SemDeDup-style: partition the
    * corpus into coarse cells, score only intra-cell pairs, and drop a
    * row iff it is within `minCos` of ANY lower-id row in its cell —
    * including lower-id rows that are themselves dropped (A~B, B~C, A≁C
    * drops both B and C). This is the standard pair-based SemDeDup
    * variant, NOT an iterative greedy pass over survivors and NOT
    * connected components: one deterministic join, and a chain linked
    * only through intermediate ids never collapses to a single keeper.
    *
    * Scale posture: the only shuffle is the cell-keyed self-join, so pair
    * fan-out is bounded by the largest cell, not the corpus; norms are
    * computed once per row before the join (same trick as
    * [[embeddingNearDup]]). Returns one row per cell:
    * (bucket, n_total, n_dropped, n_kept). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    signBits: Int, minCos: Double): DataFrame = {
    val rows = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      signBucket(col(vecCol), signBits).as("bk"),
      V.norm(col(vecCol)).as("nrm"))
    val a = rows.select(col("id").as("id1"), col("v").as("v1"),
      col("bk"), col("nrm").as("nrm1"))
    val b = rows.select(col("id").as("id2"), col("v").as("v2"),
      col("bk"), col("nrm").as("nrm2"))
    val dropped = a.join(b, Seq("bk"))
      .filter(col("id1") < col("id2"))
      .filter(round(V.dot(col("v1"), col("v2"))
        / (col("nrm1") * col("nrm2")), 6) >= minCos)
      .select(col("bk"), col("id2").as("id")).distinct()
    rows.select("bk", "id")
      .join(dropped.withColumn("graft_drop", lit(1)), Seq("bk", "id"), "left")
      .groupBy(col("bk").as("bucket"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("graft_drop").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("n_kept", col("n_total") - col("n_dropped"))
  }

  /** The store half of [[incrementalSemantic]] — (bk, id, v, nrm) for
    * `emb`, the embedding twin of [[minhashStoreTables]]: sign-bit cell
    * key for the bucketed layout the probe joins on, vector and
    * precomputed norm for the cosine verify. A continuous ingest appends
    * each batch's survivors; the batch path builds it in one pass. */
  def semanticStoreTable(emb: DataFrame, idCol: String, vecCol: String,
                         signBits: Int): DataFrame =
    emb.select(signBucket(col(vecCol), signBits).as("bk"),
      col(idCol).as("id"), col(vecCol).as("v"),
      V.norm(col(vecCol)).as("nrm"))

  /** Incremental semantic near-dup — [[incrementalMinhash]]'s shape for
    * the embedding family: the batch's vectors probe a PERSISTED
    * (bk, id, v, nrm) store ([[semanticStoreTable]]) on the sign-bit
    * cell key, and only intra-cell candidate pairs run the cosine
    * verify. Returns (id1 = store id, id2 = batch id, cos) for every
    * store row within `minCos` of a batch row — exactly [[semanticDedup]]
    * semantics with "lower id" replaced by "already ingested".
    *
    * Scale posture: per-batch cost tracks batch size × cell collision
    * rate, never store size — the store side of the join reads only the
    * probed cells (bucketed layout), fan-out is bounded by the largest
    * cell, norms come precomputed from the store. */
  def incrementalSemantic(batch: DataFrame, idCol: String, vecCol: String,
                          signBits: Int, minCos: Double,
                          store: DataFrame): DataFrame = {
    val probe = semanticStoreTable(batch, idCol, vecCol, signBits)
      .select(col("bk"), col("id").as("id2"), col("v").as("v2"),
        col("nrm").as("nrm2"))
    store
      .select(col("bk"), col("id").as("id1"), col("v").as("v1"),
        col("nrm").as("nrm1"))
      .join(probe, Seq("bk"))
      .withColumn("cos", round(V.dot(col("v1"), col("v2"))
        / (col("nrm1") * col("nrm2")), 6))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Passage-level duplication audit: slide a `w`-token window with
    * `stride` over each document, hash every window, and count per doc
    * how many of its windows also occur in ANOTHER document — the
    * repeated-passage screen that catches boilerplate paragraphs and
    * syndicated article bodies that whole-document near-dup misses
    * (document pairs can be globally dissimilar while sharing a verbatim
    * paragraph). md5 over the window text keeps the hash engine-portable.
    *
    * Scale posture: one explode of ~len/stride windows per doc, one
    * hash-keyed aggregate for the document frequency, one broadcast-able
    * join back (the duplicated-window set is the df>1 slice, tiny next
    * to the corpus) — no pair join at all, cost is a wordcount like
    * [[prefixDuplicates]]. Docs shorter than `w` tokens are excluded on
    * both engines. */
  def passageDuplication(docs: DataFrame, idCol: String, textCol: String,
                         w: Int, stride: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), T.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= w)
    val windows = toks
      .select(col("id"), explode(
        sequence(lit(1), size(col("toks")) - (w - 1), lit(stride))).as("i"),
        col("toks"))
      .select(col("id"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(w)))).as("h"))
    val df = windows.groupBy("h")
      .agg(count_distinct(col("id")).as("graft_df"))
      .filter(col("graft_df") > 1)
      .select("h")
    windows
      .join(df.withColumn("graft_dup", lit(1)), Seq("h"), "left")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("graft_dup").isNotNull, 1L).otherwise(0L))
          .as("n_dup_windows"))
      .withColumn("dup_frac",
        round(col("n_dup_windows").cast("double")
          / col("n_windows").cast("double"), 4))
  }

  /** Capture-recapture (Lincoln-Petersen) distinct-content estimate —
    * "how big is the dedup problem" WITHOUT paying for the global
    * distinct: two INDEPENDENT deterministic half-samples of the corpus
    * (md5 of 'a'·id and 'b'·id — independent marks, so a fingerprint's
    * capture events are independent coin flips), a fingerprint is
    * captured by a sample when any of its documents is, and the
    * ecology estimator N̂ = d_A·d_B div d_AB recovers the distinct
    * count from the three sample-local tallies. At 100 TB the point is
    * that each sample leg can run on a FRACTION of the corpus (the
    * mark is a pure function of the row — samples prune at the scan);
    * this contract query runs both legs over one pass to hash-check
    * the estimator's arithmetic. Zero recaptures → NULL (undefined),
    * never a sentinel.
    *
    * One fingerprint aggregate (single keyed shuffle, max-combinable
    * marks), a 1-row fold. Estimator bias O(1/d_AB) is the documented
    * trade (Chapman's +1 correction variant is `n_hat_chapman`). */
  /** Exact duplicated-SPAN detection — the substring-level dedup rung
    * under the doc-level near-dup family (the suffix-array dedup of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * re-expressed in the bucketed k-gram-anchor form): a token position
    * is COVERED when some word k-gram starting at or crossing it occurs,
    * verbatim, in at least one OTHER document; maximal runs of covered
    * positions merge into spans. Every duplicated substring of ≥ k
    * tokens is found EXACTLY (each of its k-grams recurs elsewhere, so
    * the whole substring is covered); coverage may extend past a single
    * pairwise match when distinct partners overlap-chain ("chimera"
    * join) — the standard, documented over-approximation every
    * k-gram-anchored span dedup makes in exchange for never doing an
    * all-pairs or per-pair suffix walk.
    *
    * Scale shape: one token explode (corpus × tokens rows, narrow), one
    * two-phase distinct-doc count on the gram's 64-bit hash (partial
    * combine absorbs boilerplate grams — never a window), one semi-join
    * back on the hash, one DOC-KEYED island-merge window (bounded per
    * doc). No pair join anywhere; the hash-key collision trade is the
    * explodedShingles one (P ≈ grams²/2⁶⁵).
    *
    * Output: (doc_id, span_start, span_len) in 0-based token indices,
    * span_len ≥ k. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame =
    dupSpansFromToks(spanToks(docs, idCol, textCol), k)

  /** (id, toks) tokenization shared by the span family — factored out so
    * [[spanSensitivity]] tokenizes ONCE across its k sweep instead of
    * once per k. */
  private def spanToks(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    // Tokenize + k-gram explode downstream is the span family's heavy map
    // stage; spread a low-split corpus first (guide §2.5, identity at
    // ≥cores input partitions).
    graft.Tables.spread(docs)
      .select(col(idCol).as("id"), T.tokens(col(textCol)).as("toks"))

  /** [[dupSpans]] over a pre-tokenized (id, toks) table. */
  private def dupSpansFromToks(toks: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "span gram length k must be ≥ 2")
    val gr = Materialize.transient(gramsFromToks(toks, k))
    // grams seen in ≥ 2 distinct docs: per-doc dedup first (map-side
    // combinable), then a count on the gram key — both partial-agg
    val shared = gr.select("g", "id").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val covered = gr.join(shared, Seq("g"), "left_semi")
      .select("id", "p").distinct()
    islandSpans(covered, k)
  }

  /** Island-merge of covered anchor positions into maximal spans:
    * intervals [p, p+k-1] union; adjacent/overlapping when p ≤ prev + k.
    * Doc-keyed window — bounded per doc, never corpus-wide. */
  private def islandSpans(covered: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("p").asc)
    covered
      .withColumn("graft_new",
        when(lag(col("p"), 1).over(w).isNull ||
          col("p") > lag(col("p"), 1).over(w) + k, 1L).otherwise(0L))
      .withColumn("graft_span", sum(col("graft_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id").as("doc_id"), col("graft_span"))
      .agg(min("p").cast("long").as("span_start"),
        (max(col("p")) + k - min(col("p"))).cast("long").as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  /** Positioned k-gram hashes over a pre-tokenized (id, toks) table. */
  private def gramsFromToks(toks: DataFrame, k: Int): DataFrame =
    toks
      .filter(size(col("toks")) >= k && length(col("toks")(0)) > 0)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $k)," +
          s" i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $k))))"))
        .as(Seq("p", "g")))

  /** Per-document duplicated-span rollup over [[dupSpans]]: token total,
    * covered (duplicated) tokens, span count, and integer-ppm
    * duplication — the "how much of each doc is boilerplate copied
    * elsewhere" readout a span-dedup pass gates on. Docs with no
    * duplicated span report zeros (left join keeps them). */
  def dupSpanReport(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    dupSpanReportFromSpans(docs, idCol, textCol,
      dupSpans(docs, idCol, textCol, k))

  /** [[dupSpanReport]] over a PRECOMPUTED [[dupSpans]] table — the
    * share-the-substrate entry point: the span detection (tokenize +
    * gram explode + df count + island merge) is the expensive pass, and
    * every consumer of the same (corpus, k) point — the raw span list,
    * the per-doc rollup, the per-source decision table, the rewrite —
    * reuses ONE materialized artifact instead of re-deriving it. */
  def dupSpanReportFromSpans(docs: DataFrame, idCol: String,
                             textCol: String, spans0: DataFrame): DataFrame = {
    val totals = docs.select(col(idCol).as("doc_id"),
      T.wsTokens(col(textCol)).cast("long").as("n_tokens"))
    val spans = spans0
      .groupBy("doc_id")
      .agg(sum("span_len").as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    totals.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        expr("CASE WHEN n_tokens = 0 THEN 0 ELSE" +
          " coalesce(dup_tokens, 0) * 1000000 div n_tokens END")
          .as("dup_ppm"))
  }

  /** The distinct gram-hash STORE a batch's spans are checked against —
    * build once from the accepted corpus, append per admitted batch
    * (the q81 fingerprint-store lifecycle at gram granularity). */
  def gramStore(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame =
    spanGrams(docs, idCol, textCol, k).select("g").distinct()

  private def spanGrams(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame =
    gramsFromToks(spanToks(docs, idCol, textCol), k)

  /** INCREMENTAL duplicated-span detection — [[dupSpans]]' ingest-time
    * twin (q81's incremental-dedup lifecycle at substring granularity):
    * a NEW batch's spans are flagged where their k-grams already exist
    * in the persisted corpus [[gramStore]] — so a feed that re-posts
    * wire copy is caught at admission without ever re-scanning the
    * corpus. One batch-sized gram explode, one semi-join against the
    * store (batch-side tiny; the store side is the big-but-static
    * relation a broadcast/bucketed layout serves), one batch-doc-keyed
    * island window. Same chimera over-approximation contract as
    * [[dupSpans]]. */
  def dupSpansVsStore(batch: DataFrame, idCol: String, textCol: String,
                      k: Int, store: DataFrame): DataFrame =
    islandSpans(
      spanGrams(batch, idCol, textCol, k)
        .join(store, Seq("g"), "left_semi")
        .select("id", "p").distinct(),
      k)

  /** Span-dedup sensitivity sweep — q216's threshold-sweep discipline
    * applied to the substring family: corpus-level span statistics at
    * several anchor lengths k, so the curation owner sees how the
    * removal volume moves with the knob BEFORE committing to one (small
    * k over-flags collocations; large k misses short boilerplate). The
    * TOKENIZE pass (the regex split of every document) runs ONCE and is
    * materialized; each k re-derives only its own gram hashes from the
    * shared token table — one gram explode per k instead of one full
    * tokenize+explode per k. */
  def spanSensitivity(docs: DataFrame, idCol: String, textCol: String,
                      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 2), "need k values >= 2")
    val toks = Materialize.transient(spanToks(docs, idCol, textCol))
    ks.map { k =>
      // per-doc rollup then a 1-row fold: docs_touched = docs with ≥ 1
      // span (identical to the former left-join-and-count-positives —
      // zero-span docs contribute nothing to any of the three sums)
      dupSpansFromToks(toks, k)
        .groupBy("doc_id")
        .agg(sum("span_len").as("dup_tokens"), count(lit(1)).as("n_spans"))
        .agg(count(lit(1)).as("docs_touched"),
          sum("n_spans").as("total_spans"),
          sum("dup_tokens").as("covered_tokens"))
        .select(lit(k.toLong).as("k"),
          col("docs_touched").cast("long").as("docs_touched"),
          coalesce(col("total_spans"), lit(0L)).cast("long")
            .as("total_spans"),
          coalesce(col("covered_tokens"), lit(0L)).cast("long")
            .as("covered_tokens"))
    }.reduce(_ unionByName _)
  }

  /** Per-document NOVELTY rate — the inverse readout of the near-dup
    * family: the share of a document's distinct shingles that occur in
    * NO other document (corpus-unique text vs boilerplate/copy), in
    * integer ppm. High novelty marks original content worth keeping;
    * near-zero novelty is template sludge even when no single pair
    * crosses a near-dup threshold. Shape: the shingle explode + ONE
    * two-phase distinct-doc count on the 64-bit shingle hash (map-side
    * combining — the q317 df discipline), joined back per doc. */
  def noveltyRate(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    val sh = Materialize.transient(explodedShingles(docs, idCol, textCol, n))
    val df = sh.select("g", "id").distinct()
      .groupBy("g").agg(count(lit(1)).as("graft_nd"))
    sh.join(df, Seq("g"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("graft_nd") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"),
        col("n_unique").cast("long").as("n_unique"),
        expr("n_unique * 1000000 div n_shingles").as("novelty_ppm"))
  }

  /** Span-dedup ACTION readout per source: what a duplicated-span
    * removal pass would delete — documents touched, tokens before,
    * covered (removable) tokens, tokens after, integer-ppm shrink.
    * The corpus-curation decision table over [[dupSpanReport]]. */
  def spanCleanReport(docs: DataFrame, idCol: String, textCol: String,
                      srcCol: String, k: Int): DataFrame =
    spanCleanReportFromSpans(docs, idCol, textCol, srcCol,
      dupSpans(docs, idCol, textCol, k))

  /** [[spanCleanReport]] over a precomputed [[dupSpans]] table (the
    * [[dupSpanReportFromSpans]] substrate-sharing entry point). */
  def spanCleanReportFromSpans(docs: DataFrame, idCol: String,
                               textCol: String, srcCol: String,
                               spans0: DataFrame): DataFrame = {
    val rep = dupSpanReportFromSpans(docs, idCol, textCol, spans0)
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"))
      .join(rep, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("docs_touched"),
        sum("n_tokens").as("tokens_before"),
        sum("dup_tokens").as("tokens_removed"))
      .select(col("source"), col("n_docs"),
        col("docs_touched").cast("long").as("docs_touched"),
        col("tokens_before").cast("long").as("tokens_before"),
        col("tokens_removed").cast("long").as("tokens_removed"),
        (col("tokens_before") - col("tokens_removed")).cast("long")
          .as("tokens_after"),
        expr("CASE WHEN tokens_before = 0 THEN 0" +
          " ELSE tokens_removed * 1000000 div tokens_before END")
          .as("removed_ppm"))
  }

  /** Span-removal REWRITE — the pass that actually PRODUCES the cleaned
    * corpus (Lee et al. pipelines end in the rewrite, not the report):
    * every position covered by a [[dupSpans]] interval is spliced out of
    * the token stream and the document re-materialized as `clean_text`.
    * Documents with no duplicated span keep their text BYTE-IDENTICAL
    * (verbatim passthrough — no tokenize/rejoin round trip); touched
    * documents are rebuilt from their original-case whitespace tokens
    * joined by single spaces (whitespace canonicalization is the
    * documented cost of a token-level splice). A fully-covered document
    * becomes the empty string, not a dropped row — the caller decides
    * between keeping the husk and filtering on tokens_after.
    *
    * Scale shape: [[dupSpans]]' substrate plus ONE doc-keyed join of the
    * per-doc span list (bounded per doc — island-merged intervals) and
    * one narrow splice projection (the span array and token array never
    * leave the row). The splice arithmetic is asserted IN-QUERY:
    * tokens_after (the kept array's actual size) must equal
    * n_tokens − Σ span_len — the q342 decision-table identity, so the
    * rewrite can never silently disagree with the report that justified
    * it.
    *
    * Output: (doc_id, n_tokens, tokens_removed, tokens_after,
    * clean_text). */
  def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                  k: Int): DataFrame =
    removeSpansFromSpans(docs, idCol, textCol,
      dupSpans(docs, idCol, textCol, k))

  /** [[removeSpans]] over a precomputed [[dupSpans]] table (the
    * [[dupSpanReportFromSpans]] substrate-sharing entry point). */
  def removeSpansFromSpans(docs: DataFrame, idCol: String, textCol: String,
                           spans0: DataFrame): DataFrame = {
    val spans = spans0
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
          col("span_len").as("l"))).as("graft_spans"),
        sum("span_len").as("graft_removed"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("graft_text"),
        T.wsTokens(col(textCol)).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      // token array in its own projection BEFORE the lambda (interpreted
      // higher-order funcs re-evaluate inner exprs per element — keep the
      // regex split out; see TextFunctions.tokens)
      .withColumn("graft_raw",
        split(trim(regexp_replace(col("graft_text"), "\\s+", " ")), " "))
      .withColumn("graft_kept", expr(
        "filter(graft_raw, (t, i) -> NOT exists(graft_spans," +
          " sp -> i >= sp.s AND i < sp.s + sp.l))"))
      .filter(assert_true(col("graft_spans").isNull ||
          size(col("graft_kept")).cast("long") ===
            col("n_tokens") - col("graft_removed"),
        lit("removeSpans: splice size disagrees with span arithmetic"))
        .isNull)
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("graft_removed"), lit(0L)).cast("long")
          .as("tokens_removed"),
        when(col("graft_spans").isNull, col("n_tokens"))
          .otherwise(size(col("graft_kept")).cast("long"))
          .as("tokens_after"),
        when(col("graft_spans").isNull, col("graft_text"))
          .otherwise(array_join(col("graft_kept"), " ")).as("clean_text"))
  }

  /** SOFT dedup via duplicate-aware training weights — the alternative
    * to hard removal the sampling literature prefers when duplicates
    * carry signal (a doc replicated n times trains with weight 1/n, so
    * the corpus distribution is dedup-corrected WITHOUT discarding any
    * row or choosing a canonical): per doc, the exact copy count of its
    * content fingerprint and weight_ppm = 10⁶ div n_copies; per source,
    * the EFFECTIVE corpus size Σ 1/n_copies (in micro-docs) next to the
    * raw count — the number that should drive mixing ratios. One
    * fingerprint aggregate + one join-back + one rollup, all
    * map-combinable. */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
                       srcCol: String): DataFrame = {
    val fps = docs.select(col(idCol).as("doc_id"),
      col(srcCol).as("source"), T.fingerprint(col(textCol)).as("graft_fp"))
    val counts = fps.groupBy("graft_fp")
      .agg(count(lit(1)).as("n_copies"))
    fps.join(counts, Seq("graft_fp"))
      .select(col("source"),
        expr("1000000 div n_copies").as("graft_w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("graft_w").cast("long").as("effective_micro"))
      .select(col("source"), col("n_docs"),
        col("effective_micro"),
        expr("effective_micro div n_docs").as("mean_weight_ppm"))
  }

  /** Cross-source duplication VENN — the spread histogram next to the
    * pairwise matrix (53e counts dup PAIRS per source pair; this counts
    * how much CONTENT lives in exactly k sources): fingerprints bucketed
    * by their distinct-source count, with document totals. The
    * mirror-planning readout ("how much of the corpus is syndicated
    * wire copy vs single-source originals") a dedup rollout is sized
    * by. Two map-combinable aggregates on the fingerprint key — a
    * wordcount, never a join. */
  def sourceVenn(docs: DataFrame, idCol: String, textCol: String,
                 srcCol: String): DataFrame =
    docs.select(T.fingerprint(col(textCol)).as("graft_fp"),
        col(srcCol).as("graft_src"))
      .groupBy("graft_fp")
      .agg(count_distinct(col("graft_src")).as("n_sources"),
        count(lit(1)).as("graft_docs"))
      .groupBy("n_sources")
      .agg(count(lit(1)).as("n_fingerprints"),
        sum("graft_docs").cast("long").as("n_docs"))

  def captureRecapture(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    def mark(salt: String): Column =
      (substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 1)
        < "8").cast("long")
    docs.select(T.fingerprint(col(textCol)).as("graft_fp"),
        mark("a").as("graft_a"), mark("b").as("graft_b"))
      .groupBy("graft_fp")
      .agg(max("graft_a").as("graft_ia"), max("graft_b").as("graft_ib"))
      .agg(coalesce(sum("graft_ia"), lit(0L)).as("graft_da"),
        coalesce(sum("graft_ib"), lit(0L)).as("graft_db"),
        coalesce(sum(col("graft_ia") * col("graft_ib")), lit(0L))
          .as("graft_dab"))
      .select(col("graft_da").cast("long").as("d_a"),
        col("graft_db").cast("long").as("d_b"),
        col("graft_dab").cast("long").as("d_both"),
        expr("CASE WHEN graft_dab = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE graft_da * graft_db div graft_dab END").as("n_hat"),
        expr("(graft_da + 1) * (graft_db + 1)" +
          " div (graft_dab + 1) - 1").as("n_hat_chapman"))
  }
}
