package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked text retrieval over the corpus — the query side of the search
  * pipeline that [[graft.operators.Analytics.tfidfTopTerms]] is the
  * indexing side of: score documents against a bag-of-terms query with a
  * BM25-family function and return the top hits.
  *
  * Engine-portability discipline (the q68/q102 fixed-point contract):
  * the classic BM25 `ln`-idf is replaced by its rational core
  * `(N - df + 0.5) / (df + 0.5)` — transcendental functions are the one
  * thing two engines' libm may disagree on at the ulp — and each term's
  * contribution is quantized to integer MICRO-units before the per-doc
  * sum, so summation order (Spark partition order vs anything else) can
  * never change the result. Every double in between derives from exact
  * integer stats through one fixed expression tree.
  *
  * Scale posture: two narrow passes over the corpus — one stats pass
  * (N, total token count → avgdl; a map-side-combinable aggregate to a
  * 1-row broadcast) and one match pass that keeps ONLY query-term hits
  * (`filter(toks, …)` before the explode, so the shuffled row count is
  * the posting-list size of the query, not the corpus token count). Term
  * document-frequency comes from a window over the tiny (doc, term, tf)
  * hit table — never a second corpus aggregate (q52's shape). The final
  * top-k compiles to TakeOrderedAndProject. */
object Search {

  /** Score `docs` against `queryTerms` with rational-idf BM25
    * (k1 = 1.2, b = 0.75) and return the top `topK` as
    * (doc_id, n_terms_hit, score_micro) — score in integer micro-units,
    * ties broken by lower doc id. Only documents containing at least one
    * query term appear (BM25 retrieval, not corpus scoring). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], topK: Int): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase)
    val base = docs.select(col(idCol).as("doc_id"),
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
        .as("graft_toks"))
    // Corpus stats: N docs, total tokens. avgdl derives as total*1.0/n —
    // one fixed division both engines replay identically.
    val stats = base.agg(count(lit(1)).as("graft_nd"),
      sum(size(col("graft_toks"))).as("graft_tt"))
    // Match pass: doc length rides along; only query-term hits explode.
    val hits = base
      .select(col("doc_id"), size(col("graft_toks")).cast("long").as("graft_dl"),
        filter(col("graft_toks"), t => t.isInCollection(terms)).as("graft_q"))
      .select(col("doc_id"), col("graft_dl"),
        explode(col("graft_q")).as("term"))
    val tf = hits.groupBy("doc_id", "graft_dl", "term")
      .agg(count(lit(1)).as("graft_tf"))
      // tf rows are one-per-(doc,term): df(term) = row count per term.
      .withColumn("graft_df",
        count(lit(1)).over(Window.partitionBy("term")))
    val nd = col("graft_nd").cast("double")
    val avgdl = col("graft_tt").cast("double") * lit(1.0) / nd
    val idf = (nd - col("graft_df") + lit(0.5)) / (col("graft_df") + lit(0.5))
    val num = col("graft_tf") * lit(2.2)
    val den = col("graft_tf") +
      lit(1.2) * (lit(0.25) + lit(0.75) * col("graft_dl") / avgdl)
    val contribMicro =
      floor(idf * num / den * lit(1000000.0) + lit(0.5)).cast("long")
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), contribMicro.as("graft_c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum("graft_c").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Inverted-index build — the posting lists [[bm25]] queries against,
    * materialized: per term its document frequency and the top
    * `maxPostings` postings as a `doc:tf` string (tf desc, doc asc —
    * highest-signal postings first, the impact-ordered layout search
    * engines truncate on). Reports the `topTerms` highest-df terms
    * (df desc, term asc) so the output is bounded at any corpus size.
    *
    * Scale posture: one tokenize → one (doc, term) count → the postings
    * cap is applied with a per-term WINDOW RANK *before* any list is
    * materialized — sort-based, spills under skew — so a stop-word term
    * with 10⁹ postings never has to assemble more than `maxPostings`
    * elements in memory (a bare collect_list-then-slice would).
    * `n_postings` counts the KEPT postings; `df` the true frequency. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int, topTerms: Int): DataFrame = {
    require(maxPostings >= 1 && topTerms >= 1,
      "maxPostings and topTerms must be at least 1")
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"),
          lit(0))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("graft_tf"))
    val ranked = tf
      .withColumn("graft_df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("graft_rk", row_number().over(Window.partitionBy("term")
        .orderBy(col("graft_tf").desc, col("doc_id").asc)))
      .filter(col("graft_rk") <= maxPostings)
    ranked.groupBy("term", "graft_df")
      .agg(count(lit(1)).as("n_postings"),
        array_join(transform(
          array_sort(collect_list(struct(col("graft_rk"), col("doc_id"),
            col("graft_tf")))),
          e => concat(e("doc_id").cast("string"), lit(":"),
            e("graft_tf").cast("string"))), "|").as("postings"))
      .select(col("term"), col("graft_df").as("df"), col("n_postings"),
        col("postings"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(topTerms)
  }

  /** Related terms by document co-occurrence lift — the query-expansion
    * suggestion next to BM25: for a seed term,
    * lift_ppm = (df_both · N) · 10⁶ div (df_seed · df_term) in integer
    * arithmetic (the PMI ratio without the log — same ordering, exact on
    * every engine); terms below `minCo` co-occurrences drop (rare-pair
    * noise floor).
    *
    * Shape: ONE tokenize to distinct (doc, term) pairs; the seed's doc
    * set semi-restricts the co-occurrence count (fan-out bounded by the
    * seed docs' vocabulary, not the corpus); global dfs are a wordcount.
    * Top `k` by (lift desc, term) via TakeOrderedAndProject. */
  def relatedTerms(docs: DataFrame, idCol: String, textCol: String,
                   seed: String, minCo: Long, k: Int): DataFrame = {
    val seedLc = seed.toLowerCase
    // Pinned ONCE: the (doc, term) table feeds four subtrees (N, dfs,
    // seed docs, co-counts) — unpinned, the tokenize re-ran per consumer.
    val pairs = Materialize.transient(graft.Tables.spread(docs)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(
          regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))))
          .as("term")))
    val n = pairs.select(countDistinct(col("doc_id")).as("graft_n"))
    val dfs = pairs.groupBy("term").agg(count(lit(1)).as("graft_df"))
    val seedDocs = pairs.filter(col("term") === seedLc).select("doc_id")
    val co = pairs.join(seedDocs, Seq("doc_id"), "left_semi")
      .filter(col("term") =!= seedLc)
      .groupBy("term").agg(count(lit(1)).as("graft_co"))
      .filter(col("graft_co") >= minCo)
    val dfSeed = dfs.filter(col("term") === seedLc)
      .select(col("graft_df").as("graft_dfs"))
    co.join(dfs, Seq("term"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(dfSeed))
      .select(col("term"), col("graft_co").as("n_co"),
        col("graft_df").as("df_term"),
        expr("graft_co * graft_n * 1000000 div (graft_dfs * graft_df)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("term").asc)
      .limit(k)
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the modern RAG-stack
    * composition: a lexical BM25 leg and a dense cosine-ANN leg each
    * rank their top `legK`, and fusion scores
    * rrf_ppm = Σ_legs 10⁶ div (rrfK + rank) (Cormack et al., SIGIR'09;
    * k=60 convention) — integer arithmetic, so the fused ranking is
    * hash-exact even though it combines two differently-scaled scorers
    * (RRF's whole point: ranks, not scores, fuse).
    *
    * Both legs are the already-oracle-proven operators (q132 BM25, q23
    * exact cosine); their rank windows run over ≤ legK rows. The fusion
    * join touches ≤ 2·legK rows. At 100 TB the legs dominate — BM25's
    * bounded term-hit aggregate and the ANN ladder's index probes — and
    * the dense leg swaps to the IVF/PQ variants without touching the
    * fusion. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, idCol: String,
                textCol: String, vecIdCol: String, vecCol: String,
                queryTerms: Seq[String], queryVecId: Long,
                legK: Int, k: Int, rrfK: Long = 60L): DataFrame = {
    val text = bm25(docs, idCol, textCol, queryTerms, legK)
      .withColumn("text_rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("text_rank"))
    val vec = Similarity.cosineTopK(emb, vecIdCol, vecCol, queryVecId, legK)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cos").desc, col(vecIdCol).asc)).cast("long"))
      .select(col(vecIdCol).as("doc_id"), col("vec_rank"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        expr(s"coalesce(1000000 div (${rrfK}L + text_rank), 0L)" +
          s" + coalesce(1000000 div (${rrfK}L + vec_rank), 0L)"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Exact token-phrase search — the positional-index query BM25 can't
    * answer (bag-of-words scoring has no adjacency). A document matches
    * iff some position p has tokens p..p+n−1 equal to the phrase.
    *
    * Anchor trick, shuffle-bounded: posexplode the token stream, keep
    * ONLY tokens occurring in the phrase (narrow filter before any
    * shuffle — the corpus-scale stopword flood never moves), and emit
    * (doc, anchor = pos − i) for every phrase slot i the token could
    * fill. An anchor with ALL n distinct slots present is a phrase start
    * (repeated phrase words fill multiple slots per token — distinctness
    * over slot indices keeps that sound). ONE (doc, anchor)-keyed
    * aggregate; fan-out ≤ phrase-term hits × n, independent of corpus
    * width. Returns (doc_id, n_hits, first_pos) per matching doc. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val terms = phrase.map(_.toLowerCase)
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = broadcast(terms.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("slot", "w"))
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"),
          lit(0))).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(terms))
    toks.join(slots, col("term") === col("w"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("anchor"),
        col("slot"))
      .filter(col("anchor") >= 0)
      .groupBy("doc_id", "anchor")
      .agg(count_distinct(col("slot")).as("graft_k"))
      .filter(col("graft_k") === terms.size.toLong)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        min(col("anchor")).cast("long").as("first_pos"))
  }

  /** Proximity (NEAR/k) search — the retrieval rung between bag-of-words
    * BM25 (no position constraint) and [[phraseSearch]] (exact
    * adjacency): documents where `termA` and `termB` occur within `k`
    * token positions of each other, unordered, with the pair count and
    * the closest distance. The standard editorial/e-discovery operator
    * ("error NEAR/5 timeout").
    *
    * Shape: one position explode filtered to the TWO query terms (the
    * corpus-sized pass, pinned — both join legs read it), then a
    * doc-keyed join of the two position lists — fan-out tf_a·tf_b per
    * doc, bounded by per-doc term frequencies, never corpus². At index
    * scale the same join runs off the positional postings of 55c. */
  def proximitySearch(docs: DataFrame, idCol: String, textCol: String,
                      termA: String, termB: String, k: Int): DataFrame = {
    val (ta, tb) = (termA.toLowerCase, termB.toLowerCase)
    require(ta != tb, "NEAR needs two distinct terms")
    require(k >= 1, "k must be at least 1")
    val toks = graft.operators.Materialize.transient(
      docs.select(col(idCol).as("doc_id"),
        posexplode(regexp_extract_all(lower(col(textCol)),
          lit("[a-z0-9]+"), lit(0))).as(Seq("pos", "term")))
        .filter(col("term").isin(ta, tb)))
    val pa = toks.filter(col("term") === ta)
      .select(col("doc_id"), col("pos").as("graft_pa"))
    val pb = toks.filter(col("term") === tb)
      .select(col("doc_id"), col("pos").as("graft_pb"))
    pa.join(pb, Seq("doc_id"))
      .filter(abs(col("graft_pa") - col("graft_pb")) <= k)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("graft_pa") - col("graft_pb"))).cast("long")
          .as("min_dist"))
  }

  /** The standard log2 position discounts for nDCG@10, pre-quantized to
    * integer micro-units: disc(i) = floor(10⁶ / log2(i + 1)). Fixed
    * CONSTANTS, not runtime libm calls — the discount table is part of
    * the metric's spec (the BM25 rational-idf discipline applied to the
    * eval side), so Spark and any oracle engine use bit-identical
    * weights. */
  val NdcgDiscountsMicro: Seq[Long] = Seq(1000000L, 630929L, 500000L,
    430676L, 386852L, 356207L, 333333L, 315464L, 301029L, 289064L)

  /** Exact nDCG@k retrieval evaluation — does the SCORER's ranking
    * recover the GAIN ordering: per query term, documents rank by their
    * single-term BM25 contribution (the scorer under test — length
    * normalization can disagree with raw counts) while the graded gain
    * is the raw term frequency; DCG@k folds the top-k gains through the
    * fixed integer discount table, IDCG@k folds the k largest gains,
    * and ndcg_ppm = dcg·10⁶ div idcg. Every input to the division is an
    * exact integer, so the readout hash-checks.
    *
    * Scale: the q132 match-pass shape — only query-term hits explode
    * (posting-list-sized, never corpus-token-sized), both rankings are
    * per-term WindowGroupLimit-able ranks over the hit table. */
  def ndcgAtK(docs: DataFrame, idCol: String, textCol: String,
              queryTerms: Seq[String], k: Int,
              discountsMicro: Seq[Long] = NdcgDiscountsMicro): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k >= 1 && k <= discountsMicro.length,
      s"k must be in [1, ${discountsMicro.length}] for the given discounts")
    val terms = queryTerms.map(_.toLowerCase)
    val base = docs.select(col(idCol).as("doc_id"),
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
        .as("graft_toks"))
    val stats = base.agg(count(lit(1)).as("graft_nd"),
      sum(size(col("graft_toks"))).as("graft_tt"))
    val hits = base
      .select(col("doc_id"),
        size(col("graft_toks")).cast("long").as("graft_dl"),
        filter(col("graft_toks"), t => t.isInCollection(terms)).as("graft_q"))
      .select(col("doc_id"), col("graft_dl"),
        explode(col("graft_q")).as("term"))
    val tf = hits.groupBy("doc_id", "graft_dl", "term")
      .agg(count(lit(1)).as("graft_tf"))
      .withColumn("graft_df",
        count(lit(1)).over(Window.partitionBy("term")))
    val nd = col("graft_nd").cast("double")
    val avgdl = col("graft_tt").cast("double") * lit(1.0) / nd
    val idf = (nd - col("graft_df") + lit(0.5)) / (col("graft_df") + lit(0.5))
    val num = col("graft_tf") * lit(2.2)
    val den = col("graft_tf") +
      lit(1.2) * (lit(0.25) + lit(0.75) * col("graft_dl") / avgdl)
    val scoreMicro =
      floor(idf * num / den * lit(1000000.0) + lit(0.5)).cast("long")
    // Pinned once: the scored hit table feeds BOTH rank folds (DCG and
    // IDCG) — without the pin the tokenize+explode corpus pass runs per
    // fold (no common-subplan reuse). Posting-list-sized, never corpus.
    val scored = graft.operators.Materialize.transient(
      tf.crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"), scoreMicro.as("graft_sc"),
          col("graft_tf").as("graft_gain")))
    val disc = array(discountsMicro.take(k).map(lit): _*)
    def folded(w: org.apache.spark.sql.expressions.WindowSpec,
               out: String): DataFrame =
      scored.withColumn("graft_rk", row_number().over(w))
        .filter(col("graft_rk") <= k)
        .withColumn("graft_w",
          element_at(disc, col("graft_rk").cast("int")))
        .groupBy("term")
        .agg(sum(expr("graft_gain * graft_w")).as(out))
    val dcg = folded(Window.partitionBy("term")
      .orderBy(col("graft_sc").desc, col("doc_id").asc), "dcg_micro")
    val idcg = folded(Window.partitionBy("term")
      .orderBy(col("graft_gain").desc, col("doc_id").asc), "idcg_micro")
    dcg.join(idcg, Seq("term"))
      .select(col("term"), col("dcg_micro"), col("idcg_micro"),
        expr("dcg_micro * 1000000 div idcg_micro").as("ndcg_ppm"))
  }

  /** MRR@k + recall@k — the binary-relevance legs completing the
    * retrieval-eval panel next to [[ndcgAtK]]'s graded leg: per query
    * term, documents rank by their BM25 contribution (the scorer under
    * test) while RELEVANCE is independent of the scorer — a document is
    * relevant when the term occurs at least `minTf` times (strongly
    * about the term, not merely mentioning it). rr_ppm = 10⁶ div (rank
    * of the first relevant doc in the top k; 0 when none), recall_ppm =
    * relevant-in-top-k ·10⁶ div min(k, total relevant). All integers —
    * the BM25 micro score is the proven exact expression, ranks are
    * deterministic (score desc, id asc).
    *
    * Scale: the q132 match-pass shape — posting-list-sized hit table,
    * one WindowGroupLimit-able rank per term. */
  def mrrRecallAtK(docs: DataFrame, idCol: String, textCol: String,
                   queryTerms: Seq[String], k: Int,
                   minTf: Int = 2): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1 && minTf >= 1,
      "need query terms, k >= 1, minTf >= 1")
    val terms = queryTerms.map(_.toLowerCase)
    val base = docs.select(col(idCol).as("doc_id"),
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
        .as("graft_toks"))
    val stats = base.agg(count(lit(1)).as("graft_nd"),
      sum(size(col("graft_toks"))).as("graft_tt"))
    val hits = base
      .select(col("doc_id"),
        size(col("graft_toks")).cast("long").as("graft_dl"),
        filter(col("graft_toks"), t => t.isInCollection(terms)).as("graft_q"))
      .select(col("doc_id"), col("graft_dl"),
        explode(col("graft_q")).as("term"))
    val tf = hits.groupBy("doc_id", "graft_dl", "term")
      .agg(count(lit(1)).as("graft_tf"))
      .withColumn("graft_df",
        count(lit(1)).over(Window.partitionBy("term")))
    val nd = col("graft_nd").cast("double")
    val avgdl = col("graft_tt").cast("double") * lit(1.0) / nd
    val idf = (nd - col("graft_df") + lit(0.5)) / (col("graft_df") + lit(0.5))
    val num = col("graft_tf") * lit(2.2)
    val den = col("graft_tf") +
      lit(1.2) * (lit(0.25) + lit(0.75) * col("graft_dl") / avgdl)
    val scoreMicro =
      floor(idf * num / den * lit(1000000.0) + lit(0.5)).cast("long")
    val scored = graft.operators.Materialize.transient(
      tf.crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"), scoreMicro.as("graft_sc"),
          (col("graft_tf") >= minTf).cast("long").as("graft_rel")))
    val ranked = scored.withColumn("graft_rk", row_number().over(
      Window.partitionBy("term")
        .orderBy(col("graft_sc").desc, col("doc_id").asc)))
    val totals = scored.groupBy("term")
      .agg(sum("graft_rel").as("graft_nrel"))
    ranked.filter(col("graft_rk") <= k)
      .groupBy("term")
      .agg(
        min(when(col("graft_rel") === 1L, col("graft_rk"))).as("graft_first"),
        sum("graft_rel").as("graft_ink"))
      .join(totals, Seq("term"))
      .select(col("term"),
        col("graft_nrel").cast("long").as("n_relevant"),
        coalesce(col("graft_first"), lit(0L)).cast("long").as("first_rank"),
        expr("CASE WHEN graft_first IS NULL THEN 0" +
          " ELSE 1000000 div graft_first END").as("rr_ppm"),
        expr("CASE WHEN graft_nrel = 0 THEN 0" +
          s" ELSE graft_ink * 1000000 div least(graft_nrel, ${k}L) END")
          .as("recall_ppm"))
  }

  /** Rocchio pseudo-relevance-feedback expansion (Rocchio 1971; the
    * RM3-style two-pass every Lucene/Terrier deployment ships): retrieve
    * the top `fbDocs` documents for the original query, ASSUME them
    * relevant, mine their vocabulary for the `fbTerms` terms with the
    * highest feedback weight `Σ_F tf(t,d) · idf(t)` (tf concentrates on
    * what the feedback set is about, idf kills stop-words), and re-run
    * retrieval with the expanded query — original terms at weight 1000
    * milli, expansion terms at `betaMilli` — so documents phrased
    * differently from the query (the vocabulary-mismatch problem) still
    * surface. Per-term BM25 contributions are the proven [[bm25]] micro
    * expression; the weighting is ONE integer `w · contrib div 1000` per
    * hit; expansion selection floors its weight to micro with a term
    * tiebreak — every stage replays in the oracle.
    *
    * Scale: the corpus pays one stats aggregate plus THREE posting-list
    * bounded match passes (original query; feedback-vocabulary df — the
    * filter set is the feedback vocabulary, |F docs|·doclen distinct
    * terms at most, broadcast as a 1-row array; expanded query). The
    * feedback-doc set and term sets are index-artifact sized (≤ fbDocs,
    * ≤ fbTerms + |query|), never corpus-sized; no token ever shuffles
    * unless it matches one of those sets. */
  def prfExpand(docs: DataFrame, idCol: String, textCol: String,
                queryTerms: Seq[String], fbDocs: Int, fbTerms: Int,
                betaMilli: Long, topK: Int): DataFrame = {
    require(queryTerms.nonEmpty, "prfExpand needs at least one query term")
    require(fbDocs >= 1 && fbTerms >= 1, "fbDocs and fbTerms must be >= 1")
    require(betaMilli >= 0L && betaMilli <= 1000L,
      "betaMilli is the expansion weight in milli")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = queryTerms.map(_.toLowerCase).distinct
    // Pinned ONCE ([[Materialize.transient]]): the tokenized corpus feeds
    // four subtrees below (corpus stats, feedback TF, vocab DF, the
    // expanded retrieval) and Spark has no common-subplan reuse —
    // unpinned, the regex tokenization re-ran once per consumer. Spread
    // first so a low-split corpus tokenizes wide (guide §2.5).
    val base = Materialize.transient(graft.Tables.spread(docs)
      .select(col(idCol).as("doc_id"),
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
          .as("graft_toks")))
    val stats = base.agg(count(lit(1)).as("graft_nd"),
      sum(size(col("graft_toks"))).as("graft_tt"))
    // Pass 1: the original query picks the pseudo-relevant set.
    val fb = bm25(docs, idCol, textCol, terms, fbDocs)
      .select(col("doc_id").as("graft_fd"))
    // Feedback term frequencies (Σ over the set) minus the originals.
    val fbTf = base
      .join(broadcast(fb), col("doc_id") === col("graft_fd"))
      .select(explode(col("graft_toks")).as("term"))
      .filter(!col("term").isInCollection(terms))
      .groupBy("term").agg(count(lit(1)).as("graft_ftf"))
    val vocab = fbTf.agg(collect_list(col("term")).as("graft_vocab"))
    // Pass 2: corpus df for exactly the feedback vocabulary.
    val dfTbl = base.crossJoin(broadcast(vocab))
      .select(explode(array_distinct(filter(col("graft_toks"),
        t => array_contains(col("graft_vocab"), t)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("graft_cdf"))
    val ndD = col("graft_nd").cast("double")
    val wMicro = floor((ndD - col("graft_cdf") + lit(0.5))
      / (col("graft_cdf") + lit(0.5))
      * col("graft_ftf") * lit(1000000.0) + lit(0.5)).cast("long")
    val expansion = fbTf.join(dfTbl, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("term"), wMicro.as("graft_w"))
      .orderBy(col("graft_w").desc, col("term").asc)
      .limit(fbTerms)
      .select(col("term"), lit(betaMilli).as("graft_wm"))
    val allTerms = expansion.unionByName(
      terms.toDF("term").withColumn("graft_wm", lit(1000L)))
    val tset = allTerms.agg(collect_list(col("term")).as("graft_tset"))
    // Pass 3: the expanded retrieval, weighted per term.
    val hits = base.crossJoin(broadcast(tset))
      .select(col("doc_id"),
        size(col("graft_toks")).cast("long").as("graft_dl"),
        explode(filter(col("graft_toks"),
          t => array_contains(col("graft_tset"), t))).as("term"))
    val tf = hits.groupBy("doc_id", "graft_dl", "term")
      .agg(count(lit(1)).as("graft_tf"))
      .withColumn("graft_df",
        count(lit(1)).over(Window.partitionBy("term")))
    val avgdl = col("graft_tt").cast("double") * lit(1.0) / ndD
    val idf = (ndD - col("graft_df") + lit(0.5)) / (col("graft_df") + lit(0.5))
    val num = col("graft_tf") * lit(2.2)
    val den = col("graft_tf") +
      lit(1.2) * (lit(0.25) + lit(0.75) * col("graft_dl") / avgdl)
    val contribMicro =
      floor(idf * num / den * lit(1000000.0) + lit(0.5)).cast("long")
    tf.crossJoin(broadcast(stats))
      .join(broadcast(allTerms), Seq("term"))
      .select(col("doc_id"), contribMicro.as("graft_c"), col("graft_wm"))
      .select(col("doc_id"),
        expr("graft_wm * graft_c div 1000").as("graft_wc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum("graft_wc").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Best-passage (snippet) extraction — the highlighting/passage-
    * retrieval leg between document ranking and the user (and the
    * context-window picker a RAG stack needs when whole documents don't
    * fit the prompt): for each document, the `windowTokens`-token
    * window covering the most DISTINCT query terms (ties: more total
    * hits, then earliest offset), reported with its 0-based token
    * offset and the reassembled normalized-token snippet text. Window
    * score = n_terms·1000 + n_hits — distinct-term coverage dominates
    * (a window with both query terms beats one repeating a single term
    * thrice, the standard passage-scoring choice), all integer.
    *
    * Scale: query-term hits (with token positions) are posting-list
    * sized — the explode→filter is pipelined map-side, so nothing
    * corpus-token-sized ever shuffles; candidate windows anchor at hit
    * positions only (per-doc fan-out ≤ per-doc-hits², hits bounded by
    * the query's postings in that doc); the snippet text materializes
    * ONLY for the final topK rows via one broadcast join back. */
  def bestPassage(docs: DataFrame, idCol: String, textCol: String,
                  queryTerms: Seq[String], windowTokens: Int,
                  topK: Int): DataFrame = {
    require(queryTerms.nonEmpty, "bestPassage needs at least one query term")
    require(windowTokens >= 1 && topK >= 1,
      "windowTokens and topK must be >= 1")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val base = docs.select(col(idCol).as("doc_id"),
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
        .as("graft_toks"))
    val hits = base
      .select(col("doc_id"),
        posexplode(col("graft_toks")).as(Seq("graft_pos", "term")))
      .filter(col("term").isInCollection(terms))
    val starts = hits.select(col("doc_id"), col("graft_pos").as("graft_s"))
    val inWin = starts.join(
      hits.select(col("doc_id"), col("graft_pos"), col("term")),
      Seq("doc_id"))
      .filter(col("graft_pos") >= col("graft_s") &&
        col("graft_pos") < col("graft_s") + windowTokens)
    val windows = inWin.groupBy("doc_id", "graft_s")
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_hits"))
      .withColumn("graft_score",
        col("n_terms") * lit(1000L) + col("n_hits"))
    val best = windows
      .withColumn("graft_rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("graft_score").desc, col("graft_s").asc)))
      .filter(col("graft_rk") === 1)
      .orderBy(col("graft_score").desc, col("doc_id").asc)
      .limit(topK)
      .select(col("doc_id"), col("graft_s"), col("n_terms"), col("n_hits"))
    base.join(broadcast(best), Seq("doc_id"))
      .select(col("doc_id"), col("graft_s").cast("long").as("start_pos"),
        col("n_terms").cast("long").as("n_terms"),
        col("n_hits").cast("long").as("n_hits"),
        array_join(slice(col("graft_toks"),
          col("graft_s").cast("int") + lit(1), lit(windowTokens)), " ")
          .as("snippet"))
      .orderBy(col("n_terms").desc, col("n_hits").desc, col("doc_id").asc)
  }

  /** TextRank keyword extraction (Mihalcea/Tarau 2004, the binary
    * co-occurrence variant): words become nodes, an undirected edge
    * connects words co-occurring within `coWindow` positions of the
    * length-filtered token sequence, and PageRank over that graph ranks
    * corpus keywords — centrality finds the terms everything else
    * orbits, where raw frequency just finds stop-ish words. The walk is
    * [[Graph.walk]], the one behind [[Graph.pagerankPortable]], run on
    * WORD keys (micro-unit ranks, per-step floor divisions, the shared
    * generation pins), so the oracle unrolls the identical `iters` steps
    * and a graph-NLP operator hash-checks; ties break on the word itself,
    * not an id.
    *
    * Scale: one tokenize + windowed-lead pass (corpus-token-sized,
    * map-heavy, one doc-keyed shuffle), then everything runs on the
    * DISTINCT co-occurrence edge list (vocabulary², sparse — bounded by
    * text structure, not corpus rows); per iteration one src-keyed join
    * + one keyed sum, ranks never leave executors. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
               coWindow: Int, iters: Int, topK: Int,
               minLen: Int = 3): DataFrame = {
    require(coWindow >= 1 && iters >= 1 && topK >= 1,
      "coWindow, iters, topK must be positive")
    val toks = graft.Tables.spread(docs)
      .select(col(idCol).as("graft_d"),
        posexplode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as(Seq("graft_p", "graft_w")))
      .filter(length(col("graft_w")) >= minLen)
    val wDoc = Window.partitionBy("graft_d").orderBy("graft_p")
    val leads = toks.select(col("graft_w") +:
      (1 to coWindow).map(k =>
        lead(col("graft_w"), k).over(wDoc).as(s"graft_n$k")): _*)
    // Pinned: the pair table appears twice in the edge frame (direct +
    // reversed) and each branch would otherwise re-run the tokenize +
    // lead window.
    val pairs = Materialize.transient((1 to coWindow).map(k =>
      leads.select(col("graft_w").as("graft_a"),
        col(s"graft_n$k").as("graft_b")))
      .reduce(_ unionByName _)
      .filter(col("graft_b").isNotNull && col("graft_a") =!= col("graft_b")))
    Graph.walk(
      pairs.select(col("graft_a").as("graft_src"), col("graft_b").as("graft_dst"))
        .unionByName(pairs.select(col("graft_b").as("graft_src"),
          col("graft_a").as("graft_dst"))).distinct(), iters, topK)
      .select(col("node").as("word"), col("rank").as("rank_micro"))
  }
}
