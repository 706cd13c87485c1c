package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "THE QUICK  brown fox jumps over the lazy dog near the river bank"), // exact dup of 1 (mod case/ws)
    (3L, "the quick brown fox jumps over the lazy cat near the river bank"),  // near-dup of 1
    (4L, "completely different text about spark query engines and big data"),
    (5L, "another unrelated document mentioning neither foxes nor dogs at all"))
    .toDF("doc_id", "text")

  test("exact dedup keeps the smallest id per fingerprint") {
    val kept = Dedup.exact(docs, "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("ngramJaccard flags the near-dup pair and not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical after normalization
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("maxDf cap drops boilerplate-only pairs, keeps genuine near-dups") {
    // 12 docs share a boilerplate footer (its shingles hit df=12); docs 1-2
    // additionally share a genuine body. With the cap the footer shingles
    // vanish from candidate generation: the boilerplate-only pairs drop
    // below threshold while the genuine pair survives (its intersection is
    // body shingles, df=2). This is the planted-recall story behind the
    // q64_jaccard_capped bench entry.
    val boiler = "subscribe to our newsletter for updates and follow us online today"
    val body = "the quick brown fox runs through the quiet forest trail"
    val d = (1 to 12).map { i =>
      val b = if (i <= 2) body else s"unique body number $i with words w$i y$i z$i"
      (i.toLong, s"$b $boiler")
    }.toDF("doc_id", "text")
    def pairsAt(maxDf: Option[Long]) =
      Dedup.jaccardFromStats(
        Dedup.pairShingleStats(d, "doc_id", "text", 3, maxDf), 0.25)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    val uncapped = pairsAt(None)
    val capped = pairsAt(Some(4L))
    assert(uncapped.contains((1L, 2L)) && capped.contains((1L, 2L)))
    // Boilerplate-only pairs (both docs ≥ 3) cross the threshold uncapped
    // but not capped.
    assert(uncapped.exists { case (a, b) => a >= 3L && b >= 3L })
    assert(!capped.exists { case (a, b) => a >= 3L && b >= 3L })
    assert(capped.subsetOf(uncapped))
  }

  test("fuzzyNameMatch links near-identical names within blocks only") {
    val catalog = Seq(
      (1L, "acme widget deluxe"),
      (2L, "acme widgit deluxe"),   // 1 edit from 1 — same block, linked
      (3L, "acme widget supreme"),  // >2 edits from 1 — same block, dropped
      (4L, "zenith widget deluxe"),
      (5L, "acme corp"), (6L, "acme corq"), // 1 edit apart, same block
      (7L, "acmo widget deluxe"))   // 1 edit from 1 BUT first token differs:
      .toDF("id", "name")           // blocked out — the documented trade-off
    val got = Dedup.fuzzyNameMatch(catalog, "id", "name", maxDist = 2)
      .select("id1", "id2", "dist").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 1L), (5L, 6L, 1L)), s"unexpected pairs: $got")
  }

  test("fuzzyNameMatch routes hot blocks to (token, length-band) and recovers in-block links") {
    // A planted Zipfian hot block ("the ..." x 50, lengths spread wide so
    // length bands split it) containing a true near-dup pair, next to a
    // benign pair. With maxBlock=10 the first-token block is oversized,
    // but the routed (token, band) sub-blocks are small — the in-block
    // link MUST come back, and the benign link is untouched.
    val hot = (0L until 50L).map(i =>
      (100L + i, s"the ${"very " * (i % 25).toInt}old shop"))
    val catalog = (hot ++ Seq((1L, "acme corp"), (2L, "acme corq"),
      (200L, "the unique bakery"), (201L, "the unique bakerz")))
      .toDF("id", "name")
    val got = Dedup.fuzzyNameMatch(catalog, "id", "name",
      maxDist = 2, maxBlock = 10L)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), s"benign link lost: $got")
    assert(got.contains((200L, 201L)),
      s"hot-block link NOT recovered by routing: $got")
    // Result-parity: routing changes the physical plan, never the pair
    // set — everything found is a true ≤ maxDist pair the uncapped run
    // also finds.
    val uncapped = Dedup.fuzzyNameMatch(catalog, "id", "name",
      maxDist = 2, maxBlock = 1000L)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(uncapped), s"routed produced a false pair: ${got.diff(uncapped)}")
  }

  test("fuzzyNameMatch final bound: sub-blocks hot in BOTH token and length still drop") {
    // Fifty identical-length names in one block: the length bands cannot
    // split it, so the sub-block cap (the final fan-out bound) drops it —
    // fan-out stays <= maxBlock^2 no matter how adversarial the data.
    val hot = (100L until 150L).map(i => (i, s"the shop number $i"))
    val catalog = (hot ++ Seq((1L, "acme corp"), (2L, "acme corq")))
      .toDF("id", "name")
    val capped = Dedup.fuzzyNameMatch(catalog, "id", "name",
      maxDist = 2, maxBlock = 10L)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L)), s"hot block leaked: $capped")
    val uncapped = Dedup.fuzzyNameMatch(catalog, "id", "name",
      maxDist = 2, maxBlock = 1000L)
    assert(uncapped.count() > 1L)
  }

  test("minhash LSH finds the same near-dup pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 4, minAgree = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", n = 3, maxHamming = 3)
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 0)
    assert(!m.contains((1L, 4L)) && !m.contains((4L, 5L)))
  }

  test("incremental dedup drops known fingerprints and intra-batch dups") {
    val known = Dedup.exact(docs, "doc_id", "text").select("fp")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"), // known (same as doc 1)
      (11L, "a genuinely new document that the corpus has never seen before"),
      (12L, "A  GENUINELY new document that the corpus has never seen before"), // dup of 11
      (13L, "yet another brand new unique piece of text for the store"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(batch, "doc_id", "text", known)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("containment catches a quote-inclusion that Jaccard dilutes away") {
    val short0 = "the quick brown fox jumps over the lazy dog"
    val long0 = short0 + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val corpus = Seq((1L, short0), (2L, long0), (3L, "totally unrelated text here"))
      .toDF("doc_id", "text")
    val stats = Dedup.pairShingleStats(corpus, "doc_id", "text", 3)
    // Jaccard of (1,2) ≈ |short| / |long| — far below any sane threshold…
    assert(Dedup.jaccardFromStats(stats, 0.5).count() === 0)
    // …but every shingle of the short doc is inside the long one.
    val cont = Dedup.containmentFromStats(stats, 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(cont === Set((1L, 2L)))
  }

  test("bloom-prefiltered incremental dedup matches the exact anti-join") {
    val known = Dedup.exact(docs, "doc_id", "text").select("fp")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "a genuinely new document that the corpus has never seen before"),
      (12L, "A  GENUINELY new document that the corpus has never seen before"),
      (13L, "yet another brand new unique piece of text for the store"))
      .toDF("doc_id", "text")
    val exactKept = Dedup.incrementalExact(batch, "doc_id", "text", known)
      .select("doc_id").as[Long].collect().toSet
    val bloomKept = Dedup.incrementalExactBloom(batch, "doc_id", "text", known,
      expectedItems = 1000)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomKept === exactKept)
  }

  test("bloom prefilter keeps a disjoint batch intact (definitely-new path)") {
    val known = Dedup.exact(docs, "doc_id", "text").select("fp")
    val batch = (100L to 120L)
      .map(i => (i, s"completely novel text number $i with unique words w$i"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExactBloom(batch, "doc_id", "text", known, 1000)
    assert(kept.count() === 21)
  }

  test("portable minhash flags near-dups, skips unrelated, est bounded") {
    val pairs = Dedup.minhashPairsPortable(docs, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 2, minAgree = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 1-2 are identical after normalization: every minhash agrees.
    assert(pairs.get((1L, 2L)).contains(1.0))
    // the near-dup pair is found; unrelated docs never pair with 1-3.
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L || p._2 == 5L))
    assert(pairs.values.forall(v => v >= 0.5 && v <= 1.0))
  }

  test("portable simhash: identical docs at hamming 0, near-dups low, unrelated absent") {
    // SimHash needs enough shingles that a single edit flips few bits —
    // the 5-doc micro fixture's ~10-shingle docs flip a third of their
    // shingle set per word change, so use paragraph-sized docs here
    // (matching the real-corpus grain the q83 oracle runs at).
    val base = (1 to 40).map(i => s"word$i token$i").mkString(" ")
    val longDocs = Seq(
      (1L, base),
      (2L, base.toUpperCase), // identical after normalization
      (3L, base.replace("word20 token20", "word20 edited20")), // one edit
      (4L, (1 to 40).map(i => s"alien$i beta$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsPortable(longDocs, "doc_id", "text",
      n = 3, maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0L))
    assert(pairs.get((1L, 3L)).exists(h => h > 0L && h <= 6L))
    assert(pairs.get((2L, 3L)) === pairs.get((1L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("portable minhash is deterministic across runs and re-partitioning") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashPairsPortable(df, "doc_id", "text", 3, 8, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(docs) === run(docs.repartition(7)))
  }

  test("embedding near-dup finds same-bucket close vectors only") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.01f), 1)) // close to 1 but other bucket
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDup(emb, "vec_id", "embedding", "label", 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lshQualityAudit reports full recall on planted exact duplicates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text with other words entirely here now"),
      (4L, "yet another unrelated document about spark plans and shuffles"))
      .toDF("doc_id", "text")
    val r = Dedup.lshQualityAudit(docs, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 2, trueJaccard = 0.5).collect()(0)
    // identical docs ⇒ identical signatures ⇒ banding cannot miss them
    assert(r.getAs[Long]("n_true") === 1L)
    assert(r.getAs[Long]("n_caught") === 1L)
    assert(r.getAs[Double]("lsh_recall") === 1.0)
    assert(r.getAs[Long]("n_candidates") >= 1L)
  }

  test("prefixDuplicates groups docs on the first-k-token hash only") {
    val docs = Seq(
      (10L, "Alpha beta gamma delta epsilon"), // same 3-token prefix as 11
      (11L, "alpha BETA gamma zeta"),          // (case-insensitive)
      (12L, "alpha beta delta gamma"),         // diverges at token 3
      (13L, "omega psi chi"))
      .toDF("doc_id", "text")
    val out = Dedup.prefixDuplicates(docs, "doc_id", "text", 3).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("n_docs") === 2L)
    assert(out(0).getAs[Long]("keep_id") === 10L)
  }

  test("incrementalMinhash flags batch docs near-duplicating the store only") {
    // Store = ids 3, 6 (the ingest split); batch = 1, 2, 4, 5. Doc 4 is a
    // near-copy of stored doc 3; docs 1/2 near-duplicate EACH OTHER but
    // nothing in the store, so the incremental probe must NOT flag them
    // (in-batch dedup is a separate pass); 5 matches nothing.
    val txt3 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, "an entirely separate piece of writing about distributed query engines"),
      (2L, "an entirely separate piece of writing about distributed query planners"),
      (3L, txt3),
      (4L, txt3 + " again"),
      (5L, "yet another unrelated fragment mentioning volcanoes and glaciers"),
      (6L, "stored text with no counterpart in the arriving batch at all"))
      .toDF("doc_id", "text")
    val store = docs.filter($"doc_id" % 3 === 0)
    val batch = docs.filter($"doc_id" % 3 =!= 0)
    val (bands, sigs) = Dedup.minhashStoreTables(store, "doc_id", "text", 3, 8, 2)
    val got = Dedup.incrementalMinhash(batch, "doc_id", "text", 3, 8, 2, 0.5,
        bands, sigs)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((3L, 4L)))
    assert(!got.exists(p => p._2 == 1L || p._2 == 2L || p._2 == 5L))
    assert(got.forall(p => p._1 % 3 == 0 && p._2 % 3 != 0))
  }

  test("incrementalSemantic flags batch vectors near-duplicating the store only") {
    // Store = ids 3, 6; batch = 1, 2, 4, 5. Vec 4 near-copies stored 3;
    // vecs 1/2 near-duplicate EACH OTHER but nothing stored (must not
    // flag — in-batch dedup is a separate pass); 5 matches nothing; 2 is
    // in stored 6's CELL but far from it (cell collision ≠ near-dup).
    val emb = Seq(
      (1L, Array(0.0f, 1.0f, 0.3f)),
      (2L, Array(0.05f, 0.98f, 0.32f)),
      (3L, Array(1.0f, 0.1f, -0.2f)),
      (4L, Array(0.98f, 0.12f, -0.19f)),
      (5L, Array(-1.0f, -0.5f, 0.4f)),
      (6L, Array(0.7f, 0.7f, 0.1f)))
      .toDF("vec_id", "embedding")
    val store = Dedup.semanticStoreTable(
      emb.filter($"vec_id" % 3 === 0), "vec_id", "embedding", signBits = 3)
    val got = Dedup.incrementalSemantic(
        emb.filter($"vec_id" % 3 =!= 0), "vec_id", "embedding",
        signBits = 3, minCos = 0.95, store)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got === Set((3L, 4L)), s"flagged: $got")
  }

  test("incrementalSemantic store side reads its buckets without an Exchange") {
    // The 100 TB regime: broadcast off, store persisted bucketed on bk —
    // the probe join must shuffle ONLY the batch side into the store's
    // buckets.
    val emb = Seq((3L, Array(1.0f, 0.1f)), (6L, Array(-0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val tbl = "graft_semplan_test"
    graft.operators.Etl.resetManagedTable(spark, tbl)
    Dedup.semanticStoreTable(emb, "vec_id", "embedding", signBits = 2)
      .write.bucketBy(4, "bk").saveAsTable(tbl)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // Two batch rows: a one-row batch is a local relation, whose join
      // the optimizer folds into a literal filter on the store (below).
      val batch = Seq((1L, Array(0.9f, 0.2f)), (2L, Array(0.8f, 0.3f)))
        .toDF("vec_id", "embedding")
      def planOf(b: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalSemantic(b, "vec_id", "embedding",
          signBits = 2, minCos = 0.9, spark.table(tbl))
        .queryExecution.executedPlan.toString
      val plan = planOf(batch)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles === 1, s"expected one shuffle (batch side only):\n$plan")
      assert("Exchange".r.findAllIn(planOf(Seq((1L, Array(0.9f, 0.2f)))
        .toDF("vec_id", "embedding"))).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("semanticDedup drops the higher id of a near-identical pair, per cell") {
    // vecs 1,2 nearly identical (cos≈1) in the ++ cell; 3 is orthogonal in
    // the same cell sign-wise? no — (0.1,-1) has sign bucket "10" ≠ "11",
    // so it lands in its own cell and survives; 4 is alone in "01".
    val emb = Seq(
      (1L, Array(1.0f, 0.5f)),
      (2L, Array(0.99f, 0.51f)),
      (3L, Array(0.1f, -1.0f)),
      (4L, Array(-0.5f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        signBits = 2, minCos = 0.95)
      .collect().map(r => r.getAs[String]("bucket") ->
        ((r.getAs[Long]("n_total"), r.getAs[Long]("n_dropped"),
          r.getAs[Long]("n_kept")))).toMap
    assert(out("11") === ((2L, 1L, 1L))) // 2 dropped, 1 kept
    assert(out("10") === ((1L, 0L, 1L)))
    assert(out("01") === ((1L, 0L, 1L)))
  }

  test("passageDuplication counts windows shared across docs, not within") {
    val passage = "one two three four five six seven eight" // exactly w=8 tokens
    val docs = Seq(
      (1L, s"$passage alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$passage iota kappa lambda mu nu xi omicron pi"),
      // doc 3 repeats ITS OWN window twice but shares nothing across docs
      (3L, s"$passage $passage".replace("one", "uno")))
      .toDF("doc_id", "text")
    val out = Dedup.passageDuplication(docs, "doc_id", "text", w = 8, stride = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows")))).toMap
    // docs 1 and 2 share the opening window (positions 1..8)
    assert(out(1L)._2 >= 1L && out(2L)._2 >= 1L)
    // doc 3's self-repeat is NOT cross-doc duplication
    assert(out(3L)._2 === 0L)
    // stride-4 window count for 16 tokens: positions 1,5,9 → 3 windows
    assert(out(1L)._1 === 3L)
  }

  test("crossSourceDupMatrix equals the naive pair count on random data") {
    val rnd = new scala.util.Random(23)
    val docs = (1L to 120L).map { i =>
      // ~30 distinct texts over 3 sources -> plenty of dup groups
      (i, s"text-${rnd.nextInt(30)}", s"s${rnd.nextInt(3)}")
    }
    val df = docs.toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(df, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // naive model: all doc pairs sharing text, keyed by sorted source pair
    val naive = docs.groupBy(_._2).values.flatMap { g =>
      for (a <- g; b <- g if a._1 < b._1) yield {
        if (a._3 <= b._3) (a._3, b._3) else (b._3, a._3)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === naive)
    // partitioning invariance
    val re = Dedup.crossSourceDupMatrix(df.repartition(7), "doc_id",
      "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(re === naive)
  }

  test("captureRecapture matches a full Scala replay, collapsing dups") {
    // 60 distinct texts; text k also appears under two extra ids for
    // k < 10 — a fingerprint is captured when ANY of its docs is.
    def markOf(salt: String, id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + id.toString).getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) < 8) 1 else 0
    }
    val rows = (0L until 60L).map(k => (k, s"unique document text $k")) ++
      (0L until 10L).flatMap(k => Seq(
        (1000L + k, s"unique document text $k"),
        (2000L + k, s"unique document text $k")))
    val got = Dedup.captureRecapture(rows.toDF("doc_id", "text"),
      "doc_id", "text").collect()(0)
    // Scala replay at fingerprint granularity
    val byText = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val ia = byText.values.map(ids => ids.map(markOf("a", _)).max).toSeq
    val ib = byText.values.map(ids => ids.map(markOf("b", _)).max).toSeq
    val (da, db) = (ia.sum.toLong, ib.sum.toLong)
    val dab = byText.values.map(ids =>
      ids.map(markOf("a", _)).max * ids.map(markOf("b", _)).max).sum.toLong
    assert(got.getAs[Long]("d_a") === da)
    assert(got.getAs[Long]("d_b") === db)
    assert(got.getAs[Long]("d_both") === dab)
    assert(dab > 0L) // fixture sanity: the estimator is defined
    assert(got.getAs[Long]("n_hat") === da * db / dab)
    assert(got.getAs[Long]("n_hat_chapman") ===
      (da + 1) * (db + 1) / (dab + 1) - 1)
    // the estimate tracks the true 60 within the small-sample band
    assert(math.abs(got.getAs[Long]("n_hat") - 60L) <= 20L)
  }

  test("prefixJaccardPairs is EXACTLY the brute-force join at every threshold") {
    // The losslessness claim, asserted directly: the prefix-filter plan
    // must reproduce the uncapped all-pairs answer row-for-row — on a
    // corpus with boilerplate (high-df shingles in suffixes), near-dups,
    // and singletons, across thresholds that exercise short and long
    // prefixes.
    val boiler = "terms of service apply to all content herein provided"
    val corpus = (
      (1L to 12L).map(i => (i, s"unique article number $i body text $i " +
        boiler)) ++ Seq(
        (21L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (22L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (23L, "a completely different document about spark physical plans and shuffles"),
        (24L, "the quick brown fox jumps over the lazy cat near the river bank today")))
      .toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val brute = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
      val pref = Dedup.prefixJaccardPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
      assert(pref === brute, s"prefix filter lost/invented pairs at t=$t")
    }
    // and the t=0.5 answer actually contains the planted near-dups
    val got = Dedup.prefixJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((21L, 22L)) && got.contains((21L, 24L)))
    assert(!got.exists(p => p._1 == 23L || p._2 == 23L))
  }

  test("dupSpans finds planted shared spans exactly; lone docs untouched") {
    // a 10-token boilerplate block planted inside two otherwise-unique
    // documents at different offsets; a third document is all-unique
    val block = (1 to 10).map(i => s"shared$i").mkString(" ")
    def uniq(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, uniq("alpha", 4) + " " + block + " " + uniq("omega", 3)),
      (2L, block + " " + uniq("beta", 12)),
      (3L, uniq("gamma", 20))).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", k = 4)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    // doc 1: block occupies token positions 4..13; doc 2: 0..9
    assert(spans === Seq((1L, 4L, 10L), (2L, 0L, 10L)))
    val rep = Dedup.dupSpanReport(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "dup_tokens", "n_spans", "dup_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rep === Seq(
      (1L, 17L, 10L, 1L, 10L * 1000000L / 17L),
      (2L, 22L, 10L, 1L, 10L * 1000000L / 22L),
      (3L, 20L, 0L, 0L, 0L)))
    // two disjoint planted blocks in one doc merge into TWO spans, and
    // an overlap-adjacent repeat merges into one
    val block2 = (1 to 5).map(i => s"other$i").mkString(" ")
    val docs2 = Seq(
      (1L, block + " " + uniq("mid", 6) + " " + block2),
      (2L, block), (3L, block2)).toDF("doc_id", "text")
    val spans2 = Dedup.dupSpans(docs2, "doc_id", "text", k = 4)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(spans2 === Seq((1L, 0L, 10L), (1L, 16L, 5L),
      (2L, 0L, 10L), (3L, 0L, 5L)))
  }

  test("removeSpans splices covered intervals; lone docs byte-identical") {
    val block = (1 to 10).map(i => s"shared$i").mkString(" ")
    def uniq(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    // doc 3 keeps ODD whitespace and case — byte-identical passthrough is
    // the claim; doc 4 is ENTIRELY the shared block (fully covered)
    val raw3 = "  Gamma1   GAMMA2\tgamma3 "
    val docs = Seq(
      (1L, uniq("Alpha", 4) + " " + block + " " + uniq("Omega", 3)),
      (2L, block + " " + uniq("beta", 12)),
      (3L, raw3),
      (4L, block)).toDF("doc_id", "text")
    val out = Dedup.removeSpans(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "tokens_removed", "tokens_after",
        "clean_text")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // doc 1: block at 4..13 spliced, original-case survivors rejoin
    assert(out(0) === (1L, 17L, 10L, 7L,
      "Alpha1 Alpha2 Alpha3 Alpha4 Omega1 Omega2 Omega3"))
    assert(out(1) === (2L, 22L, 10L, 12L, uniq("beta", 12)))
    // untouched doc: text passes through with its weird bytes intact
    assert(out(2) === (3L, 3L, 0L, 3L, raw3))
    // fully covered doc: empty husk, not a dropped row
    assert(out(3) === (4L, 10L, 10L, 0L, ""))
    // parity with the decision table: per-source tokens_after must match
    val clean = Dedup.spanCleanReport(
      docs.withColumn("source", lit("s")), "doc_id", "text", "source", k = 4)
      .select("tokens_after").as[Long].head()
    assert(clean === out.map(_._4).sum)
    // chimera overlap-chain: B shares its first half with A and second
    // half with C — the whole chained span is removed from B
    val a = (1 to 6).map(i => s"pre$i").mkString(" ")
    val c = (1 to 6).map(i => s"post$i").mkString(" ")
    val chain = Seq(
      (1L, a + " " + uniq("fillA", 8)),
      (2L, a + " " + c),
      (3L, uniq("fillC", 8) + " " + c)).toDF("doc_id", "text")
    val b = Dedup.removeSpans(chain, "doc_id", "text", k = 4)
      .filter(col("doc_id") === 2L)
      .select("tokens_removed", "clean_text")
      .as[(Long, String)].head()
    assert(b === ((12L, "")))
  }
}
