package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for document pipelines.
  *
  * All are compositions of built-in codegen'd functions (regexp, md5,
  * length) — no UDFs — so they stay inside WholeStageCodegen and are
  * pushdown/prune-friendly at 100 TB scan scale.
  *
  * The oracle-parity contract: every expression here has an exact ANSI-SQL
  * twin in SparkEntry.oracleSql (DuckDB), so each derived column is
  * hash-checked, not just row-counted.
  */
object TextFunctions {

  /** Whitespace-collapsed, lowercased canonical text. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Content fingerprint = md5 of the canonical text. Stands in for the
    * reference-class rolling-hash fingerprint with an exactly portable
    * digest (same hex in Spark and DuckDB). */
  def fingerprint(c: Column): Column =
    md5(normText(c).cast("binary"))

  /** Whitespace token count. */
  def wsTokens(c: Column): Column =
    size(split(trim(c), "\\s+"))

  /** BPE-ish word token count: alphanumeric runs. */
  def wordTokens(c: Column): Column =
    regexp_count(c, lit("[A-Za-z0-9]+"))

  private val StopwordsRe = "(^| )(the|a|an|and|or|of|to|in|is|it)( |$)"
  private val PunctRe = "[.,;:!?]"

  /** Count of stopword occurrences (space-delimited on canonical text —
    * lookaround-free so the same regex runs on Spark and DuckDB/RE2).
    * Non-overlapping matching means adjacent stopwords ("of the") count
    * once per matched window on both engines — identical, which is what
    * parity needs. */
  def stopwordHits(c: Column): Column =
    regexp_count(normText(c), lit(StopwordsRe))

  def punctHits(c: Column): Column =
    regexp_count(c, lit(PunctRe))

  /** Heuristic quality score in [0,1]: length saturation + word share -
    * punctuation noise. Deterministic arithmetic, rounded for parity. */
  def qualityScore(c: Column): Column = {
    val len = length(c).cast("double")
    val lenSat = least(len / lit(500.0), lit(1.0))
    val wordShare = wordTokens(c).cast("double") / greatest(wsTokens(c).cast("double"), lit(1.0))
    val punctNoise = punctHits(c).cast("double") / greatest(len, lit(1.0))
    round(lit(0.5) * lenSat + lit(0.5) * least(wordShare, lit(1.0)) - punctNoise, 4)
  }

  /** Language-ID heuristic: marker-stopword hit counts per language with a
    * fixed priority order on ties. (Same CASE cascade in the oracle SQL.) */
  private def markers(c: Column, words: Seq[String]): Column =
    regexp_count(normText(c), lit(s"(^| )(${words.mkString("|")})( |$$)"))

  def langGuess(c: Column): Column = {
    val en = markers(c, Seq("the", "and", "of", "is"))
    val de = markers(c, Seq("der", "die", "und", "ist"))
    val fr = markers(c, Seq("le", "la", "et", "est"))
    val es = markers(c, Seq("el", "los", "y", "es"))
    val mx = greatest(en, de, fr, es)
    when(mx === 0, lit("und"))
      .when(en === mx, lit("en"))
      .when(de === mx, lit("de"))
      .when(fr === mx, lit("fr"))
      .otherwise(lit("es"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val LongNumRe = "[0-9]{4,}"

  /** PII scrub: replace emails and long digit runs with typed placeholder
    * tokens. Spark's regexp_replace replaces every match (DuckDB needs the
    * explicit 'g' flag — see oracleSql); patterns are RE2-safe (no
    * lookaround) so both engines match identically. */
  def piiScrub(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), LongNumRe, "<NUM>")

  /** Count of scrubbed spans (audit metric for the scrub). */
  def piiHits(c: Column): Column =
    regexp_count(c, lit(EmailRe)) + regexp_count(c, lit(LongNumRe))

  /** Deterministic content-hash split: buckets by the first hex nibble of
    * the content fingerprint — 'train' for nibbles 0-c (13/16 = 81.25%),
    * 'test' otherwise. Unlike randomSplit, the assignment is a pure
    * function of content: reproducible across runs, engines, and
    * repartitioning, which is what a 100 TB training corpus needs (no
    * sampling state, no seed coupling to partitioning). */
  def hashSplit(c: Column): Column =
    when(substring(md5(c.cast("binary")), 1, 1) < "d", lit("train"))
      .otherwise(lit("test"))

  /** Three-way weighted content-hash split (train/val/test). The first 4
    * hex chars of the md5 form a 16-bit bucket; fixed-width lowercase hex
    * is order-preserving, so the percent thresholds compile to two string
    * comparisons against literal bounds that replay verbatim in any
    * engine. Same reproducibility argument as [[hashSplit]] — pure
    * function of content, no seed, no partitioning coupling. */
  def hashSplit3(c: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      "percentages must be positive and leave room for test")
    val b1 = f"${trainPct * 65536 / 100}%04x"
    val b2 = f"${(trainPct + valPct) * 65536 / 100}%04x"
    val h = substring(md5(c.cast("binary")), 1, 4)
    when(h < b1, lit("train")).when(h < b2, lit("val")).otherwise(lit("test"))
  }

  /** Canonical-text word tokens. Materialize this in its own projection
    * before building shingles: higher-order lambdas are interpreted (not
    * codegen'd), so any regex left inside the lambda re-splits the whole
    * text once per array element — a ~30× slowdown measured at sf0.1. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Word n-gram shingles (distinct) over a pre-split token-array column.
    * Word-level shingles keep the explode fan-out ~|tokens| per doc instead
    * of |chars| — the scale-relevant choice for dedup joins. */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => when(size(toks) >= n,
            concat_ws(" ", slice(toks, i + 1, lit(n)))).otherwise(null)),
        x => x.isNotNull))

  /** Native single-pass shingles (see [[WordShingles]]) — the hot-path
    * variant used by the dedup operators; identical output to
    * `shinglesOf(tokens(c), n)`. */
  def wordShinglesNative(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(WordShingles(ColumnBridge.expression(c), n))
  }

  /** Native portable-md5 MinHash signature (see [[Md5MinHashSig]]) —
    * byte-identical to the nested transform/md5/array_min HOF chain it
    * replaces, one generated call per row. */
  def md5MinhashNative(shingles: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Md5MinHashSig(ColumnBridge.expression(shingles), numHashes))
  }

  /** Native portable-md5 32-bit SimHash fingerprint (see [[Md5SimHash32]]). */
  def md5SimhashNative(shingles: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Md5SimHash32(ColumnBridge.expression(shingles)))
  }

  /** Mojibake repair (see [[FixEncoding]]): undoes one layer of
    * UTF-8-read-as-cp1252 double-encoding; unrepairable or correct
    * text returns unchanged. */
  def fixEncoding(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(FixEncoding(ColumnBridge.expression(c)))
  }

  /** Luhn-validated payment-card scrub (see [[LuhnScrub]]): masks only
    * PAN-length digit runs that pass the mod-10 checksum. */
  def cardScrub(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(LuhnScrub(ColumnBridge.expression(c)))
  }

  /** Aho–Corasick one-pass multi-pattern counts (see [[AhoCounts]]):
    * array of per-pattern occurrence counts in input order. */
  def ahoCounts(c: Column, patterns: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(AhoCounts(ColumnBridge.expression(c), patterns))
  }

  /** IDN → Unicode host decoding (see [[IdnToUnicode]]). */
  def idnToUnicode(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(IdnToUnicode(ColumnBridge.expression(c)))
  }

  /** Unicode NFC normalization (see [[NfcNormalize]]). */
  def nfc(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
  }

  /** RFC 3986 URL canonicalization + tracking-param strip (see
    * [[CanonicalUrl]]); non-URL values return unchanged. */
  def canonicalUrl(c: Column,
      dropParams: Seq[String] = CanonicalUrl.DefaultTrackers): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(CanonicalUrl(ColumnBridge.expression(c), dropParams))
  }
}
