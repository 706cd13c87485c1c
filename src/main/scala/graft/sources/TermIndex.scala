package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file TERM bloom sidecar — [[BloomIndex]]'s pattern applied to the
  * TOKENS of a text column: full-text file skipping. A rare-term search
  * over a 100 TB corpus reads only the files whose bloom admits the
  * term — the inverted-index-lite that costs O(nFiles) sidecar bytes
  * and one build pass, where a real posting list (Search.invertedIndex)
  * costs token-stream storage. The legs compose: the posting list
  * answers ranked retrieval, this answers "which FILES can contain the
  * term at all" — the pruning layer under it.
  *
  * Build: one distributed pass explodes each file's DISTINCT tokens
  * (array_distinct bounds the fan-out at per-doc vocabulary, not token
  * count) and folds them into one bloom per file. Probe and guarantees
  * are [[BloomIndex]]'s: "maybe" hits cost wasted file reads, never
  * wrong rows — the exact token predicate re-applies on the candidate
  * read, and a degenerate probe (every file matches) falls back to the
  * plain scan past `maxCandidates`. */
object TermIndex {

  private val TokenRe = "[a-z0-9]+"

  def build(spark: SparkSession, storePath: String, sidecarPath: String,
            textCol: String, expectedPerFile: Long = 1000000L,
            fpp: Double = 0.01): Unit = {
    import spark.implicits._
    val agg = new BloomIndex.BloomAgg(expectedPerFile, fpp)
    spark.read.parquet(storePath)
      .select(input_file_name().as("file"),
        explode(array_distinct(regexp_extract_all(lower(col(textCol)),
          lit(TokenRe), lit(0)))).as("graft_term"))
      .select(col("file"), xxhash64(col("graft_term")).as("key"))
      .as[BloomFileKey]
      .groupByKey(_.file)
      .agg(agg.toColumn.name("bloom"))
      .toDF("file", "bloom")
      .write.mode("overwrite").parquet(sidecarPath)
  }

  /** Files whose term bloom might contain `term` (same xxhash64 probe
    * discipline as [[BloomIndex.candidateFiles]]). */
  def candidateFiles(spark: SparkSession, sidecarPath: String,
                     term: String): Seq[String] =
    BloomIndex.candidateFiles(spark, sidecarPath, term)

  /** Term search through the index: read ONLY candidate files, re-apply
    * the exact token-membership predicate (same tokenizer as the build —
    * substring matches of longer tokens do NOT count). */
  def search(spark: SparkSession, storePath: String, sidecarPath: String,
             textCol: String, term: String,
             maxCandidates: Int = 100000): DataFrame = {
    require(term.matches(TokenRe),
      s"term must be a lowercase [a-z0-9]+ token, got '$term'")
    val pred = array_contains(
      regexp_extract_all(lower(col(textCol)), lit(TokenRe), lit(0)),
      term)
    val files = BloomIndex.candidateQuery(spark, sidecarPath, term)
      .limit(maxCandidates + 1).collect().toSeq
    val store = graft.Tables.parquet(spark, storePath)
    if (files.isEmpty) store.limit(0)
    else if (files.size > maxCandidates) store.filter(pred)
    else spark.read.schema(store.schema).parquet(files: _*).filter(pred)
  }
}
