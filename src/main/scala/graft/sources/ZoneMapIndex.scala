package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file min/max sidecar index (zone maps) over a parquet directory —
  * file skipping for RANGE predicates. This is the third data-skipping
  * leg next to directory partitioning (low-cardinality keys) and the
  * bloom sidecar (equality on high-cardinality keys): zone maps prune
  * orderable columns, and they only bite when the file layout correlates
  * with the indexed column — pair the build with
  * `Etl.writeRangeLayout`/`writeZorderLayout`, which is exactly the
  * min-max-stats contract Delta/Iceberg/ORC encode as file metadata.
  *
  * Build: one distributed aggregate keyed by source file → one row of
  * (min, max) per indexed column per file. The sidecar is O(nFiles) rows
  * stored as parquet next to the data; rebuilding after a layout rewrite
  * is a single cheap pass.
  *
  * Probe: the sidecar — never the data — is filtered for files whose
  * [min, max] interval intersects the queried range; only those files
  * are read, with the exact predicate re-applied on top (interval
  * intersection is a "maybe", never a wrong answer). A file whose stats
  * row carries NULL min/max (all-null column) is skipped: a range
  * predicate cannot match NULL values.
  */
object ZoneMapIndex {

  /** Build the sidecar for `cols` of the parquet directory at
    * `storePath`. */
  def build(spark: SparkSession, storePath: String, sidecarPath: String,
            cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(storePath)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(sidecarPath)
  }

  /** Files whose [min, max] interval for `column` intersects [lo, hi] —
    * a filter over the O(nFiles) sidecar; only matching names reach the
    * driver. */
  def candidateFiles(spark: SparkSession, sidecarPath: String,
                     column: String, lo: Column, hi: Column): Seq[String] = {
    import spark.implicits._
    candidateQuery(spark, sidecarPath, column, lo, hi)
      .as[String].collect().toSeq
  }

  private def candidateQuery(spark: SparkSession, sidecarPath: String,
                             column: String, lo: Column, hi: Column): DataFrame =
    graft.Tables.parquet(spark, sidecarPath)
      // NULL stats make the conjunction NULL → filtered out, which is
      // the correct skip (see class doc).
      .filter(col(s"max_$column") >= lo && col(s"min_$column") <= hi)
      .select("file")

  /** Range scan through the index: read ONLY the candidate files, then
    * re-apply the exact predicate. Empty candidate set short-circuits to
    * an empty frame with the store's schema.
    *
    * Driver-size guard: the candidate list is collected with a cap of
    * `maxCandidates` — the sidecar is O(nFiles), and a NON-selective
    * probe over a multi-million-file store would otherwise pull a
    * manifest-sized name list onto the driver (and hand the planner a
    * million explicit paths). Past the cap the probe has lost its
    * selectivity anyway, so the scan falls back to the plain store read
    * with the exact predicate — identical rows, no driver blow-up. */
  def rangeScan(spark: SparkSession, storePath: String, sidecarPath: String,
                column: String, lo: Column, hi: Column,
                maxCandidates: Int = 100000): DataFrame = {
    import spark.implicits._
    val files = candidateQuery(spark, sidecarPath, column, lo, hi)
      .limit(maxCandidates + 1).as[String].collect().toSeq
    val store = graft.Tables.parquet(spark, storePath)
    if (files.isEmpty) store.limit(0)
    else if (files.size > maxCandidates)
      store.filter(col(column) >= lo && col(column) <= hi)
    else spark.read.schema(store.schema).parquet(files: _*)
      .filter(col(column) >= lo && col(column) <= hi)
  }
}
