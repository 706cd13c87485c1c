package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom-filter sidecar index over a parquet directory — file
  * skipping for EQUALITY predicates on a high-cardinality column that the
  * layout is NOT organized by. The three data-skipping legs compose:
  * directory partitioning prunes low-cardinality keys, range/z-order
  * layouts prune orderable keys via min-max stats, and this sidecar
  * prunes point lookups on everything else (ids, fingerprints, users)
  * without rewriting the data — the lakehouse bloom-index pattern
  * (Delta/Iceberg ship the same idea as file-level bloom metadata).
  *
  * Build: one distributed pass groups row keys by their source file and
  * folds them into one bloom per file (mergeable sketch aggregator — the
  * same state family as the dedup blooms). The sidecar is an index
  * artifact: O(nFiles) rows of ~bloom-sized bytes, stored as parquet next
  * to the data.
  *
  * Probe: the sidecar — never the data — is filtered for files whose
  * bloom might contain the key (distributed; only MATCHING file names
  * reach the driver), then only those files are read, with the exact
  * equality filter re-applied on top (bloom hits are "maybe": fpp
  * governs wasted file reads, never wrong answers).
  */
/** Encoder target for the build pass — top-level because Catalyst's
  * generated projections need public accessors. */
case class BloomFileKey(file: String, key: Long)

object BloomIndex {

  /** Mergeable per-group bloom build: reduce = put, merge = union. */
  private[sources] class BloomAgg(expectedItems: Long, fpp: Double)
      extends Aggregator[BloomFileKey, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    override def reduce(b: BloomFilter, r: BloomFileKey): BloomFilter = {
      b.putLong(r.key); b
    }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray
    }
    override def bufferEncoder = Encoders.kryo[BloomFilter]
    override def outputEncoder = Encoders.BINARY
  }

  /** Build the sidecar for `keyCol` of the parquet directory at
    * `storePath`. Keys are xxhash64-normalized so any key type probes
    * with the same hash on read. `expectedPerFile` sizes each bloom
    * (~1.2 MB at 1M keys / 1% fpp — sidecar bytes scale with file count,
    * not row count). */
  def build(spark: SparkSession, storePath: String, sidecarPath: String,
            keyCol: String, expectedPerFile: Long = 1000000L,
            fpp: Double = 0.01): Unit = {
    import spark.implicits._
    val agg = new BloomAgg(expectedPerFile, fpp)
    spark.read.parquet(storePath)
      .select(input_file_name().as("file"),
        xxhash64(col(keyCol).cast("string")).as("key"))
      .as[BloomFileKey]
      .groupByKey(_.file)
      .agg(agg.toColumn.name("bloom"))
      .toDF("file", "bloom")
      .write.mode("overwrite").parquet(sidecarPath)
  }

  /** Files whose bloom might contain `value` — the probe is a filter
    * over the O(nFiles) sidecar (distributed; blooms deserialize
    * per-row, which is per-partition imperative work on an INDEX table,
    * not the corpus), and only matching names reach the driver. */
  def candidateFiles(spark: SparkSession, sidecarPath: String,
                     value: String): Seq[String] = {
    import spark.implicits._
    candidateQuery(spark, sidecarPath, value).collect().toSeq
  }

  /** The hash the build's `xxhash64(key as string)` column gives `value`:
    * the same expression with the same default seed, evaluated on the
    * driver (no query), so a Spark upgrade that changes the function moves
    * build and probe together instead of diverging into false negatives. */
  private[sources] def probeHash(value: String): Long =
    new XxHash64(Seq(Literal(value))).eval().asInstanceOf[Long]

  private[sources] def candidateQuery(spark: SparkSession, sidecarPath: String,
                             value: String): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val h = probeHash(value)
    graft.Tables.parquet(spark, sidecarPath)
      .as[(String, Array[Byte])]
      .filter { case (_, bytes) =>
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainLong(h)
      }
      .map(_._1)
  }

  /** Point lookup through the index: read ONLY the candidate files, then
    * re-apply the exact predicate (bloom fpp causes extra file reads,
    * never wrong rows). Empty candidate set short-circuits to an empty
    * frame with the store's schema.
    *
    * Driver-size guard: at most `maxCandidates` file names are collected
    * (sidecar is O(nFiles) — a degenerate probe, e.g. an absurd fpp or a
    * key present in every file of a multi-million-file store, would
    * otherwise pull a manifest-sized list onto the driver). Past the cap
    * the index has lost its selectivity, so the lookup falls back to the
    * plain store read with the exact predicate — identical rows. */
  def lookup(spark: SparkSession, storePath: String, sidecarPath: String,
             keyCol: String, value: String,
             maxCandidates: Int = 100000): DataFrame = {
    val files = candidateQuery(spark, sidecarPath, value)
      .limit(maxCandidates + 1).collect().toSeq
    val store = graft.Tables.parquet(spark, storePath)
    if (files.isEmpty) store.limit(0)
    else if (files.size > maxCandidates)
      store.filter(col(keyCol).cast("string") === value)
    else spark.read.schema(store.schema).parquet(files: _*)
      .filter(col(keyCol).cast("string") === value)
  }
}
