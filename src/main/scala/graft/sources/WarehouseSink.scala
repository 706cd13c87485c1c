package graft.sources

import java.io.{BufferedReader, File, FileReader, FileWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 WRITE path — the warehouse-sink analog of the reference's
  * truncate+append table loads (dag.py:725-849: BigQuery upsert/replace
  * operators), expressed as a first-class Spark sink with the commit
  * discipline an external (JDBC-ish) warehouse needs:
  *
  *  - **Staged, atomic commit**: each task writes to `_staging/<query>/`,
  *    names carrying (partitionId, taskId) so a speculative or retried
  *    attempt can never double-publish (Spark's commit coordinator admits
  *    ONE attempt per partition; only files named in its commit messages
  *    are published). The driver publishes by writing `manifest-<v>.json`
  *    and atomically renaming a `_current` pointer — readers see the old
  *    version or the new one, never a torn mix.
  *  - **Truncate+append** (SupportsTruncate): overwrite publishes a
  *    manifest holding ONLY the new files (the old generation's data files
  *    become unreferenced — dropped lazily, the cheap warehouse TRUNCATE);
  *    append publishes previous files + new.
  *  - **Abort cleanup**: a failed job deletes its staging dir; the current
  *    manifest never moves, so a crashed load leaves the table exactly as
  *    it was (the exactly-once property PipelineSpec needs end-to-end).
  *  - **Scale**: one writer per input partition, one data file per task,
  *    read back as one InputPartition per file — parallelism mirrors the
  *    layout with no driver bottleneck beyond the file list (the same
  *    contract a JDBC sink has with one connection per partition).
  *  - **Data skipping**: every task also commits a per-file column
  *    min/max sidecar; the scan pushes filters and drops refuted files at
  *    planning time (all filters stay residual — skipping is conservative
  *    by construction). See the stats section in the companion object.
  *
  * Row format is a schema-driven TSV with unit-separator escaping — the
  * point is the COMMIT PROTOCOL, not the encoding; a production variant
  * would swap the encoder for the warehouse wire format and keep every
  * commit/abort/manifest line unchanged. Long/Int/Double/String/Boolean
  * and null are supported.
  *
  * Usage:
  *   df.write.format("graft.sources.WarehouseSink")
  *     .option("path", dir).mode("append"|"overwrite").save()
  *   spark.read.format("graft.sources.WarehouseSink")
  *     .option("path", dir).load()
  */
class WarehouseSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = WarehouseSink.path(options)
    // Internal (tableChanges): change files carry the table columns PLUS
    // the CDF metadata columns — the override IS the relation schema.
    Option(options.get("readSchemaDdl")).map(StructType.fromDDL)
      .foreach(return _)
    // Change-feed reads surface the table schema plus the two CDF
    // metadata columns.
    if (options.getBoolean("readChangeFeed", false)) {
      val m = WarehouseSink.readManifest(dir).getOrElse(
        throw new IllegalArgumentException(
          s"warehouse table at $dir does not exist"))
      return StructType.fromDDL(m.schemaDdl)
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType)
    }
    val manifest = WarehouseSink.asOf(dir, options) match {
      case Some(v) => WarehouseSink.readManifestAt(dir, v)
      case None => WarehouseSink.readManifest(dir)
    }
    manifest match {
      case Some(m) => StructType.fromDDL(m.schemaDdl)
      case None => Option(options.get("schema")).map(StructType.fromDDL)
        .getOrElse(throw new IllegalArgumentException(
          s"warehouse table at $dir does not exist" +
            " (or the requested versionAsOf was vacuumed)" +
            " and no schema option given"))
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // properties carries the reader options with their ORIGINAL casing —
    // resolve them case-insensitively like inferSchema's option map does,
    // or a differently-cased versionAsOf would silently read the live
    // generation instead of time-traveling.
    val opts = new CaseInsensitiveStringMap(properties)
    new WarehouseTable(WarehouseSink.path(opts), schema,
      WarehouseSink.asOf(WarehouseSink.path(opts), opts))
  }
}

object WarehouseSink {
  private[sources] def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "warehouse sink requires option(\"path\", dir)")
    p
  }

  private[sources] def versionAsOf(raw: String): Option[Long] =
    Option(raw).map(_.trim).filter(_.nonEmpty).map(_.toLong)

  /** Resolve the effective time-travel version from the reader options:
    * explicit `versionAsOf` wins; otherwise `timestampAsOf` (epoch
    * millis, or an ISO-8601 instant like 2026-08-14T12:00:00Z) resolves
    * to the NEWEST retained generation committed at or before that
    * instant — the Delta TIMESTAMP AS OF contract. Commit stamps are
    * monotonic (see publish), so the mapping is unambiguous; asking for
    * a time before the first retained commit fails loudly (that history
    * is vacuumed or never existed). */
  private[sources] def asOf(dir: String,
                            opts: CaseInsensitiveStringMap): Option[Long] =
    Option(opts.get("ref")).map(_.trim).filter(_.nonEmpty).map { name =>
      readRef(dir, name).getOrElse(throw new IllegalArgumentException(
        s"no ref '$name' on warehouse table at $dir")).version
    }.orElse(versionAsOf(opts.get("versionAsOf"))).orElse(
      Option(opts.get("timestampAsOf")).map(_.trim).filter(_.nonEmpty)
        .map { raw =>
          val tsMs =
            if (raw.forall(_.isDigit)) raw.toLong
            else java.time.Instant.parse(raw).toEpochMilli
          val cur = readManifest(dir).getOrElse(
            throw new IllegalArgumentException(
              s"warehouse table at $dir does not exist")).version
          val cands = (0L to cur).flatMap(readManifestAt(dir, _))
            .filter(_.ts <= tsMs)
          require(cands.nonEmpty,
            s"no retained generation of $dir at or before $raw " +
              "(vacuumed, or before the table existed)")
          cands.map(_.version).max
        })

  /** `epoch` is the last streaming epoch folded into this generation
    * (-1 for batch-only tables) — the idempotence cursor a replayed
    * micro-batch checks before re-publishing. `partitionCol` ("" = none)
    * names the value-partitioning column: every data file holds exactly
    * one value of it, which is what lets the scan report
    * KeyGroupedPartitioning for storage-partitioned joins. */
  /** `colIds` are STABLE FIELD IDS aligned positionally with
    * `schemaDdl`'s fields (the Iceberg column-mapping idea): a rename
    * changes only the DDL text, never the id, so files written under
    * the old name keep resolving — by id — under the new one, and time
    * travel resolves the same id through each version's own name.
    * `nextColId` is a monotone allocator: a DROPPED column's id is
    * never reused, which is exactly what stops a later same-named
    * column from resurrecting the dropped column's stored data. Empty
    * colIds = a pre-field-id table (pure by-name semantics, unchanged). */
  private[sources] case class Manifest(version: Long, schemaDdl: String,
                                       files: Seq[String], epoch: Long = -1L,
                                       partitionCol: String = "",
                                       sortedBy: String = "",
                                       op: String = "",
                                       cdf: Boolean = false,
                                       changeFiles: Seq[String] = Nil,
                                       ts: Long = 0L,
                                       dvs: Seq[String] = Nil,
                                       colIds: Seq[Long] = Nil,
                                       nextColId: Long = -1L,
                                       defaults: Seq[String] = Nil)

  /** One merge-on-read deletion-vector reference, manifest-encoded as
    * `dataFile|dvFile|count`: `dvFile` holds the sorted 0-based line
    * positions of `dataFile`'s DELETED rows, `count` their number
    * (carried in the manifest so COUNT(*) and optimizer row counts never
    * open the vector). Entries are per-GENERATION state: time travel to
    * a pre-delete version sees no vector, and a later MoR delete on the
    * same file replaces the entry with a merged vector under a fresh
    * name — data files stay immutable, exactly the Delta/Iceberg DV
    * economics (a narrow delete writes positions, not a rewritten
    * file). */
  private[sources] case class DvRef(dataFile: String, dvFile: String,
                                    count: Long) {
    def encoded: String = s"$dataFile|$dvFile|$count"
  }
  private[sources] def dvRefs(m: Manifest): Seq[DvRef] =
    m.dvs.map { s =>
      val p = s.split("\\|")
      DvRef(p(0), p(1), p(2).toLong)
    }
  private[sources] def dvRefs(entries: Seq[String]): Seq[DvRef] =
    dvRefs(Manifest(0L, "", Nil, dvs = entries))

  /** `m`'s vector entries restricted to `files` — what a DML rewrite
    * passes to its candidate read (so already-deleted rows never
    * resurrect) and what a publish carries for untouched files. */
  private[sources] def dvEntriesFor(m: Manifest,
                                    files: Seq[String]): Seq[String] = {
    val set = files.toSet
    m.dvs.filter(e => set.contains(e.takeWhile(_ != '|')))
  }

  /** A deletion vector on disk: sorted ascending 0-based positions, one
    * decimal per line — the same one-honest-text-format-everywhere rule
    * as the data codec and the stats sidecars. */
  private[sources] def writeDvFile(dir: String,
                                   positions: Seq[Long]): String = {
    val name = s"dv-${java.util.UUID.randomUUID.toString.take(12)}.dv"
    Files.write(Paths.get(dir, name),
      positions.mkString("\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    name
  }

  /** Build the merged deletion vectors for a MoR DML's newly-dying rows
    * EXECUTOR-SIDE: `matched` carries the (`__graft_file`,
    * `__graft_pos`) pairs of the rows being killed; positions group per
    * file, merge by sorted union with the file's EXISTING vector and
    * write under a fresh name inside the task that owns them — only the
    * 3-field (dataFile, dvFile, count) refs cross back to the driver.
    * A broad-predicate MoR UPDATE on a 100 TB table therefore streams
    * ZERO positions through driver memory; per-task memory is bounded
    * by the largest single file's row count (files are write-sized).
    * New positions are disjoint from the old vector by construction
    * (the candidate scan reads THROUGH existing vectors). Vector files
    * land via CREATE_NEW under UUID names, so a speculative or retried
    * task can only strand an unreferenced file for [[vacuum]] — never
    * corrupt one a manifest references. */
  private[sources] def writeDvsDistributed(
      dir: String, matched: org.apache.spark.sql.DataFrame,
      oldRefs: Map[String, DvRef]): Seq[DvRef] = {
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    val spark = matched.sparkSession
    import spark.implicits._
    val oldDv = spark.sparkContext.broadcast(
      oldRefs.map { case (f, r) => (f, r.dvFile) })
    matched
      .groupBy(col("__graft_file"))
      .agg(sort_array(collect_list(col("__graft_pos"))).as("pos"))
      .as[(String, Seq[Long])]
      .map { case (dataFile, pos) =>
        val merged = oldDv.value.get(dataFile) match {
          case Some(dv) =>
            (readDvPositions(new File(dir, dv).getPath) ++ pos)
              .sorted.toIndexedSeq
          case None => pos.toIndexedSeq // sort_array already ordered them
        }
        (dataFile, writeDvFile(dir, merged), merged.length.toLong)
      }
      .collect().toSeq
      .map { case (f, dv, n) => DvRef(f, dv, n) }
  }

  /** Newly-killed row count derivable from refs alone (old and new
    * positions are disjoint): Σ (newCount − oldCount) — no position
    * array needed driver-side. */
  private[sources] def newlyKilled(newRefs: Seq[DvRef],
                                   oldRefs: Map[String, DvRef]): Long =
    newRefs.map(r =>
      r.count - oldRefs.get(r.dataFile).map(_.count).getOrElse(0L)).sum

  private[sources] def readDvPositions(path: String): Array[Long] = {
    val f = new File(path)
    if (!f.isFile) throw new IllegalStateException(
      s"deletion vector $path is missing (vacuumed while referenced?)")
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map(_.toLong)
  }

  /** `partitionCol` holds one name or a comma-joined list ("a,b"):
    * multi-column value partitioning — every data file holds exactly one
    * value TUPLE — is what lets two tables partitioned on compound keys
    * storage-partition-join on all key columns with zero Exchange. */
  private[sources] def splitCols(s: String): Seq[String] =
    if (s == null || s.isEmpty) Nil else s.split(",").toSeq

  // ---- partition transforms (hidden partitioning) ----
  /** One partition-spec entry: an identity column, `bucket(N,col)`, or
    * `days(col)` — the Iceberg transform-partitioning grammar. A
    * transform file holds exactly one TRANSFORM value (recorded in its
    * sidecar `#tpart` line), while its RAW column ranges may span
    * everything — which is precisely why bucket layouts need their own
    * pruning rule: a hash bucket's min/max refutes nothing, but matching
    * the literal's bucket against the file's recorded value prunes
    * (buckets−1)/buckets of a 100 TB table for a point lookup. */
  private[sources] sealed trait PartTransform {
    def col: String; def spec: String
  }
  private[sources] case class IdPart(col: String) extends PartTransform {
    def spec: String = col
  }
  private[sources] case class BucketPart(n: Int, col: String)
      extends PartTransform {
    def spec: String = s"bucket($n,$col)"
  }
  private[sources] case class DaysPart(col: String) extends PartTransform {
    def spec: String = s"days($col)"
  }

  /** Split a spec list on commas OUTSIDE parentheses:
    * "bucket(8,id),region" → ["bucket(8,id)", "region"]. */
  private[sources] def splitSpecs(s: String): Seq[String] = {
    if (s == null || s.isEmpty) return Nil
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.result()
  }

  private val BucketRe = """bucket\(\s*(\d+)\s*,\s*([^)]+?)\s*\)""".r
  private val DaysRe = """days\(\s*([^)]+?)\s*\)""".r

  private[sources] def parsePartSpecs(s: String): Seq[PartTransform] =
    splitSpecs(s).map {
      case BucketRe(n, c) =>
        require(n.toInt > 0, s"bucket count must be positive in $s")
        BucketPart(n.toInt, c)
      case DaysRe(c) => DaysPart(c)
      case c =>
        require(!c.contains("("),
          s"unknown partition transform '$c' (supported: col, " +
            "bucket(N,col), days(col))")
        IdPart(c)
    }

  /** Transform-aware file pruning — the rule raw min/max stats cannot
    * express: a `bucket(N,col)` file's raw range spans the whole domain
    * (hashing destroys order), so an equality literal prunes ONLY by
    * comparing its bucket against the file's recorded `#tpart` value —
    * which drops (N−1)/N of a 100 TB table for a point lookup. EqualTo
    * and In translate; every other filter shape (and any file without a
    * recorded tuple — legacy or plain-compacted layouts) never skips
    * blind. A literal whose type the transform rejects disables pruning
    * for that filter rather than guessing. */
  private[sources] def tpartAllows(dir: String, dataFile: String,
                                   tableSpecs: Seq[PartTransform],
                                   filters: Seq[org.apache.spark.sql.sources.Filter],
                                   rn: Map[String, String] = Map.empty): Boolean = {
    val t = readTpart(dir, dataFile).getOrElse(return true)
    // PARTITION EVOLUTION rule: the tuple is interpreted under the spec
    // the FILE records, not the table's current one — a pre-evolution
    // bucket(4,·) file keeps pruning (correctly, under ITS modulus) after
    // the table moves to bucket(8,·). Files without a recorded spec fall
    // back to the table spec (they predate evolution support, and
    // evolvePartitioning refuses tables containing them).
    val specs0 = readTpartSpec(dir, dataFile) match {
      case Some(sp) =>
        try parsePartSpecs(sp)
        catch { case _: IllegalArgumentException => return true }
      case None => tableSpecs
    }
    // a file written before a rename records its spec under the old
    // column name; surface it under the current one
    val specs = specs0.map {
      case IdPart(c) => IdPart(rn.getOrElse(c, c))
      case BucketPart(n, c) => BucketPart(n, rn.getOrElse(c, c))
      case DaysPart(c) => DaysPart(rn.getOrElse(c, c))
    }
    val parts = t.split("\u001f", -1)
    if (parts.length != specs.length) return true
    def allows(c: String, vs: Seq[Any]): Boolean =
      specs.zipWithIndex.find { case (s, _) =>
        s.col == c && !s.isInstanceOf[IdPart]
      } match {
        case Some((s, j)) => vs.exists { v =>
          try encode(transformValue(s, v)) == parts(j)
          catch { case _: IllegalArgumentException => true }
        }
        case None => true
      }
    filters.forall {
      case org.apache.spark.sql.sources.EqualTo(c, v) => allows(c, Seq(v))
      case org.apache.spark.sql.sources.In(c, vs) => allows(c, vs.toSeq)
      case _ => true
    }
  }

  /** The transform value of a raw partition-column value — computed at
    * WRITE time only and recorded per file; readers never recompute it
    * (both sides of any comparison read the same recorded values, so the
    * hash only has to be deterministic, not engine-portable). */
  private[sources] def transformValue(t: PartTransform, v: Any): Any = t match {
    case IdPart(_) => v
    case BucketPart(n, c) =>
      val h = v match {
        case l: java.lang.Long => scala.util.hashing.byteswap64(l.longValue)
        case i: java.lang.Integer => scala.util.hashing.byteswap64(i.longValue)
        case s: UTF8String =>
          scala.util.hashing.MurmurHash3.stringHash(s.toString).toLong
        case s: String => scala.util.hashing.MurmurHash3.stringHash(s).toLong
        case other => throw new IllegalArgumentException(
          s"bucket($n,$c) needs an int/long/string column, got " +
            other.getClass.getSimpleName)
      }
      java.lang.Long.valueOf(Math.floorMod(h, n.toLong))
    case DaysPart(c) => v match {
      case l: java.lang.Long => java.lang.Long.valueOf(
        Math.floorDiv(l.longValue, 86400L * 1000000L))
      case other => throw new IllegalArgumentException(
        s"days($c) needs an epoch-microsecond long column, got " +
          other.getClass.getSimpleName)
    }
  }

  /** `_current` names the live manifest version; both are tiny JSON files
    * swapped by atomic rename, so a reader sees a complete generation. */
  private[sources] def readManifest(dir: String): Option[Manifest] = {
    val cur = new File(dir, "_current")
    if (!cur.isFile) return None
    val v = new String(Files.readAllBytes(cur.toPath), StandardCharsets.UTF_8)
      .trim.toLong
    readManifestAt(dir, v)
  }

  /** A specific retained generation — the time-travel read anchor. */
  private[sources] def readManifestAt(dir: String, v: Long): Option[Manifest] = {
    val mf = new File(dir, s"manifest-$v.json")
    if (!mf.isFile) return None
    val txt = new String(Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
    // Minimal hand parser for the hand-written JSON below (no deps).
    def field(k: String, default: String = ""): String = {
      val i = txt.indexOf("\"" + k + "\":")
      if (i < 0) return default
      val rest = txt.substring(i + k.length + 3).trim
      if (rest.startsWith("[")) rest.substring(1, rest.indexOf(']'))
      else if (rest.startsWith("\""))
        unescape(rest.substring(1, rest.indexOf("\"", 1)))
      else rest.takeWhile(c => c.isDigit || c == '-')
    }
    def fileList(k: String): Seq[String] = field(k).split(",").map(_.trim)
      .filter(_.nonEmpty).map(s => unescape(s.stripPrefix("\"").stripSuffix("\"")))
      .toSeq
    // Pre-ts manifests (ts absent → 0) fall back to the manifest file's
    // mtime: close enough for timestampAsOf on legacy history, and new
    // commits always stamp an explicit monotonic ts.
    val ts0 = field("ts", "0").toLong
    val ts = if (ts0 > 0L) ts0 else Files.getLastModifiedTime(mf.toPath).toMillis
    val colIds = field("colIds").split(",").map(_.trim)
      .filter(_.nonEmpty).map(_.toLong).toSeq
    Some(Manifest(field("version").toLong, field("schema"), fileList("files"),
      field("epoch", "-1").toLong, field("partitionCol"), field("sortedBy"),
      field("op"), field("cdf", "false") == "true", fileList("changeFiles"),
      ts, fileList("dvs"), colIds, field("nextColId", "-1").toLong,
      fileList("defaults")))
  }

  // ---- initial-default columns (Iceberg-v3 default-value semantics) ----
  /** `defaults` entry codec: base64(utf8(encStr(name) TAB encoded-value))
    * — base64 because a default literal may contain commas/quotes the
    * manifest's simple list parser splits on; the inner payload is the
    * row codec, so any literal the table can store round-trips. */
  private[sources] def defaultEntry(name: String, encodedValue: String): String =
    java.util.Base64.getEncoder.encodeToString(
      (encStr(name) + "\t" + encodedValue).getBytes(StandardCharsets.UTF_8))
  /** current column name → encoded literal. */
  private[sources] def defaultsOf(m: Manifest): Map[String, String] =
    m.defaults.flatMap { e0 =>
      val e = new String(java.util.Base64.getDecoder.decode(e0),
        StandardCharsets.UTF_8)
      val i = e.indexOf('\t')
      if (i < 0) None else Some(decStr(e.substring(0, i)) -> e.substring(i + 1))
    }.toMap

  private def escape(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
  private def unescape(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) { b.append(s.charAt(i + 1)); i += 2 }
      else { b.append(s.charAt(i)); i += 1 }
    }
    b.toString
  }

  /** The slot-claim HALF of a commit: write `manifest-v.json` without
    * swapping `_current` — exactly the window a committer occupies
    * between claiming its slot and publishing it (split out so the
    * concurrency spec can park a "slow winner" in that window). */
  private[sources] def writeManifestFileOnly(dir: String, m: Manifest): Unit = {
    val json =
      s"""{"version": ${m.version}, "ts": ${m.ts}, "epoch": ${m.epoch}, "partitionCol": "${escape(m.partitionCol)}", "sortedBy": "${escape(m.sortedBy)}", "op": "${escape(m.op)}", "cdf": "${m.cdf}", "schema": "${escape(m.schemaDdl)}", "files": [${m.files.map(f => "\"" + escape(f) + "\"").mkString(", ")}], "changeFiles": [${m.changeFiles.map(f => "\"" + escape(f) + "\"").mkString(", ")}], "dvs": [${m.dvs.map(f => "\"" + escape(f) + "\"").mkString(", ")}], "colIds": [${m.colIds.mkString(", ")}], "nextColId": ${m.nextColId}, "defaults": [${m.defaults.map(f => "\"" + escape(f) + "\"").mkString(", ")}]}"""
    // CREATE_NEW: a version slot is claimed exactly once. Two committers
    // racing the same slot collide HERE — a detectable conflict — instead
    // of the second silently overwriting the first's file list.
    Files.write(Paths.get(dir, s"manifest-${m.version}.json"),
      json.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
  }

  private[sources] def writeManifest(dir: String, m: Manifest): Unit = {
    writeManifestFileOnly(dir, m)
    // MONOTONIC pointer swap: if a later generation is already live, a
    // delayed committer must not regress _current. Its manifest stays on
    // disk — and the later generation REBASED on it (see publish), so its
    // files are referenced downstream; skipping the swap loses nothing.
    val existing = Option(new File(dir, "_current"))
      .filter(_.isFile)
      .map(f => new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).trim.toLong)
    if (existing.exists(_ >= m.version)) return
    val tmp = Paths.get(dir, s"_current.tmp-${m.version}")
    Files.write(tmp, m.version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, "_current"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish a new manifest generation with lost-update detection.
    *
    * `make(prev)` builds the manifest from the CURRENT generation; its
    * `version` is overwritten with the next free slot. On a slot conflict
    * (another committer claimed it first), the loser waits for the
    * winner's `_current` swap, re-reads, and REBASES — so two concurrent
    * appends merge instead of the second dropping the first's files.
    *
    * Concurrency contract: appends from independent jobs merge safely.
    * Slots are CREATE_NEW (conflicts are detectable, never silent), a
    * loser REBASES on the winner's manifest — read from the claimed slot
    * directly if the winner is slow or dead between claim and swap, so
    * the winner's already-moved files are referenced downstream either
    * way — and the `_current` swap is monotonic, so a delayed committer
    * can never regress the live pointer. TRUNCATE concurrent with
    * another writer remains single-writer territory (losing a truncate
    * race means the other writer's generation survives), as with any
    * file-manifest format without a lock service. */
  /** Central column-id carry-forward for every publish: closures that
    * keep the schema inherit ids verbatim; append-only evolution
    * (mergeSchema) allocates monotone ids for the appended fields; any
    * other reshape must set colIds itself (rename/drop/restore do) or
    * fail loudly rather than silently dropping the mapping. */
  private def inheritColIds(prev: Option[Manifest], next: Manifest): Manifest = {
    if (next.colIds.nonEmpty) return next
    prev match {
      case None =>
        val n = StructType.fromDDL(next.schemaDdl).fields.length
        next.copy(colIds = (0L until n.toLong), nextColId = n.toLong)
      case Some(p) if p.colIds.isEmpty => next // pre-field-id lineage
      case Some(p) =>
        val pf = StructType.fromDDL(p.schemaDdl).fieldNames.toSeq
        val nf = StructType.fromDDL(next.schemaDdl).fieldNames.toSeq
        if (nf == pf) next.copy(colIds = p.colIds, nextColId = p.nextColId)
        else if (nf.startsWith(pf))
          next.copy(
            colIds = p.colIds ++
              (p.nextColId until p.nextColId + (nf.length - pf.length)),
            nextColId = p.nextColId + (nf.length - pf.length))
        else {
          // unrelated schema = a truncate-style new generation: fresh
          // binding (old generations keep resolving through their own
          // manifests' bindings; the allocator stays monotone so no id
          // from this lineage is ever ambiguous within a version)
          val n = nf.length.toLong
          next.copy(colIds = (0L until n),
            nextColId = math.max(p.nextColId, n))
        }
    }
  }

  /** Central default-value carry-forward, the [[inheritColIds]] twin:
    * publishes that don't set `defaults` inherit the previous
    * generation's, restricted to columns still in the new schema (drop
    * removes the entry; an unrelated truncate's new same-named column
    * keeps inheriting only if the name survives — harmless, since
    * defaults apply ONLY to files lacking the column, and a truncate's
    * files all carry their columns). */
  private def inheritDefaults(prev: Option[Manifest], next: Manifest): Manifest = {
    if (next.defaults.nonEmpty) return next
    prev match {
      case Some(p) if p.defaults.nonEmpty =>
        val names = StructType.fromDDL(next.schemaDdl).fieldNames.toSet
        next.copy(defaults = p.defaults.filter(e =>
          defaultsOf(p.copy(defaults = Seq(e))).keys.forall(names.contains)))
      case _ => next
    }
  }

  private[sources] def publish(dir: String,
                               make: Option[Manifest] => Option[Manifest]): Option[Manifest] = {
    var floor = 0L
    // When set, the retry builds on THIS manifest (a claimed-but-unswapped
    // slot) instead of the _current one — see the rebase note above.
    var base: Option[Manifest] = None
    var attempts = 0
    while (attempts < 200) {
      attempts += 1
      val prev = base.orElse(readManifest(dir))
      make(prev).map(m0 => inheritDefaults(prev, inheritColIds(prev, m0))) match {
        case None => return None // caller declined (e.g. replayed epoch)
        case Some(m0) =>
          val v = math.max(prev.map(_.version + 1).getOrElse(0L), floor)
          // Commit timestamps are clamped monotonic (clock skew cannot
          // reorder history), so timestampAsOf resolves unambiguously.
          val m = m0.copy(version = v,
            ts = math.max(System.currentTimeMillis(),
              prev.map(_.ts).getOrElse(0L)))
          try { writeManifest(dir, m); return Some(m) }
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              // Slot v taken. Give its owner time to swap _current so the
              // retry sees it as prev; if the swap hasn't landed (slow or
              // crashed owner), rebase on the claimed slot's manifest —
              // its data files are fully moved before any publish, so the
              // generation it names is complete.
              var spins = 0
              while (readManifest(dir).map(_.version).getOrElse(-1L) < v
                     && spins < 500) { Thread.sleep(10); spins += 1 }
              if (readManifest(dir).map(_.version).getOrElse(-1L) >= v) {
                base = None; floor = 0L
              } else if (readManifestAt(dir, v)
                           .exists(_.op == "branch-append")) {
                // A PARKED BRANCH commit, not a slow main winner: its
                // content must never rebase into main lineage (that would
                // silently merge unpromoted branch data). Skip the slot.
                base = None
                floor = v + 1
              } else {
                base = readManifestAt(dir, v)
                floor = v + 1
              }
          }
      }
    }
    throw new IllegalStateException(
      s"warehouse manifest contention at $dir: gave up after $attempts attempts")
  }

  /** Row-level change data feed, Delta-style and OPT-IN per table:
    * after [[enableChangeFeed]], every DML verb — copy-on-write
    * (deleteWhere / updateWhere / merge) and merge-on-read
    * (deleteWhereMoR / updateWhereMoR / mergeMoR / applyChangesMoR /
    * syncMoR) — captures its changed ROWS —
    * before/after images, not file diffs — into change files referenced
    * by the SAME manifest generation the DML publishes (atomic: a crash
    * before publish leaves only unreferenced staging, never a dangling
    * feed entry). Appends/streams/WAP promotions need no capture: their
    * added files ARE the insert images, synthesized at read time.
    * [[tableChanges]] replays any version range from these; vacuum
    * retains change files exactly as long as their manifest generation
    * and reclaims them with it.
    *
    * Cost contract (why opt-in): capture re-reads the DML's own
    * candidate files once more to materialize the images — O(changed
    * data), never O(table) — and zero overhead while disabled. */
  def enableChangeFeed(dir: String): Unit = {
    new File(dir).mkdirs()
    Files.write(Paths.get(dir, "_cdf"), Array.emptyByteArray)
  }

  private[sources] def cdfEnabled(dir: String): Boolean =
    new File(dir, "_cdf").isFile

  /** Land `rows` in the table at `dir` WITHOUT publishing them: write
    * through the sink's own staged commit into a throwaway sibling table
    * (same volume, so every move is an atomic rename), move its files and
    * sidecars into `dir`, and return the sibling's manifest — its `files`
    * are what the caller's publish references. `checked` makes the
    * sibling enforce `dir`'s CHECK policy, so a DML rewrite or append
    * cannot smuggle in violating rows. The sibling is gone on return,
    * thrown or not; a crash before the caller's publish leaves only
    * unreferenced files, which [[vacuum]] reclaims. */
  private def stageWrite(dir: String, rows: org.apache.spark.sql.DataFrame,
                         checked: Boolean = false,
                         options: Map[String, String] = Map.empty): Manifest = {
    val tmp = new File(new File(dir).getAbsoluteFile.getParentFile,
      new File(dir).getName + ".stage-" +
        java.util.UUID.randomUUID.toString.take(8))
    try {
      if (checked) copyChecks(dir, tmp.getPath)
      rows.write.format(classOf[WarehouseSink].getName).options(options)
        .option("path", tmp.getPath).mode("overwrite").save()
      val m = readManifest(tmp.getPath).getOrElse(
        throw new IllegalStateException("staged write produced no manifest"))
      m.files.foreach(moveWithStats(tmp, new File(dir), _))
      m
    } finally deleteRecursively(tmp)
  }

  /** Delete `f` and, for a directory, everything under it. */
  private[graft] def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** [[tableChanges]] addressed by NAMED REFS — "what changed between
    * release tags": resolves each name (tag or branch head) to its
    * pinned version and replays the row-level feed between them. The
    * audit a consumer runs on two release manifests without knowing
    * version numbers. */
  def tableChangesBetweenRefs(spark: org.apache.spark.sql.SparkSession,
                              dir: String, fromRef: String,
                              toRef: String): org.apache.spark.sql.DataFrame = {
    def v(name: String): Long =
      readRef(dir, name).getOrElse(throw new IllegalArgumentException(
        s"no ref '$name' on $dir")).version
    val (f, t) = (v(fromRef), v(toRef))
    require(f < t, s"ref '$fromRef' (v$f) is not older than '$toRef' " +
      s"(v$t) — nothing to replay")
    // tableChanges treats fromVersion as the EXCLUSIVE base snapshot:
    // the feed replays commits f+1..t, exactly the diff of the two
    // pinned states. A parked branch commit inside the range keeps the
    // existing loud no-mapping error — refs must pin main lineage here.
    tableChanges(spark, dir, f, t)
  }

  /** The row-level changes that took the table from `fromVersion` to
    * `toVersion`: one row per change image with `_change_type` in
    * (insert, delete, update_preimage, update_postimage) and
    * `_commit_version` = the generation that committed it. DML versions
    * replay from their captured change files (refused loudly if the DML
    * ran with the feed disabled — enable it first, or diff with
    * Etl.reconcile); append/stream/WAP versions synthesize insert images
    * from their added files; truncate synthesizes delete images of the
    * out-going generation plus inserts of the new one; maintenance
    * (compaction/clustering) is layout-only — zero row changes by
    * construction. Vacuumed ranges fail loudly, same as versionAsOf. */
  def tableChanges(spark: org.apache.spark.sql.SparkSession, dir: String,
                   fromVersion: Long, toVersion: Long):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    def manifestAt(v: Long) = readManifestAt(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v of $dir does not exist (vacuumed or never written)"))
    def readFiles(files: Seq[String], ddl: String, dvs: Seq[String] = Nil) =
      scanFiles(spark, dir, files, dvs, Some(ddl))
    val steps = ((fromVersion + 1) to toVersion).map { v =>
      val m = manifestAt(v)
      // v0 has no predecessor: its "previous generation" is empty, so an
      // initial write reads as pure inserts. Lazy: DML steps replay from
      // their OWN captured files, so a vacuumed predecessor only blocks
      // the synthesized (append/truncate) steps that actually diff it.
      lazy val prev = if (v == 0) Manifest(-1L, m.schemaDdl, Nil)
        else manifestAt(v - 1)
      val schema = StructType.fromDDL(m.schemaDdl)
      val cdfDdl = schema.add("_change_type",
        org.apache.spark.sql.types.StringType).toDDL
      val images = m.op match {
        case "delete" | "delete_mor" | "update" | "update_mor" | "merge" | "merge_mor" | "merge_mor_apply" =>
          require(m.cdf,
            s"version $v is a ${m.op} committed with the change feed " +
              "disabled — enableChangeFeed() before the DML, or diff " +
              "generations with Etl.reconcile")
          readFiles(m.changeFiles, cdfDdl)
        case "append" | "stream" | "wap" =>
          readFiles(m.files.diff(prev.files), schema.toDDL)
            .withColumn("_change_type", lit("insert"))
        case "truncate" | "restore" =>
          require(prev.schemaDdl == m.schemaDdl,
            s"change feed across the schema-changing ${m.op} at $v is " +
              "not representable; read the generations separately")
          // Each side replays through ITS generation's deletion vectors —
          // an already-MoR-deleted row was not live to delete or restore.
          readFiles(prev.files, schema.toDDL, dvEntriesFor(prev, prev.files))
            .withColumn("_change_type", lit("delete"))
            .unionByName(readFiles(m.files, schema.toDDL,
              dvEntriesFor(m, m.files))
              .withColumn("_change_type", lit("insert")))
        case "maintain" =>
          readFiles(Nil, schema.toDDL) // layout-only: zero row changes
            .withColumn("_change_type", lit("insert")).filter(lit(false))
        case other => throw new IllegalArgumentException(
          s"version $v has no change-feed mapping (op='$other' — written " +
            "by a pre-CDF release?)")
      }
      images.withColumn("_commit_version", lit(v))
    }
    steps.reduce(_ unionByName _)
  }

  /** DESCRIBE HISTORY — the retained generations as a DataFrame, newest
    * first: version, operation, file/change-file counts, epoch cursor,
    * layout claims. Pure manifest metadata (no data files open); dropped
    * (vacuumed) versions are simply absent. */
  def history(spark: org.apache.spark.sql.SparkSession,
              dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cur = readManifest(dir).map(_.version).getOrElse(-1L)
    (0L to cur).flatMap(v => readManifestAt(dir, v))
      .map(m => (m.version, if (m.op.isEmpty) "unknown" else m.op,
        m.files.size.toLong, m.changeFiles.size.toLong, m.cdf, m.epoch,
        m.partitionCol, m.sortedBy))
      .sortBy(-_._1)
      .toDF("version", "operation", "n_files", "n_change_files",
        "change_feed", "epoch", "partition_by", "sorted_by")
  }

  /** RESTORE — roll the live table back to a retained historical
    * generation (the Delta RESTORE verb): ONE atomic publish referencing
    * the target version's files and schema. Nothing is copied or
    * deleted — the restored generation is a new manifest naming old
    * files, so the operation is O(metadata), history keeps growing
    * forward (the rolled-back states remain time-travelable until
    * vacuum), and the streaming epoch cursor carries forward (a restore
    * must not let a checkpoint replay re-publish a folded batch). The
    * change feed sees it as a truncate-shaped step: delete images of
    * the out-going state plus insert images of the restored one,
    * synthesized from the two manifests — no capture files needed.
    * Fails loudly if the target was vacuumed. */
  def restore(dir: String, version: Long): Unit = {
    val target = readManifestAt(dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version of $dir does not exist (vacuumed or never " +
          "written)"))
    publish(dir, { prev =>
      Some(Manifest(0L, target.schemaDdl, target.files,
        prev.map(_.epoch).getOrElse(-1L), target.partitionCol,
        target.sortedBy, op = "restore", dvs = target.dvs,
        // the TARGET version's name↔id binding (restore may cross a
        // rename); the allocator stays at the lineage's high-water mark
        // so ids freed by the rollback are never recycled
        colIds = target.colIds,
        nextColId = math.max(target.nextColId,
          prev.map(_.nextColId).getOrElse(-1L))))
    })
  }

  /** Zero-copy table clone — the "dev copy of prod" primitive: the clone
    * gets its own manifest chain (version 0, fresh history, fresh change
    * feed) while every data file (+ its stats sidecar) is HARD-LINKED,
    * not copied — O(|files|) metadata work, zero bytes moved, exactly
    * Delta/Iceberg shallow-clone economics. Because links pin inodes,
    * `vacuum` on EITHER table can never break the other (the file
    * vanishes from a dir's namespace, the bytes survive until the last
    * reference drops) — strictly safer than path-based shallow clones,
    * whose reads break when the source vacuums. Data files are immutable
    * in this format (every DML writes new files), so post-clone DML on
    * either side diverges without ever touching shared bytes.
    *
    * On an object store, links become manifest references with
    * refcounted deletes — same contract, different plumbing (documented,
    * not implemented here). Single-writer on dstDir like every DDL. */
  def cloneTable(srcDir: String, dstDir: String): Int = {
    val m = readManifest(srcDir).getOrElse(throw new IllegalArgumentException(
      s"$srcDir is not a warehouse table (no _current)"))
    Files.createDirectories(Paths.get(dstDir))
    require(readManifest(dstDir).isEmpty, s"$dstDir is already a table")
    var linked = 0
    def linkOne(name: String): Unit = {
      val src = Paths.get(srcDir, name)
      val dst = Paths.get(dstDir, name)
      if (Files.exists(src) && !Files.exists(dst)) {
        try Files.createLink(dst, src)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(src, dst) // cross-device fallback: still correct
        }
        linked += 1
      }
    }
    m.files.foreach { f => linkOne(f); linkOne(statsFile(f)) }
    dvRefs(m).foreach(r => linkOne(r.dvFile))
    copyChecks(srcDir, dstDir) // the clone inherits the CHECK policy
    writeManifest(dstDir, Manifest(0L, m.schemaDdl, m.files, epoch = -1L,
      m.partitionCol, m.sortedBy, op = "clone", cdf = m.cdf,
      ts = System.currentTimeMillis(), dvs = m.dvs,
      colIds = m.colIds, nextColId = m.nextColId))
    linked
  }

  // ---- CHECK constraints ----
  /** One table-level row constraint: `notnull` (col must be non-null),
    * `min`/`max` (numeric col ≥/≤ value), or `in` (string form of the
    * value ∈ the `;`-separated list). Deliberately a CLOSED grammar —
    * every kind is row-local and engine-free, so enforcement costs one
    * branch per row in the writer and never needs a SQL evaluator on
    * the executor. */
  case class Check(name: String, kind: String, col: String, value: String) {
    require(Seq("notnull", "min", "max", "in").contains(kind),
      s"unknown check kind '$kind'")
  }

  private def checksPath(dir: String) = Paths.get(dir, "_checks.tsv")

  /** The table's active checks. Stored OUTSIDE the manifest chain
    * (`_checks.tsv`, one record per line): constraints are table-level
    * POLICY, not versioned state — storing them beside the generations
    * means every publish path (append, DML, maintain, restore, WAP)
    * carries them with zero threading, and vacuum's `_`-prefix rule
    * already protects the file. */
  def checks(dir: String): Seq[Check] = {
    val p = checksPath(dir)
    if (!Files.exists(p)) Nil
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val f = line.split("\u001f", -1)
        Check(f(0), f(1), f(2), if (f.length > 3) f(3) else "")
      }
  }

  private def writeChecks(dir: String, cs: Seq[Check]): Unit = {
    val body = cs.map(c =>
      s"${c.name}\u001f${c.kind}\u001f${c.col}\u001f${c.value}")
      .mkString("\n")
    Files.write(checksPath(dir), body.getBytes(StandardCharsets.UTF_8))
  }

  /** ALTER TABLE ADD CONSTRAINT: validates the constraint against the
    * CURRENT table contents first (one scan, violation fails the add and
    * leaves the table's policy unchanged — the Delta contract: a check
    * holds for all data, not just future writes), then persists it;
    * every subsequent append / streaming epoch / UPDATE / MERGE write
    * enforces it per row, failing the write atomically (staged files
    * never publish). Same-name add replaces. */
  def addCheck(spark: org.apache.spark.sql.SparkSession, dir: String,
               check: Check): Unit = {
    readManifest(dir).foreach { m =>
      val schema = StructType.fromDDL(m.schemaDdl)
      require(schema.fieldNames.contains(check.col),
        s"check '${check.name}': column ${check.col} not in table schema")
      val df = spark.read.format("graft.sources.WarehouseSink")
        .option("path", dir).load()
      val ev = new CheckEvaluator(Seq(check), schema)
      val bad = df.filter(!ev.asColumn(df)).limit(1).count()
      require(bad == 0L,
        s"check '${check.name}' is violated by existing data — not added")
    }
    writeChecks(dir, checks(dir).filterNot(_.name == check.name) :+ check)
  }

  def dropCheck(dir: String, name: String): Unit =
    writeChecks(dir, checks(dir).filterNot(_.name == name))

  /** Copy the source table's check policy onto a derived dir — the DML
    * rewrite legs write through a TEMP table, which must enforce the
    * parent's checks. */
  private[sources] def copyChecks(srcDir: String, dstDir: String): Unit = {
    val cs = checks(srcDir)
    if (cs.nonEmpty) {
      Files.createDirectories(Paths.get(dstDir))
      writeChecks(dstDir, cs)
    }
  }

  /** Time-based retention twin of [[vacuum]] (the Delta
    * `VACUUM ... RETAIN n HOURS` shape): drop generations whose commit
    * timestamp is older than `olderThanMs`, keeping at least the live
    * one. Resolution rides the same monotonic manifest `ts` that
    * timestampAsOf uses, so the retention boundary and time travel agree
    * on which history survives. */
  def vacuumOlderThan(dir: String, olderThanMs: Long): Int = {
    val cur = readManifest(dir).getOrElse(return 0)
    if (cur.version == 0) return 0
    // oldest version with ts >= boundary; the live generation always stays
    val oldestKept = ((0L to cur.version)
      .find(v => readManifestAt(dir, v).exists(_.ts >= olderThanMs))
      .getOrElse(cur.version)).min(cur.version)
    vacuum(dir, keepVersions = (cur.version - oldestKept + 1).toInt)
  }

  /** Drop generations older than the newest `keepVersions`: their
    * manifest files, and every data file no RETAINED manifest references.
    * Commits never delete data (truncate only un-references the old
    * generation), so history stays readable via `versionAsOf` until this
    * maintenance pass reclaims it — the Delta/Iceberg VACUUM contract.
    * Single-writer: run it from the table's owning job, not concurrently
    * with a commit. Returns the number of files removed. */
  def vacuum(dir: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, "must retain at least the live generation")
    val cur = readManifest(dir).getOrElse(return 0)
    val keepMin = cur.version - (keepVersions - 1)
    // Pending WAP stages are live state: their markers and data files
    // must survive maintenance (promote/discard consumes them, not vacuum).
    val stagedTokens = Option(new File(dir).listFiles())
      .getOrElse(Array.empty[File]).map(_.getName)
      .filter(n => n.startsWith("staged-") && n.endsWith(".json"))
      .map(_.stripPrefix("staged-").stripSuffix(".json"))
    // Named refs pin their generations outright: a tag or branch head
    // (and a branch's fork base — its un-appended files all live in the
    // head manifest anyway) survives any keepVersions window until the
    // ref is dropped.
    val refVersions = listRefs(dir).map(_.version).toSet
    val referenced = ((keepMin to cur.version) ++ refVersions)
      .flatMap(readManifestAt(dir, _))
      .flatMap(m => m.files ++ m.changeFiles ++ dvRefs(m).map(_.dvFile))
      .toSet ++
      stagedTokens.flatMap(t => readStagedMeta(dir, t).map(_._2).getOrElse(Nil))
    var dropped = 0
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      val n = f.getName
      val oldManifest = n.startsWith("manifest-") && n.endsWith(".json") &&
        n.stripPrefix("manifest-").stripSuffix(".json").toLongOption
          .exists(v => v < keepMin && !refVersions.contains(v))
      // a stats sidecar lives and dies with its base data file
      val base = if (n.endsWith(".stats")) n.stripSuffix(".stats") else n
      val unreferencedData = !f.isDirectory && !n.startsWith("manifest-") &&
        !n.startsWith("_") && !n.startsWith("staged-") &&
        !referenced.contains(base)
      if (oldManifest || unreferencedData) { f.delete(); dropped += 1 }
    }
    dropped
  }

  // ---- named refs: tags (immutable snapshots) and branches (writable
  // forks), the Iceberg refs model over the manifest chain ----

  /** A named pointer into the generation history. `version` is the ref
    * head; for a branch, `forkedAt` remembers the MAIN version it forked
    * from — the fast-forward precondition. */
  private[sources] case class Ref(name: String, kind: String,
                                  version: Long, forkedAt: Long)

  private val RefNameRe = "[A-Za-z0-9._-]{1,64}".r

  private def refFile(dir: String, name: String): File = {
    require(RefNameRe.pattern.matcher(name).matches(),
      s"invalid ref name '$name' (allowed: letters digits . _ -)")
    new File(new File(dir, "_refs"), name)
  }

  private[sources] def readRef(dir: String, name: String): Option[Ref] = {
    val f = refFile(dir, name)
    if (!f.isFile) return None
    val p = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .trim.split("\t")
    Some(Ref(name, p(0), p(1).toLong, p(2).toLong))
  }

  private def writeRef(dir: String, r: Ref, overwrite: Boolean): Unit = {
    val f = refFile(dir, r.name)
    f.getParentFile.mkdirs()
    if (!overwrite) require(!f.isFile,
      s"ref '${r.name}' already exists on $dir")
    val tmp = Paths.get(f.getParent, s".${r.name}.tmp")
    Files.write(tmp,
      s"${r.kind}\t${r.version}\t${r.forkedAt}\n"
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Pin the CURRENT generation under an immutable name — the audited
    * release marker ("model-v3-training-set"). Readers address it with
    * `option("ref", name)`; vacuum retains its generation (manifest,
    * data, change files, DVs) for as long as the tag exists, regardless
    * of `keepVersions`. Creating over an existing name fails. */
  def createTag(dir: String, name: String): Unit = {
    val cur = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"cannot tag nonexistent warehouse table at $dir"))
    writeRef(dir, Ref(name, "tag", cur.version, cur.version),
      overwrite = false)
  }

  /** Fork a writable branch at the current generation. Branch commits
    * ([[appendToBranch]]) advance only the ref — main readers never see
    * them until [[fastForward]] publishes the branch head. The broader
    * WAP pattern with history: stage N audited commits on a branch, then
    * promote them atomically. */
  def createBranch(dir: String, name: String): Unit = {
    val cur = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"cannot branch nonexistent warehouse table at $dir"))
    writeRef(dir, Ref(name, "branch", cur.version, cur.version),
      overwrite = false)
  }

  def dropRef(dir: String, name: String): Unit = {
    val f = refFile(dir, name)
    require(f.isFile, s"no ref '$name' on $dir")
    f.delete()
  }

  private[sources] def listRefs(dir: String): Seq[Ref] = {
    Option(new File(dir, "_refs").listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => readRef(dir, f.getName)).toSeq.sortBy(_.name)
  }

  /** Append to a BRANCH: stages the rows like any write, then claims a
    * manifest slot WITHOUT moving `_current` (the parked-committer
    * window writeManifestFileOnly exists for) and advances only the ref.
    * Branch manifests are marked `op = "branch-append"` so a concurrent
    * main committer colliding with the slot skips over it instead of
    * rebasing branch data into main (see [[publish]]); like the other
    * maintenance verbs this is single-writer territory — don't race
    * branch and main WRITES on the same table. Data files land in the
    * table dir immediately (immutable, content-addressed by name), so
    * fast-forward later is pointer-only. */
  def appendToBranch(spark: org.apache.spark.sql.SparkSession, dir: String,
                     name: String,
                     rows: org.apache.spark.sql.DataFrame): Unit = {
    val r = readRef(dir, name).getOrElse(throw new IllegalArgumentException(
      s"no ref '$name' on $dir"))
    require(r.kind == "branch", s"ref '$name' is a tag — tags are immutable")
    val head = readManifestAt(dir, r.version).getOrElse(
      throw new IllegalStateException(
        s"branch '$name' head v${r.version} was vacuumed"))
    val schema = StructType.fromDDL(head.schemaDdl)
    require(rows.columns.toSet == schema.fieldNames.toSet,
      s"branch append schema ${rows.columns.mkString(",")} must match " +
        s"table schema ${schema.fieldNames.mkString(",")}")
    val newFiles = stageWrite(dir,
      rows.select(schema.fieldNames.toIndexedSeq
        .map(org.apache.spark.sql.functions.col): _*),
      checked = true,
      options = Map("partitionBy" -> head.partitionCol)
        .filter(_._2.nonEmpty)).files
    // next free slot above BOTH the main head and every ref head
    var v = math.max(readManifest(dir).map(_.version).getOrElse(-1L),
      listRefs(dir).map(_.version).max) + 1
    var claimed = false
    while (!claimed) {
      try {
        writeManifestFileOnly(dir, Manifest(v, head.schemaDdl,
          head.files ++ newFiles, head.epoch,
          head.partitionCol,
          sortedBy = "", op = "branch-append", cdf = head.cdf,
          dvs = head.dvs, ts = System.currentTimeMillis(),
          colIds = head.colIds, nextColId = head.nextColId))
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1
      }
    }
    writeRef(dir, r.copy(version = v), overwrite = true)
  }

  /** Publish a branch head as the MAIN generation — pointer-only (its
    * data files already live in the table dir). True fast-forward: fails
    * loudly if main advanced past the fork point (that history would be
    * silently discarded otherwise — a merge, not a fast-forward); the
    * `_current` swap is monotonic because branch slots are always
    * claimed above every head. Consumes the branch. */
  def fastForward(dir: String, name: String): Unit = {
    val r = readRef(dir, name).getOrElse(throw new IllegalArgumentException(
      s"no ref '$name' on $dir"))
    require(r.kind == "branch", s"ref '$name' is a tag")
    val cur = readManifest(dir).getOrElse(throw new IllegalStateException(
      s"warehouse table at $dir vanished"))
    require(cur.version == r.forkedAt,
      s"main advanced (v${cur.version}) past branch '$name' fork point " +
        s"(v${r.forkedAt}) — not a fast-forward")
    if (r.version != cur.version) {
      val tmp = Paths.get(dir, s"_current.tmp-ff-${r.version}")
      Files.write(tmp,
        r.version.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(dir, "_current"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    dropRef(dir, name)
  }

  /** One `maintain` pass: what compaction + vacuum did after the change. */
  case class MaintenanceReport(filesBefore: Int, filesAfter: Int,
                               bytesBefore: Long, bytesAfter: Long,
                               compacted: Boolean, reclaimed: Int)

  /** The table's whole maintenance cycle in one call — the OPTIMIZE +
    * VACUUM pass a continuously-appended warehouse table needs (every
    * streaming epoch and batch append adds a file per task; unmaintained,
    * scan parallelism degrades into per-file scheduling overhead and the
    * manifest grows unbounded).
    *
    *  1. **Compact**: if the live generation holds more files than
    *     `ceil(bytes / targetBytes)`, rewrite it to that many files. The
    *     rewrite goes through the sink's own staged write into a TEMP
    *     table directory, the compacted files are moved (same-volume
    *     atomic renames) into the table dir, and ONE manifest generation
    *     is published referencing only them — with the previous
    *     generation's streaming-epoch cursor carried forward, so an
    *     exactly-once streaming writer resuming from its checkpoint still
    *     sees its replay guard. A crash anywhere before that single
    *     publish leaves the live table untouched (the moved-but-never-
    *     referenced files are exactly what `vacuum` reclaims).
    *  2. **Vacuum**: drop history beyond `keepVersions` (the
    *     pre-compaction generation becomes reclaimable history like any
    *     other).
    *
    * Single-writer like `vacuum`: run from the table's owning job, not
    * concurrently with a commit — an append racing the compaction publish
    * could be rebased out of the live file list.
    *
    * Scale shape: the rewrite is one distributed read of the live files +
    * one round-robin repartition to the target layout; the driver touches
    * only the file-name list. At 100 TB this runs per-table on whatever
    * cadence the small-file rate demands, exactly like Delta OPTIMIZE. */
  /** Morton (Z-order) clustering key over two numeric columns — the
    * multi-dimensional layout rung of the maintenance family. Each
    * column quantizes to its 8-bit QUANTILE rank (boundaries from one
    * approxQuantile pass, broadcast as an array literal, counted with a
    * fold — rank-space, so skew cannot collapse the curve the way
    * equi-width bins would), the two ranks bit-interleave via the
    * classic spread masks, and range-partitioning + sorting by the
    * 16-bit key gives every file a tight RECTANGLE in value space:
    * min/max stats prune on EITHER column, which a single-column
    * clusterBy only gives its lead column. The key never persists —
    * it exists only during the rewrite shuffle.
    *
    * Boundary determinism is NOT part of the contract (approxQuantile
    * may vary with partitioning): the key shapes the LAYOUT only —
    * query results are unaffected, skipping stays conservative via the
    * stats sidecars either way. NULLs rank lowest (bucket 0). */
  private[sources] def zorderKey(df: org.apache.spark.sql.DataFrame,
                                 c1: String, c2: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    def bucketize(c: String): Column = {
      val probes = (1 until 256).map(_ / 256.0).toArray
      val bs = df.stat.approxQuantile(c, probes, 0.001).distinct.sorted
      val arr = array(bs.map(lit): _*)
      val cnt = aggregate(arr, lit(0), (acc, b) =>
        acc + when(col(c).cast("double") >= b, 1).otherwise(0))
      when(col(c).isNull, lit(0)).otherwise(cnt)
    }
    def spread(x: Column): Column = {
      val a = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F))
      val b = a.bitwiseOR(shiftleft(a, 2)).bitwiseAND(lit(0x3333))
      b.bitwiseOR(shiftleft(b, 1)).bitwiseAND(lit(0x5555))
    }
    spread(bucketize(c1)).bitwiseOR(shiftleft(spread(bucketize(c2)), 1))
  }

  def maintain(spark: org.apache.spark.sql.SparkSession, dir: String,
               targetBytes: Long = 128L << 20,
               keepVersions: Int = 1,
               clusterBy: Option[String] = None,
               zorderBy: Option[(String, String)] = None): MaintenanceReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are alternative layouts — pick one")
    // honesty over silence: a value-partitioned table compacts through
    // its OWN layout — a clusterBy there would be ignored, so reject it
    require((clusterBy.isEmpty && zorderBy.isEmpty) ||
      readManifest(dir).forall(_.partitionCol.isEmpty),
      "clusterBy does not apply to a value-partitioned table (its " +
        "compaction preserves the one-file-per-value layout)")
    val fmt = classOf[WarehouseSink].getName
    val cur = readManifest(dir).getOrElse(
      return MaintenanceReport(0, 0, 0L, 0L, compacted = false, 0))
    def liveBytes(m: Manifest): Long =
      m.files.map(f => new File(dir, f).length()).sum
    val bytesBefore = liveBytes(cur)
    val filesBefore = cur.files.size
    // No +targetBytes-1 ceiling trick: it overflows for sentinel-huge targets.
    val nTarget = math.max(1L,
      bytesBefore / targetBytes + (if (bytesBefore % targetBytes == 0) 0 else 1)).toInt
    // Deletion vectors trigger a rewrite even at the target file count:
    // the compaction scan reads THROUGH the vectors and publishes
    // vector-free files (the REORG/PURGE materialization), after which
    // the vacuum leg reclaims the orphaned vector files with the old
    // generation.
    val compacted = nTarget < filesBefore || cur.dvs.nonEmpty
    if (compacted) {
      // Layout-aware rewrite: a VALUE-PARTITIONED table compacts back
      // through the partitioned write (one file per value — the layout
      // SPJ depends on would otherwise be round-robined away); a
      // clusterBy column range-partitions + sorts the rewrite so the
      // new files carry disjoint, tight stats ranges (the skip path's
      // best case); plain tables round-robin to the byte target.
      val scanned = spark.read.format(fmt).option("path", dir).load()
      val rows =
        if (cur.partitionCol.nonEmpty) scanned
        else (clusterBy, zorderBy) match {
          case (Some(c), _) =>
            scanned.repartitionByRange(nTarget,
              org.apache.spark.sql.functions.col(c))
              .sortWithinPartitions(c)
          case (None, Some((z1, z2))) =>
            // Z-ORDER rewrite: range-partition + sort by the Morton
            // key, so every file covers a tight RECTANGLE in (z1, z2)
            // space and the existing min/max skip path prunes on
            // EITHER column — the 2-D layout a single-column clusterBy
            // cannot give (its trailing column's per-file range spans
            // the whole domain).
            scanned
              .withColumn("graft_zk", zorderKey(scanned, z1, z2))
              .repartitionByRange(nTarget,
                org.apache.spark.sql.functions.col("graft_zk"))
              .sortWithinPartitions("graft_zk")
              .drop("graft_zk")
          case _ => scanned.repartition(nTarget)
        }
      val newFiles = stageWrite(dir, rows, options =
        if (cur.partitionCol.isEmpty) Map.empty
        // pin the rewrite's shuffle width: a transform layout would
        // otherwise fan out to (shuffle partitions × values-per-task)
        // files, growing the count compaction meant to shrink
        else Map("partitionBy" -> cur.partitionCol,
          "targetPartitions" -> nTarget.toString)).files
      publish(dir, { prev =>
        val p = prev.getOrElse(cur)
        // Epoch comes from the manifest CURRENT at publish time, not the
        // snapshot read above — a streaming epoch folded in mid-rewrite
        // keeps its cursor (its rows, appended after our scan pinned the
        // file list, are rebased out; hence the single-writer contract).
        // clusterBy leaves every file internally SORTED by the column —
        // recorded so the scan can report per-partition ordering; any
        // later append/DML publish clears the claim (they default "").
        Some(Manifest(0L, p.schemaDdl, newFiles, p.epoch, p.partitionCol,
          op = "maintain",
          sortedBy = if (cur.partitionCol.isEmpty)
            zorderBy.map { case (a, b) => s"zorder($a,$b)" }
              .orElse(clusterBy).getOrElse("")
          else ""))
      })
    }
    val reclaimed = vacuum(dir, keepVersions)
    val after = readManifest(dir).getOrElse(cur)
    MaintenanceReport(filesBefore, after.files.size, bytesBefore,
      liveBytes(after), compacted, reclaimed)
  }

  // ---- write-audit-publish (WAP) ----
  // The Iceberg/Delta staging pattern: land a batch's data files in the
  // table directory WITHOUT referencing them from any generation, audit
  // the staged rows through the normal read path, then promote (one
  // atomic publish) or discard. A crash at any point leaves the live
  // table untouched; readers never see un-audited rows. Staged state
  // lives in `staged-<token>.json` — deliberately NOT a manifest slot,
  // so a concurrent normal commit can neither rebase onto un-audited
  // files nor collide with the stage.

  /** Stage `df` as an un-referenced append; returns the audit token. */
  def stageAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                  df: org.apache.spark.sql.DataFrame): String = {
    val m = stageWrite(dir, df, checked = true)
    val token = java.util.UUID.randomUUID.toString.take(12)
    Files.write(Paths.get(dir, s"staged-$token.json"),
      s"""{"schema": "${escape(m.schemaDdl)}", "files": [${m.files.map(f => "\"" + escape(f) + "\"").mkString(", ")}]}"""
        .getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    token
  }

  private[sources] def readStagedMeta(dir: String,
                                      token: String): Option[(String, Seq[String])] = {
    val f = new File(dir, s"staged-$token.json")
    if (!f.isFile) return None
    val txt = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    def field(k: String): String = {
      val i = txt.indexOf("\"" + k + "\":")
      val rest = txt.substring(i + k.length + 3).trim
      if (rest.startsWith("[")) rest.substring(1, rest.indexOf(']'))
      else unescape(rest.substring(1, rest.indexOf("\"", 1)))
    }
    Some((field("schema"), field("files").split(",").map(_.trim)
      .filter(_.nonEmpty).map(s => unescape(s.stripPrefix("\"").stripSuffix("\""))).toSeq))
  }

  /** The staged rows, through the normal reader — what the audit
    * (expectation suite, dup screen, eval gate) runs against. */
  def readStaged(spark: org.apache.spark.sql.SparkSession, dir: String,
                 token: String): org.apache.spark.sql.DataFrame = {
    val (ddl, files) = readStagedMeta(dir, token).getOrElse(
      throw new IllegalArgumentException(s"no staged batch $token at $dir"))
    spark.read.format(classOf[WarehouseSink].getName)
      .option("path", dir).option("schema", ddl)
      .option("files", files.mkString(",")).load()
  }

  /** Promote an audited stage: ONE atomic publish referencing the staged
    * files (schema must match the live table's (name, type) set; a stage
    * onto an empty table creates it). The staged marker is consumed. */
  def promoteStaged(dir: String, token: String): Unit = {
    val (ddl, files) = readStagedMeta(dir, token).getOrElse(
      throw new IllegalArgumentException(s"no staged batch $token at $dir"))
    publish(dir, { prev =>
      val outDdl = prev match {
        case None => ddl
        case Some(p) =>
          val ps = StructType.fromDDL(p.schemaDdl)
          val ns = StructType.fromDDL(ddl)
          require(ps.fields.map(f => (f.name, f.dataType)).toSet ==
            ns.fields.map(f => (f.name, f.dataType)).toSet,
            s"staged schema [$ddl] does not match table [${p.schemaDdl}]")
          p.schemaDdl
      }
      Some(Manifest(0L, outDdl, prev.map(_.files).getOrElse(Nil) ++ files,
        prev.map(_.epoch).getOrElse(-1L),
        prev.map(_.partitionCol).getOrElse(""), op = "wap",
        dvs = prev.map(_.dvs).getOrElse(Nil)))
    })
    new File(dir, s"staged-$token.json").delete()
  }

  /** Drop a failed-audit stage: its files, sidecars, and marker. */
  def discardStaged(dir: String, token: String): Int = {
    val (_, files) = readStagedMeta(dir, token).getOrElse(return 0)
    var n = 0
    files.foreach { f =>
      if (new File(dir, f).delete()) n += 1
      new File(dir, statsFile(f)).delete()
    }
    new File(dir, s"staged-$token.json").delete()
    n
  }

  /** PARTITION EVOLUTION (Iceberg §partition-evolution): change the
    * table's partition spec WITHOUT rewriting a byte. The new manifest
    * generation carries the same files under the new `partitionCol`;
    * existing transform files keep pruning under the spec each RECORDS
    * in its `#tpartspec` sidecar line (a bucket(4,·) tuple read as
    * bucket(8,·) could wrongly skip a match — per-file spec resolution
    * is the whole safety argument), new appends cluster and record under
    * the new spec, and SPJ/key-grouped planning degrades (never lies)
    * while the two key spaces coexist — a `maintain()` rewrite unifies
    * the layout and restores it. Metadata-only ⇒ O(1) at any table size,
    * time-travel to pre-evolution versions sees the old spec.
    *
    * Refuses loudly when any live transform file predates spec
    * recording: its tuple would be uninterpretable after the change
    * (rewrite via maintain() first). Single-writer like the other
    * maintenance verbs. */
  def evolvePartitioning(dir: String, newSpec: String): Unit = {
    val cur = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"cannot evolve nonexistent warehouse table at $dir"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val specs = parsePartSpecs(newSpec)
    specs.foreach(t => require(schema.fieldNames.contains(t.col),
      s"partition column ${t.col} not in the table schema"))
    cur.files.foreach { f =>
      require(readTpart(dir, f).isEmpty || readTpartSpec(dir, f).nonEmpty,
        s"file $f records a transform tuple without its spec — " +
          "compact via maintain() before evolving the partitioning")
    }
    publish(dir, { prev =>
      val p = prev.getOrElse(cur)
      Some(Manifest(0L, p.schemaDdl, p.files, p.epoch, newSpec,
        sortedBy = "", op = "evolve", cdf = p.cdf, dvs = p.dvs))
    })
  }

  /** Give a pre-field-id table its name↔id binding (ids 0..n−1 for the
    * current schema) — a metadata-only publish. Files written AFTER this
    * carry `#ids` sidecars; legacy files don't until maintain() rewrites
    * them, which is why [[renameColumn]]/[[dropColumn]] gate on both. */
  def assignColumnIds(dir: String): Unit = {
    publish(dir, { prev =>
      val p = prev.getOrElse(throw new IllegalArgumentException(
        s"no warehouse table at $dir"))
      if (p.colIds.nonEmpty) None // already bound: nothing to publish
      else {
        val n = StructType.fromDDL(p.schemaDdl).fields.length
        Some(p.copy(colIds = (0L until n.toLong), nextColId = n.toLong,
          op = "assign_column_ids", changeFiles = Nil))
      }
    })
  }

  private def requireFileIds(dir: String, m: Manifest, op: String): Unit =
    m.files.foreach { f =>
      require(readFileIds(dir, f).isDefined,
        s"$op: data file $f predates field-id sidecars — run maintain() " +
          "to rewrite files (after assignColumnIds on a legacy table), " +
          "then retry")
    }

  private def renameInSpec(spec: String, from: String, to: String): String =
    if (spec.isEmpty) spec
    else parsePartSpecs(spec).map {
      case IdPart(c) => IdPart(if (c == from) to else c)
      case BucketPart(n, c) => BucketPart(n, if (c == from) to else c)
      case DaysPart(c) => DaysPart(if (c == from) to else c)
    }.map(_.spec).mkString(",")

  /** Metadata-only column RENAME — the Iceberg column-mapping move: the
    * manifest's DDL changes, the stable field id does NOT, and every
    * data file (whose `#ids` sidecar binds its local column order to
    * those ids) keeps resolving under the new name with zero bytes
    * rewritten — data files, stats sidecars and recorded partition
    * specs all surface through the per-file id translation
    * ([[renameMap]]). Time travel to a pre-rename version reads the old
    * name: each version resolves the SAME id through its own DDL.
    * Requires every live file to carry `#ids` (maintain() rewrites
    * legacy files) — refusing is what keeps the by-name fallback from
    * silently nulling renamed columns on old files. */
  def renameColumn(dir: String, from: String, to: String): Unit = {
    publish(dir, { prev =>
      val p = prev.getOrElse(throw new IllegalArgumentException(
        s"no warehouse table at $dir"))
      val schema = StructType.fromDDL(p.schemaDdl)
      require(schema.fieldNames.contains(from),
        s"renameColumn: no column $from in [${p.schemaDdl}]")
      require(!schema.fieldNames.contains(to),
        s"renameColumn: column $to already exists")
      require(p.colIds.nonEmpty,
        "renameColumn: table has no field ids — call assignColumnIds " +
          "and maintain() first")
      requireFileIds(dir, p, "renameColumn")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      Some(p.copy(schemaDdl = newSchema.toDDL,
        partitionCol = renameInSpec(p.partitionCol, from, to),
        sortedBy = if (p.sortedBy == from) to else p.sortedBy,
        // a default follows its column through the rename (name-keyed)
        defaults = defaultsOf(p).toSeq.map { case (n, v) =>
          defaultEntry(if (n == from) to else n, v) },
        op = "rename_column", changeFiles = Nil))
    })
  }

  /** Metadata-only column TYPE WIDENING (int→long, int→double,
    * long→double, float→double) — the third schema-evolution leg next
    * to mergeSchema-append and rename/drop. The row codec stores tokens
    * as text and decodes by the TABLE schema's type, so widening is a
    * pure DDL publish: old files' int tokens parse as longs verbatim
    * and integral tokens parse as doubles exactly (every int64 these
    * files can hold round-trips the text form). Narrowing and any other
    * conversion are refused — they could truncate stored values.
    * Field id and stats sidecars are untouched: range/null/sum lines
    * compare under the widened type through the same exactCmp/decode
    * machinery the reader uses. */
  def widenColumnType(dir: String, name: String, newTypeDdl: String): Unit = {
    val allowed = Map(
      "int" -> Set("bigint", "double"),
      "bigint" -> Set("double"),
      "float" -> Set("double"))
    publish(dir, { prev =>
      val p = prev.getOrElse(throw new IllegalArgumentException(
        s"no warehouse table at $dir"))
      val schema = StructType.fromDDL(p.schemaDdl)
      val i = schema.fieldNames.indexOf(name)
      require(i >= 0, s"widenColumnType: no column $name in [${p.schemaDdl}]")
      val from = schema(i).dataType.simpleString
      val toType = StructType.fromDDL(s"x $newTypeDdl").head.dataType
      val to = toType.simpleString
      require(allowed.get(from).exists(_.contains(to)),
        s"widenColumnType: $from -> $to is not a lossless widening " +
          s"(allowed: ${allowed.map { case (k, v) => s"$k->${v.mkString("/")}" }.mkString(", ")})")
      val newSchema = StructType(schema.fields.updated(i,
        schema.fields(i).copy(dataType = toType)))
      Some(p.copy(schemaDdl = newSchema.toDDL, colIds = p.colIds,
        op = "widen_column", changeFiles = Nil))
    })
  }

  /** Metadata-only column DROP: the field leaves the manifest DDL and
    * its id leaves the binding — data files are untouched (their bytes
    * become unreferenced, reclaimed only by a rewrite). Because
    * `nextColId` is monotone and never recycles, a LATER column added
    * under the same name gets a FRESH id, so old files' stored values
    * can never resurrect through it — the guarantee pure by-name
    * resolution cannot give, and why this too gates on `#ids`. */
  def dropColumn(dir: String, name: String): Unit = {
    publish(dir, { prev =>
      val p = prev.getOrElse(throw new IllegalArgumentException(
        s"no warehouse table at $dir"))
      val schema = StructType.fromDDL(p.schemaDdl)
      val i = schema.fieldNames.indexOf(name)
      require(i >= 0, s"dropColumn: no column $name in [${p.schemaDdl}]")
      require(schema.fields.length > 1,
        "dropColumn: cannot drop the last column")
      require(p.colIds.nonEmpty,
        "dropColumn: table has no field ids — call assignColumnIds " +
          "and maintain() first")
      require(!parsePartSpecs(p.partitionCol).exists(_.col == name),
        s"dropColumn: $name is a partition column — evolvePartitioning " +
          "off it first")
      requireFileIds(dir, p, "dropColumn")
      val newSchema = StructType(schema.fields.patch(i, Nil, 1))
      Some(p.copy(schemaDdl = newSchema.toDDL,
        colIds = p.colIds.patch(i, Nil, 1),
        sortedBy = if (p.sortedBy == name) "" else p.sortedBy,
        defaults = defaultsOf(p).toSeq.collect {
          case (n, v) if n != name => defaultEntry(n, v) },
        op = "drop_column", changeFiles = Nil))
    })
  }

  /** Add a column with an INITIAL DEFAULT (Iceberg-v3 default-value
    * semantics), metadata-only: the schema and binding extend with a
    * fresh field id, no data file is touched, and every file written
    * BEFORE the add (it lacks the column) reads `default` instead of
    * null; files written after store real values (including explicit
    * nulls). Refused while any live file lacks the `#cols` sidecar, for
    * the same position-mapping reason mergeSchema evolution refuses.
    * `default` is any value the row codec stores (null allowed — that
    * degenerates to plain nullable add). */
  def addColumnWithDefault(dir: String, name: String, typeDdl: String,
                           default: Any): Unit = {
    publish(dir, { prev =>
      val p = prev.getOrElse(throw new IllegalArgumentException(
        s"no warehouse table at $dir"))
      val schema = StructType.fromDDL(p.schemaDdl)
      require(!schema.fieldNames.contains(name),
        s"addColumnWithDefault: column $name already exists")
      require(p.colIds.nonEmpty,
        "addColumnWithDefault: table has no field ids — call " +
          "assignColumnIds and maintain() first")
      val legacy = p.files.filterNot(f => readFileCols(dir, f).isDefined)
      require(legacy.isEmpty,
        s"addColumnWithDefault: ${legacy.size} file(s) lack the #cols " +
          "sidecar line (rewrite them via maintain() first)")
      val dt = StructType.fromDDL(s"`$name` $typeDdl").fields(0).dataType
      val newSchema = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(name, dt, nullable = true))
      Some(p.copy(schemaDdl = newSchema.toDDL,
        colIds = p.colIds :+ p.nextColId,
        nextColId = p.nextColId + 1,
        defaults = defaultsOf(p).toSeq.map { case (n, v) =>
          defaultEntry(n, v) } :+ defaultEntry(name, encode(default match {
            case s: String => UTF8String.fromString(s)
            case x => x
          })),
        op = "add_column", changeFiles = Nil))
    })
  }

  // ---- DML: one skeleton under the eight verbs ----
  // Every verb is a prologue that picks the candidate files (stats-pruned
  // by a filter, or by a key bounding box), data legs staged through
  // [[stageWrite]], and ONE publish of its manifest shape — copy-on-write
  // (carried + rewritten files) or merge-on-read (every file + appended,
  // the touched files' deletion vectors replaced) — with the change
  // feed's images staged first so the same generation references them.
  // Single-writer, like vacuum/maintain.

  /** Scan `files` of the table at `dir` through the deletion vectors
    * `dvs` (the reader's internal options); `readDdl` overrides the
    * relation schema — the change files' CDF columns, or a candidate
    * scan's (`__graft_file`, `__graft_pos`) row positions. */
  private def scanFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                        files: Seq[String], dvs: Seq[String],
                        readDdl: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val r = spark.read.format(classOf[WarehouseSink].getName).option("path", dir)
    readDdl.fold(r)(r.option("readSchemaDdl", _))
      .option("files", files.mkString(","))
      .option("dvs", dvs.mkString(",")).load()
  }

  /** Σ sidecar `#rows` over `files`, less each file's `dead` count; -1
    * when any sidecar lacks the count. */
  private def sidecarRows(dir: String, files: Seq[String],
                          dead: Map[String, Long] = Map.empty): Long = {
    val n = files.map(f => readRowCount(dir, f).map(_ - dead.getOrElse(f, 0L)))
    if (n.exists(_.isEmpty)) -1L else n.flatten.sum
  }

  /** One DML verb's working set: the live generation `cur`, the
    * `candidates` it may change and the `carried` rest, which every
    * publish references by name, untouched. */
  private final class DmlTarget(spark: org.apache.spark.sql.SparkSession,
                                dir: String, val cur: Manifest,
                                val schema: StructType,
                                val candidates: Seq[String]) {
    import org.apache.spark.sql.functions.{col, lit}
    val carried: Seq[String] = cur.files.filterNot(candidates.toSet)
    // the candidates' vectors: a rewrite reads through them, so rows an
    // earlier MoR delete killed never resurrect
    private val candDvs = dvEntriesFor(cur, candidates)
    private val oldRefs = dvRefs(candDvs).map(r => r.dataFile -> r).toMap

    /** The candidates' live rows; `rowPos` adds the reader's
      * (`__graft_file`, `__graft_pos`) columns the MoR verbs kill by. */
    def scan(rowPos: Boolean = false): org.apache.spark.sql.DataFrame =
      scanFiles(spark, dir, candidates, candDvs,
        if (!rowPos) None
        else Some(schema.add("__graft_file", StringType)
          .add("__graft_pos", LongType).toDDL))

    /** [[scan]], or no rows when nothing is a candidate — an empty
      * relation built from `like` (any frame holding the table columns),
      * which the optimizer folds away, where a scan of no files would
      * still plan its joins. */
    def scanOr(like: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (candidates.nonEmpty) scan()
      else like.filter(lit(false)).select(schema.fieldNames.toIndexedSeq.map(col): _*)

    /** Live candidate rows a rewrite into `kept` dropped, from sidecars
      * alone (-1 when one lacks `#rows`): live = physical minus each
      * vector's count, and the rewrite reads through the vectors, so the
      * kept files hold only previously-live rows. */
    def dropped(kept: Seq[String]): Long = {
      val live = sidecarRows(dir, candidates,
        oldRefs.map { case (f, r) => f -> r.count })
      val left = sidecarRows(dir, kept)
      if (live < 0 || left < 0) -1L else live - left
    }

    /** Mark the `matched` (`__graft_file`, `__graft_pos`) rows dead:
      * merged per-file vectors write EXECUTOR-SIDE
      * ([[writeDvsDistributed]]), so only (file, vector, count) refs
      * are collected — a broad-predicate kill never gathers its
      * positions in one JVM. */
    def kill(matched: org.apache.spark.sql.DataFrame): Seq[DvRef] =
      writeDvsDistributed(dir,
        matched.select(col("__graft_file"), col("__graft_pos")), oldRefs)

    /** Rows `newRefs` kill beyond the candidates' old vectors. */
    def killed(newRefs: Seq[DvRef]): Long = newlyKilled(newRefs, oldRefs)

    /** Copy-on-write publish: carried + `rewritten` files, with the
      * carried files' vectors (the candidates' die with them). */
    def publishCow(op: String, rewritten: Seq[String],
                   images: => org.apache.spark.sql.DataFrame): Unit =
      publishDml(op, images)(p => (carried ++ rewritten, dvEntriesFor(p, carried)))

    /** Merge-on-read publish: every file + `appended`, the touched
      * files' vectors replaced by `newRefs`. */
    def publishMor(op: String, appended: Seq[String], newRefs: Seq[DvRef],
                   images: => org.apache.spark.sql.DataFrame): Unit = {
      val touched = newRefs.map(_.dataFile).toSet
      publishDml(op, images)(p => (p.files ++ appended,
        p.dvs.filterNot(e => touched.contains(e.takeWhile(_ != '|'))) ++
          newRefs.map(_.encoded)))
    }

    // CDF capture (opt-in): the verb's change `images` (table columns +
    // _change_type) stage before the publish that references them, so a
    // crash leaves only unreferenced files, never a dangling feed entry.
    private def publishDml(op: String, images: => org.apache.spark.sql.DataFrame)(
        shape: Manifest => (Seq[String], Seq[String])): Unit = {
      val cdfOn = cdfEnabled(dir)
      val changes = if (cdfOn) stageWrite(dir, images).files else Nil
      publish(dir, { prev =>
        val p = prev.getOrElse(cur)
        val (files, dvs) = shape(p)
        Some(Manifest(0L, p.schemaDdl, files, p.epoch, p.partitionCol,
          op = op, cdf = cdfOn, changeFiles = changes, dvs = dvs))
      })
    }
  }

  /** The filter verbs' prologue: the live generation's candidates are
    * the files whose stats ranges might hold a matching row — the filters
    * are the same algebra the skip path tests, so a refuted file provably
    * holds none and carries by name. The predicate comes back as a
    * Column that reads NULL as not-true (SQL DML: a NULL-valued
    * predicate neither deletes nor updates the row). None when the table
    * does not exist. */
  private def filterTarget(spark: org.apache.spark.sql.SparkSession, dir: String,
                           filters: Seq[org.apache.spark.sql.sources.Filter],
                           setCols: Iterable[String] = Nil):
      Option[(DmlTarget, org.apache.spark.sql.Column)] =
    readManifest(dir).map { cur =>
      import org.apache.spark.sql.functions.{coalesce, lit}
      val schema = StructType.fromDDL(cur.schemaDdl)
      setCols.foreach(k => require(schema.fieldNames.contains(k),
        s"assigned column $k not in table schema"))
      val pred = coalesce(
        filters.map(filterToColumn(_, schema)).reduce(_ && _), lit(false))
      (new DmlTarget(spark, dir, cur, schema,
        cur.files.filter(dmlCandidate(dir, _, schema, cur.colIds, filters))), pred)
    }

  /** The key-matched verbs' prologue ([[merge]], [[mergeMoR]],
    * [[applyChangesMoR]]): checks `batch` against the live schema (plus
    * the optional boolean tombstone column), pins it, and returns it
    * aligned to the table's column order.
    *
    * Pinned ONCE: the batch feeds the bounding-box aggregate, the match
    * join, the staged append and the CDF legs — a nondeterministic plan
    * (sample, rand, unordered limit) re-evaluated per action could kill
    * or drop rows it never re-inserts.
    *
    * Candidate selection is PLANNING-SHAPED: one small aggregate takes
    * the batch's [min, max] per key column (2·|keys| collected values,
    * never the key set), and only files whose stats overlap EVERY key range are
    * candidates. A key column whose batch values are all NULL (or an
    * empty batch) matches nothing — SQL join semantics — so then no file
    * is a candidate. */
  private def keyedTarget(spark: org.apache.spark.sql.SparkSession, dir: String,
                          batch: org.apache.spark.sql.DataFrame,
                          keyCols: Seq[String], deleteCol: Option[String],
                          verb: String): (DmlTarget, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    require(keyCols.nonEmpty, s"$verb requires at least one key column")
    val cur = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"cannot merge into nonexistent warehouse table at $dir"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"key column $k not in table schema"))
    val cols = schema.fieldNames.toIndexedSeq.map(col)
    val aligned = graft.operators.Materialize.transient(deleteCol match {
      case None =>
        require(batch.columns.toSet == schema.fieldNames.toSet,
          s"updates schema ${batch.columns.mkString(",")} must match table " +
            s"schema ${schema.fieldNames.mkString(",")}")
        batch.select(cols: _*)
      case Some(d) =>
        require(batch.columns.toSet == schema.fieldNames.toSet + d,
          s"changes schema ${batch.columns.mkString(",")} must be the table " +
            s"schema plus the $d flag")
        batch.select(cols :+ col(d): _*).withColumn(d, col(d).cast("boolean"))
    })
    val bounds = keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))
    val box = aligned.agg(bounds.head, bounds.tail: _*).collect()(0)
    val ranges = keyCols.zipWithIndex.collect {
      case (k, i) if !box.isNullAt(2 * i) && !box.isNullAt(2 * i + 1) =>
        Seq(GreaterThanOrEqual(k, box.get(2 * i)),
          LessThanOrEqual(k, box.get(2 * i + 1)))
    }
    val candidates =
      if (ranges.size < keyCols.size) Nil
      else cur.files.filter(
        dmlCandidate(dir, _, schema, cur.colIds, ranges.flatten))
    (new DmlTarget(spark, dir, cur, schema, candidates), aligned)
  }

  private def imaged(rows: org.apache.spark.sql.DataFrame,
                     changeType: String): org.apache.spark.sql.DataFrame =
    rows.withColumn("_change_type", org.apache.spark.sql.functions.lit(changeType))

  /** A merge's change images, shared by [[merge]] and the MoR upsert.
    * `cand` holds the candidate rows — a SUPERSET of the possible
    * matches (stats pruning is conservative), so keying against it is
    * exact: its rows whose key `ups` carries are `update_preimage`s,
    * `ups` rows whose key it holds are `update_postimage`s, the other
    * `ups` rows `insert`s, and its rows whose key is in `tombstoned`
    * are `delete`s. */
  private def mergeImages(cand: org.apache.spark.sql.DataFrame,
                          ups: org.apache.spark.sql.DataFrame,
                          keyCols: Seq[String],
                          tombstoned: Option[org.apache.spark.sql.DataFrame]):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val upKeys = ups.select(keyCols.map(col): _*).distinct()
    val oldKeys = cand.select(keyCols.map(col): _*).distinct()
    (tombstoned.map(k => imaged(cand.join(k, keyCols, "left_semi"), "delete")) ++
      Seq(imaged(cand.join(upKeys, keyCols, "left_semi"), "update_preimage"),
        imaged(ups.join(oldKeys, keyCols, "left_semi"), "update_postimage"),
        imaged(ups.join(oldKeys, keyCols, "left_anti"), "insert")))
      .reduce(_ unionByName _)
  }

  /** `schema`'s columns with `set`'s assignments applied: expressions
    * over the row's OLD values (`SET price = price * 2` sees the
    * pre-update price), cast to the declared type; with a `gate`, a row
    * it does not hold for keeps its old values. */
  private def assigned(schema: StructType,
                       set: Map[String, org.apache.spark.sql.Column],
                       gate: Option[org.apache.spark.sql.Column] = None):
      Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, when}
    schema.fields.toIndexedSeq.map { f =>
      set.get(f.name) match {
        case Some(e) => gate.fold(e.cast(f.dataType))(p =>
          when(p, e.cast(f.dataType)).otherwise(col(f.name))).as(f.name)
        case None => col(f.name)
      }
    }
  }

  case class DeleteReport(filesRewritten: Int, filesCarried: Int,
                          rowsDeleted: Long)

  /** Copy-on-write DELETE WHERE — the Delta/Iceberg row-delete core over
    * this sink's manifest protocol. The predicate arrives as V1 filters
    * (the same algebra the skip path tests), so candidate selection is
    * PLANNING-SHAPED: only files whose stats ranges might hold a matching
    * row are rewritten; every other file is carried into the new
    * generation BY NAME, untouched — on a 100 TB table a narrow delete
    * rewrites a handful of files, not the corpus. The rewrite reads
    * exactly the candidate files (internal `files` reader option), keeps
    * rows where the predicate is NOT TRUE (SQL DELETE semantics: a
    * null-valued predicate keeps the row), stages through a sibling temp
    * table like OPTIMIZE, and publishes ONE generation with the epoch
    * cursor carried forward. Crash before publish leaves the live table
    * untouched; the pre-delete generation remains time-travelable until
    * vacuumed. Single-writer like vacuum/maintain. Deleted-row count is
    * metadata-derived: candidate `#rows` minus rewritten `#rows`. */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                  filters: Seq[org.apache.spark.sql.sources.Filter]): DeleteReport = {
    require(filters.nonEmpty, "deleteWhere requires at least one filter")
    val (t, pred) = filterTarget(spark, dir, filters)
      .getOrElse(return DeleteReport(0, 0, 0L))
    if (t.candidates.isEmpty) return DeleteReport(0, t.cur.files.size, 0L)
    val kept = stageWrite(dir, t.scan().filter(!pred)).files
    // the deleted rows' before-images
    t.publishCow("delete", kept, imaged(t.scan().filter(pred), "delete"))
    DeleteReport(t.candidates.size, t.carried.size, t.dropped(kept))
  }

  case class UpdateReport(filesRewritten: Int, filesCarried: Int,
                          rowsUpdated: Long)

  /** Copy-on-write UPDATE WHERE SET — in-place column rewrites for rows
    * matching a predicate, the third leg of the DML triad. Candidate
    * files are stats-pruned by the SAME filter algebra as [[deleteWhere]]
    * (a file refuted by its ranges provably holds no matching row and
    * carries by name); candidate rows evaluate
    * `WHEN predicate THEN assignment ELSE old` per assigned column — SQL
    * UPDATE semantics: a NULL-valued predicate leaves the row unchanged.
    * Assignments are Column expressions over the row's OLD values
    * (`SET price = price * 2` sees the pre-update price), cast to the
    * column's declared type. ONE generation publishes carried + rewritten
    * with the epoch cursor carried forward. Single-writer. `rowsUpdated`
    * counts predicate-matching rows via one extra bounded scan of the
    * candidate files (row counts don't change, so sidecar arithmetic
    * can't derive it the way DELETE's does). */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                  filters: Seq[org.apache.spark.sql.sources.Filter],
                  set: Map[String, org.apache.spark.sql.Column]): UpdateReport = {
    require(filters.nonEmpty, "updateWhere requires at least one filter")
    require(set.nonEmpty, "updateWhere requires at least one assignment")
    val (t, pred) = filterTarget(spark, dir, filters, set.keys)
      .getOrElse(return UpdateReport(0, 0, 0L))
    if (t.candidates.isEmpty) return UpdateReport(0, t.cur.files.size, 0L)
    // UPDATE must not write violating rows: the rewrite obeys the CHECKs
    val rewritten = stageWrite(dir,
      t.scan().select(assigned(t.schema, set, Some(pred)): _*), checked = true).files
    // matched rows' before-images plus their post-assignment after-images
    def matched = t.scan().filter(pred)
    t.publishCow("update", rewritten,
      imaged(matched, "update_preimage").unionByName(
        imaged(matched.select(assigned(t.schema, set): _*), "update_postimage")))
    UpdateReport(t.candidates.size, t.carried.size, matched.count())
  }

  case class MergeReport(filesRewritten: Int, filesCarried: Int,
                         rowsMatched: Long, rowsUpserted: Long)

  /** Copy-on-write MERGE (upsert) — `WHEN MATCHED UPDATE SET * WHEN NOT
    * MATCHED INSERT *` over this sink's manifest protocol, completing the
    * DML triad next to [[deleteWhere]] and [[updateWhere]]. Table rows
    * whose key appears in `updates` are replaced by the update row; keys
    * absent from the table insert.
    *
    * Candidate selection is PLANNING-SHAPED like deleteWhere's: one
    * distributed aggregate computes the updates' per-key-column [min,max]
    * (2·|keys| collected values — never the key set itself, which can be
    * arbitrarily large), and only files whose stats ranges overlap EVERY
    * key range are rewritten; all others carry by name. On a 100 TB table
    * a key-local update batch rewrites the overlapping files, not the
    * corpus — and because the writer range-clusters nothing by itself,
    * callers who pre-partition by key (repartitionByRange on write) get
    * the tight file ranges that make this pruning sharp.
    *
    * The rewrite reads exactly the candidate files and anti-joins the
    * (distinct) update keys — matched old versions drop; `updates` itself
    * appends through a second staged write. ONE generation publishes
    * carried + rewritten + inserted with the epoch cursor carried
    * forward; crash before publish leaves the live table untouched.
    *
    * Contract: `updates` must be key-unique (two update rows with the
    * same key both land — MERGE's cardinality rule is the caller's to
    * enforce); update rows with a NULL key never match (SQL join
    * semantics) and therefore insert. Single-writer like vacuum/maintain.
    * `rowsMatched` (old versions replaced) is metadata-derived:
    * candidate `#rows` minus kept `#rows`. */
  def merge(spark: org.apache.spark.sql.SparkSession, dir: String,
            updates: org.apache.spark.sql.DataFrame,
            keyCols: Seq[String]): MergeReport = {
    import org.apache.spark.sql.functions.col
    val (t, aligned) = keyedTarget(spark, dir, updates, keyCols, None, "merge")
    // both legs carry the CHECK policy: a merge cannot smuggle in
    // violating rows
    val kept =
      if (t.candidates.isEmpty) Nil
      else stageWrite(dir, t.scan().join(
        aligned.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti"),
        checked = true).files
    val inserted = stageWrite(dir, aligned, checked = true).files
    t.publishCow("merge", kept ++ inserted,
      mergeImages(t.scanOr(aligned), aligned, keyCols, None))
    MergeReport(t.candidates.size, t.carried.size, t.dropped(kept),
      sidecarRows(dir, inserted))
  }

  case class MorDeleteReport(filesWithVectors: Int, filesCarried: Int,
                             rowsDeleted: Long)

  /** Merge-on-read DELETE WHERE — the deletion-vector twin of
    * [[deleteWhere]]: instead of REWRITING every candidate file (copy-on
    * -write pays O(candidate bytes) even when three rows die in a 1 GB
    * file), this writes per-file DELETION VECTORS — sorted lists of the
    * dying rows' line positions — and publishes ONE generation whose
    * manifest maps each touched data file to its vector. Data files are
    * never touched; the scan applies vectors with a pointer walk per
    * row; time travel to the pre-delete generation sees no vector;
    * `maintain()`'s compaction naturally MATERIALIZES vectors away (its
    * rewrite reads through them and publishes vector-free files), after
    * which vacuum reclaims the orphaned vector files — the Delta/Iceberg
    * merge-on-read lifecycle end to end.
    *
    * Mechanics: candidate files stats-prune exactly like [[deleteWhere]];
    * one distributed scan of the candidates (through any EXISTING vectors,
    * so re-deleting is idempotent and positions never double-count) emits
    * each matching row's (file, physical position) via the reader's
    * internal rowPos pseudo-columns; positions group per file and the
    * merged vectors write EXECUTOR-SIDE ([[writeDvsDistributed]]) — the
    * driver receives only (file, vector, count) refs, so even a
    * broad-predicate delete never streams positions through driver
    * memory. An existing vector merges by sorted-union under a
    * fresh file name (generations stay immutable). With the change feed
    * enabled the deleted rows' before-images capture exactly like the
    * copy-on-write path (op `delete_mor`).
    *
    * Trade-off contract (why both verbs exist): MoR makes deletes
    * O(matched rows) and leaves reads paying a per-file vector lookup;
    * CoW makes deletes O(candidate bytes) and leaves reads untaxed. The
    * metadata-aggregate path keeps COUNT(*) exact under vectors (counts
    * ride in the manifest) and refuses MIN/MAX/SUM until maintenance
    * materializes. Single-writer like all DML here. */
  def deleteWhereMoR(spark: org.apache.spark.sql.SparkSession, dir: String,
                     filters: Seq[org.apache.spark.sql.sources.Filter]): MorDeleteReport = {
    require(filters.nonEmpty, "deleteWhereMoR requires at least one filter")
    val (t, pred) = filterTarget(spark, dir, filters)
      .getOrElse(return MorDeleteReport(0, 0, 0L))
    if (t.candidates.isEmpty) return MorDeleteReport(0, t.cur.files.size, 0L)
    val newRefs = t.kill(t.scan(rowPos = true).filter(pred))
    if (newRefs.isEmpty) return MorDeleteReport(0, t.cur.files.size, 0L)
    t.publishMor("delete_mor", Nil, newRefs,
      imaged(t.scan().filter(pred), "delete"))
    MorDeleteReport(newRefs.size, t.cur.files.size - newRefs.size,
      t.killed(newRefs))
  }

  case class MorUpdateReport(filesWithVectors: Int, filesCarried: Int,
                             rowsUpdated: Long, filesAppended: Int)

  /** Merge-on-read UPDATE WHERE SET — the deletion-vector twin of
    * [[updateWhere]], completing the MoR DML family next to
    * [[deleteWhereMoR]]: instead of REWRITING every stats-overlapping
    * candidate file (copy-on-write pays O(candidate bytes) when three
    * rows change in a 1 GB file), the matched rows' OLD versions are
    * marked dead in per-file deletion vectors and their POST-assignment
    * images append as new files — one generation, data files untouched,
    * O(matched rows) total write. `maintain()` materializes the vectors
    * away exactly as it does for MoR deletes (its rewrite reads through
    * them), and time travel to the pre-update generation sees the old
    * values.
    *
    * Mechanics: candidates stats-prune by the same filter algebra as
    * [[deleteWhere]]; one distributed scan (THROUGH existing vectors, so
    * a re-update never double-marks) emits matched rows' (file, position)
    * for the vectors, which merge and write EXECUTOR-SIDE
    * ([[writeDvsDistributed]] — refs only on the driver) — while the
    * post-images (assignments
    * evaluated over the row's OLD values, cast to declared types, SQL
    * NULL-predicate semantics) stage through a temp table carrying the
    * parent's CHECK policy. Existing vectors merge by sorted union under
    * fresh names. Metadata COUNT stays exact with zero vector reads:
    * each update kills and appends the same row count. With the change
    * feed on, before/after images capture like the copy-on-write path
    * (op `update_mor`). Single-writer like all DML here. */
  def updateWhereMoR(spark: org.apache.spark.sql.SparkSession, dir: String,
                     filters: Seq[org.apache.spark.sql.sources.Filter],
                     set: Map[String, org.apache.spark.sql.Column]): MorUpdateReport = {
    require(filters.nonEmpty, "updateWhereMoR requires at least one filter")
    require(set.nonEmpty, "updateWhereMoR requires at least one assignment")
    val (t, pred) = filterTarget(spark, dir, filters, set.keys)
      .getOrElse(return MorUpdateReport(0, 0, 0L, 0))
    if (t.candidates.isEmpty) return MorUpdateReport(0, t.cur.files.size, 0L, 0)
    val newRefs = t.kill(t.scan(rowPos = true).filter(pred))
    if (newRefs.isEmpty) return MorUpdateReport(0, t.cur.files.size, 0L, 0)
    def matched = t.scan().filter(pred)
    def postImages = matched.select(assigned(t.schema, set): _*)
    val appended = stageWrite(dir, postImages, checked = true).files
    t.publishMor("update_mor", appended, newRefs,
      imaged(matched, "update_preimage").unionByName(
        imaged(postImages, "update_postimage")))
    MorUpdateReport(newRefs.size, t.cur.files.size - newRefs.size,
      t.killed(newRefs), appended.size)
  }

  /** The merge-on-read upsert under [[mergeMoR]] and [[applyChangesMoR]]
    * (and, through the latter, [[syncMoR]]): every matched table row —
    * found by ONE distributed semi-join of the candidates' row positions
    * (through existing vectors) against the batch's distinct keys — dies
    * behind a deletion vector written executor-side; the batch's
    * non-tombstone rows append once through a CHECK-carrying staged
    * write; one generation publishes. Only with a `deleteCol` does the
    * tombstone leg run: its matches are counted by a bounded second look
    * at the candidates and capture as `delete` images. */
  private def upsertMoR(spark: org.apache.spark.sql.SparkSession, dir: String,
                        batch: org.apache.spark.sql.DataFrame,
                        keyCols: Seq[String], deleteCol: Option[String],
                        verb: String, op: String): MorApplyReport = {
    import org.apache.spark.sql.functions.col
    val (t, aligned) = keyedTarget(spark, dir, batch, keyCols, deleteCol, verb)
    val keys = keyCols.map(col)
    val tombKeys = deleteCol.map(d =>
      aligned.filter(col(d)).select(keys: _*).distinct())
    val ups = deleteCol.fold(aligned)(d => aligned.filter(!col(d))
      .select(t.schema.fieldNames.toIndexedSeq.map(col): _*))
    val newRefs =
      if (t.candidates.isEmpty) Nil
      else t.kill(t.scan(rowPos = true)
        .join(aligned.select(keys: _*).distinct(), keyCols, "left_semi"))
    val rowsDeleted =
      if (t.candidates.isEmpty) 0L
      else tombKeys.fold(0L)(k => t.scan().join(k, keyCols, "left_semi").count())
    val appended = stageWrite(dir, ups, checked = true).files
    t.publishMor(op, appended, newRefs,
      mergeImages(t.scanOr(aligned), ups, keyCols, tombKeys))
    MorApplyReport(newRefs.size, t.cur.files.size - newRefs.size,
      t.killed(newRefs), rowsDeleted, sidecarRows(dir, appended), appended.size)
  }

  case class MorMergeReport(filesWithVectors: Int, filesCarried: Int,
                            rowsMatched: Long, rowsUpserted: Long,
                            filesAppended: Int)

  /** Merge-on-read MERGE (upsert) — [[merge]]'s deletion-vector twin:
    * matched table rows' old versions are marked dead in per-file
    * vectors and the ENTIRE update batch appends once (matched rows'
    * replacements and unmatched inserts are the same physical append —
    * the Delta/Iceberg MoR-merge shape), so a key-local upsert against a
    * 100 TB table writes O(|updates| + matched positions), never a
    * candidate-file rewrite. Candidate selection is the same
    * planning-shaped key bounding box as [[merge]]'s (2·|keys| driver
    * values, never the key set); matched positions come from ONE
    * distributed semi-join of the candidate scan (through existing
    * vectors) against the distinct update keys, and the per-file
    * vectors write executor-side ([[writeDvsDistributed]]). Same
    * cardinality contract as [[merge]]: `updates`
    * must be key-unique; NULL-keyed update rows never match and insert.
    * `rowsMatched` is exact (the new vector positions). Op `merge_mor`;
    * CDF images match the copy-on-write merge's. Single-writer. */
  def mergeMoR(spark: org.apache.spark.sql.SparkSession, dir: String,
               updates: org.apache.spark.sql.DataFrame,
               keyCols: Seq[String]): MorMergeReport = {
    val r = upsertMoR(spark, dir, updates, keyCols, None, "mergeMoR", "merge_mor")
    MorMergeReport(r.filesWithVectors, r.filesCarried, r.rowsKilled,
      r.rowsUpserted, r.filesAppended)
  }

  case class MorApplyReport(filesWithVectors: Int, filesCarried: Int,
                            rowsKilled: Long, rowsDeleted: Long,
                            rowsUpserted: Long, filesAppended: Int)

  /** Merge-on-read MERGE with a DELETE clause — the full
    * `WHEN MATCHED [AND tombstone] THEN DELETE / THEN UPDATE /
    * WHEN NOT MATCHED THEN INSERT` matrix (the CDC-apply verb at the
    * TABLE-FORMAT level; the q75 operator does the same over frames):
    * `changes` carries the table schema plus a boolean `deleteCol`.
    * Every matched table row — tombstoned or updated — dies behind a
    * deletion vector; only the NON-tombstone change rows append (a
    * tombstone's key simply has no replacement). Unmatched tombstones
    * are no-ops, unmatched non-tombstones insert. Same shape as
    * [[mergeMoR]]: planning-sized key bounding box, one distributed
    * position semi-join, vectors written EXECUTOR-SIDE, one generation.
    * Same cardinality contract: `changes` must be key-unique. With the
    * change feed on, tombstone matches capture as `delete` images and
    * the rest like [[mergeMoR]]'s (op `merge_mor_apply`). */
  def applyChangesMoR(spark: org.apache.spark.sql.SparkSession, dir: String,
                      changes: org.apache.spark.sql.DataFrame,
                      keyCols: Seq[String],
                      deleteCol: String): MorApplyReport =
    upsertMoR(spark, dir, changes, keyCols, Some(deleteCol), "applyChangesMoR",
      "merge_mor_apply")

  /** Snapshot-sync MERGE — the `WHEN NOT MATCHED BY SOURCE THEN DELETE`
    * clause that completes the merge matrix (Delta/Iceberg's
    * dimension-sync verb: make the table equal the incoming snapshot,
    * except rows the optional `keepWhere` predicate protects): source
    * rows upsert exactly like [[mergeMoR]], and table rows whose keys
    * the source does NOT carry die behind deletion vectors — unless
    * `keepWhere` (a SQL predicate over table columns) holds, in which
    * case they carry forward untouched (the conditional
    * NOT-MATCHED-BY-SOURCE form: `... AND NOT keepWhere THEN DELETE`).
    *
    * Composition, not re-implementation: the dying rows are computed as
    * ONE distributed anti-join of the live table against the source's
    * key set (filtered by `NOT keepWhere`), tagged as tombstones, and
    * the whole batch routes through [[applyChangesMoR]] — which pins the
    * changes frame via localCheckpoint BEFORE any mutation, so the
    * self-referential read is safe, and which owns the stats-pruned
    * candidate selection, the executor-side vector write and the CDF
    * capture. Same key-uniqueness contract as every merge verb; the
    * anti-join keys are table rows, so a key-unique table stays
    * key-unique. Single-writer, like all DML here. */
  def syncMoR(spark: org.apache.spark.sql.SparkSession, dir: String,
              source: org.apache.spark.sql.DataFrame,
              keyCols: Seq[String],
              keepWhere: Option[String] = None): MorApplyReport = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(keyCols.nonEmpty, "syncMoR requires at least one key column")
    val cur = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"cannot sync into nonexistent warehouse table at $dir"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(source.columns.toSet == schema.fieldNames.toSet,
      s"source schema ${source.columns.mkString(",")} must match table " +
        s"schema ${schema.fieldNames.mkString(",")}")
    val cols = schema.fieldNames.toIndexedSeq.map(col)
    val del = "__graft_sync_delete"
    val dying = spark.read.format(classOf[WarehouseSink].getName)
      .option("path", dir).load()
      .join(source.select(keyCols.map(col).toIndexedSeq: _*).distinct(),
        keyCols, "left_anti")
      .filter(keepWhere.map(w => !expr(w)).getOrElse(lit(true)))
    val changes = source.select(cols: _*).withColumn(del, lit(false))
      .unionByName(dying.select(cols: _*).withColumn(del, lit(true)))
    applyChangesMoR(spark, dir, changes, keyCols, del)
  }

  /** The V1-filter subset the skip path understands, rebuilt as a Column
    * (what the rewrite leg filters rows by — candidate selection and row
    * predicate evaluate the SAME algebra, so a file refuted by stats
    * provably holds no matching row). */
  private[sources] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter,
      schema: StructType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => col(c) === lit(v)
      case EqualNullSafe(c, v) => col(c) <=> lit(v)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
      case IsNull(c) => col(c).isNull
      case IsNotNull(c) => col(c).isNotNull
      case And(l, r) => filterToColumn(l, schema) && filterToColumn(r, schema)
      case Or(l, r) => filterToColumn(l, schema) || filterToColumn(r, schema)
      case Not(x) => !filterToColumn(x, schema)
      case other => throw new IllegalArgumentException(
        s"deleteWhere does not support predicate $other")
    }
  }

  // ---- per-file column stats: manifest-level data skipping ----
  // Each data file gets a `<file>.stats` sidecar written in the SAME
  // staged task commit (one TSV line per column: name, min, max, row
  // codec encoding) and moved/vacuumed with its base file. The scan
  // applies pushed filters against these ranges at PLANNING time to skip
  // whole files — the Delta/Iceberg file-skipping core, which is what
  // keeps a point/range probe on a 100 TB table from opening every file.
  // Skipping is strictly conservative: rows are still re-filtered by
  // Spark (all filters stay residual), a missing sidecar keeps the file,
  // and numeric comparison is via double, whose monotonic rounding can
  // only widen the keep set, never drop a matching file.

  private[sources] def statsFile(dataFile: String): String = dataFile + ".stats"

  /** Publish one staged data file: atomic-rename it and, when present,
    * its stats sidecar (sidecar first, so a reader that sees the data
    * file may at worst miss stats — never read torn ones). */
  private[sources] def moveWithStats(from: File, to: File, f: String,
                                     restamp: Boolean = true): Unit = {
    val sc = new File(from, statsFile(f))
    if (sc.isFile)
      Files.move(sc.toPath, new File(to, statsFile(f)).toPath,
        StandardCopyOption.ATOMIC_MOVE)
    Files.move(new File(from, f).toPath, new File(to, f).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    if (restamp) restampIds(to.getPath, f)
  }

  /** Re-stamp a just-moved file's `#ids` line against the DESTINATION
    * table's binding — the one choke point every landing file passes
    * (plain appends, DML/maintain rewrites staged through temp tables,
    * branch appends). A temp-table stage assigns positional ids against
    * ITS OWN empty manifest; after a dropColumn the real table's binding
    * is no longer positional, and without this re-stamp the moved file's
    * ids would tombstone live columns. Names the destination binding
    * does not know keep their staged id (a mergeSchema evolution's new
    * columns — the publish allocates exactly those). No-op when either
    * side lacks ids.
    *
    * NOT valid for TRUNCATE-staged files: a truncate-overwrite with a
    * reordered or unrelated schema makes the publish RESET the binding
    * (inheritColIds' unrelated branch), so the pre-publish manifest this
    * reads is the wrong referent — restamping a (c,a) overwrite of a
    * post-drop (a:0,c:2) table to (2,0) while the publish creates
    * (c:0,a:1) cross-maps live columns. Truncate stages carry the FINAL
    * binding already (writeIdsFor's truncate branch mirrors
    * inheritColIds case-for-case), so their moves pass restamp=false. */
  private def restampIds(destDir: String, f: String): Unit = {
    val m = readManifest(destDir).getOrElse(return)
    if (m.colIds.isEmpty) return
    val binding = StructType.fromDDL(m.schemaDdl).fieldNames.toSeq
      .zip(m.colIds).toMap
    val cols = readFileCols(destDir, f).getOrElse(return)
    val staged = readFileIds(destDir, f).getOrElse(return)
    if (cols.length != staged.length) return
    val restamped = cols.zip(staged).map { case (c, sid) =>
      binding.getOrElse(c, sid) }
    if (restamped == staged) return
    val sc = new File(destDir, statsFile(f))
    val body = new String(Files.readAllBytes(sc.toPath), StandardCharsets.UTF_8)
      .split("\n", -1).map { ln =>
        if (ln.startsWith(IdsTag + "\t"))
          IdsTag + "\t" + restamped.mkString(",")
        else ln
      }.mkString("\n")
    Files.write(sc.toPath, body.getBytes(StandardCharsets.UTF_8))
  }

  /** Column → (min, max) from a data file's sidecar; None if absent. */
  private[sources] def readStats(dir: String, dataFile: String,
                                 schema: StructType,
                                 rn: Map[String, String] = Map.empty): Option[Map[String, (Any, Any)]] = {
    val f = new File(dir, statsFile(dataFile))
    if (!f.isFile) return None
    val byName = schema.fields.map(x => x.name -> x.dataType).toMap
    val m = scala.collection.mutable.Map.empty[String, (Any, Any)]
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).foreach { ln =>
        val t = ln.split("\t", -1)
        if (t.length == 3) {
          // keys surface under the CURRENT column name: a file written
          // before a rename stores stats under its local (old) name,
          // and the id-derived translation bridges the two
          val name = { val n0 = decStr(t(0)); rn.getOrElse(n0, n0) }
          byName.get(name).foreach { dt =>
            m(name) = (decode(t(1), dt), decode(t(2), dt))
          }
        }
      }
    Some(m.toMap)
  }

  private[sources] val RowsTag = "#rows"
  /** 2-field sidecar line recording the file's transform-partition value
    * tuple (-joined encoded values) — invisible to the 3-field
    * range parser and every tagged reader, like `#rows`. */
  private[sources] val TpartTag = "#tpart"

  private[sources] def readTpart(dir: String, dataFile: String): Option[String] = {
    val f = new File(dir, statsFile(dataFile))
    if (!f.isFile) return None
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").collectFirst {
        case ln if ln.startsWith(TpartTag + "\t") =>
          ln.substring(TpartTag.length + 1)
      }
  }

  /** The partition spec a transform file was WRITTEN under (2-field
    * `#tpartspec` line; the `#tpart` prefix test can't match it — its
    * next char is 's', not the tab). This is what makes PARTITION
    * EVOLUTION safe: after the table-level spec changes, an old file's
    * recorded tuple must be interpreted under the old file's own spec —
    * reading a bucket(4,·) tuple as bucket(8,·) could wrongly skip a
    * matching file. Files predating this line never prune under a spec
    * they can't prove (see [[tpartAllows]]) and block [[evolvePartitioning]]
    * loudly. */
  private[sources] val TpartSpecTag = "#tpartspec"

  private[sources] def readTpartSpec(dir: String,
                                     dataFile: String): Option[String] = {
    val f = new File(dir, statsFile(dataFile))
    if (!f.isFile) return None
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").collectFirst {
        case ln if ln.startsWith(TpartSpecTag + "\t") =>
          ln.substring(TpartSpecTag.length + 1)
      }
  }
  private[sources] val ColsTag = "#cols"
  private val ColsSep = '\u001f' // unit separator — not emitted by encStr

  /** The file's OWN column order from its sidecar `#cols` line — what
    * lets a reader decode files written before a schema evolution (their
    * token positions follow THEIR schema, not the table's current one).
    * The line is 2 fields (`#cols<TAB>names-joined-by-US`), so the
    * 3-field range parser skips it, the `#rows` parser's prefix test
    * rejects it, and a real column named "#cols" (3-field range line)
    * can't collide. None for pre-evolution sidecars — which is exactly
    * why [[mergeSchemas]]' publish path refuses to evolve over them. */
  private[sources] def readFileCols(dir: String,
                                    dataFile: String): Option[Seq[String]] = {
    val f = new File(dir, statsFile(dataFile))
    if (!f.isFile) return None
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").collectFirst {
        case ln if ln.startsWith(ColsTag + "\t") &&
          ln.split("\t", -1).length == 2 =>
          ln.substring(ColsTag.length + 1).split(ColsSep).toSeq.map(decStr)
      }
  }

  private[sources] def colsLine(schema: StructType): String =
    ColsTag + "\t" +
      schema.fields.map(f => encode(f.name)).mkString(ColsSep.toString)

  // ---- stable field ids (rename/drop support) ----
  private[sources] val IdsTag = "#ids"
  private[sources] val ColIdMeta = "graft.colId"

  /** The file's column ids, aligned with its `#cols` line. None for
    * files written before field-id support (by-name semantics). */
  private[sources] def readFileIds(dir: String,
                                   dataFile: String): Option[Seq[Long]] = {
    val f = new File(dir, statsFile(dataFile))
    if (!f.isFile) return None
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").collectFirst {
        case ln if ln.startsWith(IdsTag + "\t") &&
          ln.split("\t", -1).length == 2 =>
          ln.substring(IdsTag.length + 1).split(",").toSeq
            .filter(_.nonEmpty).map(_.toLong)
      }
  }

  /** The ids a write under `schema` must record, aligned with the write
    * schema: known columns take the manifest's binding; NEW columns
    * (mergeSchema evolution) take exactly the ids [[inheritColIds]] will
    * allocate at publish — position among the fields [[mergeSchemas]]
    * appends, from `nextColId` upward — so sidecars written at task time
    * and the manifest published after agree. None for pre-field-id
    * tables (their files stay name-only until maintain() rewrites). */
  private[sources] def writeIdsFor(dir: String, schema: StructType,
                                   truncate: Boolean = false): Option[Seq[Long]] = {
    readManifest(dir) match {
      case Some(m) if m.colIds.nonEmpty =>
        val prevSchema = StructType.fromDDL(m.schemaDdl)
        val names = prevSchema.fieldNames.toSeq
        if (truncate) {
          // mirror inheritColIds' THREE cases exactly (same → inherit,
          // prefix-extension → allocate from nextColId, unrelated →
          // fresh positional), so the ids staged at task time are the
          // binding the publish will actually create — restampIds is
          // skipped for truncate-staged files on exactly this promise
          val nf = schema.fieldNames.toSeq
          if (nf == names) Some(m.colIds)
          else if (nf.startsWith(names))
            Some(m.colIds ++
              (m.nextColId until m.nextColId + (nf.length - names.length)))
          else Some(schema.fieldNames.indices.map(_.toLong).toSeq)
        } else {
          val known = names.zip(m.colIds).toMap
          val appended = mergeSchemas(prevSchema, schema)
            .fieldNames.drop(names.length)
          val alloc = appended.zipWithIndex
            .map { case (n2, k) => n2 -> (m.nextColId + k) }.toMap
          Some(schema.fieldNames.toSeq.map(n2 =>
            known.getOrElse(n2, alloc(n2))))
        }
      case Some(_) => None // pre-field-id table
      case None => // first write: matches inheritColIds' prev-None branch
        Some(schema.fieldNames.indices.map(_.toLong).toSeq)
    }
  }

  /** Stash each field's id in its metadata so the write schema carries
    * the binding to every task with no writer-signature changes. */
  private[sources] def withColIdMetadata(dir: String, schema: StructType,
                                         truncate: Boolean = false): StructType =
    writeIdsFor(dir, schema, truncate) match {
      case Some(ids) => StructType(schema.fields.zip(ids).map {
        case (f, id) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(ColIdMeta, id).build())
      })
      case None => schema
    }

  private[sources] def idsLine(schema: StructType): Option[String] = {
    val ids = schema.fields.map(f =>
      if (f.metadata.contains(ColIdMeta)) Some(f.metadata.getLong(ColIdMeta))
      else None)
    if (ids.nonEmpty && ids.forall(_.isDefined))
      Some(IdsTag + "\t" + ids.map(_.get).mkString(","))
    else None
  }

  /** file-local name → CURRENT name, for columns whose stable id appears
    * in both the file's `#ids` sidecar and the manifest binding. Empty
    * when either side predates field ids — pure by-name semantics. */
  private[sources] def renameMap(dir: String, dataFile: String,
                                 tableCols: Seq[String],
                                 tableIds: Seq[Long]): Map[String, String] = {
    if (tableIds.isEmpty) return Map.empty
    (readFileCols(dir, dataFile), readFileIds(dir, dataFile)) match {
      case (Some(fc), Some(fi)) if fc.length == fi.length =>
        // ID-AUTHORITATIVE when both sides carry ids: a file column
        // whose id is NOT in the binding was DROPPED — it maps to a
        // tombstone no real column name can equal (column names cannot
        // contain a tab), so a later column REUSING the name can never
        // resurrect its stored values — the guarantee a by-name
        // fallback cannot give.
        fi.zip(fc).map { case (id, local) =>
          val k = tableIds.indexOf(id)
          if (k >= 0) local -> tableCols(k)
          else local -> ("\tdropped#" + id)
        }.toMap
      case _ => Map.empty
    }
  }

  // Per-column null counts and (integral-only) exact sums — the sidecar
  // lines that extend metadata-only aggregation to COUNT(col) and
  // SUM(col). Both are 2-FIELD lines with the column name folded into a
  // prefixed tag (`#nulls:<enc(col)><TAB>n`), so the 3-field range parser
  // never sees them and a real column named "#nulls:x" (whose range line
  // has 3 fields) cannot collide. Sums are integral columns only: a
  // double sum is accumulation-order-dependent, so a pushed answer could
  // differ from the scan it replaces; long sums overflow-check and omit
  // the line rather than record a wrapped value.
  private val NullsTagPrefix = "#nulls:"
  private val SumTagPrefix = "#sum:"

  private[sources] def nullsLine(col: String, n: Long): String =
    NullsTagPrefix + encode(col) + "\t" + n
  private[sources] def sumLine(col: String, v: Long): String =
    SumTagPrefix + encode(col) + "\t" + v

  private def read2Field(dir: String, dataFile: String,
                         prefix: String): Map[String, Long] = {
    val f = new File(dir, statsFile(dataFile))
    if (!f.isFile) return Map.empty
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").flatMap { ln =>
        val t = ln.split("\t", -1)
        if (t.length == 2 && t(0).startsWith(prefix))
          Some(decStr(t(0).substring(prefix.length)) -> t(1).toLong)
        else None
      }.toMap
  }

  /** Column → null count for one file; missing column = sidecar predates
    * null tracking (pushdown must refuse). */
  private[sources] def readNullCounts(dir: String, dataFile: String,
                                      rn: Map[String, String] = Map.empty): Map[String, Long] =
    read2Field(dir, dataFile, NullsTagPrefix)
      .map { case (k, v) => rn.getOrElse(k, k) -> v }

  /** Column → exact sum of non-null values (integral columns only;
    * absent on overflow or non-integral types). */
  private[sources] def readSums(dir: String, dataFile: String,
                                rn: Map[String, String] = Map.empty): Map[String, Long] =
    read2Field(dir, dataFile, SumTagPrefix)
      .map { case (k, v) => rn.getOrElse(k, k) -> v }

  /** Widen `prev` by `next`'s new columns — the mergeSchema contract:
    * existing columns keep their type (a type change is an error, not a
    * cast), brand-new columns append as nullable, columns absent from
    * the incoming frame stay (their new-file cells read as null via the
    * per-file `#cols` mapping). Field order: previous schema first. */
  private[sources] def mergeSchemas(prev: StructType,
                                    next: StructType): StructType = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name).foreach { p =>
        require(p.dataType == f.dataType,
          s"schema evolution cannot change column ${f.name}: " +
            s"${p.dataType.simpleString} -> ${f.dataType.simpleString}")
      }
    }
    StructType(prev.fields ++
      next.fields.filterNot(f => prevByName.contains(f.name))
        .map(_.copy(nullable = true)))
  }

  /** Row count from a data file's sidecar (the 2-field `#rows` line every
    * writer since the aggregate-pushdown change prepends); None for a
    * missing sidecar or a pre-rowcount one — in which case stats-backed
    * aggregation must refuse, because absence of a range line can no
    * longer be read as "all null". */
  private[sources] def readRowCount(dir: String, dataFile: String): Option[Long] = {
    val f = new File(dir, statsFile(dataFile))
    if (!f.isFile) return None
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").collectFirst {
        case ln if ln.startsWith(RowsTag + "\t") &&
          ln.split("\t", -1).length == 2 => ln.substring(RowsTag.length + 1).toLong
      }
  }

  /** Exact ordering for SAME-typed values — what the writer's range
    * tracking and the pushed-aggregate merge use. Unlike [[statsCmp]]
    * there is no double rounding: a pushed-down MIN/MAX must return the
    * value a full scan would. NaN orders largest, matching Spark. */
  private[sources] def exactCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
    case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
    case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
    case (x: java.lang.Float, y: java.lang.Float) => java.lang.Float.compare(x, y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalStateException(
      s"warehouse stats hold mixed types: ${a.getClass} vs ${b.getClass}")
  }

  /** Conservative cross-type ordering for skipping decisions: strings and
    * booleans exact, numerics via double (monotonic — rounding can merge
    * neighbors but never reorder, so every comparison below errs toward
    * keeping the file); None = not comparable, caller must keep. */
  private[sources] def statsCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: UTF8String, y) => statsCmp(x.toString, y)
    case (x, y: UTF8String) => statsCmp(x, y.toString)
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case (x: java.lang.Number, y: java.lang.Number) =>
      Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
    case _ => None
  }

  /** Could any row of a file with these column ranges satisfy `f`?
    * Unknown columns, null literals, and unsupported predicates all
    * answer true — skipping is an optimization, never a filter. */
  /** Translate the runtime V2 predicates Spark hands a
    * SupportsRuntimeV2Filtering scan (dynamic partition pruning: the IN
    * list of join keys the build side actually produced) into the v1
    * Filters the stats-skipping machinery already evaluates. Best-effort
    * by design: an untranslatable predicate prunes nothing — the join
    * re-applies the full condition, so correctness never depends on this
    * path, only the scan-volume saving does. */
  private[sources] def v2ToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Lit, NamedReference}
    def colOf(e: V2Expr): Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        Some(n.fieldNames()(0))
      case _ => None
    }
    def litOf(e: V2Expr): Option[Any] = e match {
      case l: V2Lit[_] => Some(org.apache.spark.sql.catalyst
        .CatalystTypeConverters.convertToScala(l.value, l.dataType))
      case _ => None
    }
    val ch = p.children()
    p.name() match {
      case "IN" if ch.nonEmpty =>
        val vs = ch.tail.map(litOf)
        for { c <- colOf(ch.head); _ <- if (vs.forall(_.isDefined)) Some(()) else None }
          yield org.apache.spark.sql.sources.In(c, vs.map(_.get))
      case "=" if ch.length == 2 =>
        colOf(ch(0)).flatMap(c => litOf(ch(1))
            .map(v => org.apache.spark.sql.sources.EqualTo(c, v)))
          .orElse(colOf(ch(1)).flatMap(c => litOf(ch(0))
            .map(v => org.apache.spark.sql.sources.EqualTo(c, v))))
      case _ => None
    }
  }

  private[sources] def mightMatch(stats: Map[String, (Any, Any)],
                                  f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def le(a: Any, b: Any) = statsCmp(a, b).forall(_ <= 0)
    def lt(a: Any, b: Any) = statsCmp(a, b).forall(_ < 0)
    f match {
      case EqualTo(c, v) if v != null =>
        stats.get(c).forall { case (mn, mx) => le(mn, v) && le(v, mx) }
      case EqualNullSafe(c, v) if v != null =>
        mightMatch(stats, EqualTo(c, v))
      case GreaterThan(c, v) if v != null =>
        stats.get(c).forall { case (_, mx) => lt(v, mx) }
      case GreaterThanOrEqual(c, v) if v != null =>
        stats.get(c).forall { case (_, mx) => le(v, mx) }
      case LessThan(c, v) if v != null =>
        stats.get(c).forall { case (mn, _) => lt(mn, v) }
      case LessThanOrEqual(c, v) if v != null =>
        stats.get(c).forall { case (mn, _) => le(mn, v) }
      case In(c, vs) => vs.exists(v => v == null || mightMatch(stats, EqualTo(c, v)))
      case And(l, r) => mightMatch(stats, l) && mightMatch(stats, r)
      case Or(l, r) => mightMatch(stats, l) || mightMatch(stats, r)
      case _ => true // IsNull, StringContains, Not(...), ...: no range answer
    }
  }

  /** The predicate algebra [[filterToColumn]] (and so every DML verb)
    * accepts — the SQL DELETE gate tests against THIS before Spark
    * commits to the row-level path, so unsupported predicates error
    * clearly instead of half-deleting. AlwaysTrue is the parser's
    * unconditional-DELETE marker. */
  private[sources] def supportedDmlFilter(
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
           _: LessThan | _: LessThanOrEqual | _: In |
           _: IsNull | _: IsNotNull | _: AlwaysTrue => true
      case And(l, r) => supportedDmlFilter(l) && supportedDmlFilter(r)
      case Or(l, r) => supportedDmlFilter(l) && supportedDmlFilter(r)
      case Not(x) => supportedDmlFilter(x)
      case _ => false
    }
  }

  /** Shared DML candidate-file test: range stats + null-aware pruning
    * under the file's id-derived rename map — the SAME translation the
    * scan path applies (WarehouseScan.keptFiles). Without the map, a
    * legacy file's stats stored under a pre-rename local name would be
    * attributed to the wrong current column after dropColumn+rename (or
    * a rename swap), and the DML could FALSELY prune a file containing
    * matching rows — silently skipping updates/deletes/merges rather
    * than being merely conservative. */
  private[sources] def dmlCandidate(dir: String, f: String,
                                    schema: StructType, colIds: Seq[Long],
                                    filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    val rn = renameMap(dir, f, schema.fieldNames.toSeq, colIds)
    (readStats(dir, f, schema, rn) match {
      case Some(st) => filters.forall(mightMatch(st, _))
      case None => true // statless file: must assume it matches
    }) && filters.forall(nullAwareMatch(dir, f, _, rn))
  }

  /** Null-aware leg of file skipping — what the RANGE stats can't see:
    * `IS NULL` refutes a file whose `#nulls` sidecar proves the column
    * has none; `IS NOT NULL` refutes one where every row is null
    * (`#nulls` == `#rows`). Conservative like [[mightMatch]]: a missing
    * sidecar line never prunes. */
  private[sources] def nullAwareMatch(dir: String, dataFile: String,
                                      f: org.apache.spark.sql.sources.Filter,
                                      rn: Map[String, String] = Map.empty): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case IsNull(c) => readNullCounts(dir, dataFile, rn).get(c).forall(_ > 0)
      case IsNotNull(c) =>
        (for {
          n <- readNullCounts(dir, dataFile, rn).get(c)
          r <- readRowCount(dir, dataFile)
        } yield n < r).getOrElse(true)
      case And(l, r) =>
        nullAwareMatch(dir, dataFile, l, rn) && nullAwareMatch(dir, dataFile, r, rn)
      case Or(l, r) =>
        nullAwareMatch(dir, dataFile, l, rn) || nullAwareMatch(dir, dataFile, r, rn)
      case _ => true
    }
  }

  // ---- row codec: TSV with \t, \n, \\ escaped ----
  // The null sentinel is a token the escaper can never emit: every input
  // backslash doubles, so backslash runs in encoded output always have
  // even length — a LONE backslash followed by '0' is reserved.
  private val NullTok = "\\0"
  private[sources] def encode(v: Any): String = v match {
    case null => NullTok
    case s: UTF8String => encStr(s.toString)
    case s: String => encStr(s)
    case x => x.toString
  }
  private def encStr(s: String): String = s.flatMap {
    case '\t' => "\\t"; case '\n' => "\\n"; case '\\' => "\\\\"
    case c => c.toString
  }
  private def decStr(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b.append('\t'); case 'n' => b.append('\n')
          case c => b.append(c)
        }; i += 2
      } else { b.append(s.charAt(i)); i += 1 }
    }
    b.toString
  }
  private[sources] def decode(tok: String, dt: DataType): Any =
    if (tok == NullTok) null
    else dt match {
      case LongType => tok.toLong
      case IntegerType => tok.toInt
      case DoubleType => tok.toDouble
      case FloatType => tok.toFloat
      case BooleanType => tok.toBoolean
      case StringType => UTF8String.fromString(decStr(tok))
      case other => throw new UnsupportedOperationException(
        s"warehouse sink does not support $other")
    }
}

private[sources] class WarehouseTable(dir: String, schema0: StructType,
                                      versionAsOf: Option[Long] = None)
    extends Table with SupportsWrite with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft_warehouse($dir)"

  /** File provenance as METADATA COLUMNS (Delta's `_metadata.file_path`
    * shape): `__graft_file` / `__graft_pos` — the same pseudo-columns
    * the MoR machinery reads internally, now addressable from SQL and,
    * critically, the metadata attributes the row-level operation
    * requires (Spark's ReplaceData applies its data-row projection
    * ONLY on the data+metadata writing path — without a metadata
    * column the writer would receive the raw plan row including the
    * `__row_operation` marker). */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    Array(
      new MetadataColumn {
        override def name(): String = "__graft_file"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file holding this row"
      },
      new MetadataColumn {
        override def name(): String = "__graft_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "0-based row position in its file"
      })
  }

  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` with predicates the
    * metadata path refuses) via Spark's GROUP-based row-level rewrite:
    * the group is the FILE — the planner pushes the command's condition
    * here purely for group pruning (stats-sidecar file skipping, the
    * same `dmlCandidate` test every DML verb plans with), reads the
    * surviving files IN FULL (deletion vectors applied), rewrites rows,
    * and the commit atomically swaps exactly those files for the
    * replacement — the copy-on-write shape `updateWhere` implements,
    * reached from SQL. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(versionAsOf.isEmpty,
      "row-level SQL operations cannot target a versionAsOf read")
    () => new WarehouseRowLevelOperation(dir, schema0, info.command())
  }

  // SQL row-level DELETE (`DELETE FROM cat.t WHERE ...`): delegates to
  // the copy-on-write deleteWhere verb — accepted only when every
  // predicate is in the verb's filter algebra, so Spark falls back to a
  // clear error (not a silent partial delete) on anything else. The
  // MoR variant stays an explicit API call (choosing the
  // read-tax/write-tax point is a policy decision, not a parser's).
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    versionAsOf.isEmpty && filters.forall(WarehouseSink.supportedDmlFilter)
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(versionAsOf.isEmpty, "cannot DELETE from a versionAsOf read")
    val spark = org.apache.spark.sql.SparkSession.active
    val real = filters.filterNot(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) { // unconditional DELETE / TRUNCATE: new empty generation
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema0).write.format(classOf[WarehouseSink].getName)
        .option("path", dir).mode("overwrite").save()
    } else WarehouseSink.deleteWhere(spark, dir, real.toIndexedSeq)
  }
  override def schema(): StructType = schema0
  /** The live layout as V2 transforms — what DESCRIBE shows for a
    * catalog-loaded table. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    WarehouseSink.parsePartSpecs(
      manifest.map(_.partitionCol).getOrElse("")).map {
      case WarehouseSink.IdPart(c) => Expressions.identity(c)
      case WarehouseSink.BucketPart(n, c) => Expressions.bucket(n, c)
      case WarehouseSink.DaysPart(c) =>
        Expressions.apply("days", Expressions.column(c))
    }.toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty, "cannot write to a versionAsOf read")
    new WarehouseWriteBuilder(dir, info.schema(), info.queryId(),
      truncate0 = false,
      mergeSchema = info.options().getBoolean("mergeSchema", false),
      partitionCol = Option(info.options().get("partitionBy")).getOrElse(""),
      streamEpoch = Option(info.options().get("streamEpoch")).map(_.toLong),
      targetPartitions = info.options().getInt("targetPartitions", 0))
  }

  private def manifest: Option[WarehouseSink.Manifest] = versionAsOf match {
    case Some(v) => WarehouseSink.readManifestAt(dir, v)
    case None => WarehouseSink.readManifest(dir)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val cdfStream = options.getBoolean("readChangeFeed", false)
    val skipChanges = options.getBoolean("skipChangeCommits", false)
    val base = manifest.map(m => StructType.fromDDL(m.schemaDdl))
      .getOrElse(schema0)
    new WarehouseScanBuilder(dir,
      // Internal (tableChanges): override the scan schema — change files
      // carry the table columns PLUS the CDF metadata columns, decoded by
      // their own #cols sidecar lines.
      Option(options.get("readSchemaDdl")).map(StructType.fromDDL).getOrElse(
        if (cdfStream)
          base.add("_change_type", org.apache.spark.sql.types.StringType)
            .add("_commit_version", org.apache.spark.sql.types.LongType)
        else base),
      versionAsOf,
      // Internal (deleteWhere's rewrite leg): restrict the scan to an
      // explicit comma-separated file subset of the live manifest.
      Option(options.get("files"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      cdfStream = cdfStream, skipChanges = skipChanges,
      // Internal, paired with `files`: the deletion-vector entries
      // (dataFile|dvFile|count, comma-separated) to apply to that subset.
      onlyDvs = Option(options.get("dvs"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
  }
}

/** One SQL row-level command (UPDATE / MERGE / fallback DELETE) against
  * the live generation, group-based with the FILE as the group:
  *
  *  - the manifest is pinned ONCE at construction (single-writer
  *    discipline — the scan and the commit must agree on one
  *    generation);
  *  - `newScanBuilder` receives the command condition from Spark's
  *    group-planning rule; the contract there is PRUNE GROUPS, NEVER
  *    ROWS (residuals are ignored by the planner), which is exactly
  *    this format's skip-only filter posture — candidate files come
  *    from the shared [[WarehouseSink.dmlCandidate]] stats test and the
  *    scan reads them in full with their deletion vectors applied (a
  *    vectored-out row must not resurrect through the rewrite);
  *  - the write stages replacement rows through the standard writer
  *    factory (CHECK policies enforced, stats sidecars written) and the
  *    commit publishes carried = live − scanned, plus the staged files,
  *    dropping the scanned files' vectors — one atomic generation.
  *
  * CDF-enabled tables refuse loudly: the group rewrite sees only final
  * rows, so pre/post images cannot be captured — the `updateWhere` /
  * `merge` verbs keep that capability. MERGE conditions referencing the
  * source table prune nothing (correct, just unskipped), matching every
  * engine's copy-on-write MERGE. */
private[sources] class WarehouseRowLevelOperation(
    dir: String, schema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  require(!WarehouseSink.cdfEnabled(dir),
    s"SQL row-level $cmd cannot capture the change feed — use the " +
      "updateWhere/merge API verbs on CDF tables")
  private val cur = WarehouseSink.readManifest(dir).getOrElse(
    throw new IllegalArgumentException(
      s"cannot run a row-level $cmd against nonexistent table at $dir"))
  // Until (unless) filters arrive, every file is a candidate — an
  // unconditional UPDATE rewrites the whole table, which is its meaning.
  @volatile private var scanned: Seq[String] = cur.files
  // Frozen at Scan build: the commit must swap EXACTLY the file set the
  // executed scan read. If Spark ever built a second scan from this
  // operation with a DIFFERENT candidate set (it doesn't under current
  // group-based planning), reading set A while committing set B would
  // drop rows — so that case is a hard error, not a race.
  @volatile private var builtSet: Option[Seq[String]] = None


  override def command():
      org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft_warehouse group-based $cmd"

  // Requiring file provenance routes the write through Spark's
  // data+metadata task — the path that PROJECTS the data row before
  // handing it to the writer (the metadata itself is dropped by the
  // writer's default two-argument write).
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("__graft_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      private var required: StructType = schema
      override def pushFilters(
          fs: Array[org.apache.spark.sql.sources.Filter]):
          Array[org.apache.spark.sql.sources.Filter] = {
        pushed = fs
        val sup = fs.toSeq.filter(WarehouseSink.supportedDmlFilter)
        scanned = cur.files.filter(
          WarehouseSink.dmlCandidate(dir, _, schema, cur.colIds, sup))
        fs // group planning ignores residuals — rows are never filtered
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        pushed
      override def pruneColumns(r: StructType): Unit = required = r
      // pinnedFiles: the scan reads EXACTLY the plan-time candidates —
      // runtime group filtering is declined (see WarehouseScan.filter),
      // because the commit below swaps exactly this set.
      override def build(): Scan = {
        val snap = scanned
        require(builtSet.forall(_ == snap),
          s"row-level $cmd planned two scans with different candidate " +
            "file sets — the group-replace commit would be ambiguous")
        builtSet = Some(snap)
        new WarehouseScan(dir, schema, None, Array.empty, required,
          onlyFiles = Some(snap),
          onlyDvs = Some(WarehouseSink.dvEntriesFor(cur, snap)),
          pinnedFiles = true)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
      new org.apache.spark.sql.connector.write.WriteBuilder {
    override def build(): Write = {
    val ws = info.schema()
    require(ws.fields.map(f => (f.name, f.dataType)).toSet ==
      schema.fields.map(f => (f.name, f.dataType)).toSet,
      s"row-level $cmd replacement schema [${ws.toDDL}] does not match " +
        s"the table schema [${schema.toDDL}]")
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
      // a value-partitioned table keeps its clustering through the rewrite
      override def requiredDistribution(): Distribution =
        if (cur.partitionCol.isEmpty) Distributions.unspecified()
        else Distributions.clustered(
          WarehouseSink.parsePartSpecs(cur.partitionCol)
            .map(t => Expressions.identity(t.col)).toArray)
      override def requiredNumPartitions(): Int = 0
      override def requiredOrdering(): Array[SortOrder] = Array.empty
      override def toBatch: BatchWrite =
        new ReplaceGroupsBatchWrite(dir, ws, info.queryId(),
          cur.partitionCol, () => builtSet.getOrElse(scanned),
          "sql_" + cmd.toString.toLowerCase(java.util.Locale.ROOT))
      override def toStreaming: StreamingWrite =
        throw new UnsupportedOperationException(
          "row-level operations are batch-only")
    }
    }
  }
}

/** The replace-groups commit: stages through the SAME writer factory as
  * every batch write (CHECK policies, stats/ids sidecars), then swaps
  * scanned files for staged files in one manifest publish. */
private[sources] class ReplaceGroupsBatchWrite(dir: String,
                                               schema: StructType,
                                               queryId: String,
                                               partitionCol: String,
                                               replaced: () => Seq[String],
                                               opName: String)
    extends BatchWrite {
  private def staging = new File(dir, s"_staging/$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    staging.mkdirs()
    val cks = WarehouseSink.checks(dir)
    if (cks.nonEmpty) new CheckEvaluator(cks, schema)
    val specs = WarehouseSink.parsePartSpecs(partitionCol)
    specs.foreach(t => schema.fieldIndex(t.col))
    new WarehouseWriterFactory(staging.getPath,
      WarehouseSink.withColIdMetadata(dir, schema, truncate = false),
      specs, cks)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.toSeq.flatMap {
      case WarehouseCommit(f, n) if n >= 0 => Seq(f)
      case WarehouseMultiCommit(es) => es.map(_.file)
      case _ => Nil
    }
    val published = committed.map { f =>
      WarehouseSink.moveWithStats(staging, new File(dir), f, restamp = true)
      f
    }
    val dead = replaced().toSet
    WarehouseSink.publish(dir, { prev =>
      val p = prev.getOrElse(throw new IllegalStateException(
        s"table at $dir vanished during a $opName"))
      Some(WarehouseSink.Manifest(0L, p.schemaDdl,
        p.files.filterNot(dead.contains) ++ published, p.epoch,
        p.partitionCol, op = opName,
        // scanned files' vectors die with them; others ride along
        dvs = p.dvs.filterNot(e => dead.contains(e.takeWhile(_ != '|')))))
    })
    WarehouseSink.deleteRecursively(staging)
    // replaced files stay on disk for time travel until vacuum()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    WarehouseSink.deleteRecursively(staging)
}

/** Filter pushdown for FILE SKIPPING only: every filter is returned as a
  * residual (Spark re-applies it row-by-row), but the accepted set is
  * handed to the scan, which tests each manifest file's stats sidecar
  * against it at planning time — a non-matching file contributes no
  * input partition at all.
  *
  * Also implements:
  *  - **column pruning** — the reader decodes only the requested token
  *    positions (row-oriented codec, so this saves decode CPU, not I/O;
  *    parquet would save both, but the contract to Spark is identical);
  *  - **metadata-only aggregates** — an unfiltered, ungrouped
  *    COUNT(*)/MIN(col)/MAX(col) is answered ENTIRELY from the manifest's
  *    stats sidecars (`#rows` line + per-column ranges) without opening a
  *    single data file: the Delta/Iceberg "SELECT count(*) in O(metadata)"
  *    behavior a 100 TB table needs for its most common sanity probes.
  *    Soundness gates, checked at plan time: no pushed filters, no
  *    grouping, every live file has a rowcount-bearing sidecar (proving
  *    stats-completeness, so a missing range line means ALL-NULL column —
  *    which MIN/MAX ignore, matching SQL), and only codec-flat columns.
  *    Anything else refuses the pushdown and Spark aggregates normally —
  *    pushdown is an optimization, never a different answer. */
private[sources] class WarehouseScanBuilder(dir: String, schema: StructType,
                                            versionAsOf: Option[Long],
                                            onlyFiles: Option[Seq[String]] = None,
                                            cdfStream: Boolean = false,
                                            skipChanges: Boolean = false,
                                            onlyDvs: Option[Seq[String]] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}

  // The V1 Filter API carries everything range skipping can use.
  private var skipFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  // LIMIT pushdown: the scan PLANS only enough files (by `#rows`
  // sidecar arithmetic, vector counts subtracted) to cover the limit —
  // a LIMIT 10 against a 100 TB table opens one file instead of all of
  // them. PARTIAL by contract (whole files are emitted; Spark's own
  // Limit trims), and applied only on filterless scans — with residual
  // filters a file's rows may all fail, so trimming could starve the
  // limit.
  private var pushedLimit: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit); true
  }
  override def isPartiallyPushed(): Boolean = true
  private var required: StructType = schema
  private var pushedAgg: Option[(StructType, InternalRow)] = None

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    skipFilters = filters
    filters // all residual: stats can only SKIP files, not filter rows
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    skipFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Spark probes supportCompletePushDown first and, when true, expects
  // the scan to emit FINAL values; we never offer the partial protocol
  // (per-file rows would be more work than the answer itself here).
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryAnswer(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = tryAnswer(agg)
    pushedAgg.isDefined
  }

  private def singleColumn(e: org.apache.spark.sql.connector.expressions.Expression):
      Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }

  /** The aggregate answer from sidecar metadata alone, or None if any
    * soundness gate fails. O(|files|) tiny driver-side reads — the same
    * order of work as planning the scan it replaces. */
  private def tryAnswer(agg: Aggregation): Option[(StructType, InternalRow)] = {
    if (skipFilters.nonEmpty || agg.groupByExpressions.nonEmpty ||
      onlyFiles.nonEmpty) return None
    val manifest = versionAsOf match {
      case Some(v) => WarehouseSink.readManifestAt(dir, v) match {
        case Some(m) => Some(m)
        case None => return None // let the normal scan raise the error
      }
      case None => WarehouseSink.readManifest(dir)
    }
    val files = manifest.map(_.files).getOrElse(Nil)
    // per-file id-derived (local → current) name translation, so a file
    // written before a RENAME still answers under the current name
    val tCols = manifest.map(x => StructType.fromDDL(x.schemaDdl)
      .fieldNames.toSeq).getOrElse(Nil)
    val tIds = manifest.map(_.colIds).getOrElse(Nil)
    val rns = files.map(f => WarehouseSink.renameMap(dir, f, tCols, tIds))
    val counts = files.map(f => WarehouseSink.readRowCount(dir, f)
      .getOrElse(return None)) // pre-rowcount sidecar: stats not provably complete
    val stats = files.zip(rns).map { case (f, rn) =>
      WarehouseSink.readStats(dir, f, schema, rn).getOrElse(return None) }
    // Deletion vectors make every per-column sidecar line STALE-SUPERSET
    // (the min row may be deleted; null/sum lines count deleted rows), so
    // with any vector live only COUNT(*) keeps an exact metadata answer —
    // physical rows minus the manifest-carried vector cardinalities.
    val dvDeleted = WarehouseSink.dvRefs(manifest.map(_.dvs).getOrElse(Nil))
      .map(_.count).sum
    val dvLive = dvDeleted > 0
    // Initial-default columns: a file written before the add carries NO
    // sidecar lines for the column, yet its rows READ the default — a
    // MIN/MAX that merely skips such files would lie (COUNT/SUM already
    // refuse via their missing-line gates). Sound gate: refuse min/max on
    // a defaulted column unless every file proves a range for it.
    val defaulted = manifest.map(WarehouseSink.defaultsOf)
      .getOrElse(Map.empty).keySet
    def rangeComplete(c: String): Boolean =
      !defaulted.contains(c) || stats.forall(_.contains(c))
    val out = agg.aggregateExpressions.map {
      case _: CountStar =>
        (StructField("count_star", LongType, nullable = false),
          counts.sum - dvDeleted: Any)
      case _ if dvLive => return None
      case m: Min =>
        val c = singleColumn(m.column).getOrElse(return None)
        val i = schema.fieldNames.indexOf(c)
        if (i < 0 || !rangeComplete(c)) return None
        val lows = stats.flatMap(_.get(c)).map(_._1)
        (StructField(s"min_$c", schema(i).dataType, nullable = true),
          if (lows.isEmpty) null
          else lows.reduce((a, b) => if (WarehouseSink.exactCmp(a, b) <= 0) a else b))
      case m: Max =>
        val c = singleColumn(m.column).getOrElse(return None)
        val i = schema.fieldNames.indexOf(c)
        if (i < 0 || !rangeComplete(c)) return None
        val highs = stats.flatMap(_.get(c)).map(_._2)
        (StructField(s"max_$c", schema(i).dataType, nullable = true),
          if (highs.isEmpty) null
          else highs.reduce((a, b) => if (WarehouseSink.exactCmp(a, b) >= 0) a else b))
      case cnt: Count if !cnt.isDistinct =>
        // COUNT(col) = Σ (#rows − nulls(col)); every file must carry the
        // column's null-count line (its unconditional presence since the
        // null-tracking writer is the capability certificate — an absent
        // line means a pre-nulls sidecar, where nothing proves the count).
        val c = singleColumn(cnt.column).getOrElse(return None)
        if (!schema.fieldNames.contains(c)) return None
        val nulls = files.zip(rns).map { case (f, rn) =>
          WarehouseSink.readNullCounts(dir, f, rn).getOrElse(c, return None) }
        (StructField(s"count_$c", LongType, nullable = false),
          counts.sum - nulls.sum: Any)
      case s: Sum if !s.isDistinct =>
        // SUM over integral columns only (the writer records no sum line
        // for doubles — order-dependent — or overflowed files, so absence
        // refuses the pushdown). SQL SUM is NULL when no non-null input.
        val c = singleColumn(s.column).getOrElse(return None)
        val i = schema.fieldNames.indexOf(c)
        if (i < 0) return None
        schema(i).dataType match {
          case LongType | IntegerType =>
          case _ => return None
        }
        val sums = files.zip(rns).map { case (f, rn) =>
          WarehouseSink.readSums(dir, f, rn).getOrElse(c, return None) }
        val nulls = files.zip(rns).map { case (f, rn) =>
          WarehouseSink.readNullCounts(dir, f, rn).getOrElse(c, return None) }
        val nonNull = counts.sum - nulls.sum
        val total = try sums.foldLeft(0L)(Math.addExact)
          catch { case _: ArithmeticException => return None } // scan raises ANSI overflow
        (StructField(s"sum_$c", LongType, nullable = true),
          if (nonNull == 0) null else total: Any)
      case _ => return None // AVG/VAR/distinct: no exact metadata answer
    }
    Some((StructType(out.map(_._1)), InternalRow.fromSeq(out.map(_._2).toSeq)))
  }

  override def build(): Scan = pushedAgg match {
    case Some((aggSchema, row)) => new WarehouseAggScan(dir, aggSchema, row)
    case None =>
      new WarehouseScan(dir, schema, versionAsOf, skipFilters, required,
        onlyFiles, cdfStream, skipChanges, onlyDvs, pushedLimit)
  }
}

/** The metadata-only aggregate result: one partition, one pre-computed
  * row; no data file is ever opened (WarehouseSinkSpec proves it by
  * deleting one and aggregating anyway). */
private[sources] class WarehouseAggScan(dir: String, aggSchema: StructType,
                                        row: InternalRow)
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_warehouse [$dir, metadata-only agg: " +
      aggSchema.fieldNames.mkString(", ") + "]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(WarehouseAggPartition(row.copy()))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val r = p.asInstanceOf[WarehouseAggPartition].row
          override def next(): Boolean = { val go = !emitted; emitted = true; go }
          override def get(): InternalRow = r
          override def close(): Unit = ()
        }
    }
}

private[sources] case class WarehouseAggPartition(row: InternalRow)
    extends InputPartition

private[sources] class WarehouseWriteBuilder(dir: String, schema: StructType,
                                             queryId: String, truncate0: Boolean,
                                             mergeSchema: Boolean = false,
                                             partitionCol: String = "",
                                             streamEpoch: Option[Long] = None,
                                             targetPartitions: Int = 0)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new WarehouseWriteBuilder(dir, schema, queryId, truncate0 = true,
      mergeSchema, partitionCol, streamEpoch, targetPartitions)
  override def build(): Write = {
    WarehouseSink.parsePartSpecs(partitionCol).foreach(t =>
      require(schema.fieldNames.contains(t.col),
        s"partitionBy column ${t.col} not in the written schema"))
    // An un-optioned APPEND to a partitioned table inherits the table's
    // partition column(s) (so plain appends keep the one-value-per-file
    // invariant); a frame that lacks a column degrades to an unsplit
    // write — the scan's per-file check then falls back gracefully.
    val effectiveCol =
      if (partitionCol.nonEmpty || truncate0) partitionCol
      else WarehouseSink.readManifest(dir).map(_.partitionCol)
        .filter(pc => WarehouseSink.parsePartSpecs(pc)
          .forall(t => schema.fieldNames.contains(t.col))).getOrElse("")
    // A value-partitioned write DEMANDS clustering by the RAW column(s)
    // (a transform's raw column determines its transform value, so
    // clustering by it co-locates whole transform groups too) — Spark
    // inserts the shuffle, so each task sees whole value groups and the
    // per-value file split stays one-file-per-tuple-per-task instead of
    // one per (tuple, input partition). `targetPartitions` (maintain's
    // compaction knob) pins the shuffle's width so a bucketed table's
    // rewrite emits ~targetPartitions·|buckets seen per task| files, not
    // 32·|buckets|.
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
      override def requiredDistribution(): Distribution =
        if (effectiveCol.isEmpty) Distributions.unspecified()
        else Distributions.clustered(WarehouseSink.parsePartSpecs(effectiveCol)
          .map(t => Expressions.identity(t.col)).toArray)
      override def requiredNumPartitions(): Int =
        if (effectiveCol.isEmpty) 0 else targetPartitions
      override def requiredOrdering(): Array[SortOrder] = Array.empty
      override def toBatch: BatchWrite =
        new WarehouseBatchWrite(dir, schema, queryId, truncate0, mergeSchema,
          effectiveCol, streamEpoch)
      override def toStreaming: StreamingWrite =
        new WarehouseStreamingWrite(dir, schema, queryId)
    }
  }
}

private[sources] case class WarehouseCommit(file: String, rows: Long)
    extends WriterCommitMessage

/** A value-partitioned task commits one file PER partition value. */
private[sources] case class WarehouseMultiCommit(entries: Seq[WarehouseCommit])
    extends WriterCommitMessage

private[sources] class WarehouseBatchWrite(dir: String, schema: StructType,
                                           queryId: String, truncate: Boolean,
                                           mergeSchema: Boolean = false,
                                           partitionCol: String = "",
                                           streamEpoch: Option[Long] = None)
    extends BatchWrite {
  private def staging = new File(dir, s"_staging/$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    staging.mkdirs()
    // Checks are read ONCE on the driver and compiled against the WRITE
    // schema here, so a check on a column this write doesn't carry fails
    // fast with a clear message instead of per-task.
    val cks = WarehouseSink.checks(dir)
    if (cks.nonEmpty) new CheckEvaluator(cks, schema) // driver-side validation
    val specs = WarehouseSink.parsePartSpecs(partitionCol)
    specs.foreach(t => schema.fieldIndex(t.col)) // fail fast on the driver
    new WarehouseWriterFactory(staging.getPath,
      WarehouseSink.withColIdMetadata(dir, schema, truncate), specs, cks)
  }

  /** Publish: move exactly the files the coordinator-admitted attempts
    * named into the table dir, then swap the manifest pointer. Append
    * carries the previous generation's files forward; truncate does not. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.toSeq.flatMap {
      case WarehouseCommit(f, n) if n >= 0 => Seq(f)
      case WarehouseMultiCommit(es) => es.map(_.file)
      case _ => Nil
    }
    val published = committed.map { f =>
      // Truncate stages already carry the binding the publish will
      // create (writeIdsFor truncate branch); restamping against the
      // PRE-publish manifest would rebind a reordered/unrelated
      // overwrite's ids to the dying generation's binding.
      WarehouseSink.moveWithStats(staging, new File(dir), f,
        restamp = !truncate)
      f
    }
    // `streamEpoch` turns this batch append into an EPOCH-GUARDED append:
    // the foreachBatch exactly-once primitive. A caller passes the
    // micro-batch id; a checkpoint restart redelivering an already-folded
    // batch finds the cursor at or past it and the publish is a detected
    // no-op (files cleaned up), so multi-table foreachBatch updates
    // converge under replay — each table independently skips the legs it
    // already committed.
    val won = WarehouseSink.publish(dir, { prev =>
      if (streamEpoch.exists(e => prev.exists(_.epoch >= e))) None
      else {
      val files =
        if (truncate) published
        else prev.map(_.files).getOrElse(Nil) ++ published
      // Append CARRIES the streaming epoch cursor forward: a batch append
      // interleaved with a streaming query must not reset the replay
      // guard, or a checkpoint restart replaying its last micro-batch
      // would pass the epoch check and double-publish. Truncate resets
      // the cursor to -1 DELIBERATELY — it starts a new table generation,
      // and a fresh stream (new checkpoint, epochs from 0) must publish
      // from its first epoch.
      val epoch = streamEpoch.getOrElse(
        if (truncate) -1L else prev.map(_.epoch).getOrElse(-1L))
      // Table schema across an append: identical (name, type) set keeps
      // the previous DDL (per-file #cols lines make even a reordered
      // frame decode correctly); a differing set either EVOLVES (explicit
      // option("mergeSchema", "true"): new columns append nullable,
      // old files' missing cells read as null — refused if any carried
      // file predates the #cols sidecar line, whose position mapping
      // evolution depends on) or fails loudly. Silently publishing the
      // frame's schema — the pre-evolution behavior — would re-map every
      // old file's token positions and corrupt reads.
      val outDdl = prev match {
        case None => schema.toDDL
        case Some(_) if truncate => schema.toDDL
        case Some(p) =>
          val ps = StructType.fromDDL(p.schemaDdl)
          val pSet = ps.fields.map(f => (f.name, f.dataType)).toSet
          val nSet = schema.fields.map(f => (f.name, f.dataType)).toSet
          if (nSet == pSet) p.schemaDdl
          else if (mergeSchema) {
            val merged = WarehouseSink.mergeSchemas(ps, schema)
            val legacy = p.files.filterNot(f =>
              WarehouseSink.readFileCols(dir, f).isDefined)
            require(legacy.isEmpty,
              s"cannot evolve schema: ${legacy.size} file(s) lack the " +
                "#cols sidecar line (rewrite them via maintain() first)")
            merged.toDDL
          } else throw new IllegalArgumentException(
            s"append schema [${schema.toDDL}] does not match table schema " +
              s"[${p.schemaDdl}]; set option(\"mergeSchema\", \"true\") to evolve")
      }
      // Partition column: truncate (new generation) takes the write's;
      // append inherits the table's and refuses a conflicting option.
      val outPart =
        if (truncate || prev.isEmpty) partitionCol
        else {
          val p = prev.get.partitionCol
          require(partitionCol.isEmpty || partitionCol == p,
            s"append partitionBy=$partitionCol conflicts with the table's " +
              s"partition column '$p'")
          p
        }
      Some(WarehouseSink.Manifest(0L, outDdl, files, epoch, outPart,
        op = if (truncate) "truncate" else "append",
        // Append keeps every previous file live, so their deletion
        // vectors ride along; truncate un-references files and vectors
        // together (both stay on disk for time travel until vacuum).
        dvs = if (truncate) Nil else prev.map(_.dvs).getOrElse(Nil)))
      }
    })
    if (won.isEmpty) // epoch-guarded replay: drop the unreferenced files
      published.foreach { f =>
        new File(dir, f).delete()
        new File(dir, WarehouseSink.statsFile(f)).delete()
      }
    WarehouseSink.deleteRecursively(staging)
    // Truncate only UN-REFERENCES the old generation — its files stay on
    // disk so versionAsOf reads keep working until vacuum() reclaims them.
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    WarehouseSink.deleteRecursively(staging) // manifest untouched: table state unchanged
}

/** Exactly-once streaming sink: each micro-batch publishes through the same
  * staged-commit path as a batch write, and the manifest records the epoch
  * it folded in — a REPLAYED epoch (restart from checkpoint re-delivering
  * the last batch) is detected by `epoch <= manifest.epoch` and skipped
  * without publishing, so at-least-once delivery upstream becomes
  * exactly-once table state. */
private[sources] class WarehouseStreamingWrite(dir: String, schema: StructType,
                                               queryId: String)
    extends StreamingWrite {
  private def staging(epochId: Long) =
    new File(dir, s"_staging/$queryId/epoch-$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo):
      StreamingDataWriterFactory = {
    val base = new File(dir, s"_staging/$queryId")
    base.mkdirs()
    val cks = WarehouseSink.checks(dir)
    if (cks.nonEmpty) new CheckEvaluator(cks, schema) // fail fast on driver
    new WarehouseStreamingWriterFactory(base.getPath,
      WarehouseSink.withColIdMetadata(dir, schema), cks)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    if (WarehouseSink.readManifest(dir).exists(_.epoch >= epochId)) {
      // replayed micro-batch: already folded into a committed generation
      WarehouseSink.deleteRecursively(staging(epochId))
      return
    }
    val st = staging(epochId)
    val published = messages.collect { case WarehouseCommit(f, _) => f }.toSeq
      .map { f =>
        WarehouseSink.moveWithStats(st, new File(dir), f)
        f
      }
    // The replay guard re-evaluates inside publish against the FRESH
    // manifest (a concurrent batch committer may have moved it).
    val won = WarehouseSink.publish(dir, { prev =>
      if (prev.exists(_.epoch >= epochId)) None
      else {
        // Same-schema guard as the batch path (no evolution mid-stream:
        // restart the query against the evolved table instead).
        val outDdl = prev match {
          case None => schema.toDDL
          case Some(p) =>
            val ps = StructType.fromDDL(p.schemaDdl)
            require(ps.fields.map(f => (f.name, f.dataType)).toSet ==
              schema.fields.map(f => (f.name, f.dataType)).toSet,
              s"streaming epoch schema [${schema.toDDL}] does not match " +
                s"table schema [${p.schemaDdl}]")
            p.schemaDdl
        }
        // Carry the table's partition-column claim: streaming files may
        // mix values (the scan's per-file min==max check degrades those
        // to UnknownPartitioning, so correctness never depends on it),
        // but dropping the claim would permanently strip the table of
        // its SPJ layout — maintain() could no longer restore it.
        Some(WarehouseSink.Manifest(0L, outDdl,
          prev.map(_.files).getOrElse(Nil) ++ published, epochId,
          prev.map(_.partitionCol).getOrElse(""), op = "stream",
          dvs = prev.map(_.dvs).getOrElse(Nil)))
      }
    })
    if (won.isEmpty) // lost to a replay: drop the now-unreferenced files
      published.foreach { f =>
        new File(dir, f).delete()
        new File(dir, WarehouseSink.statsFile(f)).delete()
      }
    WarehouseSink.deleteRecursively(st)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    WarehouseSink.deleteRecursively(staging(epochId))
}

private[sources] class WarehouseStreamingWriterFactory(baseStaging: String,
                                                       schema: StructType,
                                                       checks: Seq[WarehouseSink.Check] = Nil)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val st = new File(baseStaging, s"epoch-$epochId")
    st.mkdirs()
    val inner = new WarehouseWriter(st.getPath, schema, partitionId, taskId)
    if (checks.isEmpty) inner
    else new DataWriter[InternalRow] {
      private val ev = new CheckEvaluator(checks, schema)
      override def write(record: InternalRow): Unit = {
        ev.validate(record); inner.write(record)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

private[sources] class WarehouseWriterFactory(stagingDir: String,
                                              schema: StructType,
                                              specs: Seq[WarehouseSink.PartTransform] = Nil,
                                              checks: Seq[WarehouseSink.Check] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val inner: DataWriter[InternalRow] =
      if (specs.isEmpty)
        new WarehouseWriter(stagingDir, schema, partitionId, taskId)
      else new PartitionedWarehouseWriter(stagingDir, schema, partitionId,
        taskId, specs)
    if (checks.isEmpty) inner
    else new DataWriter[InternalRow] {
      private val ev = new CheckEvaluator(checks, schema)
      override def write(record: InternalRow): Unit = {
        ev.validate(record); inner.write(record)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

/** Encoding, stats tracking, and sidecar emission for ONE staged data
  * file — the unit both the plain writer (one per task) and the
  * value-partitioned writer (one per value per task) compose. */
private[sources] class FileSink(stagingDir: String, schema: StructType,
                                fileName: String,
                                tpart: Option[String] = None,
                                tpartSpec: Option[String] = None) {
  // 64 KiB BufferedWriter in front of the encoder: FileSink.write is the
  // per-row hot path of every warehouse write (loads, MERGEs, compaction
  // rewrites) — without it each row's string pays its own encoder loop.
  private val out = new java.io.BufferedWriter(
    new FileWriter(new File(stagingDir, fileName)), 1 << 16)
  private var rows = 0L
  private val types = schema.fields.map(_.dataType)
  // Per-column min/max over the non-null values this file holds — the
  // skipping sidecar. UTF8Strings are materialized to String
  // IMMEDIATELY (the InternalRow may reuse its buffer on the next row)
  // and compared with the same comparator the scan's skip check uses.
  private val mins = new Array[Any](types.length)
  private val maxs = new Array[Any](types.length)
  private val nulls = new Array[Long](types.length)
  private val sums = new Array[Long](types.length)
  // integral columns whose running sum overflowed: omit their sum line
  private val sumPoisoned = new Array[Boolean](types.length)
  private def trackStats(i: Int, v0: Any): Unit = {
    val v = v0 match { case s: UTF8String => s.toString; case x => x }
    if (mins(i) == null) { mins(i) = v; maxs(i) = v }
    else {
      // Exact same-type comparison (values in one column share the schema
      // type): the double-rounded statsCmp is fine for conservative
      // skipping but would let a >2^53 long record a neighbor as its
      // min/max — and these ranges now also answer pushed-down MIN/MAX.
      if (WarehouseSink.exactCmp(v, mins(i)) < 0) mins(i) = v
      if (WarehouseSink.exactCmp(v, maxs(i)) > 0) maxs(i) = v
    }
  }

  // One reusable row buffer per file sink (write is single-threaded per
  // task): a fresh StringBuilder per row was measurable allocator churn
  // on multi-hundred-thousand-row rewrites.
  private val rowBuf = new StringBuilder(256)

  def write(record: InternalRow): Unit = {
    val sb = rowBuf
    sb.setLength(0)
    var i = 0
    while (i < types.length) {
      if (i > 0) sb.append('\t')
      val v = if (record.isNullAt(i)) null else record.get(i, types(i))
      if (v != null) {
        trackStats(i, v)
        v match {
          case x: java.lang.Long if !sumPoisoned(i) =>
            try sums(i) = Math.addExact(sums(i), x.longValue)
            catch { case _: ArithmeticException => sumPoisoned(i) = true }
          case x: java.lang.Integer if !sumPoisoned(i) =>
            try sums(i) = Math.addExact(sums(i), x.longValue)
            catch { case _: ArithmeticException => sumPoisoned(i) = true }
          case _ =>
        }
      } else nulls(i) += 1
      sb.append(WarehouseSink.encode(v))
      i += 1
    }
    sb.append('\n')
    out.write(sb.toString)
    rows += 1
  }

  def commit(): WarehouseCommit = {
    out.close()
    val sb = new StringBuilder
    // Row-count line first: 2 fields, so the 3-field range parser skips it
    // (and a real column NAMED "#rows" still emits 3 fields — no clash).
    // Its presence also certifies the sidecar as stats-complete: with it,
    // a column with NO range line below provably held only nulls in this
    // file, which is what lets the aggregate pushdown treat missing
    // ranges as "contributes nothing to MIN/MAX" rather than "unknown".
    sb.append(WarehouseSink.RowsTag).append('\t').append(rows).append('\n')
    // The file's own column order (2-field `#cols` line): what makes the
    // file readable after later schema evolutions re-map positions.
    sb.append(WarehouseSink.colsLine(schema)).append('\n')
    // Stable field ids aligned with #cols (2-field `#ids` line) — what
    // makes the file readable after a column RENAME (resolution by id
    // beats resolution by a name that no longer exists).
    WarehouseSink.idsLine(schema).foreach(l => sb.append(l).append('\n'))
    tpart.foreach(v => sb.append(WarehouseSink.TpartTag).append('\t')
      .append(v).append('\n'))
    // The spec the tuple was written under — the partition-evolution
    // anchor (2-field line, invisible to every other parser).
    tpartSpec.foreach(s => sb.append(WarehouseSink.TpartSpecTag)
      .append('\t').append(s).append('\n'))
    var i = 0
    while (i < types.length) {
      if (mins(i) != null) // all-null columns carry no range line
        sb.append(WarehouseSink.encode(schema.fields(i).name)).append('\t')
          .append(WarehouseSink.encode(mins(i))).append('\t')
          .append(WarehouseSink.encode(maxs(i))).append('\n')
      // null count for EVERY column (its unconditional presence is what
      // certifies the sidecar as COUNT(col)-capable); exact sum only for
      // non-overflowed integral columns.
      sb.append(WarehouseSink.nullsLine(schema.fields(i).name, nulls(i)))
        .append('\n')
      types(i) match {
        case LongType | IntegerType if !sumPoisoned(i) =>
          sb.append(WarehouseSink.sumLine(schema.fields(i).name, sums(i)))
            .append('\n')
        case _ =>
      }
      i += 1
    }
    Files.write(new File(stagingDir, WarehouseSink.statsFile(fileName)).toPath,
      sb.toString.getBytes(StandardCharsets.UTF_8))
    WarehouseCommit(fileName, rows)
  }

  def abort(): Unit = {
    out.close(); new File(stagingDir, fileName).delete()
  }
}

/** Row-level CHECK enforcement, compiled once per writer from the closed
  * [[WarehouseSink.Check]] grammar: each check becomes one branch over a
  * bound field index — no SQL evaluator ships to executors. A violation
  * throws with the check name and the offending value; the task fails,
  * the job aborts, staged files never publish — the write is atomic.
  * `asColumn` is the same predicate as a Catalyst Column, used by
  * addCheck's existing-data validation so both legs share one
  * definition of "satisfied". */
private[sources] class CheckEvaluator(cs: Seq[WarehouseSink.Check],
                                      schema: StructType) extends Serializable {
  import org.apache.spark.sql.types._
  private val compiled: Seq[(WarehouseSink.Check, Int, DataType)] = cs.map { c =>
    require(schema.fieldNames.contains(c.col),
      s"check '${c.name}': column ${c.col} not in write schema " +
        s"[${schema.fieldNames.mkString(",")}]")
    val i = schema.fieldIndex(c.col)
    (c, i, schema.fields(i).dataType)
  }
  private def num(row: InternalRow, i: Int, dt: DataType): Double = dt match {
    case LongType => row.getLong(i).toDouble
    case IntegerType => row.getInt(i).toDouble
    case DoubleType => row.getDouble(i)
    case FloatType => row.getFloat(i).toDouble
    case other => throw new IllegalArgumentException(
      s"min/max checks need a numeric column, got $other")
  }
  private def str(row: InternalRow, i: Int, dt: DataType): String = dt match {
    case StringType => row.getUTF8String(i).toString
    case LongType => row.getLong(i).toString
    case IntegerType => row.getInt(i).toString
    case BooleanType => row.getBoolean(i).toString
    case other => throw new IllegalArgumentException(
      s"in checks need a string/integral column, got $other")
  }
  def validate(row: InternalRow): Unit = compiled.foreach { case (c, i, dt) =>
    c.kind match {
      case "notnull" =>
        if (row.isNullAt(i)) throw new IllegalArgumentException(
          s"CHECK '${c.name}' violated: ${c.col} is null")
      case _ if row.isNullAt(i) => // SQL semantics: NULL passes range/in
      case "min" =>
        if (num(row, i, dt) < c.value.toDouble)
          throw new IllegalArgumentException(
            s"CHECK '${c.name}' violated: ${c.col} = ${num(row, i, dt)} " +
              s"< ${c.value}")
      case "max" =>
        if (num(row, i, dt) > c.value.toDouble)
          throw new IllegalArgumentException(
            s"CHECK '${c.name}' violated: ${c.col} = ${num(row, i, dt)} " +
              s"> ${c.value}")
      case "in" =>
        val v = str(row, i, dt)
        if (!c.value.split(";").contains(v))
          throw new IllegalArgumentException(
            s"CHECK '${c.name}' violated: ${c.col} = '$v' not in " +
              s"{${c.value}}")
    }
  }
  /** The same checks as ONE Catalyst predicate (true = row satisfies). */
  def asColumn(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    compiled.map { case (c, _, _) =>
      c.kind match {
        case "notnull" => col(c.col).isNotNull
        case "min" => col(c.col).isNull || col(c.col) >= lit(c.value.toDouble)
        case "max" => col(c.col).isNull || col(c.col) <= lit(c.value.toDouble)
        case "in" => col(c.col).isNull ||
          col(c.col).cast("string").isin(c.value.split(";").toIndexedSeq: _*)
      }
    }.reduceOption(_ && _).getOrElse(lit(true))
  }
}

/** One data file per task attempt; the (partitionId, taskId) name makes
  * retries collision-free within a job, and the random component keeps
  * APPENDS from different sessions/epochs from ever colliding on publish
  * (the parquet committer's discipline). Only the committed attempt's
  * name reaches the driver. */
private[sources] class WarehouseWriter(stagingDir: String, schema: StructType,
                                       partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val sink = new FileSink(stagingDir, schema,
    f"part-$partitionId%05d-$taskId-" +
      java.util.UUID.randomUUID.toString.take(8) + ".wtsv")
  override def write(record: InternalRow): Unit = sink.write(record)
  override def commit(): WriterCommitMessage = sink.commit()
  override def abort(): Unit = sink.abort()
  override def close(): Unit = ()
}

/** Value-partitioned task writer: one [[FileSink]] per distinct value of
  * the partition column this task sees, so every data file holds exactly
  * one value (min == max in its sidecar — how the scan derives the
  * partition key without a separate manifest entry). The write demanded
  * a clustered distribution, so tasks see whole value groups and the
  * open-sink count stays at the task's value count, not the table's.
  * NULL partition values are rejected — a null has no groupable key. */
private[sources] class PartitionedWarehouseWriter(stagingDir: String,
                                                  schema: StructType,
                                                  partitionId: Int, taskId: Long,
                                                  specs: Seq[WarehouseSink.PartTransform])
    extends DataWriter[InternalRow] {
  private val base = f"part-$partitionId%05d-$taskId-" +
    java.util.UUID.randomUUID.toString.take(8)
  private val sinks = scala.collection.mutable.LinkedHashMap.empty[String, FileSink]
  private val partitionIdxs = specs.map(t => schema.fieldIndex(t.col))
  private val pTypes = partitionIdxs.map(i => schema.fields(i).dataType)
  // Hidden partitioning: any non-identity spec makes the file key a
  // TRANSFORM value tuple, recorded in the sidecar `#tpart` line (a hash
  // bucket's raw column ranges span everything, so the scan needs the
  // recorded value to group or prune by).
  private val transformed = specs.exists(!_.isInstanceOf[WarehouseSink.IdPart])

  override def write(record: InternalRow): Unit = {
    val key = specs.indices.map { j =>
      val idx = partitionIdxs(j)
      require(!record.isNullAt(idx),
        s"partition column ${schema.fields(idx).name} must not be null")
      WarehouseSink.encode(
        WarehouseSink.transformValue(specs(j), record.get(idx, pTypes(j))))
    }.mkString("\u001f")
    val sink = sinks.getOrElseUpdate(key,
      new FileSink(stagingDir, schema, f"$base-v${sinks.size}%04d.wtsv",
        if (transformed) Some(key) else None,
        if (transformed) Some(specs.map(_.spec).mkString(",")) else None))
    sink.write(record)
  }
  override def commit(): WriterCommitMessage =
    WarehouseMultiCommit(sinks.values.map(_.commit()).toSeq)
  override def abort(): Unit = sinks.values.foreach(_.abort())
  override def close(): Unit = ()
}

// ---- read path: one partition per manifest file ----

/** `dv` ("" = none) is the file's deletion-vector path: the reader skips
  * exactly those line positions — merge-on-read DELETE applied at scan
  * time, costing one sorted-array pointer walk per row. */
private[sources] case class WarehouseFilePartition(path: String,
                                                   dv: String = "")
    extends InputPartition

/** One partition per partition-column VALUE: all the value's files, plus
  * the key row Spark's storage-partitioned join groups by. `dvs` aligns
  * with `paths` ("" = the file has no deletion vector). */
private[sources] case class WarehouseGroupPartition(
    paths: Seq[String],
    key: org.apache.spark.sql.catalyst.expressions.GenericInternalRow,
    dvs: Seq[String] = Nil)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private[sources] class WarehouseScan(dir: String, schema: StructType,
                                     versionAsOf: Option[Long] = None,
                                     skipFilters: Array[org.apache.spark.sql.sources.Filter] =
                                       Array.empty,
                                     required0: StructType = null,
                                     onlyFiles: Option[Seq[String]] = None,
                                     cdfStream: Boolean = false,
                                     skipChanges: Boolean = false,
                                     onlyDvs: Option[Seq[String]] = None,
                                     pushedLimit: Option[Int] = None,
                                     pinnedFiles: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // ---- runtime (dynamic) file pruning ----
  // Spark's dynamic-partition-pruning rule hands this scan the IN list
  // of join keys the build side ACTUALLY produced; the same stats-sidecar
  // skipping that serves pushed filters then drops whole files at
  // runtime — DPP economics without Hive partitions. Declared for every
  // column: the sidecars carry min/max for all of them, so a runtime
  // filter on any clustered/sorted column prunes. Untranslatable
  // predicates prune nothing (the join re-applies the condition —
  // correctness never rides on this). Arrives before planInputPartitions,
  // after planning-time outputPartitioning: pruning only ever DROPS
  // value groups (files of one group share its partition value), which
  // Spark's SPJ machinery reconciles exactly like a missing value set.
  @volatile private var runtimeFilters:
      Array[org.apache.spark.sql.sources.Filter] = Array.empty

  // Only columns of the scan's (pruned) OUTPUT: Spark resolves these
  // refs against the scan relation — naming a projected-away column is
  // an analysis error, not a no-op.
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Option(required0).getOrElse(schema).fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    // A pinned scan (the row-level replace read) IGNORES runtime
    // filters: its commit swaps exactly the planning-time file set, so
    // any later shrink of the read view would leave a swapped-out
    // file's rows unwritten — runtime filter timing is AQE-dependent
    // and must not be able to change what a DML rewrite reads.
    if (!pinnedFiles) runtimeFilters = predicates.flatMap(WarehouseSink.v2ToV1)
  // `required` defaults to the full schema (the pre-pruning callers and
  // the streaming path); stats-skipping decisions always use the FULL
  // schema — a pushed filter may reference a column the query never
  // projects.
  private val required = Option(required0).getOrElse(schema)
  override def readSchema(): StructType = required
  override def toBatch: Batch = {
    require(!cdfStream,
      "readChangeFeed is a STREAMING read; for a batch range use " +
        "WarehouseSink.tableChanges(spark, dir, from, to)")
    this
  }
  override def description(): String =
    s"graft_warehouse [$dir${versionAsOf.map(v => s" @v$v").getOrElse("")}" +
      (if (required.length != schema.length)
        s", cols: ${required.fieldNames.mkString(",")}" else "") +
      (if (skipFilters.isEmpty) "]"
       else s", skipBy: ${skipFilters.mkString(", ")}]")
  // def, not lazy val: runtime filters can arrive AFTER planning-time
  // consumers (estimateStatistics) already evaluated the file list, and
  // planInputPartitions must see the pruned view. Recomputation is
  // O(|files|) tiny driver-side sidecar reads.
  private def keptFiles: Seq[String] = {
    val m = versionAsOf match {
      case Some(v) => Some(WarehouseSink.readManifestAt(dir, v).getOrElse(
        throw new IllegalArgumentException(
          s"version $v of $dir does not exist (vacuumed or never written)")))
      case None => WarehouseSink.readManifest(dir)
    }
    val files = onlyFiles.getOrElse(m.map(_.files).getOrElse(Nil))
    // File skipping: a file whose stats ranges refute every pushed filter
    // plans NO partition. O(|files|) tiny sidecar reads on the driver —
    // the same order of work as listing the manifest itself.
    val all = skipFilters ++ runtimeFilters
    if (all.isEmpty) files
    else {
      // Transform-partitioned layouts prune by recorded #tpart values —
      // the only pruning that works for hash buckets (see tpartAllows).
      val specs = m.map(p => WarehouseSink.parsePartSpecs(p.partitionCol))
        .getOrElse(Nil)
      val hasTransform =
        specs.exists(!_.isInstanceOf[WarehouseSink.IdPart])
      val tCols = m.map(p => StructType.fromDDL(p.schemaDdl)
        .fieldNames.toSeq).getOrElse(Nil)
      val tIds = m.map(_.colIds).getOrElse(Nil)
      files.filter { f =>
        val rn = WarehouseSink.renameMap(dir, f, tCols, tIds)
        (WarehouseSink.readStats(dir, f, schema, rn) match {
          case Some(st) => all.forall(WarehouseSink.mightMatch(st, _))
          case None => true // pre-stats file: never skip blind
        }) && all.forall(WarehouseSink.nullAwareMatch(dir, f, _, rn)) &&
          (!hasTransform ||
            WarehouseSink.tpartAllows(dir, f, specs, all.toSeq, rn))
      }
    }
  }
  /** Deletion vectors to apply, dataFile → (dv path, deleted count).
    * A MANIFEST-driven read takes the scanned generation's entries (time
    * travel sees exactly the vectors live at that version); a
    * file-restricted internal read takes ONLY the explicitly passed
    * `dvs` option — the caller (DML rewrite, CDF replay) knows which
    * generation's vectors apply, and defaulting to the live manifest's
    * would leak later deletes into a historical replay. Stats-range file
    * skipping needs no adjustment: deletion only shrinks a file's value
    * set, so sidecar ranges stay a sound superset. */
  private def dvLookup: Map[String, (String, Long)] = {
    val entries =
      if (onlyFiles.nonEmpty) onlyDvs.getOrElse(Nil)
      else {
        val m = versionAsOf match {
          case Some(v) => WarehouseSink.readManifestAt(dir, v)
          case None => WarehouseSink.readManifest(dir)
        }
        m.map(_.dvs).getOrElse(Nil)
      }
    WarehouseSink.dvRefs(entries)
      .map(r => r.dataFile -> (new File(dir, r.dvFile).getPath, r.count))
      .toMap
  }
  /** Honest table statistics for the optimizer — the piece that lets AQE
    * and join planning treat a small warehouse table as broadcastable
    * instead of assuming the pessimistic default size. Post-skipping:
    * a pruned probe reports only its kept files' bytes/rows. Row count
    * is exact when every kept file carries a `#rows` sidecar line. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = keptFiles.map(f => new File(dir, f).length()).sum
    private val rows = {
      val dvc = dvLookup
      val rcs = keptFiles.map(f => WarehouseSink.readRowCount(dir, f)
        .map(_ - dvc.get(f).map(_._2).getOrElse(0L)))
      if (rcs.forall(_.isDefined)) java.util.OptionalLong.of(rcs.flatten.sum)
      else java.util.OptionalLong.empty()
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = rows
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val m = versionAsOf match {
      case Some(v) => WarehouseSink.readManifestAt(dir, v)
      case None => WarehouseSink.readManifest(dir)
    }
    new WarehouseReaderFactory(schema, required,
      m.map(x => StructType.fromDDL(x.schemaDdl).fieldNames.toSeq)
        .getOrElse(Nil),
      m.map(_.colIds).getOrElse(Nil),
      m.map(WarehouseSink.defaultsOf).getOrElse(Map.empty))
  }

  // ---- storage-partitioned reads ----
  // When the manifest names a partition column and EVERY kept file
  // provably holds one value of it (sidecar min == max, non-null), the
  // scan plans one partition per VALUE GROUP and reports
  // KeyGroupedPartitioning — Spark's storage-partitioned join then joins
  // two co-partitioned warehouse tables (and runs partition-local
  // aggregates) WITHOUT any Exchange: the 100 TB co-location play,
  // expressed through the engine's own V2 partitioning contract instead
  // of a bespoke join operator. Any file that breaks the invariant
  // (compaction/DML rewrites mix values) degrades the WHOLE scan to
  // per-file partitions with UnknownPartitioning — correctness is never
  // conditional on the layout, only the shuffle saving is.
  private def partSpecs: Seq[WarehouseSink.PartTransform] = {
    val m = versionAsOf match {
      case Some(v) => WarehouseSink.readManifestAt(dir, v)
      case None => WarehouseSink.readManifest(dir)
    }
    WarehouseSink.parsePartSpecs(m.map(_.partitionCol).getOrElse(""))
  }

  /** The scanned version's (column names, field ids) binding — what the
    * per-file rename translation resolves against. */
  private def idBinding: (Seq[String], Seq[Long]) = {
    val m = versionAsOf match {
      case Some(v) => WarehouseSink.readManifestAt(dir, v)
      case None => WarehouseSink.readManifest(dir)
    }
    (m.map(x => StructType.fromDDL(x.schemaDdl).fieldNames.toSeq)
      .getOrElse(Nil), m.map(_.colIds).getOrElse(Nil))
  }

  private def partitionGroups: Option[Seq[(Seq[Any], Seq[String])]] = {
    val specs = partSpecs
    if (specs.isEmpty || onlyFiles.nonEmpty ||
      !specs.forall(t => required.fieldNames.contains(t.col))) None
    else if (specs.forall(_.isInstanceOf[WarehouseSink.IdPart])) {
      // identity layout: the per-file min==max stats check IS the claim
      val pcols = specs.map(_.col)
      val (tCols, tIds) = idBinding
      val vals: Seq[Option[Seq[Any]]] = keptFiles.map { f =>
        val st = WarehouseSink.readStats(dir, f, schema,
          WarehouseSink.renameMap(dir, f, tCols, tIds))
        val per = pcols.map { pcol =>
          st.flatMap(_.get(pcol)) match {
            case Some((mn, mx)) if mn != null &&
              WarehouseSink.exactCmp(mn, mx) == 0 => Some(mn)
            case _ => None
          }
        }
        if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
      }
      if (vals.exists(_.isEmpty)) None
      else Some(keptFiles.zip(vals.map(_.get)).groupBy(_._2).toSeq
        .map { case (v, fs) => (v, fs.map(_._1)) }
        .sortBy(_._2.head)) // deterministic plan order
    } else {
      // transform layout: group by each file's RECORDED transform tuple
      // (a bucket's raw stats cannot prove the claim — the record does);
      // any file without one (legacy, CoW-rewritten) degrades the scan,
      // and so does any file recording a DIFFERENT spec (pre-evolution
      // files: their tuples live in another key space — maintain()
      // rewrites them under the current spec and restores SPJ)
      val canon = specs.map(_.spec)
      val vals: Seq[Option[Seq[Any]]] = keptFiles.map { f =>
        WarehouseSink.readTpartSpec(dir, f) match {
          case Some(sp) if (try WarehouseSink.parsePartSpecs(sp).map(_.spec)
                            catch { case _: IllegalArgumentException => Nil })
                           != canon => None
          case _ => WarehouseSink.readTpart(dir, f).flatMap { t =>
          val parts = t.split("\u001f", -1)
          if (parts.length != specs.length) None
          else Some(specs.zip(parts.toSeq).map {
            case (WarehouseSink.IdPart(c), enc) =>
              WarehouseSink.decode(enc,
                schema(schema.fieldIndex(c)).dataType)
            case (_, enc) => WarehouseSink.decode(enc, LongType)
          })
          }
        }
      }
      if (vals.exists(_.isEmpty)) None
      else Some(keptFiles.zip(vals.map(_.get)).groupBy(_._2).toSeq
        .map { case (v, fs) => (v, fs.map(_._1)) }
        .sortBy(_._2.head))
    }
  }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    partitionGroups match {
      case Some(gs) =>
        // Transform keys resolve against the owning catalog's
        // FunctionCatalog (WarehouseCatalog serves bucket/days); a
        // path-based read has no catalog, and Spark's partitioning rule
        // degrades it to unknown — correctness never depends on this.
        val keys = partSpecs.map {
          case WarehouseSink.IdPart(c) => Expressions.identity(c)
          case WarehouseSink.BucketPart(n, c) => Expressions.bucket(n, c)
          case WarehouseSink.DaysPart(c) =>
            Expressions.apply("days", Expressions.column(c))
        }
        new KeyGroupedPartitioning(keys.toArray, gs.size)
      case None => new UnknownPartitioning(keptFiles.size)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val dvc = dvLookup
    def dvOf(f: String): String = dvc.get(f).map(_._1).getOrElse("")
    partitionGroups match {
      case Some(gs) => gs.map { case (v, fs) =>
        WarehouseGroupPartition(fs.map(f => new File(dir, f).getPath),
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            v.toArray), fs.map(dvOf)): InputPartition
      }.toArray
      case None =>
        val files0 = keptFiles
        // LIMIT pushdown (filterless scans only — see the builder note):
        // take files until their sidecar row counts (vectors subtracted)
        // cover the limit; a file with no #rows line contributes an
        // unknown amount, so the take keeps going past it.
        val files = pushedLimit match {
          case Some(l) if skipFilters.isEmpty && runtimeFilters.isEmpty =>
            var acc = 0L
            var done = false
            val b = Seq.newBuilder[String]
            for (f <- files0 if !done) {
              b += f
              WarehouseSink.readRowCount(dir, f).foreach { rc =>
                acc += rc - dvc.get(f).map(_._2).getOrElse(0L)
                if (acc >= l) done = true
              }
            }
            b.result()
          case _ => files0
        }
        files
          .map(f => WarehouseFilePartition(new File(dir, f).getPath,
            dvOf(f)): InputPartition)
          .toArray
    }
  }

  /** Per-partition sort order, reported ONLY when the live manifest's
    * clusterBy-maintenance claim holds (every file internally sorted by
    * the column; any append/DML publish clears it) — lets the planner
    * elide redundant SortExec nodes over freshly-OPTIMIZEd tables. */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    val m = versionAsOf match {
      case Some(v) => WarehouseSink.readManifestAt(dir, v)
      case None => WarehouseSink.readManifest(dir)
    }
    val sc = m.map(_.sortedBy).getOrElse("")
    if (sc.isEmpty || onlyFiles.nonEmpty || !required.fieldNames.contains(sc))
      Array.empty
    else Array(Expressions.sort(Expressions.identity(sc),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
  }

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(versionAsOf.isEmpty, "cannot stream a versionAsOf read")
    require(onlyFiles.isEmpty, "cannot stream a file-restricted read")
    if (cdfStream) new WarehouseCdfMicroBatchStream(dir, schema, required)
    else new WarehouseMicroBatchStream(dir, schema, required, skipChanges)
  }
}

/** Streaming READ from the warehouse — the table as a Delta-style
  * streaming source: each manifest generation is an offset, a micro-batch
  * is exactly the files the (start, end] generations ADDED, planned one
  * partition per file. The first batch delivers the full snapshot at
  * stream start (offset -1 → current), then each trigger delivers only
  * the new appends — per-batch cost tracks the append rate, never the
  * table size, which is what lets a 100 TB table feed a continuous
  * consumer.
  *
  * Contract: APPEND-ONLY between consumed offsets. A generation that
  * drops files (truncate, OPTIMIZE, DELETE/UPDATE/MERGE rewrites) breaks
  * offset arithmetic and fails loudly (run maintenance while no stream
  * is reading, or restart the stream fresh afterward); a vacuumed start
  * offset (history reclaimed past the checkpoint) likewise errors with
  * the recovery action rather than silently re-reading the world.
  * Exactly-once composes end to end: this source's offsets live in the
  * query checkpoint, and the WarehouseSink STREAMING_WRITE epoch guard
  * dedupes the replayed trailing batch on restart. */
private[sources] class WarehouseMicroBatchStream(dir: String,
                                                 schema: StructType,
                                                 required: StructType,
                                                 skipChanges: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class V(version: Long) extends Offset {
    override def json(): String = version.toString
  }

  override def initialOffset(): Offset = V(-1L)
  override def latestOffset(): Offset =
    V(WarehouseSink.readManifest(dir).map(_.version).getOrElse(-1L))
  override def deserializeOffset(json: String): Offset = V(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def filesAt(v: Long): Seq[String] =
    if (v < 0) Nil
    else WarehouseSink.readManifestAt(dir, v).map(_.files).getOrElse(
      throw new IllegalStateException(
        s"warehouse stream offset $v of $dir was vacuumed — history no " +
          "longer covers the checkpoint; restart the stream with a fresh " +
          "checkpoint to re-read the current snapshot"))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (vs, ve) = (start.asInstanceOf[V].version, end.asInstanceOf[V].version)
    if (ve <= vs) return Array.empty
    // skipChangeCommits (the Delta escape hatch, opted into knowingly):
    // walk generation by generation, deliver ONLY append-family commits'
    // added files, and silently pass over DML/truncate/maintenance
    // generations — the consumer accepts missing deletions/rewrites in
    // exchange for a stream that survives them. Off by default: the
    // append-only contract below fails loudly instead.
    def dvAt(v: Long): Map[String, String] =
      WarehouseSink.readManifestAt(dir, v)
        .map(m => WarehouseSink.dvRefs(m)
          .map(r => r.dataFile -> new File(dir, r.dvFile).getPath).toMap)
        .getOrElse(Map.empty)
    if (skipChanges) {
      if (vs < 0) {
        // Snapshot batch: apply the end generation's deletion vectors —
        // the consumer opted out of seeing deletes as CHANGES, not into
        // reading already-deleted rows.
        val dvs = dvAt(ve)
        return filesAt(ve).sorted
          .map(f => WarehouseFilePartition(new File(dir, f).getPath,
            dvs.getOrElse(f, "")): InputPartition)
          .toArray
      }
      return ((vs + 1) to ve).flatMap { v =>
        val m = WarehouseSink.readManifestAt(dir, v).getOrElse(
          throw new IllegalStateException(
            s"warehouse stream offset $v of $dir was vacuumed — restart " +
              "the stream with a fresh checkpoint"))
        m.op match {
          case "append" | "stream" | "wap" | "" =>
            val before = filesAt(v - 1).toSet
            m.files.filterNot(before).sorted
              .map(f => WarehouseFilePartition(new File(dir, f).getPath): InputPartition)
          case _ => Nil // change commit (incl. MoR DML): skipped by opt-in
        }
      }.toArray
    }
    val before = filesAt(vs)
    val after = filesAt(ve)
    val dropped = before.toSet -- after.toSet
    if (dropped.nonEmpty) throw new IllegalStateException(
      s"warehouse stream on $dir: generation range ($vs, $ve] dropped " +
        s"${dropped.size} file(s) — the source is append-only; truncate/" +
        "OPTIMIZE/DML require restarting the stream with a fresh " +
        "checkpoint, or opt into option(\"skipChangeCommits\", \"true\")")
    // A merge-on-read delete drops no file, but rows this stream already
    // delivered are gone — the same append-only violation, caught by the
    // vector state instead of the file set.
    if (vs >= 0 && dvAt(vs) != dvAt(ve)) throw new IllegalStateException(
      s"warehouse stream on $dir: generation range ($vs, $ve] changed " +
        "deletion vectors (merge-on-read DML) — the source is " +
        "append-only; restart the stream with a fresh checkpoint, or opt " +
        "into option(\"skipChangeCommits\", \"true\")")
    val dvs = if (vs < 0) dvAt(ve) else Map.empty[String, String]
    (after.toSet -- before.toSet).toSeq.sorted
      .map(f => WarehouseFilePartition(new File(dir, f).getPath,
        dvs.getOrElse(f, "")): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val m = WarehouseSink.readManifest(dir)
    new WarehouseReaderFactory(schema, required,
      m.map(x => StructType.fromDDL(x.schemaDdl).fieldNames.toSeq)
        .getOrElse(Nil),
      m.map(_.colIds).getOrElse(Nil),
      m.map(WarehouseSink.defaultsOf).getOrElse(Map.empty))
  }
}

/** Streaming READ of the row-level change feed — the table as a CDC
  * source: each manifest generation is an offset (same cursor as the
  * append-only stream), and a micro-batch delivers the generations'
  * CHANGE IMAGES with `_change_type` + `_commit_version` columns.
  * Append/stream/WAP generations synthesize insert images from their
  * added files; DML generations read their captured change files
  * (refused loudly when the DML ran with the feed disabled); truncate
  * synthesizes delete images of the out-going generation plus inserts
  * of the new one; maintenance contributes nothing. This is what lets a
  * downstream consumer maintain a RETRACTABLE view continuously (the
  * q208 fold, streaming): per-trigger cost tracks the CHANGED rows,
  * never the table — and unlike the append-only source, DML no longer
  * kills the stream. The first batch (offset -1 → current) is the
  * current snapshot as inserts stamped with the live version. */
private[sources] class WarehouseCdfMicroBatchStream(dir: String,
                                                    schema: StructType,
                                                    required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class V(version: Long) extends Offset {
    override def json(): String = version.toString
  }

  override def initialOffset(): Offset = V(-1L)
  override def latestOffset(): Offset =
    V(WarehouseSink.readManifest(dir).map(_.version).getOrElse(-1L))
  override def deserializeOffset(json: String): Offset = V(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def manifestAt(v: Long): WarehouseSink.Manifest =
    WarehouseSink.readManifestAt(dir, v).getOrElse(
      throw new IllegalStateException(
        s"warehouse CDF stream offset $v of $dir was vacuumed — restart " +
          "the stream with a fresh checkpoint to re-read the snapshot"))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (vs, ve) = (start.asInstanceOf[V].version, end.asInstanceOf[V].version)
    if (ve <= vs) return Array.empty
    val parts = Seq.newBuilder[InputPartition]
    def file(f: String) = new File(dir, f).getPath
    def dvMapOf(m: WarehouseSink.Manifest): Map[String, String] =
      WarehouseSink.dvRefs(m)
        .map(r => r.dataFile -> new File(dir, r.dvFile).getPath).toMap
    if (vs < 0) {
      // stream start: the live snapshot as inserts at the start version,
      // read through the live deletion vectors
      val m = manifestAt(ve)
      val dvs = dvMapOf(m)
      m.files.foreach(f =>
        parts += WarehouseCdfPartition(file(f), Some("insert"), ve,
          dvs.getOrElse(f, "")))
    } else (vs + 1) to ve foreach { v =>
      val m = manifestAt(v)
      m.op match {
        case "delete" | "delete_mor" | "update" | "update_mor" | "merge" | "merge_mor" | "merge_mor_apply" =>
          if (!m.cdf) throw new IllegalStateException(
            s"warehouse CDF stream on $dir: version $v is a ${m.op} " +
              "committed with the change feed disabled — enableChangeFeed()" +
              " before running DML under a live CDF stream")
          m.changeFiles.foreach(f =>
            parts += WarehouseCdfPartition(file(f), None, v))
        case "append" | "stream" | "wap" =>
          val before = manifestAt(v - 1).files.toSet
          m.files.filterNot(before).foreach(f =>
            parts += WarehouseCdfPartition(file(f), Some("insert"), v))
        case "truncate" | "restore" =>
          // Each side replays through ITS generation's vectors: a row
          // already MoR-deleted before the truncate must not produce a
          // spurious delete image (it was never live at v-1).
          val prevM = manifestAt(v - 1)
          val dvPrev = dvMapOf(prevM)
          val dvNow = dvMapOf(m)
          prevM.files.foreach(f =>
            parts += WarehouseCdfPartition(file(f), Some("delete"), v,
              dvPrev.getOrElse(f, "")))
          m.files.foreach(f =>
            parts += WarehouseCdfPartition(file(f), Some("insert"), v,
              dvNow.getOrElse(f, "")))
        case "maintain" => () // layout-only: zero row changes
        case other => throw new IllegalStateException(
          s"warehouse CDF stream on $dir: version $v has no change-feed " +
            s"mapping (op='$other' — written by a pre-CDF release?)")
      }
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val m = WarehouseSink.readManifest(dir)
    new WarehouseReaderFactory(schema, required,
      m.map(x => StructType.fromDDL(x.schemaDdl).fieldNames.toSeq)
        .getOrElse(Nil),
      m.map(_.colIds).getOrElse(Nil),
      m.map(WarehouseSink.defaultsOf).getOrElse(Map.empty))
  }
}

/** One change-feed input split: a file to read plus the CDF metadata to
  * stamp — `constType` None when the file carries its own _change_type
  * column (a DML capture), Some(t) when every row is type t (synthesized
  * insert/delete images from plain data files). */
private[sources] case class WarehouseCdfPartition(path: String,
                                                  constType: Option[String],
                                                  version: Long,
                                                  dv: String = "")
    extends InputPartition

private[sources] class WarehouseReaderFactory(schema: StructType,
                                              required: StructType,
                                              tableCols: Seq[String] = Nil,
                                              tableIds: Seq[Long] = Nil,
                                              defaults: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  /** Per-file (local → current) name translation from stable field ids;
    * empty when either side predates them (by-name decode, unchanged). */
  private def rnOf(file: File): Map[String, String] =
    WarehouseSink.renameMap(file.getParent, file.getName, tableCols, tableIds)

  /** What a required column reads when the FILE lacks it: its initial
    * default if the scanned generation declares one, else null. Decoded
    * once per reader, not per row. */
  private val defVals: Array[Any] = required.fields.map { f =>
    defaults.get(f.name)
      .map(v => WarehouseSink.decode(v, f.dataType)).orNull
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case WarehouseFilePartition(path, dv) => fileReader(path, dv)
      case WarehouseCdfPartition(path, ct, v, dv) => cdfFileReader(path, ct, v, dv)
      case WarehouseGroupPartition(paths, _, dvs) =>
        // one value group = its files read back to back, each through its
        // own per-file column mapping
        new PartitionReader[InternalRow] {
          private val remaining = paths.zipAll(dvs, "", "").iterator
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (cur == null || !cur.next()) {
              if (cur != null) cur.close()
              cur = null
              if (!remaining.hasNext) return false
              val (f, dv) = remaining.next()
              cur = fileReader(f, dv)
            }
            true
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }

  /** Change-feed split reader: same pruned by-name decode as
    * [[fileReader]], with the CDF metadata columns stamped from the
    * partition — `_commit_version` always (never stored), `_change_type`
    * when the split is a synthesized insert/delete over a plain data
    * file (DML capture files carry the column themselves). */
  private def cdfFileReader(path: String, constType: Option[String],
                            version: Long,
                            dv: String = ""): PartitionReader[InternalRow] = {
    val file = new File(path)
    val rn = rnOf(file)
    // CDF metadata columns live OUTSIDE the table's field-id space (a
    // capture file's _change_type has a staged id the binding never
    // knows) — resolve them by name, translate only the data columns.
    val fileCols = WarehouseSink.readFileCols(file.getParent, file.getName)
      .getOrElse(schema.fieldNames.toSeq)
      .map(c => if (c == "_change_type" || c == "_commit_version") c
                else rn.getOrElse(c, c))
    val idxs = required.fields.map(f => fileCols.indexOf(f.name))
    val types = required.fields.map(_.dataType)
    val names = required.fields.map(_.name)
    val ctVal = constType
      .map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
    val deleted = if (dv.isEmpty) Array.emptyLongArray
      else WarehouseSink.readDvPositions(dv)
    new PartitionReader[InternalRow] {
      private val in = new BufferedReader(new FileReader(path))
      private var line: String = _
      private var pos = -1L
      private var dvIdx = 0
      override def next(): Boolean = {
        while (true) {
          line = in.readLine(); pos += 1
          if (line == null) return false
          if (dvIdx < deleted.length && deleted(dvIdx) == pos) dvIdx += 1
          else return true
        }
        false
      }
      override def get(): InternalRow = {
        val toks = line.split("\t", -1)
        InternalRow.fromSeq(Array.tabulate(idxs.length) { j =>
          if (names(j) == "_commit_version") version
          else if (names(j) == "_change_type" && ctVal != null) ctVal
          else if (idxs(j) < 0) defVals(j)
          else WarehouseSink.decode(toks(idxs(j)), types(j)) }.toSeq)
      }
      override def close(): Unit = in.close()
    }
  }

  private def fileReader(path: String,
                         dv: String = ""): PartitionReader[InternalRow] = {
    // Pruned decode: only the requested token positions are parsed (an
    // empty projection — e.g. a bare COUNT the aggregate path refused —
    // still counts lines). Indices resolve by name against the FILE'S OWN
    // column order (its `#cols` sidecar line) — after a schema evolution
    // a pre-evolution file's positions differ from the table schema's,
    // and a column the file predates decodes as null. Legacy sidecars
    // without the line fall back to the table schema order (correct
    // because evolution refuses to publish over them).
    //
    // A deletion vector (sorted positions) filters rows with one pointer
    // walk; the `__graft_file`/`__graft_pos` pseudo-columns (requested
    // only by the internal rowPos read that builds NEW vectors) expose
    // each surviving row's file name and PHYSICAL line position.
    val file = new File(path)
    val rn = rnOf(file)
    // surface local names as CURRENT ones; CDF metadata columns (read
    // through this path by tableChanges' capture-file reads) live
    // outside the field-id space and resolve by name
    val fileCols = WarehouseSink.readFileCols(file.getParent, file.getName)
      .getOrElse(schema.fieldNames.toSeq)
      .map(c => if (c == "_change_type" || c == "_commit_version") c
                else rn.getOrElse(c, c))
    val idxs = required.fields.map(f => fileCols.indexOf(f.name))
    val types = required.fields.map(_.dataType)
    val names = required.fields.map(_.name)
    val fileNameU8 =
      org.apache.spark.unsafe.types.UTF8String.fromString(file.getName)
    val deleted = if (dv.isEmpty) Array.emptyLongArray
      else WarehouseSink.readDvPositions(dv)
    new PartitionReader[InternalRow] {
      private val in = new BufferedReader(new FileReader(path))
      private var line: String = _
      private var pos = -1L
      private var dvIdx = 0
      override def next(): Boolean = {
        while (true) {
          line = in.readLine(); pos += 1
          if (line == null) return false
          if (dvIdx < deleted.length && deleted(dvIdx) == pos) dvIdx += 1
          else return true
        }
        false
      }
      override def get(): InternalRow = {
        // -1 keeps trailing empty tokens (a NULL-encoded last column).
        val toks = line.split("\t", -1)
        InternalRow.fromSeq(Array.tabulate(idxs.length) { j =>
          if (idxs(j) >= 0) WarehouseSink.decode(toks(idxs(j)), types(j))
          else if (names(j) == "__graft_file") fileNameU8
          else if (names(j) == "__graft_pos") pos
          else defVals(j) }.toSeq)
      }
      override def close(): Unit = in.close()
    }
  }
}
