package graft.sources

import java.io.File
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The warehouse as a real Spark catalog — `TableCatalog` +
  * `FunctionCatalog` over a root directory of manifest tables:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.WarehouseCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/warehouse")
  *   spark.sql("CREATE TABLE graft.db.t (id BIGINT, v STRING) " +
  *     "PARTITIONED BY (bucket(8, id))")
  *   spark.sql("INSERT INTO graft.db.t SELECT ...")
  *   spark.sql("SELECT * FROM graft.db.t VERSION AS OF 3")
  * }}}
  *
  * Identifiers map to `root/ns…/name` directories; every table is the
  * same manifest-protocol table the path-based API serves, so DDL/DML
  * issued through SQL and through `WarehouseSink.*` compose freely.
  *
  * The FunctionCatalog half is what unlocks storage-partitioned joins on
  * TRANSFORM layouts: Spark resolves a scan's reported
  * `bucket(N, col)` partitioning against the owning catalog's `bucket`
  * function — path-based reads have no catalog and degrade to per-file
  * partitions, which is why q181/q204's identity SPJ worked without this
  * but bucket SPJ needs it. The bound functions replay EXACTLY the
  * writer's [[WarehouseSink.transformValue]] hash, so a hypothetical
  * shuffle-side evaluation agrees with the recorded layout. */
class WarehouseCatalog extends TableCatalog with FunctionCatalog {
  private var root: String = _
  private var catalogName: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.root=<dir>")
  }
  override def name(): String = catalogName

  private def dirFor(ident: Identifier): String = {
    val parts = ident.namespace.toSeq :+ ident.name
    parts.foreach(p => require(!p.contains("/") && p != ".." && p.nonEmpty,
      s"illegal identifier part '$p'"))
    (root +: parts).mkString("/")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new File((root +: namespace.toSeq).mkString("/"))
    if (!base.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(d => new File(d, "_current").isFile)
      .map(d => Identifier.of(namespace, d.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    WarehouseSink.readManifest(dirFor(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val dir = dirFor(ident)
    val m = WarehouseSink.readManifest(dir).getOrElse(
      throw new NoSuchTableException(ident))
    new WarehouseTable(dir, StructType.fromDDL(m.schemaDdl))
  }

  /** SQL `VERSION AS OF v` time travel through the catalog. A
    * non-numeric version string resolves as a NAMED REF (tag or branch
    * head) — `SELECT … FROM graft.db.t VERSION AS OF 'release-1'`, the
    * Iceberg ref-addressing surface. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirFor(ident)
    val v = version.trim.toLongOption.getOrElse(
      WarehouseSink.readRef(dir, version.trim).getOrElse(
        throw new NoSuchTableException(ident)).version)
    val m = WarehouseSink.readManifestAt(dir, v).getOrElse(
      throw new NoSuchTableException(ident))
    new WarehouseTable(dir, StructType.fromDDL(m.schemaDdl), Some(v))
  }

  /** SQL `TIMESTAMP AS OF t` (micros since epoch) through the catalog:
    * newest retained generation committed at or before the instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirFor(ident)
    val cur = WarehouseSink.readManifest(dir).getOrElse(
      throw new NoSuchTableException(ident))
    val tsMs = timestampMicros / 1000L
    val cands = (0L to cur.version)
      .flatMap(WarehouseSink.readManifestAt(dir, _)).filter(_.ts <= tsMs)
    require(cands.nonEmpty,
      s"no retained generation of ${ident} at or before $timestampMicros")
    val v = cands.map(_.version).max
    new WarehouseTable(dir, StructType.fromDDL(
      WarehouseSink.readManifestAt(dir, v).get.schemaDdl), Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val dir = dirFor(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val spec = partitions.map(transformToSpec).mkString(",")
    WarehouseSink.parsePartSpecs(spec).foreach(t =>
      require(schema.fieldNames.contains(t.col),
        s"partition column ${t.col} not in table schema"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    WarehouseSink.writeManifest(dir, WarehouseSink.Manifest(0L,
      schema.toDDL, Nil, partitionCol = spec, op = "create",
      ts = System.currentTimeMillis()))
    new WarehouseTable(dir, schema)
  }

  private def transformToSpec(t: Transform): String = {
    def col: String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames.length == 1,
        s"transform ${t.describe()} must reference one top-level column")
      refs(0).fieldNames()(0)
    }
    t.name() match {
      case "identity" => col
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform ${t.describe()} lacks a bucket count"))
        s"bucket($n,$col)"
      case "days" => s"days($col)"
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform '$other' " +
          "(supported: identity, bucket, days)")
    }
  }

  /** SQL ALTER TABLE — the column-mapping verbs reached from DDL:
    * RENAME/DROP ride the stable-field-id machinery (q319's contract —
    * old files keep decoding under their original local names), ADD
    * COLUMN is the Iceberg-v3 initial-default path with a NULL default
    * (old rows read NULL, new writes store values). Field ids
    * auto-assign on first ALTER (idempotent). Anything outside the
    * column-verb set refuses loudly with the workaround, never a
    * silent partial apply — changes run left to right, so a failing
    * change leaves earlier ones committed (each verb is itself an
    * atomic manifest publish). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirFor(ident)
    // Column verbs need field-id bindings on every live file: assign
    // ids (idempotent) and, when any pre-id file exists, let maintain()
    // rewrite it with the `#ids` sidecar — the documented one-time
    // migration, run here so DDL callers never see the internal step.
    def ensureIds(): Unit = {
      WarehouseSink.assignColumnIds(dir)
      val m = WarehouseSink.readManifest(dir).get
      if (m.files.exists(f => WarehouseSink.readFileIds(dir, f).isEmpty))
        WarehouseSink.maintain(
          org.apache.spark.sql.SparkSession.active, dir)
    }
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "ALTER TABLE: nested columns are not supported")
        ensureIds()
        WarehouseSink.renameColumn(dir, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "ALTER TABLE: nested columns are not supported")
        ensureIds()
        WarehouseSink.dropColumn(dir, d.fieldNames()(0))
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "ALTER TABLE: nested columns are not supported")
        require(a.isNullable,
          "ALTER TABLE ADD COLUMN: added columns must be nullable " +
            "(old rows have no value to satisfy NOT NULL)")
        ensureIds()
        WarehouseSink.addColumnWithDefault(dir, a.fieldNames()(0),
          a.dataType().sql, null)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported: append with " +
          "option(\"mergeSchema\",\"true\") evolves the schema; layout " +
          "changes go through WarehouseSink.maintain")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new File(dirFor(ident))
    if (!new File(dir, "_current").isFile) return false
    WarehouseSink.deleteRecursively(dir)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val dst = new File(dirFor(newIdent))
    java.nio.file.Files.createDirectories(dst.getParentFile.toPath)
    java.nio.file.Files.move(new File(dirFor(oldIdent)).toPath, dst.toPath)
  }

  // ---- FunctionCatalog: the transforms the writer understands ----
  private val FnNames = Seq("bucket", "days")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    FnNames.map(Identifier.of(namespace, _)).toArray

  override def functionExists(ident: Identifier): Boolean =
    FnNames.contains(ident.name.toLowerCase)

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name.toLowerCase match {
      case "bucket" => WarehouseCatalog.BucketUnbound
      case "days" => WarehouseCatalog.DaysUnbound
      case _ => throw new NoSuchFunctionException(ident)
    }
}

object WarehouseCatalog {
  /** `bucket(numBuckets, key)` — the writer's exact hash, bound for
    * Spark's transform resolution (storage-partitioned joins compare the
    * two sides' canonical names and bucket counts; a shuffle-side
    * evaluation, if ever enabled, reproduces the recorded layout). */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(N, col): graft warehouse hash-bucket transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket needs (numBuckets, key), got ${inputType.simpleString}")
      val keyType = inputType.fields(1).dataType
      require(Seq(LongType, IntegerType, StringType).contains(keyType),
        s"bucket key must be int/long/string, got ${keyType.simpleString}")
      new ScalarFunction[java.lang.Long] {
        override def inputTypes(): Array[DataType] =
          Array(IntegerType, keyType)
        override def resultType(): DataType = LongType
        override def name(): String = "bucket"
        override def canonicalName(): String = "graft.bucket"
        override def isResultNullable: Boolean = false
        override def produceResult(input: InternalRow): java.lang.Long = {
          val n = input.getInt(0)
          val key: Any = keyType match {
            case LongType => java.lang.Long.valueOf(input.getLong(1))
            case IntegerType => java.lang.Integer.valueOf(input.getInt(1))
            case StringType => input.getUTF8String(1)
          }
          WarehouseSink.transformValue(
            WarehouseSink.BucketPart(n, "k"), key).asInstanceOf[java.lang.Long]
        }
      }
    }
  }

  /** `days(epochMicros)` — the writer's calendar-day transform. */
  object DaysUnbound extends UnboundFunction {
    override def name(): String = "days"
    override def description(): String =
      "days(col): graft warehouse epoch-microsecond day transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == LongType,
        s"days needs one epoch-microsecond long, got ${inputType.simpleString}")
      new ScalarFunction[java.lang.Long] {
        override def inputTypes(): Array[DataType] = Array(LongType)
        override def resultType(): DataType = LongType
        override def name(): String = "days"
        override def canonicalName(): String = "graft.days"
        override def isResultNullable: Boolean = false
        override def produceResult(input: InternalRow): java.lang.Long =
          WarehouseSink.transformValue(
            WarehouseSink.DaysPart("k"),
            java.lang.Long.valueOf(input.getLong(0)))
            .asInstanceOf[java.lang.Long]
      }
    }
  }
}
