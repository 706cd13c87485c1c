package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, JOIN}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types._

/** What graft reads from one parquet footer: the file's row count and each
  * top-level primitive column by name. Kept per file version by
  * [[Tables.footer]]. */
private[graft] final case class Footer(rows: Long, columns: Map[String, Footer.Column])

private[graft] object Footer {
  /** One column over all row groups. `annotation` is null when the column
    * has none. For INT32/INT64 columns `complete` says every row group
    * carries statistics, and `range` is the (min, max) of the non-null
    * values, None when every value is null; other columns are never
    * complete. */
  final case class Column(physical: PrimitiveTypeName,
                          annotation: LogicalTypeAnnotation,
                          complete: Boolean, range: Option[(Long, Long)])

  def read(conf: Configuration, st: FileStatus): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    val meta = try reader.getFooter finally reader.close()
    val blocks = meta.getBlocks.asScala.toSeq
    val columns = meta.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive =>
        val p = f.asPrimitiveType
        val integral = p.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
          p.getPrimitiveTypeName == PrimitiveTypeName.INT64
        var complete = integral
        var range = Option.empty[(Long, Long)]
        if (integral) blocks.foreach { b =>
          b.getColumns.asScala.find(c => c.getPath.size == 1 &&
              c.getPath.toArray.head == f.getName) match {
            case None => complete = false
            case Some(c) =>
              val s = c.getStatistics
              if (s == null) complete = false
              else if (s.hasNonNullValue) {
                val (lo, hi) = (s.genericGetMin.asInstanceOf[Number].longValue,
                  s.genericGetMax.asInstanceOf[Number].longValue)
                range = Some(range.fold((lo, hi)) { case (l, h) =>
                  (math.min(l, lo), math.max(h, hi)) })
              } else if (!(s.isNumNullsSet && s.getNumNulls == c.getValueCount))
                complete = false
          }
        }
        f.getName -> Column(p.getPrimitiveTypeName, p.getLogicalTypeAnnotation,
          complete, range)
    }.toMap
    Footer(blocks.map(_.getRowCount).sum, columns)
  }

  /** The files a plain parquet relation scans, or None when `rel` is not
    * one: a batch `HadoopFsRelation` over `ParquetFileFormat` itself (not
    * a subclass) with no partition columns. */
  def files(rel: LogicalRelation): Option[(HadoopFsRelation, Seq[FileStatus])] =
    if (rel.isStreaming) None else files(rel.relation)

  def files(rel: BaseRelation): Option[(HadoopFsRelation, Seq[FileStatus])] = rel match {
    case fs: HadoopFsRelation if fs.partitionSchema.isEmpty &&
        fs.fileFormat.getClass == classOf[ParquetFileFormat] =>
      Some(fs -> fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus))
    case _ => None
  }

  /** The footer column named `name` under the session's resolver, if
    * exactly one matches. */
  def column(f: Footer, name: String): Option[Column] = {
    val resolver = SQLConf.get.resolver
    f.columns.collect { case (n, c) if resolver(n, name) => c }.toList match {
      case c :: Nil => Some(c)
      case _ => None
    }
  }

  /** Whether a scan reading `c` as Spark type `t` returns the stored
    * integers unchanged, so the footer's min and max are the scan's. A
    * DATE is stored as its epoch day and a microsecond TIMESTAMP as its
    * epoch micros, which are also Spark's DateType and TimestampType
    * (UTC-adjusted) or TimestampNTZType (not adjusted) values, as long as
    * the read rebases nothing ([[firstUnrebased]]). */
  def readsStored(c: Column, t: DataType): Boolean = (c.physical, c.annotation) match {
    case (PrimitiveTypeName.INT64, null) => t == LongType
    case (PrimitiveTypeName.INT64, i: IntLogicalTypeAnnotation) => i.isSigned && t == LongType
    case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) => t match {
      case LongType => ts.getUnit != TimeUnit.MILLIS
      case TimestampType => ts.getUnit == TimeUnit.MICROS && ts.isAdjustedToUTC
      case TimestampNTZType => ts.getUnit == TimeUnit.MICROS && !ts.isAdjustedToUTC
      case _ => false
    }
    case (PrimitiveTypeName.INT32, null) => t == IntegerType || t == LongType
    case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => t == DateType
    case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation) if i.isSigned =>
      t match {
        case IntegerType | LongType => true
        case ShortType => i.getBitWidth <= 16
        case ByteType => i.getBitWidth <= 8
        case _ => false
      }
    case _ => false
  }

  /** The smallest stored value a read of each calendar type never
    * rebases from the hybrid Julian calendar: 1582-10-15 for days, and
    * 1900-01-02 UTC for micros (past the last switch of any time zone). A
    * column whose footer min is below it is left to the scan. */
  val firstUnrebased: Map[DataType, Long] = Map(
    DateType -> -141427L,
    TimestampType -> -2208902400000000L,
    TimestampNTZType -> -2208902400000000L)
}

/** Answers a table-wide MIN/MAX/COUNT(*) from parquet footers: a global
  * `Aggregate` whose input is a plain parquet scan (at most a Project in
  * between) becomes a one-row `LocalRelation`, so `max(ts)` reads a few
  * KB of footers instead of the table.
  *
  * Every aggregate must be a non-distinct, unfiltered `count(*)` (row
  * counts) or `min`/`max` of one INT32/INT64 column read as stored (an
  * integer, a DATE or a microsecond TIMESTAMP), wrapped only in steps
  * that never decrease: `*` or `div` by a positive integral literal,
  * `+`/`-` of an integral literal, widening integral casts, and the
  * identities `timestamp_micros` and `unix_micros`. Arithmetic must be
  * ANSI (wrapping on overflow is not monotone). The wrapper is evaluated on the column's footer min and
  * max, so a step that overflows on either throws here, and the plan is
  * left as it is: the scan then throws as it would have. The plan is also
  * left alone when any file lacks complete statistics for the column,
  * a footer cannot be read, or parquet columns are matched by field id. */
object FooterAggregate extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if a.groupingExpressions.isEmpty => fromFooters(a).getOrElse(a)
    }

  private def fromFooters(agg: Aggregate): Option[LogicalPlan] = {
    val (aliases, rel) = agg.child match {
      case Project(pl, r: LogicalRelation) if pl.forall(_.deterministic) =>
        (AttributeMap(pl.collect { case a: Alias => a.toAttribute -> a.child }), r)
      case r: LogicalRelation => (AttributeMap(Seq.empty[(Attribute, Expression)]), r)
      case _ => return None
    }
    val aggs = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae }).distinct
    val dataCols = rel.output.filter(a =>
      rel.relation.schema.exists(f => SQLConf.get.resolver(f.name, a.name)))
    val needs = aggs.map(need(_, aliases, dataCols))
    if (aggs.isEmpty || needs.exists(_.isEmpty) ||
        !agg.aggregateExpressions.forall(_.deterministic) ||
        SQLConf.get.getConfString("spark.sql.parquet.fieldId.read.enabled",
          "false").toBoolean) return None
    Try {
      val (fs, statuses) = Footer.files(rel).getOrElse(return None)
      lazy val conf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
      val footers = statuses.map(Tables.footer(_, conf))
      val values = aggs.zip(needs.flatten).map {
        case (ae, Rows) => ae -> Literal(footers.map(_.rows).sum, LongType)
        case (ae, Bound(c, arg, isMax)) =>
          val cols = footers.map(Footer.column(_, c.name))
          if (!cols.forall(_.exists(x => x.complete && Footer.readsStored(x, c.dataType))))
            return None
          val range = cols.flatMap(_.get.range).reduceOption((x, y) =>
            (math.min(x._1, y._1), math.max(x._2, y._2)))
          if (range.exists(r => Footer.firstUnrebased.get(c.dataType).exists(r._1 < _)))
            return None
          // Both ends are evaluated: an end that overflows throws here.
          val ends = range.map { case (lo, hi) => (at(arg, c, lo), at(arg, c, hi)) }
          ae -> Literal(ends.map(e => if (isMax) e._2 else e._1).orNull, ae.dataType)
      }.toMap[Expression, Expression]
      val row = agg.aggregateExpressions.map(_.transform(values).eval())
      LocalRelation(agg.output, Seq(InternalRow.fromSeq(row)))
    }.toOption
  }

  private sealed trait Need
  private case object Rows extends Need
  private final case class Bound(column: AttributeReference, arg: Expression,
                                 isMax: Boolean) extends Need

  /** What one aggregate needs from the footers, if they can answer it. */
  private def need(ae: AggregateExpression, aliases: AttributeMap[Expression],
                   cols: Seq[Attribute]): Option[Need] =
    if (ae.isDistinct || ae.filter.isDefined || ae.mode != Complete) None
    else ae.aggregateFunction match {
      case Count(cs) if cs.nonEmpty &&
          cs.forall(c => c.foldable && Try(c.eval() != null).getOrElse(false)) =>
        Some(Rows)
      case f @ (_: Min | _: Max) =>
        val arg = f.children.head.transform {
          case a: Attribute if aliases.contains(a) => aliases(a) }
        monotoneOver(arg, cols).map(Bound(_, arg, f.isInstanceOf[Max]))
      case _ => None
    }

  /** `arg` evaluated with column `c` bound to the stored integer `v`. */
  private def at(arg: Expression, c: AttributeReference, v: Long): Any = {
    val value: Any = c.dataType match {
      case ByteType => Math.toIntExact(v).toByte
      case ShortType => Math.toIntExact(v).toShort
      case IntegerType | DateType => Math.toIntExact(v)
      case _ => v
    }
    arg.transform {
      case a: AttributeReference if a.exprId == c.exprId => Literal(value, c.dataType)
    }.eval()
  }

  /** The data column `e` rises with, when `e` is one integral, DATE or
    * TIMESTAMP column wrapped only in non-decreasing ANSI steps. */
  private def monotoneOver(e: Expression,
                           cols: Seq[Attribute]): Option[AttributeReference] = {
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    object Positive {
      def unapply(l: Literal): Boolean = integral(l.dataType) && l.value != null &&
        l.value.asInstanceOf[Number].longValue > 0
    }
    object Constant {
      def unapply(l: Literal): Boolean = integral(l.dataType) && l.value != null
    }
    def ansi(b: BinaryArithmetic) = b.evalMode == EvalMode.ANSI
    e match {
      case a: AttributeReference if (integral(a.dataType) ||
          Footer.firstUnrebased.contains(a.dataType)) && cols.exists(_.exprId == a.exprId) =>
        Some(a)
      case MicrosToTimestamp(child) if integral(child.dataType) => monotoneOver(child, cols)
      case UnixMicros(child) => monotoneOver(child, cols)
      case c: Cast if integral(c.child.dataType) && integral(c.dataType) &&
          c.dataType.defaultSize >= c.child.dataType.defaultSize =>
        monotoneOver(c.child, cols)
      case b: Multiply if ansi(b) => (b.left, b.right) match {
        case (x, Positive()) => monotoneOver(x, cols)
        case (Positive(), x) => monotoneOver(x, cols)
        case _ => None
      }
      case b: IntegralDivide if ansi(b) => b.right match {
        case Positive() => monotoneOver(b.left, cols)
        case _ => None
      }
      case b: Add if ansi(b) => (b.left, b.right) match {
        case (x, Constant()) => monotoneOver(x, cols)
        case (Constant(), x) => monotoneOver(x, cols)
        case _ => None
      }
      case b: Subtract if ansi(b) => b.right match {
        case Constant() => monotoneOver(b.left, cols)
        case _ => None
      }
      case _ => None
    }
  }
}

/** An inner or cross join against a one-row `LocalRelation` becomes a
  * Project that appends the row as literal aliases carrying the same
  * attribute ids, with the join condition kept as a Filter. Together with
  * [[FooterAggregate]] this turns "filter against the table's max" into a
  * single scan with a literal filter. */
object OneRowJoin extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(l, r, Inner | Cross, cond, _) =>
        val projected = (literals(r), literals(l)) match {
          case (Some(lits), _) => Some(Project(l.output ++ lits, l))
          case (_, Some(lits)) => Some(Project(lits ++ r.output, r))
          case _ => None
        }
        projected.fold[LogicalPlan](j)(p => cond.fold[LogicalPlan](p)(Filter(_, p)))
    }

  private def literals(p: LogicalPlan): Option[Seq[NamedExpression]] = p match {
    case l: LocalRelation if !l.isStreaming && l.data.length == 1 =>
      val row = l.data.head
      Try(l.output.zipWithIndex.map { case (a, i) =>
        Alias(Literal(row.get(i, a.dataType), a.dataType), a.name)(a.exprId, a.qualifier)
      }).toOption
    case _ => None
  }
}
