package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.sources.{CsvCatalog, DecimalMode}

/** Predicate operators for row conditionals. The reference consumes the
  * framework's `Mapping.Conditionals` predicate set during the read loop
  * (reference: src/CSVSourceReader.cs:132-137, 145-148; SURVEY.md §2.1 R6);
  * this is the equivalent declarative set, compiled to a Catalyst filter so
  * predicate pushdown reaches the scan.
  */
sealed trait CondOp
object CondOp {
  case object EqualTo     extends CondOp
  case object NotEqualTo  extends CondOp
  case object Contains    extends CondOp
  case object NotContains extends CondOp
  case object StartsWith  extends CondOp
  case object EndsWith    extends CondOp
  case object GreaterThan extends CondOp // numeric compare on double cast
  case object LessThan    extends CondOp
  case object In          extends CondOp
}

/** One row predicate: column vs constant(s). */
final case class Conditional(column: String, op: CondOp, values: Seq[String]) {
  def toColumn: Column = {
    // a <conditional> with no <value> children loads as values = Nil and
    // would die as a bare values.head NoSuchElementException mid-compile;
    // fail as a VALIDATION error naming the conditional (r18 review)
    require(op == CondOp.In || values.nonEmpty,
      s"conditional on '$column' ($op) has no value")
    val c = CsvCatalog.column(column)
    op match {
      case CondOp.EqualTo     => c === values.head
      case CondOp.NotEqualTo  => c =!= values.head
      case CondOp.Contains    => c.contains(values.head)
      case CondOp.NotContains => !c.contains(values.head)
      case CondOp.StartsWith  => c.startsWith(values.head)
      case CondOp.EndsWith    => c.endsWith(values.head)
      case CondOp.GreaterThan => c.cast("double") > values.head.toDouble
      case CondOp.LessThan    => c.cast("double") < values.head.toDouble
      case CondOp.In          => c.isin(values: _*)
    }
  }
}
object Conditional {
  def apply(column: String, op: CondOp, value: String): Conditional =
    Conditional(column, op, Seq(value))
}

/** One output column: either a projection of a source column (with optional
  * destination-driven cast + decimal normalization — reference
  * src/CSVSourceReader.cs:218-243, R5/R7/R8) or a constant "script" value
  * (reference src/CSVDestinationWriter.cs:95-115, R12).
  *
  * `transform` is the per-value hook the reference exposes as
  * `ColumnMapping.ConvertInputValueToOutputValue`
  * (src/CSVDestinationWriter.cs:120, :135): a caller-supplied
  * `Column => Column` applied AFTER the destination cast — the same point
  * in the dataflow where the reference invokes it (on the converted value,
  * just before the write). It is code, not config (exactly like the
  * reference's C# delegate), so [[ConfigXml]] does not persist it.
  */
final case class ColumnMapping(
    source: Option[String],
    dest: String,
    active: Boolean = true,
    constant: Option[String] = None,
    castTo: Option[DataType] = None,
    decimalMode: DecimalMode = DecimalMode.None,
    timestampFormat: Option[String] = None,
    transform: Option[Column => Column] = None,
) {
  require(source.isDefined || constant.isDefined,
    s"mapping to '$dest' needs a source column or a constant")

  def toColumn: Column = {
    val base = (source, constant) match {
      case (_, Some(v))    => lit(v)
      case (Some(s), None) => CsvCatalog.column(s)
      case _               => throw new IllegalStateException
    }
    val converted = castTo match {
      case Some(t) if isFloating(t)  => Decimals.normalize(base, decimalMode).cast(t)
      case Some(t) if isTimestamp(t) => Timestamps.parseWithFallback(base, timestampFormat)
      case Some(t)                   => base.cast(t)
      case None                      => base
    }
    transform.fold(converted)(f => f(converted)).as(dest)
  }

  // DecimalType included (r18 review): the WRITE side formats decimals
  // under the culture rule, so the read side must normalize the comma
  // separator for them too — a Decimal castTo with decimalMode Comma
  // previously cast the raw comma string and silently produced NULLs
  private def isFloating(t: DataType): Boolean =
    t == org.apache.spark.sql.types.DoubleType ||
    t == org.apache.spark.sql.types.FloatType ||
    t.isInstanceOf[org.apache.spark.sql.types.DecimalType]

  private def isTimestamp(t: DataType): Boolean =
    t == org.apache.spark.sql.types.TimestampType
}

/** Datetime parse-with-fallback (R13). The reference formats any value it
  * cannot parse as `DateTime.MinValue` (reference
  * src/CSVDestinationWriter.cs:118-127); the engine equivalent is
  * `try_to_timestamp` with a `0001-01-01 00:00:00` sentinel — null-safe
  * under ANSI mode where a plain cast would abort the job.
  */
object Timestamps {
  val SentinelLiteral = "0001-01-01 00:00:00"

  def parseWithFallback(c: Column, format: Option[String]): Column = {
    val parsed = format match {
      case Some(f) => try_to_timestamp(c, lit(f))
      case None    => try_to_timestamp(c)
    }
    coalesce(parsed,
      to_timestamp(lit(SentinelLiteral), "yyyy-MM-dd HH:mm:ss"))
  }
}

/** Decimal-separator normalization (R8). All three reference modes, as pure
  * codegen-friendly expressions — no UDF (SURVEY.md §4.3).
  */
object Decimals {
  def normalize(c: Column, mode: DecimalMode): Column = mode match {
    case DecimalMode.Comma  => regexp_replace(c, ",", ".")
    case DecimalMode.Dot    => c
    case DecimalMode.None   => c
    case DecimalMode.Detect =>
      // Reference Converter.ToDouble: parse as-is, else with separators
      // swapped (src/CSVSourceReader.cs:231-234). try_cast keeps it null-safe.
      coalesce(
        c.try_cast("double").cast("string"),
        translate(c, ",.", ".,").try_cast("double").cast("string"),
        c)
  }
}

/** One source-table → destination-table mapping: projection + rename +
  * conditionals, i.e. the reference's per-mapping dataflow
  * (src/CSVProvider.cs:563-577) as a single declarative plan fragment.
  *
  * `rowHook` is the row-level seam the framework invokes as
  * `ProcessInputRow(row, mapping)` between the reader and the writer
  * (reference src/CSVProvider.cs:570): a whole-frame transform applied
  * after conditionals + projection, before the sink. Declarative
  * (`DataFrame => DataFrame`), so whatever it adds stays inside the one
  * distributed plan; like `transform`, it is code, not persisted config.
  */
final case class Mapping(
    sourceTable: String,
    destTable: String,
    columns: Seq[ColumnMapping],
    conditionals: Seq[Conditional] = Seq.empty,
    active: Boolean = true,
    rowHook: Option[DataFrame => DataFrame] = None,
) {
  /** Compile onto a source DataFrame: filter (conjunction, like the
    * reference's CheckConditionals) then project active mappings in order,
    * then the row hook. Catalyst pushes filter + pruning into the scan.
    */
  def compile(source: DataFrame): DataFrame = {
    val active = columns.filter(_.active)
    require(active.nonEmpty, s"mapping $sourceTable->$destTable has no active columns")
    val filtered = conditionals.map(_.toColumn)
      .reduceOption(_ && _).fold(source)(source.filter)
    val projected = filtered.select(active.map(_.toColumn): _*)
    rowHook.fold(projected)(h => h(projected))
  }
}
