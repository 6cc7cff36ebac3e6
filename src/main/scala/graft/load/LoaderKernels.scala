package graft.load

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{DateTimeFormatterHelper, Iso8601TimestampFormatter, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.sql.Timestamp
import java.text.{ParseException, ParsePosition}
import java.time.DateTimeException
import java.time.format.DateTimeFormatter

/** The loader's two per-row functions as Catalyst expressions: each has an
  * interpreted `nullSafeEval` and a `doGenCode`, so the CSV scan's
  * whole-stage code calls them with no encoder conversion and no thrown
  * exception on the common path.
  */
private object LoaderKernels extends DateTimeFormatterHelper {
  /** The java.time formatter an `Iso8601TimestampFormatter` over `pattern`
    * parses with (the same cache entry it reads).
    */
  def javaFormatter(pattern: String): DateTimeFormatter =
    getOrCreateFormatter(pattern, TimestampFormatter.defaultLocale, isParsing = true)
}

/** The first of `formats` that parses the trimmed string, as a timestamp;
  * null when none does. Equals `coalesce(formats.map(f =>
  * try_to_timestamp(trim(child), f)))` on every input: it parses with the
  * same formatters `GetTimestamp` builds and catches what it catches. The
  * difference is the cost of a miss. `DateTimeFormatter.parse` throws a
  * `DateTimeParseException` when its pattern does not span the whole
  * string, and `GetTimestamp` catches it; here a format's `parse` runs only
  * once `parseUnresolved` has spanned the string, the step at which that
  * exception is thrown, so a string in none of the first formats costs no
  * exception. The gate is skipped under a LEGACY formatter and under the
  * EXCEPTION parser policy, where a failed parse may itself raise
  * `SparkUpgradeException`.
  */
private[load] case class ParseTimestamp(
    child: Expression,
    formats: Seq[String],
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"parse_timestamp takes a string; got ${child.dataType.simpleString}")
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_timestamp"
  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  /** One formatter per format, as `GetTimestamp` builds it. */
  @transient lazy val parsers: Array[TimestampFormatter] = formats.map(f =>
    TimestampFormatter(f, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)).toArray

  /** Per parser, the java.time formatter whose `parseUnresolved` gates it;
    * null where `parse` runs ungated.
    */
  @transient lazy val gates: Array[DateTimeFormatter] = {
    val gated = SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.EXCEPTION
    formats.zip(parsers).map {
      case (f, _: Iso8601TimestampFormatter) if gated => LoaderKernels.javaFormatter(f)
      case _ => null
    }.toArray
  }

  /** Whether `gate`'s pattern spans all of `s`, as `DateTimeFormatter.parse` requires. */
  private def spans(gate: DateTimeFormatter, s: String): Boolean = {
    val pos = new ParsePosition(0)
    gate.parseUnresolved(s, pos) != null && pos.getIndex == s.length
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].trim().toString
    var result: Any = null
    var i = 0
    while (result == null && i < parsers.length) {
      if (gates(i) == null || spans(gates(i), s))
        try result = parsers(i).parse(s)
        catch { case _: DateTimeException | _: ParseException => }
      i += 1
    }
    result
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("parseTimestamp", this)
    val parsers = ctx.addMutableState(s"${classOf[TimestampFormatter].getName}[]", "parsers",
      v => s"$v = $kernel.parsers();")
    val gates = ctx.addMutableState(s"${classOf[DateTimeFormatter].getName}[]", "gates",
      v => s"$v = $kernel.gates();")
    nullSafeCodeGen(ctx, ev, str => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val gate = ctx.freshName("gate")
      val pos = ctx.freshName("pos")
      s"""
         |String $s = $str.trim().toString();
         |${ev.isNull} = true;
         |for (int $i = 0; ${ev.isNull} && $i < $parsers.length; $i++) {
         |  ${classOf[DateTimeFormatter].getName} $gate = $gates[$i];
         |  if ($gate != null) {
         |    java.text.ParsePosition $pos = new java.text.ParsePosition(0);
         |    if ($gate.parseUnresolved($s, $pos) == null || $pos.getIndex() != $s.length()) continue;
         |  }
         |  try {
         |    ${ev.value} = $parsers[$i].parse($s);
         |    ${ev.isNull} = false;
         |  } catch (java.time.DateTimeException e) {
         |  } catch (java.text.ParseException e) {
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-file constants keyed by the exact `_metadata.file_path` string the
  * scan reports. Compares by identity: a load builds one table and every
  * copy of its expression shares it.
  */
private[load] final class FileRows(val byPath: java.util.HashMap[UTF8String, InternalRow])
    extends Serializable

private[load] object FileRows {
  /** The table of (path, (name, start, end)) pairs. */
  def apply(values: Seq[(String, (String, Timestamp, Timestamp))]): FileRows = {
    val toRow = CatalystTypeConverters.createToCatalystConverter(FileMetadataOf.dataType)
    val byPath = new java.util.HashMap[UTF8String, InternalRow]()
    values.foreach { case (path, v) =>
      byPath.put(UTF8String.fromString(path), toRow(Row.fromTuple(v)).asInstanceOf[InternalRow])
    }
    new FileRows(byPath)
  }
}

/** The `_1.._3` struct of a file's `FileMetadataColumns` values, looked up
  * by the file path `child` yields; null for a path not in the table.
  * Prints as `file_metadata(<child>)`, without the table, so a plan's text
  * does not grow with the number of files.
  */
private[load] case class FileMetadataOf(child: Expression, files: FileRows)
    extends UnaryExpression {
  override def dataType: DataType = FileMetadataOf.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "file_metadata"
  override def toString: String = s"$prettyName($child)"
  override def sql: String = s"$prettyName(${child.sql})"

  override def nullSafeEval(path: Any): Any = files.byPath.get(path)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val table = ctx.addReferenceObj("files", files.byPath, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, path =>
      s"""
         |${ev.value} = (InternalRow) $table.get($path);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

private[load] object FileMetadataOf {
  val dataType: StructType = StructType(Seq(
    StructField("_1", StringType), StructField("_2", TimestampType), StructField("_3", TimestampType)))
}
