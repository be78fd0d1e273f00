package graft.functions

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailFastMode, FailureSafeParser}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(data.cast("string"), schema)` without the per-record
  * reader: the payload's bytes (a binary or a string column, no cast
  * copy) go straight to Spark's own `JacksonParser` through Jackson's
  * byte-source parser. `from_json` wraps every record in a new
  * `InputStreamReader`, whose decoder buffers dominate a small
  * payload's parse.
  *
  * Results equal `from_json`'s for every input: PERMISSIVE mode, the
  * session time zone, the same nullable result type. A record takes
  * Spark's reader path (`JsonToStructsEvaluator`, the `from_json`
  * evaluator itself) whenever the two parsers could read different
  * characters, and whenever the byte parser rejects it:
  *  - invalid UTF-8: the reader replaces malformed bytes with U+FFFD,
  *    the byte parser rejects or decodes them differently;
  *  - a BOM or a NUL in the first 4 bytes: Jackson's byte bootstrap
  *    strips the BOM or auto-detects UTF-16/32 there;
  *  - any parse failure, so PERMISSIVE nulls and partial results come
  *    from the reader path exactly. */
case class JsonBytesToStruct(schema: StructType, child: Expression,
                             timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression {

  override def prettyName: String = "graft_json_bytes_to_struct"
  private lazy val nullableSchema = schema.toNullable
  override def dataType: DataType = nullableSchema
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string or binary input, got $other")
  }
  override def withTimeZone(tz: String): JsonBytesToStruct = copy(timeZoneId = Option(tz))

  // read on the executor from the task's conf, as JsonToStructs does
  @transient private lazy val nameOfCorruptRecord = SQLConf.get.columnNameOfCorruptRecord

  @transient private lazy val readerPath = JsonToStructsEvaluator(
    Map.empty, nullableSchema, nameOfCorruptRecord, timeZoneId, variantAllowDuplicateKeys = false)

  // FAILFAST, so a rejected record throws and is re-read by the reader
  // path instead of getting a PERMISSIVE result from this parser
  @transient private lazy val bytePath: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId.get, nameOfCorruptRecord)
    val raw = new JacksonParser(
      StructType(nullableSchema.filterNot(_.name == options.columnNameOfCorruptRecord)),
      options, allowArrayAsStructs = false)
    new FailureSafeParser[UTF8String](
      (s: UTF8String) => raw.parse(s, JsonBytesToStruct.byteParser, identity[UTF8String]),
      FailFastMode, nullableSchema, options.columnNameOfCorruptRecord)
  }

  def parse(json: UTF8String): InternalRow =
    if (!JsonBytesToStruct.readsAsUtf8(json)) viaReader(json)
    else try {
      val rows = bytePath.parse(json)
      if (rows.hasNext) rows.next() else null
    } catch { case NonFatal(_) => viaReader(json) }

  private def viaReader(json: UTF8String): InternalRow =
    readerPath.evaluate(json).asInstanceOf[InternalRow]

  override def nullSafeEval(input: Any): Any = input match {
    case bytes: Array[Byte] => parse(UTF8String.fromBytes(bytes))
    case s: UTF8String => parse(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonBytes", this, classOf[JsonBytesToStruct].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val in = if (child.dataType == BinaryType) s"${classOf[UTF8String].getName}.fromBytes($c)" else c
      s"""${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.parse($in);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): JsonBytesToStruct =
    copy(child = newChild)
}

object JsonBytesToStruct {
  /** `data` (binary or string) parsed as JSON into `schema`. */
  def of(data: Column, schema: StructType): Column =
    GraftSqlShim.column(JsonBytesToStruct(schema, GraftSqlShim.expression(data)))

  /** True when Jackson's byte-source parser reads exactly the characters
    * a UTF-8 reader decodes: valid UTF-8, no BOM, no NUL in the first 4
    * bytes. */
  private def readsAsUtf8(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < 4 && i < n) { if (s.getByte(i) == 0) return false; i += 1 }
    val bom = n >= 3 && s.getByte(0) == 0xEF.toByte && s.getByte(1) == 0xBB.toByte &&
      s.getByte(2) == 0xBF.toByte
    !bom && s.isValid
  }

  private val byteParser: (JsonFactory, UTF8String) => JsonParser = (f, s) =>
    s.getBaseObject match {
      case a: Array[Byte] =>
        f.createParser(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => f.createParser(s.getBytes)
    }
}
