package graft.functions

import java.io.ByteArrayOutputStream

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One compiled Jackson STREAMING pass from a ProductView wire line to
  * the FLAT record the pipeline consumes: the six wire fields plus
  * `json_ok`. It is the engine's only parser of the wire record, and
  * replaces Spark's JSON-to-struct reader (`JsonToStructs`) over the
  * nested record schema + a struct-flattening select.
  *
  * Why: `JsonToStructs` is CodegenFallback — every record pays
  * interpreted dispatch plus the generic row assembly of the full
  * nested schema, then a second projection flattens it. Measured at
  * sf0.1 the JsonToStructs leg alone cost ~0.8 s per pass, paid by every
  * batch-parity pipeline query (parse, window count, distinct users,
  * content dedup, ...). This expression parses once, navigates the two
  * nested objects directly, and emits the flat row from inside
  * whole-stage codegen.
  *
  * Parity discipline: the kernel walks the TOKEN STREAM with the same
  * `JsonFactory` feature set Spark's `JSONOptions.buildJsonFactory`
  * configures by default (ALLOW_SINGLE_QUOTES and
  * ALLOW_NON_NUMERIC_NUMBERS on; comments, unquoted field names,
  * leading zeros, backslash-escaping-any, unescaped control chars
  * off — verified against the 4.1.2 bytecode), and renders non-string
  * tokens in string slots with `JsonGenerator.copyCurrentStructure`,
  * the literal mechanism `JacksonParser`'s StringType fallback uses.
  * Same factory + same copy routine = the rendered text (float
  * canonicalization, duplicate keys INSIDE a stringified subtree,
  * NaN/Infinity literals) agrees by construction, where the previous
  * DOM (`readTree`) spelling diverged (single-quoted JSON rejected;
  * duplicate keys in stringified subtrees collapsed last-wins).
  *
  * Replicated PERMISSIVE + partial-results contract (spec-pinned
  * side-by-side, ProductViewParseSpec). `json_ok` is false exactly
  * where `JsonToStructs` over the record schema + `_corrupt_record`
  * fills that column:
  *  - malformed JSON, a non-object root (array/scalar/`null`) -> a
  *    NON-null row of all-null wire fields, `json_ok` false;
  *  - empty / whitespace-only input -> NULL row (that is what
  *    JsonToStructs returns there — the one case the struct itself is
  *    null; [[graft.streaming.ProductViewPipeline.parseWithRaw]] reads
  *    it as OK, as `_corrupt_record IS NULL` does);
  *  - missing field or JSON null -> null field;
  *  - a string-typed field holding a non-string token -> the token
  *    subtree re-rendered via copyCurrentStructure (duplicate keys
  *    preserved, floats through double: `5.00` -> "5.0");
  *  - `properties`/`context` present but not an object (an empty
  *    string included) -> `json_ok` false, that SUBTREE's fields null,
  *    sibling fields keep their parsed values (partial-results mode); a
  *    duplicate occurrence whose conversion FAILS does not overwrite
  *    an earlier success (the partial-results catch skips the field,
  *    leaving the slot), while a successful re-conversion overwrites
  *    (last-wins) — `json_ok` stays false either way.
  */
case class ProductViewParse(child: Expression) extends UnaryExpression {

  // analysis-time type check: JsonToStructs rejects a non-string child at
  // plan time; the kernel must too (a BinaryType Kafka value passed
  // without .cast("string") previously surfaced as a mid-job
  // ClassCastException)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string child, got ${other.catalogString}")
  }

  override def dataType: DataType = ProductViewParse.structType
  override def nullable: Boolean = true
  override def prettyName: String = "product_view_parse"

  override def nullSafeEval(input: Any): Any =
    ProductViewParse.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Object $boxed = graft.functions.ProductViewParse.parse($c);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $boxed; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ProductViewParse =
    copy(child = newChild)
}

object ProductViewParse {

  val structType: StructType = StructType(Seq(
    StructField("event", StringType),
    StructField("messageid", StringType),
    StructField("userid", StringType),
    StructField("productid", StringType),
    StructField("source", StringType),
    StructField("timestamp", StringType),
    StructField("json_ok", BooleanType, nullable = false)))

  def productViewParse(wire: Column): Column =
    ColumnBridge.column(ProductViewParse(ColumnBridge.expression(wire)))

  // The exact feature set Spark's JSONOptions.buildJsonFactory applies
  // with no user options (4.1.2 bytecode: seven JsonReadFeatures from
  // option defaults; single-quotes and non-numeric-numbers default ON,
  // the rest OFF). JsonFactory is thread-safe.
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .configure(JsonReadFeature.ALLOW_JAVA_COMMENTS, false)
    .configure(JsonReadFeature.ALLOW_UNQUOTED_FIELD_NAMES, false)
    .configure(JsonReadFeature.ALLOW_SINGLE_QUOTES, true)
    .configure(JsonReadFeature.ALLOW_LEADING_ZEROS_FOR_NUMBERS, false)
    .configure(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS, true)
    .configure(JsonReadFeature.ALLOW_BACKSLASH_ESCAPING_ANY_CHARACTER, false)
    .configure(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS, false)
    .build()

  /** The row `JsonToStructs` yields for a corrupt record: every field null,
    * `json_ok` false. */
  private def corrupt(): InternalRow = {
    val row = new GenericInternalRow(7)
    row.setBoolean(6, false)
    row
  }

  /** StringType slot conversion — mirrors JacksonParser's StringType
    * converter: VALUE_STRING passes through, VALUE_NULL -> null, any
    * other token re-renders its whole subtree through a generator from
    * the SAME factory (copyCurrentStructure), which is what preserves
    * duplicate keys inside a stringified subtree and canonicalizes
    * numbers identically. */
  private def strValue(p: JsonParser): UTF8String = p.currentToken() match {
    case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
    case JsonToken.VALUE_NULL => null
    case _ =>
      val out = new ByteArrayOutputStream()
      val g = factory.createGenerator(out, JsonEncoding.UTF8)
      try g.copyCurrentStructure(p) finally g.close()
      UTF8String.fromBytes(out.toByteArray)
  }

  /** Skip the current value if it is a container; scalars are already
    * fully consumed as the current token. */
  private def skipValue(p: JsonParser): Unit = p.skipChildren()

  /** Converts a nested single-string-field struct slot
    * (`properties.productid`, `context.source`) into `row(slot)`: the
    * extracted value, or null for a JSON-null subtree. Returns false
    * when the value is wrong-typed (an empty string included: Spark
    * refuses it for non-string types); the slot is then LEFT untouched
    * (JsonToStructs' partial-results catch skips the field without
    * clearing an earlier duplicate's value) and the record is corrupt. */
  private def nested(p: JsonParser, field: String, row: InternalRow, slot: Int): Boolean =
    p.currentToken() match {
      case JsonToken.START_OBJECT =>
        var v: UTF8String = null
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val n = p.currentName()
          p.nextToken()
          if (n == field) v = strValue(p) else skipValue(p)
        }
        row.update(slot, v)
        true
      case JsonToken.VALUE_NULL => row.setNullAt(slot); true
      case _ => skipValue(p); false
    }

  /** Called from generated code — must stay public + static-friendly.
    * Returns null ONLY for blank input (the NULL-struct case). */
  def parse(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    try {
      val p = factory.createParser(bytes, 0, bytes.length)
      try {
        val first = p.nextToken()
        if (first == null) return null // blank input -> NULL struct
        if (first != JsonToken.START_OBJECT) return corrupt()
        val row = new GenericInternalRow(7)
        var ok = true
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val name = p.currentName()
          p.nextToken()
          name match {
            case "event" => row.update(0, strValue(p))
            case "messageid" => row.update(1, strValue(p))
            case "userid" => row.update(2, strValue(p))
            case "timestamp" => row.update(5, strValue(p))
            case "properties" => ok &= nested(p, "productid", row, 3)
            case "context" => ok &= nested(p, "source", row, 4)
            case _ => skipValue(p)
          }
        }
        row.setBoolean(6, ok)
        row
      } finally p.close()
    } catch { case _: Exception => corrupt() }
  }
}
