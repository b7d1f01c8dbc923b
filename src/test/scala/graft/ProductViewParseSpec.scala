package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.ProductViewParse
import graft.streaming.{ProductViewPipeline => P, Simulator}

/** Bit-parity of the compiled [[ProductViewParse]] kernel, the engine's
  * only parser of the wire record, against the `from_json` + flatten
  * spelling it replaced — the VectorExpressions/WinnowFps discipline: a
  * kernel may only be faster, never different. The comparison runs side
  * by side IN Spark, so whatever from_json's PERMISSIVE/partial-results
  * behavior is on this engine version, the kernel must reproduce it:
  * the six fields, the NULL struct, and `json_ok` against
  * `_corrupt_record IS NULL`.
  */
class ProductViewParseSpec extends SparkSpec {

  /** The nested wire record the kernel is compared against. */
  private val productViewSchema: StructType = StructType(Seq(
    StructField("event", StringType),
    StructField("messageid", StringType),
    StructField("userid", StringType),
    StructField("properties", StructType(Seq(
      StructField("productid", StringType)))),
    StructField("context", StructType(Seq(
      StructField("source", StringType)))),
    StructField("timestamp", StringType)))

  private def viaKernel(df: DataFrame): DataFrame =
    df.select(col("value"),
      ProductViewParse.productViewParse(col("value")).as("v"))
      .select(col("value"), col("v").isNull.as("struct_null"),
        col("v.event"), col("v.messageid"), col("v.userid"),
        col("v.productid"), col("v.source"), col("v.timestamp"),
        coalesce(col("v.json_ok"), lit(true)).as("json_ok"))

  private def viaFromJson(df: DataFrame): DataFrame =
    df.select(col("value"),
      from_json(col("value"), productViewSchema.add("_corrupt_record", StringType),
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")).as("v"))
      .select(col("value"), col("v").isNull.as("struct_null"),
        col("v.event"), col("v.messageid"), col("v.userid"),
        col("v.properties.productid"), col("v.context.source"),
        col("v.timestamp"), col("v._corrupt_record").isNull.as("json_ok"))

  private def assertParity(df: DataFrame): Unit = {
    val k = viaKernel(df).collect().map(_.toSeq)
    val f = viaFromJson(df).collect().map(_.toSeq)
    assert(k.length == f.length)
    val diffs = k.zip(f).collect { case (a, b) if a != b => (a, b) }
    assert(diffs.isEmpty, s"kernel != from_json on ${diffs.take(3).mkString("; ")}")
  }

  test("kernel matches from_json on every simulated wire record") {
    assertParity(Simulator.productViewJson(
      graft.model.Tables.events(spark, sf)))
  }

  test("kernel matches from_json on adversarial payloads (PERMISSIVE + partial results)") {
    import spark.implicits._
    val cases = Seq(
      // the full probed contract: corrupt, blank, null literal, root
      // array/scalar, wrong-typed nested objects with parsed siblings,
      // non-string tokens in string slots, duplicate keys, unicode
      """{"event":"ProductView","messageid":"m1","userid":"u1","properties":{"productid":"p1"},"context":{"source":"desktop"},"timestamp":"2021-03-07 19:01:00.000+0000"}""",
      """{not json""",
      "",
      "   ",
      "null",
      "5",
      "\"str\"",
      """[{"event":"x"}]""",
      """{"event":5,"messageid":{"a":1},"userid":[1,2],"properties":{"productid":7},"context":{"source":true},"timestamp":null}""",
      """{"event":"e","messageid":"m","properties":"notobj","context":{"source":"s"},"timestamp":"t"}""",
      """{"event":"e","context":[1],"properties":{"productid":"p"}}""",
      """{"event":"e","properties":{},"context":{}}""",
      """{"event":"e","properties":null,"context":null}""",
      """{"event":"dup","event":"dup2"}""",
      """{"userid":"u-Ünïcødé é","event":"e\n\t"}""",
      """{"event":"5.00 scale","messageid":5.00}""",
      """{"timestamp":"2021-03-07 19:01:00.123+0000"}""",
      // r12 review: JSONOptions defaults the DOM kernel missed —
      // single-quoted JSON parses, NaN/Infinity literals parse
      """{'event':'sq','userid':'u1'}""",
      """{"event":"nn","messageid":NaN,"userid":Infinity,"timestamp":-Infinity}""",
      // ... while comments / unquoted names / leading zeros stay OFF
      """{"event":/*c*/"x"}""",
      """{event:"x"}""",
      """{"event":"lz","messageid":007}""",
      // r12 review: duplicate keys INSIDE a stringified subtree must
      // be preserved (copyCurrentStructure), not DOM-collapsed
      """{"event":"e","messageid":{"k":1,"k":2}}""",
      """{"event":"e","userid":[1,{"a":1,"a":2},"x"]}""",
      // duplicate STRUCT slots: successful re-conversion overwrites,
      // failed re-conversion must NOT clear the earlier success
      """{"properties":{"productid":"first"},"properties":{"productid":"second"}}""",
      """{"properties":{"productid":"keep"},"properties":"bad"}""",
      """{"properties":"bad","properties":{"productid":"late"}}""",
      """{"properties":{"productid":"gone"},"properties":{}}""",
      """{"properties":{"productid":"kept2"},"properties":[1,2]}""",
      // empty string in a struct slot = Spark's universal
      // empty-string-as-null for non-string types; in a STRING slot it
      // stays the empty string
      """{"properties":"","event":""}""",
      """{"properties":{"productid":"keep3"},"properties":""}""",
      """{"context":{"source":"s"},"context":"","event":"e"}""",
      // a wire key named like the corrupt-record column is not it
      """{"_corrupt_record":"x","event":"e"}""",
      // a JSON string root, empty; and a record cut short
      "\"\"",
      """{"event":"a","context":{"source":"s"}""",
      // trailing content after the root value
      """{"event":"a"} trailing""",
      """{"event":"a"}{"event":"b"}""")
    assertParity(cases.toDF("value"))
    // null input column -> null struct on both sides
    val nullIn = Seq[String](null).toDF("value")
    assertParity(nullIn)
  }

  test("non-string child is rejected at analysis time, like from_json") {
    import spark.implicits._
    val bin = Seq(Array[Byte](1, 2)).toDF("value")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      bin.select(ProductViewParse.productViewParse(col("value"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"))
  }

  test("product_view_parse stays inside whole-stage codegen") {
    val wire = Simulator.productViewJson(graft.model.Tables.events(spark, sf))
    for (e <- Seq(wire.select(ProductViewParse.productViewParse(col("value")).as("v")),
                  P.parseWithRaw(wire))) {
      val planLine = e.queryExecution.executedPlan.toString.linesIterator
        .find(_.contains("product_view_parse")).getOrElse("")
      // the operator name after the tree-drawing prefix (`+- `, `:  +- `)
      assert(planLine.replaceFirst("""^[\s:+-]*""", "").startsWith("*("),
        s"product_view_parse not in a codegen span: $planLine")
    }
  }
}
