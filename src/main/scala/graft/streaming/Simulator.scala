package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NiFi-flow replacement (reference Active_Users_Pipeline.xml): turns
  * the `events` table into §1.2-shaped ProductView JSON records —
  * UpdateRecord timestamp stamping (P10), per-record splitting (W10)
  * and array-bracket stripping (P9) all become plain Spark
  * expressions; rate limiting (W9, NiFi ControlRate) maps to the
  * opt-in `maxFilesPerTrigger` / `maxOffsetsPerTrigger` caps on the
  * source side.
  */
object Simulator {

  /** One ProductView JSON string per event, in the §1.2 wire shape
    * including the `.SSS+0000` timestamp suffix NiFi stamps
    * (Active_Users_Pipeline.xml:1669).
    *
    * `date_format` renders in the SESSION time zone while the suffix
    * hardcodes +0000, so a non-UTC session would shift every simulated
    * instant by the zone offset — assert the precondition loudly
    * instead of emitting silently wrong wire records. */
  def productViewJson(events: DataFrame): DataFrame = {
    val tz = events.sparkSession.conf.get("spark.sql.session.timeZone", "")
    require(tz == "UTC",
      s"productViewJson renders wall-clock + '+0000': session time zone " +
      s"must be UTC, got '$tz'")
    events.select(to_json(struct(
      lit("ProductView").as("event"),
      concat(lit("msg-"), col("event_id")).as("messageid"),
      concat(lit("user-"), col("user_id")).as("userid"),
      struct(concat(lit("product-"), pmod(col("event_id"), lit(100)))
        .as("productid")).as("properties"),
      struct(col("event_type").as("source")).as("context"),
      concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"), lit("+0000"))
        .as("timestamp"))).as("value"))
  }

  /** A raw JSON *array* payload (the reference's on-disk input shape,
    * README.md:7) — exercised by [[splitJsonArray]]. */
  def asJsonArray(events: DataFrame): DataFrame =
    productViewJson(events).agg(
      concat(lit("["), concat_ws(",", collect_list(col("value"))), lit("]"))
        .as("payload"))

  /** NiFi SplitRecord + ReplaceText equivalent: JSON array payload ->
    * one record per row (explode replaces the reference's regex
    * bracket-stripping, Active_Users_Pipeline.xml:1158-1165). */
  def splitJsonArray(payload: DataFrame): DataFrame =
    payload.select(explode(from_json(col("payload"),
      org.apache.spark.sql.types.DataType.fromDDL("array<string>"))).as("value"))

  /** Write the simulated stream to a file-source dir consumed by
    * [[ProductViewPipeline.fileSource]]; `numFiles` sets the
    * micro-batch granularity only when the source caps
    * `maxFilesPerTrigger` (uncapped, a backlog is one batch). */
  def writeFileDrops(events: DataFrame, dir: String, numFiles: Int = 4): Unit =
    productViewJson(events).repartition(numFiles).write.mode("append").text(dir)

  /** Kafka producer sink (NiFi PublishKafka equivalent, K4 in
    * SURVEY §2.6): one message per record on `topic`. Exactly-once on
    * the consumer side comes from [[ProductViewPipeline.dedupedByMessageId]];
    * the producer relies on Kafka's idempotent writes. Unexercised in
    * tests — no broker in the zero-egress environment. */
  def writeKafka(events: DataFrame, bootstrapServers: String, topic: String): Unit =
    productViewJson(events)
      .write
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()
}
