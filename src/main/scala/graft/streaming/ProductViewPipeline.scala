package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** The reference's flagship streaming pipeline re-expressed Spark-first
  * (reference nifi_spark_kafka_product_view_platform.py and _v2.py):
  * JSON click-events -> schema-projected parse -> event-time windowed
  * count per platform source -> console / foreachBatch / parquet sinks.
  *
  * Design differences from the reference (SURVEY.md §2.9):
  *  - the timestamp pattern parses the actual wire format
  *    `yyyy-MM-dd HH:mm:ss[.SSS][+0000]` explicitly instead of relying
  *    on the LEGACY lenient parser (reference v1:37-40);
  *  - every query gets its own checkpoint dir (reference reuses one
  *    and omits it for the foreachBatch query, v2:77-81);
  *  - the transform is source-agnostic (Kafka, file, rate, MemoryStream
  *    or a batch DataFrame), so the same code is oracle-checked in
  *    batch and semantics-checked in streaming.
  */
object ProductViewPipeline {

  /** Kafka `value`-bytes (or any `value: string/binary` column) ->
    * typed click-event rows (reference v1:29-40): [[parseWithRaw]]
    * without its two quarantine columns, which the optimizer prunes. */
  def parse(raw: DataFrame): DataFrame =
    parseWithRaw(raw).drop("raw_value", "json_ok")

  /** [[parse]] that also keeps the raw wire text (`raw_value`) and
    * whether the JSON parsed (`json_ok`) — the input [[deadLetterQuery]]
    * quarantines from; `json_ok` tells a wholly unparseable payload from
    * a parseable record whose fields fail validation.
    *
    * The JSON leg is the codegen'd [[graft.functions.ProductViewParse]]
    * kernel: one Jackson pass to the flat record plus its validity bit,
    * bit-parity with Spark's PERMISSIVE JSON reader (fields, and
    * `json_ok` against `_corrupt_record IS NULL`) pinned by
    * ProductViewParseSpec. The reference projects only context.source +
    * timestamp (v1:15-20); the full record is parsed so userid/productid
    * reach the engine — the reference's stated but unrealized intent,
    * v1:14,46. The timestamp goes through the codegen'd [[graft.functions.WireTimestamp]] — same
    * accepted grammar and UTC semantics as
    * `to_timestamp(c, "yyyy-MM-dd HH:mm:ss[.SSS][XX]")` (spec-asserted)
    * without the per-row optional-section formatter cost. */
  def parseWithRaw(raw: DataFrame): DataFrame =
    raw
      .select(col("value").cast("string").as("raw_value"))
      .select(col("raw_value"),
        graft.functions.ProductViewParse.productViewParse(col("raw_value")).as("v"))
      .select(
        col("raw_value"),
        // blank input is the NULL struct: OK, as Spark's JSON reader has it
        coalesce(col("v.json_ok"), lit(true)).as("json_ok"),
        col("v.event").as("event"),
        col("v.messageid").as("messageid"),
        col("v.userid").as("userid"),
        col("v.productid").as("productid"),
        col("v.source").as("source"),
        graft.functions.WireTimestamp.wireTimestamp(col("v.timestamp"))
          .as("timestamp"))

  /** Dead-letter routing — the production answer to "what happens to
    * the malformed 0.01%": one foreachBatch pass per micro-batch
    * splits [[parseWithRaw]] rows into the good path (typed, raw bytes
    * dropped) and a quarantine path carrying the ORIGINAL payload plus
    * a failure reason (`malformed_json` / `no_source` /
    * `bad_timestamp`) — nothing is silently discarded, and replaying
    * the quarantine after an upstream fix is a batch job over its
    * parquet, not an ops incident. [[withWireMetrics]] is the alarm;
    * this is the recovery path.
    *
    * Exactly-once across epoch replay: each epoch OVERWRITES its own
    * `epoch=<id>` partition directory on both paths, so a
    * checkpoint-recovery re-run rewrites identical files instead of
    * appending duplicates (the idempotent-sink recipe
    * [[jdbcUpsertQuery]] applies key-wise, applied dir-wise). The
    * batch is persisted so the two writes share one parse. */
  def deadLetterQuery(
      withRaw: DataFrame,
      goodDir: String,
      deadDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery = {
    val spark = withRaw.sparkSession
    // stateless: starts on the session's own partition count
    startWithStateStores(spark, spark.conf.get(shufflePartitions).toInt)(withRaw.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        df.persist()
        try {
          val bad = !col("json_ok") || col("source").isNull || col("timestamp").isNull
          df.filter(bad)
            .select(col("raw_value"),
              when(!col("json_ok"), lit("malformed_json"))
                .when(col("source").isNull, lit("no_source"))
                .otherwise(lit("bad_timestamp")).as("reason"))
            .write.mode("overwrite").parquet(s"$deadDir/epoch=$epochId")
          df.filter(!bad)
            .drop("raw_value", "json_ok")
            .write.mode("overwrite").parquet(s"$goodDir/epoch=$epochId")
        } finally df.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger))
  }

  /** Does the stream already carry an event-time watermark on THIS
    * column? Stateful transforms ([[dedupedByContent]],
    * [[dedupedByMessageId]]) stamp one; a downstream stage must then
    * USE it rather than redefine it (Spark disallows redefinition when
    * multiple stateful operators are enabled, and a single
    * pipeline-wide watermark is the correct semantics anyway — one
    * lateness budget owned by the FIRST stateful stage; a
    * `watermarkDelay` passed to a later stage is deliberately ignored
    * then). The check is column-exact: an upstream watermark on a
    * DIFFERENT event-time column does not satisfy this stage — the
    * stamp proceeds and Spark's redefinition error surfaces the
    * conflict loudly instead of this stage silently aggregating with
    * unbounded state. */
  private def hasWatermarkOn(df: DataFrame, column: String): Boolean =
    df.queryExecution.logical.exists {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
        e.eventTime.name == column
      case _ => false
    }

  /** Stamp `timestamp` with a watermark unless an upstream stage
    * already owns it — the shared entry point of every stateful stage
    * below ([[windowedCounts]], [[windowedDistinctUsers]],
    * [[dedupedByMessageId]], [[dedupedByContent]]), so ANY chaining
    * order of dedup and windowed aggregation composes without
    * redefinition. */
  private def withEventWatermark(parsed: DataFrame, delay: String): DataFrame =
    if (parsed.isStreaming && !hasWatermarkOn(parsed, "timestamp"))
      parsed.withWatermark("timestamp", delay)
    else parsed

  /** Windowed count per source (reference v1:45-55): watermark ->
    * tumbling window -> count -> flat rename. Watermark applies only
    * on streaming input (batch parity path skips it). */
  def windowedCounts(
      parsed: DataFrame,
      windowLength: String = "5 minutes",
      watermarkDelay: String = "5 minutes"): DataFrame = {
    val withWm = withEventWatermark(parsed, watermarkDelay)
    withWm
      .groupBy(col("source"), window(col("timestamp"), windowLength))
      .count()
      .select(
        col("window.start").as("start"),
        col("window.end").as("end"),
        col("source"),
        col("count").as("source_number"))
  }

  /** Distinct users per source+window — the reference's *intended*
    * second aggregate (approx_count_distinct imported unused, v1:2). */
  def windowedDistinctUsers(
      parsed: DataFrame,
      windowLength: String = "5 minutes",
      watermarkDelay: String = "5 minutes"): DataFrame = {
    val withWm = withEventWatermark(parsed, watermarkDelay)
    withWm
      .groupBy(col("source"), window(col("timestamp"), windowLength))
      .agg(approx_count_distinct(col("userid")).as("approx_users"),
           count(lit(1)).as("source_number"))
      .select(col("window.start").as("start"), col("window.end").as("end"),
              col("source"), col("approx_users"), col("source_number"))
  }

  /** In-flight data-quality metrics via `Dataset.observe`: per
    * micro-batch record count, malformed-timestamp count and dropped-
    * (null-source) count, surfaced through each progress event's
    * `observedMetrics` — the monitoring hook a production pipeline
    * alerts on (a spike in `n_bad_ts` means an upstream format change,
    * caught without a second pass over the data: the aggregates ride
    * the existing scan as accumulator-style observations, zero extra
    * jobs or shuffles). */
  def withWireMetrics(parsed: DataFrame, name: String = "wire_metrics"): DataFrame =
    parsed.observe(name,
      count(lit(1)).as("n_records"),
      sum(when(col("timestamp").isNull, 1L).otherwise(0L)).as("n_bad_ts"),
      sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_no_source"))

  /** Streaming dedup on message id bounded by the watermark
    * (exactly-once semantics over an at-least-once transport). */
  def dedupedByMessageId(parsed: DataFrame, watermarkDelay: String = "5 minutes"): DataFrame =
    withEventWatermark(parsed, watermarkDelay)
      .dropDuplicatesWithinWatermark("messageid")

  /** Streaming CONTENT dedup — the stream-side counterpart of
    * [[graft.queries.Dedup]]'s exact content-hash family: the key is a
    * sha-256 over the payload FIELDS (event, user, product, source,
    * timestamp) and deliberately excludes `messageid`, so it catches
    * the redelivery [[dedupedByMessageId]] cannot — a producer retry
    * that minted a FRESH message id for the same event. Keying on
    * `to_json(struct(...))` is null-safe (field names disambiguate
    * which column was null, where a separator-join would collide), and
    * hashing to a fixed 64-char key keeps the state-store entry width
    * constant no matter how wide the payload grows.
    *
    * 100 TB shape: state is bounded by the watermark horizon —
    * `dropDuplicatesWithinWatermark` evicts keys once the watermark
    * passes, so state size is O(events per delay window), not O(all
    * events ever) (StreamingSpec proves the eviction). On the batch
    * parity path the same key feeds a plain `dropDuplicates` (batch
    * has no watermark), which is the [[graft.queries.Dedup.exact]]
    * hash-groupBy shape — shuffle on the hash key, no pair space. */
  def dedupedByContent(parsed: DataFrame, watermarkDelay: String = "5 minutes"): DataFrame = {
    val keyed = parsed.withColumn("content_key",
      sha2(to_json(struct(
        col("event"), col("userid"), col("productid"), col("source"),
        col("timestamp"))), 256))
    val deduped =
      if (parsed.isStreaming)
        withEventWatermark(keyed, watermarkDelay)
          .dropDuplicatesWithinWatermark("content_key")
      else keyed.dropDuplicates("content_key")
    deduped.drop("content_key")
  }

  private val shufflePartitions = "spark.sql.shuffle.partitions"
  private val checkpointFileManager = "spark.sql.streaming.checkpointFileManagerClass"
  private val artifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Starts `writer`: every streaming query in the program starts here
    * (SourceAuditSpec pins it).
    *
    * Installs [[LocalCheckpointFileManager]] as the session's checkpoint
    * manager unless one is configured already, and leaves it set: the
    * file source builds its `sources/` metadata log on the stream thread,
    * from the session that created the source, after `start` returns.
    *
    * Each stateful operator gets `n` state stores:
    * `spark.sql.shuffle.partitions` reads `n` only during the start and
    * is restored in a `finally`. The query keeps `n` because
    * `StreamExecution`'s constructor clones the session, and settings
    * read from that clone are fixed at `start`. That holds for the
    * query's own reads, not for the source log above, which is why the
    * manager is left set. A query resumed from a checkpoint keeps the
    * count pinned in its offset log.
    *
    * The query also runs without artifact isolation:
    * `spark.sql.artifact.isolation.enabled` reads false during the start
    * only. `CodeGenerator`'s cache is keyed on (task thread's context
    * classloader, code), and with isolation on each session's tasks run
    * under that session's own classloader. Since the query runs on its
    * cloned session, every start would miss the cache for code the
    * caller already compiled, and the JIT would warm the new classes
    * again. Off, the clone's tasks run under the shared default
    * classloader, so queries over one lineage share their compiled
    * classes, drain after drain. The program adds no artifacts, so the
    * isolation guards nothing here. The caller's value is restored, as
    * the partition count is: the clone keeps false from `start` on, and
    * the caller's own jobs keep whatever isolation the caller chose. */
  private[graft] def startWithStateStores(spark: SparkSession, n: Int)(
      writer: DataStreamWriter[_]): StreamingQuery = {
    if (spark.conf.getOption(checkpointFileManager).isEmpty)
      spark.conf.set(checkpointFileManager, classOf[LocalCheckpointFileManager].getName)
    val conf = spark.conf.get(shufflePartitions)
    val isolated = spark.conf.get(artifactIsolation)
    spark.conf.set(shufflePartitions, n.toLong)
    spark.conf.set(artifactIsolation, false)
    try writer.start()
    finally {
      spark.conf.set(shufflePartitions, conf)
      spark.conf.set(artifactIsolation, isolated)
    }
  }

  /** Starts `writer` on at most as many state stores as its share of
    * the cores: `min(spark.sql.shuffle.partitions, cores / sharedBy)`,
    * at least 1, where `sharedBy` queries run side by side. Map-side
    * partial aggregation means a store receives at most map tasks x
    * (source, window) keys, not events; stores beyond the core count
    * cannot run concurrently, and each pays a load plus a delta-file
    * commit every batch, the empty watermark batch included. Derived
    * from the cluster, not the input, because a Kafka stream has no
    * input size at start. Only ever lowers the count. */
  private def startOnCores(counts: DataFrame, writer: DataStreamWriter[Row],
                           sharedBy: Int = 1): StreamingQuery = {
    val spark = counts.sparkSession
    val conf = spark.conf.get(shufflePartitions).toInt
    val share = math.max(1, spark.sparkContext.defaultParallelism / sharedBy)
    startWithStateStores(spark, math.min(conf, share))(writer)
  }

  /** v1 sink: console, update mode (reference v1:60-65), on at most
    * as many state stores as cores ([[startOnCores]]). */
  def consoleQuery(
      counts: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    startOnCores(counts, counts.writeStream
      .outputMode(OutputMode.Update())
      .format("console")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger))

  /** v2 foreachBatch sink: per-epoch sort descending then emit
    * (reference v2:8-14,77-81); `emit` defaults to console.
    *
    * The batch is collected once and sorted on the driver; `emit` gets
    * the sorted rows as a local DataFrame. So the stateful plan runs in
    * one job per batch, its state stores commit whatever `emit` does
    * (Spark fails a stateful foreachBatch whose partitions were not all
    * consumed), and `emit`'s own `collect`/`show` runs no job. The
    * update output is bounded by sources x windows the batch touches.
    * State stores are capped at the core count ([[startOnCores]]). */
  def sortedBatchQuery(
      counts: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes"))(
      emit: (DataFrame, Long) => Unit = (df, _) => df.show(20, truncate = false))
      : StreamingQuery =
    startOnCores(counts, sortedBatchWriter(counts, checkpointDir, trigger)(emit))

  private def sortedBatchWriter(counts: DataFrame, checkpointDir: String, trigger: Trigger)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    counts.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        val n = df.schema.fieldIndex("source_number")
        val rows = df.collect().sortBy(_.getLong(n))(Ordering[Long].reverse)
        emit(df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema),
          epochId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** v2 parquet sink: append mode — only watermark-finalized windows
    * land; (source, source_number) projection matches the reference's
    * Hive DDL `commerce(source STRING, source_number BIGINT)`
    * (reference v2:74,84-89; dag_file.py:72-79). State stores are
    * capped at the core count ([[startOnCores]]). */
  def parquetQuery(
      counts: DataFrame,
      outputDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    startOnCores(counts, parquetWriter(counts, outputDir, checkpointDir, trigger))

  private def parquetWriter(counts: DataFrame, outputDir: String, checkpointDir: String,
                            trigger: Trigger): DataStreamWriter[Row] =
    counts
      .drop("start", "end")
      .writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** W8 parity — the reference's concurrent dual-sink fan-out
    * (reference v2:77-91): BOTH the sorted-console foreachBatch query
    * and the parquet append query run at once from ONE windowed-count
    * lineage, each with its own checkpoint (the reference omits one —
    * SURVEY.md §2.9.5). Returns both running queries; callers wait via
    * `spark.streams.awaitAnyTermination()` (the reference blocks on
    * the console query only, which silently orphans the parquet one on
    * failure).
    *
    * Each query runs its stateful plan in one job per micro-batch: the
    * console query sorts its collected batch on the driver
    * ([[sortedBatchQuery]]). The two queries split the cores: each
    * gets `min(spark.sql.shuffle.partitions, cores / 2)` state stores
    * ([[startOnCores]]). On all the cores each, Spark's FIFO scheduler
    * queues one query's state-store wave behind the other's, so which
    * sink finishes a batch first is a race between their job
    * submissions; on half each, both stateful stages fit side by side
    * and a sink's batch time depends far less on that race. The reference
    * runs 2 (`spark.sql.shuffle.partitions=2`, v2).
    *
    * Both queries start without artifact isolation
    * ([[startWithStateStores]]), so they share one set of compiled
    * classes: the two plans compile once between them, and a later
    * drain over the same lineage compiles nothing. */
  def dualSinkQueries(
      counts: DataFrame,
      outputDir: String,
      checkpointBase: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes"))(
      emit: (DataFrame, Long) => Unit = (df, _) => df.show(20, truncate = false))
      : (StreamingQuery, StreamingQuery) = {
    val console = startOnCores(counts,
      sortedBatchWriter(counts, s"$checkpointBase/console", trigger)(emit), sharedBy = 2)
    // if the SECOND start throws (unwritable output dir, checkpoint
    // conflict), stop the first before rethrowing — otherwise the
    // console query keeps running with no handle returned to the
    // caller, holding its checkpoint lock (review finding; exactly
    // the orphaned-query failure the scaladoc faults the reference
    // for)
    val parquet =
      try startOnCores(counts,
        parquetWriter(counts, outputDir, s"$checkpointBase/parquet", trigger), sharedBy = 2)
      catch {
        case t: Throwable =>
          try console.stop()
          catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
          throw t
      }
    (console, parquet)
  }

  /** Kafka source (reference v2:35-41); identical options, topic
    * parameterized (the reference hardcodes `platform` while its NiFi
    * flow publishes `active` — SURVEY.md §2.9.1). */
  def kafkaSource(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String = "platform",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val base = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
    maxOffsetsPerTrigger.fold(base)(n =>
      base.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** File-drop source (NiFi GetFile equivalent, S3 row in SURVEY §2.1):
    * each file holds one raw JSON record per line — the same bytes a
    * Kafka `value` would carry. Uncapped by default, each trigger reads
    * every file present, as [[kafkaSource]] reads every offset: a
    * backlog drains in one micro-batch, which pays the per-batch
    * planning and state-commit cost once. `maxFilesPerTrigger` caps a
    * batch at that many files (W9 rate limiting). */
  def fileSource(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val base = spark.readStream
    maxFilesPerTrigger.fold(base)(n =>
      base.option("maxFilesPerTrigger", n.toString)).text(dir)
  }

  /** Batch export layer (reference dag_file.py): register the parquet
    * output as an external table (K5) ... */
  def registerExternalTable(spark: SparkSession, table: String, parquetDir: String): Unit =
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $table (source STRING, source_number BIGINT) " +
      s"USING PARQUET LOCATION '$parquetDir'")

  /** ... and (K6) export over JDBC — replaces the reference's Sqoop
    * hop (dag_file.py:84-90). JdbcExportSpec round-trips it through
    * in-process Derby (the embedded JDBC engine Spark ships). */
  def exportJdbc(df: DataFrame, url: String, table: String,
                 properties: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode("append").jdbc(url, table, properties)

  /** K6, STREAMING form: update-mode UPSERT into a JDBC table via
    * foreachBatch — the reference's batch Sqoop hop turned into a
    * continuously-maintained serving table. Update mode re-emits a
    * window whenever its count grows, so a plain append would
    * accumulate stale versions; each emitted row instead
    * DELETE-then-INSERTs its (window-start, source) key inside one
    * transaction per partition. Key-overwrite makes the sink
    * IDEMPOTENT per key for SEQUENTIAL replays (checkpoint recovery,
    * task retry): a replayed epoch rewrites the same rows instead of
    * double-counting — the exactly-once recipe for a
    * non-transactional sink. CONCURRENT duplicate attempts of one
    * partition (speculative execution, a zombie attempt surviving a
    * network partition) are the one case delete-then-insert alone
    * cannot serialize under read-committed: both attempts can pass
    * their DELETE before either INSERTs. The target table must
    * therefore declare a PRIMARY KEY/unique constraint on
    * (start_ts, source) — the loser's INSERT then violates it, its
    * transaction rolls back (see the catch below), and its retry
    * converges by rewriting the key (review finding; JdbcExportSpec's
    * DDL declares the key).
    *
    * 100 TB shape: connections and prepared statements are
    * per-PARTITION (never per-row, never on the driver), batches ride
    * `executeBatch`, and each epoch writes only the windows the
    * watermark actually updated — the state-store delta, not the
    * history. State stores are capped at the core count
    * ([[startOnCores]]). */
  def jdbcUpsertQuery(
      counts: DataFrame,
      url: String,
      table: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    startOnCores(counts, counts.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select(col("start"), col("source"), col("source_number"))
          .foreachPartition { (rows: Iterator[Row]) =>
            if (rows.nonEmpty) {
              val conn = java.sql.DriverManager.getConnection(url)
              try {
                conn.setAutoCommit(false)
                val del = conn.prepareStatement(
                  s"DELETE FROM $table WHERE start_ts = ? AND source = ?")
                val ins = conn.prepareStatement(
                  s"INSERT INTO $table (start_ts, source, source_number) " +
                    "VALUES (?, ?, ?)")
                try {
                  // a NULL key row is NOT exportable by stated contract
                  // (r16 verdict task 7, found by the null-bearing
                  // upsert case): the target declares the PK NOT NULL,
                  // `WHERE source = ?` can never address a NULL anyway
                  // (three-valued =), and letting the INSERT throw
                  // makes the row a POISON PILL — the batch rolls
                  // back, the query dies, and the checkpoint replays
                  // the same crash forever. Diverted rows are counted
                  // and logged loudly, never silently swallowed.
                  var diverted = 0L
                  rows.foreach { r =>
                    if (r.isNullAt(0) || r.isNullAt(1)) diverted += 1
                    else {
                      val ts = r.getTimestamp(0)
                      val src = r.getString(1)
                      del.setTimestamp(1, ts); del.setString(2, src)
                      del.addBatch()
                      ins.setTimestamp(1, ts); ins.setString(2, src)
                      // explicit null, never getLong's silent 0-decode
                      // (the r16 Aggregator NULL->0 class, at the sink)
                      if (r.isNullAt(2)) ins.setNull(3, java.sql.Types.BIGINT)
                      else ins.setLong(3, r.getLong(2))
                      ins.addBatch()
                    }
                  }
                  del.executeBatch(); ins.executeBatch()
                  conn.commit()
                  if (diverted > 0)
                    System.err.println(
                      s"[jdbcUpsert] $table: diverted $diverted null-key " +
                        "row(s) — not addressable by the PRIMARY KEY")
                } catch {
                  // ROLL BACK before the finally's close, keeping the
                  // ORIGINAL failure: closing with a live transaction
                  // is driver-defined — Derby throws (masking the real
                  // error AND leaking the connection across retries),
                  // other drivers may COMMIT the partial deletes
                  // (review finding)
                  case t: Throwable =>
                    try conn.rollback()
                    catch { case _: java.sql.SQLException => () }
                    throw t
                } finally { del.close(); ins.close() }
              } finally conn.close()
            }
          }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger))
}
