package graft.queries

import org.apache.spark.sql.functions._
import graft.model.{Q, Tables}
import graft.streaming.{ProductViewPipeline, Simulator}

/** Batch-parity entries for the streaming pipeline: the exact
  * transform the streaming queries run (JSON wire records -> parse ->
  * windowed count), executed over the events table in batch mode so
  * the DuckDB oracle can hash-check it (SURVEY.md §5.2 — streaming
  * *semantics* are covered by StreamingSpec instead).
  */
object PipelineQueries {

  /** Full v2 pipeline in batch: simulate wire JSON (with the
    * `.SSS+0000` suffix), parse with the explicit pattern, window,
    * count, rename. Matching the oracle proves the JSON round-trip
    * and timestamp parse are lossless at window granularity. */
  val productViewPipeline = Q(
    "q_product_view_pipeline",
    (spark, dir) => {
      val wire = Simulator.productViewJson(Tables.events(spark, dir))
      ProductViewPipeline.windowedCounts(ProductViewPipeline.parse(wire))
    },
    Some("""
      SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS start,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '5 minutes' AS "end",
             event_type AS source,
             count(*) AS source_number
      FROM events
      WHERE ts IS NOT NULL
      GROUP BY 1, 2, 3
    """))

  /** Parse-layer check: every simulated record parses (no permissive
    * nulls), and the full §1.2 record reaches the engine. */
  val productViewParse = Q(
    "q_product_view_parse",
    (spark, dir) => {
      val wire = Simulator.productViewJson(Tables.events(spark, dir))
      ProductViewPipeline.parse(wire)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
             count(col("timestamp")).as("n_parsed_ts"),
             countDistinct(col("userid")).as("n_users"),
             countDistinct(col("productid")).as("n_products"))
    },
    Some("""
      SELECT event_type AS source, count(*) AS n,
             count(ts) AS n_parsed_ts,
             count(DISTINCT user_id) AS n_users,
             count(DISTINCT event_id % 100) AS n_products
      FROM events
      GROUP BY 1
    """))

  /** Stream-side content dedup, oracle-checked on the batch parity
    * path (the [[ProductViewPipeline.dedupedByContent]] transform is
    * source-agnostic like the rest of the pipeline; its
    * streaming-only semantics — watermark-bounded state, eviction —
    * are StreamingSpec's surface). The input injects an at-least-once
    * redelivery: every 7th event is re-sent with a FRESH message id
    * (regex-rewritten at the wire level, exactly what a producer retry
    * emits), which message-id dedup cannot catch. Content dedup must
    * collapse the redeliveries so the windowed counts equal the
    * distinct-content counts — the oracle computes them from the
    * events table directly (userid/productid/messageid derive
    * injectively from user_id/event_id, so distinct content ==
    * distinct (event_type, user_id, event_id%100, ts) AT MILLISECOND
    * granularity: the wire format renders `.SSS`, so the content key
    * hashes the ms-truncated timestamp and the oracle must DISTINCT
    * on the same truncation — raw-µs DISTINCT would keep two events
    * apart that the wire collapses (review finding; window buckets
    * are unaffected, floor-to-ms never crosses a 5-minute boundary).
    * Null-ts rows are filtered on both sides — Spark's window()
    * rewrite silently drops them, so the oracle must too. */
  val streamContentDedup = Q(
    "q_stream_content_dedup",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val wire = Simulator.productViewJson(ev)
      val redelivered = Simulator.productViewJson(
          ev.filter(pmod(col("event_id"), lit(7)) === 0))
        .withColumn("value", regexp_replace(col("value"),
          "\"messageid\":\"msg-", "\"messageid\":\"msg-rdl-"))
      val deduped = ProductViewPipeline.dedupedByContent(
        ProductViewPipeline.parse(wire.union(redelivered)))
      ProductViewPipeline.windowedCounts(deduped)
    },
    Some("""
      SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS start,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '5 minutes' AS "end",
             event_type AS source,
             count(*) AS source_number
      FROM (SELECT DISTINCT event_type, user_id, event_id % 100 AS pid,
                   date_trunc('milliseconds', ts) AS ts
            FROM events WHERE ts IS NOT NULL)
      GROUP BY 1, 2, 3
    """))

  /** NiFi-array path: JSON array payload -> split -> parse -> count
    * (P9/W10 semantics as Spark expressions). */
  val jsonArraySplit = Q(
    "q_json_array_split",
    (spark, dir) => {
      // The single-payload collect is the NiFi semantic under test
      // (one JSON array flowfile -> records); it is inherently serial,
      // so run it on a fixed 10k-event slice — the reference's own
      // array was 100k records TOTAL, this is parity not a scale path.
      val slice = Tables.events(spark, dir).filter(col("event_id") < 10000)
      val arr = Simulator.asJsonArray(slice)
      ProductViewPipeline.parse(Simulator.splitJsonArray(arr))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_records"))
    },
    Some("""
      SELECT event_type AS source, count(*) AS n_records
      FROM events
      WHERE event_id < 10000
      GROUP BY 1
    """))

  /** Wire bytes per stream-stream-join state partition. */
  private val statePartBytes = 4L * 1024 * 1024

  /** Watermarked stream-stream join, run as a REAL streaming query
    * (r16 verdict task 5 — the one §2.7 capability that had no oracled
    * entry): the wire JSON lands as text, a streaming read parses it,
    * [[graft.streaming.Stateful.viewToPurchaseJoin]] joins views to
    * same-user purchases within 30 minutes (watermarks on BOTH sides,
    * event-time range bounds — the state-evictable shape), and the
    * finalized AvailableNow output is aggregated per user. The oracle
    * is the equivalent batch range join over the events table, so the
    * hash match certifies the streaming join's emitted pair set —
    * multi-batch eviction/late-data semantics stay StatefulSpec's
    * surface (SURVEY §5.2).
    *
    * Determinism: the read goes through
    * [[ProductViewPipeline.fileSource]], which is uncapped, so every
    * data row lands in micro-batch 1, whose epoch watermark can drop
    * nothing — the inner join's output is exactly the batch range join
    * at wire (millisecond) timestamp granularity. A multi-batch
    * regression cannot pass silently: files are type/ts range-ordered,
    * so a later batch would see the earlier batch's watermark and drop
    * rows — the DuckDB hash compare catches exactly that.
    * Scratch/checkpoint/output dirs are per-(JVM, fixture)
    * deterministic and wiped per run (bench reps pay the full pipeline
    * each rep — this query prices the streaming round trip, like
    * q_product_view_pipeline prices the JSON one). */
  val streamStreamJoin = Q(
    "q_stream_stream_join",
    (spark, dir) => {
      val base = graft.model.Fs.scratchDir("ssj", dir)
      // wipeOrThrow, not best-effort (r18 review): a ckpt dir that
      // survives the wipe makes the restarted streaming query reuse a
      // stale checkpoint whose epoch watermark post-dates the
      // rewritten wire files — rows silently dropped, and in Bench
      // there is no oracle compare to catch the wrong-seconds rep
      val (wireDir, outDir, ckptDir) =
        (graft.model.Fs.wipeOrThrow(s"$base/wire"),
         graft.model.Fs.wipeOrThrow(s"$base/out"),
         graft.model.Fs.wipeOrThrow(s"$base/ckpt"))
      Simulator.productViewJson(Tables.events(spark, dir))
        .write.mode("overwrite").text(wireDir)
      // Scale-adaptive STATE partitioning (r19; guide §2.2 "fewer,
      // larger reduce partitions ... let AQE coalesce" — but AQE is
      // disabled in stateful workloads, so the coalesce is derived
      // here): a stream-stream join carries 4 HDFS-backed state
      // stores per shuffle partition, each paying delta-file write +
      // commit PER BATCH (including the final watermark-commit empty
      // batch), so per-partition fixed cost dominates when the
      // per-partition input is small. Measured on sf0.1 (100k
      // events, ~19 MB wire, 32 conf partitions): warm round trip
      // 7.8 s -> 2.2 s at 4 partitions; the empty eviction batch
      // alone 3.2 s -> 0.6 s; the r18 driver's 8-core run was 2.3x
      // faster than 32-core on this query for exactly this reason.
      // Derivation mirrors AQE's advisory sizing: one state partition
      // per statePartBytes of wire input, min 2, CAPPED at the
      // session's configured shuffle partitions —
      // so on a cluster-sized conf with 100 TB of wire the formula
      // saturates at the configured parallelism and only ever REDUCES
      // partitions for small inputs. Results are partition-count
      // independent (same joined row set; the oracle hash pins it).
      // The count applies to the start only, so the batch read-back
      // below runs on the session's conf.
      val wireBytes = graft.model.Fs.dirBytes(wireDir)
      val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val stateParts = math.max(2L, math.min(
        (wireBytes + statePartBytes - 1) / statePartBytes, confParts.toLong)).toInt
      val parsed = ProductViewPipeline.parse(
        ProductViewPipeline.fileSource(spark, wireDir))
      val joined = graft.streaming.Stateful.viewToPurchaseJoin(
        parsed.filter(col("source") === "view"),
        parsed.filter(col("source") === "purchase"))
      ProductViewPipeline.startWithStateStores(spark, stateParts)(
        joined.writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      ).awaitTermination()
      spark.read.parquet(outDir)
        .groupBy(col("v_user").as("userid"))
        .agg(count(lit(1)).as("n_pairs"),
             sum(unix_millis(col("purchase_ts")) - unix_millis(col("view_ts")))
               .as("gap_ms_total"),
             countDistinct(col("productid")).as("n_products"))
    },
    Some("""
      WITH pv AS (
        SELECT 'user-' || CAST(user_id AS VARCHAR) AS userid, event_type,
               date_trunc('milliseconds', CAST(ts AS TIMESTAMP)) AS ts,
               'product-' || CAST(event_id % 100 AS VARCHAR) AS productid
        FROM events WHERE ts IS NOT NULL),
      v AS (SELECT userid, ts AS view_ts FROM pv WHERE event_type = 'view'),
      p AS (SELECT userid, productid, ts AS purchase_ts
            FROM pv WHERE event_type = 'purchase')
      SELECT v.userid AS userid, count(*) AS n_pairs,
             CAST(sum(epoch_ms(p.purchase_ts) - epoch_ms(v.view_ts)) AS BIGINT)
               AS gap_ms_total,
             count(DISTINCT p.productid) AS n_products
      FROM v JOIN p
        ON v.userid = p.userid
       AND p.purchase_ts >= v.view_ts
       AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE
      GROUP BY 1
    """),
    // r17 verdict task 4: reps fall monotonically (13.5 -> 11.1 -> 8.5
    // at sf0.1) — the first in-JVM streaming round trip pays state
    // store + sink + checkpoint machinery classloading/JIT that no
    // steady-state run repeats; one discarded warm rep
    tags = Set("warm-in", "streaming-roundtrip"))

  def all: Seq[Q] = Seq(productViewPipeline, productViewParse, jsonArraySplit,
    streamContentDedup, streamStreamJoin)
}
