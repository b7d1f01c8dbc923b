package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.time.{Seconds, Span}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MicroBatchExecution, StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.{LocalCheckpointFileManager, ProductViewPipeline => P, Simulator}

/** Streaming semantics (SURVEY.md §5.2): watermark late-drop,
  * update-mode re-emission, append-mode finalize-once, checkpoint
  * recovery, streaming dedup. These behaviors cannot be DuckDB-oracled
  * — MemoryStream with controlled event-time advancement is the test
  * surface.
  */
object StreamingSpec {
  /** (window start, source) -> latest state count seen via foreachBatch. */
  val recovered = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var n = 0
  private def tmp(): String = { n += 1; Files.createTempDirectory(s"graft$n").toString }

  private def rec(ts: String, source: String, msgId: String = java.util.UUID.randomUUID().toString): String =
    s"""{"event":"ProductView","messageid":"$msgId","userid":"user-1",""" +
    s""""properties":{"productid":"product-1"},"context":{"source":"$source"},""" +
    s""""timestamp":"$ts"}"""

  private def startMemoryQuery(counts: DataFrame, name: String, mode: String) =
    counts.writeStream.outputMode(mode).format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()

  test("update mode re-emits a window with growing counts across batches") {
    val in = MemoryStream[String]
    val counts = P.windowedCounts(P.parse(in.toDF()))
    val q = startMemoryQuery(counts, "upd", "update")
    try {
      in.addData(rec("2021-03-07 19:01:00", "desktop"), rec("2021-03-07 19:02:00", "desktop"))
      q.processAllAvailable()
      in.addData(rec("2021-03-07 19:03:00", "desktop"))
      q.processAllAvailable()
      val rows = spark.table("upd")
        .filter(col("source") === "desktop")
        .select("source_number").as[Long].collect().sorted
      // same window emitted twice: first count 2, then updated count 3
      assert(rows.toSeq == Seq(2L, 3L), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("late events behind the watermark are dropped") {
    val in = MemoryStream[String]
    val counts = P.windowedCounts(P.parse(in.toDF()))
    val q = startMemoryQuery(counts, "late", "update")
    try {
      in.addData(rec("2021-03-07 19:01:00", "desktop"))
      q.processAllAvailable()
      // advance max event time to 19:30 -> watermark 19:25 after next batch
      in.addData(rec("2021-03-07 19:30:00", "desktop"))
      q.processAllAvailable()
      in.addData(rec("2021-03-07 19:02:00", "desktop")) // 23 min late, window closed
      q.processAllAvailable()
      val w1900 = spark.table("late")
        .filter(col("start") === lit("2021-03-07 19:00:00").cast("timestamp"))
        .select("source_number").as[Long].collect()
      assert(w1900.max == 1L, s"late event should be dropped, got counts ${w1900.toSeq}")
    } finally q.stop()
  }

  test("append-mode parquet sink emits only watermark-finalized windows, as (source, source_number)") {
    val srcDir = tmp(); val chk = tmp(); val out = tmp()
    def writeRecs(recs: String*): Unit =
      Files.writeString(Files.createTempFile(java.nio.file.Paths.get(srcDir), "drop", ".txt"),
        recs.mkString("\n"))
    writeRecs(rec("2021-03-07 19:01:00", "desktop"), rec("2021-03-07 19:02:00", "mobile-app"))
    def run(): Unit = {
      val counts = P.windowedCounts(P.parse(P.fileSource(spark, srcDir)))
      val q = P.parquetQuery(counts, out, chk, Trigger.AvailableNow())
      q.awaitTermination()
    }
    run()
    // nothing finalized yet (watermark has not passed 19:05)
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 0, s"windows emitted before watermark passed: $afterFirst")
    writeRecs(rec("2021-03-07 19:30:00", "desktop")) // pushes watermark past 19:05
    run()
    val finalized = spark.read.parquet(out)
    assert(finalized.columns.toSeq == Seq("source", "source_number"))
    val rows = finalized.as[(String, Long)].collect().toSet
    assert(rows == Set(("desktop", 1L), ("mobile-app", 1L)), s"got $rows")
  }

  test("checkpoint recovery: restart resumes without double-counting") {
    val srcDir = tmp(); val chk = tmp()
    val ev1 = graft.model.Tables.events(spark, sf).filter(col("event_id") < 500)
    val ev2 = graft.model.Tables.events(spark, sf).filter(col("event_id") >= 500)
    Simulator.writeFileDrops(ev1, srcDir)
    def run(): Unit = {
      val counts = P.windowedCounts(P.parse(P.fileSource(spark, srcDir, maxFilesPerTrigger = Some(2))))
      val q = counts.writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r =>
            StreamingSpec.recovered.put(
              (r.getAs[java.sql.Timestamp]("start"), r.getAs[String]("source")),
              r.getAs[Long]("source_number"))
          }
        }
        .option("checkpointLocation", chk).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    Simulator.writeFileDrops(ev2, srcDir)
    run()
    // update-mode rows carry the full state count per key; the last
    // value per key must sum to every event counted exactly once
    val total = StreamingSpec.recovered.values().toArray.map(_.asInstanceOf[Long]).sum
    val expected = graft.model.Tables.events(spark, sf).count()
    assert(total == expected, s"checkpoint recovery double/under-counted: $total vs $expected")
  }

  test("dropDuplicatesWithinWatermark removes redelivered message ids") {
    val in = MemoryStream[String]
    val deduped = P.dedupedByMessageId(P.parse(in.toDF()))
    val q = startMemoryQuery(deduped.select("messageid", "source"), "dedup", "append")
    try {
      in.addData(rec("2021-03-07 19:01:00", "desktop", "m1"),
                 rec("2021-03-07 19:01:30", "desktop", "m1"), // redelivery
                 rec("2021-03-07 19:02:00", "mobile-web", "m2"))
      q.processAllAvailable()
      in.addData(rec("2021-03-07 19:03:00", "desktop", "m1")) // still within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup").select("messageid").as[String].collect().toSeq
      assert(ids.sorted == Seq("m1", "m2"), s"got $ids")
    } finally q.stop()
  }

  test("stateful stages compose in any order under ONE pipeline watermark (no redefinition)") {
    // the first stateful stage owns the lateness budget; every later
    // stage must reuse it — Spark refuses a second withWatermark once
    // multiple stateful operators are enabled, so without the shared
    // withEventWatermark guard each of these chains fails at analysis
    val in = MemoryStream[String]
    val parsed = P.parse(in.toDF())
    val chains = Seq(
      "dedup->counts" -> P.windowedCounts(P.dedupedByContent(parsed)),
      "dedup->distinct" -> P.windowedDistinctUsers(P.dedupedByContent(parsed)),
      "msgid->content->counts" ->
        P.windowedCounts(P.dedupedByContent(P.dedupedByMessageId(parsed))))
    chains.foreach { case (name, df) =>
      val q = startMemoryQuery(df, s"chain_${name.replaceAll("[^a-z]", "_")}", "append")
      try {
        in.addData(rec("2021-03-07 19:01:00", "desktop", "m1"))
        q.processAllAvailable() // throws on watermark redefinition
      } finally q.stop()
    }
  }

  test("content dedup drops fresh-message-id redeliveries and evicts state at the watermark") {
    val in = MemoryStream[String]
    val deduped = P.dedupedByContent(P.parse(in.toDF()), "2 minutes")
    val q = startMemoryQuery(deduped.select("messageid", "source"), "cdedup", "append")
    try {
      // same content, three DIFFERENT message ids — message-id dedup
      // would pass all three; content dedup must keep exactly one
      in.addData(rec("2021-03-07 19:01:00", "desktop", "m1"),
                 rec("2021-03-07 19:01:00", "desktop", "m2"),
                 rec("2021-03-07 19:02:00", "mobile-web", "m3"))
      q.processAllAvailable()
      in.addData(rec("2021-03-07 19:01:00", "desktop", "m4")) // dup, still in state
      q.processAllAvailable()
      val first = spark.table("cdedup").select("messageid").as[String].collect().toSet
      assert(first == Set("m1", "m3"), s"got $first")
      // advance the watermark past 19:01/19:02 + 2 min, then send one
      // more batch so the evicting maintenance pass runs
      in.addData(rec("2021-03-07 19:30:00", "desktop", "m5"))
      q.processAllAvailable()
      in.addData(rec("2021-03-07 19:01:00", "desktop", "m6"), // late dup: dropped by lateness
                 rec("2021-03-07 19:31:00", "desktop", "m7"))
      q.processAllAvailable()
      val ids = spark.table("cdedup").select("messageid").as[String].collect().toSet
      assert(ids == Set("m1", "m3", "m5", "m7"), s"got $ids")
      // state is bounded by the watermark horizon, not all-events-ever:
      // 4 distinct keys entered state (m1, m3, m5, m7 contents); after
      // the watermark passed 19:01/19:02 those two keys must be gone
      val stateRows = q.recentProgress.reverse
        .flatMap(_.stateOperators).headOption.map(_.numRowsTotal)
      assert(stateRows.exists(_ <= 2),
        s"dedup state not evicted at the watermark: $stateRows rows")
    } finally q.stop()
  }

  test("content dedup state spans a restart on both state stores") {
    // dropDuplicatesWithinWatermark on the sha-256 content key, drained
    // through the file source in two runs on one checkpoint. Fresh-
    // message-id redeliveries land BOTH within each phase and ACROSS
    // the restart (the cross-phase dup only checkpointed dedup state
    // can catch). One drain keeps the default HDFS-backed state store,
    // the other uses RocksDB, so equal counts also show the dedup
    // semantics do not depend on the provider.
    val ev = graft.model.Tables.events(spark, sf)
    val a = ev.filter(col("event_id") < 500)
    val b = ev.filter(col("event_id") >= 500)
    def rdl(e: DataFrame): DataFrame = e.filter(pmod(col("event_id"), lit(7)) === 0)
    val crossRdl = a.filter(pmod(col("event_id"), lit(13)) === 0)
    def lines(base: DataFrame, redel: DataFrame): DataFrame =
      Simulator.productViewJson(base).union(
        Simulator.productViewJson(redel).withColumn("value",
          regexp_replace(col("value"), "\"messageid\":\"msg-", "\"messageid\":\"msg-rdl-")))

    def drain(provider: Option[String]): Map[(java.sql.Timestamp, String), Long] = {
      val dir = tmp(); val chk = tmp()
      val got = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
      def run(): Unit = {
        val q = P.windowedCounts(P.dedupedByContent(P.parse(P.fileSource(spark, dir))))
          .writeStream.outputMode("update")
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.collect().foreach { r =>
              got.put((r.getAs[java.sql.Timestamp]("start"), r.getAs[String]("source")),
                r.getAs[Long]("source_number"))
            }
          }
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      provider.foreach(spark.conf.set(key, _))
      try {
        lines(a, rdl(a)).repartition(4).write.mode("append").text(dir)
        run()
        lines(b, rdl(b).unionByName(crossRdl)).repartition(4).write.mode("append").text(dir)
        run()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      got.asScala.toMap
    }

    val hdfs = drain(None)
    val rocks = drain(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(rocks === hdfs,
      "deduped windowed counts must agree per (window, source) across state stores")
    // exactly-once across restart AND redelivery: every distinct
    // content counted once (messageid is excluded from the key, so the
    // rewritten ids collapse; content = (type, user, event_id%100, ts))
    val expected = ev.select(col("event_type"), col("user_id"),
      pmod(col("event_id"), lit(100)), col("ts")).distinct().count()
    assert(hdfs.values.sum === expected,
      "content dedup must collapse every redelivery exactly once")
  }

  test("observe() surfaces per-batch wire-quality metrics without extra jobs") {
    val in = MemoryStream[String]
    val observed = P.withWireMetrics(P.parse(in.toDF()))
    val q = startMemoryQuery(observed.select("messageid", "source"), "obs", "append")
    try {
      in.addData(
        rec("2021-03-07 19:01:00", "desktop", "m1"),
        rec("2021-03-07 19:02:00", "mobile-web", "m2"),
        // malformed timestamp -> parses to null, counted by n_bad_ts
        rec("not-a-timestamp", "desktop", "m3"))
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("wire_metrics"))).last
      assert(m.getAs[Long]("n_records") == 3L, s"n_records: $m")
      assert(m.getAs[Long]("n_bad_ts") == 1L, s"n_bad_ts: $m")
      assert(m.getAs[Long]("n_no_source") == 0L, s"n_no_source: $m")
    } finally q.stop()
  }

  test("dead-letter split quarantines malformed payloads with reason, raw preserved") {
    val in = MemoryStream[String]
    val goodDir = tmp(); val deadDir = tmp()
    val q = P.deadLetterQuery(P.parseWithRaw(in.toDF()), goodDir, deadDir,
      tmp(), Trigger.ProcessingTime(0))
    try {
      in.addData(
        rec("2021-03-07 19:01:00", "desktop", "m1"),
        rec("2021-03-07 19:02:00", "mobile-web", "m2"),
        "this is not json at all",
        // parseable JSON but no context.source field
        """{"event":"ProductView","messageid":"m4","timestamp":"2021-03-07 19:03:00"}""",
        rec("not-a-timestamp", "desktop", "m5"),
        // from_json's corrupt-record rule, end to end: a wrong-typed
        // subtree, an empty-string struct slot (its source and
        // timestamp are fine) and a non-object root are malformed
        """{"event":"ProductView","messageid":"m6","context":[1],"timestamp":"2021-03-07 19:04:00"}""",
        """{"event":"ProductView","messageid":"m7","properties":"",""" +
          """"context":{"source":"desktop"},"timestamp":"2021-03-07 19:05:00"}""",
        "[1]")
      q.processAllAvailable()
      val good = spark.read.parquet(goodDir)
      assert(good.count() == 2L)
      assert(good.select("messageid").as[String].collect().toSet == Set("m1", "m2"))
      assert(!good.columns.contains("raw_value"), "raw bytes leaked to the good path")
      val dead = spark.read.parquet(deadDir)
      val reasons = dead.select("reason").as[String].collect().sorted.toSeq
      assert(reasons == Seq("bad_timestamp", "malformed_json", "malformed_json",
        "malformed_json", "malformed_json", "no_source"), s"got $reasons")
      // quarantine preserves the exact original payload for replay
      val raws = dead.select("raw_value").as[String].collect()
      assert(raws.contains("this is not json at all"))
      assert(raws.exists(_.contains("\"m5\"")))
    } finally q.stop()
  }

  /** Runs `body` with the session's shuffle partitions at `n`, restored
    * afterwards: a cluster-sized conf above the test session's 8 cores. */
  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toLong)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def stateStores(q: StreamingQuery): Int =
    q.lastProgress.stateOperators(0).numShufflePartitions.toInt

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val sparkManager = classOf[FileContextBasedCheckpointFileManager].getName
  private val localManager = classOf[LocalCheckpointFileManager].getName

  /** Runs `body` with the session's checkpoint manager set to `cls`, or
    * unset for None, and puts the previous setting back afterwards. */
  private def withCheckpointManager[A](cls: Option[String])(body: => A): A = {
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(managerKey))(spark.conf.set(managerKey, _))
    val prev = spark.conf.getOption(managerKey)
    put(cls)
    try body finally put(prev)
  }

  /** The checkpoint manager the query's own session ran. */
  private def managerOf(q: StreamingQuery): String =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      .sparkSession.conf.getOption(managerKey).getOrElse("unset")

  test("foreachBatch emits each micro-batch globally sorted descending (v2 parity)") {
    // ... in ONE job per micro-batch, the emit's own collect included:
    // a global sort's range-partitioner sampling job would re-run the
    // stateful plan, state-store commits included. Every job a batch
    // starts carries the query id and batch id as local properties; a
    // sentinel job seen last proves every earlier job event has
    // reached the listener.
    val sentinel = "graft.test.sentinel"
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String), AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(sentinel) != null) sentinelSeen.set(true)
          else Option(p.getProperty(StreamExecution.QUERY_ID_KEY)).foreach { id =>
            jobs.computeIfAbsent((id, p.getProperty(MicroBatchExecution.BATCH_ID_KEY)),
              _ => new AtomicInteger).incrementAndGet()
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val in = MemoryStream[String]
    val counts = P.windowedCounts(P.parse(in.toDF()))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = P.sortedBatchQuery(counts, tmp(), Trigger.ProcessingTime(0)) { (df, batch) =>
      val rows = df.select("source_number")
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
      seen.synchronized { seen += batch -> rows }
    }
    try {
      in.addData(
        rec("2021-03-07 19:01:00", "desktop"), rec("2021-03-07 19:02:00", "desktop"),
        rec("2021-03-07 19:01:10", "mobile-app"), rec("2021-03-07 19:01:20", "mobile-web"),
        rec("2021-03-07 19:01:30", "mobile-web"), rec("2021-03-07 19:01:40", "mobile-web"))
      q.processAllAvailable()
      in.addData(
        rec("2021-03-07 19:03:00", "mobile-app"), rec("2021-03-07 19:03:10", "mobile-app"),
        rec("2021-03-07 19:06:00", "desktop"))
      q.processAllAvailable()
    } finally q.stop()
    try {
      spark.sparkContext.setLocalProperty(sentinel, "sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(sentinel, null)
      eventually(timeout(Span(30, Seconds)))(assert(sentinelSeen.get))
    } finally spark.sparkContext.removeSparkListener(listener)
    val batches = seen.synchronized(seen.toList)
    val data = batches.filter(_._2.nonEmpty)
    assert(data.size >= 2, s"expected two data micro-batches, got $batches")
    val perBatch = jobs.asScala.collect { case ((id, b), n) if id == q.id.toString => b -> n.get }
    assert(perBatch.keySet == batches.map(_._1.toString).toSet,
      s"jobs by batch $perBatch, emitted batches $batches")
    batches.foreach { case (b, rows) =>
      assert(perBatch(b.toString) == 1, s"batch $b ran ${perBatch(b.toString)} jobs, expected 1")
      assert(rows == rows.sorted.reverse, s"batch $b not sorted desc: $rows")
    }
    assert(data.head._2 == Seq(3L, 2L, 1L), s"first batch: ${data.head._2}")
    assert(data(1)._2 == Seq(3L, 1L), s"second batch: ${data(1)._2}")
  }

  test("an emit that reads nothing still commits every state store") {
    // Spark fails a stateful foreachBatch batch whose partitions were
    // not all consumed (STATE_STORE_COMMIT_VALIDATION_FAILED); the sort
    // runs the batch itself, so the emit may ignore its frame
    val srcDir = twoFileInput(); val base = tmp()
    val counts = P.windowedCounts(P.parse(P.fileSource(spark, srcDir)))
    val (console, parquet) =
      P.dualSinkQueries(counts, s"$base/out", s"$base/chk", Trigger.AvailableNow())((_, _) => ())
    console.awaitTermination(); parquet.awaitTermination()
    Seq(console, parquet).foreach(q => assert(q.exception.isEmpty, s"${q.exception}"))
    val committed = console.recentProgress.filter(_.numInputRows > 0)
      .map(_.stateOperators.head.numRowsUpdated).sum
    // 60 events in 30 minutes over three sources: 18 (window, source) keys
    assert(committed == 18L, s"console state rows updated: $committed")
    assert(spark.read.parquet(s"$base/out").count() == 12L)
  }

  test("a file backlog drains in one micro-batch per sink; maxFilesPerTrigger still caps it") {
    // 12 files of 5 events a minute apart, modified in event-time
    // order, so no event is late however the files are batched
    val sources = Seq("desktop", "mobile-app", "mobile-web")
    val srcDir = tmp()
    val t0 = System.currentTimeMillis() - 60000L
    (0 until 12).foreach { f =>
      val path = java.nio.file.Paths.get(srcDir, f"drop-$f%02d.txt")
      Files.writeString(path, (0 until 5).map { i =>
        val m = f * 5 + i
        rec(f"2021-03-07 19:$m%02d:00", sources(m % 3))
      }.mkString("\n"))
      path.toFile.setLastModified(t0 + 1000L * f)
    }
    def drain(cap: Option[Int]): Seq[Int] = {
      val latest = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
      val counts = P.windowedCounts(P.parse(P.fileSource(spark, srcDir, cap)))
      val base = tmp()
      val qs = P.dualSinkQueries(counts, s"$base/out", s"$base/chk", Trigger.AvailableNow()) {
        (df, _) => df.collect().foreach(r => latest.put((r.getTimestamp(0), r.getString(2)), r.getLong(3)))
      }
      val both = Seq(qs._1, qs._2)
      both.foreach(_.awaitTermination())
      both.foreach(q =>
        assert(q.recentProgress.map(_.numInputRows).sum == 60L, s"$cap: query ${q.id} input rows"))
      assert(latest.values().asScala.map(x => x: Long).sum == 60L, s"$cap: console counts $latest")
      both.map(_.recentProgress.count(_.numInputRows > 0))
    }
    assert(drain(None) == Seq(1, 1), "uncapped data micro-batches per sink")
    assert(drain(Some(2)) == Seq(6, 6), "capped data micro-batches per sink")
  }

  test("W8: console + parquet sinks run concurrently from ONE lineage (v2 parity)") {
    val srcDir = tmp(); val out = tmp(); val chk = tmp()
    def writeRecs(recs: String*): Unit =
      Files.writeString(Files.createTempFile(java.nio.file.Paths.get(srcDir), "drop", ".txt"),
        recs.mkString("\n"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def runBoth(): Unit = {
      val counts = P.windowedCounts(P.parse(P.fileSource(spark, srcDir)))
      val (console, parquet) =
        P.dualSinkQueries(counts, out, chk, Trigger.AvailableNow()) { (df, _) =>
          val batch = df.select("source_number")
            .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
          if (batch.nonEmpty) seen.synchronized { seen += batch }
        }
      // both queries are registered and live before either is awaited —
      // the reference's W8 shape (two writeStream.start() on one lineage)
      val ids = spark.streams.active.map(_.id).toSet
      assert(ids.contains(console.id) && ids.contains(parquet.id),
        "both sinks must run concurrently")
      console.awaitTermination()
      parquet.awaitTermination()
    }
    writeRecs(rec("2021-03-07 19:01:00", "desktop"), rec("2021-03-07 19:02:00", "desktop"),
              rec("2021-03-07 19:03:00", "mobile-app"))
    runBoth()
    writeRecs(rec("2021-03-07 19:30:00", "desktop")) // finalize the 19:00 window
    runBoth()
    // console side saw sorted update batches; parquet side has the
    // finalized window only
    assert(seen.synchronized(seen.nonEmpty))
    seen.synchronized(seen.toList).foreach(b =>
      assert(b == b.sorted.reverse, s"console batch not sorted desc: $b"))
    val finalized = spark.read.parquet(out).as[(String, Long)].collect().toSet
    assert(finalized == Set(("desktop", 2L), ("mobile-app", 1L)), s"got $finalized")
  }

  test("every pipeline query runs on at most as many state stores as cores") {
    val cores = spark.sparkContext.defaultParallelism
    val srcDir = tmp()
    Files.writeString(java.nio.file.Paths.get(srcDir, "drop.txt"), Seq(
      rec("2021-03-07 19:01:00", "desktop"), rec("2021-03-07 19:02:00", "mobile-app"),
      rec("2021-03-07 19:30:00", "desktop")).mkString("\n"))
    val url = "jdbc:derby:memory:graftstreaming;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE win_stores (start_ts TIMESTAMP NOT NULL, " +
        "source VARCHAR(32) NOT NULL, source_number BIGINT, " +
        "PRIMARY KEY (start_ts, source))")
    finally c.close()
    withShufflePartitions(32) {
      val counts = P.windowedCounts(P.parse(P.fileSource(spark, srcDir)))
      val isolation = "spark.sql.artifact.isolation.enabled"
      def started(name: String, stores: Int = cores)(start: => Seq[StreamingQuery]): Unit = {
        val isolated = spark.conf.get(isolation)
        val qs = start
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "32",
          s"$name left the session conf changed")
        assert(spark.conf.get(isolation) == isolated, s"$name left $isolation changed")
        qs.foreach { q =>
          q.awaitTermination()
          assert(stateStores(q) == stores, s"$name: ${stateStores(q)} state stores")
        }
      }
      started("consoleQuery")(Seq(P.consoleQuery(counts, tmp(), Trigger.AvailableNow())))
      started("parquetQuery")(Seq(P.parquetQuery(counts, tmp(), tmp(), Trigger.AvailableNow())))
      // the two dual-sink queries run side by side: half the cores each
      started("dualSinkQueries", stores = cores / 2) {
        val (console, parquet) =
          P.dualSinkQueries(counts, tmp(), tmp(), Trigger.AvailableNow())((df, _) => df.collect())
        Seq(console, parquet)
      }
      started("jdbcUpsertQuery")(
        Seq(P.jdbcUpsertQuery(counts, url, "win_stores", tmp(), Trigger.AvailableNow())))
    }
  }

  test("v2 restart from a 32-state-store checkpoint keeps its count, loses and doubles nothing") {
    // 120 events, 15 s apart over 30 min, three sources; the second
    // file starts after the first file's watermark, so no event is late
    // however the files are batched
    val sources = Seq("desktop", "mobile-app", "mobile-web")
    val recs = (0 until 120).map { i =>
      rec(f"2021-03-07 19:${i / 4}%02d:${i % 4 * 15}%02d", sources(i % 3))
    }
    def drop(dir: String, name: String, lines: Seq[String]): Unit =
      Files.writeString(java.nio.file.Paths.get(dir, name), lines.mkString("\n"))
    final class Latest extends ((DataFrame, Long) => Unit) {
      val counts = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
      def apply(df: DataFrame, batch: Long): Unit =
        df.collect().foreach(r => counts.put((r.getTimestamp(0), r.getString(2)), r.getLong(3)))
      def toMap: Map[(java.sql.Timestamp, String), Long] = counts.asScala.toMap
    }
    def pipeline(dir: String): DataFrame = P.windowedCounts(P.parse(P.fileSource(spark, dir)))
    def await(qs: (StreamingQuery, StreamingQuery)): Seq[Int] = {
      qs._1.awaitTermination(); qs._2.awaitTermination()
      Seq(stateStores(qs._1), stateStores(qs._2))
    }
    def parquetRows(out: String): Seq[(String, Long)] =
      spark.read.parquet(out).as[(String, Long)].collect().toSeq.sorted

    // uninterrupted: both files, one drain
    val fullDir = tmp(); val fullOut = tmp(); val full = new Latest
    drop(fullDir, "a.txt", recs.take(40)); drop(fullDir, "b.txt", recs.drop(40))
    await(P.dualSinkQueries(pipeline(fullDir), fullOut, tmp(), Trigger.AvailableNow())(full))

    // interrupted: batch 0 started the old way, on 32 state stores
    val srcDir = tmp(); val out = tmp(); val chk = tmp(); val resumed = new Latest
    drop(srcDir, "a.txt", recs.take(40))
    // and under Spark's default checkpoint manager
    val (oldStores, oldManagers) = withShufflePartitions(32) {
      withCheckpointManager(Some(sparkManager)) {
        val counts = pipeline(srcDir)
        val qs = (
          counts.writeStream.outputMode("update")
            .foreachBatch { (df: DataFrame, batch: Long) =>
              resumed(df.sort(desc("source_number")), batch)
            }
            .option("checkpointLocation", s"$chk/console")
            .trigger(Trigger.AvailableNow()).start(),
          counts.drop("start", "end").writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", s"$chk/parquet")
            .trigger(Trigger.AvailableNow()).start())
        (await(qs), Seq(managerOf(qs._1), managerOf(qs._2)))
      }
    }
    assert(oldStores == Seq(32, 32), s"old start: $oldStores")
    assert(oldManagers == Seq(sparkManager, sparkManager), s"old start: $oldManagers")
    // resumed at the same conf: the builders start on 4 stores each and
    // install the local manager, the checkpoint's offset log overrides
    // the store count
    drop(srcDir, "b.txt", recs.drop(40))
    val (newStores, newManagers) = withShufflePartitions(32) {
      withCheckpointManager(None) {
        val qs = P.dualSinkQueries(pipeline(srcDir), out, chk, Trigger.AvailableNow())(resumed)
        (await(qs), Seq(managerOf(qs._1), managerOf(qs._2)))
      }
    }
    assert(newStores == Seq(32, 32), s"resumed queries left the checkpoint's count: $newStores")
    assert(newManagers == Seq(localManager, localManager), s"resumed: $newManagers")

    assert(full.toMap.size == 18 && full.toMap.values.sum == 120L, s"uninterrupted: ${full.toMap}")
    assert(resumed.toMap == full.toMap, "latest console counts differ from an uninterrupted run")
    // four windows (19:00-19:20) lie behind the final watermark, 19:24:45
    val finalized = parquetRows(fullOut)
    assert(finalized.size == 12, s"uninterrupted parquet rows: $finalized")
    assert(parquetRows(out) == finalized, "parquet rows differ from an uninterrupted run")
  }

  /** Two files of events spanning windows behind the final watermark,
    * so a drain writes state, both logs and parquet rows. */
  private def twoFileInput(): String = {
    val dir = tmp()
    val sources = Seq("desktop", "mobile-app", "mobile-web")
    val recs = (0 until 60).map(i => rec(f"2021-03-07 19:${i / 2}%02d:${i % 2 * 30}%02d", sources(i % 3)))
    Files.writeString(java.nio.file.Paths.get(dir, "a.txt"), recs.take(30).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(dir, "b.txt"), recs.drop(30).mkString("\n"))
    dir
  }

  /** Drains `srcDir` through `dualSinkQueries` into `base/out`, with
    * checkpoints under `base/chk`; returns both queries. */
  private def drainDual(srcDir: String, base: String): (StreamingQuery, StreamingQuery) = {
    val counts = P.windowedCounts(P.parse(P.fileSource(spark, srcDir)))
    val qs = P.dualSinkQueries(counts, s"$base/out", s"$base/chk", Trigger.AvailableNow())((df, _) => df.collect())
    qs._1.awaitTermination(); qs._2.awaitTermination()
    qs
  }

  test("a local dual-sink drain starts no process under its checkpoints or its sink log") {
    // without libhadoop, Spark's default manager forks chmod for every
    // checkpoint file and readlink on every rename; jdk.ProcessStart
    // counts the forks whatever the machine's speed. The parquet data
    // files are written through Hadoop's FileSystem, not a checkpoint
    // manager, and still fork chmod for the file and its .crc.
    val srcDir = twoFileInput(); val base = tmp()
    val canary = "graft-process-start-canary"
    val recording = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      withCheckpointManager(None)(drainDual(srcDir, base))
      new ProcessBuilder("true", canary).start().waitFor()
      recording.stop()
      recording.dump(dump)
    } finally recording.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    Files.delete(dump)
    assert(commands.exists(_.contains(canary)), s"the recording missed the canary: $commands")
    val forks = commands.filter(c => c.contains(s"$base/chk/") || c.contains(s"$base/out/_spark_metadata"))
    assert(forks.isEmpty, s"${forks.size} processes started under $base: ${forks.take(5)}")
  }

  test("a second drain over the same lineage compiles no generated code") {
    // Janino's cache is keyed on (task thread's context classloader,
    // code): a query started with artifact isolation runs its tasks
    // under its own session's classloader and compiles every class again
    val srcDir = twoFileInput()
    drainDual(srcDir, tmp())
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = drainDual(srcDir, tmp())
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    Seq(second._1, second._2).foreach(q => assert(q.exception.isEmpty, s"${q.exception}"))
    assert(second._1.recentProgress.map(_.numInputRows).sum == 60L, "second drain's input rows")
    assert(recompiled == 0L, s"the second drain compiled $recompiled generated classes")
  }

  test("the local manager writes the same files, with the same modes, as Spark's default") {
    val srcDir = twoFileInput()
    val sparkBase = tmp(); val localBase = tmp()
    val sparkRun = withCheckpointManager(Some(sparkManager))(drainDual(srcDir, sparkBase))
    val localRun = withCheckpointManager(None)(drainDual(srcDir, localBase))
    assert(Seq(sparkRun._1, sparkRun._2).map(managerOf) == Seq(sparkManager, sparkManager))
    assert(Seq(localRun._1, localRun._2).map(managerOf) == Seq(localManager, localManager))
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    // relative name (temp-file UUIDs masked) -> POSIX mode
    def tree(root: java.nio.file.Path): Map[String, String] =
      if (!Files.exists(root)) Map.empty
      else Files.walk(root).iterator().asScala.filter(_ != root).map { f =>
        uuid.replaceAllIn(root.relativize(f).toString, "<uuid>") ->
          java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      }.toMap
    for (sub <- Seq("chk", "out/_spark_metadata")) {
      val expected = tree(java.nio.file.Paths.get(sparkBase, sub))
      val got = tree(java.nio.file.Paths.get(localBase, sub))
      assert(expected.keys.exists(_.endsWith(".crc")), s"$sub: no checksum sidecars in $expected")
      assert(got.keySet == expected.keySet,
        s"$sub: only Spark's: ${expected.keySet -- got.keySet}; only local: ${got.keySet -- expected.keySet}")
      val modes = expected.keys.toSeq.sorted.filter(k => got(k) != expected(k)).map(k => s"$k ${expected(k)} ${got(k)}")
      assert(modes.isEmpty, s"$sub: modes differ: $modes")
    }
  }

  test("timestamp pattern parses both bare and .SSS+0000 wire formats") {
    val df = Seq(
      rec("2021-03-07 19:01:23", "desktop"),
      rec("2021-03-07 19:01:23.456+0000", "desktop")).toDF("value")
    val parsed = P.parse(df).select("timestamp").collect()
    assert(parsed.forall(_.get(0) != null), "explicit pattern must parse both wire formats")
  }

  test("external table registration over the streaming parquet output (K5)") {
    val dir = tmp()
    Seq(("desktop", 3L), ("mobile-app", 2L)).toDF("source", "source_number")
      .write.mode("overwrite").parquet(dir)
    P.registerExternalTable(spark, "commerce_test", dir)
    try {
      val rows = spark.sql("SELECT source, source_number FROM commerce_test ORDER BY source_number DESC")
        .as[(String, Long)].collect().toSeq
      assert(rows == Seq(("desktop", 3L), ("mobile-app", 2L)))
    } finally spark.sql("DROP TABLE IF EXISTS commerce_test")
  }
}
