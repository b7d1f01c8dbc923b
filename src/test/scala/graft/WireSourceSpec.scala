package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.WireEvents

/** DataSource V2 wire source: round-trip fidelity, split-boundary
  * ownership, planning-time partition pruning, column pruning, and the
  * fail-loudly malformed-line contract.
  *
  * The pruning tests read evidence off the EXECUTED plan string — the
  * same `pushed=[...]` / `files=N` clause a plan reviewer sees in
  * `.explain` — so "the filter was pushed" is a printed fact, not an
  * assumption about connector internals.
  */
/** Local filesystem that records every `open` — the probe
  * WireSourceSpec routes a scan through to pin "ts-range planning
  * opens no data files". Top-level with a no-arg constructor because
  * Hadoop instantiates it by reflection from `fs.cntfs.impl`. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}
object CountingLocalFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class WireSourceSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_wire").toString

  private lazy val events: DataFrame =
    graft.model.Tables.events(spark, sf)

  /** One wire dump shared by the read-side tests (writer runs once;
    * every test reads it independently). */
  private lazy val wireDir: String = {
    val d = tmp()
    WireEvents.writeWire(events, d)
    d
  }

  /** Planned file census off the scan description
    * (`WireEventsScan files=N ...`) — ONE spelling for every
    * pruning assertion in this spec. */
  private def filesOf(plan: String): Int =
    "files=(\\d+)".r.findFirstMatchIn(plan).get.group(1).toInt
  private def filesOf(df: DataFrame): Int =
    filesOf(df.queryExecution.executedPlan.toString)

  private def canon(df: DataFrame): Array[String] =
    df.select(col("event_id"), date_format(col("ts"), WireEvents.TsFmt),
              col("user_id"), col("event_type"), col("value").cast("string"),
              col("props"))
      .collect().map(_.mkString("")).sorted

  test("wire round-trip is lossless: every field, µs timestamps, JSON-in-JSON props") {
    val back = WireEvents.read(spark, wireDir)
      .withColumn("ts", to_timestamp(col("ts"), WireEvents.TsFmt))
    assert(canon(back) === canon(events))
  }

  test("byte-range splits partition the file without duplicating or losing straddled lines") {
    // 256-byte splits on ~150-byte lines: nearly every line straddles
    // or abuts a boundary, the worst case for ownership bookkeeping
    val split = WireEvents.read(spark, wireDir, maxSplitBytes = 256)
    val whole = WireEvents.read(spark, wireDir)
    assert(split.rdd.getNumPartitions > whole.rdd.getNumPartitions,
      "tiny maxSplitBytes must yield more input partitions")
    assert(canon(split.withColumn("ts", to_timestamp(col("ts"), WireEvents.TsFmt)))
      === canon(events))
  }

  test("event_type equality prunes partition directories at planning time") {
    val df = WireEvents.read(spark, wireDir).filter(col("event_type") === "purchase")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(event_type,purchase)") && plan.contains("pushed=["), plan)
    val all = WireEvents.read(spark, wireDir)
    val allFiles = filesOf(all)
    val pruned = filesOf(plan)
    assert(pruned < allFiles,
      s"pruned scan must plan fewer files ($pruned vs $allFiles)")
    // and the surviving rows really are the one type, injected from the
    // directory name rather than parsed from any line
    assert(df.select(col("event_type")).distinct().collect().map(_.getString(0)).toSeq
      === Seq("purchase"))
    assert(df.count() === events.filter(col("event_type") === "purchase").count())
  }

  test("In-list pushdown plans only the listed directories") {
    val df = WireEvents.read(spark, wireDir)
      .filter(col("event_type").isin("click", "view"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[In(event_type"), plan)
    assert(df.count() ===
      events.filter(col("event_type").isin("click", "view")).count())
  }

  test("a null IN-list entry matches nothing (SQL three-valued semantics, fully-handled filter)") {
    // `event_type IN ('click', NULL)` is TRUE only for 'click' and NULL
    // (filtered) otherwise — since the In filter is reported fully
    // handled, getting this wrong at the directory level would RETURN
    // rows a vanilla parquet scan filters out. The fixture has no null
    // types, so inject some: they land in the __HIVE_DEFAULT_PARTITION__
    // dir, the one a null IN entry must NOT resurrect.
    val d = tmp()
    val withNulls = events.filter(col("event_id") < 200)
      .withColumn("event_type",
        when(pmod(col("event_id"), lit(5)) === 0, lit(null: String))
          .otherwise(col("event_type")))
    WireEvents.writeWire(withNulls, d)
    assert(Files.exists(Paths.get(d, "event_type=__HIVE_DEFAULT_PARTITION__")),
      "fixture must exercise the default (null) partition dir")
    val df = WireEvents.read(spark, d)
      .filter(col("event_type").isin("click", null))
    assert(df.select(col("event_type")).distinct().collect()
      .map(_.getString(0)).toSeq === Seq("click"))
    assert(df.count() ===
      withNulls.filter(col("event_type").isin("click", null)).count())
    // IS NOT NULL keeps pruning the default dir (regression guard for
    // the adjacent clause)
    assert(WireEvents.read(spark, d).filter(col("event_type").isNotNull).count()
      === withNulls.filter(col("event_type").isNotNull).count())
  }

  test("ts range predicates prune whole files off the plan (sorted-file min/max stats)") {
    // cut at the fixture's median ts: with the writer's time-banded
    // layout roughly half of each directory's files fall entirely
    // below the cut and must vanish from the planned file census
    val cut = events.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)
    val all = WireEvents.read(spark, wireDir)
    val ranged = WireEvents.read(spark, wireDir).filter(col("ts") >= cut)
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(filesOf(ranged) < filesOf(all),
      s"ts range must prune files (${filesOf(ranged)} vs ${filesOf(all)})")
    // pushed-vs-residual parity: pruning is coarse, the residual filter
    // is exact — row counts must match the parquet truth exactly
    assert(ranged.count() ===
      events.filter(date_format(col("ts"), WireEvents.TsFmt) >= cut).count())
    // upper bounds prune from the other side
    val below = WireEvents.read(spark, wireDir).filter(col("ts") < cut)
    assert(filesOf(below) < filesOf(all))
    assert(below.count() ===
      events.filter(date_format(col("ts"), WireEvents.TsFmt) < cut).count())
  }

  test("non-partition predicates stay residual (rows still filtered, no false pushdown claim)") {
    val df = WireEvents.read(spark, wireDir).filter(col("user_id") === 7L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("pushed=[EqualTo(user_id"), plan)
    assert(df.count() === events.filter(col("user_id") === 7L).count())
  }

  test("column pruning reaches the reader: scan materializes only requested fields") {
    val df = WireEvents.read(spark, wireDir).select(col("user_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[user_id]"), plan)
    assert(df.distinct().count() ===
      events.select(col("user_id")).distinct().count())
  }

  test("a malformed wire line fails loudly with file and byte offset") {
    val d = tmp()
    WireEvents.writeWire(events.filter(col("event_id") < 100), d)
    val dir = Paths.get(d, "event_type=click")
    val victim = Files.list(dir).filter(p =>
      !p.getFileName.toString.startsWith("_") &&
      !p.getFileName.toString.startsWith(".")).findFirst().get()
    Files.writeString(victim,
      Files.readString(victim) + "{not json\n")
    // the Hadoop local FS keeps a `.name.crc` sidecar; editing the data
    // file without it makes the read fail on CHECKSUM, not on parse
    Files.deleteIfExists(dir.resolve("." + victim.getFileName.toString + ".crc"))
    val e = intercept[org.apache.spark.SparkException] {
      WireEvents.read(spark, d).count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("malformed wire line"), msgs)
    assert(msgs.contains("offset"), msgs)
  }

  test("ServiceLoader registration resolves the short name") {
    val df = spark.read.format("wire-events")
      .option("path", wireDir).load()
    assert(df.schema === WireEvents.wireSchema)
  }

  test("SQL surface: CREATE TABLE USING wire-events answers SQL with pushdown intact") {
    spark.sql("DROP TABLE IF EXISTS wire_ev")
    spark.sql(
      s"CREATE TABLE wire_ev USING `wire-events` OPTIONS (path '$wireDir')")
    try {
      val df = spark.sql(
        "SELECT user_id, count(*) AS n FROM wire_ev " +
        "WHERE event_type = 'purchase' GROUP BY user_id")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("EqualTo(event_type,purchase)"), plan)
      val viaApi = WireEvents.read(spark, wireDir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      assert(df.collect().map(_.toSeq).toSet === viaApi.collect().map(_.toSeq).toSet)
    } finally spark.sql("DROP TABLE IF EXISTS wire_ev")
  }

  test("micro-batch stream: census arrives once, new files arrive incrementally, restart is exactly-once") {
    val d = tmp()
    WireEvents.writeWire(events.filter(col("event_id") < 200), d)
    val chk = tmp()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def start() = spark.readStream
      .format(classOf[graft.sources.WireEventsSource].getName)
      .option("path", d).load()
      .writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select(col("event_id")).collect().foreach(r => got.add(r.getLong(0)))
        ()
      }
      .start()

    val q = start()
    q.processAllAvailable()
    val n0 = got.size
    assert(n0 === events.filter(col("event_id") < 200).count())

    // a new file lands in a partition dir (immutable-once-visible, as a
    // writer's rename-into-place would) -> next batch carries ONLY it
    val dir = Paths.get(d, "event_type=click")
    val src = Files.list(dir).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    val perFile = Files.lines(src).count()
    assert(perFile > 0)
    // copied under a hidden name, then renamed: a census that lists a
    // file mid-copy would admit a torn prefix of it
    def land(name: String): Unit = Files.move(
      Files.copy(src, dir.resolve(s".$name.tmp")), dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    land("part-zz-extra1.txt")
    q.processAllAvailable()
    assert(got.size === n0 + perFile)
    q.stop()

    // restart from the checkpoint with a file added while DOWN: exactly
    // the unseen file replays, nothing already-committed re-emits
    land("part-zz-extra2.txt")
    val q2 = start()
    q2.processAllAvailable()
    assert(got.size === n0 + 2 * perFile)
    q2.stop()
  }

  test("micro-batch stream with an event_type filter sees only that type's rows") {
    val d = tmp()
    WireEvents.writeWire(events.filter(col("event_id") < 200), d)
    var total = 0L
    val q = spark.readStream
      .format(classOf[graft.sources.WireEventsSource].getName)
      .option("path", d).load()
      .filter(col("event_type") === "purchase")
      .writeStream
      .option("checkpointLocation", tmp())
      .foreachBatch { (df: DataFrame, _: Long) =>
        total += df.count()
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(total ===
      events.filter(col("event_id") < 200 && col("event_type") === "purchase").count())
  }

  // ---- transport parity: the DSV2 wire stream vs the file source ----
  // The wire micro-batch stream is the closest in-sandbox analogue of
  // Kafka's offset semantics (file census = partition offsets). These
  // two tests port StreamingSpec's checkpoint-recovery and dual-sink
  // parity assertions onto format("wire-events"): both transports must
  // produce IDENTICAL windowed counts across a mid-stream restart.

  /** Append a second batch of wire files into an existing dump without
    * disturbing consumed files (the writer's rename-into-place
    * contract; writeWire's overwrite mode would violate the stream's
    * immutable-once-visible assumption). */
  private def appendWire(src: DataFrame, dst: String): Unit = {
    val t = tmp()
    WireEvents.writeWire(src, t)
    Files.list(Paths.get(t))
      .filter(_.getFileName.toString.startsWith("event_type="))
      .forEach { d =>
        val target = Paths.get(dst, d.getFileName.toString)
        Files.createDirectories(target)
        Files.list(d)
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .forEach { f =>
            Files.copy(f, target.resolve(
              "part-zz-" + java.util.UUID.randomUUID().toString + ".txt"))
          }
      }
  }

  /** The wire stream mapped to the pipeline's (timestamp, source)
    * shape — the same two fields [[graft.streaming.ProductViewPipeline.parse]]
    * extracts from the product-view JSON wire. */
  private def wireParsed(dir: String): DataFrame =
    spark.readStream
      .format(classOf[graft.sources.WireEventsSource].getName)
      .option("path", dir).load()
      .select(to_timestamp(col("ts"), WireEvents.TsFmt).as("timestamp"),
              col("event_type").as("source"))

  test("wire transport: checkpoint restart resumes exactly-once with the same windowed counts as the file transport") {
    import graft.streaming.{ProductViewPipeline => P, Simulator}
    import org.apache.spark.sql.streaming.Trigger
    val ev = events
    val a = ev.filter(col("event_id") < 500)
    val b = ev.filter(col("event_id") >= 500)

    def collectRun(parsed: DataFrame, chk: String,
                   sink: java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]): Unit = {
      val q = P.windowedCounts(parsed).writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { r =>
            sink.put((r.getAs[java.sql.Timestamp]("start"), r.getAs[String]("source")),
              r.getAs[Long]("source_number"))
          }
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    val fDir = tmp(); val fChk = tmp()
    val fGot = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
    Simulator.writeFileDrops(a, fDir)
    collectRun(P.parse(P.fileSource(spark, fDir)), fChk, fGot)
    Simulator.writeFileDrops(b, fDir)
    collectRun(P.parse(P.fileSource(spark, fDir)), fChk, fGot)

    val wDir = tmp(); val wChk = tmp()
    val wGot = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
    WireEvents.writeWire(a, wDir)
    collectRun(wireParsed(wDir), wChk, wGot)
    appendWire(b, wDir)
    collectRun(wireParsed(wDir), wChk, wGot)

    import scala.jdk.CollectionConverters._
    assert(wGot.asScala.toMap === fGot.asScala.toMap,
      "wire and file transports must agree per (window, source) after restart")
    assert(wGot.values().asScala.map(x => x: Long).sum === ev.count(),
      "exactly-once across the restart: every event counted once")
  }

  test("wire transport: dual-sink fan-out (W8) finalizes the same windows as the file transport") {
    import graft.streaming.{ProductViewPipeline => P, Simulator}
    import org.apache.spark.sql.streaming.Trigger
    val a = events.filter(col("event_id") < 500)
    val b = events.filter(col("event_id") >= 500)

    def runBoth(parsed: DataFrame, out: String, chk: String): Unit = {
      val (console, parquet) =
        P.dualSinkQueries(P.windowedCounts(parsed), out, chk,
          Trigger.AvailableNow())((df, _) => { df.collect(); () })
      console.awaitTermination()
      parquet.awaitTermination()
    }

    val fDir = tmp(); val fOut = tmp(); val fChk = tmp()
    Simulator.writeFileDrops(a, fDir)
    runBoth(P.parse(P.fileSource(spark, fDir)), fOut, fChk)
    Simulator.writeFileDrops(b, fDir)
    runBoth(P.parse(P.fileSource(spark, fDir)), fOut, fChk)

    val wDir = tmp(); val wOut = tmp(); val wChk = tmp()
    WireEvents.writeWire(a, wDir)
    runBoth(wireParsed(wDir), wOut, wChk)
    appendWire(b, wDir)
    runBoth(wireParsed(wDir), wOut, wChk)

    def finalized(dir: String): Seq[(String, Long)] =
      spark.read.parquet(dir).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("source_number")))
        .toSeq.sorted
    val f = finalized(fOut)
    assert(f.nonEmpty, "fixture must finalize at least one window")
    assert(finalized(wOut) === f,
      "append-mode finalized windows must be transport-independent")
  }

  test("wire transport: streaming content dedup (RocksDB state) matches the file transport across a mid-stream restart") {
    // The flagship stateful-dedup path (dropDuplicatesWithinWatermark
    // on the sha-256 content key) run end-to-end on the Kafka-shaped
    // DSV2 wire transport: same product-view payload bytes ride the
    // wire `props` field, fresh-message-id redeliveries are injected
    // BOTH within each phase and ACROSS the restart (the cross-phase
    // dup only checkpointed dedup state can catch), and the wire run
    // uses the RocksDB state store while the file run keeps the
    // default HDFS-backed one — so the parity assertion also proves
    // provider-independence of the dedup semantics.
    import graft.streaming.{ProductViewPipeline => P, Simulator}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.Column

    val ev = events
    val a = ev.filter(col("event_id") < 500)
    val b = ev.filter(col("event_id") >= 500)
    def rdl(e: DataFrame): DataFrame = e.filter(pmod(col("event_id"), lit(7)) === 0)
    val crossRdl = a.filter(pmod(col("event_id"), lit(13)) === 0)
    def freshId(line: Column): Column =
      regexp_replace(line, "\"messageid\":\"msg-", "\"messageid\":\"msg-rdl-")

    def fileLines(base: DataFrame, redel: DataFrame): DataFrame =
      Simulator.productViewJson(base).union(
        Simulator.productViewJson(redel)
          .withColumn("value", freshId(col("value"))))
    def wirePayload(base: DataFrame, redel: DataFrame): DataFrame =
      base.withColumn("props", Simulator.productViewLine)
        .unionByName(redel.withColumn("props", freshId(Simulator.productViewLine)))
        .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value"), col("props"))

    def collectRun(parsed: DataFrame, chk: String,
                   sink: java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]): Unit = {
      val q = P.windowedCounts(P.dedupedByContent(parsed))
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { r =>
            sink.put((r.getAs[java.sql.Timestamp]("start"), r.getAs[String]("source")),
              r.getAs[Long]("source_number"))
          }
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // file transport, default state store
    val fDir = tmp(); val fChk = tmp()
    val fGot = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
    fileLines(a, rdl(a)).repartition(4).write.mode("append").text(fDir)
    collectRun(P.parse(P.fileSource(spark, fDir)), fChk, fGot)
    fileLines(b, rdl(b).unionByName(crossRdl)).repartition(4).write.mode("append").text(fDir)
    collectRun(P.parse(P.fileSource(spark, fDir)), fChk, fGot)

    // wire transport, RocksDB state store
    def wireParsedPayload(dir: String): DataFrame =
      P.parse(spark.readStream
        .format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", dir).load()
        .select(col("props").as("value")))
    val wDir = tmp(); val wChk = tmp()
    val wGot = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      WireEvents.writeWire(wirePayload(a, rdl(a)), wDir)
      collectRun(wireParsedPayload(wDir), wChk, wGot)
      appendWire(wirePayload(b, rdl(b).unionByName(crossRdl)), wDir)
      collectRun(wireParsedPayload(wDir), wChk, wGot)
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }

    import scala.jdk.CollectionConverters._
    assert(wGot.asScala.toMap === fGot.asScala.toMap,
      "deduped windowed counts must agree per (window, source) across transports")
    // exactly-once across restart AND redelivery: every distinct
    // content counted once (messageid is excluded from the key, so the
    // rewritten ids collapse; content = (type, user, event_id%100, ts))
    val expected = ev.select(col("event_type"), col("user_id"),
      pmod(col("event_id"), lit(100)), col("ts")).distinct().count()
    assert(wGot.values().asScala.map(x => x: Long).sum === expected,
      "content dedup must collapse every redelivery exactly once")
  }

  test("maxFilesPerTrigger rate-limits the wire stream into bounded catch-up batches (W9)") {
    val d = tmp()
    WireEvents.writeWire(events.filter(col("event_id") < 400), d)
    val nFiles = Files.walk(Paths.get(d))
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).count()
    assert(nFiles > 4, s"fixture must have enough files to chunk ($nFiles)")
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .format(classOf[graft.sources.WireEventsSource].getName)
      .option("path", d)
      .option("maxFilesPerTrigger", 2)
      .load()
      .writeStream
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        batchSizes.add(df.count()); ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.asScala.toList
    // a deep backlog catches up in MULTIPLE bounded batches, and the
    // limit loses nothing: the union is exactly the dump
    assert(sizes.count(_ > 0) >= (nFiles / 2).toInt,
      s"expected chunked catch-up, got batches $sizes for $nFiles files")
    assert(sizes.sum === events.filter(col("event_id") < 400).count())
  }

  test("stream offsets are O(1) log indices; the census log compacts and retention bounds it") {
    val d = tmp(); val chk = tmp()
    WireEvents.writeWire(events.filter(col("event_id") < 400), d)
    var total = 0L
    var batches = 0
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", d)
        .option("maxFilesPerTrigger", 1) // one file per batch -> > CompactInterval batches
        .load()
        .writeStream
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          total += df.count(); batches += 1; ()
        }
        .start()
      q.awaitTermination()
    }
    run()
    assert(total === events.filter(col("event_id") < 400).count())
    assert(batches > 10, s"need > CompactInterval batches, got $batches")
    // the ENGINE's offset log carries {"idx":N} only — never file paths
    // (the list-shaped offset was O(total files) write amplification
    // per trigger at a large census)
    val offsets = Files.list(Paths.get(chk, "offsets")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.forall(_.isDigit)) // skip .crc sidecars
      .map(_.toString)
    assert(offsets.nonEmpty)
    val bodies = offsets.map(o => Files.readString(Paths.get(o)))
    assert(bodies.exists(_.contains("\"idx\"")), bodies.mkString("\n---\n"))
    assert(!bodies.exists(_.contains("part-")),
      "offset log must not name files: " + bodies.mkString("\n---\n"))
    // the source's own census log: snapshots exist, and commit-time
    // retention deleted every delta at or below the newest snapshot —
    // the log is bounded by one snapshot + a short delta tail, flat in
    // stream lifetime (Spark hands each source a checkpoint subdir)
    val logDir = Paths.get(chk, "sources", "0", "wire-file-log")
    def names() = Files.list(logDir).toArray.map(
      _.asInstanceOf[java.nio.file.Path].getFileName.toString)
    val snapIdxs = names().filter(_.endsWith(".snapshot"))
      .map(_.stripSuffix(".snapshot").toLong)
    assert(snapIdxs.nonEmpty, s"expected a snapshot, entries: ${names().toSeq}")
    val deltaIdxs = names().filter(_.endsWith(".delta"))
      .map(_.stripSuffix(".delta").toLong)
    assert(deltaIdxs.length < batches,
      s"retention must prune committed deltas ($deltaIdxs of $batches batches remain)")
    assert(deltaIdxs.forall(_ > snapIdxs.max),
      s"no delta at/below the newest snapshot may remain: deltas=${deltaIdxs.toSeq} snap=${snapIdxs.max}")
    // the pruned log still restarts exactly-once: a new file arrives
    // while down, only it replays
    val dir0 = Paths.get(d, "event_type=click")
    val src = Files.list(dir0).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    val perFile = Files.lines(src).count()
    Files.copy(src, dir0.resolve("part-zz-retained.txt"))
    val before = total
    run()
    assert(total === before + perFile,
      "restart over a retention-pruned log must replay exactly the new file")
  }

  test("census-log torn state: snapshot lost after retention pruned its deltas refuses loudly, never re-admits consumed files") {
    // The crash window retention must survive: commit-time retention
    // prunes deltas at/below the newest snapshot, so from that moment
    // the snapshot is REQUIRED state. Simulate the torn outcome (log
    // compacted+pruned, snapshot then lost) by deleting the snapshot
    // directly. A restart that silently recounted from the partial log
    // would re-admit consumed files — double-counting on an
    // exactly-once transport. The pinned contract is LOUD refusal,
    // with zero rows re-emitted before the refusal.
    val d = tmp(); val chk = tmp()
    WireEvents.writeWire(events.filter(col("event_id") < 400), d)
    var total = 0L
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", d)
        .option("maxFilesPerTrigger", 1) // > CompactInterval batches -> compaction + retention
        .load()
        .writeStream
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) => total += df.count(); () }
        .start()
      q.awaitTermination()
    }
    run()
    val consumed = total
    assert(consumed === events.filter(col("event_id") < 400).count())
    val logDir = Paths.get(chk, "sources", "0", "wire-file-log")
    def entries() = Files.list(logDir).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
    val snaps = entries().filter(_.getFileName.toString.endsWith(".snapshot"))
    assert(snaps.nonEmpty, "fixture must have compacted")
    val prunedBelow = snaps.map(_.getFileName.toString.stripSuffix(".snapshot").toLong).max
    assert(!entries().exists { p =>
      val n = p.getFileName.toString
      n.endsWith(".delta") && n.stripSuffix(".delta").toLong <= prunedBelow
    }, "retention must have pruned deltas at/below the snapshot first")
    snaps.foreach(Files.delete) // the torn state
    // a new file lands while down; restart must NOT silently re-admit
    val dir0 = Paths.get(d, "event_type=click")
    val src = Files.list(dir0).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.copy(src, dir0.resolve("part-zz-torn.txt"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("log unrecoverable"), msgs)
    assert(total === consumed,
      "no row may re-emit from a torn census log before the refusal")
  }

  test("a type-and-ts plan opens only the surviving dir's data files, and planning it again opens none") {
    // The sorted files are the only ts stats: planning under a ts bound
    // probes each candidate file's first/last line. This pins the
    // driver-I/O bound via a counting filesystem: directory pruning
    // runs first, so a `type ∧ ts` plan opens only the surviving type's
    // data files (no other dir's, no underscore file), and the (path,
    // length) memo makes a second plan of the same read open nothing.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingLocalFs].getName)
    val cut = events.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)
    import scala.jdk.CollectionConverters._
    def planTyped(): String = WireEvents.read(spark, "cntfs:" + wireDir)
      .filter(col("event_type") === "click" && col("ts") >= cut)
      .queryExecution.executedPlan.toString
    CountingLocalFs.opened.clear()
    planTyped()
    val typedOpens = CountingLocalFs.opened.asScala.toList
    assert(typedOpens.nonEmpty &&
      typedOpens.forall(p => p.contains("/event_type=click/part-")),
      s"a type ∧ ts plan must open only the surviving dir's data files; " +
        s"opened: $typedOpens")
    CountingLocalFs.opened.clear()
    planTyped()
    assert(CountingLocalFs.opened.isEmpty,
      s"a second plan of the same read must hit the probe memo; " +
        s"opened: ${CountingLocalFs.opened.asScala.toList}")
    // the probe still prunes, and rows stay exact
    val ranged = WireEvents.read(spark, "cntfs:" + wireDir)
      .filter(col("ts") >= cut)
    val allPlan = WireEvents.read(spark, "cntfs:" + wireDir)
      .queryExecution.executedPlan.toString
    assert(filesOf(ranged) < filesOf(allPlan),
      s"probe pruning must drop files (${filesOf(ranged)} vs ${filesOf(allPlan)})")
    assert(ranged.count() ===
      events.filter(date_format(col("ts"), WireEvents.TsFmt) >= cut).count())
  }

  test("a file the manifest does not cover falls back to the direct probe, never a wrong prune") {
    // a foreign writer drops files in after writeWire: each is probed
    // from its own first/last line like any other, so an out-of-band
    // file holding qualifying rows must survive pruning
    val d = tmp()
    val half = events.filter(col("event_id") < 500)
    WireEvents.writeWire(half, d)
    val cut = events.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)
    // append the other half out-of-band (copies files in without
    // writeWire)
    appendWire(events.filter(col("event_id") >= 500), d)
    val ranged = WireEvents.read(spark, d).filter(col("ts") >= cut)
    assert(ranged.count() ===
      events.filter(date_format(col("ts"), WireEvents.TsFmt) >= cut).count(),
      "out-of-band files must be probed, not mis-pruned")
  }

  test("writeWire writes only data files and _SUCCESS; the per-file probe prunes partially and exactly") {
    // the sorted files are the only ts stats: the writer publishes no
    // other file, and a ranged read prunes from the first/last-line
    // probe of each file
    val d = tmp()
    val written = events.filter(col("event_id") < 200)
    WireEvents.writeWire(written, d)
    import scala.jdk.CollectionConverters._
    val underscored = Files.walk(Paths.get(d)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_")).toList
    assert(underscored === List("_SUCCESS"),
      s"writeWire wrote underscore files beyond _SUCCESS: $underscored")
    // the cut must come from the WRITTEN SUBSET's distribution: the
    // global median sits above every subset ts, which would prune ALL
    // files and make both assertions below vacuous (0 < N and 0 === 0
    // pass even with pruning broken — review finding)
    val cut = written.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)
    val expected = written
      .filter(date_format(col("ts"), WireEvents.TsFmt) >= cut).count()
    assert(expected > 0, "the cut must keep some rows or the test is vacuous")
    val ranged = WireEvents.read(spark, d).filter(col("ts") >= cut)
    val rangedPlan = ranged.queryExecution.executedPlan.toString
    val all = WireEvents.read(spark, d)
    val (nRanged, nAll) = (filesOf(rangedPlan), filesOf(all))
    assert(nRanged > 0 && nRanged < nAll,
      s"the per-file probe must prune PARTIALLY ($nRanged of $nAll)")
    assert(ranged.count() === expected)
  }

  test("a stale ts-stats sidecar left by an older writer is never read") {
    // older writers published per-dir `_ts_stats.json` files; an
    // underscore file is not a data file, so the reader must neither
    // open nor trust one. Plant a length-fresh sidecar whose bounds
    // claim every click file lies above the cut: trusting it would
    // prune every click file from a `ts < cut` read.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingLocalFs].getName)
    val d = tmp()
    val written = events.filter(col("event_id") < 300)
    WireEvents.writeWire(written, d)
    val cut = written.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)
    val below = date_format(col("ts"), WireEvents.TsFmt) < cut
    assert(written.filter(col("event_type") === "click" && below).count() > 0,
      "click must hold rows below the cut or the test is vacuous")
    import scala.jdk.CollectionConverters._
    val clickDir = Paths.get(d, "event_type=click")
    val stale = Files.list(clickDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(f => s"""{"path":"${f.getFileName}","len":${Files.size(f)},""" +
        """"min":"9999-01-01 00:00:00.000000","max":"9999-12-31 00:00:00.000000"}""")
      .toList
    assert(stale.nonEmpty)
    Files.writeString(clickDir.resolve("_ts_stats.json"), stale.mkString("", "\n", "\n"))
    CountingLocalFs.opened.clear()
    assert(WireEvents.read(spark, "cntfs:" + d).filter(col("ts") < cut).count() ===
      written.filter(below).count())
    val sidecarOpens = CountingLocalFs.opened.asScala.filter(_.endsWith("/_ts_stats.json"))
    assert(sidecarOpens.isEmpty, s"the reader opened a sidecar: $sidecarOpens")
  }

  test("a crash between append's delta and snapshot writes does not brick the log (walk-back + self-heal)") {
    // r14 review, the round's top streaming-source find: append(20)
    // writes 20.delta, crashes before 20.snapshot; the engine REPLAYS
    // batch 20 from the delta and never re-invokes append, so the
    // boundary snapshot is missing forever. The old seenUpTo demanded
    // deltas 1..20 — 1..10 already pruned — and threw 'unrecoverable'
    // on every later trigger, even though snapshot 10 + deltas 11..20
    // fully cover the range. The walk-back must serve from that state
    // AND the log must self-heal at the next boundary.
    import graft.sources.WireFileLog
    val fsConf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(tmp(), "log")
    val fs = dir.getFileSystem(fsConf)
    val log = new WireFileLog(fs, dir)
    (1L to 19L).foreach(i => log.append(i, Seq(f"f$i%03d")))
    log.pruneCommitted(19) // deltas 1..10 pruned; snapshot 10 retained
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, f"${5L}%020d.delta")))
    // the crash window, reproduced on disk: delta 20 present,
    // snapshot 20 absent
    log.append(20L, Seq("f020"))
    fs.delete(new org.apache.hadoop.fs.Path(dir, f"${20L}%020d.snapshot"), false)
    assert(log.seenUpTo(20L) === (1L to 20L).map(i => f"f$i%03d").toSet,
      "walk-back must serve from snapshot 10 + the retained delta tail")
    // self-heal: the next boundary append writes a fresh snapshot and
    // retention resumes bounding the log
    (21L to 30L).foreach(i => log.append(i, Seq(f"f$i%03d")))
    log.pruneCommitted(30L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, f"${30L}%020d.snapshot")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, f"${11L}%020d.delta")),
      "post-heal retention must prune the old tail again")
    assert(log.seenUpTo(30L) === (1L to 30L).map(i => f"f$i%03d").toSet)
    // the loud-refusal contract stands where state is GENUINELY gone:
    // no covering snapshot and a pruned tail
    fs.delete(new org.apache.hadoop.fs.Path(dir, f"${30L}%020d.snapshot"), false)
    val e = intercept[IllegalArgumentException](log.seenUpTo(30L))
    assert(e.getMessage.contains("unrecoverable"), e.getMessage)
  }

  test("the probe memo is a bounded LRU: eldest evicts, the hot tail stays memoized") {
    // the memo is JVM-scoped and outlives every query/trigger; a
    // long-lived streaming driver under continuous out-of-band
    // appends would otherwise accumulate entries forever. The bound
    // is an access-order LRU (ADVICE r13): the old drop-at-cap
    // discarded every LIVE entry at once — the next census re-probed
    // every uncovered file in a synchronized wave.
    var computes = 0
    for (i <- 0 until WireEvents.probeCacheCap + 10) {
      WireEvents.probeMemo((s"synthetic/p$i", i.toLong)) {
        computes += 1; (Some("a"), Some("b"))
      }
    }
    // the hot tail (most-recent inserts) must still be memoized — a
    // wholesale clear at the cap would have dropped these too
    val before = computes
    WireEvents.probeMemo(
        (s"synthetic/p${WireEvents.probeCacheCap + 9}",
          (WireEvents.probeCacheCap + 9).toLong)) {
      computes += 1; (Some("a"), Some("b"))
    }
    assert(computes === before,
      "the most-recent entry must survive eviction — LRU, not drop-all")
    // the eldest (p0, inserted first, never re-accessed) must be gone
    WireEvents.probeMemo(("synthetic/p0", 0L)) {
      computes = -1; (Some("a"), Some("b"))
    }
    assert(computes === -1,
      "p0 (the eldest) should have been evicted at the cap — " +
        "an unbounded map would still hold it")
  }

  test("a static ts equality predicate prunes file bands, not just DPP runtime filters") {
    // r13 review finding: tsInSet only engaged through runtime
    // filters; a plain WHERE ts = 'X' must prune the same bands
    val earliest = events.selectExpr(
      s"date_format(min(ts), '${WireEvents.TsFmt}')").collect()(0).getString(0)

    val eqPlan = WireEvents.read(spark, wireDir)
      .filter(col("ts") === earliest)
      .queryExecution.executedPlan.toString
    val allPlan = WireEvents.read(spark, wireDir)
      .queryExecution.executedPlan.toString
    assert(filesOf(eqPlan) < filesOf(allPlan),
      s"ts equality must prune files (${filesOf(eqPlan)} vs ${filesOf(allPlan)})")
    // rows stay exact (the filter is also residual)
    assert(WireEvents.read(spark, wireDir).filter(col("ts") === earliest).count() ===
      events.filter(date_format(col("ts"), WireEvents.TsFmt) === earliest).count())
  }

  /** Admitted census = union of every path named by the stream's
    * delta/snapshot log (retention keeps at least the newest snapshot
    * + tail, whose union is the full admitted set). */
  private def admittedPaths(chk: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(chk, "sources", "0", "wire-file-log"))
      .iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".delta") || n.endsWith(".snapshot")
      }
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSet
  }

  test("streaming subscription options prune admission: out-of-window / off-type files never enter the census") {
    // Spark's micro-batch planner runs no DSv2 filter pushdown (a
    // streaming .filter is post-scan — r11's scaladoc overclaimed
    // this; probed and corrected r12), so subscriptions are OPTIONS,
    // the Kafka model. tsMin prunes whole files via their first/last
    // line ts; eventTypes bounds the census to the named dirs.
    val d = tmp()
    WireEvents.writeWire(events, d)
    val nFiles = Files.walk(Paths.get(d))
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).count()
    val cut = events.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)

    // ts-band subscription: file-level pruning, row filter stays exact
    val chk1 = tmp()
    var total = 0L
    val q1 = spark.readStream
      .format(classOf[graft.sources.WireEventsSource].getName)
      .option("path", d).option("tsMin", cut).load()
      .filter(col("ts") >= cut)
      .writeStream.option("checkpointLocation", chk1)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) => total += df.count(); () }
      .start()
    q1.awaitTermination()
    assert(total ===
      events.filter(date_format(col("ts"), WireEvents.TsFmt) >= cut).count(),
      "ts-banded stream must deliver exactly the in-window rows")
    val admitted1 = admittedPaths(chk1)
    assert(admitted1.nonEmpty && admitted1.size < nFiles,
      s"tsMin must keep out-of-window files out of admission " +
        s"(${admitted1.size} of $nFiles admitted)")

    // type subscription: full semantics, other dirs never censused
    val chk2 = tmp()
    var types = Set.empty[String]
    val q2 = spark.readStream
      .format(classOf[graft.sources.WireEventsSource].getName)
      .option("path", d).option("eventTypes", "purchase").load()
      .writeStream.option("checkpointLocation", chk2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        types ++= df.select("event_type").distinct()
          .collect().map(_.getString(0)); ()
      }
      .start()
    q2.awaitTermination()
    assert(types === Set("purchase"))
    val admitted2 = admittedPaths(chk2)
    assert(admitted2.nonEmpty &&
      admitted2.forall(_.contains("event_type=purchase")),
      s"eventTypes subscription must census only its dirs: $admitted2")

    // malformed subscription options refuse LOUDLY at scan build — a
    // garbage ts bound compares lexicographically above every real
    // timestamp and would otherwise silently prune the whole dump
    val badTs = intercept[Exception] {
      spark.read.format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", d).option("tsMin", "garbage").load().count()
    }
    assert(Iterator.iterate(badTs: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("tsMin"), badTs.getMessage)
    val badTypes = intercept[Exception] {
      spark.read.format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", d).option("eventTypes", " ,").load().count()
    }
    assert(Iterator.iterate(badTypes: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("eventTypes"), badTypes.getMessage)
    // swapped bounds parse fine individually but make an empty band —
    // the same silent-nothing failure mode, refused at build
    val swapped = intercept[Exception] {
      spark.read.format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", d)
        .option("tsMin", "2021-06-01 00:00:00.000000")
        .option("tsMax", "2021-01-01 00:00:00.000000")
        .load().count()
    }
    assert(Iterator.iterate(swapped: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("empty subscription band"), swapped.getMessage)
  }

  test("a type-and-ts stream subscription opens only the subscribed dir's files") {
    // the batch counting-FS test pins planning; this pins the STREAM:
    // a type ∧ ts subscription's census (every trigger's listing +
    // admission) and its reads open only the subscribed dir's data
    // files — never an off-type file or an underscore file
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingLocalFs].getName)
    val d = tmp()
    WireEvents.writeWire(events, d)
    val cut = events.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)
    import scala.jdk.CollectionConverters._
    CountingLocalFs.opened.clear()
    val chk = tmp()
    var total = 0L
    val q = spark.readStream
      .format(classOf[graft.sources.WireEventsSource].getName)
      .option("path", "cntfs:" + d)
      .option("eventTypes", "click").option("tsMin", cut).load()
      .filter(col("ts") >= cut)
      .writeStream.option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) => total += df.count(); () }
      .start()
    q.awaitTermination()
    assert(total === events.filter(col("event_type") === "click")
      .filter(date_format(col("ts"), WireEvents.TsFmt) >= cut).count())
    val dataOpens = CountingLocalFs.opened.asScala.toList
      .filter(_.contains("/event_type="))
    assert(dataOpens.nonEmpty &&
      dataOpens.forall(_.contains("/event_type=click/part-")),
      s"only the subscribed dir's data files may open: $dataOpens")
  }

  test("runtime filtering prunes partition dirs at execution time (DSv2 dynamic partition pruning)") {
    // unit level: the Scan accepts an execution-time event_type filter
    // and replans fewer files — the SupportsRuntimeFiltering contract
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val builder = new graft.sources.WireEventsSource()
      .getTable(WireEvents.wireSchema, Array.empty, new java.util.HashMap[String, String]())
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new CaseInsensitiveStringMap(
        java.util.Map.of("path", wireDir)))
    val scan = builder.build()
    val before = scan.toBatch.planInputPartitions().length
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).toSeq ===
      Seq("event_type", "ts"))
    rf.filter(Array[Filter](EqualTo("event_type", "purchase")))
    val after = scan.toBatch.planInputPartitions().length
    assert(after < before, s"runtime filter must prune partitions ($after vs $before)")
    // a non-partition runtime filter is ignored, never mis-applied
    rf.filter(Array[Filter](EqualTo("user_id", 7L)))
    assert(scan.toBatch.planInputPartitions().length === before)

    // end to end: a broadcast join against a FILTERED dimension on
    // event_type plants a DPP subquery on the wire scan (Spark only
    // does this for sources opting into runtime filtering), and the
    // result matches the parquet truth
    import spark.implicits._
    // the dimension must be a real scan with a surviving selective
    // Filter node — a LocalRelation folds the filter away and the
    // PartitionPruning rule then sees no pruning-worthy predicate
    val dimPath = tmp() + "/dim"
    Seq(("purchase", "hot"), ("click", "cold"), ("view", "cold"),
        ("cart_add", "cold"), ("search", "cold"))
      .toDF("t", "grade").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("grade") === "hot")
    val joined = WireEvents.read(spark, wireDir)
      .join(dim.hint("broadcast"), col("event_type") === col("t"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a DPP subquery on the wire scan:\n$plan")
    val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("purchase" ->
      events.filter(col("event_type") === "purchase").count()))
  }

  test("runtime ts filtering prunes file bands at execution time (DPP through the stats sidecars)") {
    // unit level: an execution-time IN-set of ts keys replans to only
    // the files whose [min, max] band holds some key (r12 verdict
    // task 5 — event_type DPP pruned dirs; ts DPP prunes FILES)
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.{Filter, In}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val scan = new graft.sources.WireEventsSource()
      .getTable(WireEvents.wireSchema, Array.empty, new java.util.HashMap[String, String]())
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new CaseInsensitiveStringMap(
        java.util.Map.of("path", wireDir)))
      .build()
    val before = scan.toBatch.planInputPartitions().length
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    val earliest = events.selectExpr(
      s"date_format(min(ts), '${WireEvents.TsFmt}')").collect()(0).getString(0)
    rf.filter(Array[Filter](In("ts", Array[Any](earliest))))
    val after = scan.toBatch.planInputPartitions().length
    assert(after < before,
      s"a one-key ts runtime filter must prune file bands ($after vs $before)")
    assert(after > 0, "the key's own band must survive")
    // a nulls-only key set matches no row: every file prunes
    rf.filter(Array[Filter](In("ts", Array[Any](null))))
    assert(scan.toBatch.planInputPartitions().length === 0)

    // end to end: a broadcast join against a FILTERED time dimension
    // keyed on ts plants a DPP subquery on the wire scan and the
    // result matches the parquet truth
    import spark.implicits._
    val hotKeys = events.orderBy(col("ts")).limit(5)
      .selectExpr(s"date_format(ts, '${WireEvents.TsFmt}') AS k")
      .distinct().as[String].collect().toSeq
    val dimPath = tmp() + "/tsdim"
    val allKeys = events
      .selectExpr(s"date_format(ts, '${WireEvents.TsFmt}') AS k").distinct()
      .withColumn("grade", when(col("k").isin(hotKeys: _*), "hot")
        .otherwise("cold"))
    allKeys.write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("grade") === "hot")
    val joined = WireEvents.read(spark, wireDir)
      .join(dim.hint("broadcast"), col("ts") === col("k"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a ts DPP subquery on the wire scan:\n$plan")
    assert(joined.collect()(0).getLong(0) ===
      events.filter(date_format(col("ts"), WireEvents.TsFmt)
        .isin(hotKeys: _*)).count())
  }

  test("reported statistics shrink with pruning (cost model sees surviving bytes only)") {
    def scanBytes(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val all = WireEvents.read(spark, wireDir)
    val one = WireEvents.read(spark, wireDir)
      .filter(col("event_type") === "purchase")
    assert(scanBytes(one) < scanBytes(all),
      s"pruned stats ${scanBytes(one)} should be below full ${scanBytes(all)}")
  }

  test("kill-and-restart across the torn snapshot boundary drives walk-back + self-heal through the LIVE engine") {
    // r16 verdict task 7. The log-level test above pins WireFileLog in
    // isolation; this one reproduces the r14 brick shape end-to-end:
    // run a checkpointed stream to idx 19 (snapshot 10 on disk, deltas
    // 1..10 pruned by commit-time retention), forge the crash window
    // between append(20)'s delta and snapshot writes, then restart and
    // run to idx 30. The restart must (a) replay batch 20 as an ORPHAN
    // from its delta without re-invoking append, (b) serve every later
    // admission through the snapshot walk-back, (c) no-op retention
    // while the boundary snapshot is missing, and (d) self-heal at
    // boundary 30 — all observable as exactly-once event_ids plus the
    // log's on-disk shape.
    import scala.jdk.CollectionConverters._
    val d = tmp()
    val dir = Paths.get(d, "event_type=click")
    Files.createDirectories(dir)
    def addFile(i: Int): Unit =
      Files.writeString(dir.resolve(f"part-$i%03d.txt"),
        f"""{"event_id":$i,"ts":"2021-03-07 10:00:${i % 60}%02d.000000","user_id":1,"value":1.0,"props":"{}"}""" + "\n")
    (1 to 19).foreach(addFile)
    val chk = tmp()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", d).option("maxFilesPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select(col("event_id")).collect().foreach(r => got.add(r.getLong(0)))
          ()
        }.start()
      q.awaitTermination()
    }
    run()
    assert(got.asScala.map(_.toLong).toSeq.sorted === (1L to 19L),
      "run 1 must deliver files 1..19 exactly once")
    val logDir = Paths.get(chk, "sources", "0", "wire-file-log")
    assert(Files.exists(logDir.resolve(f"${10L}%020d.snapshot")),
      "boundary 10 must have compacted")
    assert(!Files.exists(logDir.resolve(f"${5L}%020d.delta")),
      "commit-time retention must have pruned deltas under snapshot 10")
    // the crash window, forged on disk: delta 20 committed, snapshot 20
    // never written. The delta line must match the census's path
    // rendering exactly — derive it from the retained delta for file 11.
    addFile(20)
    val d11 = Files.readAllLines(logDir.resolve(f"${11L}%020d.delta")).get(0)
    assert(d11.endsWith("part-011.txt"), d11)
    Files.writeString(logDir.resolve(f"${20L}%020d.delta"),
      d11.replace("part-011.txt", "part-020.txt") + "\n")
    (21 to 30).foreach(addFile)
    run()
    // exactly-once across the torn boundary: every id once, none twice,
    // the orphan batch included
    assert(got.asScala.map(_.toLong).toSeq.sorted === (1L to 30L),
      "restart must replay the orphan delta once and admit 21..30 once each")
    // self-heal: boundary 30 wrote a fresh snapshot. Retention no-op'd
    // through 21..29 (20.snapshot missing) and the FINAL batch's
    // source.commit defers to the next run's start, so delta 11 still
    // survives here — the log is healed but not yet re-bounded.
    assert(Files.exists(logDir.resolve(f"${30L}%020d.snapshot")),
      "the next boundary append must write a fresh snapshot")
    assert(Files.exists(logDir.resolve(f"${11L}%020d.delta")),
      "retention must have no-op'd while the boundary snapshot was missing")
    // run 3: the first commit past the heal prunes everything the
    // fresh snapshot covers — the log is re-bounded
    (31 to 32).foreach(addFile)
    run()
    assert(got.asScala.map(_.toLong).toSeq.sorted === (1L to 32L))
    assert(!Files.exists(logDir.resolve(f"${11L}%020d.delta")) &&
           !Files.exists(logDir.resolve(f"${20L}%020d.delta")),
      "post-heal retention must re-bound the log on the next committed run")
  }

  test("kill-and-restart with a new in-band file: the probe admits it, band stays exactly-once") {
    // r16 verdict task 7, second leg: the ts-banded stream under a
    // hostile restart. A new in-band file lands in one dir while the
    // query is down; the restart's census probes it like every other
    // file and must admit exactly its rows and re-emit nothing already
    // committed.
    val d = tmp()
    val written = events.filter(col("event_id") < 300)
    WireEvents.writeWire(written, d)
    val cut = written.selectExpr(
      s"date_format(percentile_approx(ts, 0.5), '${WireEvents.TsFmt}')")
      .collect()(0).getString(0)
    val inBand = written
      .filter(date_format(col("ts"), WireEvents.TsFmt) >= cut).count()
    assert(inBand > 0, "the band must keep rows or the test is vacuous")
    val chk = tmp()
    var total = 0L
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.sources.WireEventsSource].getName)
        .option("path", d).option("tsMin", cut).load()
        .filter(col("ts") >= cut)
        .writeStream.option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) => total += df.count(); () }
        .start()
      q.awaitTermination()
    }
    run()
    assert(total === inBand, "run 1 must deliver exactly the in-band rows")
    // the hostile window: a new in-band file lands while the query is
    // down
    val maxTs = written.selectExpr(
      s"date_format(max(ts), '${WireEvents.TsFmt}')").collect()(0).getString(0)
    Files.writeString(Paths.get(d, "event_type=click", "part-zz-hostile.txt"),
      s"""{"event_id":999999,"ts":"$maxTs","user_id":1,"value":1.0,"props":"{}"}""" + "\n")
    run()
    assert(total === inBand + 1,
      "restart must admit exactly the new in-band file's row — nothing re-emits")
  }
}
