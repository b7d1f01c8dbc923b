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

  /** Append a second batch of wire files into an existing dump without
    * touching the files already there (writeWire's overwrite mode
    * would replace the whole dump). */
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
}
