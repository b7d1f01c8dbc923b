package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.{ProductViewPipeline => PVP, Simulator}

/** JVM side of the benchmark: drives one workload through the program's
  * public entry points and writes raw measurements (setup times,
  * micro-batch progress, emit times, sink contents, per-query times,
  * spans and jobs) as one JSON file. `run.py` turns them into metrics
  * and checks them.
  *
  * Arguments are `key=value` pairs; see `run.py` for the set it passes.
  */
object Main {
  private var args: Map[String, String] = Map.empty
  private def arg(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k"))
  private def work = arg("work")
  private val tracer = new Tracer
  private val out = Json.obj()

  def main(argv: Array[String]): Unit = {
    args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val workload = arg("workload")
    if (workload == "oracle_sql") {
      val o = Json.obj()
      queryOrder.foreach(q => o.put(q, graft.SparkEntry.oracleSql(q)))
      Json.mapper.writeValue(new File(arg("out")), o)
      return
    }
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    var spark = if (workload == "batch_mix") benchSession(cores) else appsSession(cores)
    var genMs = 0.0
    if (workload == "replay_drain") {
      val t = Clock.ms()
      renderReplay(spark)
      genMs = Clock.ms() - t
    }
    tracer.run = "setup"
    warmup(spark, workload)
    out.put("setup_s", (Clock.ms() - jvmStart - genMs) / 1000.0)
    out.put("gen_s", genMs / 1000.0)
    val runs = Json.arr()
    out.set[ArrayNode]("runs", runs)
    val measure: (SparkSession, String) => ObjectNode =
      if (workload == "replay_drain") replay else batchMix
    tracer.run = "untraced"
    val t0 = Clock.ms()
    var rep = 0
    do { runs.add(measure(spark, s"untraced-$rep")); rep += 1 }
    while (Clock.ms() - t0 < arg("seconds").toDouble * 1000)
    if (traced) {
      val jobs = new JobListener(tracer)
      val progress = new ProgressListener
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
      tracer.run = "traced"
      runs.add(measure(spark, "traced"))
      tracer.span("functions.batch_pass") { functionsPass(spark, workload) }
      out.set[ArrayNode]("progress", progressJson(progress.events.asScala.map(_.progress).toSeq))
      spark.streams.removeListener(progress)
      if (workload == "replay_drain") {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        spark = appsSession(1)
        spark.sparkContext.addSparkListener(jobs)
        tracer.run = "1core"
        runs.add(replay(spark, "1core"))
      }
      out.set[ArrayNode]("spans", tracer.toJson)
      out.set[ArrayNode]("jobs", jobs.toJson)
    }
    spark.stop()
    Json.mapper.writeValue(new File(arg("out")), out)
  }

  /** The session `streaming.Apps` builds, at `local[cores]`. */
  private def appsSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("product-view-v2")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The session `graft.Bench` builds, at `local[cores]`. */
  private def benchSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---------------------------------------------------------------- inputs

  /** Renders the events table with `Simulator.productViewJson` into
    * `files` text files range-partitioned on `ts`, under `staged/`, then
    * links them into `watch/` (the source directory) in time order, with
    * increasing modification times so the file source reads them in
    * event-time order. `omit` (a file index) plants a lost file. */
  private def renderReplay(spark: SparkSession): Unit = {
    val files = arg("files").toInt
    val staged = s"$work/staged"
    val events = graft.model.Tables.events(spark, arg("data"))
      .repartitionByRange(files, col("ts")).sortWithinPartitions("ts")
    Simulator.productViewJson(events).write.mode("overwrite").text(staged)
    val parts = new File(staged).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    require(parts.length == files, s"rendered ${parts.length} files, expected $files")
    val omit = args.get("omit").map(_.toInt).toSet
    stage(parts.take(arg("warm_files").toInt), s"$work/warm", Set.empty)
    stage(parts, s"$work/watch", omit)
    val meta = Json.arr()
    parts.zipWithIndex.foreach { case (f, i) =>
      meta.add(Json.obj().put("name", f.getName).put("omitted", omit.contains(i)))
    }
    out.set[ArrayNode]("files", meta)
  }

  private def stage(parts: Seq[File], dir: String, omit: Set[Int]): Unit = {
    new File(dir).mkdirs()
    val base = System.currentTimeMillis() - 1000L * parts.length - 60000L
    parts.zipWithIndex.foreach { case (f, i) =>
      if (!omit.contains(i)) {
        val to = Paths.get(dir, f.getName)
        Files.copy(f.toPath, to)
        to.toFile.setLastModified(base + 1000L * i)
      }
    }
  }

  // ----------------------------------------------------------- warm-ups

  private def warmup(spark: SparkSession, workload: String): Unit = workload match {
    case "batch_mix" => // one untimed pass of the mix
      queryOrder.foreach(q => queries(q)(spark, arg("data")).collect())
    case _ =>
      // the emit must run its batch: state stores commit only when it does
      val (c, p) = startPipeline(spark, s"$work/warm", s"$work/warmup", Trigger.AvailableNow(),
        new Emitter().apply)
      c.awaitTermination(); p.awaitTermination()
  }

  // ---------------------------------------------------- stream workloads

  /** `fileSource -> parse -> windowedCounts -> dualSinkQueries`, as
    * `Apps.ProductViewV2` composes it, with the benchmark's `emit`. */
  private def startPipeline(spark: SparkSession, dir: String, base: String, trigger: Trigger,
                            emit: (DataFrame, Long) => Unit): (StreamingQuery, StreamingQuery) = {
    val raw = tracer.span("sources.fileSource") { PVP.fileSource(spark, dir) }
    val parsed = tracer.span("functions.parse") { PVP.parse(raw) }
    val counts = tracer.span("streaming.windowedCounts") { PVP.windowedCounts(parsed) }
    tracer.span("streaming.dualSinkQueries") {
      PVP.dualSinkQueries(counts, s"$base/parquet", s"$base/chk", trigger)(emit)
    }
  }

  /** Emit callback: keeps the latest count per (window start, source)
    * and the wall-clock span of every call, by batch id. */
  private final class Emitter {
    val latest = new java.util.concurrent.ConcurrentHashMap[(Long, String), Long]()
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[ObjectNode]()
    def apply(df: DataFrame, batch: Long): Unit = {
      val t0 = Clock.ms()
      val rows = df.collect()
      rows.foreach(r => latest.put((r.getTimestamp(0).getTime, r.getString(2)), r.getLong(3)))
      calls.add(Json.obj().put("batch", batch).put("start_ms", t0).put("end_ms", Clock.ms())
        .put("rows", rows.length))
    }
    def json(o: ObjectNode): ObjectNode = {
      val a = Json.arr()
      calls.asScala.foreach(a.add)
      o.set[ArrayNode]("emits", a)
      val l = Json.arr()
      latest.asScala.toSeq.sortBy(_._1).foreach { case ((s, src), n) =>
        l.add(Json.arr().add(s).add(src).add(n)) }
      o.set[ObjectNode]("latest", l)
    }
  }

  private def progressJson(ps: Seq[StreamingQueryProgress]): ArrayNode = {
    val a = Json.arr()
    ps.foreach(p => a.add(Json.mapper.readTree(p.json)))
    a
  }

  private def streamRun(run: String, c: StreamingQuery, p: StreamingQuery,
                        emitter: Emitter, t0: Double, t1: Double): ObjectNode = {
    val o = Json.obj().put("run", run).put("start_ms", t0).put("end_ms", t1)
      .put("console_id", c.id.toString).put("parquet_id", p.id.toString)
    o.set[ArrayNode]("console", progressJson(c.recentProgress.toSeq))
    o.set[ArrayNode]("parquet", progressJson(p.recentProgress.toSeq))
    Seq(c, p).flatMap(_.exception).foreach(e => o.put("error", e.toString))
    emitter.json(o)
  }

  private def sinkRows(spark: SparkSession, dir: String, o: ObjectNode): Unit = {
    val a = Json.arr()
    if (new File(dir).exists())
      spark.read.parquet(dir).collect().foreach(r => a.add(Json.arr().add(r.getString(0)).add(r.getLong(1))))
    o.set[ArrayNode]("parquet_rows", a)
  }

  private def replay(spark: SparkSession, run: String): ObjectNode = {
    val base = s"$work/$run"
    val emitter = new Emitter
    val t0 = Clock.ms()
    val (c, p) = tracer.span("streaming.replay_drain") {
      val qs = startPipeline(spark, s"$work/watch", base, Trigger.AvailableNow(), emitter.apply)
      qs._1.awaitTermination(); qs._2.awaitTermination()
      qs
    }
    val o = streamRun(run, c, p, emitter, t0, Clock.ms()).put("cores", spark.sparkContext.defaultParallelism)
    sinkRows(spark, s"$base/parquet", o)
    if (run == "untraced-0") {
      // the reference: the same lineage as a batch read of every staged file
      val oracle = Json.arr()
      PVP.windowedCounts(PVP.parse(spark.read.text(s"$work/staged"))).collect().foreach { r =>
        oracle.add(Json.arr().add(r.getTimestamp(0).getTime).add(r.getTimestamp(1).getTime)
          .add(r.getString(2)).add(r.getLong(3)))
      }
      o.set[ArrayNode]("oracle", oracle)
    }
    o
  }

  // --------------------------------------------------------- batch mix

  private lazy val queries = graft.SparkEntry.queries

  private def queryOrder: Seq[String] = arg("queries").split(',').toSeq

  /** Module that registers each query, named as the per-layer metrics
    * name it. */
  private lazy val moduleOf: Map[String, String] = Seq(
    "queries.Relational" -> graft.queries.Relational.all,
    "queries.Analytics" -> graft.queries.Analytics.all,
    "queries.TemporalOps" -> graft.queries.TemporalOps.all,
    "queries.Layout" -> graft.queries.Layout.all,
    "queries.TextOps" -> graft.queries.TextOps.all,
    "queries.Curation" -> graft.queries.Curation.all,
    "queries.Dedup" -> graft.queries.Dedup.all,
    "queries.Similarity" -> graft.queries.Similarity.all,
    "queries.PipelineQueries" -> graft.queries.PipelineQueries.all,
    "sources.WireEvents" -> graft.sources.WireEvents.all,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal.all,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** One pass over the mix: each query is built (`construct`) and then
    * executed by collecting its result (`execute`), after clearCache and a
    * GC as `graft.Bench` does before each query. Collecting runs the whole
    * plan, as Bench's noop write does, and hands the rows to the check:
    * they are written, untimed, to parquet without a second execution. */
  private def batchMix(spark: SparkSession, run: String): ObjectNode = {
    val o = Json.obj().put("run", run)
    val qs = Json.arr()
    val t0 = Clock.ms()
    queryOrder.foreach { name =>
      spark.catalog.clearCache()
      System.gc()
      val module = moduleOf.getOrElse(name, "unknown")
      val q = Json.obj().put("name", name).put("module", module)
      val t = Clock.ms()
      try {
        val df = tracer.span(s"$module.$name.construct") { queries(name)(spark, arg("data")) }
        val t1 = Clock.ms()
        val rows = tracer.span(s"$module.$name.execute") { df.collect() }
        val t2 = Clock.ms()
        q.put("start_ms", t).put("construct_s", (t1 - t) / 1000.0).put("execute_s", (t2 - t1) / 1000.0)
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        ntz(spark.createDataFrame(rows.toList.asJava, df.schema)).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/results/$run/$name")
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
        q.put("check_s", (Clock.ms() - t2) / 1000.0)
      } catch {
        case e: Throwable => q.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      qs.add(q)
    }
    o.put("start_ms", t0).put("end_ms", Clock.ms())
    o.set[ObjectNode]("queries", qs)
  }

  /** TimestampType -> TimestampNTZType at any depth: DuckDB's naive
    * timestamps are what the oracle fingerprints were taken from. */
  private def ntzType(dt: DataType): DataType = dt match {
    case TimestampType => TimestampNTZType
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = ntzType(f.dataType))))
    case a: ArrayType => a.copy(elementType = ntzType(a.elementType))
    case m: MapType => m.copy(keyType = ntzType(m.keyType), valueType = ntzType(m.valueType))
    case other => other
  }

  private def ntz(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val t = ntzType(f.dataType)
      if (t == f.dataType) col(f.name) else col(f.name).cast(t).as(f.name)
    }: _*)

  // ------------------------------------------------------ functions pass

  /** Batch passes over the workload's wire files: `parse` alone, then
    * `windowedCounts(parse(..))`, each forced through `noop`. */
  private def functionsPass(spark: SparkSession, workload: String): Unit = {
    val wire = workload match {
      case "replay_drain" => s"$work/staged"
      case "batch_mix" =>
        val dir = s"$work/wire"
        Simulator.productViewJson(graft.model.Tables.events(spark, arg("data")))
          .write.mode("overwrite").text(dir)
        dir
    }
    def timed(name: String)(df: => DataFrame): Unit = {
      val t = Clock.ms()
      tracer.span(name) { df.write.format("noop").mode("overwrite").save() }
      out.put(name.replace('.', '_') + "_s", (Clock.ms() - t) / 1000.0)
    }
    timed("functions.parse")(PVP.parse(spark.read.text(wire)))
    timed("functions.window_count")(PVP.windowedCounts(PVP.parse(spark.read.text(wire))))
  }
}
