package graft.sources

import java.io.ByteArrayOutputStream
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{Money, Q, Tables}

/** DataSource V2 batch source for the engine's JSON wire format — the
  * reference's file-ingestion seam (NiFi GetFile -> JSON lines,
  * `Spark_Nifi_Kafka_Connected_Device_Stream` Active_Users_Pipeline.xml
  * GetFile/PublishKafka chain) done Spark-NATIVE: instead of a generic
  * text scan + a downstream `from_json` over every byte, the source
  * itself plans, prunes and parses, so Catalyst's pushdown reaches the
  * file layout.
  *
  * Layout contract (produced by [[WireEvents.writeWire]]): Hive-style
  * `dir/event_type=<v>/part-*.txt`, one JSON record per line carrying
  * the five non-partition fields; `event_type` exists only as the
  * directory name and is injected by the reader — so an `event_type`
  * filter is handled FULLY at planning time (whole directories never
  * open), the strongest possible pushdown claim, true by construction
  * rather than by trusting file contents.
  *
  * What the source implements, and why each matters at 100 TB:
  *  - `SupportsPushDownFilters`: `EqualTo`/`In`/`IsNotNull` on
  *    `event_type` prune partition directories at PLANNING time; `ts`
  *    range predicates prune whole FILES via per-file min/max ts read
  *    from each surviving file's own first and last line (the writer
  *    sorts every file by ts; [[WireEvents.fileTsRange]]), pushed for
  *    pruning and kept residual for exact row evaluation; all other
  *    predicates are returned to Spark as residuals (evaluated
  *    post-scan as usual). A wire dump filtered to one event type and
  *    a time window reads only that type's bytes within the window's
  *    band of files; planning that read opens only that type's files,
  *    each once per JVM.
  *  - `SupportsPushDownRequiredColumns`: the reader materializes ONLY
  *    the requested fields from each JSON node — a 2-column projection
  *    never allocates the other four (the JSON line is still read;
  *    columnar skipping needs a columnar format, which is what the
  *    parquet tables are for — this source is the INGESTION edge).
  *  - byte-range split planning with classic newline-straddle
  *    semantics (a split owns every line whose first byte falls inside
  *    it; a reader starting mid-file skips to the next line boundary
  *    and the previous split reads past its end to finish its last
  *    line) — so one 10 GB wire file becomes parallel work instead of
  *    one task, without any coordination between readers.
  *  - `SupportsReportStatistics`: surviving-byte size reaches the cost
  *    model, so a pruned wire scan can be broadcast when small.
  *  - `SupportsRuntimeFiltering` (r12): dynamic partition pruning —
  *    a broadcast join against a filtered dimension keyed on
  *    `event_type` prunes whole partition directories at EXECUTION
  *    time from the dimension's actual keys (classic star-schema DPP,
  *    opt-in for DSv2 sources; spec-pinned end-to-end with a
  *    `dynamicpruning` subquery in the executed plan).
  *
  * Batch only: the pipeline's streams read through Spark's own file
  * and Kafka sources ([[graft.streaming.ProductViewPipeline.fileSource]],
  * [[graft.streaming.ProductViewPipeline.kafkaSource]]), which keep
  * their own offset logs and exactly-once replay.
  *
  * Failure contract: a malformed line THROWS with file + byte offset
  * (fail-loudly, spec-pinned). Wire-level dead-lettering is the
  * pipeline's job ([[graft.streaming.ProductViewPipeline.deadLetterQuery]]);
  * an ingestion SOURCE silently dropping bytes would un-count data with
  * no quarantine trail.
  */
class WireEventsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wire-events"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WireEvents.wireSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    // CREATE TABLE ... USING wire-events delivers OPTIONS here (table
    // properties), while DataFrameReader delivers them per-scan — the
    // table keeps its properties and the scan builder merges both
    new WireTable(schema, properties)

  // schema is the wire CONTRACT, not an inference artifact — a
  // user-supplied schema could silently misname fields the reader
  // extracts by name, so external metadata is refused
  override def supportsExternalMetadata(): Boolean = false
}

private[sources] class WireTable(
    schema: StructType,
    tableProps: java.util.Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "wire_events"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  // scan-time options win over table properties (a reader can narrow
  // maxSplitBytes on a catalog table without re-creating it)
  private def opt(options: CaseInsensitiveStringMap, key: String): Option[String] =
    Option(options.get(key)).orElse {
      // table properties are stored case-sensitively by the catalog
      tableProps.asScala.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) => v
      }
    }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WireScanBuilder(
      opt(options, "path").getOrElse(
        throw new IllegalArgumentException("wire-events: 'path' option is required")),
      opt(options, "maxSplitBytes").map(_.toLong)
        .getOrElse(WireEvents.DefaultMaxSplitBytes))
}

private[sources] class WireScanBuilder(path: String, maxSplitBytes: Long)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WireEvents.wireSchema

  /** Accept (fully handle) only predicates the DIRECTORY layout can
    * answer exactly; everything else goes back to Spark.
    *
    * `ts` predicates are pushed as well — but for FILE pruning only
    * (the writer's sorted-file contract makes first/last line =
    * min/max, see [[WireEvents.fileTsRange]]), so they are ALSO
    * returned as residual: file-level min/max is coarse, Spark keeps
    * exact row-level evaluation. Same pushed-and-re-evaluated split
    * Spark's parquet source reports for row-group stats filters. The
    * reference's workload filters by time before anything else
    * (windowed counts), so a 100 TB wire dump queried for one window
    * opens only that window's band of files. Which predicate prunes by
    * which column is [[WireEvents.prunedBy]]'s one rule. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, residual) =
      filters.partition(WireEvents.prunedBy(_).contains("event_type"))
    pushed = handled ++ residual.filter(WireEvents.prunedBy(_).contains("ts"))
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new WireScan(path, maxSplitBytes, pushed, required)
}

private[sources] class WireScan(
    path: String,
    maxSplitBytes: Long,
    pushed: Array[Filter],
    required: StructType)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Runtime (execution-time) filters injected by dynamic partition
    * pruning — the DSv2 contract that lets a JOIN prune this scan: a
    * broadcast join against a filtered dimension hands the dimension's
    * actual key set to [[filter]] before input partitions are planned
    * (classic star-schema DPP, which Spark only applies to sources
    * that opt in via [[SupportsRuntimeFiltering]]). Two key columns
    * participate: `event_type` prunes whole partition DIRECTORIES, and
    * — r13, the r12 verdict's task 5 — `ts` prunes whole FILES through
    * their first/last-line ts band: a join against a filtered time
    * dimension arrives as an IN-set of ts keys, and a file survives
    * only if some key falls inside its [min, max] band. So a 100 TB
    * dump joined to one hot hour reads that hour's band of files,
    * decided at EXECUTION time from the dimension's actual keys.
    * The same rule as planning decides what prunes
    * ([[WireEvents.prunedBy]]); filters on any other column are
    * ignored — runtime filters are an optimization, the join itself
    * still evaluates exactly. */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // only attributes present in the PRUNED read schema — Spark resolves
  // these against the scan's output, and a column-pruned scan (e.g. a
  // projection to event_type alone) fails analysis on an absent name
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Seq("event_type", "ts")
      .filter(required.fieldNames.contains(_))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters.filter(WireEvents.prunedBy(_).nonEmpty)
    filesCache = null // re-list under the tightened filter set
  }

  // (partition value, file path, file length); listed once per filter
  // state, reused by planning, statistics and description
  @volatile private var filesCache: Seq[(String, String, Long)] = null
  private def files: Seq[(String, String, Long)] = {
    var c = filesCache
    if (c == null) {
      c = WireEvents.listWireFiles(path, pushed ++ runtimeFilters)
      filesCache = c
    }
    c
  }

  override def planInputPartitions(): Array[InputPartition] =
    WireEvents.splitsOf(files, maxSplitBytes)

  override def createReaderFactory(): PartitionReaderFactory =
    new WireReaderFactory(required.fields.map(_.name))

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map(_._3).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  // surfaced verbatim in `.explain` via BatchScanExec — the spec and a
  // plan reviewer read pruning evidence here
  override def description(): String =
    s"WireEventsScan files=${files.size} " +
      s"pushed=[${pushed.mkString(", ")}] " +
      (if (runtimeFilters.nonEmpty) s"runtime=[${runtimeFilters.mkString(", ")}] " else "") +
      s"cols=[${required.fields.map(_.name).mkString(", ")}]"
}

/** One byte range of one wire file; `eventType` is the value encoded in
  * the enclosing partition directory (null = default-partition dir). */
private[sources] case class WirePartition(
    path: String, start: Long, length: Long, eventType: String)
    extends InputPartition

/** Built on the DRIVER, so the session's hadoopConfiguration is
  * captured here and shipped inside the serialized factory —
  * `spark.hadoop.*` settings (object-store credentials, fs tuning)
  * reach every executor-side reader, the same contract Spark's own
  * file sources keep by broadcasting the session conf. A fresh
  * default `Configuration()` on the executor would list fine locally
  * and fail task-side on any store configured via SparkConf. */
private[sources] class WireReaderFactory(requiredCols: Array[String])
    extends PartitionReaderFactory {
  private val conf = new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WirePartition]
    new WireReader(p, requiredCols, conf.value)
  }
}

/** Line-oriented reader over one byte range.
  *
  * Split-ownership rule (Hadoop LineRecordReader's): a non-first split
  * ALWAYS discards through its first '\n' (whether it landed mid-line
  * or exactly on a line start), and a split emits every line whose
  * first byte position is <= its END (inclusive) — so a line starting
  * exactly on a boundary belongs to the PREVIOUS split. The two rules
  * are exact complements: strict-exclusive end with an uncondition
  * skip loses exactly the boundary-start lines (caught by the 256-byte
  * split spec). A line that starts in range is consumed to completion
  * past the end. Newlines are
  * byte-0x0A delimiters, which is safe in UTF-8 (no continuation byte
  * equals 0x0A) and is the contract of the text writer that produced
  * the files.
  */
private[sources] class WireReader(
    p: WirePartition, requiredCols: Array[String], hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {

  private val end = p.start + p.length
  private val hPath = new HPath(p.path)
  private val in = {
    val fs = hPath.getFileSystem(hadoopConf)
    val s = fs.open(hPath)
    // constructor-time I/O must not leak the stream: a reader whose
    // construction throws is never registered for close() by the
    // DataSourceRDD, so each task retry would strand one open
    // connection (r14 review)
    try s.seek(p.start)
    catch {
      case t: Throwable =>
        try s.close()
        catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
        throw t
    }
    s
  }
  private val buf = new java.io.BufferedInputStream(in, 1 << 16)
  private var pos = p.start
  private val mapper = new ObjectMapper()
  private val lineBuf = new ByteArrayOutputStream(256)
  private var row: InternalRow = _

  private val evType: UTF8String =
    if (p.eventType == null) null else UTF8String.fromString(p.eventType)

  // one extractor per required column, resolved once (not per row)
  private val extractors: Array[JsonNode => Any] = requiredCols.map {
    case "event_type" => (_: JsonNode) => evType
    case name =>
      val get: JsonNode => JsonNode = n => n.get(name)
      name match {
        case "event_id" | "user_id" =>
          n => { val v = get(n); if (v == null || v.isNull) null else java.lang.Long.valueOf(v.asLong) }
        case "value" =>
          n => { val v = get(n); if (v == null || v.isNull) null else java.lang.Double.valueOf(v.asDouble) }
        case "ts" | "props" =>
          n => { val v = get(n); if (v == null || v.isNull) null else UTF8String.fromString(v.asText) }
        case other =>
          throw new IllegalArgumentException(s"wire-events: unknown column '$other'")
      }
  }

  private def readByte(): Int = {
    val b = buf.read()
    if (b >= 0) pos += 1
    b
  }

  // discard the partial line a mid-file split lands in (same
  // constructor-leak rule as the open/seek above: close on failure)
  if (p.start > 0) {
    try {
      var b = readByte()
      while (b >= 0 && b != '\n') b = readByte()
    } catch {
      case t: Throwable =>
        try buf.close()
        catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
        throw t
    }
  }

  override def next(): Boolean = {
    while (true) {
      val lineStart = pos
      // inclusive: the line starting exactly at `end` is ours; the next
      // split's unconditional first-line skip discards its copy
      if (lineStart > end) return false
      lineBuf.reset()
      var b = readByte()
      if (b < 0) return false
      while (b >= 0 && b != '\n') { lineBuf.write(b); b = readByte() }
      if (lineBuf.size() > 0) {
        val bytes = lineBuf.toByteArray
        val node =
          try mapper.readTree(bytes, 0, bytes.length)
          catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              throw new IllegalStateException(
                s"wire-events: malformed wire line at ${p.path} offset $lineStart", e)
          }
        val vals = new Array[Any](extractors.length)
        var i = 0
        while (i < extractors.length) { vals(i) = extractors(i)(node); i += 1 }
        row = new GenericInternalRow(vals)
        return true
      }
      // blank line: skip, keep scanning this range
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = buf.close()
}

object WireEvents {
  val DefaultMaxSplitBytes: Long = 4L * 1024 * 1024

  /** The one rule for which predicates the layout prunes on: the
    * column a predicate prunes by, or None. An `event_type` predicate
    * is answered exactly by the directory names ([[survives]]), so the
    * scan handles it fully; a `ts` predicate prunes whole files through
    * their first/last-line band ([[tsBounds]], [[tsInSet]]), which is
    * coarse, so it also stays residual. Only string literals compare
    * against the layout's strings. Planning's pushdown and the
    * runtime (DPP) filters both read this rule. */
  private[sources] def prunedBy(f: Filter): Option[String] = {
    def strings(vs: Array[Any]) = vs.forall(v => v == null || v.isInstanceOf[String])
    f match {
      case EqualTo("event_type", _: String) | IsNotNull("event_type") => Some("event_type")
      case In("event_type", vs) if strings(vs) => Some("event_type")
      case GreaterThan("ts", _: String) | GreaterThanOrEqual("ts", _: String) |
           LessThan("ts", _: String) | LessThanOrEqual("ts", _: String) |
           EqualTo("ts", _: String) => Some("ts")
      case In("ts", vs) if strings(vs) => Some("ts")
      case _ => None
    }
  }

  /** Does the directory-encoded partition value survive every pushed
    * filter? (null = the Hive default-partition sentinel dir.)
    *
    * SQL three-valued logic: a null IN-list entry never MATCHES
    * anything — `x IN ('a', NULL)` is TRUE only when x equals a
    * non-null entry and NULL (i.e. filtered out) otherwise, so the
    * default-partition dir must NOT survive on a null entry. Since
    * these filters are reported fully handled (Spark does not
    * re-evaluate them post-scan), getting this wrong here would return
    * rows a vanilla parquet scan filters — pinned by WireSourceSpec. */
  private def survives(v: String, pushed: Array[Filter]): Boolean = pushed.forall {
    case EqualTo("event_type", x: String) => v == x
    case In("event_type", vs) => v != null && vs.exists(x => x != null && x == v)
    case IsNotNull("event_type") => v != null
    case _ => true
  }

  /** Fold pushed ts range predicates into one (lower, upper) bound
    * pair — the strongest of each side; inclusivity is deliberately
    * dropped (pruning may be coarse, the residual filter is exact). */
  private[sources] def tsBounds(pushed: Array[Filter]): (Option[String], Option[String]) = {
    var lo: Option[String] = None
    var hi: Option[String] = None
    pushed.foreach {
      case GreaterThan("ts", v: String) => lo = Some(lo.fold(v)(x => if (v > x) v else x))
      case GreaterThanOrEqual("ts", v: String) => lo = Some(lo.fold(v)(x => if (v > x) v else x))
      case LessThan("ts", v: String) => hi = Some(hi.fold(v)(x => if (v < x) v else x))
      case LessThanOrEqual("ts", v: String) => hi = Some(hi.fold(v)(x => if (v < x) v else x))
      case _ =>
    }
    (lo, hi)
  }

  /** Fold pushed ts equality/IN predicates — the shape a ts-keyed
    * join's DPP runtime filters take — into one optional key set.
    * Multiple such filters AND together (intersect); nulls never
    * satisfy an equality and are dropped, so `In(ts, [null])` yields
    * the empty set (every file correctly prunes). */
  private[sources] def tsInSet(pushed: Array[Filter]): Option[Set[String]] = {
    val sets = pushed.toSeq.collect {
      case EqualTo("ts", v: String) => Set(v)
      case In("ts", vs) => vs.iterator.collect { case s: String => s }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  private def lineTs(mapper: ObjectMapper, line: String): Option[String] = {
    if (line.isEmpty) return None
    val n = try mapper.readTree(line)
            catch { case _: Exception => return None } // stats stay conservative; the READ still fails loudly
    val t = if (n == null) null else n.get("ts")
    if (t == null || t.isNull) None else Some(t.asText)
  }

  /** Per-file (min ts, max ts) from two bounded reads — first and last
    * complete line — valid because [[writeWire]] emits every file
    * ts-SORTED (null-ts rows sort first, so a present first-line ts is
    * the true non-null min and the last line the true max; a null-ts
    * first line yields None and disables min-side pruning for the
    * file, which is the conservative direction). [[TsFmt]] is
    * lexicographically ordered, so string compare == time compare.
    * The file is its own stats store: planning under a ts bound probes
    * each candidate file on the driver, through [[probeMemo]]. A line
    * longer than the window yields None (unknown), never a wrong
    * bound. */
  private[sources] def fileTsRange(
      fs: FileSystem, p: HPath, len: Long): (Option[String], Option[String]) = {
    if (len <= 0) return (None, None)
    val W = 1 << 16
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val in = fs.open(p)
    try {
      val headLen = math.min(len, W.toLong).toInt
      val head = new Array[Byte](headLen)
      in.readFully(0L, head, 0, headLen)
      val hNl = head.indexOf('\n'.toByte)
      val first =
        if (hNl >= 0) Some(new String(head, 0, hNl, utf8))
        else if (len <= W) Some(new String(head, utf8))
        else None
      val tailStart = math.max(0L, len - W)
      val tailLen = (len - tailStart).toInt
      val tail = new Array[Byte](tailLen)
      in.readFully(tailStart, tail, 0, tailLen)
      var e = tailLen
      while (e > 0 && tail(e - 1) == '\n'.toByte) e -= 1
      val s = tail.lastIndexOf('\n'.toByte, e - 1)
      val last =
        if (s >= 0) Some(new String(tail, s + 1, e - (s + 1), utf8))
        else if (tailStart == 0) Some(new String(tail, 0, e, utf8))
        else None
      val m = new ObjectMapper()
      (first.flatMap(l => lineTs(m, l.trim)), last.flatMap(l => lineTs(m, l.trim)))
    } finally in.close()
  }

  /** Driver-side memo of probe results keyed (path, length): files
    * are immutable once visible (the source contract), so a (path, len)
    * pair determines (min ts, max ts) forever. Planning the same read
    * twice then opens no file it already probed. Per-entry memory is
    * ~150 B — but the map outlives any one query (it is JVM-scoped,
    * shared across layouts), so a long-lived driver would otherwise
    * accumulate entries for files read months ago: [[probeMemo]]
    * bounds it as an access-order LRU. An LRU, not a drop-at-cap (ADVICE
    * r13): the old check-then-clear raced (concurrent callers could
    * overshoot the cap) and a wholesale clear discarded every LIVE entry
    * at once, turning the next plan into a synchronized re-probe wave
    * of every file; evicting only the eldest keeps the hot tail
    * memoized at all times. */
  private val probeCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long), (Option[String], Option[String])](
        1024, 0.75f, /* accessOrder = */ true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (Option[String], Option[String])])
          : Boolean = size() > probeCacheCap
    })

  /** [[probeCache]] upper bound: 64k entries ≈ 10 MB — tiny next to
    * driver heap. */
  private[graft] val probeCacheCap = 65536

  private[graft] def probeMemo(key: (String, Long))(
      f: => (Option[String], Option[String])): (Option[String], Option[String]) = {
    // get-then-put (not computeIfAbsent) so eviction stays inside the
    // synchronized map: two concurrent misses on the SAME key may both
    // probe, but the probe is pure and idempotent — a benign double
    // read beats holding the map lock across file I/O
    val cur = probeCache.get(key)
    if (cur != null) cur
    else { val v = f; probeCache.put(key, v); v }
  }

  /** Driver-side census of the wire layout with directory pruning
    * applied: (partition value, file path, length) for every data file
    * in a surviving `event_type=` directory, in listing order; empty
    * when the root does not exist. A data file is a plain file without a
    * `_`/`.` prefix, so `_SUCCESS`, commit temps and any other
    * underscore file never list, nor open. The scan lists once per
    * filter state for planning and statistics.
    *
    * When a ts bound or key set was pushed, whole files outside it are
    * dropped here via the sorted-file min/max ([[fileTsRange]] through
    * [[probeMemo]]) — a file is pruned only when it CERTAINLY holds no
    * qualifying row (its min is above the upper bound or its max below
    * the lower; null-ts rows never qualify a range predicate under SQL
    * nulls, so their presence in a pruned file is sound to skip).
    * Directory pruning runs first, so an off-type file never opens, and
    * with no ts filter no file opens at all. */
  private[sources] def listWireFiles(
      path: String, pushed: Array[Filter]): Seq[(String, String, Long)] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    def valueOf(dirName: String): String = {
      val raw = dirName.stripPrefix("event_type=")
      if (raw == "__HIVE_DEFAULT_PARTITION__") null else unescapePathName(raw)
    }
    val (lo, hi) = tsBounds(pushed)
    val inSet = tsInSet(pushed)
    val ranged = lo.nonEmpty || hi.nonEmpty || inSet.nonEmpty
    def inBand(s: FileStatus): Boolean = {
      val len = s.getLen
      val (mn, mx) = probeMemo((s.getPath.toString, len))(fileTsRange(fs, s.getPath, len))
      val entirelyAbove = hi.exists(h => mn.exists(_ > h))
      val entirelyBelow = lo.exists(l => mx.exists(_ < l))
      // DPP key set: the file must hold SOME key in its band
      // (unknown min/max stay conservative — treated unbounded)
      val missesKeys = inSet.exists(ks => !ks.exists(k =>
        mn.forall(_ <= k) && mx.forall(_ >= k)))
      !(entirelyAbove || entirelyBelow || missesKeys)
    }
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("event_type="))
      .flatMap { d =>
        val v = valueOf(d.getPath.getName)
        if (!survives(v, pushed)) Seq.empty
        else fs.listStatus(d.getPath).toSeq
          .filter { s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".") && (!ranged || inBand(s))
          }
          .map(s => (v, s.getPath.toString, s.getLen))
      }
  }

  /** Byte-range split planning over listed files; the last split of a
    * file absorbs the sub-split remainder so no split is tiny. */
  private[sources] def splitsOf(
      files: Seq[(String, String, Long)],
      maxSplitBytes: Long): Array[InputPartition] =
    files.flatMap { case (v, p, len) =>
      // CEILING division: maxSplitBytes is a MAXIMUM — floor gave a
      // file in (max, 2·max) ONE oversized split and sized every
      // split at up to 2x the configured bound (r14 review); with the
      // ceiling, base = len/n <= max and only the last split absorbs
      // the sub-split (< n bytes) remainder, as documented
      val mx = math.max(1L, maxSplitBytes)
      val n = math.max(1L, (len + mx - 1) / mx)
      val base = len / n
      (0L until n).map { i =>
        val start = i * base
        val length = if (i == n - 1) len - start else base
        WirePartition(p, start, length, v)
      }
    }.toArray

  /** The wire contract — field names are what the reader extracts by
    * name from each JSON line ([[WireEventsSource.supportsExternalMetadata]]
    * is false for exactly this reason). `ts` stays a STRING: the wire
    * carries the reference's textual timestamp form; typing it is the
    * pipeline's first transform, same as the Kafka path. */
  val wireSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Microsecond-precision wire timestamp format: the parquet fixture's
    * timestamps are micros, so a millis-only wire form would silently
    * truncate — format and parse must round-trip bit-exactly for the
    * oracle hash to hold. */
  val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Undo the Hive partition-path escaping Spark's writer applies
    * (`%xx` for chars illegal in a dir name). Minimal inverse — enough
    * for any value the writer can produce. */
  private[sources] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Distributed wire writer: Hive-layout JSON lines, one record per
    * event, `event_type` carried ONLY by the directory. Uncompressed so
    * byte-range splits stay valid (a gzip member is not seekable).
    *
    * Layout contract extension (r11): every emitted file is ts-SORTED
    * and the write is range-partitioned on (event_type, ts), so files
    * within a partition directory cover near-disjoint time bands. Two
    * reasons, both time-locality: (1) first/last line become exact
    * min/max ts stats, which is what lets [[fileTsRange]] prune whole
    * files under a pushed ts range — the reference's workload windows
    * by time before anything else; (2) a banded layout keeps a time-
    * windowed scan's bytes proportional to the WINDOW, not the dump.
    * Cost: one range shuffle at write (sampled range bounds, standard
    * `repartitionByRange`), amortized over every later time-windowed
    * read — the same trade Spark users make writing time-partitioned
    * parquet. `sortWithinPartitions` satisfies the writer's required
    * partition-column ordering as a prefix, so FileFormatWriter
    * inserts no second sort and ts order survives into each file.
    *
    * `timeBands` is passed EXPLICITLY to `repartitionByRange`: a
    * user-specified partition count is exempt from AQE coalescing,
    * which would otherwise merge a small dump into one band per type
    * and erase the banded layout the pruning stats depend on
    * (observed: 5 files total at sf0.001 under AQE). Default = the
    * session's shuffle parallelism.
    *
    * Nothing but the data and Spark's `_SUCCESS` marker is written:
    * the sorted files are their own ts stats ([[fileTsRange]]). */
  def writeWire(events: DataFrame, dir: String, timeBands: Int = 0): Unit =
    events
      .repartitionByRange(
        if (timeBands > 0) timeBands
        else events.sparkSession.sessionState.conf.numShufflePartitions,
        col("event_type"), col("ts"))
      .sortWithinPartitions(col("event_type"), col("ts"))
      .select(
        col("event_type"),
        to_json(struct(
          col("event_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          col("user_id"),
          col("value"),
          col("props"))).as("line"))
      .write
      .partitionBy("event_type")
      .option("compression", "none")
      .mode("overwrite")
      .text(dir)

  /** Convenience reader (specs + queries). */
  def read(spark: SparkSession, dir: String,
           maxSplitBytes: Long = DefaultMaxSplitBytes): DataFrame =
    spark.read
      .format(classOf[WireEventsSource].getName)
      .option("path", dir)
      .option("maxSplitBytes", maxSplitBytes.toString)
      .load()

  /** Deterministic-per-(JVM, fixture) scratch dir (overwritten each
    * run so the query's cost is flat across bench reps; pid-unique so
    * concurrent JVMs never wipe each other's wire dirs — Fs.scratchDir
    * scaladoc). */
  private def wireDirFor(sfDir: String): String =
    graft.model.Fs.scratchDir("wire", sfDir)

  /** End-to-end DSv2 wire query: events -> wire files -> pruned DSv2
    * scan -> per-user purchase rollup. The scan plans only the
    * `event_type=purchase` directory (filter handled at planning; see
    * the `pushed=` clause in `.explain`), extracts only the three
    * referenced fields, and the textual timestamp is re-typed losslessly
    * ([[TsFmt]]). Oracle runs against the ORIGINAL parquet — so the
    * hash match certifies the whole wire round-trip (format -> split ->
    * parse -> prune), not just the aggregate.
    *
    * 100 TB shape: the write pays one range shuffle for the time-banded
    * layout (see [[writeWire]]); the read opens one partition directory
    * out of five and splits its files into bounded byte ranges — scan
    * work is proportional to the SELECTED type's bytes, never the
    * corpus, and a ts-windowed read would further prune to the window's
    * band of files. The rollup is one hash-aggregate exchange on
    * user_id.
    */
  private val wireDsv2 = Q(
    "q_wire_dsv2",
    (s, d) => {
      val dir = wireDirFor(d)
      writeWire(Tables.events(s, d), dir)
      read(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(Money.cents(col("value"))).cast("long").as("value_cents"),
          max(to_timestamp(col("ts"), TsFmt)).as("last_ts"))
    },
    oracle = Some(s"""
      SELECT user_id,
             count(*) AS n_events,
             CAST(sum(${Money.centsSql("value")}) AS BIGINT) AS value_cents,
             max(ts) AS last_ts
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id"""))

  /** Time-windowed DSv2 wire query — the ts-range pushdown exercised
    * END-TO-END under the DuckDB oracle: events -> time-banded wire
    * dump -> DSv2 scan with a pushed `ts >=` bound -> per-type rollup.
    * Planning prunes every file whose sorted-file max ts falls below
    * the cut (see [[fileTsRange]]); the residual filter keeps row
    * evaluation exact, and the oracle computes the same half-range cut
    * over the ORIGINAL parquet — so the hash match certifies pruning
    * never drops or resurrects a row, cross-engine, at every SF.
    *
    * The cut is the exact midpoint of the fixture's [min, max] epoch-
    * micros range — integer arithmetic both engines share bit-for-bit
    * (floor division of non-negative micros), then compared on the
    * wire as a [[TsFmt]] string, which orders exactly like the
    * timestamps it encodes.
    *
    * 100 TB shape: identical to [[wireDsv2]] plus the point of the
    * feature — the scan opens only the upper half of each directory's
    * time bands, so a narrowing time window reads proportionally
    * fewer bytes (the reference's windowed workload shape). */
  private val wireTsWindow = Q(
    "q_wire_ts_window",
    (s, d) => {
      val dir = wireDirFor(d) + "-tsw"
      val ev = Tables.events(s, d)
      writeWire(ev, dir)
      val r = ev.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head()
      val cutUs = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
      val cut = java.time.LocalDateTime
        .ofEpochSecond(Math.floorDiv(cutUs, 1000000L),
          (Math.floorMod(cutUs, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern(TsFmt))
      read(s, dir)
        .filter(col("ts") >= cut)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(Money.cents(col("value"))).cast("long").as("value_cents"))
    },
    oracle = Some(s"""
      WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS mn,
                        max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx
                 FROM events)
      SELECT event_type,
             count(*) AS n_events,
             CAST(sum(${Money.centsSql("value")}) AS BIGINT) AS value_cents
      FROM events, b
      WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= mn + (mx - mn) // 2
      GROUP BY event_type"""))

  def all: Seq[Q] = Seq(wireDsv2, wireTsWindow)
}
