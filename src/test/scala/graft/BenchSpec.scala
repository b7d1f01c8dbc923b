package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

import graft.model.Q

/** `Bench.run` on synthetic queries: what enters `value`, what is
  * flagged beside it, and what the line and the detail file hold. */
class BenchSpec extends SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private val reps = 3
  private val warmCalls = new AtomicInteger
  // only handed to the query functions, which ignore it
  private val oddSfDir = "/tmp/sf \"quoted\" \\ backé"

  private def q(name: String, tags: String*)(fn: SparkSession => DataFrame): Q =
    Q(name, (s, _) => fn(s), None, tags.toSet)

  // no q_pricing_summary here, so Bench warms up on a_sum, first by name
  private val queries = Seq(
    q("a_sum")(_.range(0, 2000000, 1, 4).selectExpr("sum(id % 7) AS s")),
    q("b_fails")(_ => throw new IllegalStateException("planted failure")),
    q("c_measure", "measurement-only")(_.range(1000).toDF()),
    q("d_warm", "warm-in") { s =>
      // the discarded first call is the slow one
      if (warmCalls.getAndIncrement() == 0) Thread.sleep(2000)
      s.range(1000).toDF()
    })

  private lazy val dir: Path = Files.createTempDirectory("bench-spec")
  private lazy val line: String =
    Bench.run(spark, oddSfDir, queries, reps, None, dir.resolve("bench.json").toString)
  private lazy val head: JsonNode = mapper.readTree(line)
  private lazy val detail: JsonNode = { line; mapper.readTree(dir.resolve("bench_detail.json").toFile) }

  override def afterAll(): Unit = SyntheticEmbeddings.rm(dir.toString)

  private def doubles(n: JsonNode): Seq[Double] = n.elements().asScala.map(_.asDouble).toSeq
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq
  private def median(name: String): Double = {
    val runs = doubles(detail.path("runs").path(name)).sorted
    assert(runs.size == reps, s"$name: ${runs.size} runs")
    runs(reps / 2)
  }

  test("value sums the per-query medians, leaving out failed and measurement-only queries") {
    Seq("a_sum", "c_measure", "d_warm").foreach { n =>
      assert(head.path("queries").path(n).asDouble == median(n), n)
    }
    assert(head.path("queries").path("b_fails").asDouble == -1.0)
    val value = head.path("value").asDouble
    // each printed median is rounded to 3 decimals, the sum once more
    assert(math.abs(value - (median("a_sum") + median("d_warm"))) <= 0.002, line)
    assert(keys(head.path("measurement_only")) == Seq("c_measure"), line)
    assert(math.abs(head.path("value_with_measurement").asDouble - (value + median("c_measure"))) <= 0.002, line)
    assert(head.path("metric_note").isTextual, line)
  }

  test("a throwing query is named in failed") {
    assert(head.path("failed").elements().asScala.map(_.asText).toSeq == Seq("b_fails"), line)
    assert(detail.path("runs").path("b_fails").size == 0)
  }

  test("a warm-in query runs reps + 1 times, its first time in warm_reps and not in runs") {
    line
    assert(warmCalls.get == reps + 1)
    assert(keys(detail.path("warm_reps")) == Seq("d_warm"))
    val warm = detail.path("warm_reps").path("d_warm").asDouble
    assert(warm >= 2.0, detail.toString)
    assert(doubles(detail.path("runs").path("d_warm")).forall(_ < warm), detail.toString)
    assert(head.path("warm_discarded").elements().asScala.map(_.asText).toSeq == Seq("d_warm"), line)
  }

  test("the line is pure ASCII JSON when the corpus path holds a quote, a backslash and a non-ASCII character") {
    assert(line.forall(c => c >= 0x20 && c < 0x7f), line)
    assert(head.path("sf").asText == oddSfDir)
    assert(detail.path("sf").asText == oddSfDir)
    assert(Files.readString(dir.resolve("bench.json")) == line + "\n")
  }

  test("an unknown only name fails and lists the known names") {
    val e = intercept[IllegalArgumentException] {
      Bench.run(spark, sf, queries, 1, Some(Set("c_measure", "q_typo")), dir.resolve("typo.json").toString)
    }
    assert(e.getMessage.contains("q_typo") && e.getMessage.contains("a_sum"), e.getMessage)
    assert(!Files.exists(dir.resolve("typo.json")))
  }

  test("the detail file holds each rep's executor CPU seconds beside its wall seconds") {
    assert(keys(detail.path("cpu_s")) == keys(detail.path("runs")))
    val cpu = doubles(detail.path("cpu_s").path("a_sum"))
    assert(cpu.size == reps && cpu.forall(_ > 0.0), detail.toString)
  }

  test("the session stays usable after a run") {
    line
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(10).count() == 10)
  }
}
