package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

class InspectSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  test("the test session has the batch benchmark's session shape (Session.local at 8 cores)") {
    val session = mapper.readTree(Paths.get("perfbench/workloads.json").toFile)
      .path("workloads").path("batch_mix").path("session")
    val confs = session.properties().asScala.map(e => e.getKey -> e.getValue.asText)
      .filter(_._1 != "copied_from").toSeq
    assert(confs.nonEmpty, "batch_mix.session block missing from perfbench/workloads.json")
    confs.foreach { case (k, v) =>
      val want = v.replace("<nproc>", "8")
      val got = if (k == "master") spark.sparkContext.master else spark.conf.get(k)
      assert(got == want, s"$k: session has $got, the benchmark declares $want")
    }
  }

  test("plan and final each write a non-empty file under --out") {
    val dir = Files.createTempDirectory("inspect-spec")
    try {
      Seq("plan", "final").foreach { mode =>
        Inspect.run(spark, sf, mode, Seq("q_pricing_summary"), Some(dir))
        val f = dir.resolve(s"q_pricing_summary_$mode.txt")
        assert(Files.exists(f) && Files.size(f) > 0, s"$mode wrote no plan to $f")
      }
      assert(Files.readString(dir.resolve("q_pricing_summary_final.txt")).contains("HashAggregate"))
    } finally SyntheticEmbeddings.rm(dir.toString)
  }

  test("profile reports the execution's jobs and executor CPU time") {
    val Seq(line) = Inspect.run(spark, sf, "profile", Seq("q_pricing_summary"), None)
    val p = mapper.readTree(line)
    assert(p.path("query").asText == "q_pricing_summary")
    assert(p.path("execute_jobs").asLong >= 1, line)
    assert(p.path("tasks").asLong >= 1, line)
    assert(p.path("cpu_s").asDouble > 0.0, line)
  }

  test("an unknown name fails and lists the known names") {
    val e = intercept[IllegalArgumentException] {
      Inspect.run(spark, sf, "plan", Seq("q_no_such_query"), None)
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(e.getMessage.contains("q_pricing_summary") && e.getMessage.contains("Dedup.dupGraphEdges"),
      e.getMessage)
  }
}
