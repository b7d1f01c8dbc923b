package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.ListenerBridge

/** `runMain graft.Inspect plan|final|profile [--out <dir>] <name> ...`
  * on Bench's session and corpus (`SPARK_GRAFT_SF_DIR`). `plan` prints
  * the formatted initial plan; `final` executes the query and prints
  * the adaptive plan AQE actually ran (reused exchanges, runtime join
  * changes, coalesced reads); `profile` executes it and prints one JSON
  * line of seconds and listener counts, with the jobs run while the
  * DataFrame is built (checkpoints, probes) apart from the execution's.
  * Names are `SparkEntry.queries` keys plus the dup-graph edge frame
  * and its lazy hot-shingle input, which the graph queries' own plans
  * show only as checkpoint-RDD scans. `--out` writes each result to
  * `<dir>/<name>_<mode>.txt` instead of stdout. */
object Inspect {

  private val usage = "usage: Inspect plan|final|profile [--out <dir>] <name> [<name> ...]"

  def main(args: Array[String]): Unit = {
    val (out, names) = args.toSeq.drop(1) match {
      case Seq("--out", dir, rest @ _*) => (Some(Paths.get(dir)), rest)
      case rest => (None, rest)
    }
    require(names.nonEmpty, usage)
    val spark = Session.local()
    try run(spark, Session.sfDir, args(0), names, out)
    finally spark.stop()
  }

  private def frames: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ Map(
      "Dedup.dupGraphEdges" -> graft.queries.Dedup.dupGraphEdges _,
      "Dedup.hotShinglesPlan" -> graft.queries.Dedup.hotShinglesPlan _)

  /** Inspects each name on `spark` over `sfDir` in `mode`; returns the
    * texts in order, after printing or writing each. */
  def run(spark: SparkSession, sfDir: String, mode: String, names: Seq[String],
          out: Option[Path]): Seq[String] = {
    val render: (String, () => DataFrame) => String = mode match {
      case "plan" => (_, build) => build().queryExecution.explainString(FormattedMode)
      case "final" => (name, build) => finalPlan(name, build())
      case "profile" => (name, build) => profile(spark, name, build)
      case _ => throw new IllegalArgumentException(usage)
    }
    val known = frames
    requireKnown(names, known.keys)
    out.foreach(Files.createDirectories(_))
    names.map { name =>
      // a block a previous query left cached must not serve this one
      spark.catalog.clearCache()
      val text = render(name, () => known(name)(spark, sfDir))
      out match {
        case Some(dir) =>
          val f = dir.resolve(s"${name}_$mode.txt")
          Files.writeString(f, text)
          println(s"[inspect] wrote $f")
        case None => println(text)
      }
      text
    }
  }

  /** Fails naming each of `names` not in `known`, and every known name. */
  private[graft] def requireKnown(names: Seq[String], known: Iterable[String]): Unit = {
    val unknown = names.filterNot(known.toSet)
    require(unknown.isEmpty,
      s"unknown name(s) ${unknown.mkString(", ")}; known: ${known.toSeq.sorted.mkString(", ")}")
  }

  /** Runs every partition of every operator of the frame's OWN
    * QueryExecution. A noop write would run a separate QueryExecution
    * built inside DataFrameWriter.runCommand and leave this one's
    * adaptive plan initial (isFinalPlan=false). */
  private def execute(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(_ => ())

  private def finalPlan(name: String, df: DataFrame): String = {
    execute(df)
    val executed = df.queryExecution.executedPlan
    val adaptive = executed.collectFirst { case a: AdaptiveSparkPlanExec => a }
    adaptive.foreach { a =>
      assert(a.isFinalPlan,
        s"$name: AdaptiveSparkPlanExec did not finalize — the plan would be the initial one")
    }
    adaptive.map(_.executedPlan).getOrElse(executed).toString
  }

  /** Listener totals since registration; read them after
    * [[ListenerBridge.drain]]. The one listener Bench and Inspect share. */
  private[graft] final class Counts extends SparkListener {
    @volatile var jobs, stages, tasks, cpuNs, gcMs, readB, writeB, spillB = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def profile(spark: SparkSession, name: String, build: () => DataFrame): String = {
    val sc = spark.sparkContext
    val c = new Counts
    sc.addSparkListener(c)
    try {
      val t0 = System.nanoTime()
      val df = build()
      val t1 = System.nanoTime()
      ListenerBridge.drain(sc)
      val constructJobs = c.jobs
      execute(df)
      val t2 = System.nanoTime()
      ListenerBridge.drain(sc)
      def s(ns: Long): String = String.format(java.util.Locale.ROOT, "%.6f", Double.box(ns / 1e9))
      Seq("query" -> s"\"$name\"", "construct_s" -> s(t1 - t0), "execute_s" -> s(t2 - t1),
        "construct_jobs" -> constructJobs, "execute_jobs" -> (c.jobs - constructJobs),
        "stages" -> c.stages, "tasks" -> c.tasks, "cpu_s" -> s(c.cpuNs),
        "gc_s" -> s(c.gcMs * 1000000L), "shuffle_read_bytes" -> c.readB,
        "shuffle_write_bytes" -> c.writeB, "spill_bytes" -> c.spillB)
        .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    } finally sc.removeSparkListener(c)
  }
}
