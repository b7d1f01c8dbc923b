package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * the benchmark's spans share one time base with Spark's job and
  * progress timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, run: String,
                      start: Double, var end: Double)

/** In-memory span recorder. Spans opened with [[span]] nest; only the
  * benchmark's main thread opens them. [[open]] is the innermost open
  * span, where a job that starts outside a micro-batch is attributed. */
final class Tracer {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Int]()
  @volatile var open: Int = 0
  @volatile var run: String = ""

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(0)
    val s = Span(ids.incrementAndGet(), name, parent, run, Clock.ms(), Double.NaN)
    spans.add(s)
    stack.push(s.id)
    open = s.id
    try body
    finally {
      s.end = Clock.ms()
      stack.pop()
      open = stack.headOption.getOrElse(0)
    }
  }

  def toJson: ArrayNode = {
    val a = Json.arr()
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      a.add(Json.obj().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("run", s.run).put("start_ms", s.start).put("end_ms", s.end))
    }
    a
  }
}

/** Job and task metrics, measured from outside the program. A job run
  * by a micro-batch carries its query id and batch id; any other job
  * is attached to the span that was open when it started. */
final class JobListener(tracer: Tracer) extends SparkListener {
  final class Job(val id: Int, val start: Double, val span: Int, val run: String,
                  val queryId: String, val batchId: String) {
    @volatile var end = Double.NaN
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val qid = prop("sql.streaming.queryId")
    jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble, if (qid.isEmpty) tracer.open else 0,
      tracer.run, qid, prop("streaming.sql.batchId")))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = Option(e.taskMetrics)
    j.foreach { job => job.synchronized {
      job.tasks += 1
      m.foreach { t =>
        job.cpuNs += t.executorCpuTime
        job.gcMs += t.jvmGCTime
        job.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        job.spill += t.memoryBytesSpilled + t.diskBytesSpilled
      }
    } }
  }

  def toJson: ArrayNode = {
    val a = Json.arr()
    jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      a.add(Json.obj().put("id", j.id).put("run", j.run).put("start_ms", j.start)
        .put("end_ms", j.end).put("span", j.span).put("query_id", j.queryId)
        .put("batch_id", j.batchId).put("tasks", j.tasks).put("cpu_ms", j.cpuNs / 1e6)
        .put("gc_ms", j.gcMs).put("shuffle_write_b", j.shuffleWrite).put("spill_b", j.spill))
    }
    a
  }
}

/** Every progress event of every query, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()
}
