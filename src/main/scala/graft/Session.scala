package graft

import org.apache.spark.sql.SparkSession

/** The one local session the engine's mains and tests build, so an
  * Inspect plan, a Verify result and a Bench time share one
  * configuration. AQE stays on: we run the plans we would ship. The
  * JVM heap is sized by build.sbt's javaOptions (SPARK_DRIVER_MEM), not
  * here: in local mode the JVM is already running. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  private[graft] def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The corpus Bench and Inspect read: `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
