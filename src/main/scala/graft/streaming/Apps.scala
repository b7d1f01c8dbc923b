package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Runnable parity entry points for the reference's two spark-submit
  * jobs (reference submit.txt:1-2). Both read raw wire-JSON records —
  * one per line, the bytes a Kafka `value` would carry — from a
  * file-drop directory by default, or from a Kafka broker when
  * `--kafka host:port` is given (no broker exists in the sandbox, so
  * the file source is what tests exercise; the Kafka path is the same
  * lineage from [[ProductViewPipeline.kafkaSource]]).
  *
  * v1 (reference nifi_spark_kafka_product_view_platform.py): console
  * sink, update mode.
  * v2 (reference _v2.py:77-91): concurrent sorted-console foreachBatch
  * + parquet append from ONE lineage — W8 multi-query fan-out — then
  * `awaitAnyTermination` so a failure in EITHER query surfaces
  * (the reference awaits only the console query).
  */
object Apps {

  /** `SPARK_SHUFFLE_PARTITIONS` (default 32) is only a cap on each
    * query's state stores: the pipeline's builders start every query on
    * at most `defaultParallelism` of them. */
  private def session(name: String): SparkSession =
    SparkSession.builder()
      .appName(name)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[3]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  private def source(spark: SparkSession, args: Array[String]) =
    args.toSeq match {
      case Seq("--kafka", bootstrap, rest @ _*) =>
        (ProductViewPipeline.kafkaSource(spark, bootstrap), rest)
      case Seq("--kafka") => // missing bootstrap must not become a dir
        sys.error("usage: (<inputDir> | --kafka <bootstrap>) [args...]")
      case Seq(dir, rest @ _*) =>
        (ProductViewPipeline.fileSource(spark, dir), rest)
      case _ =>
        sys.error("usage: (<inputDir> | --kafka <bootstrap>) [args...]")
    }

  /** v1: windowed counts -> console, update mode.
    * args: (<inputDir> | --kafka <bootstrap>) [checkpointDir] [trigger] */
  object ProductViewV1 {
    def main(args: Array[String]): Unit = {
      val spark = session("product-view-v1")
      val (raw, rest) = source(spark, args)
      val counts = ProductViewPipeline.windowedCounts(ProductViewPipeline.parse(raw))
      val q = ProductViewPipeline.consoleQuery(
        counts,
        rest.headOption.getOrElse("chk/v1-console"),
        Trigger.ProcessingTime(rest.lift(1).getOrElse("5 minutes")))
      q.awaitTermination()
    }
  }

  /** v2: ONE windowed-count lineage -> sorted-console foreachBatch AND
    * parquet append, concurrently, distinct checkpoints.
    * args: (<inputDir> | --kafka <bootstrap>) <outputDir> [checkpointBase] [trigger] */
  object ProductViewV2 {
    def main(args: Array[String]): Unit = {
      val spark = session("product-view-v2")
      val (raw, rest) = source(spark, args)
      val outputDir = rest.headOption.getOrElse(sys.error("v2 needs <outputDir>"))
      val counts = ProductViewPipeline.windowedCounts(ProductViewPipeline.parse(raw))
      ProductViewPipeline.dualSinkQueries(
        counts, outputDir,
        rest.lift(1).getOrElse("chk/v2"),
        Trigger.ProcessingTime(rest.lift(2).getOrElse("5 minutes")))()
      spark.streams.awaitAnyTermination()
    }
  }
}
