package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level timing for q_stream_stream_join (r18 verdict task 3):
  * isolates the wire render+write, the streaming round trip and the
  * read-back aggregation so the optimization targets the stage that
  * actually costs. `runMain graft.SsjProfile [sfDir] [reps]`. */
object SsjProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[ssjprofile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val base = graft.model.Fs.scratchDir("ssjprof", sfDir)
    (1 to reps).foreach { rep =>
      println(s"[ssjprofile] === rep $rep ===")
      val wireDir = graft.model.Fs.wipeOrThrow(s"$base/wire")
      val outDir = graft.model.Fs.wipeOrThrow(s"$base/out")
      val ckptDir = graft.model.Fs.wipeOrThrow(s"$base/ckpt")
      val ev = graft.model.Tables.events(spark, sfDir)
      t("events scan (noop)") {
        ev.write.format("noop").mode("overwrite").save()
      }
      t("render (noop)") {
        graft.streaming.Simulator.productViewJson(ev)
          .write.format("noop").mode("overwrite").save()
      }
      t("render + text write") {
        graft.streaming.Simulator.productViewJson(ev)
          .write.mode("overwrite").text(wireDir)
      }
      // experiment: state partition count for the streaming query only
      val stateParts = sys.env.get("SSJ_STATE_PARTS").map(_.toInt)
        .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val parsed = graft.streaming.ProductViewPipeline.parse(
        spark.readStream.format("text")
          .option("maxFilesPerTrigger", Int.MaxValue.toString)
          .load(wireDir))
      val joined = graft.streaming.Stateful.viewToPurchaseJoin(
        parsed.filter(col("source") === "view"),
        parsed.filter(col("source") === "purchase"))
      val q = t("streaming join round trip") {
        val q = graft.streaming.ProductViewPipeline.startWithStateStores(spark, stateParts) {
          joined.writeStream
            .format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        q
      }
      q.recentProgress.foreach { p =>
        val dur = p.durationMs
        val st = p.stateOperators.map(s =>
          s"rows=${s.numRowsTotal} updated=${s.numRowsUpdated} mem=${s.memoryUsedBytes} commitMs=${s.customMetrics.getOrDefault("stateOnCurrentVersionSizeBytes", -1L)}").mkString("; ")
        println(s"[ssjprofile]   batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=$dur state[$st]")
      }
      t("read-back agg (noop)") {
        spark.read.parquet(outDir)
          .groupBy(col("v_user").as("userid"))
          .agg(count(lit(1)).as("n_pairs"),
               sum(unix_millis(col("purchase_ts")) - unix_millis(col("view_ts")))
                 .as("gap_ms_total"),
               countDistinct(col("productid")).as("n_products"))
          .write.format("noop").mode("overwrite").save()
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
