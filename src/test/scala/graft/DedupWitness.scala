package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit}

/** Retired spellings that specs pin the engine's current ones against. */
object DedupWitness {

  /** The df-capped inverted index over exploded rows
    * (doc_id, n_sh, hk) as a WINDOW: drops shingles whose posting list
    * exceeds `maxDf`. Retired from query paths: `Window.partitionBy(hk)`
    * has no map-side combine and no AQE skew carve, so at a 100 TB
    * boilerplate shape a df≈10⁹ shingle's every exploded row flows
    * through ONE task's window sort buffer before the cap can drop it.
    * Every query path goes through `Dedup.cappedIndexAdaptive`; this
    * spelling is the equivalence witness it is pinned against on a
    * binding corpus. */
  def cappedIndex(e: DataFrame, maxDf: Int): DataFrame =
    e.withColumn("df", count(lit(1)).over(Window.partitionBy(col("hk"))))
      .filter(col("df") <= maxDf).drop("df")
}
