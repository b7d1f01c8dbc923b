package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Q

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every query module's `Q` entries into the
  * `queries`/`oracleSql` maps the driver verifies and benchmarks.
  */
object SparkEntry {

  private def modules: Seq[Q] =
    graft.queries.Relational.all ++
    graft.queries.Analytics.all ++
    graft.queries.TemporalOps.all ++
    graft.queries.Layout.all ++
    graft.queries.TextOps.all ++
    graft.queries.Curation.all ++
    graft.queries.Dedup.all ++
    graft.queries.Similarity.all ++
    graft.queries.PipelineQueries.all ++
    graft.sources.WireEvents.all ++
    graft.multimodal.Multimodal.all

  /** Flagship query (SURVEY.md §7.1) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.windowCount.fn(spark, "/root/testdata/sf0.001")

  /** Every registered query with its oracle and its tags (Bench reads
    * the tags). */
  def all: Seq[Q] = {
    // a duplicated name would silently drop a query from both gates
    val dups = modules.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names registered: ${dups.mkString(", ")}")
    modules
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
