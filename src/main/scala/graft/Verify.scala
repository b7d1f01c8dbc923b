package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** DuckDB's Arrow output uses naive timestamp[us]; Spark's
    * TimestampType reads back as timestamp[us, tz=UTC] — same instant,
    * different Arrow schema, which fails the driver's byte-level
    * compare. Session tz is UTC, so the ntz cast is value-identity;
    * applied here once instead of in every query so the engine-side
    * plans keep real (instant-semantics) timestamps. */
  /** TimestampType -> TimestampNTZType at ANY nesting depth (a window
    * struct's start/end would otherwise keep the tz'd Arrow type). */
  private def ntz(dt: DataType): DataType = dt match {
    case TimestampType => TimestampNTZType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = ntz(f.dataType))))
    case a: ArrayType  => a.copy(elementType = ntz(a.elementType))
    case m: MapType    => m.copy(keyType = ntz(m.keyType), valueType = ntz(m.valueType))
    case other         => other
  }

  private[graft] def tzNormalize(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val target = ntz(f.dataType)
      if (target == f.dataType) col(f.name)
      else col(f.name).cast(target).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [<query> ...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names: dump only those (fast iteration);
    // a mistyped name fails here rather than dumping nothing
    val only = args.drop(2).toSet
    Inspect.requireKnown(only.toSeq.sorted, SparkEntry.queries.keys)
    val attempted = if (only.isEmpty) SparkEntry.queries.keySet else only
    val spark = Session.local()
    // write µs timestamps (not INT96) so DuckDB reads the same type
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // stale-output guard: a query that fails BEFORE its overwrite-write
    // executes (e.g. an AnalysisException at plan time) must not leave
    // a previous run's parquet behind for the checker to green-light.
    // The wipe THROWS on failure (r17 ADVICE: a log-only wipe failure —
    // permissions, open handle — let the guard proceed and risk a stale
    // green, the exact outcome it exists to prevent); the throw lands
    // in this query's catch, so the query fails loudly (dir absent →
    // driver records err via names.json) and the battery continues.
    SparkEntry.queries.foreach { case (name, fn) =>
      if (attempted(name)) {
        // isolate queries, same rule as Bench: several queries persist
        // internal relations by design (dedupClusters, curationFunnel,
        // exactSubstring, heavyHitters) — a leftover block must not
        // occupy this JVM for the rest of the full battery
        spark.catalog.clearCache()
        try {
          graft.model.Fs.wipeOrThrow(s"$outDir/$name")
          tzNormalize(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          if (!graft.model.Fs.deleteRecursively(new java.io.File(s"$outDir/$name"))) {
            // both the write and the cleanup wipe failed: whatever
            // survives in the dir is NOT this run's result. A stderr
            // line alone is not machine-visible (r18 review) — the
            // dir-presence gate would see a complete-looking dir of
            // the PREVIOUS run's parquet and the compare could
            // green-light it. Poison the dir with an unreadable
            // .parquet member so any parquet read of it fails loudly.
            System.err.println(
              s"[verify] CRITICAL: $name cleanup wipe failed — output dir may hold a STALE previous result")
            try Files.writeString(
              Paths.get(s"$outDir/$name/stale_poison.parquet"),
              "NOT PARQUET — stale-output guard poison (see [verify] CRITICAL above)")
            catch { case p: Throwable => System.err.println(
              s"[verify] CRITICAL: $name poison write also failed: ${p.getMessage}") }
          }
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every query this run attempted, so the local gate can
    // FAIL on a query that crashed (its output dir is simply absent — a
    // glob over dirs alone would silently skip it)
    Files.writeString(Paths.get(s"$outDir/names.json"),
      attempted.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
    spark.stop()
  }
}
