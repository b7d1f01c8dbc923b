package graft

import org.apache.spark.sql.SparkSession

/** External-catalog persistence check (reference: dag_file.py:68-81 —
  * `enableHiveSupport()` so tables registered by the batch job survive
  * the process and are queryable by the next session/tool).
  *
  * The in-session `USING PARQUET` registration (ProductViewPipeline)
  * already covers query semantics; what it cannot show is the
  * METASTORE round-trip: a table written by one process being visible,
  * with schema, to a LATER process that only shares the metastore.
  * This main proves exactly that with Spark's Hive support over an
  * embedded Derby metastore (all jars ship with Spark — no service
  * needed):
  *
  *   sbt "runMain graft.CatalogRoundTrip write /tmp/graft-cat sf0.001dir"
  *   sbt "runMain graft.CatalogRoundTrip read  /tmp/graft-cat"   # NEW JVM
  *
  * `write` saves `documents` as a managed table and exits; `read`
  * starts a fresh JVM/SparkContext against the same warehouse +
  * metastore and must see the table by name with matching row count
  * (stashed in a sidecar file by `write` — the point is that the READ
  * side gets everything else from the catalog alone). Exit code 0 and
  * one JSON line on success. `both` runs the two phases in one JVM
  * (session stop + rebuild) for convenience; the two-process flow is
  * the real claim.
  *
  * At cluster scale the embedded Derby becomes a shared metastore
  * service (same API — `enableHiveSupport` + `hive.metastore.uris`);
  * nothing in the table-registration code changes.
  */
object CatalogRoundTrip {

  private def session(base: String): SparkSession =
    SparkSession.builder()
      .master(s"local[${Session.defaultCpus}]")
      .appName("graft-catalog-roundtrip")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()

  private val table = "graft_docs_catalog"

  private def write(base: String, sfDir: String): Long = {
    val s = session(base)
    try {
      val docs = graft.model.Tables.documents(s, sfDir)
      docs.write.mode("overwrite").saveAsTable(table)
      val n = s.sql(s"SELECT count(*) AS n FROM $table").head().getLong(0)
      // sidecar for the reader's cross-process assertion; the reader
      // resolves the TABLE purely through the metastore
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(s"$base/expected_rows"), n.toString)
      println(s"""{"catalog_write":"ok","rows":$n}""")
      n
    } finally s.stop()
  }

  private def read(base: String): Unit = {
    val s = session(base)
    try {
      require(s.catalog.tableExists(table),
        s"catalog round-trip failed: table $table not found in metastore at $base")
      val n = s.sql(s"SELECT count(*) AS n FROM $table").head().getLong(0)
      val expected =
        java.nio.file.Files.readString(java.nio.file.Path.of(s"$base/expected_rows")).trim.toLong
      require(n == expected && n > 0,
        s"catalog round-trip mismatch: read $n rows, writer saw $expected")
      val cols = s.table(table).columns.sorted.mkString(",")
      println(s"""{"catalog_read":"ok","rows":$n,"columns":"$cols"}""")
    } finally s.stop()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CatalogRoundTrip <write|read|both> <baseDir> [sfDir]")
    val base = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    args(0) match {
      case "write" => write(base, sfDir)
      case "read"  => read(base)
      case "both"  =>
        write(base, sfDir)
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        read(base)
      case other => sys.error(s"unknown mode '$other'")
    }
  }
}
