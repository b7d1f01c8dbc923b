package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

/** Deterministic synthetic embeddings corpus for past-fixture scale
  * points and deep-rung oracle audits (r13 verdict tasks 1–2).
  *
  * Component (vec_id, j) is md5-derived uniform in [-1, 1) — the same
  * 60-bit-hex-prefix / 2^59 − 1 recipe as the SRP hyperplanes
  * (Similarity.srpPlanes), then rounded once to FLOAT to match the
  * fixture schema (vec_id int64, embedding list<float>, label int32).
  * md5 + the power-of-two divide + one IEEE float rounding make the
  * corpus BIT-REPRODUCIBLE across JVMs, sessions, and engines: the
  * rung-13 oracle hash pinned in OracleSanitySpec is only meaningful
  * because regenerating this corpus yields the identical parquet
  * values the DuckDB audit (tools/audit_srp_rung.py) ran against.
  * md5-derived components are also full-rank — a sin(a·i + b·j)
  * lattice is rank 2 (ScalingCurveSpec's embed-LSH lesson), which
  * would make SRP bucket geometry arcs instead of uniform cells.
  *
  * Runnable as `Test/runMain graft.SyntheticEmbeddings <n> <dir>` so
  * the one-off DuckDB audit generates byte-identical corpora outside
  * the test suite.
  */
object SyntheticEmbeddings {

  val dim = 64

  /** The corpus as an unwritten frame — [[write]] persists it with the
    * fixture's 5-label split; tests needing a different label shape
    * (e.g. one hot label for the embed-LSH ladder) override `label`. */
  def frame(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${dim - 1}), j -> CAST(
          CAST(conv(substr(md5(concat(CAST(id AS STRING), '_', CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)
            / 576460752303423488.0D - 1.0D AS FLOAT))""").as("embedding"),
      (col("id") % 5).cast("int").as("label"))

  def write(spark: SparkSession, n: Long, dir: String): Unit =
    frame(spark, n)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** Canonical result digest for hash-pinned oracle assertions:
    * columns sorted by name, each row rendered `v1|v2|…` via
    * String.valueOf, rows sorted, md5 over the newline join — the
    * driver-compare discipline (sort columns, sort rows, exact
    * values) frozen into one hex constant. Computed and asserted in
    * Scala only; the cross-engine leg of a pinned audit is the
    * row-exact DuckDB compare in tools/audit_srp_rung.py. */
  def canonicalHash(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col).toSeq: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Recursive delete for the specs' throwaway corpus dirs — a suite
    * run must not deposit tens of MB of parquet under /tmp forever. */
  def rm(dir: String): Unit = {
    def go(f: java.io.File): Unit = {
      val kids = f.listFiles() // null for non-dirs AND vanished dirs
      if (kids != null) kids.foreach(go)
      f.delete(): Unit
    }
    go(new java.io.File(dir))
  }

  def main(args: Array[String]): Unit = {
    val (n, dir) = (args(0).toLong, args(1))
    val spark = Session.local()
    write(spark, n, dir)
    spark.stop()
  }
}
