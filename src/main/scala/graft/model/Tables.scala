package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (repo:TESTDATA.md).
  *
  * All queries read through here so scan options stay in one place.
  * Parquet + explicit column selection downstream means Catalyst prunes
  * columns and pushes predicates into the scan — verified via
  * `.explain("formatted")` (PushedFilters / ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (rounds ≤8) — which Spark's
    * vectorized reader rejects, so we read raw nanos via the legacy
    * conf and truncate to microseconds — and plain TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false (round 9+), which Spark reads as
    * TIMESTAMP_NTZ. Normalize both to microsecond TimestampType: under
    * the engine-wide UTC session timezone the NTZ→TZ cast re-labels
    * the same wall-clock instant, matching DuckDB's naive TIMESTAMP.
    *
    * KNOWN SIDE EFFECT (nanos form only): `nanosAsLong` is a
    * session-wide SQL conf (no per-read option exists) and the scan is
    * lazy, so it cannot be set-and-restored here — it stays on for the
    * session. That is acceptable in this engine because events is the
    * only nanos table and every consumer loads it through this method;
    * a future nanos column elsewhere would silently arrive as raw
    * longs, which is why this note exists. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => // nanos-as-long generation
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df // already session-TZ TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")

  /** embeddings, with NULL-vector / NULL-label rows dropped at the
    * boundary (r17, the [[graft.multimodal.Multimodal.mediaTable]]
    * precedent): a null vector has no geometry — every kernel
    * (DotProduct, CellArgMax, the SRP sign bits) dereferences the
    * array, so a null row is an executor NPE/raise_error several
    * operators deep — and a null label is a non-key for every blocked
    * generator. The contract belongs HERE, once, rather than in ~25
    * similarity queries; each oracle mirrors through
    * `Similarity.ennSql`, and the IS-NOT-NULL predicates push into the
    * parquet scan. Width ladders deliberately keep the RAW
    * [[cachedRowCount]] (footer count, null rows included) — see the
    * ennSql scaladoc. */
  def embeddings(s: SparkSession, d: String): DataFrame =
    apply(s, d, "embeddings")
      .filter(org.apache.spark.sql.functions.col("embedding").isNotNull &&
              org.apache.spark.sql.functions.col("label").isNotNull)

  /** Memoized table row count, keyed by the table path's FILESYSTEM
    * SNAPSHOT (every file's path+length+mtime from one recursive
    * listing). The index-scaling formulas (srpBitsLadder,
    * ivfCellCount, semCells' k) each need the corpus cardinality at
    * plan-build; before this cache every ladder consumer re-ran a
    * count() action per invocation — at 100 TB that is an O(files)
    * parquet footer sweep PER QUERY for a number that never changes
    * within a snapshot (r12 verdict task 3 / ADVICE). The snapshot key
    * IS the staleness contract: a file rewritten, added, or dropped
    * under the path changes the key and forces a recount; an untouched
    * directory costs one listing (the same listing planning pays
    * anyway) and zero jobs. The cache holds one Long per (path,
    * snapshot) — O(directories), never O(rows). */
  // table path -> (snapshot digest, count): a NEW snapshot REPLACES
  // the old entry, so memory is O(tables), and the snapshot token is
  // a fixed-size MD5 over the listing — never the listing itself
  // (an O(files) key string per snapshot would grow without bound on
  // a long-running session over an appending table; r13 review
  // finding)
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Fixed-size ORDER-INDEPENDENT token of a table directory's file
    * listing (ADVICE r13: fs.listFiles iteration order is not a
    * filesystem contract, and a digest over the concatenated listing
    * churns on reorder, forcing spurious recomputes of an unchanged
    * table). XOR of per-entry MD5s is commutative (any listing order →
    * same token) at constant memory; entries are unique by path, so no
    * two can cancel. Shared by [[cachedRowCount]] and every other
    * snapshot-keyed memo (the exact-kNN ground-truth cache in
    * Similarity). */
  private[graft] def snapshotDigest(s: SparkSession, d: String, name: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Byte](16)
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val h = md.digest(s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
        .getBytes("UTF-8"))
      var i = 0
      while (i < 16) { acc(i) = (acc(i) ^ h(i)).toByte; i += 1 }
    }
    java.util.Base64.getEncoder.encodeToString(acc)
  }

  // per-key compute latch (r15 — the same race the r14 ADVICE named on
  // the exact-kNN memo): get-then-put lets concurrent cold callers each
  // run the count job. One monitor Object per distinct table path ever
  // counted (bytes each, O(tables × dirs)); the value map above stays
  // the replace-per-path store.
  private val rowCountLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def cachedRowCount(s: SparkSession, d: String, name: String): Long = {
    val key = new org.apache.hadoop.fs.Path(s"$d/$name.parquet").toString
    rowCountLocks.computeIfAbsent(key, _ => new Object).synchronized {
      // digest INSIDE the latch (r15 review): snapshotted outside, a
      // count taken under the lock could be cached under a digest that
      // no longer names the data it was computed from (writer lands
      // between digest and lock) — a poisoned entry served as a hit
      val digest = snapshotDigest(s, d, name)
      val cur = rowCountCache.get(key)
      if (cur != null && cur._1 == digest) cur._2
      else {
        val n = apply(s, d, name).count()
        rowCountCache.put(key, (digest, n))
        n
      }
    }
  }
}

/** One named engine query: a Spark plan plus (when SQL-expressible) the
  * DuckDB oracle the driver hash-compares against. Column names/aliases
  * MUST match between `fn`'s result and `oracle`'s projection — the
  * driver sorts columns by name before hashing.
  *
  * `tags` carry measurement metadata, not semantics; Bench reads two:
  *  - "warm-in": the query's first execution in a fresh JVM pays a
  *    one-off setup cost no steady-state run repeats (streaming
  *    state-store + sink machinery for the round-trip queries), so
  *    Bench discards one untimed rep before the timed ones.
  *  - "measurement-only": the query measures another registered query
  *    (a full-corpus exact reference against a served answer) rather
  *    than being an engine capability a user would run at scale, so
  *    Bench reports its seconds but leaves them out of `value`.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    tags: Set[String] = Set.empty)

/** Representation-proof money arithmetic.
  *
  * Engines disagree on DECIMAL *representation* (double→decimal rounding
  * mode, Arrow decimal emission) across versions even when values agree —
  * two rounds of oracle hash-compares proved every decimal output column
  * is a portability hazard while every integer output matched. So money
  * never leaves a query as DECIMAL: each row is converted to integer
  * cents with `floor(x * 100 + 0.5)` — three IEEE-754 double ops
  * (multiply, add, floor) that every engine executes bit-identically —
  * and aggregated as BIGINT, which is exact and association-order
  * independent (a distributed sum's partial-merge order is
  * nondeterministic). 4-decimal products (price * (1 - discount)) use
  * scale 10000.
  */
object Money {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{floor, lit}

  /** Per-row integer cents (LongType): floor(c * scale + 0.5). */
  def cents(c: Column, scale: Double = 100.0): Column =
    floor(c * lit(scale) + lit(0.5))

  /** The DuckDB-side spelling of [[cents]] — the same three double ops,
    * then an exact BIGINT cast. */
  def centsSql(expr: String, scale: String = "100.0"): String =
    s"CAST(floor(($expr) * $scale + 0.5) AS BIGINT)"
}
