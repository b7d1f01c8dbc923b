package graft

import org.apache.spark.sql.functions._
import graft.queries.Dedup

/** The >256-copy NEAR-duplicate rescue (r16 verdict task 1): a mutated
  * boilerplate family in more copies than [[Dedup.jaccardMaxDf]] has
  * every discriminative shingle df-capped out of the inverted index —
  * zero jaccard pairs — and, being near- rather than byte-identical,
  * the r16 digest stars are all singletons. `Dedup.cappedBandStars`
  * routes capped-shingle owners through df-independent MinHash band
  * signatures with bucket-min STAR edges + exact verification; this
  * spec pins, on a corpus where the cap actually BINDS:
  *   - the blind spot is real (jaccard path emits zero family pairs),
  *   - the rescue clusters the whole family (clusters + apply),
  *   - candidate volume stays O(members) (star bound: <= 8/member),
  *   - the base corpus' cluster structure is untouched,
  *   - the rescue is a structural NO-OP on the driver fixtures (which
  *     is why CORRECTNESS parity there is unchanged by construction —
  *     the oracle-side battery where the cap binds is the
  *     tools/make_boilerplate_fixture.py corpus, run per-round).
  *
  * Fixture: sf0.001 documents + TWO disjoint 300-copy families, each
  * one 120-token boilerplate text with copy i mutating position
  * (i mod 120) to a copy-unique token. Pairwise in-family jaccard
  * ~0.9 (>= the 0.5 threshold); every shared shingle has df ~292 >
  * 256 (capped); every mutated shingle has df 1 (kept, but unshared)
  * — so the capped jaccard path sees each family as 300 pairwise-
  * disjoint singletons. The SECOND family (disjoint token namespace,
  * lang 'yy') pins SEPARATION: a band-bucket collision between
  * members of different families shares zero shingles, so exact
  * verification must reject it and the two families must emerge as
  * two clusters — star edges without the verify step would quietly
  * merge them. Family A mirrors tools/make_boilerplate_fixture.py;
  * family B is spec-only. Deterministic: md5-derived hashing, no RNG
  * anywhere.
  */
class BoilerplateRescueSpec extends SparkSpec {

  import BoilerplateRescueSpec._

  private lazy val dir = fixtureDir(spark)

  private def corpus = {
    val s = Dedup.withShingles(graft.model.Tables.documents(spark, dir))
      .select(col("doc_id"), col("shs"), col("n_sh"))
    val e = s.select(col("doc_id"), col("n_sh"), explode(col("shs")).as("hk"))
    (s, e)
  }

  test("the blind spot is real: the capped jaccard path emits ZERO family pairs") {
    val pairs = Dedup.ngramJaccard.fn(spark, dir)
      .filter(col("doc_a") >= famStart(spark) || col("doc_b") >= famStart(spark))
    assert(pairs.count() === 0L,
      "family pairs leaked through the df-capped index — fixture df too low?")
  }

  test("every family member owns a capped shingle; no base doc does") {
    val (s, e) = corpus
    val hot = e.groupBy(col("hk")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.jaccardMaxDf).select(col("hk"))
    val owners = e.join(hot, Seq("hk"), "left_semi")
      .select(col("doc_id")).distinct()
    // A + B + C members, plus the lone doc (whose ONE shared shingle is
    // capped by family A — single-doc hot owner, r17 verdict task 6)
    assert(owners.filter(col("doc_id") >= famStart(spark)).count()
      === 2L * famSize + cSize + 1L)
    assert(owners.filter(col("doc_id") < famStart(spark)).count() === 0L)
  }

  test("rescue edges cover the families with star-bounded volume; NO cross-family edge survives verification") {
    val (s, e) = corpus
    val rescue = Dedup.cappedBandStars(s, e,
      Dedup.hotShingles(e, Dedup.jaccardMaxDf)).collect()
    // star bound: each member contributes at most one doc_b edge per band
    assert(rescue.length <= 8 * (2 * famSize + cSize + 1),
      s"rescue emitted ${rescue.length} edges — exceeds the 8/member star bound")
    val start = famStart(spark)
    val touched = rescue.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(touched.forall(_ >= start), "rescue paired a non-owner base doc")
    assert(rescue.nonEmpty, "rescue emitted nothing on a binding corpus")
    // separation: families share ZERO shingles, so any cross-family
    // band-bucket collision must die at the exact-verify step — a
    // surviving cross edge means the verify was dropped or weakened.
    // fam() buckets A / B / C / lone; any mixed edge is a violation
    // (this also covers B-vs-C, which a single < bStart split missed).
    def fam(id: Long): Int =
      if (id < start + famSize) 0
      else if (id < start + 2 * famSize) 1
      else if (id < start + 2 * famSize + cSize) 2
      else 3
    val cross = rescue.filter(r => fam(r.getLong(0)) != fam(r.getLong(1)))
    assert(cross.isEmpty,
      s"verified CROSS-family edges survived: ${cross.take(3).mkString(",")}")
  }

  test("fully-capped family C: every shingle capped, band stars still connect BOTH byte-identical variants into one unit") {
    val (s, e) = corpus
    val cStart = famStart(spark) + 2 * famSize
    // precondition (the shape the verdict called out): the ENTIRE
    // shingle set of every C doc is df-capped — variant-only shingles
    // at df ~300 included, so na/nb are both full arrays at verify time
    val hot = e.groupBy(col("hk")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.jaccardMaxDf).select(col("hk"))
    val uncapped = e
      .filter(col("doc_id") >= cStart && col("doc_id") < cStart + cSize)
      .join(hot, Seq("hk"), "left_anti")
    assert(uncapped.count() === 0L,
      "family C owns an uncapped shingle — the fully-capped precondition broke")
    // cross-variant connection: variant reps are byte-DISTINCT (digest
    // stars cannot link them); only a verified band edge can — the
    // whole family must reach one canon
    val canons = Dedup.dedupClusters.fn(spark, dir)
      .filter(col("doc_id") >= cStart && col("doc_id") < cStart + cSize)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(canons.length === cSize,
      s"expected $cSize family-C cluster rows, got ${canons.length}")
    assert(canons.map(_._2).toSet === Set(cStart),
      s"family C split across canons ${canons.map(_._2).toSet} — " +
        "the band stars failed to bridge the byte-identical variants")
  }

  test("single-doc hot owner: enters the owner set, every collision dies at verify, never enters the cluster table") {
    val (s, e) = corpus
    val loneId = famStart(spark) + 2 * famSize + cSize
    val rescue = Dedup.cappedBandStars(s, e,
      Dedup.hotShingles(e, Dedup.jaccardMaxDf))
    assert(rescue.filter(col("doc_a") === loneId || col("doc_b") === loneId)
      .count() === 0L,
      "a verified edge touched the lone owner (its jaccard with " +
        "everything is ~1/235 — the j >= 0.5 verify must kill it)")
    // minLabel emits only docs that appear in an edge: the lone owner
    // must be ABSENT, i.e. it survives dedup as its own implicit
    // singleton rather than being folded into family A
    assert(Dedup.dedupClusters.fn(spark, dir)
      .filter(col("doc_id") === loneId).count() === 0L,
      "lone owner entered the cluster table — it acquired an edge")
  }

  test("q_source_overlap stays on the RAW jaccard pair set: the rescue adds no 'boilerplate' source rows") {
    // pinned contract (Dedup scaladoc): sourceOverlap profiles the
    // near-dup GENERATOR — the capped families emit zero jaccard pairs,
    // so no (boilerplate, *) source pair may appear even though the
    // graph family sees hundreds of rescue edges on this corpus
    val rows = Dedup.sourceOverlap.fn(spark, dir)
      .filter(col("src_a") === "boilerplate" || col("src_b") === "boilerplate")
    assert(rows.count() === 0L,
      "sourceOverlap saw rescue/digest edges — it must stay on raw jaccard pairs")
  }

  test("each 300-copy family clusters to its OWN canon id (q_dedup_clusters) — connected AND separated") {
    val start = famStart(spark); val bStart = start + famSize
    val rows = Dedup.dedupClusters.fn(spark, dir)
      .filter(col("doc_id") >= start && col("doc_id") < start + 2 * famSize)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 2 * famSize,
      s"expected ${2 * famSize} family rows, got ${rows.length}")
    val aCanons = rows.filter(_._1 < bStart).map(_._2).toSet
    val bCanons = rows.filter(_._1 >= bStart).map(_._2).toSet
    assert(aCanons === Set(start),
      s"family A split/merged: canon ids $aCanons")
    assert(bCanons === Set(bStart),
      s"family B split/merged: canon ids $bCanons — a cross-family " +
        "band collision must not survive exact verification")
  }

  test("q_dedup_apply keeps exactly ONE doc per family (and the lone owner survives)") {
    Seq(famLang, famBLang, famCLang, loneLang).foreach { lang =>
      val kept = Dedup.dedupApply.fn(spark, dir)
        .filter(col("lang") === lang).collect()
      assert(kept.length === 1 && kept.head.getLong(1) === 1L,
        s"$lang group kept ${kept.map(_.getLong(1)).mkString(",")} docs, want 1")
    }
  }

  test("the funnel's dedup stage BITES on the family (non-vacuous: gates pass, drop engages)") {
    // r17 review: the funnel hand-composed its edge union and missed
    // the rescue, and the stopword-free first fixture masked it — the
    // family failed p_stop, so q_keep=false hid the engine/oracle dup
    // divergence. The family now passes the Gopher gates; the funnel
    // must keep ALL its rows at n_quality and collapse them to the one
    // canon doc at n_dedup (the canon then falls to decontamination:
    // the eval slice doc_id % 97 == 0 contains family members, whose
    // shared shingles contaminate the canon — n_clean 0).
    val row = graft.queries.Curation.curationFunnel.fn(spark, dir)
      .filter(col("lang") === famLang).head()
    val (nRaw, nQuality, nDedup, nClean) =
      (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    assert(nRaw > 0 && nQuality === nRaw,
      s"family must PASS the quality gates (raw $nRaw, quality $nQuality) — " +
        "a gate-failing family makes the dedup stage vacuous again")
    assert(nDedup === 1L,
      s"dedup stage must keep exactly the canon doc, kept $nDedup of $nQuality")
    assert(nClean <= 1L)
  }

  test("base-corpus cluster structure is untouched by the rescue union") {
    val start = famStart(spark)
    val withFam = Dedup.dedupClusters.fn(spark, dir)
      .filter(col("doc_id") < start).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Dedup.dedupClusters.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withFam === plain, "rescue perturbed base-corpus clusters")
  }

  test("the rescue is a structural no-op on the plain driver fixture") {
    val s = Dedup.withShingles(graft.model.Tables.documents(spark, sf))
      .select(col("doc_id"), col("shs"), col("n_sh"))
    val e = s.select(col("doc_id"), col("n_sh"), explode(col("shs")).as("hk"))
    assert(Dedup.cappedBandStars(s, e,
      Dedup.hotShingles(e, Dedup.jaccardMaxDf)).count() === 0L,
      "driver fixture grew a >256-df shingle — parity no-op claim now false; " +
        "re-run the boilerplate battery and update SCALE.md")
  }

  test("the anti-join cap spelling equals the window spelling WHERE THE CAP BINDS (r18 optimization pin)") {
    // r18: dupGraphEdgesFrom caps the inverted index by anti-joining
    // the hotShingles list (df partial-aggregated ONCE, shared with
    // the rescue's owner probe, no per-side window sort); r19 moved
    // the standalone callers onto the same shape via
    // cappedIndexAdaptive. The keep sets are equal by construction —
    // df <= cap ⇔ hk ∉ hot — but the equivalence is only NON-VACUOUS
    // on a corpus where some shingle exceeds the cap, which no driver
    // fixture provides; pin it here, on this one, so the spellings
    // can never silently drift. The retired window lives on in test
    // sources (DedupWitness) exactly as this test's equivalence witness.
    val (_, e) = corpus
    val windowKept = DedupWitness.cappedIndex(e, Dedup.jaccardMaxDf)
    val antiKept = Dedup.cappedIndexAdaptive(e, Dedup.jaccardMaxDf)
    assert(antiKept.count() === windowKept.count())
    assert(antiKept.exceptAll(windowKept).count() === 0L &&
           windowKept.exceptAll(antiKept).count() === 0L,
      "anti-join df cap diverged from the window spelling on a binding corpus")
  }

  test("cappedIndexAdaptive short-circuits to the bare index when nothing is hot (r19)") {
    // the driver-fixture regime: hot empty ⇒ the helper must return
    // `e` ITSELF (same plan object — no anti-join, no window), so the
    // four standalone queries pay only the df probe at fixture scale
    val sfE = {
      val s = Dedup.withShingles(graft.model.Tables.documents(spark, sf))
        .select(col("doc_id"), col("shs"), col("n_sh"))
      s.select(col("doc_id"), col("n_sh"), explode(col("shs")).as("hk"))
    }
    val kept = Dedup.cappedIndexAdaptive(sfE, Dedup.jaccardMaxDf)
    assert(kept eq sfE,
      "short-circuit did not engage on the plain fixture (hot should be empty)")
    // and on the BINDING corpus it must NOT short-circuit
    val (_, e) = corpus
    val keptBinding = Dedup.cappedIndexAdaptive(e, Dedup.jaccardMaxDf)
    assert(!(keptBinding eq e), "binding corpus short-circuited despite hot shingles")
  }
}

object BoilerplateRescueSpec {
  val famSize = 300
  val famLang = "xx" // its own lang group so dedupApply's keep-count is direct
  val famBLang = "yy" // second family: separation pin (disjoint tokens)
  // Family C (r17 verdict task 6 — "entire shingle set capped"): 600
  // copies, only TWO byte-distinct variants (one token differs), so
  // EVERY shingle a C doc owns is capped — shared shingles df ~600,
  // variant-only shingles df ~300, both > jaccardMaxDf. The digest
  // stars connect within each 300-identical variant; ONLY the band
  // stars can connect the variants (their pairwise jaccard ~0.98), and
  // the exact-verify join fans two FULLY-capped shingle arrays — the
  // na/nb-both-large shape the r17 verdict called out.
  val famCLang = "cc"
  val cSize = 600
  // Lone hot owner (same verdict task): ONE doc sharing exactly one
  // 3-token run (= one capped shingle) with family A and nothing else —
  // it must enter the owner set, and every band collision it might
  // land in must die at exact verification (j ~ 1/235 << 0.5).
  val loneLang = "zz"
  private val nTokens = 120

  /** Copy i of a family: one 120-token boilerplate with position
    * (i mod 120) replaced by a copy-unique token — byte-distinct
    * (digest stars stay singleton), pairwise jaccard ~0.9, every
    * common shingle df ~292. Stopwords at fixed non-adjacent positions
    * (r17 review: the first fixture had NONE, so every family row
    * failed the Gopher p_stop gate and q_curation_funnel's dedup stage
    * passed VACUOUSLY — real boilerplate passes quality gates, that is
    * what makes it dangerous). `stem`="boiler" mirrors
    * tools/make_boilerplate_fixture.py (the oracle-battery corpus);
    * family B ("plate") is spec-only, for the separation pin. */
  private def famText(stem: String, i: Int): String =
    (0 until nTokens)
      .map { j =>
        if (j == i % nTokens) s"mut$stem$i"
        else if (j % 40 == 7) "the"
        else if (j % 40 == 27) "of"
        else s"$stem$j"
      }
      .mkString(" ")

  /** Family C copy: variant `v` (= copy index mod 2) — byte-identical
    * within a variant, one token apart across variants. Stopword
    * positions are non-adjacent, so no 3-gram is all-stopwords and no
    * shingle is shared cross-family. */
  private def cText(v: Int): String =
    (0 until nTokens)
      .map { j =>
        if (j == 0) s"varc$v"
        else if (j % 40 == 7) "the"
        else if (j % 40 == 27) "of"
        else s"crate$j"
      }
      .mkString(" ")

  /** Lone hot owner: unique tokens except ONE 3-token family-A run at
    * positions 50-52 — exactly one shared (capped) shingle; the grams
    * overlapping the run's edges mix lone tokens, so they stay df 1. */
  private def loneText: String =
    (0 until nTokens)
      .map { j =>
        if (j >= 50 && j <= 52) s"boiler$j"
        else s"lone$j"
      }
      .mkString(" ")

  @volatile private var cached: (String, Long) = _

  private def build(spark: org.apache.spark.sql.SparkSession): (String, Long) =
    synchronized {
      if (cached == null) {
        val out = java.nio.file.Files
          .createTempDirectory("graft-boilersf").toString
        // a suite run must not deposit parquet under /tmp forever (the
        // SyntheticEmbeddings.rm discipline; the fixture is cached for
        // the JVM's lifetime, so the delete belongs at exit)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          graft.model.Fs.deleteRecursively(new java.io.File(out))))
        val base = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
        val start = base.agg(max(col("doc_id"))).head().getLong(0) + 1
        import spark.implicits._
        val fams =
          (0 until famSize).map { i =>
            val t = famText("boiler", i)
            (start + i, t, famLang, "boilerplate", t.length.toLong)
          } ++ (0 until famSize).map { i =>
            val t = famText("plate", i)
            (start + famSize + i, t, famBLang, "boilerplate", t.length.toLong)
          } ++ (0 until cSize).map { i =>
            val t = cText(i % 2)
            (start + 2 * famSize + i, t, famCLang, "boilerplate", t.length.toLong)
          } ++ Seq {
            val t = loneText
            (start + 2 * famSize + cSize, t, loneLang, "lone", t.length.toLong)
          }
        val fam = fams
          .toDF("doc_id", "text", "lang", "source", "n_chars")
        base.select(col("doc_id"), col("text"), col("lang"),
                    col("source"), col("n_chars"))
          .union(fam)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$out/documents.parquet")
        cached = (out, start)
      }
      cached
    }

  def fixtureDir(spark: org.apache.spark.sql.SparkSession): String =
    build(spark)._1
  def famStart(spark: org.apache.spark.sql.SparkSession): Long =
    build(spark)._2
}
