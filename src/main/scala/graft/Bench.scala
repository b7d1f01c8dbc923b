package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  *
  * Execution is forced through the `noop` sink so the full plan runs —
  * `.count()` would let Catalyst prune away projected columns and
  * under-report (e.g. a similarity query would skip the cosine math).
  * Runs on [[Session.local]].
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val spark = Session.local()
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // isolate queries: a leftover cached block or shuffle state from a
      // previous query must not tax this one's GC (round-2 bench showed a
      // contiguous slowdown cluster downstream of a cache-heavy query);
      // the GC hint runs in the UNtimed region so a predecessor's garbage
      // is collected before the clock starts, not during the query
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Untimed warmup: absorb JIT/codegen/classloading so the first timed
    // query isn't charged for JVM startup (it was +4s otherwise). Falls
    // back to any query rather than silently skipping if the preferred
    // one is renamed (an unwarmed first query reads as a phantom
    // regression).
    SparkEntry.queries.get("q_pricing_summary")
      .orElse {
        System.err.println("[bench] warmup query missing; using first by name")
        // deterministic fallback — an unordered Map's head is arbitrary
        SparkEntry.queries.toSeq.sortBy(_._1).headOption.map(_._2)
      }
      .foreach(fn => run("warmup", fn))
    // Median-of-N: single-shot timings at local[32] swing 2-5x with GC /
    // scheduler noise (round 7 read a q_pack_chunks "2x regression" off
    // one shot; round 8's reruns measured 0.5s). The median is robust to
    // one bad rep in a way neither a single shot nor the mean is; per-rep
    // raw times go to the detail file so spread stays inspectable.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // comma-separated allowlist for fast single-query iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // box load (1/5/15-min averages): recorded at run START and END so
    // a builder/driver divergence (r9's 146.6 vs 200.0 s took the judge
    // an hour to attribute to box contention) is answerable from the
    // artifact alone
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Throwable => "null" }
    val loadStart = loadavg()
    // Calibration canary (r16 verdict task 2): a fixed, pure-JVM,
    // data-independent CPU-bound workload (~1-2 s quiet) timed BEFORE
    // and AFTER the battery. The r16 box degraded ~+18% TREE-INVARIANT
    // mid-round (the unchanged r15 tree re-read 137.1 s vs its own
    // committed 116.3 at loadavg ~1) and attributing that required
    // hand-re-running the old tree in a worktree; the canary makes
    // box-speed drift readable from the artifact alone. Single-threaded
    // xorshift mix: no allocation, no data, no JIT profile dependence
    // after the first seconds — its seconds measure the BOX (cpu
    // frequency/steal/thermal), never the engine tree.
    def calibLoop(iters: Long): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x += i; i += 1L
      }
      // data-dependent sink so the loop cannot be dead-code-eliminated
      if (x == 42L) System.err.println("[bench] calibration sentinel")
      (System.nanoTime() - t0) / 1e9
    }
    def calibrate(): Double = calibLoop(600000000L)
    // Short probe for PER-SEGMENT normalization (r17 verdict task 1):
    // the committed r17 driver battery degraded MONOTONICALLY
    // (calib 1.320 -> 1.738), so ONE averaged factor mis-normalizes
    // every query — early queries ran on a faster box than late ones.
    // A quarter-length probe every segSize queries brackets each
    // segment with its own box-speed reading at ~0.37 s/probe
    // (~5 s across a 190-query battery). The loop is pure
    // register-resident CPU work, so its seconds are LINEAR in the
    // iteration count and the long ref rescales by exactly 1/4.
    val shortScale = 0.25
    def calibrateShort(): Double = calibLoop((600000000L * shortScale).toLong)
    // Reference seconds for the SAME loop, measured on the target box
    // while quiet (r17, loadavg 1.6 falling, five reps 1.468-1.476 —
    // tight). calib factor = measured / ref; a factor >> 1 says the
    // BOX is slow this run, so a higher headline is attributable
    // without a worktree experiment. The constant normalizes
    // ROUND-OVER-ROUND drift on ONE box, never cross-machine — so it
    // is env-overridable (r17 ADVICE): SPARK_GRAFT_CALIB_REF=<secs>
    // supplies another box's measured ref; any non-numeric value
    // ("none") disables normalization, and the artifact then carries
    // the raw before/after probe seconds ONLY — no factor or
    // value_normalized that would read authoritative while computed
    // against the wrong box's ref. Unset keeps the builtin ref for
    // the shared driver/builder box this round runs on.
    val calibRef: Option[Double] = sys.env.get("SPARK_GRAFT_CALIB_REF") match {
      case Some(v) => v.toDoubleOption.filter(_ > 0)
      case None    => Some(1.47)
    }
    // discarded JIT-warm leg (r17 review): the first-ever execution of
    // the loop includes OSR/C2 compilation that the warm five-rep
    // reference excludes — without this, calibBefore reads ~2-5% hot
    // on a perfectly quiet box and value_normalized under-reports by
    // the same systematic margin every round
    calibrate()
    val calibBefore = calibrate()
    // the 1-min component alone, shared by per-query and per-rerun
    // sampling (one spelling — a drift between the two would
    // desynchronize load_at_query and rerun_load in the artifact)
    def load1(): String =
      loadavg().stripPrefix("[").split(",").headOption.getOrElse("null")
    // 1-min loadavg sampled as each query STARTS: r12's committed bench
    // regressed +8% as a uniform smear across unchanged queries while
    // the box loadavg climbed 3.3 -> 6.8, and attributing that took a
    // NOTES forensics section — with a per-query load column the
    // contended window is visible in the artifact itself (verdict r12
    // task 7: the bench must be attributable from one read)
    val perQueryLoad = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // warm-in-tagged queries (r17 verdict task 4): ONE discarded
    // untimed rep before the timed ones. q_stream_stream_join's
    // in-battery reps fell monotonically 13.5 -> 11.1 -> 8.5 — the
    // first in-JVM streaming round trip pays state-store/sink/
    // checkpoint classloading+JIT that no steady-state execution
    // repeats, so the median of 3 overstated the engine by ~1.7x vs
    // its quiet value. The discarded rep's seconds still land in the
    // detail file (warm_reps) so the warm-up cost stays inspectable.
    val warmTagged = SparkEntry.queryTags.collect {
      case (n, t) if t("warm-in") => n
    }.toSet
    val warmReps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-segment calibration probes (r17 verdict task 1): probe before
    // every segSize-th query and once after the last; segment i is
    // bracketed by probes i and i+1
    val segSize = 15
    val segProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val querySeg = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val raw = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        if (querySeg.size % segSize == 0) segProbes += calibrateShort()
        querySeg(name) = segProbes.size - 1
        perQueryLoad(name) = load1()
        if (warmTagged(name)) warmReps(name) = run(name, fn)
        // keep EXECUTION order (median() sorts its own copy): the detail
        // file must show warmup-vs-steady structure, which sorted raws
        // hid in round 8's drift investigation
        name -> (0 until reps).map(_ => run(name, fn)).filter(_ >= 0)
      }
    // close the final segment (also the battery-end box reading)
    segProbes += calibrateShort()
    val results = raw.map { case (name, runs) =>
      name -> (if (runs.isEmpty) -1.0 else median(runs))
    }
    // Measurement-only companions: queries whose plan IS a measurement
    // of another registered query (a full-corpus exact reference
    // against a served answer), not an engine capability a user would
    // run at scale. They execute and their per-query seconds appear in
    // "queries" and "measurement_only" below — only the headline total
    // excludes them, so serving is priced honestly without hiding the
    // measurement's cost (both totals are printed).
    val measurementOnly = Set("q_ann_ivfpq_recall")
    // Locale.ROOT: a host locale with comma decimal separators would
    // render 1.234 as "1,234" and break the driver's JSON parse
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = results
      .collect { case (k, v) if v >= 0 && !measurementOnly(k) => v }.sum
    val measuredTotal = results.map(_._2).filter(_ >= 0).sum
    val moMark = {
      val present = results.collect {
        case (k, v) if measurementOnly(k) && v >= 0 => "\"" + k + "\":" + f3(v)
      }
      if (present.isEmpty) ""
      // metric_note pins the definition change IN the artifact: the
      // headline "value" excludes measurement-only queries since r10,
      // so any cross-round comparator must use value_with_measurement
      // across that boundary or the split reads as a phantom speedup
      else s""","measurement_only":{${present.mkString(",")}},"value_with_measurement":${f3(measuredTotal)},"metric_note":"value excludes measurement_only since r10; compare value_with_measurement across r9->r10""""
    }
    // mark partial runs: a SPARK_GRAFT_BENCH_ONLY subset total must not
    // be mistaken for a full-suite benchmark
    val onlyMark = if (only.isDefined) s""","only":${results.size}""" else ""
    // the warm-in discard changes those queries' MEASUREMENT DEFINITION
    // (their r17 medians included the cold first rep), so the headline
    // must say so in-band (r18 review; the r10 metric_note precedent —
    // a lower total must never silently read as an engine speedup):
    // cross-round comparators add the detail file's warm_reps seconds
    // back, or compare steady-state to steady-state knowingly
    val warmMark =
      if (warmReps.isEmpty) ""
      else s""","warm_discarded":[${warmReps.keys.map("\"" + _ + "\"").mkString(",")}],"warm_note":"first rep discarded for warm-in-tagged queries since r18; their r17 medians included the cold rep - see detail warm_reps""""
    // a crashed query is excluded from the total — flag it so a lower
    // total can never be read as a speedup
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val failMark = if (failed.nonEmpty) s""","failed":[${failed.mkString(",")}]""" else ""
    // FLAG (not fail) queries whose rep spread exceeds 3x: alongside
    // the start/end loadavg this makes a contended-box run
    // self-diagnosing — the r9 builder/driver 1.35x divergence should
    // be attributable from one read of this file. Each flagged query
    // gets ONE extra rep AFTER the whole battery (when transient box
    // load has usually passed), recorded separately as "rerun" — so a
    // contention-polluted median never enters the committed artifact
    // unannotated: the rerun is the quiet-box counter-evidence, read
    // next to the raws. The rerun does NOT change the median/total
    // (the headline stays a pure median-of-N of the in-battery reps;
    // a post-hoc rep replacing a median would bias totals downward) —
    // instead "quiet_value" reports the total WITH flagged queries'
    // reruns substituted, so a round-over-round comparison has a
    // contention-corrected number to read without anyone re-deriving
    // it from the detail file (r10 burned an hour doing exactly that).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    // The one-line JSON must be pure ASCII (r18 verdict task 2): the
    // driver captures stdout through layers that have mangled non-ASCII
    // before (the r18 warm_note em-dash showed as '?' in the captured
    // tail; BENCH_r17 parsed null and cost a full round of automated
    // PERF comparison). Escape any stray non-ASCII as \\uXXXX — valid
    // JSON, survives any byte-level capture.
    def asciiJson(s: String): String =
      s.flatMap(c => if (c >= 0x20 && c < 0x7f) c.toString
                     else f"\\u${c.toInt}%04x")
    def emitLine(quietMark: String): String = {
      val line = asciiJson(
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps$moMark$onlyMark$warmMark$failMark$quietMark}""")
      // Belt and braces: also persist to a file in case the launcher's
      // stdout is wrapped by a build-tool logger the parser trips on.
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
      line
    }
    // persist the battery's headline BEFORE the post-battery reruns: a
    // rerun that hard-kills the JVM must not lose the multi-minute
    // battery's artifact (the quiet fields are re-written over it below)
    emitLine("")
    // threshold 2x (was 3x through r12): the r12 contention smear put
    // +0.2-0.5 s on multi-second queries — real enough to move the
    // round-over-round total, yet far below a 3x spread — so the quiet
    // substitution never engaged where it was needed; 2x trades a few
    // extra post-battery reruns for a quiet_value that actually covers
    // the smear band
    val spreadFlagged = raw.collect {
      case (k, runs) if runs.size >= 2 && runs.min > 0 && runs.max / runs.min > 2.0 => k
    }.toSet
    // sample the load at each RERUN too: the substituted quiet_value
    // comes from this window, not the battery's — pairing it with the
    // battery-start load would mis-attribute exactly the reading the
    // column exists for (r13 review finding)
    // one load sample PER RERUN (r16 ADVICE: a single pre-rerun sample
    // could be minutes stale by the time the converged pair actually
    // executes — the r13 mis-attribution this column exists to prevent
    // could recur inside the rerun window); the artifact carries the
    // full vector, aligned index-for-index with "reruns"
    val rerunLoad = scala.collection.mutable.Map.empty[String, Vector[String]]
    // r16 (verdict task 2 — the r15 driver headline read +14% purely
    // from box contention): a single post-battery rerun still samples
    // whatever load happens to be present at that instant. Each flagged
    // query now (a) waits for a quiet 1-min loadavg inside a SHARED
    // bounded budget (the wall-clock cost must stay bounded no matter
    // how many queries flag), then (b) re-runs until two consecutive
    // reruns agree within 1.25x (cap 6 since r17) — the converged pair's median
    // is the contention-corrected substitute. An unconverged query
    // keeps its battery median and is named in quiet_unconverged, so a
    // still-loud box can never masquerade as a quiet reading.
    var quietWaitBudgetMs = 120000L
    // an unreadable/unparseable loadavg counts as LOUD, not quiet
    // (r16 ADVICE: defaulting to 0.0 silently no-ops the quiet-wait on
    // any box where /proc/loadavg fails) — the budget drains and the
    // failure is logged once + recorded in the artifact
    var loadReadFailed = false
    def load1OrLoud(): Double =
      scala.util.Try(load1().toDouble).getOrElse {
        if (!loadReadFailed) {
          loadReadFailed = true
          System.err.println("[bench] loadavg unreadable — treating as loud")
        }
        Double.PositiveInfinity
      }
    def awaitQuiet(): Unit = {
      while (quietWaitBudgetMs > 0 && load1OrLoud() > 2.0) {
        Thread.sleep(5000); quietWaitBudgetMs -= 5000
      }
    }
    def converged(xs: Seq[Double]): Boolean =
      xs.size >= 2 && {
        val Seq(a, b) = xs.takeRight(2)
        a >= 0 && b >= 0 && math.max(a, b) / math.max(math.min(a, b), 1e-9) < 1.25
      }
    val rerunRaw = scala.collection.mutable.Map.empty[String, Seq[Double]]
    // box-speed probe at each flagged query's RERUN window: a
    // substituted quiet value must be normalized by the factor
    // measured WHEN it ran, not by the battery segment it was flagged
    // in (the rerun exists precisely because that segment was loud)
    val rerunCalib = scala.collection.mutable.Map.empty[String, Double]
    val reruns: Map[String, Double] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => spreadFlagged(name) }
      .flatMap { case (name, fnq) =>
        awaitQuiet()
        rerunCalib(name) = calibrateShort()
        var runs = Vector.empty[Double]
        var loads = Vector.empty[String]
        // cap 6 (was 4 — r16 verdict task 4: q_pack_chunks exhausted
        // 4 reruns unconverged; its stage-barriered prefix-sum
        // amplifies scheduler noise, and two extra attempts are cheap
        // next to an unconverged headline)
        while (runs.size < 6 && !converged(runs)) {
          loads :+= load1()
          runs :+= run(name, fnq)
        }
        rerunRaw(name) = runs
        rerunLoad(name) = loads
        if (converged(runs)) {
          val Seq(a, b) = runs.takeRight(2)
          Some(name -> (a + b) / 2.0)
        } else None
      }.toMap
    // ONE spelling of the quiet substitution (r17 review: quiet_value
    // and calib.value_normalized computed it independently — a future
    // rule edit applied to one copy would desynchronize two fields of
    // the same artifact, the load1() one-spelling class)
    val substituted = results.collect {
      case (k, v) if v >= 0 && !measurementOnly(k) =>
        reruns.get(k).filter(_ >= 0).getOrElse(v)
    }.sum
    val quietMark =
      if (spreadFlagged.isEmpty) ""
      else {
        // name ONLY the queries whose rerun actually entered the sum —
        // a flagged measurement-only query is excluded from both
        // value and quiet_value, so listing it would make the artifact
        // self-inconsistent for a reader reconciling the substitution
        val subs = results.collect {
          case (k, _) if !measurementOnly(k) && reruns.get(k).exists(_ >= 0) =>
            "\"" + k + "\""
        }
        val unconv = spreadFlagged.toSeq.sorted
          .filter(k => !measurementOnly(k) && !reruns.contains(k))
          .map("\"" + _ + "\"")
        val unconvMark =
          if (unconv.isEmpty) "" else s""","quiet_unconverged":[${unconv.mkString(",")}]"""
        s""","quiet_value":${f3(substituted)},"quiet_substituted":[${subs.mkString(",")}]$unconvMark"""
      }
    // post-battery (and post-rerun) canary leg + the drift factor: a
    // factor far from 1.0 — or before/after disagreeing — is the
    // tree-invariant box-drift signal r16 needed a worktree to get.
    // value_normalized divides the best contention-corrected total
    // (quiet_value when present, else value) by the factor, giving a
    // round-over-round comparable number in one field.
    val calibAfter = calibrate()
    val bestTotal = if (spreadFlagged.isEmpty) total else substituted
    val loadFailMark = if (loadReadFailed) ""","loadavg_unreadable":true""" else ""
    // SEGMENTED normalization (r17 verdict task 1): each query divides
    // by ITS segment's factor — the mean of the probes bracketing it —
    // so a box that degrades monotonically DURING the battery (r17
    // committed run: calib 1.320 -> 1.738) no longer lets one averaged
    // factor under-correct the late queries and over-correct the early
    // ones. Rerun-substituted queries divide by the factor probed in
    // their own rerun window instead.
    def segFactor(i: Int, ref: Double): Double = {
      val a = segProbes(math.min(i, segProbes.size - 1))
      val b = segProbes(math.min(i + 1, segProbes.size - 1))
      ((a + b) / 2.0) / (ref * shortScale)
    }
    val calibMark = calibRef match {
      case Some(ref) =>
        val calibFactor = ((calibBefore + calibAfter) / 2.0) / ref
        val segNormalized = results.collect {
          case (k, v) if v >= 0 && !measurementOnly(k) =>
            reruns.get(k).filter(_ >= 0) match {
              case Some(r) => r / (rerunCalib.getOrElse(k, ref * shortScale) / (ref * shortScale))
              case None    => v / segFactor(querySeg.getOrElse(k, 0), ref)
            }
        }.sum
        s""","calib":{"before":${f3(calibBefore)},"after":${f3(calibAfter)},"ref":${f3(ref)},"factor":${f3(calibFactor)},"value_normalized":${f3(bestTotal / calibFactor)},"segments":${math.max(segProbes.size - 1, 0)},"segmented_value_normalized":${f3(segNormalized)}}$loadFailMark"""
      case None =>
        // no ref configured for this box (SPARK_GRAFT_CALIB_REF=none):
        // raw probe seconds only — a factor computed against another
        // box's ref would read authoritative and be silently wrong
        s""","calib":{"before":${f3(calibBefore)},"after":${f3(calibAfter)},"ref_disabled":true}$loadFailMark"""
    }
    val line = emitLine(quietMark + calibMark)
    println(line)
    // Per-rep raw times in EXECUTION order, for spread/regression calls —
    // NOT part of the driver's one-line contract.
    val detail = raw.map { case (k, runs) =>
      "\"" + k + "\":[" + runs.map(f3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val loadCol = perQueryLoad.map { case (k, l) =>
      "\"" + k + "\":" + l }.mkString("{", ",", "}")
    val flagged = raw.collect {
      case (k, runs) if spreadFlagged(k) =>
        "\"" + k + "\":{\"raws\":[" + runs.map(f3).mkString(",") +
          s"""],"spread":${f3(runs.max / runs.min)},"reruns":[""" +
          rerunRaw.getOrElse(k, Nil).map(f3).mkString(",") +
          s"""],"rerun":${f3(reruns.getOrElse(k, -1.0))},"rerun_load":${rerunLoad.getOrElse(k, Vector.empty[String]).mkString("[", ",", "]")}}"""
    }
    val flagMark =
      if (flagged.isEmpty) "" else s""","spread_flags":{${flagged.mkString(",")}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out.replaceAll("\\.json$", "") + "_detail.json"),
      s"""{"reps":$reps,"sf":"$sfDir","loadavg_start":$loadStart,"loadavg_end":${loadavg()},"calib_before":${f3(calibBefore)},"calib_after":${f3(calibAfter)},"calib_ref":${calibRef.map(f3).getOrElse("null")},"calib_seg_size":$segSize,"calib_probes":[${segProbes.map(f3).mkString(",")}],"query_segment":${querySeg.map { case (k, i) => "\"" + k + "\":" + i }.mkString("{", ",", "}")},"warm_reps":${warmReps.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")},"rerun_calib":${rerunCalib.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")}$flagMark,"load_at_query":$loadCol,"runs":$detail}""" + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    spark.stop()
  }
}
