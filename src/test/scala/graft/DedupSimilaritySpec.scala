package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Similarity, TextOps}

class DedupSimilaritySpec extends SparkSpec {

  test("minhash-LSH finds the same near-dup pairs as exact ngram jaccard") {
    val exact = Dedup.ngramJaccard.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected planted near-dup pairs in testdata")
    assert(lsh == exact, s"LSH pairs $lsh != exact pairs $exact")
  }

  test("incremental probe equals the cross (new vs indexed) slice of the full self-join") {
    // the daily-ingest probe must find exactly the batch-vs-corpus
    // pairs the symmetric self-join finds — no extra collisions (the
    // probe join has no doc_a < doc_b guard to lean on) and no misses
    // (same band family, same verify threshold)
    val full = Dedup.minhashLsh.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val crossOfFull = full.flatMap { case (a, b, j) =>
      if (a % 10 == 0 && b % 10 != 0) Some((a, b, j))
      else if (b % 10 == 0 && a % 10 != 0) Some((b, a, j))
      else None
    }
    val inc = Dedup.incremental.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc.nonEmpty, "expected planted cross near-dup pairs in testdata")
    assert(inc == crossOfFull,
      s"incremental diverged: missing=${crossOfFull -- inc}, extra=${inc -- crossOfFull}")
    // and every emitted pair is genuinely cross-partition
    assert(inc.forall { case (n, o, _) => n % 10 == 0 && o % 10 != 0 })
  }

  test("prefix-filter join returns EXACTLY the inverted-index exact pair set (lossless)") {
    val exact = Dedup.ngramJaccard.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pf = Dedup.prefixFilter.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty)
    assert(pf == exact,
      s"prefix filter diverged: missing=${exact -- pf}, extra=${pf -- exact}")
  }

  test("df-capped jaccard finds a subset of the uncapped pairs (cap only drops evidence)") {
    // shared_capped <= shared while denominators keep full counts, so
    // jaccard_capped <= jaccard: every capped pair must also pass 0.5
    // uncapped. On the planted near-dups (rare shingles) the cap
    // should not lose them all.
    val uncapped = Dedup.ngramJaccard.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardCapped.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), s"capped found pairs uncapped did not: ${capped -- uncapped}")
    assert(capped.nonEmpty, "df cap dropped every planted near-dup pair")
  }

  test("simhash of near-dup docs is closer than random docs on average") {
    val pairs = Dedup.ngramJaccard.fn(spark, sf).select("doc_a", "doc_b")
    val sh = Dedup.simhash.fn(spark, sf)
    val withSh = pairs
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("simhash", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("simhash", "sh_b"), "doc_b")
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
    val nearAvg = withSh.agg(avg("hamming")).head().getDouble(0)
    assert(nearAvg < 4.0, s"near-dup avg hamming $nearAvg should be small (16-bit sketch)")
  }

  test("SRP-LSH ANN recall vs exact knn is reasonable") {
    val exact = Similarity.cosineKnn.fn(spark, sf)
      .select("q_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ann = Similarity.annSrp.fn(spark, sf)
      .select("q_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hits = exact.count { case (q, nn) => ann.get(q).contains(nn) }
    val recall = hits.toDouble / exact.size
    info(s"SRP-LSH top-1 recall: $recall (${hits}/${exact.size})")
    // 8 tables x 5 bits x 2 probes (multi-probe) measures 0.70 here;
    // floor below the measurement so a legit param tweak doesn't flap
    assert(recall >= 0.6, s"recall $recall below the SRP floor")
  }

  test("ANN-candidate MMR agrees with brute-force MMR on most selections") {
    // the production-seam contract: swapping the brute-force candidate
    // generator for the SRP index must leave MOST of the greedy's
    // selections intact (it can't be all — index recall < 1). Compared
    // as (q_id, rank) -> s_id maps.
    def selections(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "s_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = selections(Similarity.mmrRerank.fn(spark, sf))
    val ann = selections(Similarity.mmrRerankAnn.fn(spark, sf))
    assert(ann.keySet == brute.keySet, "ANN variant lost whole queries")
    // SET overlap per query, not positional agreement: the greedy
    // CASCADES a single candidate miss (a different rank-1 changes the
    // penalty set, so ranks 2-3 legitimately differ) — positional
    // agreement measures the cascade, set overlap measures whether the
    // index surfaced the same material (measured: 0.49 positional vs
    // 0.60 set overlap at sf0.001 with the 0.70-recall SRP index)
    val overlap = brute.map { case (q, s) => (s & ann(q)).size.toDouble / s.size }
    val mean = overlap.sum / overlap.size
    info(s"ANN-vs-brute MMR mean per-query selection overlap: $mean")
    // floor below the measurement so a legit param tweak doesn't flap
    assert(mean >= 0.5, s"overlap $mean below floor")
  }

  test("IVF ANN recall vs exact knn beats the SRP floor") {
    val exact = Similarity.cosineKnn.fn(spark, sf)
      .select("q_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ivf = Similarity.ivfTop1(spark, sf)
      .select("q_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every query must produce an answer: nprobe cells always hold
    // at least the query's own cell-mates
    assert(ivf.keySet == exact.keySet,
      s"queries lost: ${exact.keySet -- ivf.keySet}")
    val hits = exact.count { case (q, nn) => ivf.get(q).contains(nn) }
    val recall = hits.toDouble / exact.size
    // measures 0.48 on the sf0.001 corpus vs SRP's 0.44 — IVF's probe
    // set adapts to the data, SRP's buckets don't; 0.45 matches the
    // recorded q_ann_ivf per-SF floor (sits just under the
    // deterministic measurement, so a real index regression fails
    // here AND flips the oracle's recall_ok)
    info(s"IVF top-1 recall (k=16, nprobe=4): $recall (${hits}/${exact.size})")
    assert(recall >= 0.45, s"recall $recall below the IVF floor")
  }

  test("IVF cell count scales with the corpus, fixture-invariant at the floor") {
    // the srpBitsLadder discipline applied to IVF: fixed k makes
    // per-query candidates n * nprobe / k, linear in the corpus. The
    // formula holds mean cell size ~125 with floor 16 — every
    // generated fixture (500 and 2000 vectors) stays on the recorded
    // recall constants. No ceiling (r13): past cellChunkSize = 4096
    // cells, assignment/probing escalate to the chunked inverted-file
    // join instead of refusing (the r12 require this replaced).
    import graft.queries.Similarity.{ivfCellCount, cellChunkSize}
    assert(ivfCellCount(500) == 16 && ivfCellCount(2000) == 16)
    assert(ivfCellCount(4000) == 32 && ivfCellCount(125000) == 1000)
    assert(ivfCellCount(512000) == 4096)
    // past the old ceiling the formula keeps scaling — the join path
    // serves it (CellChunkParitySpec pins bit-equality, the
    // ScalingCurve across-the-ceiling test pins candidate volume)
    assert(ivfCellCount(512001) == 4097)
    assert(ivfCellCount(512001) > cellChunkSize)
    assert(ivfCellCount(1250000) == 10000)
  }

  test("SRP-blocked embed near-dup recovers planted sim≈1 duplicates") {
    // the raw corpus has no real near-dups (closest same-label pairs
    // sit at sim ~0.45, where sign buckets carry no signal), so plant
    // ten: vec_id+100000 is a jittered copy of the original vector —
    // cosine ~0.9999. The LSH top-10 must be exactly those pairs.
    val raw = graft.model.Tables.embeddings(spark, sf)
    // pick the planted ids ONCE, deterministically — two separate
    // unordered limit(10) jobs could sample different rows
    val ids = raw.filter(col("vec_id") % 50 === 0)
      .orderBy(col("vec_id")).limit(10)
      .select("vec_id").collect().map(_.getLong(0))
    val planted = raw.filter(col("vec_id").isin(ids.toIndexedSeq: _*))
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> cast(x + 0.0005 * (i % 3) AS FLOAT))")
          .as("embedding"),
        col("label"))
    val lsh = Similarity.embedNearDupLsh(raw.unionByName(planted), topK = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ids.map(id => (id, id + 100000L)).toSet
    assert(lsh == want, s"planted pairs not recovered: got $lsh want $want")
  }

  test("fuzzy rerank covers every jaccard pair and agrees with JVM levenshtein") {
    val pairs = Dedup.ngramJaccard.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fuzzy = Dedup.fuzzy.fn(spark, sf).collect()
    assert(fuzzy.map(r => (r.getLong(0), r.getLong(1))).toSet == pairs,
      "fuzzy rerank must score exactly the candidate pair set")
    // spot-check the distance column against a reference implementation
    val texts = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    fuzzy.take(5).foreach { r =>
      val expect = lev(texts(r.getLong(0)), texts(r.getLong(1)))
      assert(r.getLong(2) == expect.toLong,
        s"levenshtein(${r.getLong(0)}, ${r.getLong(1)}) = ${r.getLong(2)}, reference $expect")
    }
  }

  test("hard negatives: cross-label only, sim-ordered, equals naive window top-3") {
    val out = Similarity.hardNegatives.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    out.foreach { case (q, _, neg, _) =>
      assert(labels(q) != labels(neg), s"negative $neg shares label with query $q")
    }
    // per query: exactly 3 rows, ranks 1..3, sims non-increasing
    out.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == Seq(1L, 2L, 3L), s"query $q ranks")
      assert(byRank.map(_._4).toSeq == byRank.map(_._4).sortBy(-_).toSeq,
        s"query $q sims not ordered")
    }
  }

  test("minhash estimate covers every verified pair and honors the 3-sigma contract") {
    val rows = Dedup.minhashEstimate.fn(spark, sf).collect()
    val pairs = Dedup.ngramJaccard.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == pairs,
      "estimate must audit exactly the verified pair set")
    rows.foreach { r =>
      assert(r.getLong(4) == math.abs(r.getLong(2) - r.getLong(3)),
        s"abs_err must be |jaccard - est|: $r")
      // est is a multiple of 1/16 in ppm
      assert(r.getLong(3) % 62500L == 0L && r.getLong(3) <= 1000000L, s"est range: $r")
    }
    // distribution sanity on this corpus: the contract should hold for
    // the overwhelming majority (all 28 at sf0.001; allow a small tail)
    val within = rows.count(_.getBoolean(5))
    assert(within * 10 >= rows.length * 8,
      s"only $within/${rows.length} pairs within 3 sigma")
  }

  test("shingle novelty matches hand computation on a planted corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty")
      .toFile.getAbsolutePath
    spark.createDataFrame(Seq(
      (0L, "en", "a b c d"),  // shingles {a b c, b c d} — both novel
      (1L, "fr", "a b c x"),  // {a b c (seen in doc0), b c x novel} — 1/2
      (2L, "en", "a b c d"))) // exact dup of doc0 — 0/2 novel
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.shingleNovelty.fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("en") == ((2L, 4L, 2L, 500000L)), s"en: ${out("en")}")
    assert(out("fr") == ((1L, 2L, 1L, 500000L)), s"fr: ${out("fr")}")
  }

  test("cosine similarity of a vector with itself is 1") {
    val e = graft.model.Tables.embeddings(spark, sf)
      .withColumn("vd", expr("transform(embedding, x -> cast(x AS DOUBLE))"))
      .withColumn("dot", expr(
        "aggregate(zip_with(vd, vd, (x, y) -> x * y), cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
      .withColumn("nrm2", expr(
        "aggregate(transform(vd, x -> x * x), cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
    val bad = e.filter(abs(col("dot") / col("nrm2") - 1.0) > 1e-12).count()
    assert(bad == 0)
  }

  test("exact-substring coverage matches the hand-computed planted span") {
    // docs 0 and 1 share a verbatim 10-token prefix: W=8 windows at
    // starts 0,1,2 match cross-doc -> interval union covers 10 tokens
    // in each; doc 2 shares nothing
    val shared = (0 until 10).map(i => s"span$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-substr").toFile.getAbsolutePath
    spark.createDataFrame(Seq(
        (0L, "en", s"$shared alpha beta gamma delta epsilon zeta"),
        (1L, "en", s"$shared one two three four five six seven"),
        (2L, "en", "completely different words with no overlap at all whatsoever today")))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = Dedup.exactSubstring.fn(spark, dir).collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getLong(1) == 3L, s"n_docs: $r")
    assert(r.getLong(3) == 2L, s"n_dup_docs: $r")
    assert(r.getLong(4) == 20L, s"covered_tokens (10 per dup doc): $r")
  }

  test("fingerprints are stable and distinct for distinct texts") {
    val fp = TextOps.fingerprint.fn(spark, sf).cache()
    val n = fp.count()
    assert(fp.select("fp_md5").distinct().count() == n)
    assert(fp.select("fp_roll").distinct().count() >= n - 2) // rolling-hash collisions possible but rare
    fp.unpersist()
  }

  test("winnowing guarantee: a shared run of >= w+k-1 words leaves a shared fingerprint") {
    import spark.implicits._
    // A and B embed the SAME 7-word run (k=4 shingles, w=4 windows:
    // 7 = w+k-1 is the guarantee threshold) inside totally different
    // surroundings; C shares no vocabulary with either
    val run = "alpha bravo charlie delta echo foxtrot golf"
    val docs = Seq(
      (1L, s"red green blue $run purple orange yellow pink"),
      (2L, s"north south east west $run up down left right"),
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"))
      .toDF("doc_id", "text")
    val fps = TextOps.winnowFromText(docs)
      .select($"doc_id", explode($"w.fps").as("fp"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      s"docs sharing a ${run.split(' ').length}-word run must share a fingerprint: ${fps(1L)} vs ${fps(2L)}")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "disjoint-vocabulary docs should share no fingerprints")
  }

  test("matryoshka audit: one row per truncation, full query coverage, hits bounded") {
    val rows = Similarity.matryoshka.fn(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(8, 16, 32),
      "expected exactly the 8/16/32 truncation rows in order")
    // every truncation judges the identical query subset (vec_id % 10
    // under the cap) — a width that loses queries means the per-width
    // argmax dropped groups, not that recall changed
    val nq = rows.map(_.getLong(1)).distinct
    assert(nq.length == 1 && nq.head == 50,
      s"query coverage differs across widths: ${rows.map(_.getLong(1)).toSeq}")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1),
        s"hits out of [0, n_queries] at dim ${r.getInt(0)}")
    }
  }

  test("LPA separates two triangles across a bridge where connected components merge them") {
    import spark.implicits._
    // two 3-cliques joined by one bridge edge 3-4: one CC, two communities
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                    (4L, 5L), (4L, 6L), (5L, 6L),
                    (3L, 4L)).toDF("doc_a", "doc_b")
    val labels = Dedup.lpaCommunities(pairs, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // hand-simulated synchronous rounds: {1,2,3} -> 1, {4,5,6} -> 3
    assert(Set(1L, 2L, 3L).map(labels) == Set(1L), s"left clique: $labels")
    assert(Set(4L, 5L, 6L).map(labels) == Set(3L), s"right clique: $labels")
    val cc = graft.operators.ConnectedComponents
      .minLabel(pairs, "doc_a", "doc_b")
      .select("lbl").distinct().count()
    assert(cc == 1L, "bridge graph should be ONE connected component")
  }

  test("degenerate hot shingle: the helper-enforced df cap keeps candidates linear (r14 verdict weak #2)") {
    // one boilerplate shingle in ALL of 300 docs used to make the
    // shared pair generator emit C(300,2) = 44,850 candidate pairs
    // (quadratic, and an un-spillable shuffle_hash build partition at
    // scale) because the df cap was each CALLER's responsibility and
    // q_dedup_ngram_jaccard applied none. The cap now lives inside
    // jaccardPairs: the hot posting list (df 300 > 256) is dropped
    // from the index, candidates collapse to the genuinely-shared-rare
    // pairs, and the planted true duplicate still surfaces.
    import spark.implicits._
    val boiler = (0 until 300).map(i => (i.toLong, s"hot hot hot u${i}a u${i}b"))
    val planted = Seq((300L, "alpha beta gamma delta epsilon"),
                      (301L, "alpha beta gamma delta epsilon"))
    val docs = (boiler ++ planted).toDF("doc_id", "text")
    val e = Dedup.withShingles(docs)
      .select($"doc_id", $"n_sh", explode($"shs").as("hk"))
    // uncapped candidate volume IS quadratic on this corpus — the
    // regression band the cap must sit below
    val uncapped = Dedup.sharedCounts(e).count()
    assert(uncapped >= 300L * 299 / 2, s"fixture lost its hot shingle: $uncapped")
    val capped = Dedup.sharedCounts(DedupWitness.cappedIndex(e, Dedup.jaccardMaxDf)).count()
    assert(capped == 1,
      s"helper cap must collapse candidates to the planted pair, got $capped")
    val pairs = Dedup.jaccardPairs(e).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((300L, 301L)),
      s"planted exact dup must survive the cap: ${pairs.mkString(",")}")
    assert(pairs.head.getLong(2) == 1000000L, "identical docs score ppm 1e6")
  }

  test("fuzzy rerank enforces its ASCII contract: CJK near-dups are excluded on BOTH engines, not mis-scored") {
    // Spark levenshtein counts codepoints, DuckDB bytes — one CJK
    // substitution measures 1 vs 3, so the is_dup verdict could flip
    // between engines on non-ASCII text while every ASCII fixture
    // stays green (the r14 latent-parity class). The contract is now
    // ENFORCED: texts must satisfy length = octet_length; a planted
    // CJK exact-dup pair (which jaccardPairs DOES find) never reaches
    // the rerank, while the ASCII pair scores normally.
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "天 地 人 和 平"),
      (4L, "天 地 人 和 平")).toDF("doc_id", "text")
    val e = Dedup.withShingles(docs)
      .select($"doc_id", $"n_sh", explode($"shs").as("hk"))
    val candidates = Dedup.jaccardPairs(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(candidates == Set((1L, 2L), (3L, 4L)),
      s"both planted dups must be jaccard candidates: $candidates")
    val reranked = Dedup.fuzzyRerank(docs).collect()
    assert(reranked.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      s"the CJK pair must be excluded by the ASCII contract: ${reranked.mkString(",")}")
    assert(reranked.head.getBoolean(4), "the ASCII exact dup is kept")
  }

  test("LPA refuses a node id >= 2^40 loudly instead of corrupting labels") {
    // r14 ADVICE: the packed argmax (count*2^40 + (2^40-1-label))
    // corrupts IDENTICALLY on both engines past 2^40, so the oracle
    // compare would stay green on garbage — the only silent-corruption
    // path left in the family. The guard must fire at CALL time (the
    // eager edge checkpoint), before any round runs.
    import spark.implicits._
    val big = 1L << 40 // exactly the first out-of-range id
    val pairs = Seq((1L, 2L), (2L, big)).toDF("doc_a", "doc_b")
    val e = intercept[Exception](Dedup.lpaCommunities(pairs, 3))
    assert(e.getMessage != null && e.getMessage.contains("2^40"),
      s"expected the loud 2^40 guard, got: $e")
    // the max in-range id still works (2^40 - 1 packs exactly)
    val edge = Seq((1L, (1L << 40) - 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.lpaCommunities(edge, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> ((1L << 40) - 1), ((1L << 40) - 1) -> 1L),
      s"one-round swap on a single edge: $labels")
  }
}
