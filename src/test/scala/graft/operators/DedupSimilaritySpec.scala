package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup + similarity behavior on real testdata (sf0.001) and planted
  * fixtures: MinHash recall vs the exact pairs, LSH-ANN vs brute force.
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Ground truth: all-pairs exact jaccard >= 0.5 (tiny at sf0.001),
    * optionally restricted to docs with at least `minSh` shingles. */
  private def exactPairTruth(minSh: Int = 0): Set[(Long, Long)] = {
    val d = graft.Tables.documents(spark, sf001).select(
      $"doc_id", graft.functions.TextAnalysis.wordShingles($"text", 3).as("sh"))
    val a = d.select($"doc_id".as("ia"), $"sh".as("sa"))
    val b = d.select($"doc_id".as("ib"), $"sh".as("sb"))
    a.join(b, $"ia" < $"ib" &&
        size($"sa") >= minSh && size($"sb") >= minSh)
      .select($"ia", $"ib",
        (size(array_intersect($"sa", $"sb")).cast("double") /
          size(array_union($"sa", $"sb")).cast("double")).as("j"))
      .filter($"j" >= 0.5)
      .select($"ia", $"ib").as[(Long, Long)].collect().toSet
  }

  test("containment: subset flags directionally where resemblance is blind") {
    import spark.implicits._
    // doc 2 (8 shingles) ⊂ doc 1 (25 shingles): J = 8/25 = 0.32 —
    // invisible at the resemblance ops' 0.5 — but C(2→1) = 1.0
    val bare = (for {
      (d, ss) <- Seq((1L, 1 to 25), (2L, 1 to 8)); i <- ss
    } yield (d, "en", "web", s"s$i")).toDF("doc_id", "lang", "source", "s")
    val sizes = Seq((1L, 25L), (2L, 8L)).toDF("doc_id", "n_sh")
    val got = Dedup.containmentPairs(bare.join(sizes, Seq("doc_id")),
      bare, Dedup.ContainDfCap).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getLong(r.fieldIndex("inter_size")) === 8)
    assert(!r.getBoolean(r.fieldIndex("contained_a")),
      "the superset doc is NOT contained in the subset")
    assert(r.getBoolean(r.fieldIndex("contained_b")),
      "the subset doc must flag as contained")
  }

  test("containment on corpus: rare-shingle candidates lose no C>=0.8 pair") {
    import spark.implicits._
    val got = Dedup.containment.build(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "corpus must contain containment pairs")
    // unconstrained exact: ALL block pairs, no rare-shingle gate
    val bare = graft.Tables.documents(spark, sf001).select(
      $"doc_id", $"lang", $"source",
      org.apache.spark.sql.functions.explode(
        graft.functions.TextAnalysis.wordShingles($"text", 3)).as("s"))
    val sizes = bare.groupBy($"doc_id").count().withColumnRenamed("count", "n_sh")
    val docs = bare.select($"doc_id", $"lang", $"source").distinct()
      .join(sizes, Seq("doc_id"))
    val cand = docs.select($"lang", $"source", $"doc_id".as("doc_id_a"),
        $"n_sh".as("n_a"))
      .join(docs.select($"lang", $"source", $"doc_id".as("doc_id_b"),
        $"n_sh".as("n_b")), Seq("lang", "source"))
      .filter($"doc_id_a" < $"doc_id_b")
    val ra = bare.select($"doc_id".as("doc_id_a"), $"s")
    val rb = bare.select($"doc_id".as("doc_id_b"), $"s")
    val exact = cand.join(ra, Seq("doc_id_a")).join(rb, Seq("doc_id_b", "s"))
      .groupBy($"doc_id_a", $"doc_id_b", $"n_a", $"n_b")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("inter"))
      .filter($"inter" * 5 >= $"n_a" * 4 || $"inter" * 5 >= $"n_b" * 4)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(got === exact,
      "rare-shingle blocking premise broke: an exact C>=0.8 pair shares no " +
        s"df<=${Dedup.ContainDfCap} shingle (or a candidate leaked). " +
        s"missed=${(exact -- got).take(5)} extra=${(got -- exact).take(5)}")
  }

  test("entity clusters: matches co-entity, one canonical, sizes reconcile") {
    import spark.implicits._
    val ents = Dedup.entityCluster.build(spark, sf001).cache()
    val byKey = ents.select($"key", $"entity_id").as[(Long, Long)]
      .collect().toMap
    // every fuzzy match pair landed in the same entity
    val pairs = Dedup.fuzzyMatch.build(spark, sf001)
      .select($"key_a", $"key_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byKey(a) === byKey(b), s"matched pair ($a,$b) split across entities")
    }
    // exactly one canonical per entity, and it is the min key
    val canon = ents.filter($"is_canonical").select($"entity_id", $"key")
      .as[(Long, Long)].collect()
    assert(canon.length === ents.select($"entity_id").distinct().count())
    canon.foreach { case (e, k) => assert(e === k) }
    val minPerEntity = byKey.toSeq.groupBy(_._2).map { case (e, ks) =>
      e -> ks.map(_._1).min }
    minPerEntity.foreach { case (e, mn) => assert(e === mn,
      s"entity $e canonical is not the min key $mn") }
    // sizes sum to the record count; singletons = unmatched records
    val parts = graft.Tables.part(spark, sf001).count()
    assert(ents.count() === parts)
    val matched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val singletons = ents.filter($"entity_size" === 1).count()
    assert(singletons === parts - matched.size)
    ents.unpersist()
  }

  test("signature-keyed caches rebuild when the source files change") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_cache_staleness"
    def write(texts: Seq[(Long, String)]): Unit =
      texts.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("srcA").as("source"), length($"text").cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta")))
    val first = Dedup.shingleRows(spark, dir)
      .select($"doc_id", $"s").as[(Long, String)].collect().toSet
    // parquet overwrite emits new part-file names, so the listing
    // signature changes and the next access must rebuild, not reuse
    write(Seq((1L, "epsilon zeta eta theta iota kappa")))
    val second = Dedup.shingleRows(spark, dir)
      .select($"doc_id", $"s").as[(Long, String)].collect().toSet
    assert(first.nonEmpty && second.nonEmpty && first != second,
      "cache served the dead corpus after its source files changed")
    assert(second.forall(!_._2.contains("alpha")),
      s"stale shingles from the overwritten corpus survived: $second")
  }

  test("session-cached 8-gram rows equal fresh construction") {
    val cached = Curation.gramRows8(spark, sf001)
    val fresh = Curation.buildGramRows8(spark, sf001)
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached 8-gram rows drifted from deterministic reconstruction")
  }

  test("session-cached seed PQ codes equal fresh assignment") {
    val cached = Similarity.seedPqCodes(spark, sf001)
    val q = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val fresh = Similarity.pqAssign(q,
        q.filter($"vec_id" < 16).select($"vec_id".as("cid"), $"v".as("cv")))
      .select($"vec_id", $"m", expr("k % 16").as("cid"))
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached seed PQ codes drifted from deterministic reassignment")
  }

  test("session-cached shingle rows equal fresh construction") {
    val cached = Dedup.shingleRows(spark, sf001)
    val fresh = Dedup.buildShingleRows(spark, sf001)
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached shingle rows drifted from deterministic reconstruction")
  }

  test("session-cached df-annotated postings equal fresh construction") {
    import spark.implicits._
    val cached = Dedup.shingleRowsWithDf(spark, sf001)
    val bare = Dedup.buildShingleRows(spark, sf001)
    val sizes = bare.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val freq = bare.groupBy($"lang", $"source", $"s")
      .agg(count(lit(1)).as("df"))
    val fresh = bare.join(sizes, Seq("doc_id"))
      .join(freq, Seq("lang", "source", "s"))
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached df-annotated postings drifted from deterministic reconstruction")
  }

  test("session-cached simhash signatures and scope equal fresh construction") {
    val cs = Dedup.simhashSignaturesCached(spark, sf001)
    val fs = Dedup.simhashSignatures(spark, sf001)
    assert(cs.exceptAll(fs).isEmpty && fs.exceptAll(cs).isEmpty,
      "cached simhash signatures drifted from deterministic reconstruction")
    val csc = Dedup.simhashScopeSizesCached(spark, sf001)
    val fsc = Dedup.simhashScopeSizes(spark, sf001)
    assert(csc.exceptAll(fsc).isEmpty && fsc.exceptAll(csc).isEmpty,
      "cached simhash scope sizes drifted from deterministic reconstruction")
  }

  test("session-cached verified LSH pair set equals fresh construction") {
    val cached = Dedup.lshPairIndex(spark, sf001)
    val fresh = Dedup.minhashLshPairs(spark, sf001, bucketCap = None)
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached LSH pair index drifted from deterministic reconstruction")
  }

  test("session-cached fuzzy pair graph equals fresh construction") {
    val cached = Dedup.fuzzyPairs(spark, sf001)
    val fresh = Dedup.fuzzyJoin(spark, sf001, withDp = true)
      .select($"brand", $"key_a", $"key_b",
        levenshtein($"name_a", $"name_b").as("dist"))
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached fuzzy pair index drifted from deterministic reconstruction")
  }

  test("minhash LSH finds every exact-Jaccard>=0.5 pair (recall vs truth)") {
    val truth = exactPairTruth()
    val got = Dedup.minhashLsh.build(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "expected planted near-dups in testdata")
    assert(got === truth) // verified-exact output ⊆ truth; LSH recall ⊇ here
  }

  test("lshRecall: truth counts match independent all-pairs ground " +
    "truth, hits == truth at the measured recall-1.0 geometry") {
    val truth = exactPairTruth()
    val mod = Dedup.LshRecallMod
    val sampled = graft.Tables.documents(spark, sf001)
      .select($"doc_id").as[Long].collect().filter(_ % mod == 0).toSet
    val got = Dedup.lshRecall.build(spark, sf001)
      .select($"doc_id", $"truth", $"hits")
      .as[(Long, Long, Long)].collect()
    // one row per sampled doc, no more, no fewer
    assert(got.map(_._1).toSet === sampled)
    // truth column = partner count in the independent all-pairs set
    val want = got.map { case (id, _, _) =>
      id -> truth.count(p => p._1 == id || p._2 == id).toLong }.toMap
    got.foreach { case (id, t, h) =>
      assert(t === want(id), s"doc $id truth count drifted")
      assert(h === t, s"doc $id: banded index missed a true pair " +
        s"(recall < 1.0 at the 8x4 geometry — the standing alarm)")
    }
    // the telemetry is non-vacuous on this corpus: some sampled doc
    // has at least one true near-dup partner
    assert(got.exists(_._2 > 0), "sample hit no planted near-dups")
  }

  test("simhashRecall: scoped truth matches the independent all-pairs " +
    "set, hits == truth at the hybrid tiers' measured recall") {
    // sf0.001 docs are all far under SimhashWordCap, so the contract's
    // scope reduces to the shingle floor
    val truth = exactPairTruth(minSh = Dedup.SimhashMinShingles)
    val got = Dedup.simhashRecall.build(spark, sf001)
      .select($"doc_id", $"truth", $"hits")
      .as[(Long, Long, Long)].collect()
    val mod = Dedup.LshRecallMod
    assert(got.map(_._1).toSet ===
      graft.Tables.documents(spark, sf001).select($"doc_id").as[Long]
        .collect().filter(_ % mod == 0).toSet)
    got.foreach { case (id, t, h) =>
      assert(t === truth.count(p => p._1 == id || p._2 == id).toLong,
        s"doc $id scoped truth drifted")
      assert(h === t, s"doc $id: hybrid simhash tier missed a true pair")
    }
    assert(got.exists(_._2 > 0), "sample hit no in-scope near-dups")
  }

  test("session-cached minhash index equals fresh signature construction") {
    // minhashIndex localCheckpoints bandedSignatures + sizes once per
    // (session, dir); every LSH consumer reads through it. Pin the
    // cached frames byte-equal to a fresh build so a cache-path change
    // can never silently shift what the oracles verify.
    val (banded, sizes) = Dedup.minhashIndex(spark, sf001)
    val fresh = Dedup.bandedSignatures(spark, sf001)
      .as[(Long, Int, Long)].collect().toSet
    val cached = banded.as[(Long, Int, Long)].collect().toSet
    assert(cached === fresh)
    val freshSizes = Dedup.shingleRowsWithSize(spark, sf001)
      .select($"doc_id", $"n_sh").distinct()
      .as[(Long, Long)].collect().toSet
    assert(sizes.as[(Long, Long)].collect().toSet === freshSizes)
  }

  test("lane-packed simhash equals the per-bit reference computation") {
    // recompute every signature on the driver from the SAME word-hash
    // rows, with the obvious per-bit majority vote — guards the packed
    // 16-bit-lane aggregation against lane-boundary/sign mistakes
    val hashes = Dedup.simhashWordHashes(spark, sf001)
      .as[(Long, Long)].collect().groupBy(_._1)
    val expected = hashes.map { case (docId, rows) =>
      val n = rows.length
      var sig = 0L
      (0 until 64).foreach { j =>
        val count = rows.count { case (_, h) => ((h >> j) & 1L) == 1L }
        if (2 * count > n) sig |= (1L << j)
      }
      docId -> sig
    }
    val got = Dedup.simhashSignatures(spark, sf001)
      .as[(Long, Long)].collect().toMap
    assert(got.size === expected.size)
    expected.foreach { case (docId, sig) => assert(got(docId) === sig) }
  }

  test("simhash two-stage output equals the exact truth on in-scope docs") {
    val truth = exactPairTruth(Dedup.SimhashMinShingles)
    val got = Dedup.simhash.build(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    assert(got.forall { case (x, y) => x < y })
    assert(got === truth)
  }

  test("simhash hybrid equals the radius-7 single-tier variant (recall reference)") {
    // the registered hybrid (4×16/radius-3 ∪ minhash bands) and the
    // quadratic-candidate radius-7 form must agree exactly — both are
    // exact-verified, so this pins equal RECALL on the contract set
    val hybrid = Dedup.simhash.build(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    val r7 = Dedup.simhashRadius7(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(hybrid.nonEmpty)
    assert(hybrid === r7)
  }

  test("radius-3 tier alone misses true pairs; the minhash tier closes them") {
    // the measured fact that makes the hybrid necessary (not decorative):
    // at 4×16/radius-3 some in-scope true pairs sit at signature
    // Hamming 4..7 (vote-margin noise) and share no 16-bit band — the
    // minhash tier must be the one that recovers them
    val truth = exactPairTruth(Dedup.SimhashMinShingles)
    val sizes = Dedup.simhashScopeSizes(spark, sf001)
    val inScopeSigs = Dedup.simhashSignatures(spark, sf001)
      .join(sizes, Seq("doc_id")).select($"doc_id", $"simhash")
    val tightOnly = Dedup.simhashCandidatesOf(inScopeSigs)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    val missedByTight = truth -- tightOnly
    assert(missedByTight.nonEmpty,
      "fixture regression: radius-3 banding now covers everything — " +
        "re-measure whether the hybrid is still needed")
    val hybridCand = Dedup.simhashHybridCandidates(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert((truth -- hybridCand).isEmpty,
      s"hybrid candidates missed true pairs: ${truth -- hybridCand}")
  }

  test("capped minhash variant bounds candidates and stays a subset of exact") {
    val full = Dedup.minhashLsh.build(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    // cap=1 keeps one member per (band,bucket): pair generation within a
    // bucket is impossible, so the guardrail variant must return strictly
    // fewer pairs — and never a pair the exact contract doesn't contain
    val capped1 = Dedup.minhashLshCapped(spark, sf001, cap = 1)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(capped1.isEmpty)
    // a generous cap changes nothing on this corpus (buckets are small)
    val capped1k = Dedup.minhashLshCapped(spark, sf001, cap = 1000)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(capped1k === full)
  }

  test("simhash banded candidates are exactly the pairs within hamming 7") {
    // pigeonhole: 8 bands of 8 bits ⇒ any pair with ≤7 differing bits
    // shares an identical band; the op then filters hamming ≤ 7, so the
    // candidate set must EQUAL the within-7 set, not just contain it
    val sigs = Dedup.simhashSignatures(spark, sf001)
      .as[(Long, Long)].collect()
    val within7 = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (a, b)).toSet
    val cand = Dedup.simhashCandidates(spark, sf001)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(cand === within7)
  }

  test("banding geometry is parametric: 4×16 bands guarantee radius 3 exactly") {
    // same pigeonhole law at a second geometry — candidates at 4 bands
    // of 16 bits must EQUAL the within-Hamming-3 pair set. Signatures
    // are seeded synthetic: a base population plus planted near pairs
    // at distances 1-3 (must all surface) and 4-8 (must all be cut).
    val rnd = new scala.util.Random(42)
    def flip(sig: Long, nBits: Int): Long = {
      var s = sig
      rnd.shuffle((0 until 64).toList).take(nBits)
        .foreach(b => s ^= (1L << b))
      s
    }
    val base = (0 until 300).map(i => (i.toLong, rnd.nextLong()))
    val planted = (0 until 40).map { i =>
      val (_, sig) = base(i)
      (1000L + i, flip(sig, 1 + i % 8)) // distances 1..8
    }
    val sigs = (base ++ planted).toDF("doc_id", "simhash")
    val all = (base ++ planted)
    val within3 = (for {
      (a, sa) <- all; (b, sb) <- all
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(within3.size >= 15, "fixture must plant pairs inside the radius")
    val cand = Dedup.simhashCandidatesOf(sigs, bands = 4, bitsPerBand = 16)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(cand === within3)
  }

  test("embed near-dup ANN variant: subset of exact, no false positives, recall floor") {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"label", $"id_a", $"id_b", $"cos")
      .as[(Int, Long, Long, Double)].collect().toSet
    val exact = canon(Similarity.embedNearDup.build(spark, sf001))
    val ann = canon(Similarity.embedNearDupAnn.build(spark, sf001))
    assert(exact.nonEmpty)
    // exact verification ⇒ zero false positives, identical cos values
    assert(ann.subsetOf(exact))
    // on this fixture the cell canopy recovers the full set (measured;
    // recall degrades toward 0.69 at sf0.1 — see Similarity scaladoc)
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.95, s"ANN near-dup recall $recall below 0.95")
  }

  test("cell-canopy candidate volume is sub-quadratic on the corpus") {
    // The ANN path's whole point at 100 TB: candidates come from IVF-cell
    // co-membership, not the label-blocked cross product. Pin that the
    // candidate count is a small fraction of the exact kernel's blocked
    // pair count (n_l·(n_l−1)/2 summed over labels) — if a regression
    // ever degenerates the canopy to ~all pairs, this fails loudly.
    // Measured at sf0.1 (2000 vectors → K = 40 seed cells): the canopy
    // must actually bite, which needs K ≫ nprobe — at sf0.001 the
    // codebook has only 10 cells, so probing 4 of them covers ~all
    // pairs by construction and proves nothing.
    val e = Similarity.quantizedLabeled(spark, "/root/testdata/sf0.1")
    val candidates = Similarity.cellCanopyCandidates(e, nprobe = 4)
      .count()
    val blockedPairs = e.groupBy($"label").count()
      .select(sum($"count" * ($"count" - 1))).as[Long].head() / 2
    assert(candidates > 0)
    assert(candidates * 2 <= blockedPairs,
      s"canopy candidates $candidates not ≪ blocked pairs $blockedPairs")
  }

  test("LSH ANN returns a subset of brute-force candidates with same scores") {
    val bf = Similarity.annBruteForce.build(spark, sf001)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)]
      .collect().map { case (q, c, s) => (q, c) -> s }.toMap
    val lsh = Similarity.annLsh.build(spark, sf001)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    // every LSH score must equal the exact cosine (bit-identical path)
    val allPairs = Similarity.annBruteForce.build(spark, sf001) // top5 only
    lsh.foreach { case (q, c, s) =>
      bf.get((q, c)).foreach(exact => assert(exact === s))
    }
  }

  test("IVF Lloyd iteration improves the codebook; probe recall floor holds") {
    // (a) the refinement must actually help: mean best-cosine to the
    // nearest centroid rises after the Lloyd step (measured 0.212 →
    // 0.266 on this fixture — sum-centroids are real means, not noise)
    val n = Similarity.quantized(spark, sf001)
    def meanBestCos(cents: org.apache.spark.sql.DataFrame): Double =
      n.join(broadcast(cents))
        .select($"vec_id",
          Similarity.cosine(Similarity.idot($"v", $"cv"),
            $"n2", $"cn").as("cos"))
        .groupBy("vec_id").agg(max("cos").as("c"))
        .agg(avg("c")).head().getDouble(0)
    val seed = meanBestCos(Similarity.ivfSeedCodebook(n))
    val lloyd = meanBestCos(Similarity.ivfLloydCodebook(n))
    assert(lloyd > seed,
      f"Lloyd codebook did not improve assignment: $lloyd%.4f <= $seed%.4f")
    // (b) probe-recall floor vs exact top-5: nprobe=2 of k=10 diffuse
    // 64-dim cells recovers ~half the exact neighbours on this fixture —
    // pin the floor so a broken refinement (recall → ~nprobe/k ≈ 0.2 on
    // random cells) fails loudly
    val bf = Similarity.annBruteForce.build(spark, sf001)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf.build(spark, sf001)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    assert(bf.nonEmpty)
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.4, s"IVF probe recall $recall below 0.4")
  }

  test("IVF ANN scores are exact cosines; per-query k and ordering hold") {
    val bf = Similarity.annBruteForce.build(spark, sf001)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)]
      .collect().map { case (q, c, s) => (q, c) -> s }.toMap
    val ivf = Similarity.annIvf.build(spark, sf001)
      .select($"q_id", $"c_id", $"cos", $"rk").as[(Long, Long, Double, Int)]
      .collect()
    assert(ivf.nonEmpty)
    // probed-cell top-k is a subset of the candidate space, scored on
    // the same bit-exact integer path: any (q,c) also in brute-force
    // top-5 must carry the identical score
    ivf.foreach { case (q, c, s, _) =>
      bf.get((q, c)).foreach(exact => assert(exact === s))
    }
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 5)
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("int8 quantization: exact cells on a hand vector, zero vector is all zeros") {
    val e = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val qv = e.select($"vec_id", Similarity.int8Vector(
        $"embedding", Similarity.int8Scale($"embedding")).as("qv"))
      .as[(Long, Seq[Int])].collect().toMap
    // scale = 127/1.0; -0.5*127 = -63.5 rounds away from zero; 0.25*127 = 31.75
    assert(qv(1L) === Seq(127, -64, 32, 0))
    assert(qv(2L) === Seq(0, 0))
    val stats = Similarity.quantizedInt8Stats(e)
      .select($"vec_id", $"q_sum", $"q_l1", $"q_min", $"q_max", $"n_sat")
      .as[(Long, Long, Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(stats(1L) === ((1L, 95L, 223L, -64, 127, 1)))
    assert(stats(2L) === ((2L, 0L, 0L, 0, 0, 0)))
  }

  test("int8 quantization: corpus-wide int8 range, max element always saturates") {
    val s = Similarity.quantizedInt8Stats(graft.Tables.embeddings(spark, sf001))
      .agg(min($"q_min"), max($"q_max"), min($"n_sat"), count(lit(1))).head()
    assert(s.getInt(0) >= -127 && s.getInt(1) <= 127)
    // the max-|x| element quantizes to exactly +/-127 in every vector
    assert(s.getInt(2) >= 1)
    assert(s.getLong(3) > 0)
  }

  test("PQ coding: seed vectors code to themselves with zero distortion") {
    val out = Similarity.annPq.build(spark, sf001)
      .select($"vec_id", $"pq_code", $"distortion")
      .as[(Long, Long, Long)].collect()
    val all = graft.Tables.embeddings(spark, sf001).count()
    assert(out.length == all, "every vector gets a code")
    out.foreach { case (id, code, dist) =>
      assert(dist >= 0L)
      // all 8 nibbles in [0, 16)
      (0 until 8).foreach(m => assert(((code >> (4 * m)) & 0xfL) < 16))
      if (id < 16) {
        // a codebook row's nearest centroid in EVERY subspace is itself
        assert(dist == 0L, s"seed $id distortion $dist")
        assert(code == id * 0x11111111L, s"seed $id code ${code.toHexString}")
      }
    }
  }

  test("PQ Lloyd iteration strictly decreases total distortion") {
    def total(op: Op): Long =
      op.build(spark, sf001).agg(sum($"distortion")).head().getLong(0)
    val seed = total(Similarity.annPq)
    val lloyd = total(Similarity.annPqLloyd)
    info(s"total distortion: seed $seed -> lloyd $lloyd")
    assert(lloyd < seed,
      s"one Lloyd step must improve the codebook: $lloyd >= $seed")
  }

  test("ADC distance to a codebook row equals the exact quantized L2²") {
    val q = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val codebook = q.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val adc = Similarity.adcScores(q, codebook, queries)
      .filter($"vec_id" < 16) // candidates that ARE codebook rows
    // exact quantized L2²(q, c) = qn + cn - 2·dot
    val exact = queries
      .withColumn("qn", Similarity.inorm2($"qv"))
      .crossJoin(codebook.withColumn("cn", Similarity.inorm2($"cv")))
      .filter($"q_id" =!= $"cid")
      .select($"q_id", $"cid".as("vec_id"),
        ($"qn" + $"cn" - Similarity.idot($"qv", $"cv") * 2).as("l2"))
    val joined = adc.join(exact, Seq("q_id", "vec_id"))
      .select($"adc", $"l2").as[(Long, Long)].collect()
    assert(joined.length == 10 * 15) // 10 queries × (16 − their own row)
    joined.foreach { case (a, e) => assert(a == e, s"adc $a != exact $e") }
  }

  test("ADC top-5 recall vs exact quantized-L2 brute force (measured floor)") {
    val q = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val codebook = q.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val adcTop = Similarity.adcScores(q, codebook, queries)
      .withColumn("rk", org.apache.spark.sql.functions.row_number.over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"adc", $"vec_id")))
      .filter($"rk" <= 5).select($"q_id", $"vec_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val exactTop = queries
      .withColumn("qn", Similarity.inorm2($"qv"))
      .crossJoin(q.withColumn("cn", Similarity.inorm2($"v")))
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id",
        ($"qn" + $"cn" - Similarity.idot($"qv", $"v") * 2).as("l2"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number.over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"l2", $"vec_id")))
      .filter($"rk" <= 5).select($"q_id", $"vec_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = exactTop.map { case (qid, want) =>
      adcTop.getOrElse(qid, Set.empty).intersect(want).size / 5.0 }.toSeq
    val mean = recalls.sum / recalls.size
    info(f"mean ADC top-5 recall vs exact L2: $mean%.2f")
    // 16 seed centroids on 64-dim N(0,1) data is a COARSE codebook; the
    // point of the assertion is "the index ranks far better than
    // chance" (chance ≈ 5/N ≈ 0.01), not production recall — a trained
    // codebook (more centroids, k-means) is the orthogonal quality knob.
    assert(mean >= 0.2, f"mean recall $mean%.2f below floor")
  }

  test("ADC+refine raises top-5 recall above raw ADC (measured, pinned)") {
    val q = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val codebook = q.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val adcTop = topSets(Similarity.adcScores(q, codebook, queries)
      .withColumn("rk", org.apache.spark.sql.functions.row_number.over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"adc", $"vec_id")))
      .filter($"rk" <= 5).select($"q_id", $"vec_id"))
    val refinedTop = topSets(
      Similarity.adcRefined(q, codebook, queries, shortlist = 25, k = 5)
        .select($"q_id", $"c_id"))
    val exactTop = topSets(queries
      .withColumn("qn", Similarity.inorm2($"qv"))
      .crossJoin(q.withColumn("cn", Similarity.inorm2($"v")))
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id",
        ($"qn" + $"cn" - Similarity.idot($"qv", $"v") * 2).as("l2"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number.over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"l2", $"vec_id")))
      .filter($"rk" <= 5).select($"q_id", $"vec_id"))
    def meanRecall(top: scala.collection.MapView[Long, Set[Long]]) = {
      val rs = exactTop.map { case (qid, want) =>
        top.getOrElse(qid, Set.empty).intersect(want).size / 5.0 }.toSeq
      rs.sum / rs.size
    }
    val adcR = meanRecall(adcTop)
    val refR = meanRecall(refinedTop)
    info(f"mean top-5 recall: ADC $adcR%.2f -> refined $refR%.2f")
    // refine can only fix what the shortlist contains; it must never
    // lose recall, and on this corpus it measurably gains it
    assert(refR >= adcR, f"refine lost recall: $refR%.2f < $adcR%.2f")
    assert(refR > adcR, f"refine gained nothing: $refR%.2f == $adcR%.2f")
    // floor raised above the raw-ADC contract's 0.2 (measured: 0.22 →
    // 0.72 on this corpus; see the raw-ADC test above for why the
    // coarse 16-seed codebook caps absolute recall)
    assert(refR >= 0.5, f"refined recall $refR%.2f below pinned floor")
  }

  test("trained-codebook ADC+refine: recall floor 0.8 (measured 0.98 at sf0.001)") {
    val q = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val exactTop = topSets(queries
      .withColumn("qn", Similarity.inorm2($"qv"))
      .crossJoin(q.withColumn("cn", Similarity.inorm2($"v")))
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id",
        ($"qn" + $"cn" - Similarity.idot($"qv", $"v") * 2).as("l2"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number.over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"l2", $"vec_id")))
      .filter($"rk" <= 5).select($"q_id", $"vec_id"))
    val trainedTop = topSets(Similarity.adcRefinedTrained(
        spark, q, queries, sf001, steps = 2, shortlist = 100, k = 5, nc = 64)
      .select($"q_id", $"c_id"))
    val rs = exactTop.map { case (qid, want) =>
      trainedTop.getOrElse(qid, Set.empty).intersect(want).size / 5.0 }.toSeq
    val recall = rs.sum / rs.size
    info(f"trained ADC+refine top-5 recall: $recall%.2f")
    // the registered config (nc=64, 2 Lloyd steps, shortlist 100) was
    // picked by sweep (PERF.md): 0.98 here, 0.84 at sf0.1 —
    // the production floor the seed-codebook path (0.72/0.36) misses
    assert(recall >= 0.8, f"trained recall $recall%.2f below 0.8 floor")
  }

  test("trained PQ index persists: a cache-evicted rebuild reads the store") {
    import spark.implicits._
    val q = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val queries = q.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    def run() = Similarity.adcRefinedTrained(
        spark, q, queries, sf001, steps = 2, shortlist = 100, k = 5, nc = 64)
      .select($"q_id", $"c_id", $"rk").collect().map(_.toString).sorted
    val first = run()
    // resolve the CURRENT version root (the store is version-committed
    // since round 8 — listing the legacy in-place path only worked
    // while stale pre-round-8 dirs lingered in /dev/shm)
    def store = PersistedStore.currentRoot(spark, sf001, "pq_index_2_64")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/codes"))
      .map(s => s.getPath.getName -> s.getModificationTime).sortBy(_._1).toSeq
    val before = listing
    // a fresh session (simulated by cache eviction) must READ the
    // persisted index, not retrain it — and return identical results
    Similarity.pqIndexCache.clear()
    assert(run() === first)
    assert(listing === before,
      "cache-evicted search must reuse the persisted index, not rewrite it")
  }

  test("sparse entity resolution refines the dense entities, linear edges") {
    import spark.implicits._
    // the best-match graph is a subgraph of the verified pair graph, so
    // every sparse entity must sit INSIDE one dense entity (refinement) —
    // and edge volume is ≤ one per part by construction
    val edges = Dedup.fuzzyBestFrame(spark, sf001)
      .select($"key", $"best_key").collect()
    val nParts = graft.Tables.part(spark, sf001).count()
    assert(edges.length <= nParts, "more best-match edges than parts")
    val sparse = Dedup.entityResolve.build(spark, sf001)
      .select($"key", $"entity_id").as[(Long, Long)].collect().toMap
    val dense = Dedup.entityCluster.build(spark, sf001)
      .select($"key", $"entity_id").as[(Long, Long)].collect().toMap
    assert(sparse.keySet === dense.keySet, "both label every part")
    val coarser = sparse.groupBy(_._2).values
    coarser.foreach { members =>
      val denseIds = members.keys.map(dense).toSet
      assert(denseIds.size === 1,
        s"sparse entity ${members.head._2} spans dense entities $denseIds")
    }
    // singleton preservation: a part in no edge is its own entity
    val touched = edges.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    sparse.foreach { case (k, e) =>
      if (!touched.contains(k)) assert(e === k, s"singleton $k relabeled")
    }
  }

  test("fuzzy best-match agrees with the pairwise kernel, one row per matched part") {
    // reference: derive each part's best match from the SYMMETRIC
    // expansion of the exact pairwise kernel's output — the sparse
    // contract must be a pure reduction of the dense one
    val pairs = Dedup.fuzzyMatch.build(spark, sf001)
      .select($"brand", $"key_a", $"key_b", $"dist")
      .as[(String, Long, Long, Int)].collect()
    val expected = (pairs.map { case (br, a, b, d) => (br, a, b, d) } ++
        pairs.map { case (br, a, b, d) => (br, b, a, d) })
      .groupBy(_._2).map { case (k, rows) =>
        val best = rows.map { case (br, _, other, d) => (d, other, br) }.min
        (best._3, k, best._2, best._1)
      }.toSet
    val got = Dedup.fuzzyBest.build(spark, sf001)
      .select($"brand", $"key", $"best_key", $"best_dist")
      .as[(String, Long, Long, Int)].collect()
    assert(got.map(_._2).distinct.length === got.length,
      "one row per part")
    assert(got.toSet === expected)
  }

  test("fuzzy best-match exact tier: duplicate-name groups resolve without pair search") {
    // planted fixture: a triplicate name (tie-breaks + self-exclusion),
    // a near pair at distance 1, and a loner with no match
    val parts = Seq(
      (10L, "B#1", "red bolt"), (11L, "B#1", "red bolt"),
      (12L, "B#1", "red bolt"),
      (20L, "B#1", "blue gear"), (21L, "B#1", "blue gearr"),
      (30L, "B#1", "unrelated widget thing")
    ).toDF("p_partkey", "p_brand", "p_name")
    parts.createOrReplaceTempView("fuzzy_best_fixture")
    // run the op's logic against the fixture via a temp dir-less path:
    // reuse the SQL oracle shape as the reference and the op's tiers
    // indirectly through a local rebuild of the same plan
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"p_brand", $"p_name")
    val g1 = parts.withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("m1", min($"p_partkey").over(w))
    val gs = g1.withColumn("m2",
      min(when($"p_partkey" =!= $"m1", $"p_partkey")).over(w))
    val exact = gs.filter($"grp_n" >= 2)
      .select($"p_partkey".as("key"),
        when($"p_partkey" === $"m1", $"m2").otherwise($"m1").as("best_key"))
      .as[(Long, Long)].collect().toMap
    assert(exact === Map(10L -> 11L, 11L -> 10L, 12L -> 10L))
  }

  test("exact dedup groups normalized copies") {
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "other text")
    ).toDF("doc_id", "text")
    val got = docs
      .groupBy(regexp_replace(lower(trim($"text")), "\\s+", " ").as("norm"))
      .agg(min($"doc_id").as("rep"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got === Seq(("hello world", 1L, 2L), ("other text", 3L, 1L)))
  }

  test("multi-iteration IVF Lloyd: objective monotone up per step, converges") {
    val n = Similarity.quantized(spark, sf001)
    val (cb, trace) = Similarity.ivfLloydTrain(n, maxIters = 3)
    info(s"spherical objective trace: ${trace.mkString(" -> ")}")
    // at least the first Lloyd step must improve on the seed (the
    // one-step op already proves it improves mean best-cos)
    assert(trace.size >= 2, s"no improving step recorded: $trace")
    assert(trace.sliding(2).forall { case Seq(a, b) => b > a; case _ => true },
      s"objective trace not strictly increasing: $trace")
    assert(cb.count() > 0)
  }

  test("multi-iteration PQ Lloyd: distortion monotone down per step, converges") {
    val q = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", Similarity.quantize($"embedding").as("v"))
    val subs = Similarity.pqSubspaces(q)
    val cb0 = Similarity.pqSubspaces(q.filter($"vec_id" < 16))
      .select($"m", $"vec_id".as("cid"), $"sub8".as("cv8"))
    val (cb, trace) = Similarity.pqLloydTrain(subs, cb0, maxIters = 3)
    info(s"distortion trace: ${trace.mkString(" -> ")}")
    assert(trace.size >= 2, s"no improving step recorded: $trace")
    assert(trace.sliding(2).forall { case Seq(a, b) => b < a; case _ => true },
      s"distortion trace not strictly decreasing: $trace")
    // convergence stop: at most maxIters adopted steps ever
    assert(trace.size <= 4)
    assert(cb.count() > 0)
  }
}
