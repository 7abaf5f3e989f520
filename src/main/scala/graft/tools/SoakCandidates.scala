package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.{Dedup, Similarity, TextOps}

/** Dev harness (not part of the engine surface): the scale soak behind
  * PERF.md's candidate-growth table — for each scale-factor dir,
  * count the CANDIDATE pairs each banded/blocked dedup family generates
  * (pre-verification) next to the corpus size and the true near-dup
  * pair count, then print per-step log-log slopes. "Candidates ∝ true
  * near-dups, not n²" is the claim that makes these families 100 TB
  * shapes; this measures it instead of arguing it.
  *
  * `runMain graft.tools.SoakCandidates <sfDir> [<sfDir> ...]`
  */
object SoakCandidates {
  def main(args: Array[String]): Unit = {
    // optional --families=a,b,c restricts the measurement (the 100×
    // third-decade corpus runs only the flagship families; the known
    // quadratic reference kernels would dominate wall-clock there)
    val famFilter = args.find(_.startsWith("--families="))
      .map(_.stripPrefix("--families=").split(",").toSet)
    // --candonly skips the truth builds (full verified-output ops):
    // growth exponents are computed from CANDIDATE counts alone, and at
    // the third-decade corpus the truth pass's vector-carrying sort
    // spill exceeds a single box's disk — the candidate stage (ids
    // only, columns pruned under count) is the measurement that
    // matters and stays cheap at any decade.
    val candOnly = args.contains("--candonly")
    val dirArgs = args.filterNot(_.startsWith("--"))
    def keep(f: String): Boolean = famFilter.forall(_.contains(f))
    val dirs =
      if (dirArgs.nonEmpty) dirArgs.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Row(dir: String, docs: Long, parts: Long, vecs: Long,
        cand: Map[String, Long], truth: Map[String, Long])

    val rows = dirs.map { dir =>
      val docs = graft.Tables.documents(spark, dir).count()
      val parts = graft.Tables.part(spark, dir).count()
      val vecs = Similarity.quantized(spark, dir).count()
      val candThunks: Seq[(String, () => Long)] = Seq(
        "minhash" -> (() => Dedup.minhashCandidates(spark, dir).count()),
        // the REGISTERED q_simhash candidate stage (round 5): hybrid
        // 4×16/radius-3 banding ∪ minhash bands, scope+size filtered
        "simhash" -> (() => Dedup.simhashHybridCandidates(spark, dir).count()),
        // legacy single-tier 8×8/radius-7 (measured birthday-quadratic —
        // kept for the comparison row)
        "simhash8x8" -> (() => Dedup.simhashCandidates(spark, dir).count()),
        // the tight banded tier alone (4×16: 65536 buckets/band)
        "simhash4x16" -> (() => Dedup.simhashCandidatesOf(
          Dedup.simhashSignatures(spark, dir), 4, 16).count()),
        "ngram" -> (() => Dedup.ngramCandidates(
          Dedup.shingleRowsWithSize(spark, dir)).count()),
        // asymmetric containment: rare-shingle (df <= cap) blocking —
        // candidate volume bounded by cap * |rare postings|, linear
        "containment" -> (() => Dedup.containmentCandidates(
          Dedup.shingleRowsWithSize(spark, dir),
          Dedup.shingleRowsWithSize(spark, dir)
            .select(col("lang"), col("source"), col("doc_id"), col("s")),
          Dedup.ContainDfCap).count()),
        "fuzzy" -> (() => Dedup.fuzzyCandidates(spark, dir).count()),
        // sparse-output sibling: residual-tier candidates only (the
        // exact tier is a window pass with no pair enumeration)
        "fuzzybest" -> (() => Dedup.fuzzyBestCandidates(spark, dir).count()),
        // incremental delta-vs-corpus probe (round 5): delta bands
        // broadcast against the corpus band index
        "incremental" -> (() => Dedup.incrementalCandidates(spark, dir).count()),
        // kNN graph candidate edges (cell canopy, no label block) and
        // SemDeDup cluster-bounded ordered pairs — population = vectors
        "knn" -> (() => Similarity.knnCandidates(
          Similarity.quantized(spark, dir).withColumn("label", lit(0)))
          .count()),
        "semdedup" -> (() => Similarity.semdedupOrderedPairs(
          Similarity.semdedupAssign(spark, dir)).count()),
        // ordering/packing kernels (round 8): the window-over-bucket
        // shapes' work volume is the keyed row count they rank/sum —
        // docs×epochs for the shuffle, docs for pack/shard. The soak
        // EXECUTES the distributed window at each decade (the claim is
        // the bucketed decomposition keeps per-partition work flat, so
        // the kernel completes and scales linearly; a naive single
        // window funnels the corpus through one partition).
        "epoch" -> (() => graft.operators.Curation.epochShuffleOf(
          graft.Tables.documents(spark, dir).select(col("doc_id"))).count()),
        "pack" -> (() => graft.operators.Curation.packByPrefixSum(
          graft.Tables.documents(spark, dir).select(col("doc_id"),
            col("source"), graft.functions.TextAnalysis
              .bpeishTokenCount(col("text")).cast("long").as("n_tokens")),
          graft.operators.Curation.PackBudget).count()),
        "shard" -> (() => {
          val m = graft.operators.Curation.shardManifestOf(
            graft.operators.Curation.packByPrefixSum(
              graft.Tables.documents(spark, dir).select(col("doc_id"),
                col("source"), graft.functions.TextAnalysis
                  .bpeishTokenCount(col("text")).cast("long").as("n_tokens")),
              graft.operators.Curation.PackBudget))
          val r = m.agg(org.apache.spark.sql.functions.sum(col("n_docs")),
            org.apache.spark.sql.functions.count(lit(1))).head()
          r.getLong(0) // sharded docs — population-linear when healthy
        }),
        // round-9 packing siblings: work volume of the delta
        // continuation (delta rows packed against the high-water mark)
        // and the chunk packer's output packs (∝ corpus tokens /
        // stride) — both linear when the prefix-sum decomposition
        // holds at each decade
        "packincr" -> (() =>
          graft.operators.Curation.packIncrRows(spark, dir).count()),
        "packchunks" -> (() =>
          graft.operators.Curation.packChunks.build(spark, dir).count()),
        // round-9 compaction: the merged index's probed-cell volume
        // (N·nprobe² when every vector qualifies) — linear because the
        // delta is ASSIGNED against the stored codebook, never
        // retrained
        "imicompact" -> (() => graft.operators.Imi.compactUnion(
          spark, dir, graft.operators.Imi.CompactRetrainFrac).count()),
        // trained IMI canopy (round 8): occupancy-law sizing k1 =
        // ceil(sqrt(vecs/10)) keeps per-cell occupancy ~= 10 (candidate
        // volume linear) while the assignment pass scores only 2*k1
        // centroids per vector (vs the stride canopy's K = N/10 per
        // vector, the N*K compute that died at 200k vectors). The
        // assignment volume (vecs*2*k1 ~ N^1.5 with a tiny constant)
        // is printed so PERF.md can report it next to the candidates.
        "imi" -> (() => {
          val k1 = math.max(4, math.ceil(math.sqrt(vecs / 10.0)).toInt)
          println(s"[soak] $dir imi: k1=$k1 nprobe=${graft.operators.Imi.NProbeHalf}" +
            s" assignRows=${vecs * 2 * k1}")
          graft.operators.Imi.trainedCandidates(
            Similarity.quantized(spark, dir).withColumn("label", lit(0)),
            k1, graft.operators.Imi.NProbeHalf).count()
        }),
        // incremental ANN probe (round-8 third session): the standing
        // slice trains the law-sized IMI codebook; the delta slice is
        // ASSIGNED against it (delta·2k1 broadcast scores, map-only —
        // the index never retrains) and probed against the standing
        // cells. The measured volume is the delta→standing candidate
        // pairs; linearity here is the index-MAINTENANCE claim: a
        // delta batch pays occupancy-bounded probe work, never a
        // corpus rescan.
        "imidelta" -> (() => {
          val k1 = math.max(4, math.ceil(math.sqrt(vecs / 10.0)).toInt)
          val imi = graft.operators.Imi
          val e = Similarity.quantized(spark, dir)
            .withColumn("label", lit(0))
          val standing = e.filter(col("vec_id") % imi.DeltaMod =!= 0)
          val delta = e.filter(col("vec_id") % imi.DeltaMod === 0)
          val cb = imi.codebook(imi.halves(standing), k1,
            imi.LloydSteps).localCheckpoint()
          val sc = imi.cellsWithCodebook(standing, cb,
            imi.NProbeHalf).select(col("cell"), col("vec_id"))
          val dc = imi.cellsWithCodebook(delta, cb,
            imi.NProbeHalf).select(col("cell"), col("vec_id").as("src"))
          println(s"[soak] $dir imidelta: k1=$k1 " +
            s"deltaAssignRows=${delta.count() * 2 * k1}")
          dc.join(sc, Seq("cell")).count()
        }),
        // chunk-level dedup (round 8): a GROUP-style family — no
        // pairwise stage exists, so the measured volume is the chunk
        // rows the keeper MIN aggregate scans (map-only generate ⇒
        // population-linear by construction; the soak EXECUTES the
        // full kernel at each decade to prove it completes, and prints
        // the chunk volume next to the per-doc output count).
        "chunk" -> (() => {
          val chunks = TextOps.chunksOf(graft.Tables.documents(spark, dir))
          println(s"[soak] $dir chunk: chunkRows=${chunks.count()}")
          TextOps.chunkDedupOf(chunks).count()
        }),
        // incremental sibling: the delta's probe volume against the
        // standing keeper table — delta chunk rows, never the corpus.
        "chunkincr" -> (() => {
          val docs = graft.Tables.documents(spark, dir)
          val mod = Dedup.IncrementalDeltaMod
          val deltaChunks = TextOps.chunksOf(
            docs.filter(col("doc_id") % mod === 0))
          println(s"[soak] $dir chunkincr: deltaChunkRows=${deltaChunks.count()}")
          TextOps.chunkDedupIncrOf(deltaChunks,
            TextOps.chunkKeepersOf(TextOps.chunksOf(
              docs.filter(col("doc_id") % mod =!= 0)))).count()
        }),
        // BM25 match-log rows (query terms x matched postings) — the
        // volume the one real shuffle carries; population = docs.
        // NOTE: near-degenerate on the synthetic 10x corpus (its 31-word
        // vocabulary has ONE >=7-char term), same closed-vocabulary
        // saturation caveat as ngram.
        "bm25" -> (() => TextOps.bm25ProbeRows(spark, dir,
          graft.Tables.documents(spark, dir)
            .filter(col("doc_id") % TextOps.Bm25QueryMod === 0)).count()),
        // BPE induction work-per-round: the pair-stream the per-round
        // aggregate scans = Σ_types |syms| (upper bound across rounds —
        // round 0 is the max; merges only shrink it). The 100 TB claim
        // is Heaps-sublinear type growth: the corpus is scanned once,
        // every round after touches only this volume. Population = docs.
        "bpe" -> (() => {
          import org.apache.spark.sql.functions.{sum => fsum, length}
          val t = graft.operators.Bpe.wordFreqs(
            graft.Tables.documents(spark, dir)
              .filter(col("doc_id") % Dedup.IncrementalDeltaMod =!= 0))
            .agg(fsum(length(col("w")) + lit(1))).head()
          if (t.isNullAt(0)) 0L else t.getLong(0)
        }),
        // impact-pruned sibling: candidates bounded by |qterms| * P
        "bm25pruned" -> (() => TextOps.bm25PrunedIndex(spark, dir)
          .join(org.apache.spark.sql.functions.broadcast(
            TextOps.bm25RareIndex(spark, dir)
              .filter(col("doc_id") % TextOps.Bm25QueryMod === 0)
              .select(col("doc_id").as("qid"), col("term"))), Seq("term"))
          .filter(col("doc_id") =!= col("qid")).count()))
      val truthThunks: Seq[(String, () => Long)] = Seq(
        "minhash" -> (() => Dedup.minhashLsh.build(spark, dir).count()),
        "simhash" -> (() => Dedup.simhash.build(spark, dir).count()),
        "simhash8x8" -> (() => -1L), // candidate-stage-only measurement
        "simhash4x16" -> (() => -1L), // candidate-stage-only measurement
        "ngram" -> (() => Dedup.ngramJaccard.build(spark, dir).count()),
        "containment" -> (() => Dedup.containment.build(spark, dir).count()),
        "fuzzy" -> (() => Dedup.fuzzyMatch.build(spark, dir).count()),
        "fuzzybest" -> (() => Dedup.fuzzyBest.build(spark, dir).count()),
        "incremental" -> (() => Dedup.incrementalMatches(spark, dir).count()),
        "knn" -> (() => Similarity.knnGraph.build(spark, dir).count()),
        "semdedup" -> (() => Similarity.semdedup.build(spark, dir).count()),
        "imi" -> (() => -1L), // candidate-stage measurement (law sizing)
        "imidelta" -> (() => -1L), // candidate-stage measurement
        "epoch" -> (() => -1L), // work-volume measurement
        "pack" -> (() => -1L),
        "shard" -> (() => -1L),
        "packincr" -> (() => -1L), // work-volume measurement
        "packchunks" -> (() => -1L),
        "imicompact" -> (() => -1L),
        "chunk" -> (() => -1L), // work-volume measurement
        "chunkincr" -> (() => -1L),
        "bm25" -> (() => TextOps.bm25.build(spark, dir).count()),
        "bm25pruned" -> (() => TextOps.bm25Pruned.build(spark, dir).count()),
        "bpe" -> (() => -1L)) // candidate-stage-only measurement
      val cand = candThunks.filter(t => keep(t._1))
        .map { case (k, f) => k -> f() }.toMap
      val truth = truthThunks.filter(t => keep(t._1))
        .map { case (k, f) => k -> (if (candOnly) -1L else f()) }.toMap
      // containment band telemetry: the structural ceiling the blocking
      // claim rests on — qualifying df∈[2,cap] shingles and the exact
      // per-band pair bound Σ C(df,2); measured candidates must sit
      // under the bound, and the BOUND's growth is the scale claim
      if (keep("containment")) {
        val f = Dedup.shingleRowsWithSize(spark, dir)
          .groupBy(col("lang"), col("source"), col("s"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= Dedup.ContainDfCap)
        val a = f.agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n_band"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.expr("df*(df-1) div 2"))
            .as("bound")).head()
        println(s"[soak] $dir containment band: qualifying=${a.getLong(0)} " +
          s"pairBound=${if (a.isNullAt(1)) 0L else a.getLong(1)}")
      }
      // broadcastability of the standing BM25 index: rare-term postings
      // as a fraction of all (doc, term) postings
      if (keep("bm25")) {
        val allPostings = graft.Tables.documents(spark, dir)
          .select(col("doc_id"), org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(
              graft.functions.TextAnalysis.asciiLower(
                org.apache.spark.sql.functions.trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"))
            .as("term")).distinct().count()
        val idxRows = TextOps.bm25RareIndex(spark, dir).count()
        println(f"[soak] $dir bm25 index: $idxRows rows of $allPostings postings " +
          f"(${100.0 * idxRows / math.max(allPostings, 1)}%.1f%%)")
      }
      val r = Row(dir, docs, parts, vecs, cand, truth)
      println(s"[soak] ${r.dir}: docs=${r.docs} parts=${r.parts} " +
        s"vecs=${r.vecs} " +
        r.cand.toSeq.sortBy(_._1).map { case (k, v) =>
          s"$k=cand:${v},true:${r.truth(k)}" }.mkString(" "))
      r
    }

    // per-step growth exponents: slope = log(c2/c1) / log(n2/n1);
    // 2.0 = quadratic, 1.0 = linear in the blocking population
    println("[soak] family slopes per scale step (population = docs, " +
      "fuzzy = parts, knn/semdedup = vectors):")
    rows.sliding(2).foreach {
      case Seq(lo, hi) =>
        val fams = lo.cand.keys.toSeq.sorted
        val line = fams.map { f =>
          val n = if (f.startsWith("fuzzy")) (lo.parts, hi.parts)
            else if (f == "knn" || f == "semdedup" || f == "imi")
              (lo.vecs, hi.vecs)
            else (lo.docs, hi.docs)
          if (n._1 == n._2) s"$f=n/c" // same population, no slope
          else {
            val c = (math.max(lo.cand(f), 1L), math.max(hi.cand(f), 1L))
            val slope = math.log(c._2.toDouble / c._1) /
              math.log(n._2.toDouble / n._1)
            f"$f=$slope%.2f"
          }
        }.mkString(" ")
        println(s"[soak] ${lo.dir} -> ${hi.dir}: $line")
      case _ => ()
    }
    spark.stop()
  }
}
