package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Curation semantics the DuckDB oracles can't pin directly:
  * determinism across runs, the leakage-safety property of the split,
  * scrub completeness, and the repetition gate on crafted inputs. */
class CurationSpec extends SparkSpec {

  test("stratified sample is deterministic and respects per-stratum rates") {
    val s1 = Curation.stratifiedSample.build(spark, sf001)
    val s2 = Curation.stratifiedSample.build(spark, sf001)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // every kept row is under its stratum's bucket bound
    assert(s1.filter(col("lang") === "en" && col("bucket") >= 10).count() === 0)
    assert(s1.filter(col("lang") =!= "en" && col("bucket") >= 50).count() === 0)
    // both strata survive, and en is actually downsampled harder than
    // its corpus share (en dominates the corpus but not the sample)
    val total = graft.Tables.documents(spark, sf001).count().toDouble
    val enAll = graft.Tables.documents(spark, sf001)
      .filter(col("lang") === "en").count().toDouble
    val kept = s1.count().toDouble
    val enKept = s1.filter(col("lang") === "en").count().toDouble
    assert(enKept > 0 && enKept < kept)
    assert(enKept / kept < enAll / total)
  }

  test("temperature mix flattens shares toward uniform, preserving order") {
    val out = Curation.temperatureMix.build(spark, sf001).cache()
    // per-source BEFORE share vs expected AFTER share (factor·tokens)
    val by = out.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("t"),
        sum(col("factor") * col("n_tokens")).as("after"),
        sum(col("n_copies") * col("n_tokens")).as("copied"))
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble,
        r.getDouble(2), r.getLong(3).toDouble))
    assert(by.length > 1, "need multiple sources for mixing to mean anything")
    val total = by.map(_._2).sum
    val totalAfter = by.map(_._3).sum
    for (pair <- by.sortBy(-_._2).sliding(2) if pair.length == 2) {
      val Array((_, ti, ai, _), (_, tj, aj, _)) = pair
      // order preserved…
      assert(ai / totalAfter >= aj / totalAfter - 1e-12,
        "temperature must not invert source order")
      // …but ratios compressed (the α=1/2 property; skip near-ties
      // where the ~1e-5 integer-weight truncation could mask it)
      if (ti / tj > 1.001)
        assert((ai / aj) < (ti / tj) - 1e-12,
          s"share ratio must compress: after ${ai / aj} vs before ${ti / tj}")
    }
    // token budget approximately preserved: expected post-mix tokens == total
    // up to the integer-sqrt weight truncation; realized copies add the
    // per-doc lottery rounding on top
    assert(math.abs(totalAfter - total) / total < 0.02,
      s"expected post-mix budget drifted: $totalAfter vs $total")
    val copied = by.map(_._4).sum
    assert(math.abs(copied - total) / total < 0.05,
      s"realized copies drifted from budget: $copied vs $total")
    // low-resource upweighted: the smallest source's factor exceeds the
    // largest source's factor
    val fBySrc = out.select(col("source"), col("factor")).distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val smallest = by.minBy(_._2)._1
    val largest = by.maxBy(_._2)._1
    assert(fBySrc(smallest) > fBySrc(largest),
      "temperature must upweight the low-resource source")
    // determinism
    val again = Curation.temperatureMix.build(spark, sf001)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    out.unpersist()
  }

  test("train/test split never splits a source (leakage safety)") {
    val s = Curation.trainTestSplit.build(spark, sf001)
    val bySource = s.groupBy(col("source"))
      .agg(countDistinct(col("split")).as("n_splits"))
    assert(bySource.filter(col("n_splits") > 1).count() === 0)
    // both sides are populated at this corpus's source cardinality
    assert(s.filter(col("split") === "test").count() > 0)
    assert(s.filter(col("split") === "train").count() > 0)
  }

  test("pii scrub finds every planted decoy and leaves no match behind") {
    val s = Curation.piiScrub.build(spark, sf001).cache()
    // every 7th doc got an email decoy, every 11th a phone decoy
    assert(s.filter(col("doc_id") % 7 === 0 && col("n_emails") === 0)
      .count() === 0)
    assert(s.filter(col("doc_id") % 11 === 0 && col("n_phones") === 0)
      .count() === 0)
    // re-running the scrub over the SCRUBBED text must find nothing:
    // rebuild the augmented text, scrub it, and count leftovers
    val aug = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(""),
      when(col("doc_id") % 11 === 0, " call 555-0134").otherwise(""))
    val scrubbed = regexp_replace(
      regexp_replace(aug, Curation.EmailRe, "<EMAIL>"),
      Curation.PhoneRe, "<PHONE>")
    val leftovers = graft.Tables.documents(spark, sf001)
      .select(regexp_count(scrubbed, lit(Curation.EmailRe)).as("e"),
        regexp_count(scrubbed, lit(Curation.PhoneRe)).as("p"))
      .agg(sum(col("e") + col("p"))).collect().head.getLong(0)
    assert(leftovers === 0L)
    s.unpersist()
  }

  test("repetition gate scores crafted documents correctly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),        // 6 3-grams, 2 distinct
      (2L, "the quick brown fox jumps over the dog"), // all distinct
      (3L, "too short"),                              // <3 words → passes, ratio 0
      (4L, "a a a a a a a a a a"))                    // 1 distinct 3-gram
      .toDF("doc_id", "text")
    val nWords = size(split(lower(trim(col("text"))), "\\s+"))
    val total = greatest(nWords - 2, lit(0)).cast("long")
    val d3 = when(nWords >= 3,
      size(graft.functions.TextAnalysis.wordShingles(col("text"), 3))
        .cast("long")).otherwise(0L)
    val ratio = when(total > 0,
      (total - d3).cast("double") / total.cast("double")).otherwise(lit(0.0))
    val got = docs.select(col("doc_id"), ratio.as("r"),
        when(total > 0, ratio <= 0.2).otherwise(lit(true)).as("pass"))
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    assert(got(0)._2 > 0.6 && !got(0)._3)      // boilerplate fails
    assert(got(1)._2 === 0.0 && got(1)._3)     // natural text passes
    assert(got(2)._2 === 0.0 && got(2)._3)     // short doc passes
    assert(got(3)._2 > 0.8 && !got(3)._3)      // degenerate repeat fails
  }

  test("quality gate keeps exactly the at-or-above-P25 documents") {
    val g = Curation.qualityGate.build(spark, sf001).cache()
    val all = graft.Tables.documents(spark, sf001).count()
    val kept = g.count()
    // by construction ≥75% of docs sit at or above the 25th percentile
    assert(kept >= (all * 3) / 4 && kept < all)
    assert(g.filter(col("n_tokens") < col("p25")).count() === 0)
    g.unpersist()
  }

  test("fuzzy decontamination respects the split and broadcasts the bench side") {
    val df = Curation.decontaminateFuzzy.build(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty, "expected at least one cross-split near-dup")
    rows.foreach { r =>
      assert(r.getLong(0) % 29 != 0, s"train column holds a bench doc: $r")
      assert(r.getLong(1) % 29 == 0, s"bench column holds a train doc: $r")
      assert(r.getDouble(2) >= 0.5)
    }
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"bench side should broadcast into the candidate join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "no all-pairs fallback")
  }

  test("balanced sample: overselect gate ACTIVELY filters and loses nothing") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // a class LARGER than 4k (900 ≫ 4·5 = 20), so the lot threshold is
    // genuinely below the hash range and the gate must drop rows — the
    // corpus classes at spec SF are all under 4k, which would leave the
    // gate untested (it would pass every row and the test would compare
    // an ungated rank against itself)
    val k = 5L
    val docs = (1 to 900).map(i => (i.toLong, "en")) ++
      (901 to 1000).map(i => (i.toLong, "fr"))
    val df = docs.toDF("doc_id", "lang")
    val got = Curation.balancedSampleOf(df, k)
    // the gate is active: survivors of the en class are a strict subset
    val thresholdEn = 4L * k * 1000000007L / 900L
    val enSurvivors = df.filter($"lang" === "en" &&
      Curation.idLot($"doc_id") < thresholdEn).count()
    assert(enSurvivors < 900, "gate must filter the large class")
    assert(enSurvivors >= k, s"overselect shortfall: $enSurvivors < $k")
    // and loses nothing vs the ungated full per-class rank
    val want = df.select($"doc_id", $"lang", Curation.idLot($"doc_id").as("lot"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number.over(
        Window.partitionBy($"lang").orderBy($"lot", $"doc_id")))
      .filter($"rk" <= k)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "two-phase sample must equal the full per-class rank")
    val kept = got.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(kept == Map("en" -> k, "fr" -> k))
  }

  test("balanced sample over the corpus: every class filled to min(k, n)") {
    import spark.implicits._
    val got = Curation.balancedSample.build(spark, sf001)
    val sizes = graft.Tables.documents(spark, sf001)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val kept = got.groupBy($"lang").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (lang, n) =>
      assert(kept.getOrElse(lang, 0L) == math.min(Curation.BalancedK.toLong, n),
        s"class $lang: kept ${kept.get(lang)} of $n")
    }
  }

  test("epoch shuffle: per-epoch permutation, epochs differ, bucketed " +
    "positions equal the single-window reference, batches fixed-size") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val out = Curation.epochShuffle.build(spark, sf001).cache()
    val n = graft.Tables.documents(spark, sf001).count()
    // (1) positions are a dense permutation 1..N per epoch
    (0L until Curation.EpochCount.toLong).foreach { e =>
      val pos = out.filter($"epoch" === e).select($"pos")
        .as[Long].collect().sorted
      assert(pos.toSeq === (1L to n), s"epoch $e positions not a permutation")
    }
    // (2) epochs are DIFFERENT permutations (the salt works)
    val byEpoch = out.select($"epoch", $"doc_id", $"pos")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(byEpoch(0L) !== byEpoch(1L), "epoch orders identical")
    // (3) bucketed dense rank equals the direct single-window form
    val docs = graft.Tables.documents(spark, sf001).select($"doc_id")
    val ref = docs
      .select($"doc_id",
        explode(sequence(lit(0L), lit(Curation.EpochCount - 1L))).as("epoch"))
      .withColumn("hk", ($"doc_id" * 1103515245L + 12345L +
        $"epoch" * 2654435761L) % 2147483648L)
      .withColumn("pos", row_number().over(
        Window.partitionBy($"epoch").orderBy($"hk", $"doc_id")).cast("long"))
      .select($"epoch", $"doc_id", $"pos")
    val gotPos = out.select($"epoch", $"doc_id", $"pos")
    assert(gotPos.exceptAll(ref).isEmpty && ref.exceptAll(gotPos).isEmpty,
      "bucketed positions diverge from the single-window reference")
    // (4) every batch is exactly ShuffleBatch docs except each epoch's last
    val bad = out.groupBy($"epoch", $"batch_id").count()
      .withColumn("mx", max($"batch_id").over(Window.partitionBy($"epoch")))
      .filter($"count" =!= Curation.ShuffleBatch && $"batch_id" =!= $"mx")
    assert(bad.isEmpty, "non-final batch with wrong size")
    out.unpersist()
  }

  test("pack stats reconcile against the pack assignment; fill and " +
    "overflow laws hold") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf001)
    val packs = Curation.packByPrefixSum(docs.select($"doc_id", $"source",
      graft.functions.TextAnalysis.bpeishTokenCount($"text")
        .cast("long").as("n_tokens")), Curation.PackBudget)
      .select($"source", $"pack_id", $"n_tokens")
      .as[(String, Long, Long)].collect()
    val want = packs.groupBy(_._1).map { case (src, rs) =>
      val byPack = rs.groupBy(_._2).map { case (_, g) =>
        (g.map(_._3).sum, g.size.toLong) }.toSeq
      val (tok, docsN) = (byPack.map(_._1).sum, byPack.map(_._2).sum)
      src -> ((byPack.size.toLong, docsN, tok,
        1000L * tok / (byPack.size * Curation.PackBudget),
        byPack.count(_._1 > Curation.PackBudget).toLong,
        byPack.map(_._1).max))
    }
    val got = Curation.packStats.build(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === want)
    assert(got.nonEmpty)
    // the prefix-sum law: a pack holds <= budget + one overflowing doc,
    // so max_pack_tokens - budget is bounded by the largest single doc
    val maxDoc = packs.map(_._3).max
    got.values.foreach { case (_, _, _, _, _, maxPack) =>
      assert(maxPack <= Curation.PackBudget + maxDoc,
        "a pack overflowed by more than one document")
    }
  }

  test("shard manifest: conserves totals, every shard populated, " +
    "hash law balances tokens") {
    import spark.implicits._
    val m = Curation.shardManifest.build(spark, sf001).cache()
    val docs = graft.Tables.documents(spark, sf001)
    val nDocs = docs.count()
    val nTokens = docs.select(
      sum(graft.functions.TextAnalysis.bpeishTokenCount($"text").cast("long"))).as[Long].head()
    val rows = m.collect()
    assert(rows.length === Curation.NumShards, "a shard is empty")
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    assert(rows.map(_.getAs[Long]("total_tokens")).sum === nTokens)
    rows.foreach { r =>
      val c = r.getAs[Long]("checksum")
      assert(c >= 0L && c < 2147483648L, s"checksum $c out of range")
    }
    // hash-law balance: with ~60 packs the spread is ~1/sqrt(n/8);
    // anything past 4x means the mix regressed to a degenerate law
    val toks = rows.map(_.getAs[Long]("total_tokens"))
    assert(toks.max.toDouble / toks.min < 4.0,
      s"shard token imbalance ${toks.mkString(",")}")
    // a pack never splits: (source, pack_id) maps to exactly one shard
    assert(rows.map(_.getAs[Long]("n_packs")).sum ===
      Curation.packByPrefixSum(docs.select($"doc_id", $"source",
          graft.functions.TextAnalysis.bpeishTokenCount($"text").cast("long").as("n_tokens")),
        Curation.PackBudget)
        .select($"source", $"pack_id").distinct().count())
    m.unpersist()
  }

  private def docScans(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    plan.collectWithSubqueries {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.mkString(",")
            .contains("documents.parquet") => s
    }.size
  }

  test("pipeline e2e: the corpus text is read at most twice end-to-end " +
    "(one gated metrics scan; every other stage input is a shared index)") {
    // the ONE text read: the fused metrics pass scans documents exactly
    // once, and carries all three downstream laws' inputs
    val metrics = Curation.pipelineDocMetrics(spark, sf001)
    assert(docScans(metrics.queryExecution.executedPlan) === 1,
      "metrics pass must be a single fused documents scan")
    // warm the shared indexes (their one-time build pays its own reads)
    graft.operators.GraphOps.dupClustersIncremental.build(spark, sf001).count()
    Curation.decontaminate.build(spark, sf001).count()
    // steady state: the composed pipeline AFTER the checkpointed
    // metrics pass touches the corpus text at most once more (the
    // session-cached gram rows / persisted labels are RDD or store
    // scans, not documents reads)
    val out = Curation.pipelineE2e.build(spark, sf001)
    assert(docScans(out.queryExecution.executedPlan) <= 1,
      "post-metrics pipeline must ride shared indexes, not re-scan text")
    assert(out.count() > 0)
  }

  test("pipeline e2e: manifest covers exactly the cleaned+mixed docs " +
    "and stage gates actually bite") {
    import spark.implicits._
    val out = Curation.pipelineE2e.build(spark, sf001).cache()
    val clean = Curation.cleanCorpus.build(spark, sf001).cache()
    val docs = graft.Tables.documents(spark, sf001)
    val total = docs.count()
    val keptClean = clean.filter($"kept").count()
    val manifestDocs = out.agg(sum($"n_packs"), sum($"n_docs"))
      .head.getLong(1)
    // pipeline output ⊆ cleaned corpus (mix + bench exclusion shrink it)
    assert(manifestDocs > 0 && manifestDocs <= keptClean,
      s"manifest docs $manifestDocs vs cleaned $keptClean")
    assert(manifestDocs < total, "no gate bit — pipeline kept everything")
    // bench slice is excluded by construction: re-derive the selection
    // and check no doc_id % 29 == 0 packs
    clean.unpersist(); out.unpersist()
  }

  test("pipeline doc-metrics cache == fresh computation (parity), and " +
    "the capstone rides it") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"source", $"n_tokens", $"rep_pass")
        .as[(Long, String, Long, Boolean)].collect().sorted
    val fresh = key(Curation.pipelineDocMetrics(spark, sf001))
    Curation.pipelineMetricsCache.clear()
    val cached1 = key(Curation.pipelineDocMetricsCached(spark, sf001))
    val cached2 = key(Curation.pipelineDocMetricsCached(spark, sf001))
    assert(cached1 === fresh.toSeq)
    assert(cached2 === fresh.toSeq)
  }

  test("incremental pack == the batch law restricted to the delta " +
    "(SUM monoid: the high-water mark continues the prefix sum " +
    "exactly)") {
    import spark.implicits._
    val split = Curation.packSplitId(spark, sf001)
    val batch = Curation.packByPrefixSum(
      graft.Tables.documents(spark, sf001)
        .select(col("doc_id"), col("source"),
          graft.functions.TextAnalysis.bpeishTokenCount(col("text"))
            .cast("long").as("n_tokens")), Curation.PackBudget)
      .filter(col("doc_id") >= split)
      .select($"doc_id", $"source", $"n_tokens", $"pack_id")
      .as[(Long, String, Long, Long)].collect().sorted
    val incr = Curation.packIncr.build(spark, sf001)
      .select($"doc_id", $"source", $"n_tokens", $"pack_id")
      .as[(Long, String, Long, Long)].collect().sorted
    assert(incr.nonEmpty)
    assert(incr === batch.toSeq)
    // the continuation is real: some delta pack id is > 0 (the high-
    // water mark pushed it past the first window)
    assert(incr.exists(_._4 > 0), "delta packs never left pack 0 — " +
      "the high-water mark is not being applied")
  }

  test("packContinuing folded over id-ordered micro-batches == the " +
    "single-pass incremental law (the hwm advance loses nothing)") {
    import spark.implicits._
    val split = Curation.packSplitId(spark, sf001)
    val delta = graft.Tables.documents(spark, sf001)
      .filter(col("doc_id") >= split)
      .select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.bpeishTokenCount(col("text"))
          .cast("long").as("n_tokens"))
      .localCheckpoint()
    val ids = delta.select(min($"doc_id"), max($"doc_id"))
      .as[(Long, Long)].head()
    val cut1 = ids._1 + (ids._2 - ids._1) / 3
    val cut2 = ids._1 + 2 * (ids._2 - ids._1) / 3
    val batches = Seq(
      delta.filter($"doc_id" < cut1),
      delta.filter($"doc_id" >= cut1 && $"doc_id" < cut2),
      delta.filter($"doc_id" >= cut2))
    var hwm = Curation.standingPackHwm(spark, sf001)
      .select($"source", $"standing_tokens")
    val folded = batches.flatMap { b =>
      val packed = Curation.packContinuing(b, hwm).localCheckpoint()
      hwm = Curation.advancePackHwm(hwm, packed).localCheckpoint()
      packed.as[(Long, String, Long, Long)].collect()
    }.sorted
    val single = Curation.packIncrRows(spark, sf001)
      .select($"doc_id", $"source", $"n_tokens", $"pack_id")
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    assert(folded.nonEmpty && batches.forall(_.count() > 0))
    assert(folded === single)
  }

  test("NULL group keys survive the packing kernels (dim 7, r12): a " +
    "NULL source packs as ONE group, is never dropped, and the hwm " +
    "merge keeps it a single row") {
    import spark.implicits._
    // docs across three sources incl. NULL; n_tokens 300 each so the
    // 512 budget splits every source at the second doc
    val d = Seq(
      (1L, Some("a"), 300L), (2L, Some("a"), 300L),
      (3L, None, 300L), (4L, None, 300L), (5L, None, 300L),
      (6L, Some("b"), 300L))
      .toDF("doc_id", "source", "n_tokens")
      .select($"doc_id", $"source", $"n_tokens")
    val packed = Curation.packByPrefixSum(d, 512L)
      .as[(Long, Option[String], Long, Long)].collect().sortBy(_._1)
    assert(packed.length === 6, "no row may drop on a NULL key")
    // NULL source is one group: prefix sum 0,300,600 → packs 0,0,1
    val nulls = packed.filter(_._2.isEmpty).map(r => r._1 -> r._4)
    assert(nulls.toSeq === Seq(3L -> 0L, 4L -> 0L, 5L -> 1L))
    // hwm merge: NULL rows from both sides fold to ONE row
    val hwm = Seq((Option.empty[String], 1000L), (Some("a"), 10L))
      .toDF("source", "standing_tokens")
    val advanced = Curation.advancePackHwm(hwm,
      d.select($"doc_id", $"source", $"n_tokens"))
      .as[(Option[String], Long)].collect().toMap
    assert(advanced(None) === 1900L, "standing 1000 + batch 900, ONE row")
    assert(advanced(Some("a")) === 610L)
    assert(advanced(Some("b")) === 300L)
    assert(advanced.size === 3)
    // continuation: NULL delta rows pick up the NULL standing offset
    val cont = Curation.packContinuing(
      d.filter($"source".isNull), hwm, 512L)
      .as[(Long, Option[String], Long, Long)].collect().sortBy(_._1)
    // offsets 1000,1300,1600 → packs 1,2,3
    assert(cont.map(_._4).toSeq === Seq(1L, 2L, 3L))
  }

  test("streaming pack (foreachBatch + hwm store) == the incremental " +
    "batch law, row for row") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"source", $"n_tokens", $"pack_id")
        .as[(Long, String, Long, Long)].collect().sorted.toSeq
    val stream = rows(StreamingOps.streamPack.build(spark, sf001))
    val batch = rows(Curation.packIncr.build(spark, sf001))
    assert(stream.nonEmpty)
    assert(stream === batch)
  }

  test("incremental shard manifest folds into the full manifest " +
    "(token totals, doc counts and checksums are monoids)") {
    import spark.implicits._
    def byShard(df: org.apache.spark.sql.DataFrame) =
      df.select($"shard_id", $"n_docs", $"total_tokens", $"checksum")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val full = byShard(Curation.shardManifest.build(spark, sf001))
    val delta = byShard(Curation.shardManifestIncr.build(spark, sf001))
    val split = Curation.packSplitId(spark, sf001)
    val standing = byShard(Curation.shardManifestOf(
      Curation.packByPrefixSum(graft.Tables.documents(spark, sf001)
        .filter(col("doc_id") < split)
        .select(col("doc_id"), col("source"),
          graft.functions.TextAnalysis.bpeishTokenCount(col("text"))
            .cast("long").as("n_tokens")), Curation.PackBudget)))
    assert(delta.nonEmpty && standing.nonEmpty)
    val shards = full.keySet
    assert(shards === (standing.keySet ++ delta.keySet))
    shards.foreach { s =>
      val (sd, st, sc) = standing.getOrElse(s, (0L, 0L, 0L))
      val (dd, dt, dc) = delta.getOrElse(s, (0L, 0L, 0L))
      val (fd, ft, fc) = full(s)
      assert(sd + dd === fd, s"shard $s doc count does not fold")
      assert(st + dt === ft, s"shard $s token total does not fold")
      assert((sc + dc) % 2147483648L === fc,
        s"shard $s checksum does not fold")
    }
  }

  test("incremental mix == the batch factors restricted to the delta " +
    "(per-source totals fold from the high-water mark)") {
    import spark.implicits._
    val split = Curation.packSplitId(spark, sf001)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"source", $"factor", $"n_copies")
        .as[(Long, String, Double, Long)].collect().sorted
    val batch = key(Curation.mixAssembly.build(spark, sf001)
      .filter(col("doc_id") >= split))
    val incr = key(Curation.mixIncr.build(spark, sf001))
    assert(incr.nonEmpty)
    assert(incr === batch.toSeq)
  }

  test("chunk packing: zero overflow BY LAW, split docs across packs, " +
    "reassembly witness re-derivable, fill beats the doc law's " +
    "budget-respecting fill") {
    import spark.implicits._
    val packs = Curation.packChunks.build(spark, sf001).cache()
    // (1) zero overflow — the stride reserves headroom for one
    // maximal chunk, so the budget is a HARD bound
    val over = packs.filter(col("pack_words") > Curation.PackBudget)
    assert(over.count() === 0, "a chunk pack exceeded the budget")
    // (2) split-capable: some document's chunks span >= 2 packs
    val chunks = TextOps.chunksWithSource(
      graft.Tables.documents(spark, sf001))
      .withColumn("k", col("doc_id") * TextOps.ChunkPack + col("chunk_idx"))
    val assigned = Curation.precedingBySource(
      chunks.select(col("k"), col("source"), col("doc_id"),
        col("chunk_idx"), col("chunk_fp"), col("n_words").as("n_tokens")),
      "k", shift = Curation.PackBucketShift + 20)
      .select(col("doc_id"), col("source"), col("k"), col("chunk_fp"),
        expr(s"preceding_tokens div ${Curation.ChunkPackStride}")
          .as("pack_id"))
    val spanning = assigned.groupBy(col("doc_id"))
      .agg(countDistinct(col("pack_id")).as("np")).filter(col("np") >= 2)
    assert(spanning.count() > 0,
      "no document splits across packs — the sibling is not exercising " +
        "its reason to exist")
    // (3) the pack_fp witness is re-derivable from the chunk stream
    val want = assigned
      .groupBy(col("source"), col("pack_id"))
      .agg(aggregate(transform(array_sort(collect_list(
        struct(col("k"), col("chunk_fp")))), e => e.getField("chunk_fp")),
        lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L).as("fp"))
      .select($"source", $"pack_id", $"fp")
      .as[(String, Long, Long)].collect().sorted
    val got = packs.select($"source", $"pack_id", $"pack_fp")
      .as[(String, Long, Long)].collect().sorted
    assert(got === want.toSeq)
    // (4) fill: among packs that RESPECT the budget the chunk law
    // fills strictly better than the whole-doc law (whose aggregate
    // fill only looks higher because overflow counts as fill)
    val chunkFill = {
      val r = packs.agg(sum($"pack_words").as("w"),
        count(lit(1)).as("n")).collect()(0)
      1000.0 * r.getLong(0) / (r.getLong(1) * Curation.PackBudget)
    }
    val docPacks = Curation.packByPrefixSum(
      graft.Tables.documents(spark, sf001)
        .select(col("doc_id"), col("source"),
          graft.functions.TextAnalysis.bpeishTokenCount(col("text"))
            .cast("long").as("n_tokens")), Curation.PackBudget)
      .groupBy(col("source"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("pt"))
    val docFillInBudget = {
      val r = docPacks.filter(col("pt") <= Curation.PackBudget)
        .agg(sum($"pt").as("w"), count(lit(1)).as("n")).collect()(0)
      1000.0 * r.getLong(0) / (r.getLong(1) * Curation.PackBudget)
    }
    info(f"chunk-law fill=$chunkFill%.1f permille; doc-law " +
      f"budget-respecting fill=$docFillInBudget%.1f permille")
    assert(chunkFill > docFillInBudget,
      "chunk packing must out-fill the doc law's budget-respecting packs")
    packs.unpersist()
  }

  test("backfilled chunk packing: zero overflow in ALL classes, " +
    "committed full packs tile the budget exactly, nothing lost to " +
    "the pool, witness intact, fill beats the single-class law") {
    import spark.implicits._
    val packs = Curation.packChunksFill.build(spark, sf001).cache()
    // (1) hard budget everywhere — full, partial AND pool classes
    assert(packs.filter(col("pack_words") > Curation.PackBudget)
      .count() === 0, "a backfilled pack exceeded the budget")
    assert(packs.select($"pack_class").distinct().as[Long].collect()
      .toSet.subsetOf(Set(0L, 1L, 2L)))
    // (2) the full class is EXACT: per-source tails moved to the pool,
    // so EVERY committed full-class pack holds precisely the budget
    assert(packs.filter($"pack_class" === 0L &&
      $"pack_words" =!= Curation.PackBudget).count() === 0,
      "every committed full-class pack must hold exactly the budget")
    // pool packs are labeled, never source-named
    assert(packs.filter($"pack_class" === 2L &&
      $"source" =!= Curation.PoolSource).count() === 0)
    assert(packs.filter($"pack_class" =!= 2L &&
      $"source" === Curation.PoolSource).count() === 0)
    // (3) conservation: every chunk of the corpus lands in exactly one
    // pack — totals reconcile against the raw chunk stream
    val chunks = TextOps.chunksWithSource(
      graft.Tables.documents(spark, sf001)).cache()
    val wantTotals = chunks.agg(
      count(lit(1)).as("n"), sum($"n_words".cast("long")).as("w"))
      .as[(Long, Long)].collect().head
    val gotTotals = packs.agg(
      sum($"n_chunks").as("n"), sum($"pack_words").as("w"))
      .as[(Long, Long)].collect().head
    assert(gotTotals === wantTotals,
      "pooling must move chunks, never drop or duplicate them")
    // (the pack_fp reassembly witness itself is proven hash-exact by
    // the DuckDB oracle on every verify run — the independent replay
    // of all three laws)
    // (4) fill strictly beats the single-class chunk law (both laws
    // respect the budget, so the comparison is apples-to-apples)
    def fill(df: org.apache.spark.sql.DataFrame): Double = {
      val r = df.agg(sum($"pack_words").as("w"), count(lit(1)).as("n"))
        .collect()(0)
      1000.0 * r.getLong(0) / (r.getLong(1) * Curation.PackBudget)
    }
    val single = fill(Curation.packChunks.build(spark, sf001))
    val backed = fill(packs)
    info(f"backfilled fill=$backed%.1f permille vs single-class " +
      f"$single%.1f permille")
    assert(backed > single,
      "the size-class law must out-fill the single-class chunk law")
    chunks.unpersist()
    packs.unpersist()
  }
}
