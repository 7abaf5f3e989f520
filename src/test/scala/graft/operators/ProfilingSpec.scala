package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Crafted-data semantics for the round-3 profiling/curation additions:
  * MAD anomaly stats, bigram LM counts, embedding centroid outliers,
  * and the equi-width histogram (corpus oracles pin the aggregate
  * contract; these pin the per-case rules). */
class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  // ---- madStats -----------------------------------------------------
  private def mad(rows: Seq[(Long, Long)]): Map[Long, (Long, Double, Double, Long)] =
    Analytics.madStats(rows.toDF("user_id", "qc"))
      .select($"user_id", $"n_events", $"med_cents", $"mad_cents", $"n_outliers")
      .as[(Long, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("madStats: even-count median interpolates, 3xMAD cuts the spike") {
    // qc = [10,12,14,100] -> med 13.0; dev [3,1,1,87] -> mad 2.0; 87 > 6
    val s = mad(Seq((1L, 10L), (1L, 12L), (1L, 14L), (1L, 100L)))
    assert(s(1L) === ((4L, 13.0, 2.0, 1L)))
  }

  test("madStats: constant series has MAD 0 and no outliers (strict >)") {
    val s = mad(Seq((1L, 42L), (1L, 42L), (1L, 42L)))
    assert(s(1L) === ((3L, 42.0, 0.0, 0L)))
  }

  test("madStats: users are independent") {
    val s = mad(Seq((1L, 0L), (1L, 1000L), (2L, 5L)))
    assert(s(1L)._1 === 2L && s(2L) === ((1L, 5.0, 0.0, 0L)))
  }

  // ---- winsorizedStats ----------------------------------------------
  private def wins(rows: Seq[(String, Long)]) =
    Analytics.winsorizedStats(rows.toDF("flag", "cents"))
      .select($"flag", $"n_rows", $"lo_cents", $"hi_cents",
        $"winsorized_sum_cents", $"n_clip_low", $"n_clip_high")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap

  test("winsorizedStats: rank bounds clip exactly the tails") {
    // A: 1..20 -> lo = value@rank ceil(20/20)=1 -> 1,
    //            hi = value@rank ceil(19*20/20)=19 -> 19,
    //            sum = (1+..+19) + 19 = 209, one high clip
    val a = (1L to 20L).map(("A", _))
    // B: 1x1, 99x5, 1x1000 (n=101) -> lo rank 6 -> 5, hi rank 96 -> 5,
    //    both tails clip to 5, sum = 101*5
    val b = Seq(("B", 1L)) ++ Seq.fill(99)(("B", 5L)) ++ Seq(("B", 1000L))
    val s = wins(a ++ b)
    assert(s("A") === ((20L, 1L, 19L, 209L, 0L, 1L)))
    assert(s("B") === ((101L, 5L, 5L, 505L, 1L, 1L)))
  }

  test("winsorizedStats: groups are independent, singleton group is its own bound") {
    val s = wins(Seq(("X", 7L), ("Y", 1L), ("Y", 2L)))
    // singleton: lo rank 1 -> 7, hi rank 1 -> 7, nothing clips
    assert(s("X") === ((1L, 7L, 7L, 7L, 0L, 0L)))
    assert(s("Y")._5 === 0L && s("Y")._6 === 0L) // n=2: lo rank 1, hi rank 2
    assert(s("Y") === ((2L, 1L, 2L, 3L, 0L, 0L)))
  }

  // ---- bigramTopK ---------------------------------------------------
  test("bigramTopK: counts adjacent pairs, ranks by count then word") {
    val docs = Seq((1L, "a b a b c"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextOps.bigramTopK(docs, 3)
      .select($"w1", $"w2", $"cnt", $"rk").as[(String, String, Long, Int)]
      .collect().toSet
    assert(got === Set(
      ("a", "b", 2L, 1),
      ("b", "a", 2L, 1),
      ("b", "c", 1L, 2)))
  }

  test("bigramTopK: k truncates per head; single-token docs emit nothing") {
    val docs = Seq((1L, "x a. x b! x b?"), (2L, "lonely")).toDF("doc_id", "text")
    val got = TextOps.bigramTopK(docs, 1)
      .select($"w1", $"w2").as[(String, String)].collect().toSet
    // heads: a->x, b->x(2), x->{a:1,b:2} -> k=1 keeps (x,b); "lonely" none
    assert(got === Set(("a", "x"), ("b", "x"), ("x", "b")))
  }

  // ---- collocationsOf ------------------------------------------------
  test("collocations: lift = N*n12/(n1*n2), count floor applies, " +
    "ranks descend by lift with deterministic ties") {
    // "qq zz" always adjacent (perfect collocation), "aa" frequent and
    // promiscuous (low lift), "rare pair" below the count floor
    val docs = Seq(
      (1L, "qq zz aa bb qq zz aa cc qq zz aa dd rare pair"),
      (2L, "qq zz aa ee qq zz aa ff qq zz rare pair"),
      (3L, "aa qq zz aa gg qq zz aa hh qq zz")).toDF("doc_id", "text")
    val got = TextOps.collocationsOf(docs).collect()
    val rks = got.map(_.getAs[Int]("rk")).toSeq
    assert(rks === (1 to got.length), "ranks must be consecutive from 1")
    // floor: every reported pair has n12 >= CollocMinCount; the 2x
    // "rare pair" bigram must be absent
    assert(got.forall(_.getAs[Long]("n12") >= TextOps.CollocMinCount))
    assert(!got.exists(r => r.getAs[String]("w1") == "rare"))
    // formula recomputed driver-side from the fixture's token stream
    val toks = docs.collect().flatMap(
      _.getString(1).toLowerCase.split("[^a-z]+").filter(_.nonEmpty))
    val n = toks.length.toDouble
    def cnt(w: String) = toks.count(_ == w).toDouble
    got.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      val want = n * r.getAs[Long]("n12") / (cnt(w1) * cnt(w2))
      assert(math.abs(r.getAs[Double]("lift") - want) < 1e-9,
        s"lift($w1,$w2)")
    }
    // lift order is non-increasing; (qq,zz) is the perfect collocation
    val lifts = got.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
    val top = got.find(_.getAs[Int]("rk") == 1).get
    assert((top.getAs[String]("w1"), top.getAs[String]("w2")) ===
      (("qq", "zz")))
  }

  test("session-cached chunk index equals fresh chunksWithSource") {
    val cached = TextOps.chunkIndex(spark, sf001)
    val fresh = TextOps.chunksWithSource(graft.Tables.documents(spark, sf001))
    assert(cached.exceptAll(fresh).isEmpty && fresh.exceptAll(cached).isEmpty,
      "cached chunk index drifted from deterministic reconstruction")
  }

  // ---- chunkDedupOf ---------------------------------------------------
  test("chunkDedup: global first-keeper by (doc_id, chunk_idx), " +
    "full-duplicate doc keeps zero, kept_fp folds surviving fps in order") {
    // chunks are ChunkWords-word slices; craft docs whose texts repeat
    // a 32-word block so chunk fingerprints collide across docs
    val block = (1 to TextOps.ChunkWords).map(i => s"w$i").mkString(" ")
    val other = (1 to TextOps.ChunkWords).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block $other"), // first occurrence of both chunks
      (2L, s"$block $block"), // both chunks are dups of doc 1's first
      (3L, s"$other tail words here")
    ).toDF("doc_id", "text")
    val chunks = TextOps.chunksOf(docs)
    val got = TextOps.chunkDedupOf(chunks).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("kept_fp"))).toMap
    assert(got(1L)._1 === 2 && got(1L)._2 === 2, "doc 1 keeps both")
    assert(got(2L)._1 === 2 && got(2L)._2 === 0,
      "doc 2 is all duplicate chunks")
    assert(got(3L)._1 === 2 && got(3L)._2 === 1,
      "doc 3's first chunk duplicates doc 1's second")
    // kept_fp recomputed driver-side: fold 31-hash over surviving fps
    val fps = chunks.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        r.getAs[Long]("chunk_fp")).toMap
    def fold(xs: Seq[Long]) =
      xs.foldLeft(0L)((a, x) => (a * 31 + x) % 1000000007L)
    assert(got(1L)._3 === fold(Seq(fps((1L, 0L)), fps((1L, 1L)))))
    assert(got(2L)._3 === fold(Nil), "empty fold seeds at 0")
    assert(got(3L)._3 === fold(Seq(fps((3L, 1L)))))
  }

  // ---- chunkDedupIncrOf -----------------------------------------------
  test("chunkDedupIncr: delta fold against the standing keeper table " +
    "equals the batch law restricted to delta docs, both boundary " +
    "directions") {
    val blk = (c: Char) =>
      (1 to TextOps.ChunkWords).map(i => s"$c$i").mkString(" ")
    val (a, b, c) = (blk('a'), blk('b'), blk('c'))
    // standing = doc_id % 10 != 0, delta = % 10 == 0.
    //   doc 1  (standing): A B    — corpus-first keeper of A and B
    //   doc 10 (delta):    A C    — A dups standing doc 1; C is corpus-
    //                              first IN THE DELTA (doc 11 > doc 10)
    //   doc 11 (standing): C      — later-key standing copy of C: the
    //                              delta must WIN this keeper
    //   doc 20 (delta):    C C    — all chunks dup doc 10's C
    val docs = Seq(
      (1L, s"$a $b"), (10L, s"$a $c"), (11L, c), (20L, s"$c $c")
    ).toDF("doc_id", "text")
    val delta = TextOps.chunksOf(docs.filter($"doc_id" % 10 === 0))
    val standingK = TextOps.chunkKeepersOf(
      TextOps.chunksOf(docs.filter($"doc_id" % 10 =!= 0)))
    val incr = TextOps.chunkDedupIncrOf(delta, standingK)
      .collect().map(_.toString).sorted
    val batch = TextOps.chunkDedupOf(TextOps.chunksOf(docs))
      .filter($"doc_id" % 10 === 0).collect().map(_.toString).sorted
    assert(incr === batch, "incremental fold must equal the batch law")
    val byDoc = TextOps.chunkDedupIncrOf(delta, standingK).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"))).toMap
    assert(byDoc(10L) === ((2L, 1L)),
      "doc 10: A lost to standing doc 1, C kept against standing doc 11")
    assert(byDoc(20L) === ((2L, 0L)), "doc 20 is all duplicates")
  }

  // ---- chunkDedupBucketed ---------------------------------------------
  test("bucketed chunk-dedup probe equals the broadcast-form " +
    "incremental twin") {
    val incr = TextOps.chunkDedupIncr.build(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    val bucketed = TextOps.chunkDedupBucketed.build(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    assert(incr.nonEmpty)
    assert(bucketed === incr)
  }

  // ---- bigramNoveltyOf ----------------------------------------------
  test("bigramNovelty: rare transitions flag, frequent ones don't, no-bigram doc is false") {
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat"),
      (4L, "the cat ran"),   // (the,cat)=4 frequent, (cat,ran)=1 rare
      (5L, "zq xv qj"),      // both bigrams unique -> all rare
      (6L, "hello")          // single token: zero bigrams
    ).toDF("doc_id", "text")
    val got = TextOps.bigramNoveltyOf(docs)
      .select($"doc_id", $"n_bigrams", $"n_rare", $"novelty_flag")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    // (the,cat)=4 and (cat,sat)=3 are frequent (>= RareBelow)
    assert(got(1L) === ((1L, 2L, 0L, false)))
    assert(got(2L) === ((2L, 2L, 0L, false)))
    assert(got(4L) === ((4L, 2L, 1L, true)))  // 1*20 > 2
    assert(got(5L) === ((5L, 2L, 2L, true)))
    assert(got(6L) === ((6L, 0L, 0L, false)))
    assert(got.size == 6)
  }

  // ---- pplBucketsOf ---------------------------------------------------
  test("pplBuckets: bit-surprisal arithmetic is exact, buckets are " +
    "per-language terciles, unmodelable docs fall to the tail") {
    val docs = Seq(
      // lang cc: hand-computable self-information (N_cc = 4 bigrams)
      (10L, "cc", "a b a c"), // (a,b):1 + (b,a):2 + (a,c):2 -> 5000 div 3
      (11L, "cc", "a b"),     // (a,b): bitlen(4)-bitlen(2)=1 -> 1000
      // lang aa: 6 scored docs -> terciles of 2/2/2
      (1L, "aa", "the cat sat on the mat"),
      (2L, "aa", "the cat sat on the mat"),
      (3L, "aa", "the cat sat on the mat"),
      (4L, "aa", "the cat sat on the mat"),
      (5L, "aa", "the cat ran to the mat"),
      (6L, "aa", "zq xv qj pw mk lh"),   // unique gibberish -> tail
      // unmodelable: no [a-z] bigram
      (7L, "aa", "12345 678"),
      (8L, "aa", "word")
    ).toDF("doc_id", "lang", "text")
    val got = TextOps.pplBucketsOf(docs)
      .select($"doc_id", $"lang", $"n_bigrams", $"mbits", $"bucket")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))))
      .toMap
    assert(got.size === 10)
    // exact integer self-information: c12(a,b)=2 c12(b,a)=1 c12(a,c)=1,
    // N_cc=4 -> doc 10 bits = (3-2)+(3-1)+(3-1) = 5, mbits = 5000 div 3
    assert(got(10L)._3 === Some(1666L))
    assert(got(11L)._3 === Some(1000L))
    // unmodelable: zero bigrams, NULL mbits, tail bucket by definition
    assert(got(7L) === (("aa", 0L, None, 3L)))
    assert(got(8L) === (("aa", 0L, None, 3L)))
    // per-lang terciles over the 6 scored aa docs: 2 docs per bucket
    val aaScored = got.collect {
      case (id, ("aa", n, Some(mb), bk)) if n > 0 => (id, mb, bk) }
    assert(aaScored.size === 6)
    assert(aaScored.groupBy(_._3).view.mapValues(_.size).toMap ===
      Map(1L -> 2, 2L -> 2, 3L -> 2))
    // buckets are monotone in mbits (ties may straddle, hence <=)
    val byBucket = aaScored.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket(1L).max <= byBucket(2L).min)
    assert(byBucket(2L).max <= byBucket(3L).min)
    // the gibberish doc carries the highest surprisal -> tail
    assert(got(6L)._4 === 3L)
  }

  // ---- streamPpl ------------------------------------------------------
  test("streamPpl: arrival-time buckets follow the standing cuts law, " +
    "one row per delta doc, zero state operators") {
    val mod = Dedup.IncrementalDeltaMod
    val got = StreamingOps.streamPpl.build(spark, sf001)
      .select($"doc_id", $"lang", $"n_bigrams", $"mbits", $"bucket")
      .collect()
    val deltaIds = graft.Tables.documents(spark, sf001)
      .select($"doc_id").as[Long].collect().filter(_ % mod == 0).toSet
    assert(got.map(_.getLong(0)).toSet === deltaIds)
    assert(got.map(_.getLong(0)).length === deltaIds.size, "dup rows")
    // assignment law: bucket = 1 + #(cuts < mbits) under the <=-cut
    // CASE; unmodelable docs are tail with NULL score
    val cuts = StreamingOps.standingPplModel(spark, sf001)._2
      .select($"lang", $"cut1", $"cut2").collect()
      .map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    got.foreach { r =>
      val (lang, bucket) = (r.getString(1), r.getLong(4))
      assert(bucket >= 1 && bucket <= 3)
      if (r.getLong(2) == 0L) {
        assert(r.isNullAt(3) && bucket === 3L, s"unmodelable doc not tail: $r")
      } else {
        val mb = r.getLong(3)
        val (c1, c2) = cuts.getOrElse(lang, (None, None))
        val want =
          if (c1.exists(mb <= _)) 1L
          else if (c2.exists(mb <= _)) 2L
          else 3L
        assert(bucket === want, s"cut law violated for $r (cuts $c1/$c2)")
      }
    }
    // stateless: the scoring stream holds no state store
    val active = spark.streams.active.filter(_.name != null)
      .find(_.name.startsWith("q_stream_ppl_mem"))
    assert(active.nonEmpty, "live ppl query not found")
    assert(active.get.lastProgress.stateOperators.isEmpty,
      s"expected zero stateful operators: ${active.get.lastProgress.json}")
  }

  test("ppl_model store: cache-evicted reread reuses the persisted " +
    "artifact, head-only model scores identically") {
    def run() = StreamingOps.streamPpl.build(spark, sf001)
      .collect().map(_.toString).sorted
    val first = run()
    def store = PersistedStore.currentRoot(spark, sf001, "ppl_model")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/model"))
      .map(s => s.getPath.getName -> s.getModificationTime).sortBy(_._1).toSeq
    val before = listing
    StreamingOps.pplModelCache.clear()
    assert(run() === first)
    assert(listing === before,
      "cache-evicted rerun must reuse the persisted model, not rebuild it")
    // the persisted model is the c12 >= 2 HEAD only (hapax scores as
    // unseen — bitlen 1 either way), so no row may carry c12 < 2
    val minC12 = spark.read.parquet(s"$store/model")
      .agg(min($"c12")).head().getLong(0)
    assert(minC12 >= 2L, s"hapax tail leaked into the persisted model")
  }

  // ---- outlierScores ------------------------------------------------
  test("outlierScores: vector opposite its label centroid is flagged") {
    val n = Seq(
      (1L, 0, Seq(1000000L, 0L)), (2L, 0, Seq(1000000L, 0L)),
      (3L, 0, Seq(1000000L, 0L)), (4L, 0, Seq(-1000000L, 0L)),
      (5L, 1, Seq(0L, 777L)))
      .toDF("vec_id", "label", "v")
      .withColumn("n2", Similarity.inorm2($"v"))
    val got = Similarity.outlierScores(n)
      .select($"vec_id", $"cos_centroid", $"is_outlier")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(4L)._2 === -1.0 && got(4L)._3)
    assert(got(1L)._2 === 1.0 && !got(1L)._3)
    // own-label centroid, not global (ulp tolerance: sqrt(x)*sqrt(x) for
    // non-square x need not reproduce x exactly)
    assert(math.abs(got(5L)._2 - 1.0) < 1e-12 && !got(5L)._3)
  }

  // ---- packByPrefixSum ----------------------------------------------
  test("packByPrefixSum: packs split at the budget, docs never split") {
    val d = Seq(
      (1L, "s", 300L), (2L, "s", 300L), (3L, "s", 300L), (4L, "s", 50L),
      (5L, "t", 600L), (6L, "t", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val got = Curation.packByPrefixSum(d, 512L)
      .select($"doc_id", $"pack_id").as[(Long, Long)].collect().toMap
    // s: preceding 0,300,600,900 -> packs 0,0,1,1 (doc 2 overflows pack 0
    // rather than splitting); t: preceding 0,600 -> packs 0,1
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 0L, 6L -> 1L))
  }

  // ---- rollingActive ------------------------------------------------
  test("rollingActive: one active day feeds exactly 7 report days") {
    val ev = Seq((7L, "2024-01-10"), (7L, "2024-01-10"))
      .toDF("user_id", "ds").select($"user_id", to_date($"ds").as("day"))
    val got = Windows.rollingActive(ev)
      .select(date_format($"report_day", "yyyy-MM-dd"), $"active_7d")
      .as[(String, Long)].collect().toMap
    assert(got.size === 7 && got.values.forall(_ === 1L))
    assert(got.contains("2024-01-10") && got.contains("2024-01-16"))
  }

  test("rollingActive: distinct users, overlapping trailing windows") {
    val ev = Seq((1L, "2024-01-01"), (2L, "2024-01-05"), (1L, "2024-01-05"))
      .toDF("user_id", "ds").select($"user_id", to_date($"ds").as("day"))
    val got = Windows.rollingActive(ev)
      .select(date_format($"report_day", "yyyy-MM-dd"), $"active_7d")
      .as[(String, Long)].collect().toMap
    assert(got("2024-01-05") === 2L) // user 1 (from both days) + user 2
    assert(got("2024-01-07") === 2L) // day-1 activity still in window
    assert(got("2024-01-08") === 2L) // day-1 dropped; 5th still counts both
    assert(got("2024-01-11") === 2L) // last trailing day of Jan 5 activity
    assert(!got.contains("2024-01-12"))
  }

  // ---- histogram ----------------------------------------------------
  test("histogram: buckets partition the table and bound their members") {
    val h = Introspect.histogram.build(spark, sf001)
      .select($"bucket", $"n", $"min_price", $"max_price")
      .as[(Long, Long, Double, Double)].collect()
    val total = graft.Tables.lineitem(spark, sf001).count()
    assert(h.map(_._2).sum === total)
    h.foreach { case (b, _, lo, hi) =>
      assert(lo >= 900.0 + 5000.0 * b && hi < 900.0 + 5000.0 * (b + 1))
      assert(lo <= hi)
    }
    assert(h.map(_._1).distinct.length === h.length)
  }

  // ---- vocabGrowth ---------------------------------------------------
  test("vocab growth: cumulative curve reconciles with the corpus vocabulary") {
    val g = TextOps.vocabGrowth.build(spark, sf001).cache()
    val rows = g.orderBy($"batch")
      .select($"batch", $"n_docs", $"n_tokens", $"n_distinct", $"n_new",
        $"vocab_cum")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // batch 0 has never seen anything: every distinct token is new
    assert(rows.head._5 === rows.head._4)
    // per-batch sanity and a monotone, correctly-accumulated curve
    rows.foreach { r =>
      assert(r._4 <= r._3, s"distinct > instances in $r")
      assert(r._5 <= r._4, s"new > distinct in $r")
    }
    val cums = rows.map(_._6)
    assert(cums === rows.map(_._5).scanLeft(0L)(_ + _).tail)
    // the final cumulative vocabulary IS the corpus-wide distinct count
    val corpusVocab = graft.Tables.documents(spark, sf001)
      .select(explode(regexp_extract_all(lower($"text"), lit("[a-z]+"),
        lit(0))).as("tok"))
      .select($"tok").distinct().count()
    assert(cums.last === corpusVocab)
  }

  // ---- hashEmbed -----------------------------------------------------
  test("feature hashing: sparse rows equal a driver-side recomputation") {
    val got = TextOps.hashEmbed.build(spark, sf001)
      .filter($"doc_id" < 20)
      .select($"doc_id", $"bucket", $"w")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def fp(tok: String): Long =
      tok.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val docs = graft.Tables.documents(spark, sf001)
      .filter($"doc_id" < 20)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(docs.nonEmpty)
    val expected = docs.flatMap { case (id, text) =>
      "[a-z]+".r.findAllIn(text.toLowerCase).map { tok =>
        val f = fp(tok)
        ((id, f % TextOps.HashDim), if ((f / TextOps.HashDim) % 2 == 0) 1L else -1L)
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0)
    assert(expected.nonEmpty)
    assert(got === expected)
  }
}
