package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("extractFeatures: deterministic fixed-dim vectors, null-safe") {
    val assets = Multimodal.syntheticAssets(spark, 20)
    val feats = Multimodal.extractFeatures(assets)
    val rows = feats.select("asset_id", "features").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.length === Multimodal.StubDecoder.FeatureDim)
      assert(math.abs(v.sum - 1.0f) < 1e-3) // L1-normalized histogram
    }
    // determinism: same input → same features
    val again = Multimodal.extractFeatures(assets)
      .select("asset_id", "features").collect()
    assert(rows.map(_.getSeq[Float](1)).toSeq === again.map(_.getSeq[Float](1)).toSeq)
  }

  test("real PNG bytes decode through javax.imageio to pixel features") {
    // 2×2 PNG: two black pixels, one white, one mid-gray — encoded with
    // ImageIO, decoded by the SAME engine path used in extractFeatures
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0x000000)
    img.setRGB(0, 1, 0xFFFFFF); img.setRGB(1, 1, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    val feats = Multimodal.StubDecoder.decodeToFeatures(bytes)
    assert(feats.length === Multimodal.StubDecoder.FeatureDim)
    // luminance buckets (16 over 0..255): black → 0, white (255) → 15,
    // gray 0x80 → lum 128 → bucket 8
    assert(feats(0) === 0.5f)
    assert(feats(15) === 0.25f)
    assert(feats(8) === 0.25f)
    assert(feats.sum === 1.0f)
    // and through the distributed path: a one-row DataFrame of real bytes
    import spark.implicits._
    val df = Seq((1L, bytes)).toDF("asset_id", "content")
    val got = Multimodal.extractFeatures(df)
      .select("features").as[Array[Float]].collect().head
    assert(got.toSeq === feats.toSeq)
    // non-image bytes keep the disclosed byte-histogram fallback
    val junk = Array.tabulate[Byte](32)(i => i.toByte)
    assert(Multimodal.StubDecoder.decodeToFeatures(junk).toSeq ===
      Multimodal.StubDecoder.byteHistogram(junk).toSeq)
  }

  test("real WAV PCM bytes decode through javax.sound to amplitude features") {
    // 16-bit mono PCM with KNOWN amplitudes: half the samples at 0
    // (bucket 8: (0+32768)*16 >> 16), a quarter near full negative
    // (bucket 0), a quarter near full positive (bucket 15) — encoded
    // with AudioSystem into a real RIFF/WAVE container, decoded by the
    // same engine path used in extractFeatures
    val samples: Array[Short] =
      Array.fill(200)(0.toShort) ++
        Array.fill(100)((-32768).toShort) ++ Array.fill(100)(32767.toShort)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) => // little-endian
      pcm(2 * i) = (s & 0xFF).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val bytes = bos.toByteArray
    val feats = Multimodal.StubDecoder.decodeToFeatures(bytes)
    assert(feats.length === Multimodal.StubDecoder.FeatureDim)
    assert(feats(8) === 0.5f)   // silence
    assert(feats(0) === 0.25f)  // full negative
    assert(feats(15) === 0.25f) // full positive
    assert(math.abs(feats.sum - 1.0f) < 1e-6)
    // a real container decodes differently from the byte-histogram stub
    assert(feats.toSeq !== Multimodal.StubDecoder.byteHistogram(bytes).toSeq)
    // and through the distributed path
    import spark.implicits._
    val got = Multimodal.extractFeatures(
        Seq((1L, bytes)).toDF("asset_id", "content"))
      .select("features").as[Array[Float]].collect().head
    assert(got.toSeq === feats.toSeq)
  }

  test("tiny sub-64-byte images still decode through ImageIO") {
    // a 1x1 GIF/BMP is well under 64 bytes; an over-eager minimum-size
    // sniff gate once demoted these real images to the byte-histogram
    // fallback
    val img = new java.awt.image.BufferedImage(
      1, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFFFFFF) // white → top luminance bucket
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    val bytes = bos.toByteArray
    assert(bytes.length < 64, s"fixture must be tiny, got ${bytes.length}")
    val feats = Multimodal.StubDecoder.decodeToFeatures(bytes)
    assert(feats(Multimodal.StubDecoder.FeatureDim - 1) === 1.0f)
    assert(feats.toSeq !== Multimodal.StubDecoder.byteHistogram(bytes).toSeq)
  }

  test("metadata predicates prune without touching bytes") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    val images = assets.filter(col("media.kind") === "image")
    assert(images.count() === 10)
    // plan should not reference content for a metadata-only count
    val plan = images.select(col("media.width")).queryExecution
      .optimizedPlan.toString
    assert(!plan.contains("content"))
  }

  test("perceptual hash: real decode, planted near-dups found at tiny " +
    "Hamming distance, unrelated patterns excluded") {
    val n = 60 // 20 groups of (base, perturbed, unrelated)
    val assets = Multimodal.syntheticImageAssets(spark, n)
    val hashes = Multimodal.perceptualHashes(assets).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(hashes.size === n)
    assert(hashes.values.forall(_.isDefined),
      "every synthetic BMP must decode through javax.imageio")
    (0 until n / 3).foreach { m =>
      val base = hashes(3L * m).get
      val near = hashes(3L * m + 1).get
      val far = hashes(3L * m + 2).get
      assert(java.lang.Long.bitCount(base ^ near) <= 2,
        s"mean-preserving cell swap moved aHash too far in group $m")
      assert(java.lang.Long.bitCount(base ^ far) > 3,
        s"unrelated pattern landed within the radius in group $m")
    }
    val pairs = graft.operators.MultimodalOps.mediaPhash
      .build(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (base, perturbed) pair is found; count() scales the
    // corpus past the spec's 60, so check containment on the spec ids
    (0 until n / 3).foreach { m =>
      assert(pairs.contains((3L * m, 3L * m + 1)),
        s"planted near-dup pair of group $m missed")
    }
    // no pair may bridge two different base patterns (duplicate FILES
    // planted at id+DupIdBase fold back to their source asset's group)
    def grp(x: Long): Long =
      (if (x >= Multimodal.DupIdBase) x - Multimodal.DupIdBase else x) / 3
    pairs.foreach { case (a, b) =>
      assert(grp(a) === grp(b), s"cross-pattern pair ($a, $b) leaked in")
    }
  }

  test("phash store persists: a cache-evicted rerun reads the store, " +
    "not the decoder") {
    import graft.operators.{MultimodalOps, SinkOps}
    def run() = MultimodalOps.mediaPhash.build(spark, sf001)
      .collect().map(_.toString).sorted
    val first = run()
    val store = MultimodalOps.phashStorePath(spark, sf001)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/hashes"))
      .map(s => s.getPath.getName -> s.getModificationTime).sortBy(_._1).toSeq
    val before = listing
    // a fresh session (simulated by cache eviction) must READ the
    // persisted hash table — same results, store untouched
    MultimodalOps.phashCache.clear()
    assert(run() === first)
    assert(listing === before,
      "cache-evicted rerun must reuse the persisted hashes, not re-decode")
    // dropping the store forces a rebuild that reproduces the same hashes
    graft.operators.PersistedStore.drop(spark, sf001, "phash_store")
    MultimodalOps.phashCache.clear()
    assert(run() === first, "rebuilt store must reproduce identical pairs")
  }

  test("file ingest: planted duplicate FILES dedup by content sha; " +
    "corrupting one asset file rebuilds the store from real bytes") {
    import graft.operators.{MultimodalOps, PersistedStore}
    val groups = MultimodalOps.mediaIngest.build(spark, sf001)
      .collect().map(r => (r.getAs[String]("content_sha"),
        r.getAs[Long]("rep_asset"), r.getAs[Long]("n_copies"))).toSeq
    // every id%9==0 asset has a byte-identical file at id+DupIdBase —
    // those groups have exactly 2 copies with the original as rep
    val dupReps = groups.filter(_._3 >= 2).map(_._2).toSet
    assert(dupReps.nonEmpty, "no duplicate-file groups found")
    assert(dupReps.forall(id => id % 9 == 0),
      s"unexpected duplicate reps: $dupReps")
    // --- corrupt one asset file: source-signature staleness must cover
    // the real BYTES and rebuild the persisted store ---
    val adir = MultimodalOps.assetDir(spark, sf001)
    val victim = java.nio.file.Paths.get(adir, "asset-00002.bmp")
    val orig = java.nio.file.Files.readAllBytes(victim)
    val storeRootBefore =
      PersistedStore.currentRoot(spark, sf001, "phash_store")
    try {
      java.nio.file.Files.write(victim,
        "not an image at all".getBytes("UTF-8"))
      MultimodalOps.phashCache.clear()
      val hashes = MultimodalOps.phashStore(spark, sf001)
        .filter(col("asset_id") === 2L).collect()
      // the corrupted payload no longer decodes: phash must be NULL —
      // proof the store was rebuilt from the changed bytes
      assert(hashes.length === 1 && hashes.head.isNullAt(1),
        "corrupted file did not invalidate the persisted store")
      assert(PersistedStore.currentRoot(spark, sf001, "phash_store")
        !== storeRootBefore, "store version did not advance on rebuild")
    } finally {
      java.nio.file.Files.write(victim, orig)
      MultimodalOps.phashCache.clear()
    }
    // restored bytes → rebuild again → asset 2 decodes again
    val back = MultimodalOps.phashStore(spark, sf001)
      .filter(col("asset_id") === 2L).collect()
    assert(back.length === 1 && !back.head.isNullAt(1))
  }

  test("perceptual hash: non-decodable payloads are excluded, not faked") {
    val assets = Multimodal.syntheticAssets(spark, 12) // sha-derived bytes
    val hashes = Multimodal.perceptualHashes(assets).collect()
    assert(hashes.length === 12)
    assert(hashes.forall(_.isNullAt(1)),
      "a byte-level hash must never pose as a perceptual fingerprint")
  }

  test("media dedup: duplicate blobs grouped, survivor is the smallest id") {
    import spark.implicits._
    val got = graft.operators.MultimodalOps.mediaDedup.build(spark, sf001)
      .select($"content_sha", $"rep_asset", $"n_copies")
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty, "fixture should contain duplicated part names")
    // recompute from the same synthesis: groups of identical content
    val truth = graft.Tables.part(spark, sf001)
      .select($"p_partkey".as[Long], sha2($"p_name", 256).as[String])
      .collect().groupBy(_._2).filter(_._2.length >= 2)
      .map { case (sha, rows) =>
        (sha, rows.map(_._1).min, rows.length.toLong) }.toSet
    assert(got.toSet === truth)
  }

  test("resize clamps the long side, preserves aspect floor") {
    val assets = Multimodal.syntheticAssets(spark, 10)
    val resized = Multimodal.resize(assets, 64)
    resized.select("media.width", "media.height").collect().foreach { r =>
      assert(r.getInt(0) <= 64 || r.getInt(1) <= 64)
      assert(r.getInt(0) >= 1 && r.getInt(1) >= 1)
    }
  }
}
