package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star extension): image/audio/video
  * as opaque `binary` columns + typed metadata structs, with
  * decode/feature-extract implemented as per-partition batch transforms.
  *
  * Image decode is REAL (pure-JVM javax.imageio: PNG/JPEG/GIF/BMP →
  * luminance-histogram features, exercised on actual encoded pixels in
  * MultimodalSpec); audio/video codecs and byte-level resampling are NOT
  * in this container — for those [[StubDecoder]] falls back to a
  * clearly-marked deterministic byte histogram. Everything AROUND the
  * codec is the real production shape:
  *  - schema: `content binary` + `media struct<kind,width,height,...>`
  *    so metadata predicates prune without touching bytes (a filter on
  *    `media.kind` never deserializes a single image at 100 TB);
  *  - partition-sized batches via `mapPartitions` over a typed Dataset —
  *    the Scala analogue of `mapInPandas`: one decoder init per
  *    partition, row-batch amortized;
  *  - byte-size accounting so writers can repartition to target
  *    partition bytes (decode output is 10-50× input — partitioning by
  *    INPUT bytes OOMs at scale).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("kind", StringType),     // image | audio | video
    StructField("format", StringType),   // jpeg | png | wav | mp4 ...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("content", BinaryType),
    StructField("media", mediaSchema)))

  /** Decoder: REAL pure-JVM image decode (javax.imageio — PNG/JPEG/GIF/
    * BMP) and REAL WAV PCM audio decode (javax.sound.sampled), both
    * native-dependency-free, with the disclosed deterministic
    * byte-histogram fallback for the rest (compressed audio and video
    * codecs are not in this container — that part of the codec surface
    * remains an honest stub). The contract the pipeline depends on is
    * unchanged: bytes in → fixed-size feature vector out, deterministic
    * for identical bytes.
    */
  object StubDecoder {
    val FeatureDim = 16

    /** Below this no encoding carries even a complete header: a magic-
      * prefix collision on a hash-derived blob (e.g. 32 bytes starting
      * FF D8) must stay on the deterministic byte-histogram contract.
      * Deliberately SMALL — a 1×1 GIF is ~35 bytes and a 1×1 BMP ~58,
      * and both must still reach ImageIO (a 64-byte gate silently
      * demoted real tiny images to the fallback). */
    private val MinPlausibleImageBytes = 24

    /** Magic-byte sniff: only hand plausible image payloads to ImageIO —
      * probing arbitrary binary through the reader registry on every row
      * would be pure overhead at scale. */
    private def looksLikeImage(bytes: Array[Byte]): Boolean =
      bytes.length >= MinPlausibleImageBytes && (
        (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' &&
          bytes(3) == 'G') || // PNG
        (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) || // JPEG
        (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') || // GIF
        (bytes(0) == 'B' && bytes(1) == 'M')) // BMP

    /** Features from decoded pixels: FeatureDim-bucket luminance
      * histogram, L1-normalized — deterministic, resolution-independent
      * summary (integer Rec.601 luma, exact for identical pixels). */
    def pixelFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
      val buckets = new Array[Long](FeatureDim)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          buckets(lum * FeatureDim / 256) += 1
          x += 1
        }
        y += 1
      }
      val total = math.max(img.getWidth.toLong * img.getHeight, 1L)
      buckets.map(b => b.toFloat / total)
    }

    /** 8×8 average hash (aHash) over block-averaged integer luma —
      * the classic perceptual fingerprint (same family as pHash/dHash;
      * see Zauner 2010): partition the image into an 8×8 grid, average
      * the Rec.601 luma per cell (integer floor at every step, so the
      * hash is bit-deterministic across JVMs), set bit (gy·8+gx) iff
      * the cell mean EXCEEDS the grand mean of the 64 cell means.
      * Small local edits move one or two cells ⇒ Hamming distance
      * stays tiny; unrelated images land ~32 apart. */
    def aHash(img: java.awt.image.BufferedImage): Long = {
      val G = 8
      val sums = new Array[Long](G * G)
      val counts = new Array[Long](G * G)
      val w = img.getWidth; val h = img.getHeight
      var y = 0
      while (y < h) {
        var x = 0
        val gy = y * G / h
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          val c = gy * G + x * G / w
          sums(c) += lum; counts(c) += 1
          x += 1
        }
        y += 1
      }
      val means = Array.tabulate(G * G)(i =>
        if (counts(i) == 0) 0L else sums(i) / counts(i))
      val grand = means.sum / (G * G)
      means.zipWithIndex.foldLeft(0L) { case (acc, (m, i)) =>
        if (m > grand) acc | (1L << i) else acc
      }
    }

    /** aHash of a decodable image payload; None when the bytes are not
      * a decodable image (fallback features exist for those, but a
      * byte-level hash is NOT a perceptual fingerprint — near-dup
      * semantics only hold for decoded pixels, so non-images are
      * excluded rather than faked). */
    def aHashOf(bytes: Array[Byte]): Option[Long] =
      if (bytes == null || !looksLikeImage(bytes)) None
      else decodeSafe(Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))).flatten match {
        case Some(img) => Some(aHash(img))
        case None => None
      }

    /** RIFF/WAVE container sniff (44 bytes = canonical header size —
      * nothing shorter can carry a fmt chunk + any audio). */
    private def looksLikeWav(bytes: Array[Byte]): Boolean =
      bytes.length >= 44 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' &&
        bytes(11) == 'E'

    /** REAL audio decode for WAV PCM (pure-JVM javax.sound.sampled — no
      * native codecs needed): FeatureDim-bucket amplitude histogram over
      * the decoded samples, L1-normalized — the audio twin of
      * [[pixelFeatures]]'s luminance histogram, deterministic for
      * identical samples and resolution-independent across sample
      * rates/channel counts. Handles the two PCM layouts WAV actually
      * uses: 16-bit signed (either endianness) and 8-bit unsigned. */
    def wavFeatures(bytes: Array[Byte]): Array[Float] = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        // this branch understands exactly the two PCM layouts below —
        // a μ-law/A-law WAV also arrives with sampleSize 8/16 but its
        // bytes are companded codes, not amplitudes (silence in μ-law
        // is 0xFF, not mid-scale), so anything non-PCM must take the
        // disclosed fallback rather than mis-histogram
        val enc = fmt.getEncoding
        val isPcm =
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16) ||
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED &&
            fmt.getSampleSizeInBits == 8)
        if (!isPcm) return byteHistogram(bytes)
        val data = ais.readAllBytes()
        val buckets = new Array[Long](FeatureDim)
        var n = 0L
        if (fmt.getSampleSizeInBits == 16) {
          var i = 0
          while (i + 1 < data.length) {
            val s =
              if (fmt.isBigEndian) (data(i) << 8) | (data(i + 1) & 0xFF)
              else (data(i + 1) << 8) | (data(i) & 0xFF)
            buckets(((s + 32768) * FeatureDim) >> 16) += 1
            n += 1
            i += 2
          }
        } else if (fmt.getSampleSizeInBits == 8) {
          var i = 0
          while (i < data.length) {
            buckets(((data(i) & 0xFF) * FeatureDim) >> 8) += 1
            n += 1
            i += 1
          }
        }
        if (n == 0) return byteHistogram(bytes) // no samples decoded
        buckets.map(b => b.toFloat / n)
      } finally ais.close()
    }

    /** Fallback for non-image payloads: byte histogram folded to
      * FeatureDim buckets, L1-normalized (the original disclosed stub —
      * also what the registered query's DuckDB oracle reproduces). */
    def byteHistogram(bytes: Array[Byte]): Array[Float] = {
      val buckets = new Array[Long](FeatureDim)
      var i = 0
      while (i < bytes.length) {
        buckets((bytes(i) & 0xFF) % FeatureDim) += 1
        i += 1
      }
      val total = math.max(bytes.length.toLong, 1L)
      buckets.map(b => b.toFloat / total)
    }

    // ImageIO's default read path spools even in-memory streams through
    // a temp-file cache (one create/write/delete per image — and a full
    // tmpdir fails the decode); the bytes are already in memory, so
    // disable the disk cache once per JVM.
    javax.imageio.ImageIO.setUseCache(false)

    /** Corrupt payload ≠ task failure: any decoder exception plus the
      * OutOfMemoryError a malformed header's giant dimensions can
      * trigger routes the row to the deterministic fallback. Genuinely
      * fatal throwables — InterruptedException from a Spark task
      * cancellation above all, but also LinkageError etc. — must
      * propagate, or a killed stage keeps decoding the rest of the
      * partition as a zombie task. */
    private def decodeSafe[T](body: => T): Option[T] =
      try Some(body)
      catch {
        case scala.util.control.NonFatal(_) => None
        case _: OutOfMemoryError => None
      }

    def decodeToFeatures(bytes: Array[Byte]): Array[Float] = {
      if (looksLikeImage(bytes)) {
        val img = decodeSafe(
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
          .flatMap(Option(_))
        if (img.isDefined) return pixelFeatures(img.get)
      }
      if (looksLikeWav(bytes)) {
        decodeSafe(wavFeatures(bytes)) match {
          case Some(f) => return f
          case None    => () // corrupt/exotic WAV → fallback
        }
      }
      // the remaining honest stub: compressed audio + video codecs are
      // not in this container — deterministic byte histogram instead
      byteHistogram(bytes)
    }

    /** Fake resize: metadata-only transform (real one re-encodes bytes). */
    def resizeMeta(w: Int, h: Int, maxSide: Int): (Int, Int) = {
      val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
      (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
    }
  }

  /** Batch feature extraction: binary → FeatureDim float vector, done
    * per-partition (decoder init amortized), metadata passed through. */
  def extractFeatures(assets: DataFrame): DataFrame = {
    val outSchema = StructType(assets.schema.fields.toSeq :+
      StructField("features", ArrayType(FloatType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    assets.mapPartitions { rows =>
      // real pipeline: initialize the native decoder ONCE here
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val feats =
          if (bytes == null) null
          else StubDecoder.decodeToFeatures(bytes)
        Row.fromSeq(r.toSeq :+ feats)
      }
    }
  }

  /** Metadata-level resize: rewrites media.width/height to fit maxSide.
    * Pure expression work — no bytes touched (the real byte re-encode
    * would slot into extractFeatures' mapPartitions). */
  def resize(assets: DataFrame, maxSide: Int): DataFrame =
    assets.withColumn("media", struct(
      col("media.kind").as("kind"),
      col("media.format").as("format"),
      least(col("media.width"),
        greatest(lit(1), (col("media.width") * maxSide /
          greatest(col("media.width"), col("media.height"))).cast("int")))
        .as("width"),
      least(col("media.height"),
        greatest(lit(1), (col("media.height") * maxSide /
          greatest(col("media.width"), col("media.height"))).cast("int")))
        .as("height"),
      col("media.duration_ms").as("duration_ms")))

  /** Video frame sampling: one output row per sampled frame at a fixed
    * stride (ms), metadata-only (the real pipeline would decode the
    * frame bytes inside extractFeatures' mapPartitions). Generator runs
    * inside the scan stage — rows fan out without a shuffle, and
    * non-video assets pass through with a single frame at offset 0.
    */
  def sampleFrames(assets: DataFrame, strideMs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val frames = when(col("media.kind") === "video" &&
        col("media.duration_ms") > 0,
      sequence(lit(0L), col("media.duration_ms") - 1, lit(strideMs)))
      .otherwise(array(lit(0L)))
    assets.select(col("asset_id"), col("media"),
        posexplode(frames).as(Seq("frame_idx", "frame_offset_ms")))
  }

  /** Per-asset perceptual hash: (asset_id, phash) for every asset whose
    * content decodes as an image; non-decodable assets carry NULL (they
    * belong to [[graft.operators.MultimodalOps.mediaDedup]]'s exact
    * byte-digest contract, not to perceptual near-dup). Partition-
    * batched like [[extractFeatures]] — the decoder initializes per
    * partition, bytes never cross the wire twice. */
  def perceptualHashes(assets: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("phash", LongType, nullable = true)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    assets.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Long]("asset_id")
        val bytes = r.getAs[Array[Byte]]("content")
        Row(id, StubDecoder.aHashOf(bytes).map(Long.box).orNull)
      }
    }
  }

  /** Deterministic REAL-image asset table: groups of three 16×16 BMPs —
    * id 3m is a pseudo-random pattern keyed by m, 3m+1 the same pattern
    * with the corner grid cells SWAPPED (a planted NEAR-dup: the swap
    * preserves the grand luma mean exactly, so only the two swapped
    * cells' bits can move — aHash Hamming ≤ 2 by construction, inside
    * the radius-3 banding guarantee), 3m+2 an independent pattern
    * (expected Hamming ≈ 32; the chance any unplanted pair lands within
    * the radius-3 cut is ~C(64,≤3)/2⁶⁴ per pair). Everything derives
    * from integer arithmetic on (m, x, y) — no RNG state, identical on
    * every run and executor. */
  def syntheticImageAssets(spark: SparkSession, n: Int): DataFrame = {
    // full-width avalanche mixing (splitmix64 finalizer): a plain
    // `linear % 256` leaves patterns as translates of one another
    // across seeds, which plants accidental cross-group near-dups
    def lum(seed: Long, x: Int, y: Int): Int = {
      var h = seed + x * 0x9E3779B97F4A7C15L + y * 0xC2B2AE3D27D4EB4FL
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
      h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
      h ^= h >>> 33
      (h & 0xFF).toInt
    }
    def bmp(seed: Long, perturb: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          // perturbation SWAPS the (0,0) and (7,7) grid cells' pixels:
          // grand mean unchanged ⇒ no bit outside the two cells can flip
          val (sx, sy) =
            if (!perturb) (x, y)
            else if (x < 2 && y < 2) (x + 14, y + 14)
            else if (x >= 14 && y >= 14) (x - 14, y - 14)
            else (x, y)
          val v = lum(seed, sx, sy)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", out)
      out.toByteArray
    }
    val rows = (0 until n).map { id =>
      val m = id / 3
      val bytes = (id % 3: @unchecked) match {
        case 0 => bmp(m * 2654435761L + 17, perturb = false)
        case 1 => bmp(m * 2654435761L + 17, perturb = true)
        case 2 => bmp(m * 7919L + 7901L, perturb = false)
      }
      Row(id.toLong, bytes)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 4),
      StructType(Seq(
        StructField("asset_id", LongType),
        StructField("content", BinaryType))))
  }

  /** Id offset of the planted duplicate asset files
    * ([[writeAssetFixture]]). */
  val DupIdBase = 100000L

  /** Materialize [[syntheticImageAssets]] as REAL FILES — one
    * `asset-%05d.bmp` per asset — so the ingest side can exercise the
    * production entry point (`spark.read.format("binaryFile")` over an
    * asset directory) instead of an in-engine frame. Every asset with
    * id % 9 == 0 is ALSO written as a byte-identical copy under
    * id+[[DupIdBase]] — planted EXACT duplicate FILES for the
    * ingest-dedup op. The asset count scales with the corpus: 3/5 of
    * `dir`'s documents, at least 30.
    *
    * The directory is the `media_assets` [[graft.operators.PersistedStore]]
    * store of `dir`, signed by the documents listing: a regenerated or
    * resized corpus builds a new version while a reader of the
    * previous one keeps its files, and two sessions building at once
    * build once. The writer is a distributed `foreachPartition` over
    * the asset frame (local-filesystem paths — this is the dev-side
    * fixture GENERATOR; a cluster ingest reads whatever shared store
    * already holds the assets and never runs this). Returns the
    * version root. */
  def writeAssetFixture(spark: SparkSession, dir: String): String =
    graft.operators.PersistedStore.ensure(spark, dir, "documents.parquet",
      "media_assets", "v4") { root =>
      val n = (graft.Tables.documents(spark, dir).count() * 3 / 5).toInt.max(30)
      val rootP = new org.apache.hadoop.fs.Path(root)
      rootP.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(rootP)
      val local = rootP.toUri.getPath
      val dupBase = DupIdBase
      syntheticImageAssets(spark, n).foreachPartition {
        rows: Iterator[Row] =>
          rows.foreach { r =>
            val id = r.getAs[Long]("asset_id")
            val bytes = r.getAs[Array[Byte]]("content")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(local, f"asset-$id%05d.bmp"), bytes)
            if (id % 9 == 0)
              java.nio.file.Files.write(
                java.nio.file.Paths.get(local,
                  f"asset-${id + dupBase}%05d.bmp"), bytes)
          }
      }
    }

  /** Deterministic synthetic asset table (tests / demos). */
  def syntheticAssets(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).select(
      col("id").as("asset_id"),
      // deterministic pseudo-bytes: sha2 of the id, repeated
      unbase64(base64(sha2(col("id").cast("string"), 256).cast("binary")))
        .as("content"),
      struct(
        when(col("id") % 3 === 0, "image").otherwise("audio").as("kind"),
        when(col("id") % 3 === 0, "jpeg").otherwise("wav").as("format"),
        (col("id") % 1000 + 100).cast("int").as("width"),
        (col("id") % 800 + 80).cast("int").as("height"),
        (col("id") * 10).as("duration_ms")).as("media"))
  }
}
