package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal pipeline registered through the driver contract: binary
  * content + typed metadata derived deterministically from the `part`
  * table (32 content bytes = sha256 of the part name — the codec itself
  * is stubbed per the harness contract, the schema/partitioning/batch
  * plumbing is real), then decode→features via partition-batched
  * transform, frame-sample the "videos", and aggregate per media kind.
  * Oracled end-to-end: the fallback feature kernel (byte histogram of
  * the sha256 content, L1-normalized) is pure hex arithmetic — bucket 0
  * counts bytes with low nibble 0, i.e. '0' chars at even positions of
  * the hex digest — and the resize/frame math is integer/IEEE-exact, so
  * DuckDB reproduces every output column including mean_f0 bit-for-bit.
  * The decoder determinism and metadata-pruning properties are
  * unit-tested in MultimodalSpec.
  */
object MultimodalOps {

  val multimodalFeatures: Op = Op(
    "q_multimodal_feats",
    """WITH a AS (
      |  SELECT p_partkey AS asset_id,
      |         CASE WHEN p_partkey % 3 = 0 THEN 'image'
      |              WHEN p_partkey % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |         CAST(p_size * 20 + 40 AS INTEGER) AS w,
      |         CAST(p_size * 12 + 30 AS INTEGER) AS h,
      |         p_partkey % 5000 AS d,
      |         sha256(p_name) AS sha
      |  FROM part
      |  WHERE p_name IS NOT NULL
      |), per AS (
      |  SELECT kind,
      |         LEAST(w, GREATEST(1, CAST(TRUNC(w * 512.0 / GREATEST(w, h)) AS INTEGER))) AS rw,
      |         CASE WHEN kind = 'video' AND d > 0 THEN (d - 1) // 1000 + 1 ELSE 1 END AS n_frames,
      |         list_sum(list_transform(range(1, 33),
      |           i -> CASE WHEN substr(sha, 2*i, 1) = '0' THEN 1 ELSE 0 END)) / 32.0 AS f0
      |  FROM a
      |)
      |SELECT kind, COUNT(*) AS n_assets,
      |       CAST(SUM(n_frames) AS BIGINT) AS total_frames,
      |       AVG(f0) AS mean_f0,
      |       MAX(rw) AS max_width
      |FROM per GROUP BY kind""".stripMargin) { (spark, dir) =>
    // explicit null gate (adversarial dim 8, r12): a NULL-name part
    // synthesizes NULL content — no blob, no features. Without the
    // gate the oracle's CASE mapped NULL hex digits to 0-features
    // (ELSE branch) and pulled every per-kind mean while Spark's avg
    // skipped the NULL feature rows. A real pipeline cannot featurize
    // a missing blob; both sides now exclude it.
    val assets = Tables.part(spark, dir)
      .filter(col("p_name").isNotNull)
      .select(
      col("p_partkey").as("asset_id"),
      unhex(sha2(col("p_name"), 256)).as("content"),
      struct(
        when(col("p_partkey") % 3 === 0, "image")
          .when(col("p_partkey") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        when(col("p_partkey") % 3 === 0, "jpeg")
          .when(col("p_partkey") % 3 === 1, "wav")
          .otherwise("mp4").as("format"),
        (col("p_size") * 20 + 40).cast("int").as("width"),
        (col("p_size") * 12 + 30).cast("int").as("height"),
        (col("p_partkey") % 5000).cast("long").as("duration_ms")).as("media"))
    val feats = Multimodal.extractFeatures(Multimodal.resize(assets, 512))
    val frames = Multimodal.sampleFrames(assets, strideMs = 1000L)
      .groupBy(col("asset_id")).agg(count(lit(1)).as("n_frames"))
    feats.join(frames, Seq("asset_id"))
      .groupBy(col("media.kind").as("kind"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_frames")).as("total_frames"),
        avg(element_at(col("features"), 1)).as("mean_f0"),
        max(col("media.width")).as("max_width"))
  }

  /** Asset-level exact dedup — the content-digest pass every multimodal
    * pipeline runs before training (identical bytes under different
    * asset ids: re-uploads, mirrored scrapes). Group key = sha-256 OF
    * THE CONTENT BYTES, so the shuffle carries a 32-byte digest per
    * asset regardless of blob size and spreads perfectly (digests are
    * uniform); at 100 TB the digest is computed once at ingest next to
    * the bytes, and this is one hash aggregate — the `q_dedup_exact`
    * shape applied to binary columns. Survivor = smallest asset id,
    * the deterministic choice replay needs. The fixture's duplicate
    * part names produce genuinely duplicated blobs (same synthesis as
    * [[multimodalFeatures]]' content column: the bytes ARE
    * unhex(sha256(name)), so that hex digest is exactly the content's
    * digest-identity — a real pipeline digests the blob bytes at
    * ingest, same 32-byte key either way). */
  /** Dump-time placeholder for [[mediaPhash]]'s oracle: the SQL reads
    * the PERSISTED per-asset hash table, whose location is keyed by the
    * sf dir — [[graft.Verify]] substitutes the actual store path when
    * it writes `oracle_sql.json` (the sf dir is a dump-time fact, not a
    * compile-time one). */
  val PhashStoreToken = "__GRAFT_PHASH_STORE__"

  /** CURRENT version root of the persisted phash table for `dir` —
    * exposed for the oracle-dump substitution in [[graft.Verify]]
    * (resolves the [[PersistedStore]] version pointer so DuckDB reads
    * exactly the committed generation). */
  def phashStorePath(spark: SparkSession, dir: String): String =
    PersistedStore.currentRoot(spark, dir, "phash_store")

  private[graft] val phashCache = new SessionCache.Cache[DataFrame]

  /** The asset DIRECTORY for `dir` — real .bmp files on disk (the
    * deterministic fixture [[Multimodal.writeAssetFixture]] commits
    * once per documents listing; a production deployment points this
    * at whatever object store already holds the media). */
  private[graft] def assetDir(spark: SparkSession, dir: String): String =
    Multimodal.writeAssetFixture(spark, dir)

  /** File ingest of the asset directory — the user's actual first act:
    * `binaryFile` scan (path, length, content), asset id parsed from
    * the file name. This is the entry point [[phashStore]] decodes
    * behind; the store's source signature covers the asset BYTES
    * (name|length|mtime listing of the .bmp files), so touching one
    * file invalidates exactly this store. */
  private[graft] def assetFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bmp")
      .load(assetDir(spark, dir))
      .select(
        regexp_extract(col("path"), "asset-(\\d+)\\.bmp$", 1)
          .cast("long").as("asset_id"),
        col("content"))

  /** The per-asset perceptual-hash table AT REST — the decode boundary
    * made a persisted artifact ([[PersistedStore]], the PQ-store
    * pattern): javax.imageio decode + 8×8 average hash run ONCE per
    * corpus and land as parquet behind the documents source signature;
    * every consumer — this session, a fresh session, the DuckDB oracle
    * — reads the same hashes back. This is the op's production shape
    * anyway (perceptual hashes are computed at ingest next to the
    * bytes, the near-dup join runs over the hash table), and it is what
    * makes the RELATIONAL stage independently verifiable: the decode
    * stays spec-pinned (MultimodalSpec), the candidate arithmetic over
    * the persisted BIGINTs is plain SQL. */
  /** Build-or-reuse the media store for `dir`: TWO sibling tables from
    * ONE `binaryFile` pass over the asset directory — `hashes`
    * (asset_id, phash: the decode boundary) and `ingest` (asset_id,
    * n_bytes, content_sha: the byte-level identity row a real ingest
    * digests next to the blob). Source signature = the .bmp listing
    * (name|length|mtime), so touching one asset file invalidates
    * exactly this store. */
  private def mediaStore(spark: SparkSession, dir: String): String = {
    val adir = assetDir(spark, dir)
    PersistedStore.ensure(spark, dir, "*.bmp",
      "phash_store", "v3", sigDir = adir) { root =>
      val files = assetFiles(spark, dir).localCheckpoint()
      try {
        Multimodal.perceptualHashes(files)
          .write.mode("overwrite").parquet(s"$root/hashes")
        files.select(col("asset_id"),
            length(col("content")).cast("long").as("n_bytes"),
            sha2(col("content"), 256).as("content_sha"))
          .write.mode("overwrite").parquet(s"$root/ingest")
      } finally SessionCache.releaseFrame(files)
    }
  }

  private[graft] def phashStore(spark: SparkSession, dir: String): DataFrame = {
    val adir = assetDir(spark, dir)
    // session-cache staleness keys on the ASSET listing (not the
    // documents table): touching one .bmp invalidates this cache and,
    // below, the persisted store — real bytes drive the signature
    phashCache.getOrBuild(spark, adir, "*.bmp", extra = s"$dir@hashes") {
      Tables.parquet(spark, s"${mediaStore(spark, dir)}/hashes")
    }
  }

  private[graft] def ingestStore(spark: SparkSession, dir: String): DataFrame = {
    val adir = assetDir(spark, dir)
    phashCache.getOrBuild(spark, adir, "*.bmp", extra = s"$dir@ingest") {
      Tables.parquet(spark, s"${mediaStore(spark, dir)}/ingest")
    }
  }

  /** Exact media dedup over FILE-SOURCED bytes — the user's first act
    * against a real asset directory: `binaryFile` scan → per-blob
    * sha-256 + byte length persisted at ingest ([[mediaStore]]), then
    * the digest-keyed group: one row per distinct content with its
    * representative (min asset id) and copy count. The fixture plants
    * byte-identical duplicate FILES (id and id+100000), so n_copies=2
    * groups are real file-level dupes, found from bytes alone. The
    * oracle reads the persisted ingest table (dump-time path token,
    * the [[mediaPhash]] device) and replays the aggregate — the
    * file→bytes→digest boundary itself is spec-pinned
    * (MultimodalSpec: corrupt a file, watch the store rebuild). */
  val mediaIngest: Op = Op(
    "q_media_ingest",
    s"""SELECT content_sha,
       |       CAST(min(asset_id) AS BIGINT) AS rep_asset,
       |       COUNT(*) AS n_copies,
       |       CAST(min(n_bytes) AS BIGINT) AS n_bytes
       |FROM read_parquet('$PhashStoreToken/ingest/*.parquet')
       |GROUP BY content_sha""".stripMargin) { (spark, dir) =>
    ingestStore(spark, dir)
      .groupBy(col("content_sha"))
      .agg(min(col("asset_id")).as("rep_asset"),
        count(lit(1)).as("n_copies"),
        min(col("n_bytes")).as("n_bytes"))
      .select(col("content_sha"), col("rep_asset"), col("n_copies"),
        col("n_bytes"))
  }

  /** Perceptual near-duplicate detection over REAL decoded images —
    * the LAION-style asset near-dup pass exact digests can't do (one
    * recompressed/retouched pixel changes the sha, not the picture):
    * deterministic 16×16 BMP assets ([[Multimodal.syntheticImageAssets]]
    * — groups planting a one-cell-perturbed near-dup next to an
    * unrelated pattern, REAL javax.imageio decode), per-asset 8×8
    * average hash ([[Multimodal.StubDecoder.aHash]], block-averaged
    * integer luma) PERSISTED via [[phashStore]], candidate pairs
    * through the EXISTING banded 64-bit-signature kernel
    * ([[Dedup.simhashCandidatesOf]], 4×16 / radius-3 — the measured
    * sub-quadratic geometry; phash and simhash are the same
    * Hamming-space problem, so the scale path is shared, not
    * re-derived). Non-decodable payloads carry NULL hashes and are
    * excluded — byte-level hashes are not perceptual fingerprints;
    * exact dedup of those stays [[mediaDedup]]'s contract.
    *
    * Oracled at the decode boundary: the decode itself cannot replay in
    * DuckDB (planted-pair exactness, perturbation tolerance and
    * cross-pattern exclusion stay pinned in MultimodalSpec), but the
    * banded candidate join over the persisted hash table can — and
    * 4×16 banding with the radius-3 cut is PIGEONHOLE-EQUIVALENT to
    * the exact all-pairs Hamming≤3 join (any pair within Hamming 3
    * leaves some band untouched), so the oracle is that all-pairs
    * form: a check of the banding's exactness, not a replay of it. */
  val mediaPhash: Op = Op(
    "q_media_phash",
    s"""WITH h AS (
       |  SELECT asset_id, phash
       |  FROM read_parquet('$PhashStoreToken/hashes/*.parquet')
       |  WHERE phash IS NOT NULL
       |)
       |SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       |       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
       |FROM h a JOIN h b ON a.asset_id < b.asset_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin) {
    (spark, dir) =>
    val sigs = phashStore(spark, dir)
      .filter(col("phash").isNotNull)
      .select(col("asset_id").as("doc_id"), col("phash").as("simhash"))
    Dedup.simhashCandidatesOf(sigs, bands = 4, bitsPerBand = 16)
      .select(col("doc_id_a").as("asset_a"),
        col("doc_id_b").as("asset_b"), col("hamming"))
  }

  val mediaDedup: Op = Op(
    "q_media_dedup",
    """SELECT sha256(p_name) AS content_sha,
      |       CAST(min(p_partkey) AS BIGINT) AS rep_asset,
      |       COUNT(*) AS n_copies
      |FROM part GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin) {
    (spark, dir) =>
    Tables.part(spark, dir)
      .select(col("p_partkey").as("asset_id"),
        sha2(col("p_name"), 256).as("content_sha"))
      .groupBy(col("content_sha"))
      .agg(min(col("asset_id")).as("rep_asset"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
  }
}
