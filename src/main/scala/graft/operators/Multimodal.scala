package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata. The testdata has no real image/audio bytes, so media is
  * synthesized deterministically (`encode(text, 'UTF-8')`) and the decode
  * step is a clearly-marked deterministic fake ([[fakeDecode]]) — the
  * Spark-side plumbing (binary column, per-batch feature extraction, schema)
  * is real and oracle-checked.
  *
  * Real deployment note: swap [[fakeDecode]] for a `mapPartitions` batch
  * decoder (JNI/FFI image lib) over the same binary column; everything
  * upstream/downstream is unchanged. Binary payloads stay off the shuffle
  * path — features are extracted map-side and only the (small) feature
  * columns move.
  */
object Multimodal {

  /** documents → (doc_id, media binary, media_kind). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("media"),
        (col("doc_id") % 3).cast("int").as("media_kind")) // 0=image,1=audio,2=video stand-ins

  /** Deterministic fake decode: byte length, 4-byte header hex, content
    * digest, and fake width/height/frame metadata derived from the payload
    * size. A real decoder replaces exactly these three columns. */
  def fakeDecode(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      col("media_kind"),
      length(col("media")).as("n_bytes"),
      lower(hex(substring(col("media"), 1, 4))).as("header_hex"),
      md5(col("media")).as("content_md5"),
      (length(col("media")) % 640).as("width"),
      ((length(col("media")) * 7) % 480).as("height"),
      ((length(col("media")) % 10) + 1).as("n_frames"))

  def features(spark: SparkSession, dir: String): DataFrame =
    fakeDecode(mediaTable(spark, dir))

  /** Oracle operates on the text bytes directly (DuckDB lacks blob
    * substring/md5); the payload is UTF-8 of ASCII text, so byte and char
    * slices coincide. */
  val featuresSql: String =
    """SELECT doc_id,
      |       CAST(doc_id % 3 AS INTEGER) AS media_kind,
      |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |       lower(hex(substr(text, 1, 4))) AS header_hex,
      |       md5(text) AS content_md5,
      |       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
      |       CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
      |       CAST(octet_length(encode(text)) % 10 + 1 AS INTEGER) AS n_frames
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  private val FrameStep = 2 // sample every 2nd frame
  private val FrameMs = 40 // fake 25 fps timeline

  /** Frame sampling + thumbnail resize over the "video" media rows: one row
    * per sampled frame (every [[FrameStep]]-th of n_frames), each with a
    * deterministic per-frame digest (what a real pipeline keys extracted
    * frames by) and an aspect-preserving 256-wide thumbnail geometry in
    * integer math. The explode is a Generate over `sequence` — frame fan-out
    * happens map-side where the payload lives; only (doc_id, frame) feature
    * rows move downstream. A real decoder swaps the digest for the actual
    * frame grab at the same seam as [[fakeDecode]]. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir)
      .filter(col("media_kind") === 2)
      .select(col("doc_id"), col("content_md5"), col("width"), col("height"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(FrameStep))).as("frame_idx"))
      .select(
        col("doc_id"),
        col("frame_idx"),
        (col("frame_idx") * FrameMs).as("frame_ts_ms"),
        md5(concat(col("content_md5"), lit(":"), col("frame_idx").cast("string")))
          .as("frame_digest"),
        lit(256).as("thumb_w"),
        expr("CAST((height * 256) div greatest(width, 1) AS INT)").as("thumb_h"))

  val frameSampleSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |         md5(text) AS content_md5,
       |         CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
       |         CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
       |         CAST(octet_length(encode(text)) % 10 + 1 AS INTEGER) AS n_frames
       |  FROM documents WHERE doc_id % 3 = 2)
       |SELECT doc_id,
       |       CAST(frame_idx AS INTEGER) AS frame_idx,
       |       CAST(frame_idx * $FrameMs AS INTEGER) AS frame_ts_ms,
       |       md5(content_md5 || ':' || CAST(frame_idx AS VARCHAR)) AS frame_digest,
       |       CAST(256 AS INTEGER) AS thumb_w,
       |       CAST((height * 256) // greatest(width, 1) AS INTEGER) AS thumb_h
       |FROM f, UNNEST(range(0, n_frames, $FrameStep)) AS u(frame_idx)
       |ORDER BY doc_id, frame_idx""".stripMargin

  private val TileSize = 32

  /** Image TILING over the "image" media rows: the ViT-style patch grid —
    * one row per [[TileSize]]² tile with its pixel box and a per-tile
    * digest (the key a real pipeline stores patch embeddings under). Grid
    * geometry is pure integer math off the fake-decoded width/height; edge
    * tiles clamp to the image bounds. Single Generate over the flat tile
    * index (tx/ty recovered by div/mod) running map-side next to the
    * payload — the image-modality sibling of [[frameSample]] (video) and
    * [[audioChunks]] (audio), with the same decoder swap-in seam. */
  def imageTiles(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir)
      .filter(col("media_kind") === 0)
      .select(col("doc_id"), col("content_md5"),
        greatest(col("width"), lit(1)).as("w"),
        greatest(col("height"), lit(1)).as("h"))
      .withColumn("nx", expr(s"CAST((w + ${TileSize - 1}) div $TileSize AS INT)"))
      .withColumn("ny", expr(s"CAST((h + ${TileSize - 1}) div $TileSize AS INT)"))
      .select(col("doc_id"), col("content_md5"), col("w"), col("h"), col("nx"),
        explode(sequence(lit(0), col("nx") * col("ny") - 1)).as("tile_idx"))
      .select(
        col("doc_id"),
        col("tile_idx"),
        (col("tile_idx") % col("nx")).as("tx"),
        expr("CAST(tile_idx div nx AS INT)").as("ty"),
        (col("tile_idx") % col("nx") * TileSize).as("x0"),
        expr(s"CAST(tile_idx div nx AS INT) * $TileSize").as("y0"),
        least(col("tile_idx") % col("nx") * TileSize + TileSize, col("w")).as("x1"),
        least(expr(s"CAST(tile_idx div nx AS INT) * $TileSize + $TileSize"), col("h"))
          .as("y1"),
        md5(concat(col("content_md5"), lit("@"), col("tile_idx").cast("string")))
          .as("tile_digest"))

  val imageTilesSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, md5(text) AS content_md5,
       |         greatest(CAST(octet_length(encode(text)) % 640 AS INTEGER), 1) AS w,
       |         greatest(CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER), 1) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |g AS (SELECT doc_id, content_md5, w, h,
       |             CAST((w + ${TileSize - 1}) // $TileSize AS INTEGER) AS nx,
       |             CAST((h + ${TileSize - 1}) // $TileSize AS INTEGER) AS ny
       |      FROM f)
       |SELECT doc_id,
       |       CAST(tile_idx AS INTEGER) AS tile_idx,
       |       CAST(tile_idx % nx AS INTEGER) AS tx,
       |       CAST(tile_idx // nx AS INTEGER) AS ty,
       |       CAST(tile_idx % nx * $TileSize AS INTEGER) AS x0,
       |       CAST(tile_idx // nx * $TileSize AS INTEGER) AS y0,
       |       CAST(LEAST(tile_idx % nx * $TileSize + $TileSize, w) AS INTEGER) AS x1,
       |       CAST(LEAST(tile_idx // nx * $TileSize + $TileSize, h) AS INTEGER) AS y1,
       |       md5(content_md5 || '@' || CAST(tile_idx AS VARCHAR)) AS tile_digest
       |FROM g, UNNEST(range(0, nx * ny)) AS u(tile_idx)
       |ORDER BY doc_id, tile_idx""".stripMargin

  private val PhashBits = 60
  private val PhashBands = 4 // 15 bits each; pigeonhole-complete for hamming <= 3
  private val PhashBandBits = 15
  private val PhashHammingMax = 3

  /** PERCEPTUAL-HASH NEAR-DUP over the image modality: a 60-bit signature
    * per image from the bitwise MAJORITY of its tile-digest hashes (the
    * simhash construction, tiles as features), then banded hamming pairs —
    * 4×15-bit band equi-join, pigeonhole-complete for hamming ≤ 3, exact
    * `bit_count(xor)` verification on candidates only. Real pHash feeds
    * DCT coefficients of decoded pixels into exactly this signature seat;
    * here the tile digests from the deterministic fake decode stand in,
    * and everything that matters at scale is real: the signature is one
    * map-side aggregate next to the payload (bytes never shuffle), the
    * candidate set comes from a band equi-join (never all-pairs), and the
    * verify step touches only candidates. Identical images (duplicate
    * source docs) land at hamming 0. */
  def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.hash60
    val th = imageTiles(spark, dir)
      .select(col("doc_id"), hash60(col("tile_digest")).as("h"))
    // signature+band table: artifact, not persist() — the self-join below
    // reads both sides from the bucketed parquet (zero-exchange on bkey)
    // and no executor memory stays owned after the build (round-9 advice)
    val bands = graft.Artifacts.bucketedTable(
        spark, dir, "mm_phash_bands", Seq("bkey")) {
      Dedup.digestBands(Dedup.simhashDigest(th, lit(1), PhashBits, "phash"),
        "phash", PhashBands, PhashBandBits)
    }
    Dedup.hammingPairs(bands, "phash", PhashHammingMax)
  }

  val phashPairsSql: String = {
    import graft.functions.TextFns.hash60Sql
    val mask = (1L << PhashBandBits) - 1
    val (bitSums, digest) = Dedup.simhashDigestSql(PhashBits, "1")
    s"""WITH f AS (
       |  SELECT doc_id, md5(text) AS content_md5,
       |         greatest(CAST(octet_length(encode(text)) % 640 AS INTEGER), 1) AS w,
       |         greatest(CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER), 1) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |g AS (SELECT doc_id,
       |             CAST((w + ${TileSize - 1}) // $TileSize AS INTEGER) AS nx,
       |             CAST((h + ${TileSize - 1}) // $TileSize AS INTEGER) AS ny,
       |             content_md5
       |      FROM f),
       |t AS (SELECT doc_id,
       |             md5(content_md5 || '@' || CAST(tile_idx AS VARCHAR)) AS td
       |      FROM g, UNNEST(range(0, nx * ny)) AS u(tile_idx)),
       |th AS (SELECT doc_id, ${hash60Sql("td")} AS h FROM t),
       |s AS (SELECT doc_id,
       |       $bitSums
       |      FROM th GROUP BY doc_id),
       |d AS (SELECT doc_id, $digest AS phash FROM s),
       |bands AS (SELECT doc_id, phash,
       |                 b, (phash >> (b * $PhashBandBits)) & $mask AS bkey
       |          FROM d, UNNEST(range(0, $PhashBands)) AS u(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |                x.phash AS ah, y.phash AS bh
       |         FROM bands x JOIN bands y
       |           ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ah, bh)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(ah, bh)) <= $PhashHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val CaptionMinTokens = 5
  private val CaptionMaxTokens = 77 // the CLIP context budget
  private val CaptionMinSide = 64

  /** IMAGE–CAPTION PAIR MANIFEST — the training-pair table a CLIP-style
    * run consumes: one row per image with its caption's token count, the
    * image geometry, and the keep decision under the standard contrastive
    * -pretraining filters (caption within [[CaptionMinTokens]]..
    * [[CaptionMaxTokens]] tokens — the CLIP context budget — and no side
    * under [[CaptionMinSide]] px). Here the caption is the document's own
    * text standing in for alt-text; the decisions are integer
    * comparisons, the pair digest keys the (image, caption) pair for
    * downstream shard assignment, and everything is a single map-side
    * pass next to the payload — at 100 TB this projection runs where the
    * bytes live and only the manifest moves. */
  def captionPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.tokens
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"),
        (length(encode(col("text"), "UTF-8")) % 640).as("width"),
        (length(encode(col("text"), "UTF-8")) * 7 % 480).as("height"))
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_caption_tokens"),
        col("width"), col("height"),
        expr(s"width * 10000 div greatest(height, 1)").as("aspect_bp"),
        md5(concat(md5(col("text")), lit("#"),
          size(tokens(col("text"))).cast("string"))).as("pair_digest"),
        (size(tokens(col("text"))).between(CaptionMinTokens, CaptionMaxTokens) &&
          least(col("width"), col("height")) >= CaptionMinSide).as("keep"))
  }

  val captionPairsSql: String = {
    val toks = "len(regexp_split_to_array(trim(text), '\\s+'))"
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |         CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
       |         CAST(octet_length(encode(text)) * 7 % 480 AS INTEGER) AS height
       |  FROM documents WHERE doc_id % 3 = 0)
       |SELECT doc_id,
       |       CAST($toks AS INTEGER) AS n_caption_tokens,
       |       width, height,
       |       CAST(width AS BIGINT) * 10000 // greatest(height, 1) AS aspect_bp,
       |       md5(md5(text) || '#' || CAST($toks AS VARCHAR)) AS pair_digest,
       |       $toks BETWEEN $CaptionMinTokens AND $CaptionMaxTokens
       |         AND LEAST(width, height) >= $CaptionMinSide AS keep
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  private val SampleRate = 16000
  private val ChunkSamples = 5 * SampleRate // 5-second windows

  /** Audio CHUNKING over the "audio" media rows: a fake decode maps the
    * payload to a PCM length (n_samples = 100 samples/byte stand-in), then
    * the stream is split into fixed 5 s windows — one row per chunk with
    * sample offsets, duration, and a per-chunk digest (the key a real
    * pipeline stores extracted ASR/embedding features under). The chunk
    * fan-out is a Generate over `sequence` running map-side next to the
    * payload; only (doc_id, chunk) feature rows move downstream — the same
    * partitioning discipline as [[frameSample]]. A real decoder swaps the
    * sample-count formula and digest at the [[fakeDecode]] seam. */
  def audioChunks(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir)
      .filter(col("media_kind") === 1)
      .select(col("doc_id"), col("content_md5"),
        (col("n_bytes") * 100).as("n_samples"))
      .select(col("doc_id"), col("content_md5"), col("n_samples"),
        explode(sequence(lit(0),
          expr(s"(n_samples + ${ChunkSamples - 1}) div $ChunkSamples - 1"))).as("chunk"))
      .select(
        col("doc_id"), col("chunk").cast("int").as("chunk"),
        (col("chunk") * ChunkSamples).cast("int").as("start_sample"),
        least(col("chunk") * ChunkSamples + ChunkSamples, col("n_samples"))
          .cast("int").as("end_sample"),
        expr(s"CAST((least(chunk * $ChunkSamples + $ChunkSamples, n_samples)" +
          s" - chunk * $ChunkSamples) * 1000 div $SampleRate AS INT)").as("chunk_ms"),
        md5(concat(col("content_md5"), lit("#"), col("chunk").cast("string")))
          .as("chunk_digest"))

  val audioChunksSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, md5(text) AS content_md5,
       |         CAST(octet_length(encode(text)) * 100 AS INTEGER) AS n_samples
       |  FROM documents WHERE doc_id % 3 = 1)
       |SELECT doc_id,
       |       CAST(chunk AS INTEGER) AS chunk,
       |       CAST(chunk * $ChunkSamples AS INTEGER) AS start_sample,
       |       CAST(LEAST(chunk * $ChunkSamples + $ChunkSamples, n_samples) AS INTEGER)
       |         AS end_sample,
       |       CAST((LEAST(chunk * $ChunkSamples + $ChunkSamples, n_samples)
       |             - chunk * $ChunkSamples) * 1000 // $SampleRate AS INTEGER) AS chunk_ms,
       |       md5(content_md5 || '#' || CAST(chunk AS VARCHAR)) AS chunk_digest
       |FROM a, UNNEST(range(0, (n_samples + ${ChunkSamples - 1}) // $ChunkSamples)) AS u(chunk)
       |ORDER BY doc_id, chunk""".stripMargin

  /** Cross-modality join: the text row (documents) keyed to its embedding
    * row (embeddings) — the canonical multimodal-table shape where each
    * modality lives in its own table sharing the document key. Emits the
    * squared L2 norm of the embedding (exact sequential double fold,
    * bit-identical in DuckDB's list_dot_product). At 100 TB both sides are
    * large: this is the one join family that genuinely wants BUCKETED
    * storage on the shared key (both tables bucketed on doc_id → zero
    * exchange, demonstrated in BucketedJoinSpec); unbucketed it is one
    * co-shuffle, with the embedding payload (256 B/row) dominating the
    * wire cost — at which point store embeddings pre-bucketed or
    * broadcast the text-side metadata instead. */
  def modalityJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFns._
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    d.join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
        // native dotFast (round-17): the HOF dot is CodegenFallback and
        // broke whole-stage codegen for the per-row norm projection; the
        // fused loop folds identically, so sq_norm is bit-unchanged
        dotFast(col("v"), col("v")).as("sq_norm"))
  }

  val modalityJoinSql: String =
    """SELECT doc_id, lang, n_chars, label,
      |       list_dot_product(v, v) AS sq_norm
      |FROM documents
      |JOIN (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings) e
      |  ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin

  private val ShardBytes = 16384

  /** SHARD MANIFEST: WebDataset-style packing of the media stream into
    * ~[[ShardBytes]]-byte shards — the storage layout a multimodal training
    * loader actually reads (sequential tar-like shards, not one file per
    * item). Items are laid out in doc_id order; an item belongs to the
    * shard its FIRST byte falls in (boundary-binned packing: shard_id =
    * floor(preceding_bytes / target) — deterministic, one window pass, and
    * within one item-size of the greedy packer everywhere). Output is the
    * manifest a loader indexes: per shard, the item count, byte size, and
    * the doc_id range (contiguous by construction). The prefix sum is
    * row-gated by [[TwoPass.prefixSum]]: the single-task global window
    * below the gate, the two-pass distributed form (per-bucket subtotals
    * + broadcast offsets — same integer arithmetic) above it; TwoPassSpec
    * holds the regimes value-identical. Payload bytes never move either
    * way: the window carries only (doc_id, n_bytes). */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifestWithGate(spark, dir, TwoPass.WindowGateRows)

  private[graft] def shardManifestWithGate(
      spark: SparkSession, dir: String, gate: Long): DataFrame = {
    val base = features(spark, dir).select(col("doc_id"), col("n_bytes"))
    TwoPass.prefixSum(base, "doc_id", "n_bytes", "cum_before",
      Tables.rows(spark, dir, "documents"), gate)
      .withColumn("shard_id", expr(s"cum_before div $ShardBytes"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("doc_lo"),
        max(col("doc_id")).as("doc_hi"))
  }

  val shardManifestSql: String =
    s"""WITH m AS (SELECT doc_id,
       |                  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
       |           FROM documents),
       |c AS (SELECT doc_id, n_bytes,
       |             COALESCE(CAST(SUM(n_bytes) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |               AS cum_before
       |      FROM m)
       |SELECT cum_before // $ShardBytes AS shard_id,
       |       COUNT(*) AS n_items,
       |       CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
       |       MIN(doc_id) AS doc_lo,
       |       MAX(doc_id) AS doc_hi
       |FROM c
       |GROUP BY 1
       |ORDER BY shard_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("mm_features", features(_, _).orderBy("doc_id"), Some(featuresSql)),
    Q("mm_shard_manifest", shardManifest(_, _).orderBy("shard_id"),
      Some(shardManifestSql)),
    Q("mm_frame_sample", frameSample(_, _).orderBy("doc_id", "frame_idx"),
      Some(frameSampleSql)),
    Q("mm_audio_chunks", audioChunks(_, _).orderBy("doc_id", "chunk"),
      Some(audioChunksSql)),
    Q("mm_image_tiles", imageTiles(_, _).orderBy("doc_id", "tile_idx"),
      Some(imageTilesSql)),
    Q("mm_modality_join", modalityJoin(_, _).orderBy("doc_id"),
      Some(modalityJoinSql)),
    Q("mm_phash_pairs", phashPairs(_, _).orderBy("doc_a", "doc_b"),
      Some(phashPairsSql)),
    Q("mm_caption_pairs", captionPairs(_, _).orderBy("doc_id"),
      Some(captionPairsSql)))
}
