package graft.queries

import graft.ops.Multimodal
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked multimodal-column family (north-star operators; see
  * [[graft.ops.Multimodal]]): binary payloads synthesized from the
  * documents corpus, metadata extraction, format sniffing, frame sampling,
  * and the mapPartitions decode stand-in.
  *
  * Oracle notes: DuckDB's md5/substr don't accept BLOBs, so the oracle SQL
  * computes the same bytes on the VARCHAR side — equivalent because the
  * synthetic corpus is pure ASCII (one byte per char, and md5(VARCHAR)
  * hashes the UTF-8 bytes, exactly what Spark's md5(binary) sees).
  * `multimodal_byte_features` exercises the typed mapPartitions path that
  * has no SQL equivalent → registered without oracle SQL (rows-only check;
  * full semantics covered by MultimodalSpec).
  */
object MultimodalQueries {

  private val FrameSize = 64
  private val MaxFrames = 8

  private def blobs(spark: SparkSession, dir: String): DataFrame =
    Multimodal.packBlobs(Tables.documents(spark, dir), "doc_id", "text")

  /** Metadata + format-sniff rollup per (modality, format). */
  def meta(spark: SparkSession, dir: String): DataFrame =
    blobs(spark, dir)
      .withColumn("format", Multimodal.sniffFormat(col("modality"), col("blob")))
      .groupBy("modality", "format")
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("meta.n_bytes")).as("total_bytes"),
        min(col("meta.digest")).as("min_digest"),
        max(col("meta.digest")).as("max_digest"))
      .orderBy("modality", "format")

  /** Frame sampling: per-frame digests for the video-modality blobs. */
  def frames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
        blobs(spark, dir).filter(col("modality") === "video"),
        FrameSize, MaxFrames)
      .orderBy("id", "frame_idx")

  /** Decode stand-in over the typed mapPartitions path — no SQL oracle
    * (rows-only); asserted value-exactly in MultimodalSpec.
    */
  def byteFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.byteFeatures(blobs(spark, dir))
      .toDF()
      .select(col("id"), col("n_bytes"), col("entropy_milli"),
        concat_ws(",", col("byte_hist")).as("hist_csv"))
      .orderBy("id")

  private val PhashMaxHamming = 6

  /** Codec-free perceptual hashes over the blob byte grid
    * ([[graft.ops.Multimodal.perceptualHashes]]) — integer-exact aHash +
    * dHash codes per blob, fully replayed by the oracle from the ASCII
    * text side (unlike the histogram stand-in, the hash construction has
    * a SQL twin: integer chunk rule + cross-multiply bits).
    */
  def phash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHashes(blobs(spark, dir))
      .toDF()
      .orderBy("id")

  /** Banded perceptual near-dup pairs
    * ([[graft.ops.Multimodal.phashNearDupPairs]]): aHash-half band
    * candidates verified by 64-bit Hamming ≤ 6 — the image-dedup funnel
    * running on the codec-free codes. The unique-text sf0.001/sf0.01
    * corpora yield ZERO band candidates (an exact 32-bit half match needs
    * a near-identical byte profile) and the oracle agrees on the empty
    * result; sf0.1's near-dup slice surfaces real pairs at hamming 0 —
    * the banding-selectivity lesson, recorded rather than tuned away.
    */
  def phashNearDup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.phashNearDupPairs(
        Multimodal.perceptualHashes(blobs(spark, dir)).toDF(),
        PhashMaxHamming)
      .orderBy("id_a", "id_b")

  private val AspectCap = 12L

  /** Corpus dimension / aspect-ratio profile from REAL container-header
    * parsing ([[graft.ops.Multimodal.packImageBlobs]] synthesizes
    * spec-valid PNG IHDR / JPEG SOF byte streams with id-derived
    * dimensions; [[graft.ops.Multimodal.withImageDims]] parses them BACK
    * from the bytes — the oracle re-derives the dimensions independently
    * from the id formulas, so a hash match proves parse(pack(id)) ==
    * ground truth end to end, errors never cancelling). Truncated-header
    * blobs (~1/97) land in the aspect_bucket −1 row with NULL dimension
    * stats — counted, never crashed on. Aspect bucket = min(4·w div h,
    * 12), an all-integer rule.
    */
  def dimensions(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.packImageBlobs(
      Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.withImageDims(blobs, "blob")
      .withColumn("aspect_bucket",
        when(col("img_width").isNotNull,
          least(expr("(img_width * 4) DIV img_height"), lit(AspectCap)))
          .otherwise(lit(-1L)))
      .groupBy("img_format", "aspect_bucket")
      .agg(count(lit(1)).as("n_blobs"),
        count(col("img_width")).as("n_parsed"),
        min("img_width").as("min_width"),
        max("img_width").as("max_width"),
        min("img_height").as("min_height"),
        max("img_height").as("max_height"),
        sum(col("img_width") * col("img_height")).as("sum_pixels"))
      .orderBy("img_format", "aspect_bucket")
  }

  /** Corpus audio profile from REAL RIFF/WAVE chunk-walk parsing
    * ([[graft.ops.Multimodal.packAudioBlobs]] synthesizes spec-exact
    * 44-byte PCM headers with id-derived format fields and the document
    * bytes as payload; [[graft.ops.Multimodal.withWavMeta]] parses them
    * BACK — the oracle re-derives every field from the id formulas, so
    * pack/parse errors cannot cancel). Truncated blobs (~1/89) land in
    * the (−1, −1) group with NULL stats. Duration is the exact integer
    * data_bytes·1000 div byte_rate.
    */
  def audioProfile(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.packAudioBlobs(
      Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.withWavMeta(blobs, "blob")
      .groupBy(coalesce(col("wav_sample_rate"), lit(-1L))
          .as("sample_rate"),
        coalesce(col("wav_channels"), lit(-1L)).as("channels"))
      .agg(count(lit(1)).as("n_blobs"),
        count(col("wav_duration_ms")).as("n_parsed"),
        sum(col("wav_data_bytes")).as("sum_data_bytes"),
        sum(col("wav_duration_ms")).as("sum_duration_ms"),
        min(col("wav_duration_ms")).as("min_duration_ms"),
        max(col("wav_duration_ms")).as("max_duration_ms"))
      .orderBy("sample_rate", "channels")
  }

  /** Corpus video profile from REAL ISO-BMFF box-walk parsing — the
    * video leg of the modality triple beside [[dimensions]] and
    * [[audioProfile]] ([[graft.ops.Multimodal.packVideoBlobs]] /
    * [[graft.ops.Multimodal.withMp4Meta]]; the nested walk finds moov
    * past a VARIABLE-size free box, then mvhd inside it). Same
    * independent-ground-truth oracle discipline; truncated blobs
    * (~1/83) land in the ('none', −1) group.
    */
  def videoProfile(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.packVideoBlobs(
      Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.withMp4Meta(blobs, "blob")
      .groupBy(coalesce(col("mp4_brand"), lit("none")).as("brand"),
        coalesce(col("mp4_timescale"), lit(-1L)).as("timescale"))
      .agg(count(lit(1)).as("n_blobs"),
        count(col("mp4_duration_ms")).as("n_parsed"),
        sum(col("mp4_duration_units")).as("sum_duration_units"),
        sum(col("mp4_duration_ms")).as("sum_duration_ms"),
        min(col("mp4_duration_ms")).as("min_duration_ms"),
        max(col("mp4_duration_ms")).as("max_duration_ms"))
      .orderBy("brand", "timescale")
  }

  // perceptual-hash replay from the ASCII text side: the chunk rule
  // (p·64 // n), the cross-multiply bits and the two-half bit packing are
  // all integer — byte values are ascii codes because the corpus is pure
  // ASCII (the multimodal_meta argument)
  private val phashCteSql =
    """d AS (SELECT doc_id AS id, text, length(text) AS n FROM documents),
      |pos AS (SELECT id, n, i - 1 AS p, ascii(substr(text, i, 1)) AS byte
      |  FROM d, UNNEST(generate_series(1, n)) u(i)),
      |ch AS (SELECT id, n, (p * 64) // n AS c, sum(byte) AS s,
      |    count(*) AS l
      |  FROM pos GROUP BY 1, 2, 3),
      |tot AS (SELECT id, n, sum(s) AS ts FROM ch GROUP BY 1, 2),
      |grid AS (SELECT t.id, t.n, t.ts, g.c,
      |    coalesce(ch.s, 0) AS s, coalesce(ch.l, 0) AS l
      |  FROM tot t
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS c) g
      |  LEFT JOIN ch ON ch.id = t.id AND ch.c = g.c),
      |bits AS (SELECT id, n, c,
      |    (s * n > ts * l) AS abit,
      |    (s * coalesce(lead(l) OVER w, 0) >
      |     coalesce(lead(s) OVER w, 0) * l) AS dbit
      |  FROM grid WINDOW w AS (PARTITION BY id ORDER BY c)),
      |h AS (SELECT id, max(n)::BIGINT AS n_bytes,
      |    sum(CASE WHEN abit AND c < 32 THEN 1::BIGINT << c
      |      ELSE 0 END)::BIGINT AS ahash_lo,
      |    sum(CASE WHEN abit AND c >= 32 THEN 1::BIGINT << (c - 32)
      |      ELSE 0 END)::BIGINT AS ahash_hi,
      |    sum(CASE WHEN dbit AND c < 32 THEN 1::BIGINT << c
      |      ELSE 0 END)::BIGINT AS dhash_lo,
      |    sum(CASE WHEN dbit AND c >= 32 THEN 1::BIGINT << (c - 32)
      |      ELSE 0 END)::BIGINT AS dhash_hi
      |  FROM bits GROUP BY id)""".stripMargin

  val registry: Map[String, Query] = Map(
    // INDEPENDENT ground truth: the oracle never parses bytes — it
    // re-derives each blob's dimensions from the packImageBlobs id
    // formulas (w = 1 + id%1024, h = 1 + 31·id % 1024, png/jpeg by
    // parity, NULL when id%97 = 0 truncates the header), so the Spark
    // side's byte-level PNG/JPEG parse is checked against a replay that
    // shares none of its code path
    // video leg: brand by id parity, timescale from the 5-element grid,
    // duration units = payload byte count — all re-derived from the id,
    // never parsed, so the Spark box walk is checked against ground truth
    "multimodal_video_profile" -> Query(videoProfile, Some(
      """WITH b AS (SELECT doc_id,
        |    CASE WHEN doc_id % 83 = 0 THEN NULL
        |      WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |    CASE WHEN doc_id % 83 = 0 THEN NULL
        |      ELSE [600, 1000, 90000, 44100, 24]
        |        [(doc_id % 5 + 1)::INT]::BIGINT END AS tsc,
        |    octet_length(text::BLOB)::BIGINT AS du
        |  FROM documents),
        |a AS (SELECT coalesce(brand, 'none') AS brand,
        |    coalesce(tsc, -1) AS timescale,
        |    CASE WHEN tsc IS NULL THEN NULL ELSE du END AS du,
        |    CASE WHEN tsc IS NULL THEN NULL
        |      ELSE (du * 1000) // tsc END AS dur
        |  FROM b)
        |SELECT brand, timescale,
        |  count(*) AS n_blobs, count(dur) AS n_parsed,
        |  sum(du)::BIGINT AS sum_duration_units,
        |  sum(dur)::BIGINT AS sum_duration_ms,
        |  min(dur) AS min_duration_ms, max(dur) AS max_duration_ms
        |FROM a GROUP BY 1, 2
        |ORDER BY brand, timescale""".stripMargin)),
    // same independent-ground-truth discipline as multimodal_dimensions:
    // the oracle re-derives the WAV format fields from the id formulas
    // (NULL when id%89 truncates), never touching the bytes
    "multimodal_audio_profile" -> Query(audioProfile, Some(
      """WITH b AS (SELECT doc_id,
        |    CASE WHEN doc_id % 89 = 0 THEN NULL
        |      ELSE 1 + doc_id % 2 END AS ch,
        |    CASE WHEN doc_id % 89 = 0 THEN NULL
        |      ELSE [8000, 16000, 22050, 44100, 48000]
        |        [(doc_id % 5 + 1)::INT]::BIGINT END AS sr,
        |    octet_length(text::BLOB)::BIGINT AS db
        |  FROM documents),
        |a AS (SELECT coalesce(sr, -1) AS sample_rate,
        |    coalesce(ch, -1) AS channels,
        |    CASE WHEN sr IS NULL THEN NULL ELSE db END AS db,
        |    CASE WHEN sr IS NULL THEN NULL
        |      ELSE (db * 1000) // (sr * ch * 2) END AS dur
        |  FROM b)
        |SELECT sample_rate, channels,
        |  count(*) AS n_blobs, count(dur) AS n_parsed,
        |  sum(db)::BIGINT AS sum_data_bytes,
        |  sum(dur)::BIGINT AS sum_duration_ms,
        |  min(dur) AS min_duration_ms, max(dur) AS max_duration_ms
        |FROM a GROUP BY 1, 2
        |ORDER BY sample_rate, channels""".stripMargin)),
    "multimodal_dimensions" -> Query(dimensions, Some(
      """WITH b AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END
        |      AS img_format,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |      ELSE 1 + doc_id % 1024 END AS w,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |      ELSE 1 + (doc_id * 31) % 1024 END AS h
        |  FROM documents),
        |a AS (SELECT img_format,
        |    CASE WHEN w IS NULL THEN -1
        |      ELSE least((w * 4) // h, 12) END AS aspect_bucket, w, h
        |  FROM b)
        |SELECT img_format, aspect_bucket,
        |  count(*) AS n_blobs, count(w) AS n_parsed,
        |  min(w) AS min_width, max(w) AS max_width,
        |  min(h) AS min_height, max(h) AS max_height,
        |  CAST(sum(w * h) AS BIGINT) AS sum_pixels
        |FROM a GROUP BY 1, 2
        |ORDER BY img_format, aspect_bucket""".stripMargin)),
    "multimodal_phash" -> Query(phash, Some(
      s"""WITH $phashCteSql
         |SELECT id, n_bytes, ahash_lo, ahash_hi, dhash_lo, dhash_hi
         |FROM h ORDER BY id""".stripMargin)),
    "multimodal_phash_neardup" -> Query(phashNearDup, Some(
      s"""WITH $phashCteSql,
         |pr AS (SELECT a.id AS id_a, b.id AS id_b FROM h a JOIN h b
         |    ON a.ahash_lo = b.ahash_lo AND a.id < b.id
         |  UNION
         |  SELECT a.id, b.id FROM h a JOIN h b
         |    ON a.ahash_hi = b.ahash_hi AND a.id < b.id),
         |hp AS (SELECT pr.id_a, pr.id_b,
         |    CAST(bit_count(xor(x.ahash_lo, y.ahash_lo)) +
         |         bit_count(xor(x.ahash_hi, y.ahash_hi)) AS BIGINT)
         |      AS hamming_a,
         |    CAST(bit_count(xor(x.dhash_lo, y.dhash_lo)) +
         |         bit_count(xor(x.dhash_hi, y.dhash_hi)) AS BIGINT)
         |      AS hamming_d
         |  FROM pr JOIN h x ON x.id = pr.id_a JOIN h y ON y.id = pr.id_b)
         |SELECT * FROM hp WHERE hamming_a <= $PhashMaxHamming
         |ORDER BY id_a, id_b""".stripMargin)),
    "multimodal_meta" -> Query(meta, Some(
      """WITH b AS (
        |  SELECT doc_id AS id,
        |    ['audio', 'image', 'video'][(doc_id % 3 + 1)::INT] AS modality,
        |    text, octet_length(text::BLOB)::BIGINT AS n_bytes,
        |    md5(text) AS digest
        |  FROM documents),
        |f AS (
        |  SELECT *, CASE WHEN n_bytes = 0 THEN modality || '/empty'
        |    WHEN ascii(substr(text, 1, 1)) % 2 = 0 THEN modality || '/fmt0'
        |    ELSE modality || '/fmt1' END AS format
        |  FROM b)
        |SELECT modality, format, count(*) AS n_blobs,
        |  sum(n_bytes)::BIGINT AS total_bytes,
        |  min(digest) AS min_digest, max(digest) AS max_digest
        |FROM f GROUP BY modality, format
        |ORDER BY modality, format""".stripMargin)),
    "multimodal_frames" -> Query(frames, Some(
      s"""WITH b AS (
         |  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 2),
         |fr AS (
         |  SELECT id, i AS frame_idx0, substr(text, i * $FrameSize + 1, $FrameSize) AS frame
         |  FROM b, UNNEST(generate_series(0, ${MaxFrames - 1})) AS u(i)),
         |keep AS (
         |  SELECT id, frame,
         |    row_number() OVER (PARTITION BY id ORDER BY frame_idx0) - 1 AS frame_idx
         |  FROM fr WHERE length(frame) > 0)
         |SELECT id, frame_idx::BIGINT AS frame_idx,
         |  length(frame)::BIGINT AS frame_bytes, md5(frame) AS frame_digest
         |FROM keep ORDER BY id, frame_idx""".stripMargin)),
    "multimodal_byte_features" -> Query(byteFeatures, None))
}
