package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.multimodal.Multimodal

/** J1-J4 — multimodal binary-column plumbing, every key hash-oracled
  * (the batching semantics are pinned by TextAndMultimodalSpec).
  */
object MultimodalQueries extends QueryPack {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.withMediaSchema(Tables.documents(s, dir), "doc_id", "text", "n_chars")

  /** The corpus' ids rendered to real PNGs ([[Multimodal.withPngPayloads]]). */
  private def pngs(s: SparkSession, dir: String): DataFrame =
    Multimodal.withPngPayloads(Tables.documents(s, dir), "doc_id")

  /** The three channel means of `means`, r6-rounded, as mean_r/g/b. */
  private def rgbMeans(means: Column): Seq[Column] =
    Seq("mean_r", "mean_g", "mean_b").zipWithIndex
      .map { case (name, i) => r6(element_at(means, i + 1)).as(name) }

  /** The decoded rows of a resize: source and output dims, [[rgbMeans]]. */
  private def resizeTail(out: Dataset[Multimodal.ResizedFeatures]): DataFrame =
    out.toDF().filter(col("decoded"))
      .select(Seq("doc_id", "src_width", "src_height", "out_width",
        "out_height").map(col) ++ rgbMeans(col("means")): _*)

  /** J1 `mm_schema` — binary payload + typed metadata struct.
    * SQL-oracled: the payload is the utf-8 text bytes, so byte_len is
    * octet_length(encode(text)) and the metadata is n_chars arithmetic.
    */
  def mmSchema(s: SparkSession, dir: String): DataFrame =
    media(s, dir).select(col("doc_id"),
      length(col("payload")).as("byte_len"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.format").as("format"))

  /** J2 `mm_features` — batched decode over a MIXED corpus
    * ([[Multimodal.withMixedPayloads]]): even ids are real PNGs
    * (true-codec path — decoded dims + exact channel mean), odd ids
    * are deterministic non-image blobs (fallback path —
    * `decoded = false`, byte-histogram feature, raw byte length). Both
    * halves are analytic, so the whole mixed decode is hash-oracled
    * (r10; previously rows-only — the partition-dependent
    * `batch_size` column moved out of the query output; the batching
    * shape itself stays pinned by TextAndMultimodalSpec).
    */
  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s,
        Multimodal.withMixedPayloads(Tables.documents(s, dir), "doc_id"),
        batchSize = 64)
      .toDF()
      .select(col("doc_id"), col("decoded"),
        when(col("decoded"), col("img_width").cast("long")).as("width"),
        when(col("decoded"), col("img_height").cast("long")).as("height"),
        when(!col("decoded"), col("n_bytes").cast("long")).as("raw_bytes"),
        r6(element_at(col("features"), 1)).as("f0"))

  /** J2 `mm_decode` — REAL image decode, oracled: each doc id is
    * rendered to a tiny deterministic PNG (real encoder), batch-decoded
    * with javax.imageio, and the decoded dimensions, band count, and
    * exact per-channel pixel means are hash-compared against a DuckDB
    * oracle that computes the EXPECTED values analytically from the
    * shared pixel formula `(mc*id + ac*k) mod 256` — the decode has to
    * reproduce every pixel bit-for-bit to pass. Integer pixel sums are
    * exact in doubles and both engines divide in the same order, so
    * the means match to the last bit; rounding (r6) only guards the
    * output hash, ann_brute-style.
    */
  def mmDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s, pngs(s, dir), batchSize = 64)
      .toDF()
      .filter(col("decoded"))
      .select(Seq(col("doc_id"), col("img_width"), col("img_height"),
        col("channels")) ++ rgbMeans(col("features")): _*)

  /** J2+ `mm_resize` — REAL decode + nearest-neighbor resize to 4×3,
    * oracled: source images span 2..7 × 3..6 px so both up- and
    * down-sampling paths run. The oracle re-derives each SAMPLED
    * pixel analytically — target (tx, ty) reads source
    * (tx*w/4, ty*h/3) by integer floor division, channel values from
    * the shared synthesis formula — so a hash match proves the resize
    * touched exactly the pixels the mapping names.
    */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    resizeTail(Multimodal.resizeFeatures(s, pngs(s, dir), outW = 4, outH = 3,
      batchSize = 64))

  /** J2s+ `mm_resize_bilinear` — REAL decode + bilinear resize: each
    * target pixel blends its four source neighbors with integer
    * corner weights (the interpolation vision pipelines actually
    * ship, one step up from mm_resize's floor mapping). Everything
    * until the final division is integer arithmetic, so the DuckDB
    * oracle re-derives every interpolated numerator analytically and
    * a hash match proves decode + stencil + weights + clamping
    * pixel-for-pixel.
    */
  def mmResizeBilinear(s: SparkSession, dir: String): DataFrame =
    resizeTail(Multimodal.resizeBilinearFeatures(s, pngs(s, dir), outW = 4,
      outH = 3, batchSize = 64))

  /** J2+ `mm_frames` — video frame-sampling plumbing: one row per
    * 500 ms of each clip, with the frame index a decoder would seek to
    * and the (stubbed) frame-byte slice, validated by its exact length.
    * Fully SQL-expressible, so this multimodal op gets a real DuckDB
    * oracle (generate_series twin).
    */
  def mmFrames(s: SparkSession, dir: String): DataFrame = {
    val video = Multimodal.withVideoSchema(
      Tables.documents(s, dir), "doc_id", "text", "n_chars")
    Multimodal.sampleFrames(video, everyMs = 500)
      .select(col("doc_id"),
        col("frame_ts_ms").cast("long").as("frame_ts_ms"), // DuckDB range is BIGINT
        col("frame_idx"),
        length(col("frame_bytes")).cast("long").as("frame_len"))
  }

  /** J2+ `mm_audio_windows` — audio chunking plumbing: 5 s windows
    * hopping 2.5 s over each synthetic clip, with the exact sample and
    * PCM-s16le byte ranges a decoder would slice. Fully SQL-expressible
    * (range twin), so the audio op carries a real DuckDB oracle like
    * mm_frames.
    */
  def mmAudioWindows(s: SparkSession, dir: String): DataFrame = {
    val audio = Multimodal.withAudioSchema(
      Tables.documents(s, dir), "doc_id", "text", "n_chars")
    Multimodal.sampleAudioWindows(audio, windowMs = 5000, hopMs = 2500)
  }

  /** J3 `mm_audio_decode` — REAL audio decode, oracled like mm_decode:
    * each doc id renders to a tiny deterministic WAV (real RIFF
    * encoder), javax.sound.sampled re-parses the container (sample
    * rate, mono s16le format, frame count all come from the decoder),
    * and 32-sample windows hopping 16 emit exact integer-sum mean
    * amplitudes, hash-compared against a DuckDB oracle that re-derives
    * every sample from the shared formula
    * `(31·id + 17·k) mod 65536 − 32768` — the decode has to reproduce
    * the PCM bit-for-bit to pass.
    */
  def mmAudioDecode(s: SparkSession, dir: String): DataFrame = {
    val audio = Multimodal.withWavPayloads(Tables.documents(s, dir), "doc_id")
    Multimodal.decodeAudioWindows(s, audio, windowSamples = 32,
        hopSamples = 16, batchSize = 64)
      .toDF()
      .filter(col("decoded"))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("start_sample"), col("end_sample"),
        r6(col("mean_amp")).as("mean_amp"))
  }

  /** J4 `mm_phash` — average-hash perceptual image fingerprint
    * ([[Multimodal.phashFeatures]]): REAL decode of the synthesized
    * PNGs, 8×8 floor-mapped luminance grid, one bit per cell vs the
    * grid mean. The whole hash is integer arithmetic (BT.601 ×1000
    * weights, cross-multiplied mean test), so the oracle re-derives
    * every BIT analytically from the synthesis pixel formula — a hash
    * match proves decode + floor mapping + luminance + threshold all
    * bit-for-bit.
    */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.phashFeatures(s, pngs(s, dir), gridW = 8, gridH = 8, batchSize = 64)
      .toDF()
      .filter(col("decoded"))
      .select(col("doc_id"), col("phash_bits"), col("n_set"))

  /** J4+/G12 `dedup_phash` — image-duplicate buckets: group the
    * corpus by its [[Multimodal.phashFeatures]] fingerprint and keep
    * every bucket with >= 2 members (min-id keeper, dup count) — the
    * image twin of exact text dedup, one hash-groupBy on the 64-bit
    * fingerprint. Non-vacuous: the synthetic corpus collides for real
    * (500 docs -> 293 distinct fingerprints at sf0.01). Oracled via
    * the same analytic per-bit derivation + regroup.
    */
  def dedupPhash(s: SparkSession, dir: String): DataFrame =
    mmPhash(s, dir)
      .groupBy(col("phash_bits"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_dups"))
      .filter(col("n_dups") >= 2)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_phash" -> mmPhash,
    "dedup_phash" -> dedupPhash,
    "mm_audio_decode" -> mmAudioDecode,
    "mm_audio_windows" -> mmAudioWindows,
    "mm_schema" -> mmSchema,
    "mm_features" -> mmFeatures,
    "mm_decode" -> mmDecode,
    "mm_resize" -> mmResize,
    "mm_resize_bilinear" -> mmResizeBilinear,
    "mm_frames" -> mmFrames)

  /** The synthesized image corpus: every doc `id` with its image's
    * width `w` and height `h` (the shared synthesis dims, restated).
    */
  private val imageSql =
    """img AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    CAST(doc_id % 6 + 2 AS INT) AS w,
      |    CAST(doc_id % 4 + 3 AS INT) AS h
      |  FROM documents)""".stripMargin

  /** Channel `c` (0 = R, 1 = G, 2 = B) of synthesized pixel `k` of
    * image `id`: the shared formula `(mc*id + ac*k) mod 256`.
    */
  private def channelSql(c: Int, k: String): String = {
    val (mc, ac) = Seq((1, 3), (5, 7), (11, 13))(c)
    s"(($mc * id + $ac * $k) % 256)"
  }

  /** mean_r, mean_g and mean_b: `mean(c)` of each channel c, r6-rounded. */
  private def meansSql(mean: Int => String): String =
    Seq("r", "g", "b").zipWithIndex.map { case (name, c) =>
      s"floor(${mean(c)} * 1000000 + 0.5001) / 1000000 AS mean_$name"
    }.mkString(",\n  ")

  /** The mean of channel `c` over the synthesized pixels that the list
    * `ks` of pixel indices names: list_avg then /255, the mm_decode
    * division order.
    */
  private def pixelMeanSql(ks: String)(c: Int): String =
    s"list_avg(list_transform($ks, k -> ${channelSql(c, "k")})) / 255.0"

  /** The bilinear numerators n0, n1 and n2: per channel, the four
    * corner pixels' values under their weights w00..w11, summed per
    * image.
    */
  private val bilinearSumsSql =
    (0 until 3).map { c =>
      Seq("00", "01", "10", "11").map(q => s"${channelSql(c, s"k$q")} * w$q")
        .mkString("SUM(", "\n      + ", s") AS n$c")
    }.mkString(",\n    ")

  /** `ph`: every synthesized image's aHash, every bit re-derived
    * analytically: grid cell (tx, ty) reads source pixel
    * k = (ty*h//8)*w + (tx*w//8), luminance is the integer
    * 299r+587g+114b over the synthesis channel formulas, and the bit
    * is the exact integer test lum*64 > sum(lums).
    */
  private val phashSql =
    s"""WITH $imageSql,
       |p AS (SELECT id,
       |    list_transform(range(0, 64), i ->
       |      ((i // 8) * h // 8) * w + ((i % 8) * w // 8)) AS ks
       |  FROM img),
       |l AS (SELECT id,
       |    list_transform(ks, k -> 299 * ${channelSql(0, "k")}
       |      + 587 * ${channelSql(1, "k")} + 114 * ${channelSql(2, "k")}) AS lums
       |  FROM p),
       |b AS (SELECT id, lums, list_sum(lums) AS s FROM l),
       |ph AS (SELECT id,
       |    array_to_string(list_transform(lums,
       |      x -> CASE WHEN x * 64 > s THEN '1' ELSE '0' END), '') AS phash_bits,
       |    CAST(len(list_filter(lums, x -> x * 64 > s)) AS BIGINT) AS n_set
       |  FROM b)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the mm_phash bits, regrouped into buckets
    "dedup_phash" ->
      s"""$phashSql
         |SELECT phash_bits, min(id) AS keep_id, count(*) AS n_dups
         |FROM ph GROUP BY phash_bits HAVING count(*) >= 2""".stripMargin,
    "mm_phash" ->
      s"""$phashSql
         |SELECT id AS doc_id, phash_bits, n_set FROM ph""".stripMargin,
    // the audio oracle re-derives the PCM from the shared sample
    // formula and averages each 32-sample window (hop 16) analytically
    "mm_audio_decode" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(doc_id % 120 + 40 AS BIGINT) AS n
        |  FROM documents),
        |w AS (SELECT doc_id, n, unnest(range(0, n, 16)) AS start_sample
        |  FROM d),
        |m AS (SELECT doc_id, n, start_sample,
        |    least(start_sample + 32, n) AS end_sample
        |  FROM w),
        |a AS (SELECT doc_id, n, start_sample, end_sample,
        |    list_avg(list_transform(range(start_sample, end_sample),
        |      k -> (31 * doc_id + 17 * k) % 65536 - 32768)) AS mean_amp
        |  FROM m)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate, n AS n_samples,
        |  start_sample, end_sample,
        |  floor(mean_amp * 1000000 + 0.5001) / 1000000 AS mean_amp
        |FROM a""".stripMargin,
    // mixed-corpus decode: even ids re-derive the synthesis channel-R
    // mean (list_avg / 255, the mm_decode division order); odd ids
    // re-derive the fallback byte histogram's bin-0 fraction (first
    // byte 0x01 plus the (7id+13k) mod 256 tail, bytes < 32 -> bin 0)
    "mm_features" ->
      s"""WITH $imageSql,
         |im AS (SELECT id, TRUE AS decoded, CAST(w AS BIGINT) AS w,
         |    CAST(h AS BIGINT) AS h, CAST(NULL AS BIGINT) AS raw_bytes,
         |    list_avg(list_transform(range(0, w * h),
         |      k -> ${channelSql(0, "k")})) / 255.0 AS f0
         |  FROM img WHERE id % 2 = 0),
         |r AS (SELECT id, id % 57 + 8 AS n FROM img WHERE id % 2 = 1),
         |rm AS (SELECT id, FALSE AS decoded, CAST(NULL AS BIGINT) AS w,
         |    CAST(NULL AS BIGINT) AS h, n AS raw_bytes,
         |    (1 + len(list_filter(range(1, n),
         |      k -> (7 * id + 13 * k) % 256 < 32))) / CAST(n AS DOUBLE) AS f0
         |  FROM r)
         |SELECT id AS doc_id, decoded, w AS width, h AS height, raw_bytes,
         |  floor(f0 * 1000000 + 0.5001) / 1000000 AS f0
         |FROM (SELECT * FROM im UNION ALL SELECT * FROM rm)""".stripMargin,
    // the oracle never decodes anything: it computes the EXPECTED
    // per-channel means analytically from the synthesis pixel formula
    // (exact integer arithmetic), so a hash match proves the Spark side
    // decoded every PNG pixel bit-for-bit
    "mm_decode" ->
      s"""WITH $imageSql
         |SELECT id AS doc_id, w AS img_width, h AS img_height,
         |  CAST(3 AS INT) AS channels,
         |  ${meansSql(pixelMeanSql("range(0, w * h)"))}
         |FROM img""".stripMargin,
    // analytic bilinear twin: per (doc, target-pixel) rows carry the
    // integer stencil (x0/x1/y0/y1, remainders rx/ry), the four corner
    // weights, and the synthPixel channel formulas; integer numerators
    // sum per doc, then the exact division sequence /12 /12 /255 and r6
    "mm_resize_bilinear" ->
      s"""WITH $imageSql,
         |g AS (SELECT id, w, h, t % 4 AS tx, t // 4 AS ty
         |  FROM img CROSS JOIN (SELECT unnest(range(0, 12)) AS t)),
         |c AS (SELECT id, w, h,
         |    (tx * w) // 4 AS x0, (tx * w) % 4 AS rx,
         |    least((tx * w) // 4 + 1, w - 1) AS x1,
         |    (ty * h) // 3 AS y0, (ty * h) % 3 AS ry,
         |    least((ty * h) // 3 + 1, h - 1) AS y1
         |  FROM g),
         |v AS (SELECT id, w, h,
         |    (4 - rx) * (3 - ry) AS w00, rx * (3 - ry) AS w01,
         |    (4 - rx) * ry AS w10, rx * ry AS w11,
         |    y0 * w + x0 AS k00, y0 * w + x1 AS k01,
         |    y1 * w + x0 AS k10, y1 * w + x1 AS k11
         |  FROM c),
         |n AS (SELECT id, w, h,
         |    $bilinearSumsSql
         |  FROM v GROUP BY id, w, h)
         |SELECT id AS doc_id, w AS src_width, h AS src_height,
         |  CAST(4 AS INT) AS out_width, CAST(3 AS INT) AS out_height,
         |  ${meansSql(c => s"CAST(n$c AS DOUBLE) / 12 / 12 / 255")}
         |FROM n""".stripMargin,
    // the resize oracle samples the same (tx*w/4, ty*h/3) source
    // pixels by integer floor division and averages the synthesis
    // formula's channel values over the 12 sampled cells — list_avg
    // then /255, the mm_decode division order
    "mm_resize" ->
      s"""WITH $imageSql,
         |k AS (SELECT id, w, h,
         |    list_transform(range(0, 12), t ->
         |      ((t // 4) * h // 3) * w + ((t % 4) * w // 4)) AS ks
         |  FROM img)
         |SELECT id AS doc_id, w AS src_width, h AS src_height,
         |  CAST(4 AS INT) AS out_width, CAST(3 AS INT) AS out_height,
         |  ${meansSql(pixelMeanSql("ks"))}
         |FROM k""".stripMargin,
    "mm_schema" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  CAST(n_chars % 640 + 1 AS INT) AS width,
        |  CAST(n_chars * 7 % 480 + 1 AS INT) AS height,
        |  'png' AS format
        |FROM documents""".stripMargin,
    "mm_audio_windows" ->
      """WITH a AS (SELECT doc_id,
        |    CAST(n_chars % 3 * 8000 + 16000 AS BIGINT) AS sr,
        |    CAST(n_chars * 317 % 480000 + 16000 AS BIGINT) AS n_samples
        |  FROM documents),
        |p AS (SELECT *,
        |    CAST(floor(sr * 5000 / 1000.0) AS BIGINT) AS win,
        |    CAST(floor(sr * 2500 / 1000.0) AS BIGINT) AS hop
        |  FROM a),
        |w AS (SELECT doc_id, n_samples, win,
        |    unnest(range(0, n_samples, hop)) AS start_sample
        |  FROM p)
        |SELECT doc_id, start_sample,
        |  CAST(least(start_sample + win, n_samples) AS BIGINT) AS end_sample,
        |  CAST(start_sample * 2 AS BIGINT) AS byte_offset,
        |  CAST((least(start_sample + win, n_samples) - start_sample) * 2
        |    AS BIGINT) AS byte_len
        |FROM w""".stripMargin,
    "mm_frames" ->
      """WITH v AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |    n_chars % 30000 + 1000 AS duration_ms,
        |    CAST(n_chars % 3 * 5 + 20 AS DOUBLE) AS fps
        |  FROM documents),
        |f AS (SELECT doc_id, n_bytes, fps,
        |        unnest(range(0, duration_ms, 500)) AS frame_ts_ms
        |      FROM v)
        |SELECT doc_id, frame_ts_ms,
        |  CAST(floor(frame_ts_ms * fps / 1000.0) AS BIGINT) AS frame_idx,
        |  CAST(least(16, greatest(n_bytes - (frame_ts_ms % 32 + 1) + 1, 0)) AS BIGINT)
        |    AS frame_len
        |FROM f""".stripMargin)
}
