package graft.multimodal

import java.awt.image.BufferedImage
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

/** Multimodal column plumbing (SURVEY §2 J1-J2).
  *
  * Media payloads are opaque `binary` columns with a typed metadata
  * struct riding alongside. Decode / feature-extraction runs batched
  * per partition (the Scala analogue of mapInPandas' batch shape):
  * rows are pulled through an iterator in fixed-size batches so a real
  * decoder could amortize model/codec setup per batch instead of per
  * row. Since r7 the image decode is REAL: payloads that are valid
  * images (PNG/BMP/GIF — whatever the JDK's javax.imageio registry
  * reads, no native codecs needed) decode to width/height/channel
  * count and exact per-channel pixel means; non-image payloads fall
  * back to the deterministic byte-histogram feature (flagged
  * `decoded = false`), so a mixed/corrupt corpus degrades row-by-row
  * instead of aborting — the same contract as zero-norm cosine.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, payload: Array[Byte],
                         width: Int, height: Int, format: String)
  case class MediaFeatures(doc_id: Long, n_bytes: Int, batch_size: Int,
                           decoded: Boolean, img_width: Int, img_height: Int,
                           channels: Int, features: Array[Double])

  /** The one payload + typed metadata builder behind every schema
    * attacher and rendered corpus: `idCol` as the long `doc_id`,
    * `payloadCol` as the binary `payload`, and `meta` as the `meta`
    * struct.
    */
  private def withMeta(docs: DataFrame, idCol: String, payloadCol: String,
                       meta: Column*): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(meta: _*).as("meta"))

  /** J1: attach a binary payload + typed metadata to a text corpus
    * (payload = utf-8 bytes standing in for image bytes).
    */
  def withMediaSchema(docs: DataFrame, idCol: String, textCol: String,
                      sizeCol: String): DataFrame =
    withMeta(docs, idCol, textCol,
      (col(sizeCol) % 640 + 1).cast("int").as("width"),
      (col(sizeCol) * 7 % 480 + 1).cast("int").as("height"),
      lit("png").as("format"))

  // per-row byte-array streams must not route through ImageIO's default
  // DISK cache (a temp file created and deleted per image)
  javax.imageio.ImageIO.setUseCache(false)

  /** The one batched decode body behind every decoder (the Scala
    * analogue of mapInPandas' batch shape): each partition's
    * (`doc_id`, `payload`) records are pulled through in `batchSize`
    * chunks, the boundary a real decoder would amortize model/codec
    * setup over, and `decode` runs on each record under ONE guard.
    * Malformed payloads throw unchecked exceptions from some JDK
    * readers (not just IOException), so ANY failure in the per-record
    * decode degrades to that record's `failed` row: one corrupt blob
    * must not kill a 100 TB job, and must not silently pose as decoded
    * media either. Both functions get the record's id, its payload and
    * the size of its batch. Row-local: zero shuffle.
    */
  private def batchDecode[T <: Product : TypeTag](spark: SparkSession,
      media: DataFrame, batchSize: Int)(
      decode: (Long, Array[Byte], Int) => Seq[T],
      failed: (Long, Array[Byte], Int) => T): Dataset[T] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap(batch => batch.flatMap {
        case (id, bytes) =>
          try decode(id, bytes, batch.size)
          catch { case NonFatal(_) => Seq(failed(id, bytes, batch.size)) }
      }))
  }

  /** `payload` decoded by javax.imageio (pure-JVM PNG/BMP/GIF codecs);
    * throws when no reader claims it.
    */
  private def readImage(payload: Array[Byte]): BufferedImage =
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      .getOrElse(throw new java.io.IOException("no ImageIO reader claims the payload"))

  /** Channel `c` (0 = R, 1 = G, 2 = B) of a packed `getRGB` pixel. */
  private def channel(rgb: Int, c: Int): Int = (rgb >> (16 - 8 * c)) & 0xff

  /** J2: batched feature extraction ([[batchDecode]]). A valid image
    * yields its true dimensions, band count, and EXACT per-channel
    * pixel means in [0,1] (integer pixel sums accumulated in a double,
    * so the means reproduce bit-for-bit and can be oracled against the
    * synthesis formula). A payload ImageIO cannot read falls back to
    * the deterministic 8-bin byte histogram with `decoded = false`.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame,
                      batchSize: Int = 64): Dataset[MediaFeatures] =
    batchDecode(spark, media, batchSize)({ (id, bytes, n) =>
      val img = readImage(bytes)
      val w = img.getWidth; val h = img.getHeight
      val indexed =
        img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
      val raster = img.getRaster
      val ch = if (indexed) 3 else raster.getNumBands
      val sums = new Array[Double](ch)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if (indexed) {
            // palette PNG/GIF: the raster holds colormap INDICES, not
            // intensities — resolve through the color model so the
            // means are real pixel statistics
            val rgb = img.getRGB(x, y)
            var c = 0
            while (c < 3) { sums(c) += channel(rgb, c); c += 1 }
          } else {
            var c = 0
            while (c < ch) { sums(c) += raster.getSample(x, y, c); c += 1 }
          }
          x += 1
        }
        y += 1
      }
      Seq(MediaFeatures(id, bytes.length, n, decoded = true,
        w, h, ch, sums.map(s => s / (w.toLong * h) / 255.0)))
    }, { (id, bytes, n) =>
      val hist = new Array[Double](8)
      bytes.foreach(b => hist((b & 0xff) >> 5) += 1.0)
      MediaFeatures(id, bytes.length, n, decoded = false,
        0, 0, 0, hist.map(_ / math.max(bytes.length, 1)))
    })

  /** Deterministic pixel formula shared by the PNG synthesis and the
    * DuckDB oracle: channel c of pixel k (row-major) of image `id` is
    * `(mc * id + ac * k) mod 256` with (mc, ac) = (1,3)/(5,7)/(11,13)
    * for R/G/B. Every term is exact integer arithmetic, so the
    * EXPECTED per-channel means are computable in plain SQL and the
    * real decode can be hash-compared against them.
    */
  private def synthPixel(id: Long, k: Long): Int = {
    val r = ((id + 3 * k) % 256).toInt
    val g = ((5 * id + 7 * k) % 256).toInt
    val b = ((11 * id + 13 * k) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** The ONE definition of the synthesized image dimensions — shared by
    * the renderer and the metadata so they cannot drift (the DuckDB
    * oracle states the same formulas).
    */
  private def synthDims(id: Long): (Int, Int) =
    ((id % 6 + 2).toInt, (id % 4 + 3).toInt)

  /** Render one tiny RGB image for `id` ([[synthDims]]) and encode it
    * as REAL PNG bytes with the JDK encoder.
    */
  private[graft] def pngPayload(id: Long): Array[Byte] = {
    val (w, h) = synthDims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, synthPixel(id, y.toLong * w + x))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** [[pngPayload]] with its dims and format. */
  private def pngRecord(id: Long): MediaRecord = {
    val (w, h) = synthDims(id)
    MediaRecord(id, pngPayload(id), w, h, "png")
  }

  /** The one renderer of the synthesized corpora: each id of `docs`
    * becomes one `record`, row-locally (encode is per row, no shuffle).
    */
  private def rendered[T <: Product : TypeTag](docs: DataFrame, idCol: String)(
      record: Long => T): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].map(record).toDF()
  }

  /** [[rendered]] image records, their dims and format as `meta`. */
  private def renderedImages(docs: DataFrame, idCol: String)(
      record: Long => MediaRecord): DataFrame =
    withMeta(rendered(docs, idCol)(record), "doc_id", "payload",
      col("width"), col("height"), col("format"))

  /** J2: real-PNG payload synthesis — the container ships no image
    * corpus, so the corpus' ids are rendered into tiny deterministic
    * PNGs (one per doc, bounded 7x6 px). The payloads are REAL encoded
    * PNG bytes: everything downstream (ImageIO decode, channel stats)
    * exercises the true codec path, standing in for
    * `spark.read.format("binaryFile")` over an image corpus.
    */
  def withPngPayloads(docs: DataFrame, idCol: String): DataFrame =
    renderedImages(docs, idCol)(pngRecord)

  /** Deterministic NON-image byte string for `id`: first byte 0x01 so
    * no ImageIO reader claims it (WBMP requires type 0; PNG/GIF/BMP/
    * JPEG/TIFF magics all differ), remaining bytes from an analytic
    * formula the DuckDB oracle restates. Length `id % 57 + 8`.
    */
  private[graft] def corruptPayload(id: Long): Array[Byte] = {
    val n = (id % 57 + 8).toInt
    val out = new Array[Byte](n)
    out(0) = 1
    var k = 1
    while (k < n) { out(k) = ((7 * id + 13 * k) % 256).toByte; k += 1 }
    out
  }

  /** J2: mixed-corpus payload synthesis — EVEN ids render to real PNGs
    * ([[pngPayload]]), ODD ids get [[corruptPayload]] blobs, standing
    * in for the corrupt/foreign payloads every real 100 TB media
    * corpus contains. BOTH halves are analytic, so the full mixed
    * decode — true-codec path AND byte-histogram fallback — carries a
    * DuckDB oracle (the r10 upgrade that moved mm_features off the
    * rows-only list).
    */
  def withMixedPayloads(docs: DataFrame, idCol: String): DataFrame =
    renderedImages(docs, idCol)(id =>
      if (id % 2 == 0) pngRecord(id)
      else MediaRecord(id, corruptPayload(id), 0, 0, "bin"))

  case class ResizedFeatures(doc_id: Long, decoded: Boolean,
                             src_width: Int, src_height: Int,
                             out_width: Int, out_height: Int,
                             means: Array[Double])

  /** The `getRGB` pixels of the `outW`×`outH` nearest-neighbour grid
    * over `img`, row-major: cell (tx, ty) reads source pixel
    * (`tx*w / outW`, `ty*h / outH`) by INTEGER floor division — exact,
    * engine-reproducible, no center-offset float.
    */
  private def gridPixels(img: BufferedImage, outW: Int, outH: Int): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    Array.tabulate(outH, outW)((ty, tx) =>
      img.getRGB(tx * w / outW, ty * h / outH)).flatten
  }

  /** Both resizes: [[batchDecode]] of each payload to its source dims
    * and the per-channel `means` of its `outW`×`outH` resize; a payload
    * ImageIO cannot read yields `decoded = false` and no means.
    */
  private def resized(spark: SparkSession, media: DataFrame, outW: Int,
                      outH: Int, batchSize: Int)(
      means: BufferedImage => Array[Double]): Dataset[ResizedFeatures] = {
    require(outW > 0 && outH > 0, "output dims must be positive")
    batchDecode(spark, media, batchSize)({ (id, bytes, _) =>
      val img = readImage(bytes)
      Seq(ResizedFeatures(id, decoded = true, img.getWidth, img.getHeight,
        outW, outH, means(img)))
    }, (id, _, _) => ResizedFeatures(id, decoded = false, 0, 0, outW, outH,
      Array.empty[Double]))
  }

  /** J2+: batched nearest-neighbor resize — the "make every image the
    * model's input size" step of a vision-data pipeline. Decodes each
    * payload (same javax.imageio path and corrupt-payload fallback as
    * [[extractFeatures]]), samples the [[gridPixels]] grid, and emits
    * the resized per-channel means. The pixel sums are integers
    * divided by the sample count then by 255 (the [[extractFeatures]]
    * order, matching the oracle's `list_avg(...)/255`), so the means
    * are bit-exact against an oracle that re-derives the sampled
    * pixels analytically — the resize has to hit the exact source
    * pixel the floor mapping names, or the hash breaks. Row-local and
    * batched like the decode — at 100 TB this is a zero-shuffle
    * projection whose only cost is the codec itself.
    */
  def resizeFeatures(spark: SparkSession, media: DataFrame,
                     outW: Int, outH: Int,
                     batchSize: Int = 64): Dataset[ResizedFeatures] =
    resized(spark, media, outW, outH, batchSize) { img =>
      val px = gridPixels(img, outW, outH)
      Array.tabulate(3)(c =>
        px.map(channel(_, c).toLong).sum.toDouble / px.length / 255.0)
    }

  /** J2s+: batched BILINEAR resize — the quality step up from the
    * nearest-neighbor floor mapping (the interpolation vision
    * preprocessing actually ships): each target pixel blends the four
    * source pixels around the rational source coordinate
    * `tx·w/outW` with the standard corner weights. All arithmetic
    * until the final division is INTEGER: the source coordinate is
    * kept as (quotient `x0`, remainder `rx`) of `tx·w` over outW, the
    * four weights are `(outW−rx)(outH−ry)`-style integer products,
    * and the per-channel accumulator sums the weighted 0-255 values
    * as longs — so the result is independent of pixel visit order
    * and EXACTLY reproducible on any engine: the DuckDB oracle
    * re-derives every interpolated numerator analytically and the
    * means match bit-for-bit after the shared division sequence.
    * Right/bottom edges clamp (`x1 = min(x0+1, w−1)`), the
    * convention that keeps the stencil in-bounds without special
    * cases. Decode path, fallback, batching: [[resizeFeatures]].
    */
  def resizeBilinearFeatures(spark: SparkSession, media: DataFrame,
                             outW: Int, outH: Int,
                             batchSize: Int = 64): Dataset[ResizedFeatures] =
    resized(spark, media, outW, outH, batchSize) { img =>
      val w = img.getWidth; val h = img.getHeight
      val sums = new Array[Long](3)
      var ty = 0
      while (ty < outH) {
        val yn = ty * h
        val y0 = yn / outH; val ry = yn % outH
        val y1 = math.min(y0 + 1, h - 1)
        var tx = 0
        while (tx < outW) {
          val xn = tx * w
          val x0 = xn / outW; val rx = xn % outW
          val x1 = math.min(x0 + 1, w - 1)
          val p00 = img.getRGB(x0, y0); val p01 = img.getRGB(x1, y0)
          val p10 = img.getRGB(x0, y1); val p11 = img.getRGB(x1, y1)
          val w00 = (outW - rx).toLong * (outH - ry)
          val w01 = rx.toLong * (outH - ry)
          val w10 = (outW - rx).toLong * ry
          val w11 = rx.toLong * ry
          var c = 0
          while (c < 3) {
            sums(c) += channel(p00, c) * w00 + channel(p01, c) * w01 +
              channel(p10, c) * w10 + channel(p11, c) * w11
            c += 1
          }
          tx += 1
        }
        ty += 1
      }
      // numerators carry the (outW·outH)² denominator: one division
      // by pixel weight, one by pixel count, one by 255 — the
      // sequence the oracle mirrors verbatim
      sums.map(_.toDouble / (outW * outH) / (outW * outH) / 255.0)
    }

  case class PhashResult(doc_id: Long, decoded: Boolean,
                         phash_bits: String, n_set: Long)

  /** J4: average-hash perceptual image fingerprint (aHash) — the
    * image-dedup primitive: decode, NN-downsample to a `gridW`×`gridH`
    * luminance grid ([[gridPixels]], the [[resizeFeatures]] mapping),
    * and emit one bit per cell (1 = brighter than the grid mean).
    * Near-identical images agree on most bits, so exact-matching or
    * low-Hamming-distance fingerprints bucket duplicate images the way
    * MinHash buckets duplicate text.
    *
    * Engine-exact by construction: luminance is the INTEGER BT.601
    * weighting `299·r + 587·g + 114·b` (never divided by 1000) and the
    * mean test is the integer cross-multiplication
    * `lum·cells > Σlum` — no float enters the hash, so the oracle can
    * re-derive every bit analytically from the synthesis formula. Ties
    * (lum·cells == Σlum, e.g. a constant image) emit 0. The bits ship
    * as a '0'/'1' string (row-major) — a packed int64 would be
    * sign-ambiguous across engines at bit 0.
    *
    * Scale shape: row-local batched decode, zero shuffle; downstream
    * bucketing is one hash-groupBy on the fingerprint.
    */
  def phashFeatures(spark: SparkSession, media: DataFrame,
                    gridW: Int = 8, gridH: Int = 8,
                    batchSize: Int = 64): Dataset[PhashResult] = {
    require(gridW > 0 && gridH > 0, "grid dims must be positive")
    batchDecode(spark, media, batchSize)({ (id, bytes, _) =>
      val lums = gridPixels(readImage(bytes), gridW, gridH).map(p =>
        299L * channel(p, 0) + 587L * channel(p, 1) + 114L * channel(p, 2))
      val sum = lums.sum
      val bits = lums.map(lum => if (lum * lums.length > sum) '1' else '0')
      Seq(PhashResult(id, decoded = true, new String(bits),
        bits.count(_ == '1').toLong))
    }, (id, _, _) => PhashResult(id, decoded = false, "", 0L))
  }

  /** J2+: attach video-container metadata (duration, fps) to a binary
    * payload — the video twin of [[withMediaSchema]].
    */
  def withVideoSchema(docs: DataFrame, idCol: String, textCol: String,
                      sizeCol: String): DataFrame =
    withMeta(docs, idCol, textCol,
      (col(sizeCol) % 30000 + 1000).cast("int").as("duration_ms"),
      (col(sizeCol) % 3 * 5 + 20).cast("double").as("fps"),
      lit("mp4").as("format"))

  /** J2+: attach audio-container metadata (sample rate, sample count,
    * PCM format) to a binary payload — the audio twin of
    * [[withVideoSchema]] (deterministic synthetic metadata, since the
    * corpus carries no real audio).
    */
  def withAudioSchema(docs: DataFrame, idCol: String, textCol: String,
                      sizeCol: String): DataFrame =
    withMeta(docs, idCol, textCol,
      (col(sizeCol) % 3 * 8000 + 16000).cast("int").as("sample_rate"),
      (col(sizeCol) * 317 % 480000 + 16000).cast("long").as("n_samples"),
      lit("pcm_s16le").as("format"))

  /** J2+: fixed-length audio windowing with hop — the chunking step of
    * ASR / audio-embedding pipelines: one row per `windowMs` window
    * every `hopMs`, with the exact sample range and the byte range a
    * PCM-s16le decoder would slice (2 bytes per sample; the last
    * window clips at the clip end instead of padding). Like
    * [[sampleFrames]], the SELECTION is the real, tested part:
    * row-local sequence + explode, output bounded by n_samples/hop per
    * clip, no shuffle — the shape that turns 100 TB of audio into a
    * window table.
    */
  def sampleAudioWindows(media: DataFrame, windowMs: Int,
                         hopMs: Int): DataFrame = {
    require(windowMs > 0 && hopMs > 0, "windowMs and hopMs must be positive")
    val sr = col("meta.sample_rate").cast("long")
    val n = col("meta.n_samples")
    // floor, like the frame-index math: deterministic across engines
    val win = floor(sr * windowMs / lit(1000.0)).cast("long")
    val hop = floor(sr * hopMs / lit(1000.0)).cast("long")
    media
      .select(col("doc_id"), n.as("_n"), win.as("_win"),
        explode(sequence(lit(0L), n - 1, hop)).as("start_sample"))
      .select(col("doc_id"), col("start_sample"),
        least(col("start_sample") + col("_win"), col("_n")).as("end_sample"),
        (col("start_sample") * 2).as("byte_offset"),
        ((least(col("start_sample") + col("_win"), col("_n")) -
          col("start_sample")) * 2).as("byte_len"))
  }

  /** Deterministic PCM formula shared by the WAV synthesis and the
    * DuckDB oracle: sample k of clip `id` is
    * `((31·id + 17·k) mod 65536) − 32768` — an exact int16, so the
    * expected per-window means are computable in plain SQL and the
    * real decode can be hash-compared against them (the synthPixel
    * convention, one octave down).
    */
  private def synthSample(id: Long, k: Long): Int =
    (((31 * id + 17 * k) % 65536) - 32768).toInt

  /** The ONE definition of the synthesized clip length in samples —
    * shared by the renderer and the oracle so they cannot drift.
    */
  private def synthClipSamples(id: Long): Int = (id % 120 + 40).toInt

  /** Render one tiny mono clip for `id` ([[synthClipSamples]] samples
    * at 8 kHz) and encode it as REAL WAV bytes (RIFF container,
    * PCM s16le) with the JDK's javax.sound.sampled encoder.
    */
  private[graft] def wavPayload(id: Long): Array[Byte] = {
    val n = synthClipSamples(id)
    val data = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val s = synthSample(id, k)
      data(2 * k) = (s & 0xff).toByte
      data(2 * k + 1) = ((s >> 8) & 0xff).toByte
      k += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
      /* signed = */ true, /* bigEndian = */ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  case class AudioRecord(doc_id: Long, payload: Array[Byte])

  /** J3: real-WAV payload synthesis — the audio twin of
    * [[withPngPayloads]]: the container ships no audio corpus, so each
    * doc id renders to a tiny deterministic WAV clip (real RIFF
    * encoder, 40..159 samples) by [[rendered]].
    */
  def withWavPayloads(docs: DataFrame, idCol: String): DataFrame =
    rendered(docs, idCol)(id => AudioRecord(id, wavPayload(id)))

  case class AudioWindowMeans(doc_id: Long, decoded: Boolean,
                              sample_rate: Int, n_samples: Long,
                              start_sample: Long, end_sample: Long,
                              mean_amp: Double)

  /** J3: REAL batched WAV decode + fixed-hop window means — the audio
    * analogue of [[extractFeatures]]: javax.sound.sampled parses the
    * RIFF container (sample rate, channel count, frame length all come
    * from the DECODER, not ridden-along metadata), the PCM s16le
    * samples are parsed exactly, and each `hopSamples`-strided window
    * emits its exact integer-sum mean amplitude — bit-comparable
    * against an oracle that re-derives the samples analytically. A
    * payload the codec cannot read (or any format other than 16-bit
    * signed little-endian mono PCM) degrades to one `decoded = false`
    * row — the per-row corrupt fallback every 100 TB decode needs.
    * Row-local and batched like the image path: zero shuffle.
    */
  def decodeAudioWindows(spark: SparkSession, media: DataFrame,
                         windowSamples: Int, hopSamples: Int,
                         batchSize: Int = 64): Dataset[AudioWindowMeans] = {
    require(windowSamples > 0 && hopSamples > 0,
      "windowSamples and hopSamples must be positive")
    batchDecode(spark, media, batchSize)({ (id, bytes, _) =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
        s"not 16-bit signed little-endian mono PCM: $fmt")
      val pcm = ais.readAllBytes()
      val n = pcm.length / 2
      val sr = fmt.getSampleRate.toInt
      val out = Seq.newBuilder[AudioWindowMeans]
      var start = 0
      while (start < n) {
        val end = math.min(start + windowSamples, n)
        var sum = 0L
        var k = start
        while (k < end) {
          // s16le: low byte unsigned, high byte signed
          sum += ((pcm(2 * k) & 0xff) | (pcm(2 * k + 1) << 8))
          k += 1
        }
        out += AudioWindowMeans(id, decoded = true, sr, n.toLong,
          start.toLong, end.toLong, sum.toDouble / (end - start))
        start += hopSamples
      }
      out.result()
    }, (id, _, _) => AudioWindowMeans(id, decoded = false, 0, 0L, 0L, 0L, 0.0))
  }

  /** J2+: frame sampling — one output row per sampled frame, every
    * `everyMs` milliseconds of the clip: frame timestamp, the frame
    * index a decoder would seek to (round(ts·fps/1000)), and a
    * deterministic stand-in for the frame bytes (a payload slice; a
    * real build decodes here). The SELECTION is the real, tested part:
    * row-local sequence + explode, output bounded by duration/everyMs
    * per clip — the shape that turns 100 TB of video into a frame
    * table without any shuffle.
    */
  def sampleFrames(media: DataFrame, everyMs: Int): DataFrame = {
    val durMs = col("meta.duration_ms")
    val fps = col("meta.fps")
    val tsMs = explode(sequence(lit(0), durMs - 1, lit(everyMs))).as("frame_ts_ms")
    media.select(col("doc_id"), col("payload"), durMs.as("_dur"), fps.as("_fps"), tsMs)
      .select(col("doc_id"), col("frame_ts_ms"),
        // floor, not round: frame at-or-before the timestamp, and
        // deterministic across engines (round() differs on .5)
        floor(col("frame_ts_ms") * col("_fps") / 1000.0).cast("long").as("frame_idx"),
        // STUB decode: a byte slice stands in for the decoded frame
        substring(col("payload"), (col("frame_ts_ms") % 32 + 1).cast("int"), lit(16))
          .as("frame_bytes"))
  }
}
