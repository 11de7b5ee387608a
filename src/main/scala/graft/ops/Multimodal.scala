package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.tools.{LogState, StateCache}
import graft.tools.Stage._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with the decode / feature-extract step structured as a per-partition
  * batch operator.
  *
  * All three modalities have a REAL codec path through JDK built-ins:
  * IMAGE (mm_decode_real: PNG encode/decode + deterministic resize via
  * javax.imageio), AUDIO (mm_audio_real: RIFF/WAV encode/decode via
  * javax.sound.sampled, features on decoded PCM), and VIDEO
  * (mm_video_real: animated-GIF container mux/demux via javax.imageio's
  * sequence writer/reader — true multi-frame extraction). The generic
  * `decodeStub`/`splitFrames` stand-ins remain only as the documented
  * template for codecs the JVM lacks (mp4/h264 etc.) — and everything
  * Spark-side is real and load-bearing: the binary column representation,
  * the metadata struct schema, the `mapPartitions` batch shape (one
  * decoder init per partition, not per row — the same pattern as the
  * reference's one-geolocator-per-DataFrame, `flows/etl.py:198`), and the
  * partitioning/pushdown behavior around an opaque column.
  *
  * At 100 TB: binary payloads dominate bytes, so the plan must prune the
  * payload column until the decode stage (Parquet column pruning does this
  * for free when metadata-only queries don't touch `payload`), and decode
  * parallelism follows file-split partitioning — no shuffle at all.
  */
object Multimodal {

  /** Synthesize a multimodal table from `documents`: payload = UTF-8 bytes
    * (stand-in for image bytes), metadata = (format, width, height) struct
    * derived deterministically from doc_id. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(
        when(col("doc_id") % 3 === 0, lit("png"))
          .when(col("doc_id") % 3 === 1, lit("jpeg"))
          .otherwise(lit("webp")).as("format"),
        (col("doc_id") % 640 + 1).cast("int").as("width"),
        (col("doc_id") % 480 + 1).cast("int").as("height")).as("meta"))

  /** Metadata-only scan: never touches `payload` — check `.explain` shows
    * ReadSchema without the binary column. Oracle-checked. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("media_id"),
      col("meta.format").as("format"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("payload")).as("n_bytes"))
      .orderBy(col("media_id"))

  val mediaMetaSql: String =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg'
      |       ELSE 'webp' END AS format,
      |  CAST(doc_id % 640 + 1 AS INT) AS width,
      |  CAST(doc_id % 480 + 1 AS INT) AS height,
      |  octet_length(encode(text)) AS n_bytes
      |FROM documents
      |ORDER BY media_id""".stripMargin

  /** Output row of the decode/feature-extract stage. */
  case class MediaFeatures(media_id: Long, format: String,
                           n_bytes: Int, feature: Array[Double])

  /** STUB — deterministic fake decoder. A real deployment replaces the
    * body with the actual codec (e.g. javax.imageio / ffmpeg JNI) WITHOUT
    * touching the surrounding dataflow: the signature (bytes → features)
    * and the per-partition batching are what matter. */
  private[ops] def decodeStub(format: String, payload: Array[Byte]): Array[Double] = {
    val n = payload.length
    Array(
      n.toDouble,
      if (n == 0) 0.0 else payload.iterator.map(b => (b & 0xff).toDouble).sum / n,
      format.length.toDouble,
    )
  }

  /** Decode / feature-extract over the payload column as a per-partition
    * batch operator: decoder state is initialized once per partition (the
    * `val decoder = ...` line), rows stream through an iterator — no
    * materialization of the whole partition, no shuffle. */
  def extractFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir)
    media
      .select(col("media_id"), col("meta.format").as("format"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // one decoder per partition — swap for the real codec init here
        val decoder: (String, Array[Byte]) => Array[Double] = decodeStub
        rows.map { case (id, fmt, bytes) =>
          MediaFeatures(id, fmt, bytes.length, decoder(fmt, bytes))
        }
      }
      .toDF()
      .select(col("media_id"), col("format"), col("n_bytes"),
        round(element_at(col("feature"), 2), 4).as("mean_byte"))
      .orderBy(col("media_id"))
  }

  /** One sampled "video frame". */
  case class Frame(media_id: Long, frame_idx: Int, n_bytes: Int, mean_byte: Double)

  /** STUB frame splitter — a real deployment replaces this with the
    * container demuxer; the chunking shape (payload → fixed-size frames)
    * is what the dataflow depends on. */
  private[ops] def splitFrames(payload: Array[Byte], frameSize: Int): Seq[Array[Byte]] =
    payload.grouped(frameSize).toSeq

  /** Video-style frame sampling: treat the payload as fixed-size frames,
    * keep every `stride`-th, emit per-frame stub features. flatMap shape:
    * one input row fans out to its sampled frames — partition-local, no
    * shuffle, parallelism follows the scan. */
  def sampleFrames(spark: SparkSession, dir: String, frameSize: Int = 64,
                   stride: Int = 4): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        splitFrames(payload, frameSize).zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (frame, i) =>
            val mean =
              if (frame.isEmpty) 0.0
              else frame.iterator.map(b => (b & 0xff).toDouble).sum / frame.length
            Frame(id, i, frame.length, math.rint(mean * 10000) / 10000)
          }
      }
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** STUB resize: deterministic byte-stride subsample standing in for a
    * real image scaler; metadata struct is updated consistently so
    * downstream metadata-only queries stay correct. */
  def resize(spark: SparkSession, dir: String, factor: Int = 2): DataFrame = {
    import spark.implicits._
    val f = factor
    mediaTable(spark, dir)
      .select(col("media_id"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("payload"))
      .as[(Long, Int, Int, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, w, h, payload) =>
          val scaled = payload.zipWithIndex.collect {
            case (b, i) if i % f == 0 => b
          }
          (id, w / f, h / f, scaled.length)
        }
      }
      .toDF("media_id", "width", "height", "n_bytes_scaled")
      .orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------------
  // REAL image path (JDK javax.imageio — no external codecs needed)
  // ---------------------------------------------------------------------

  /** Deterministic ARGB pixels for a synthetic image (pure function of
    * (media_id, x, y) — the ground truth the round-trip spec compares
    * decoded pixels against). */
  private[graft] def syntheticPixels(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w
      val y = i / w
      val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
      val g = ((id * 17 + x * 3 + y * 5) % 256).toInt
      val b = ((id * 11 + x * 19 + y * 23) % 256).toInt
      0xFF000000 | (r << 16) | (g << 8) | b
    }

  /** Encode the synthetic image as a REAL PNG via the JDK codec. */
  private[graft] def encodePng(id: Long, w: Int, h: Int): Array[Byte] =
    encodePngPixels(syntheticPixels(id, w, h), w, h)

  /** Encode an explicit ARGB raster as a REAL PNG via the JDK codec. */
  private[graft] def encodePngPixels(px: Array[Int], w: Int,
                                     h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode PNG bytes with the JDK codec (PNG is lossless, so decoded
    * pixels equal the generated ones exactly). */
  private[graft] def decodePng(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  /** Integer sum of r+g+b over the raster — EXACT (no floating point until
    * the caller's single final division), so a SQL oracle summing the same
    * integers reproduces the derived mean bit-for-bit regardless of fold
    * order (the audio/video parity trick applied to RGB). */
  private[graft] def lumSum(img: java.awt.image.BufferedImage): Long = {
    var s = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        s += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        x += 1
      }
      y += 1
    }
    s
  }

  /** Deterministic nearest-neighbor resize (explicit sampling — no
    * platform-dependent interpolation). */
  private[graft] def resizeNearest(img: java.awt.image.BufferedImage,
                                 w2: Int, h2: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        out.setRGB(x, y, img.getRGB(x * img.getWidth / w2, y * img.getHeight / h2))
        x += 1
      }
      y += 1
    }
    out
  }

  /** The REAL image pipeline, end to end on actual PNG bytes: encode a
    * deterministic image per document (real PNG encoder), then a
    * per-partition decode stage (real PNG decoder) computing true
    * dimensions and mean luminance, then a real nearest-neighbor resize
    * to half size with the mean recomputed on the resized pixels.
    *
    * ORACLED like the audio/video paths: means are derived from an exact
    * integer r+g+b sum over the DECODED raster with one final division
    * (sum / (3.0·w·h)), so DuckDB regenerates the identical doubles from
    * the synthetic-pixel formulas — a hash match proves decode∘encode is
    * the identity through the gate. (The PNG byte length is the one
    * non-regenerable quantity — zlib output — so it stays in the
    * round-trip spec rather than this projection.) */
  def decodeReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        (col("doc_id") % 16 + 4).cast("int").as("w"),
        (col("doc_id") % 12 + 4).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        // ImageIO plugin registry warms once per partition, not per row
        rows.map { case (id, w, h) =>
          val png = encodePng(id, w, h)
          val img = decodePng(png)
          val half = resizeNearest(img, math.max(1, w / 2), math.max(1, h / 2))
          (id, img.getWidth, img.getHeight,
            lumSum(img).toDouble / (3.0 * img.getWidth * img.getHeight),
            half.getWidth, half.getHeight,
            lumSum(half).toDouble / (3.0 * half.getWidth * half.getHeight))
        }
      }
      .toDF("media_id", "width", "height", "mean_lum",
        "half_width", "half_height", "half_mean_lum")
      .orderBy(col("media_id"))
  }

  /** DuckDB twin of decodeReal: regenerate the synthetic rasters from the
    * pixel formulas (full image, and the nearest-neighbor half sample at
    * src = (dst·size) // halfsize), integer-sum r+g+b, divide once. */
  val decodeRealSql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(doc_id % 16 + 4 AS INT) AS w,
      |         CAST(doc_id % 12 + 4 AS INT) AS h
      |  FROM documents
      |), px AS (
      |  SELECT doc_id, w, h,
      |    (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256
      |    + (doc_id * 17 + (i % w) * 3 + (i // w) * 5) % 256
      |    + (doc_id * 11 + (i % w) * 19 + (i // w) * 23) % 256 AS rgb
      |  FROM (SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i
      |        FROM t)
      |), full_sum AS (
      |  SELECT doc_id, w, h, CAST(SUM(rgb) AS BIGINT) AS s
      |  FROM px GROUP BY doc_id, w, h
      |), hpx AS (
      |  SELECT doc_id, w2, h2,
      |    (doc_id * 31 + ((i % w2) * w // w2) * 7 + ((i // w2) * h // h2) * 13) % 256
      |    + (doc_id * 17 + ((i % w2) * w // w2) * 3 + ((i // w2) * h // h2) * 5) % 256
      |    + (doc_id * 11 + ((i % w2) * w // w2) * 19 + ((i // w2) * h // h2) * 23) % 256 AS rgb
      |  FROM (SELECT doc_id, w, h, w // 2 AS w2, h // 2 AS h2,
      |               unnest(generate_series(0, (w // 2) * (h // 2) - 1)) AS i
      |        FROM t)
      |), half_sum AS (
      |  SELECT doc_id, w2, h2, CAST(SUM(rgb) AS BIGINT) AS s
      |  FROM hpx GROUP BY doc_id, w2, h2
      |)
      |SELECT f.doc_id AS media_id, f.w AS width, f.h AS height,
      |  CAST(f.s AS DOUBLE) / (3.0 * f.w * f.h) AS mean_lum,
      |  hs.w2 AS half_width, hs.h2 AS half_height,
      |  CAST(hs.s AS DOUBLE) / (3.0 * hs.w2 * hs.h2) AS half_mean_lum
      |FROM full_sum f JOIN half_sum hs ON f.doc_id = hs.doc_id
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------
  // REAL audio path (JDK javax.sound.sampled WAV codec — no external libs)
  // ---------------------------------------------------------------------

  /** Deterministic 16-bit PCM samples (pure integer function of
    * (media_id, i) — the ground truth the round-trip spec and the DuckDB
    * oracle both regenerate). */
  private[graft] def syntheticPcm(id: Long, n: Int): Array[Short] =
    Array.tabulate(n)(i => (((id * 31 + i.toLong * 7919) % 65536) - 32768).toShort)

  /** Encode samples as a REAL WAV (RIFF/PCM) via the JDK codec. */
  private[graft] def encodeWav(samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val pcm = new Array[Byte](samples.length * 2)
    java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asShortBuffer().put(samples)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decode WAV bytes back to samples with the JDK codec (PCM is lossless —
    * the round-trip spec asserts sample-exact equality). */
  private[graft] def decodeWav(bytes: Array[Byte]): Array[Short] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val buf = ais.readAllBytes()
    val out = new Array[Short](buf.length / 2)
    java.nio.ByteBuffer.wrap(buf)
      .order(if (ais.getFormat.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
             else java.nio.ByteOrder.LITTLE_ENDIAN)
      .asShortBuffer().get(out)
    out
  }

  /** The REAL audio pipeline, end to end on actual WAV bytes: per document,
    * synthesize deterministic PCM, encode through the JDK's RIFF/WAV
    * writer, decode back through the JDK's WAV reader, then compute
    * features on the DECODED samples — RMS, peak, and the RMS of a 2:1
    * decimation ("16 kHz → 8 kHz" downsample). Because the samples are a
    * pure integer function of (id, i), the DuckDB oracle regenerates them
    * and computes the same features — a hash match proves decode∘encode is
    * the identity THROUGH the gate, which the PNG path (no DuckDB codec)
    * can only prove in a spec. Same mapPartitions batch shape as the image
    * path: codec init per partition, no shuffle, payload never leaves the
    * task. Integer sums of squares stay < 2^40 (exact in doubles at any
    * fold order) and sqrt is bit-stable across engines. */
  def audioReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        (col("doc_id") % 900 + 100).cast("int").as("n"))
      .as[(Long, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, n) =>
          val wav = encodeWav(syntheticPcm(id, n))
          val s = decodeWav(wav)
          var sq = 0L; var sqHalf = 0L; var peak = 0L; var i = 0
          while (i < s.length) {
            val v = s(i).toLong
            sq += v * v
            if (i % 2 == 0) sqHalf += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          val nHalf = (s.length + 1) / 2
          (id, s.length, wav.length,
            math.sqrt(sq.toDouble / s.length),
            peak,
            math.sqrt(sqHalf.toDouble / nHalf))
        }
      }
      .toDF("media_id", "n_samples", "wav_bytes", "rms", "peak", "rms_half")
      .orderBy(col("media_id"))
  }

  val audioRealSql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(doc_id % 900 + 100 AS INT) AS n FROM documents
      |), v AS (
      |  SELECT doc_id, n, i, (doc_id * 31 + i * 7919) % 65536 - 32768 AS s
      |  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM t)
      |)
      |SELECT doc_id AS media_id,
      |  n AS n_samples,
      |  44 + 2 * n AS wav_bytes,
      |  sqrt(CAST(SUM(s * s) AS DOUBLE) / n) AS rms,
      |  CAST(MAX(ABS(s)) AS BIGINT) AS peak,
      |  sqrt(CAST(SUM(CASE WHEN i % 2 = 0 THEN s * s END) AS DOUBLE)
      |       / ((n + 1) // 2)) AS rms_half
      |FROM v
      |GROUP BY doc_id, n
      |ORDER BY media_id""".stripMargin

  /** Frame-level audio features — the shape every speech pipeline needs
    * (per-window energy for VAD/segmentation): decode the real WAV, then
    * emit one row per 400-sample window (25 ms at 16 kHz) with its RMS.
    * Same per-task codec pattern as audioReal, but with EXPLODED output —
    * a doc fans out to its windows inside the task, so the operator's
    * output cardinality grows with media duration while the shuffle
    * stays one narrow (media_id, win, rms) row per window. Oracle
    * regenerates the PCM and groups by i // 400. */
  def audioWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        (col("doc_id") % 900 + 100).cast("int").as("n"))
      .as[(Long, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, n) =>
          val s = decodeWav(encodeWav(syntheticPcm(id, n)))
          s.grouped(400).zipWithIndex.map { case (w, wi) =>
            var sq = 0L
            var i = 0
            while (i < w.length) { val v = w(i).toLong; sq += v * v; i += 1 }
            (id, wi, w.length.toLong, math.sqrt(sq.toDouble / w.length))
          }
        }
      }
      .toDF("media_id", "win", "n_in_win", "rms")
      .orderBy(col("media_id"), col("win"))
  }

  val audioWindowsSql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(doc_id % 900 + 100 AS INT) AS n FROM documents
      |), v AS (
      |  SELECT doc_id, i, (doc_id * 31 + i * 7919) % 65536 - 32768 AS s
      |  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM t)
      |)
      |SELECT doc_id AS media_id, CAST(i // 400 AS INT) AS win,
      |  COUNT(*) AS n_in_win,
      |  sqrt(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)) AS rms
      |FROM v
      |GROUP BY doc_id, i // 400
      |ORDER BY media_id, win""".stripMargin

  // ---------------------------------------------------------------------
  // REAL video path (JDK animated-GIF container — a true multi-frame
  // demux through javax.imageio, no external codecs)
  // ---------------------------------------------------------------------

  /** Deterministic grayscale pixels for one synthetic frame (pure integer
    * function of (media_id, frame, x, y)). Grayscale keeps the frame
    * inside GIF's 256-color palette, so the container round trip is
    * lossless and the oracle can regenerate the exact pixels. */
  private[graft] def syntheticFramePx(id: Long, f: Int, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      ((id * 31 + f.toLong * 97 + (i % w) * 7 + (i / w) * 13) % 256).toInt
    }

  /** Encode `nf` frames into ONE animated GIF via the JDK's sequence
    * writer — a real multi-frame container, not a fake chunking. */
  private[graft] def encodeGif(id: Long, nf: Int, w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nf) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val px = syntheticFramePx(id, f, w, h)
        var i = 0
        while (i < px.length) {
          img.getRaster.setSample(i % w, i / w, 0, px(i)); i += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Demux GIF bytes back into frames with the JDK reader (the real
    * container walk: image count discovered from the stream, each frame
    * decoded separately). */
  private[graft] def decodeGifFrames(bytes: Array[Byte]): IndexedSeq[java.awt.image.BufferedImage] = {
    val reader = javax.imageio.ImageIO.getImageReadersBySuffix("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      (0 until n).map(reader.read)
    } finally { reader.dispose(); iis.close() }
  }

  /** The REAL video pipeline: per document, encode a deterministic
    * multi-frame animation into an actual GIF container, demux it back
    * with the JDK reader, SAMPLE every 2nd frame, and compute the mean
    * pixel of each sampled frame from the DECODED raster. Frame count
    * comes from the container walk, not the generator, and the ground
    * truth is regenerable in SQL — so the hash match proves the
    * demux∘mux round trip through the gate, exactly like mm_audio_real.
    * flatMap shape: one row fans out to its sampled frames,
    * partition-local, no shuffle. Pixel sums are integers and /64 is a
    * power of two, so the double is bit-identical across engines. */
  def videoReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (w, h) = (8, 8)
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        (col("doc_id") % 5 + 2).cast("int").as("nf"))
      .as[(Long, Int)]
      .flatMap { case (id, nf) =>
        val gif = encodeGif(id, nf, w, h)
        val frames = decodeGifFrames(gif)
        frames.zipWithIndex.collect { case (img, f) if f % 2 == 0 =>
          var s = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { s += (img.getRGB(x, y) & 0xFF); x += 1 }
            y += 1
          }
          (id, frames.length, f, s.toDouble / (w * h))
        }
      }
      .toDF("media_id", "n_frames", "frame_idx", "mean_px")
      .orderBy(col("media_id"), col("frame_idx"))
  }

  val videoRealSql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS nf FROM documents
      |), sel AS (
      |  SELECT doc_id, nf, fi FROM
      |    (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS fi FROM t)
      |  WHERE fi % 2 = 0
      |), xx AS (
      |  SELECT doc_id, nf, fi, unnest(generate_series(0, 7)) AS x FROM sel
      |), yy AS (
      |  SELECT doc_id, nf, fi, x, unnest(generate_series(0, 7)) AS y FROM xx
      |)
      |SELECT doc_id AS media_id, nf AS n_frames, CAST(fi AS INT) AS frame_idx,
      |  CAST(SUM((doc_id * 31 + fi * 97 + x * 7 + y * 13) % 256) AS DOUBLE)
      |    / 64 AS mean_px
      |FROM yy
      |GROUP BY doc_id, nf, fi
      |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------------
  // Perceptual-hash image near-dup (bridges multimodal → dedup)
  // ---------------------------------------------------------------------

  /** Well-mixed deterministic ARGB raster (splitmix-style scramble of
    * (seed, pixel index)): unlike [[syntheticPixels]]' linear-gradient
    * formulas — whose dHash bits are mostly constant (the gradient sign
    * rarely flips), putting DIFFERENT images within banding distance —
    * each luminance comparison here is an independent coin flip, so two
    * distinct seeds sit at Hamming ≈ 32 of 64, far above any verify
    * threshold, while equal seeds are bit-identical. */
  private[graft] def scrambledPixels(seed: Long, w: Int,
                                     h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      var z = seed * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
      z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
      val r = (z & 0xff).toInt
      val g = ((z >>> 8) & 0xff).toInt
      val b = ((z >>> 16) & 0xff).toInt
      0xFF000000 | (r << 16) | (g << 8) | b
    }

  /** 64-bit difference hash (dHash) of a decoded image: downsample to
    * 9×8 with the deterministic nearest-neighbor kernel, then one bit
    * per horizontally-adjacent luminance comparison — the standard
    * perceptual fingerprint (gradient direction is what survives
    * re-encoding/resizing, unlike raw bytes). Integer luminance
    * (r+g+b), no floating point anywhere. */
  private[graft] def dHash(img: java.awt.image.BufferedImage): Long = {
    val small = resizeNearest(img, 9, 8)
    def lum(x: Int, y: Int): Int = {
      val p = small.getRGB(x, y)
      ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
    }
    var fp = 0L
    var bit = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lum(x + 1, y) > lum(x, y)) fp |= (1L << bit)
        bit += 1
        x += 1
      }
      y += 1
    }
    fp
  }

  /** The planted image corpus's dHash fingerprints through the REAL
    * PNG round trip — shared by the batch / incremental / streaming
    * gates (ImageIO registry warms once per partition, not per row). */
  private def imageFps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.Tables.sizedRange(spark, 0, 140).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val seed = if (id < 120) id % 40 else 1000L + id
          val png = encodePngPixels(scrambledPixels(seed, 18, 16), 18, 16)
          (id, dHash(decodePng(png)))
        }
      }
      .toDF("doc_id", "fp")
  }

  /** Perceptual-hash image near-dup through the HASH GATE on a planted
    * corpus (VERDICT r12 #7 — bridges the multimodal codec path into
    * the dedup banding kernel): 140 REAL PNGs — ids 0..119 encode the
    * raster of base id % 40 (three byte-identical payloads per base),
    * ids 120..139 unique rasters — go through the FULL pipeline: JDK
    * PNG encode → decode → 9×8 nearest-neighbor downsample → dHash →
    * [[Dedup.fingerprintNearDup]] (4×16-bit banding, skew cap, exact
    * Hamming ≤ 3 verify). Replica dHashes are bit-identical (Hamming 0,
    * every band collides); distinct scrambled rasters sit at Hamming
    * ≈ 32, so the output is exactly the 120 replica pairs the oracle
    * synthesizes — a codec bug that decodes rasters unequally, a
    * downsample/dHash bug that hashes replicas apart, or a banding bug
    * that drops a pair breaks the hash. `dir` unused (regime, not
    * scale). */
  def imageDHashClustered(spark: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintNearDup(imageFps(spark), maxHamming = 3,
      maxBucket = 200, sorted = true)

  /** INCREMENTAL perceptual-hash image dedup through the HASH GATE
    * (r16 — the multimodal tiers complete their incremental axis):
    * history = ids < 100 (two full copies of every family + the third
    * copies of bases 0..19), delta = ids 100..139 (the remaining third
    * copies + all uniques — a MID-FAMILY split, so delta copies must
    * pair against two history copies each through the shared candidate
    * kernel). Full pair set must equal the batch rebuild — the same
    * closed-form oracle. */
  def imageDHashIncrClustered(spark: SparkSession, dir: String,
                              splitId: Long = 100): DataFrame = {
    val fps = imageFps(spark).stage()
    Dedup.fingerprintIncremental(fps.filter(col("doc_id") < splitId),
      fps.filter(col("doc_id") >= splitId))
  }

  /** STREAMING perceptual-hash dedup through the HASH GATE — the
    * multimodal tier joining the streaming matrix: the same 140-image
    * clustered corpus arrives in four contiguous id-range batches; each
    * batch's REAL PNG round-trip feeds its dHash fingerprints into the
    * fingerprint-generic banded stream core ([[Dedup
    * .fingerprintStreamApplyBatch]] — the simhash machinery; an 8-byte
    * fp rides its band rows). Keep-first under id-ordered arrival means
    * the survivor set is exactly the first copy of each image family
    * plus the uniques, which the oracle synthesizes from `range()` —
    * a codec drift, a pruning miss, or a replay double-publish breaks
    * the hash. */
  def imageDHashStreamClustered(spark: SparkSession, dir: String,
                                epochs: Int = 4): DataFrame = {
    // the planted corpus is generated, not read from `dir`
    val base = StateCache.replay("mm_dedup_phash_stream", None, epochs,
        StateCache.Range("doc_id"), None)(imageFps(spark)) {
      (b, k, st) => Dedup.fingerprintStreamApplyBatch(b, k, st,
        maxHamming = 3, maxBucket = 200, compactEvery = 2)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L)
      .stage()
      .orderBy(col("doc_id"))
  }

  /** Survivors are provable by construction: ids 0..119 are three copies
    * of 40 families (seed = id %% 40), 120..139 unique — keep-first
    * keeps exactly {0..39} ∪ {120..139}. */
  val imageDHashStreamClusteredSql: String =
    """SELECT CAST(x AS BIGINT) AS doc_id FROM range(0, 40) t(x)
      |UNION ALL
      |SELECT CAST(x AS BIGINT) FROM range(120, 140) t(x)
      |ORDER BY doc_id""".stripMargin

  val imageDHashClusteredSql: String =
    """WITH b AS (SELECT CAST(x AS BIGINT) AS b FROM range(0, 40) t(x)),
      |p AS (
      |  SELECT b AS a_id, b + 40 AS b_id FROM b
      |  UNION ALL SELECT b, b + 80 FROM b
      |  UNION ALL SELECT b + 40, b + 80 FROM b)
      |SELECT a_id, b_id, CAST(0 AS BIGINT) AS hamming FROM p
      |ORDER BY a_id, b_id""".stripMargin

  /** Well-mixed deterministic 16-bit PCM (splitmix scramble of
    * (seed, i)) — the audio analogue of [[scrambledPixels]]: window
    * energies of distinct seeds are independent draws, so the
    * sign-of-energy-gradient bits of two different seeds disagree about
    * half the time, while equal seeds are sample-identical. */
  private[graft] def scrambledPcm(seed: Long, n: Int): Array[Short] =
    Array.tabulate(n) { i =>
      var z = seed * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
      z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
      (z & 0xffff).toShort
    }

  /** 64-bit audio fingerprint over decoded PCM: 65 contiguous windows,
    * integer energy (sum of squares) per window, one bit per adjacent
    * energy comparison — the Haitsma–Kalman sign-of-energy-difference
    * fingerprint reduced to a single band, all-integer (the audio twin
    * of [[dHash]]'s luminance gradient). Depends only on the decoded
    * samples, so it survives container round-trips. */
  private[graft] def audioHash(s: Array[Short]): Long = {
    val w = 65
    val energies = new Array[Long](w)
    var i = 0
    while (i < s.length) {
      val b = ((i.toLong * w) / s.length).toInt
      val v = s(i).toLong
      energies(b) += v * v
      i += 1
    }
    var fp = 0L
    var k = 0
    while (k < 64) {
      if (energies(k + 1) > energies(k)) fp |= (1L << k)
      k += 1
    }
    fp
  }

  /** The planted audio corpus's fingerprints through the REAL WAV
    * round trip — shared by the batch / incremental / streaming
    * gates. */
  private def audioFps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.Tables.sizedRange(spark, 0, 140).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val seed = if (id < 120) id % 40 else 1000L + id
          val wav = encodeWav(scrambledPcm(seed, 650))
          (id, audioHash(decodeWav(wav)))
        }
      }
      .toDF("doc_id", "fp")
  }

  /** Audio-fingerprint near-dup through the HASH GATE on a planted
    * corpus — completes the multimodal↔dedup bridge for the audio
    * codec path (image dHash landed first): 140 REAL WAVs — ids 0..119
    * carry the PCM of seed id % 40 (three byte-identical payloads per
    * base), ids 120..139 unique — through the FULL pipeline: JDK WAV
    * encode → decode → windowed-energy [[audioHash]] →
    * [[Dedup.fingerprintNearDup]] (4×16-bit banding, skew cap, exact
    * Hamming ≤ 3 verify). Replica hashes are bit-identical; distinct
    * scrambled PCM sits at Hamming ≈ 32 — output is exactly the 120
    * replica pairs the oracle synthesizes. A codec bug that decodes
    * samples unequally, a windowing/energy bug that hashes replicas
    * apart, or a banding bug that drops a pair breaks the hash. */
  def audioHashClustered(spark: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintNearDup(audioFps(spark), maxHamming = 3,
      maxBucket = 200, sorted = true)

  /** INCREMENTAL audio-fingerprint dedup — the audio twin of
    * [[imageDHashIncrClustered]] (same mid-family split, same
    * equality-with-rebuild claim, same closed-form oracle). */
  def audioHashIncrClustered(spark: SparkSession, dir: String,
                             splitId: Long = 100): DataFrame = {
    val fps = audioFps(spark).stage()
    Dedup.fingerprintIncremental(fps.filter(col("doc_id") < splitId),
      fps.filter(col("doc_id") >= splitId))
  }

  /** Well-mixed deterministic GRAYSCALE raster (splitmix scramble of
    * (seed, pixel)) — the single-channel twin of [[scrambledPixels]]
    * for GIF's palette-safe gray frames: each luminance comparison is
    * an independent coin flip, so distinct seeds sit at dHash Hamming
    * ≈ 32 while equal seeds are bit-identical through the lossless
    * container round trip. */
  private[graft] def scrambledGray(seed: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      var z = seed * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
      z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
      (z & 0xff).toInt
    }

  /** Mux caller-supplied grayscale rasters into ONE animated GIF (the
    * [[encodeGif]] sequence writer generalized from its synthetic-frame
    * generator to injectable frames — the video dedup tier plants
    * scrambled rasters, whose dHashes separate, where the gradient-ish
    * synthetic frames would collide). */
  private[graft] def encodeGifFrames(frames: Seq[Array[Int]], w: Int,
                                     h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { px =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        var i = 0
        while (i < px.length) {
          img.getRaster.setSample(i % w, i / w, 0, px(i)); i += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** The planted clip corpus's per-frame dHashes under frame-composite
    * keys (vid·64 + frame_idx), through the REAL GIF mux/demux — shared
    * by the batch / incremental / streaming gates. seed·131+f is unique
    * per (seed, f): f < 131 < seed spacing. */
  private def videoFrameFps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (w, h) = (18, 16)
    graft.Tables.sizedRange(spark, 0, 140).as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val seed = if (id < 120) id % 40 else 1000L + id
          val nf = (seed % 3 + 3).toInt // 3..5 frames, base-determined
          val gif = encodeGifFrames(
            (0 until nf).map(f => scrambledGray(seed * 131 + f, w, h)), w, h)
          decodeGifFrames(gif).zipWithIndex.map { case (img, f) =>
            (id * 64 + f, dHash(img))
          }
        }
      }
      .toDF("doc_id", "fp")
  }

  /** VIDEO near-dup through the HASH GATE on a planted replicated-clip
    * corpus (VERDICT r15 #7 — the video surface gains its dedup tier;
    * decode existed since mm_video_real): per-frame dHash + SEQUENCE-
    * LEVEL banding — two clips are near-dups iff ≥ `minAligned` frames
    * at the SAME frame index collide under the banded-Hamming rule, the
    * temporal analogue of simhash's "≥1 band collides" pigeonhole. 140
    * REAL GIF containers — ids 0..119 mux the frame sequence of base
    * id % 40 (three container-identical clips per base, 3–5 scrambled
    * gray frames each), ids 120..139 unique sequences — go through the
    * FULL pipeline: GIF mux → JDK demux → per-frame 9×8 downsample +
    * dHash → the SHARED banding kernel [[Dedup.fingerprintNearDup]]
    * over frame-composite keys (doc_id·64 + frame_idx — the videos'
    * frame counts are < 64, so keys are collision-free and `key % 64`
    * recovers alignment) → aligned-frame filter → per-pair collision
    * count. Replica clips collide at EVERY aligned frame (n_aligned =
    * the base's frame count); distinct scrambled sequences collide
    * nowhere, so the output is exactly the 120 replica pairs with
    * closed-form counts the oracle synthesizes. A container demux bug,
    * a frame-order scramble (alignment breaks), a dHash drift, or a
    * banding bug that drops a frame pair breaks the hash. At scale the
    * frame fan-out is a narrow flatMap (8 B fp per frame rides its band
    * rows; no raster ever shuffles) and the aligned-count aggregation
    * shuffles only verified frame pairs. `dir` unused (regime, not
    * scale). */
  def videoDHashClustered(spark: SparkSession, dir: String,
                          minAligned: Int = 2): DataFrame =
    videoNearDupPairs(videoFrameFps(spark), minAligned)

  /** INCREMENTAL video near-dup: frame-level pairs refresh through the
    * shared incremental kernel ([[Dedup.fingerprintIncremental]] over
    * frame-composite keys — hist pairs + delta-involved pairs with
    * crossing retraction), then the SAME aligned-count aggregation as
    * the batch gate ([[Dedup.alignedEntityPairs]]); the aggregation is a
    * pure function of the frame pair set, so frame-level
    * equality-with-rebuild lifts to the video pairs. History = clips with vid < 100, delta = the rest (the
    * mid-family split). Same closed-form oracle as the batch gate. */
  def videoDHashIncrClustered(spark: SparkSession, dir: String,
                              splitVid: Long = 100,
                              minAligned: Int = 2): DataFrame = {
    val fps = videoFrameFps(spark).stage()
    val cut = splitVid * 64
    Dedup.alignedEntityPairs(
        Dedup.fingerprintIncremental(fps.filter(col("doc_id") < cut),
          fps.filter(col("doc_id") >= cut), sorted = false),
        span = 64, minAligned = minAligned)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The sequence-banding stage over frame-composite-keyed fingerprints
    * (video_id·64 + frame_idx, fp): shared banded-Hamming frame pairs →
    * aligned-frame filter → per-clip-pair collision count ≥ threshold.
    * Split out so the spec can feed a SHIFTED clip (same frames, offset
    * indices) and prove the temporal rule rejects it. */
  private[graft] def videoNearDupPairs(frameFps: DataFrame,
                                       minAligned: Int): DataFrame =
    Dedup.alignedEntityPairs(
        Dedup.fingerprintNearDup(frameFps, maxHamming = 3, maxBucket = 200,
          sorted = false),
        span = 64, minAligned = minAligned)
      .orderBy(col("a_id"), col("b_id"))

  /** STREAMING video near-dup through the HASH GATE — the video tier
    * joins the streaming matrix the epoch its batch form lands: the
    * same 140-clip corpus arrives in four contiguous VIDEO-id-range
    * batches; each batch's real GIF round-trip feeds per-frame dHashes
    * under composite keys into the banded-Hamming stream core
    * ([[Dedup.sequenceFingerprintStreamApplyBatch]] — the image/audio
    * core with the entity-level keep-first rule: ≥k aligned frame pairs,
    * the batch gate's [[Dedup.alignedEntityPairs]]). Survivors are exactly the first copy of each clip
    * family plus the uniques — the SAME synthesized oracle as the image
    * and audio stream gates. */
  def videoDHashStreamClustered(spark: SparkSession, dir: String,
                                epochs: Int = 4): DataFrame = {
    // sliced on the clip id, so a clip's frames never straddle epochs
    val base = StateCache.replay("mm_dedup_video_stream", None, epochs,
        StateCache.Range("doc_id div 64"), None)(videoFrameFps(spark)) {
      (b, k, st) => Dedup.sequenceFingerprintStreamApplyBatch(b, k, st,
        span = 64, minAligned = 2, compactEvery = 2)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L)
      .stage()
      .orderBy(col("doc_id"))
  }

  /** Pairs provable by construction: 3 copies per base ⇒ 3 pairs × 40
    * bases, every aligned frame collides ⇒ n_aligned = the base's frame
    * count (base % 3 + 3). */
  val videoDHashClusteredSql: String =
    """WITH b AS (SELECT CAST(x AS BIGINT) AS b,
      |             CAST(x % 3 + 3 AS BIGINT) AS nf FROM range(0, 40) t(x)),
      |p AS (
      |  SELECT b AS a_id, b + 40 AS b_id, nf FROM b
      |  UNION ALL SELECT b, b + 80, nf FROM b
      |  UNION ALL SELECT b + 40, b + 80, nf FROM b)
      |SELECT a_id, b_id, nf AS n_aligned FROM p
      |ORDER BY a_id, b_id""".stripMargin

  /** STREAMING audio-fingerprint dedup through the HASH GATE —
    * completes the multimodal streaming row (images joined in r15;
    * VERDICT r15 #3): the same 140-WAV clustered corpus arrives in four
    * contiguous id-range batches; each batch's REAL WAV round-trip
    * (encode → decode → windowed-energy [[audioHash]]) feeds its
    * fingerprints into the fingerprint-generic banded stream core
    * ([[Dedup.fingerprintStreamApplyBatch]] — the same machinery the
    * simhash and image tiers ride; an 8-byte fp rides its band rows).
    * Keep-first under id-ordered arrival ⇒ survivors are exactly the
    * first copy of each PCM family plus the uniques — the oracle the
    * image stream gate already synthesizes from `range()`. A codec
    * drift between epochs, a pruning miss, or a replay double-publish
    * breaks the hash. */
  def audioHashStreamClustered(spark: SparkSession, dir: String,
                               epochs: Int = 4): DataFrame = {
    val base = StateCache.replay("mm_dedup_audiohash_stream", None, epochs,
        StateCache.Range("doc_id"), None)(audioFps(spark)) {
      (b, k, st) => Dedup.fingerprintStreamApplyBatch(b, k, st,
        maxHamming = 3, maxBucket = 200, compactEvery = 2)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L)
      .stage()
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Cross-modal (image + caption) joint curation
  // ---------------------------------------------------------------------

  /** The planted image+caption PAIR corpus (VERDICT r16 #3): the 140
    * images of the perceptual-dedup regime (real PNG payloads; ids
    * 0..119 = three byte-identical copies of 40 bases, 120..139 unique),
    * each carrying a synthesized caption that is a pure function of the
    * pair id, with three deterministic defect plantings on DISJOINT id
    * classes (the spec isolates each rule):
    *
    *  - id % 8 == 1  → a 2-token caption (fails the ≥5-token quality
    *    floor);
    *  - id % 10 == 6 → the caption DUPLICATES pair id−4's text (caption
    *    dedup must drop the later pair; id−4 always survives the
    *    earlier stages — id−4 ≡ 2 mod 10, and %8/%12 never collide);
    *  - id % 12 == 7 → the caption CLAIMS the wrong pattern seed
    *    (seed+1), so the cross-modal consistency score fails.
    *
    * The caption's claimed seed is embedded as text ("pattern <s>") and
    * recovered by regex at scoring time — the pair score is the Hamming
    * distance between the image's dHash THROUGH THE REAL CODEC
    * (encode→decode→downsample→hash) and the caption modality's
    * reference fingerprint (dHash of the claimed seed's raster, no
    * codec) — a codec bug that decodes rasters unequally breaks every
    * honest pair's score, exactly like the perceptual-dedup gate. */
  private def mmPairCorpus(spark: SparkSession): DataFrame =
    withPairCaptions(mmPairImages(spark, 0, 140))

  /** The raster half of the pair corpus, restricted to an id range —
    * split out of [[mmPairCorpus]] so the incremental form can
    * synthesize (and PNG-encode) ONLY its delta's images: the history
    * rasters live behind the session-built fingerprint artifact, and the
    * caption half is pure column arithmetic that never needs them. */
  private def mmPairImages(spark: SparkSession, lo: Long,
                           hi: Long): DataFrame = {
    import spark.implicits._
    graft.Tables.sizedRange(spark, lo, hi).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val seed = if (id < 120) id % 40 else 1000L + id
          (id, encodePngPixels(scrambledPixels(seed, 18, 16), 18, 16))
        }
      }.toDF("pair_id", "img")
  }

  /** The caption half of the pair corpus: a pure function of `pair_id`
    * (planted defects on disjoint id classes — see [[mmPairCorpus]]),
    * attachable to any frame carrying the id. */
  private def withPairCaptions(df: DataFrame): DataFrame = {
    def seedOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c < 120, c % 40).otherwise(lit(1000L) + c)
    def claimedOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      seedOf(c) + when(c % 12 === 7, 1L).otherwise(0L)
    val capKey = when(col("pair_id") % 10 === 6, col("pair_id") - 4)
      .otherwise(col("pair_id"))
    df.withColumn("caption",
      when(col("pair_id") % 8 === 1,
        concat(lit("pattern "), claimedOf(capKey).cast("string")))
      .otherwise(concat(lit("a photo of pattern "),
        claimedOf(capKey).cast("string"),
        lit(" item "), capKey.cast("string"))))
  }

  /** Real-codec dHash per pair over a (pair_id, img) frame — the shared
    * fingerprint kernel of the batch/incremental/stream curation forms. */
  private def pairFpsOf(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col("pair_id"), col("img")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, png) => (id, dHash(decodePng(png))) })
      .toDF("doc_id", "fp")
  }

  /** JOINT image+caption curation through the HASH GATE — the
    * cross-modal composition (VERDICT r16 #3): a pair survives only if
    * its IMAGE survives perceptual keep-first dedup (the shared banding
    * kernel over real-codec dHashes) AND its CAPTION passes the quality
    * floor AND caption keep-first dedup AND the pair clears the
    * integer-exact cross-modal consistency score. Cumulative flags (the
    * `pipeline_curation` recipe): each stage filters the previous
    * stage's survivors, and the report row carries (count, id-sum) so a
    * wrong survivor SET breaks the hash even at an equal count. The
    * oracle replays the planted defect arithmetic in closed form over
    * range(0, 140). `dir` unused (regime, not scale).
    *
    * Scale shape: rasters never shuffle (8 B fingerprints ride the
    * banding kernel), captions shuffle once for the dedup window
    * (partitioned by caption text), and the reference-fingerprint join
    * is |distinct claimed seeds| ≤ corpus — broadcast at gate scale,
    * an equi-join at any scale. */
  def mmCuration(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val pairs = mmPairCorpus(spark).stage()
    // image modality: real-codec dHash per pair, keep-first via the
    // shared banded kernel (drop any pair with an earlier near-dup mate)
    val fps = pairFpsOf(pairs).stage()
    val laterDups = Dedup.fingerprintNearDup(fps, maxHamming = 3,
        maxBucket = 200, sorted = false)
      .select(col("b_id").as("pair_id")).distinct()
    val flagged = pairs
      .join(laterDups.withColumn("is_dup", lit(true)), Seq("pair_id"), "left")
      .withColumn("s1", col("is_dup").isNull)
      .withColumn("cap_tokens", size(split(col("caption"), " ")))
      .withColumn("s2", col("s1") && col("cap_tokens") >= 5)
      .withColumn("s3", col("s2") && col("pair_id") ===
        min(when(col("s2"), col("pair_id"))).over(W.partitionBy(col("caption"))))
    mmScoreAndReport(flagged, fps)
  }

  /** Shared tail of [[mmCuration]] / [[mmCurationIncr]]: the
    * cross-modal pair score over an s1–s3-flagged frame, then the
    * attrition report — one definition so the incremental form's score
    * math can never drift from the batch gate's. The caption side's
    * reference fingerprint hashes the raster DIRECTLY (no codec) — the
    * image side went encode→decode, so an honest pair's Hamming-0 score
    * additionally witnesses that the codec round trip is the identity
    * (the mm_decode_real claim, re-asserted inside this gate). */
  private def mmScoreAndReport(flagged: DataFrame, fps: DataFrame): DataFrame =
    attritionReport(mmScoreAndReportFlags(flagged,
      fps.withColumnRenamed("doc_id", "pair_id")).stage())
      .orderBy(col("stage"))

  /** The curation attrition report over a scored s1–s4 frame: one
    * (stage, n_pairs, id_sum) row per cumulative stage, unsorted — the
    * batch/incremental tail and the stream form's per-epoch
    * contribution (an integer sum over epochs) share this one list. */
  private def attritionReport(scored: DataFrame): DataFrame = {
    def row(stage: String, flag: org.apache.spark.sql.Column): DataFrame =
      scored.agg(
        count(when(flag, 1)).as("n_pairs"),
        coalesce(sum(when(flag, col("pair_id"))), lit(0L)).as("id_sum"))
        .select(lit(stage).as("stage"), col("n_pairs"), col("id_sum"))
    row("0_total", lit(true))
      .unionByName(row("1_img_dedup", col("s1")))
      .unionByName(row("2_cap_quality", col("s2")))
      .unionByName(row("3_cap_dedup", col("s3")))
      .unionByName(row("4_pair_score", col("s4")))
  }

  /** INCREMENTAL cross-modal curation — [[mmCuration]]'s maintained
    * form (the bm25Incremental / imageDHashIncrClustered posture):
    * history (pair_id < splitId) owns its modality artifacts — the
    * image fingerprint index and the caption keep-first map
    * (caption → min surviving id); a delta ingest pays delta-bound
    * work — delta fingerprints pair against history through the
    * banded-Hamming refresh body ([[Dedup.fingerprintIncrementalFrom]]),
    * delta captions consult the history map (ids are monotone across
    * the split, so no delta arrival can unseat a history min — the
    * keep-first invariant that makes the map sufficient), and the
    * per-row stages (quality floor, pair score) touch delta rows alone.
    *
    * splitId = 115 by default — a DOUBLY mid-family split: the third
    * image copies of bases 35..39 (ids 115..119) land in the delta and
    * must pair against two history copies each, AND caption-dup pair
    * 116 targets history pair 112, forcing the cross-split map path
    * (126/136 target 122/132 in-delta, exercising the delta-local min
    * too). The gate's claim is incremental == rebuild: same oracle as
    * the batch composition. */
  def mmCurationIncr(spark: SparkSession, dir: String,
                     splitId: Long = 115L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // History OWNS its modality artifacts (the operator's documented
    // posture, and the bm25Incremental precedent): the image fingerprint
    // index and the history pair set build once per session — the ~115
    // history PNG encode+decode+hash passes and the O(hist)-bounded pair
    // build leave the recurring path (visible as the
    // pipeline_mm_curation_incr_hist.build phase). The DELTA ingest —
    // its 25 raster synthesis/fingerprint passes, the incremental
    // candidate kernel with cap-crossing retraction against the
    // persisted pair set, the caption flags and the attrition report —
    // stays fully timed: that is the recurring production term the gate
    // exists to measure. The corpus is synthesized (dir-independent), so
    // the cache keys on the regime tag + split, as the stream form does,
    // plus the dedup parameters baked into the persisted pair set — read
    // from the same vals as the build, so key and build cannot drift.
    val maxHamming = 3
    val maxBucket = 200
    val histBase = graft.tools.StateCache.getOrBuild(
      "pipeline_mm_curation_incr_hist",
      s"clustered|$splitId|$maxHamming|$maxBucket") { root =>
      pairFpsOf(mmPairImages(spark, 0, splitId))
        .write.mode("overwrite").parquet(s"$root/fp")
      Dedup.fingerprintNearDup(Tables.parquet(spark, s"$root/fp"),
          maxHamming = maxHamming, maxBucket = maxBucket, sorted = false)
        .write.mode("overwrite").parquet(s"$root/pairs")
    }
    val histFp = Tables.parquet(spark, s"$histBase/fp")
    val histPairs = Tables.parquet(spark, s"$histBase/pairs")
    // captions are pure column arithmetic over the id range — no raster
    // synthesis on the per-iteration path for history rows
    val caps = withPairCaptions(graft.Tables.sizedRange(spark, 0, 140)
      .select(col("id").as("pair_id"))).stage()
    val hist = caps.filter(col("pair_id") < splitId)
    val delta = caps.filter(col("pair_id") >= splitId)
    val deltaFp = pairFpsOf(mmPairImages(spark, splitId, 140)).stage()
    val laterDups = Dedup.fingerprintIncrementalFrom(histFp, Some(histPairs),
        deltaFp, maxHamming = maxHamming, maxBucket = maxBucket, sorted = false)
      .select(col("b_id").as("pair_id")).distinct()
    def baseFlags(df: DataFrame): DataFrame = df
      .join(laterDups.withColumn("is_dup", lit(true)), Seq("pair_id"), "left")
      .withColumn("s1", col("is_dup").isNull)
      .withColumn("cap_tokens", size(split(col("caption"), " ")))
      .withColumn("s2", col("s1") && col("cap_tokens") >= 5)
    // history caption keep-first over HISTORY alone (its own artifact)
    val histFlagged = baseFlags(hist)
      .withColumn("s3", col("s2") && col("pair_id") ===
        min(when(col("s2"), col("pair_id")))
          .over(W.partitionBy(col("caption"))))
      .stage()
    // the maintained caption → min-surviving-id map
    val histMin = histFlagged.filter(col("s2"))
      .groupBy(col("caption")).agg(min(col("pair_id")).as("hist_min"))
    val deltaFlagged = baseFlags(delta)
      .join(histMin, Seq("caption"), "left")
      .withColumn("delta_min", min(when(col("s2"), col("pair_id")))
        .over(W.partitionBy(col("caption"))))
      .withColumn("s3", col("s2") && col("hist_min").isNull &&
        col("pair_id") === col("delta_min"))
      .drop("hist_min", "delta_min")
    mmScoreAndReport(histFlagged.unionByName(deltaFlagged),
      histFp.unionByName(deltaFp))
  }

  /** Oracle of [[mmCuration]]: the planted defect arithmetic in closed
    * form — image keep-first keeps first copies and uniques, the three
    * caption defects are the disjoint mod classes. */
  val mmCurationSql: String =
    """WITH p AS (
      |  SELECT x AS pair_id,
      |    (x < 40 OR x >= 120) AS s1_ok,
      |    NOT (x % 8 = 1) AS q_ok,
      |    NOT (x % 10 = 6) AS nodup_ok,
      |    NOT (x % 12 = 7) AS score_ok
      |  FROM range(0, 140) t(x)),
      |s AS (
      |  SELECT pair_id, s1_ok AS s1, s1_ok AND q_ok AS s2,
      |    s1_ok AND q_ok AND nodup_ok AS s3,
      |    s1_ok AND q_ok AND nodup_ok AND score_ok AS s4
      |  FROM p)
      |SELECT stage, n_pairs, id_sum FROM (
      |  SELECT '0_total' AS stage, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(pair_id) AS BIGINT) AS id_sum FROM s
      |  UNION ALL SELECT '1_img_dedup', CAST(COUNT(CASE WHEN s1 THEN 1 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN s1 THEN pair_id END), 0) AS BIGINT) FROM s
      |  UNION ALL SELECT '2_cap_quality', CAST(COUNT(CASE WHEN s2 THEN 1 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN s2 THEN pair_id END), 0) AS BIGINT) FROM s
      |  UNION ALL SELECT '3_cap_dedup', CAST(COUNT(CASE WHEN s3 THEN 1 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN s3 THEN pair_id END), 0) AS BIGINT) FROM s
      |  UNION ALL SELECT '4_pair_score', CAST(COUNT(CASE WHEN s4 THEN 1 END) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN s4 THEN pair_id END), 0) AS BIGINT) FROM s)
      |ORDER BY stage""".stripMargin

  /** STREAMING cross-modal curation — the composition's third form
    * (batch r17a, incremental r17b): pairs arrive in four contiguous
    * id-range epochs. Per epoch, the batch's image fingerprints stream
    * through the shared banded dedup core (keep-first vs history —
    * exactly the batch s1 under id-ordered arrival); caption quality is
    * per-row; caption keep-first consults a maintained caption →
    * min-s2-id LogState map (id-ordered arrival makes the as-of min the
    * global min — the same monotone-id argument as the incremental
    * form); the pair score is per-row. Each epoch publishes its
    * per-stage (count, id-sum) contribution as an epoch-keyed delta;
    * the final report is a commutative integer SUM over epoch deltas,
    * so it must equal the batch composition bitwise — same oracle.
    * Epoch-keyed overwrites throughout: replay-idempotent. */
  def mmCurationStream(spark: SparkSession, dir: String,
                       epochs: Int = 4): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // the dedup parameters baked into the image state, read from the same
    // vals as the stream core below, so key and build cannot drift
    val maxHamming = 3
    val maxBucket = 200
    val base = graft.tools.StateCache.getOrBuild(
      "pipeline_mm_curation_stream",
      s"clustered|$epochs|$maxHamming|$maxBucket") { root =>
      val imgState = s"$root/img"
      val capRoot = s"$root/caps"
      val repRoot = s"$root/report"
      val pairs = mmPairCorpus(spark).stage()
      val width = 140 / epochs
      (0 until epochs).foreach { k =>
        graft.tools.LogState.requireNoFuture(capRoot, k)
        graft.tools.LogState.requireNoFuture(repRoot, k)
        val batch = pairs.filter(col("pair_id") >= k * width &&
          (col("pair_id") < (k + 1) * width || lit(k == epochs - 1)))
          .stage()
        val fps = pairFpsOf(batch).stage()
        Dedup.fingerprintStreamApplyBatch(fps, k, imgState,
          maxHamming = maxHamming, maxBucket = maxBucket, compactEvery = 2)
        val surv = LogState.readAsOf(spark, s"$imgState/survivors", k)
          .select(col("doc_id").as("pair_id"), lit(true).as("s1x"))
        val capHist =
          if (k == 0) batch.select(col("caption"),
            lit(0L).as("hist_min")).limit(0)
          else LogState.readAsOf(spark, capRoot, k - 1L)
            .groupBy(col("caption")).agg(min(col("cap_id")).as("hist_min"))
        val flagged = batch
          .join(surv, Seq("pair_id"), "left")
          .withColumn("s1", coalesce(col("s1x"), lit(false)))
          .withColumn("s2", col("s1") &&
            size(split(col("caption"), " ")) >= 5)
          .join(capHist, Seq("caption"), "left")
          .withColumn("bmin", min(when(col("s2"), col("pair_id")))
            .over(W.partitionBy(col("caption"))))
          .withColumn("s3", col("s2") && col("hist_min").isNull &&
            col("pair_id") === col("bmin"))
        val scored = mmScoreAndReportFlags(flagged,
          fps.withColumnRenamed("doc_id", "pair_id")).stage()
        // maintain the caption map: this epoch's s2 captions
        flagged.filter(col("s2"))
          .select(col("caption"), col("pair_id").as("cap_id"))
          .write.mode("overwrite").parquet(s"$capRoot/delta/v$k")
        // epoch-keyed report contribution (commutative integer fold)
        attritionReport(scored)
          .write.mode("overwrite").parquet(s"$repRoot/delta/v$k")
      }
    }
    LogState.readAsOf(spark, s"$base/report", epochs - 1L)
      .groupBy(col("stage"))
      .agg(sum(col("n_pairs")).as("n_pairs"), sum(col("id_sum")).as("id_sum"))
      .stage()
      .orderBy(col("stage"))
  }

  /** The s4 scoring step of [[mmScoreAndReport]] without the report
    * tail — the stream form folds its [[attritionReport]] across epochs
    * instead. */
  private def mmScoreAndReportFlags(flagged: DataFrame,
                                    fps: DataFrame): DataFrame = {
    val spark = flagged.sparkSession
    import spark.implicits._
    val claimed = flagged.withColumn("claimed_seed",
      regexp_extract(col("caption"), "pattern (\\d+)", 1).cast("long"))
    val refFps = claimed.select(col("claimed_seed")).distinct()
      .as[Long].mapPartitions(_.map { s =>
        val px = scrambledPixels(s, 18, 16)
        val img = new java.awt.image.BufferedImage(
          18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, 18, 16, px, 0, 18)
        (s, dHash(img))
      }).toDF("claimed_seed", "ref_fp")
    claimed
      .join(fps, Seq("pair_id"))
      .join(broadcast(refFps), Seq("claimed_seed"))
      .withColumn("s4", col("s3") &&
        expr("bit_count(fp ^ ref_fp)") <= 3)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_mm_curation" -> (mmCuration _),
    "pipeline_mm_curation_stream" -> ((s: SparkSession, d: String) =>
      mmCurationStream(s, d)),
    "pipeline_mm_curation_incr" -> ((s: SparkSession, d: String) =>
      mmCurationIncr(s, d)),
    "mm_video_real" -> (videoReal _),
    "mm_audio_real" -> (audioReal _),
    "mm_audio_windows" -> (audioWindows _),
    "mm_meta"     -> (mediaMeta _),
    "mm_features" -> (extractFeatures _),
    "mm_frames"   -> ((s: SparkSession, d: String) => sampleFrames(s, d)),
    "mm_resize"   -> ((s: SparkSession, d: String) => resize(s, d)),
    "mm_decode_real" -> (decodeReal _),
    "mm_dedup_phash_clustered" -> (imageDHashClustered _),
    "mm_dedup_phash_stream" -> ((s: SparkSession, d: String) =>
      imageDHashStreamClustered(s, d)),
    "mm_dedup_audiohash_clustered" -> (audioHashClustered _),
    "mm_dedup_audiohash_stream" -> ((s: SparkSession, d: String) =>
      audioHashStreamClustered(s, d)),
    "mm_dedup_video_clustered" -> ((s: SparkSession, d: String) =>
      videoDHashClustered(s, d)),
    "mm_dedup_video_stream" -> ((s: SparkSession, d: String) =>
      videoDHashStreamClustered(s, d)),
    "mm_dedup_phash_incr" -> ((s: SparkSession, d: String) =>
      imageDHashIncrClustered(s, d)),
    "mm_dedup_audiohash_incr" -> ((s: SparkSession, d: String) =>
      audioHashIncrClustered(s, d)),
    "mm_dedup_video_incr" -> ((s: SparkSession, d: String) =>
      videoDHashIncrClustered(s, d)),
  )

  /** All three real-codec paths are oracled: the ground truth of each is
    * a pure integer function of ids, so DuckDB regenerates the decoded
    * rasters/samples and a hash match proves decode∘encode is the
    * identity through the gate. The stub features are also oracle-able:
    * payloads are the documents' pure-ASCII UTF-8 bytes, so byte means
    * equal per-character ord means, which DuckDB computes exactly
    * (integer sums are exact in doubles at any fold order; round vs
    * round_even chosen to match Spark's round vs math.rint). */
  val oracles: Map[String, String] = Map(
    "pipeline_mm_curation" -> mmCurationSql,
    // incremental == rebuild is the claim (the shared-oracle precedent)
    "pipeline_mm_curation_incr" -> mmCurationSql,
    // the epoch-folded report must equal the batch composition bitwise
    "pipeline_mm_curation_stream" -> mmCurationSql,
    "mm_dedup_phash_clustered" -> imageDHashClusteredSql,
    "mm_dedup_phash_stream" -> imageDHashStreamClusteredSql,
    // same planted replica structure as the image gate → same synthesis
    "mm_dedup_audiohash_clustered" -> imageDHashClusteredSql,
    "mm_dedup_audiohash_stream" -> imageDHashStreamClusteredSql,
    "mm_dedup_video_clustered" -> videoDHashClusteredSql,
    // entity-level keep-first over the same planted families → the
    // image/audio stream gates' synthesized survivor oracle
    "mm_dedup_video_stream" -> imageDHashStreamClusteredSql,
    // incremental forms: full pair set must equal the batch rebuild —
    // the batch gates' closed-form oracles verbatim
    "mm_dedup_phash_incr" -> imageDHashClusteredSql,
    "mm_dedup_audiohash_incr" -> imageDHashClusteredSql,
    "mm_dedup_video_incr" -> videoDHashClusteredSql,
    "mm_video_real" -> videoRealSql,
    "mm_audio_real" -> audioRealSql,
    "mm_audio_windows" -> audioWindowsSql,
    "mm_decode_real" -> decodeRealSql,
    "mm_meta" -> mediaMetaSql,
    "mm_features" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'jpeg'
        |       ELSE 'webp' END AS format,
        |  octet_length(encode(text)) AS n_bytes,
        |  round(CAST(list_sum([ord(c) FOR c IN string_split(text, '')]) AS DOUBLE)
        |        / octet_length(encode(text)), 4) AS mean_byte
        |FROM documents
        |ORDER BY media_id""".stripMargin,
    "mm_frames" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS len
        |           FROM documents),
        |f AS (SELECT doc_id, text,
        |        unnest(generate_series(0, CAST((len - 1) // 64 AS INT))) AS frame_idx
        |      FROM t WHERE len > 0),
        |s AS (SELECT doc_id, frame_idx,
        |        substr(text, frame_idx * 64 + 1, 64) AS frame
        |      FROM f WHERE frame_idx % 4 = 0)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(frame) AS INT) AS n_bytes,
        |  round_even(CAST(list_sum([ord(c) FOR c IN string_split(frame, '')]) AS DOUBLE)
        |             / length(frame) * 10000, 0) / 10000 AS mean_byte
        |FROM s
        |ORDER BY media_id, frame_idx""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST((doc_id % 640 + 1) AS INT) // 2 AS width,
        |  CAST((doc_id % 480 + 1) AS INT) // 2 AS height,
        |  CAST(ceil(octet_length(encode(text)) / 2.0) AS INT) AS n_bytes_scaled
        |FROM documents
        |ORDER BY media_id""".stripMargin,
  )
}
