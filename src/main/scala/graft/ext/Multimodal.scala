package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, plus a partition-wise feature-extraction pipeline.
  *
  * Decode tiers — ALL REAL as of r17:
  *  - image ([[decodeImages]]): `javax.imageio` PNG/JPEG, oracle-gated
  *    (`x_media_decode`) against formula-generated fixtures whose
  *    pixel statistics DuckDB recomputes analytically;
  *  - audio ([[decodeAudio]]): `javax.sound.sampled` WAV/PCM, exact
  *    sample statistics (`x_audio_decode`);
  *  - video framesample ([[decodeFrameSamples]]): multi-frame GIF as
  *    the container (the one multi-frame format the JDK codecs both
  *    write and read losslessly), strided frame decode
  *    (`x_video_framesample`).
  *  All three run inside the same partition-wise `mapPartitions`
  *  batch shape — provably correct codec round-trips, not simulated.
  *  [[decodeStub]] remains only as the cheap expression-twin fixture
  *  behind the stub-frame-count gates (`x_media_features`,
  *  `x_media_frames`).
  *
  * At 100 TB: payloads stay columnar parquet binary; decode tasks are
  * embarrassingly parallel (one decoder session per PARTITION, not per
  * row); only extracted (small) features ever shuffle.
  */
object Multimodal {

  /** Typed media row: payload + metadata, as a training pipeline would
    * stage images/audio before feature extraction.
    */
  case class MediaRecord(
      doc_id: Long,
      media_type: String,
      payload: Array[Byte],
      byte_len: Long)

  /** Extracted features (decode STUB output). */
  case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      byte_len: Long,
      mean_byte: Double,
      frame_count: Int)

  /** Stage documents.text as binary payloads (stand-in for real media
    * blobs) with typed metadata.
    */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("byte_len"))
      .as[MediaRecord]
  }

  /** STUB decoder — the deterministic expression-twin fixture behind
    * the stub-frame-count gates; every production decode path is a
    * REAL codec now ([[decodeImages]], [[decodeAudio]],
    * [[decodeFrameSamples]]). Batch shape is the same: one decoder
    * "session" per partition.
    */
  def decodeStub(records: Iterator[MediaRecord]): Iterator[MediaFeatures] = {
    // per-partition decoder init would happen here (real codecs are heavy)
    records.map { r =>
      val mean =
        if (r.payload.isEmpty) 0.0
        else r.payload.map(b => (b & 0xff).toDouble).sum / r.payload.length
      val frames = r.media_type match {
        case "image" => 1
        case "audio" => (r.byte_len / 64).toInt + 1
        case _ => (r.byte_len / 256).toInt + 1
      }
      MediaFeatures(r.doc_id, r.media_type, r.byte_len,
        math.rint(mean * 10000) / 10000, frames)
    }
  }

  /** Partition-wise feature extraction through the stub decoder. */
  def extractFeatures(spark: SparkSession, sfDir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, sfDir).mapPartitions(decodeStub)
  }

  // ——— REAL image decode (javax.imageio) ———

  /** Features read off DECODED pixels — exact integers so the oracle
    * can recompute them without float-rounding ambiguity. `pix_checksum`
    * is position-weighted, so any pixel transposition or channel swap
    * in the decode path changes it.
    */
  case class DecodedImage(
      doc_id: Long,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      pix_checksum: Long)

  private val FixtureDim = 16

  /** Deterministic PNG fixture for `docId`: a 16×16 RGB image whose
    * channel values follow a closed-form formula of (doc_id, x, y) —
    * so DuckDB can compute the DECODED image's statistics analytically
    * and a hash match proves the real codec round-trip (PNG is
    * lossless RGB). JDK PNG encoding carries no timestamps — the
    * fixture bytes are bit-stable across runs.
    */
  def syntheticPng(docId: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      FixtureDim, FixtureDim, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < FixtureDim) {
      var x = 0
      while (x < FixtureDim) {
        val r = ((docId * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((docId * 17 + x * 11 + y * 3) % 256).toInt
        val b = ((docId * 23 + x * 5 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Same fixture as JPEG — LOSSY, so it has no exact oracle; the spec
    * checks dimensions exactly and channel means within tolerance.
    */
  def syntheticJpeg(docId: Long): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(syntheticPng(docId)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** REAL partition-wise image decode with genuinely amortized codec
    * setup: ONE `ImageReader` per format per PARTITION, obtained from
    * the registry once and re-`setInput` per payload (the format is
    * sniffed from the magic bytes — PNG `\x89PNG`, JPEG `\xFF\xD8` —
    * so no per-row registry probe either). `ImageIO.read` per record
    * would pay the service-registry scan + reader construction on
    * every row, exactly the per-row cost the partition batch shape
    * exists to avoid at 100 TB. Readers are disposed at task
    * completion (or, for plain-iterator callers, when the iterator
    * drains), so an early-terminating consumer can't leak them.
    */
  def decodeImages(records: Iterator[MediaRecord]): Iterator[DecodedImage] = {
    val readers = scala.collection.mutable.HashMap.empty[String, javax.imageio.ImageReader]
    def readerFor(fmt: String): javax.imageio.ImageReader =
      readers.getOrElseUpdate(fmt, {
        val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
        require(it.hasNext, s"no ImageIO reader for format $fmt")
        it.next()
      })
    def sniff(p: Array[Byte]): String =
      if (p.length >= 4 && (p(0) & 0xff) == 0x89 && p(1) == 'P' &&
        p(2) == 'N' && p(3) == 'G') "png"
      else if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) "jpeg"
      else "png" // let the reader fail loudly on truly unknown bytes
    val out = records.map { r =>
      val reader = readerFor(sniff(r.payload))
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      val img =
        try { reader.setInput(in, true, true); reader.read(0) }
        finally in.close()
      require(img != null, s"undecodable image payload for doc ${r.doc_id}")
      var (sr, sg, sb, ck) = (0L, 0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val red = (rgb >> 16) & 0xff
          val green = (rgb >> 8) & 0xff
          val blue = rgb & 0xff
          sr += red; sg += green; sb += blue
          ck += (x + img.getWidth.toLong * y + 1) * (red + 2L * green + 3L * blue)
          x += 1
        }
        y += 1
      }
      DecodedImage(r.doc_id, img.getWidth, img.getHeight, sr, sg, sb, ck)
    }
    // dispose the per-partition readers at task completion when a task
    // context exists — an early-terminating consumer (a limit) never
    // drains the iterator, and an appended thunk alone would leak the
    // readers' native resources for the executor's lifetime. Plain
    // iterator callers (unit tests) keep the drain-time thunk.
    def disposeAll(): Unit = {
      readers.valuesIterator.foreach(_.dispose()); readers.clear()
    }
    org.apache.spark.TaskContext.get() match {
      case null =>
        out ++ { disposeAll(); Iterator.empty }
      case tc =>
        tc.addTaskCompletionListener[Unit](_ => disposeAll())
        out
    }
  }

  /** Oracle-gated REAL-decode query (`x_media_decode`): generate the
    * PNG fixtures for a documents sample, decode them with the real
    * codec partition-wise, emit exact pixel statistics. The DuckDB
    * twin never sees the PNG bytes — it recomputes the statistics from
    * the generating formula, so the hash match certifies the
    * encode→decode round-trip reproduced every pixel.
    */
  def mediaDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 5 === 0)
      .as[Long]
    val decoded = ids
      .mapPartitions(_.map(id =>
        MediaRecord(id, "image", syntheticPng(id), 0L)))
      .mapPartitions(decodeImages)
    decoded.toDF()
  }

  val mediaDecodeSql: String =
    """WITH px AS (
      |  SELECT d.doc_id, x.range AS x, y.range AS y
      |  FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d,
      |       range(16) x, range(16) y),
      |rgb AS (
      |  SELECT doc_id, x, y,
      |         (doc_id*31 + x*7 + y*13) % 256 AS r,
      |         (doc_id*17 + x*11 + y*3) % 256 AS g,
      |         (doc_id*23 + x*5 + y*19) % 256 AS b
      |  FROM px)
      |SELECT doc_id,
      |       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
      |       CAST(sum(r) AS BIGINT) AS sum_r,
      |       CAST(sum(g) AS BIGINT) AS sum_g,
      |       CAST(sum(b) AS BIGINT) AS sum_b,
      |       CAST(sum((x + 16*y + 1) * (r + 2*g + 3*b)) AS BIGINT) AS pix_checksum
      |FROM rgb
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ——— REAL audio decode (javax.sound.sampled) ———

  /** Statistics read off DECODED PCM samples — exact integers, so the
    * oracle recomputes them without float ambiguity. `sample_checksum`
    * is position-weighted: a dropped frame, a swapped byte order, or a
    * sign error in the 16-bit reassembly all change it.
    */
  case class DecodedAudio(
      doc_id: Long,
      n_samples: Long,
      sample_rate: Int,
      sum_samples: Long,
      sum_abs: Long,
      sample_checksum: Long)

  private val AudioSamples = 256
  private val AudioRate = 8000

  /** Deterministic WAV fixture for `docId`: [[AudioSamples]] frames of
    * 16-bit signed little-endian mono PCM whose sample values follow a
    * closed-form formula of (doc_id, i) — DuckDB computes the DECODED
    * stream's statistics analytically, so a hash match proves the real
    * codec round-trip (WAV/PCM is lossless). The RIFF header the JDK
    * writes carries no timestamps — bytes are bit-stable across runs.
    */
  def syntheticWav(docId: Long): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      AudioRate.toFloat, 16, 1, true, false) // 16-bit signed mono LE
    val raw = new Array[Byte](AudioSamples * 2)
    var i = 0
    while (i < AudioSamples) {
      val s = (((docId * 7919 + i.toLong * 104729) % 65536) - 32768).toInt
      raw(2 * i) = (s & 0xff).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, AudioSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL partition-wise audio decode: `AudioSystem.getAudioInputStream`
    * parses the container header (format sniff — the WAV reader is
    * resolved from the registry per payload; unlike [[decodeImages]]'
    * ImageReaders there is no heavy reusable codec object to amortize,
    * the stream IS the decoder), frames are drained fully, and 16-bit
    * signed little-endian samples are reassembled exactly. Integer
    * stats only — see [[DecodedAudio]].
    */
  def decodeAudio(records: Iterator[MediaRecord]): Iterator[DecodedAudio] =
    records.map { r =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian && fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"unexpected PCM layout for doc ${r.doc_id}: $fmt")
        val bytes = ais.readAllBytes()
        require(bytes.length % 2 == 0,
          s"odd PCM byte count for doc ${r.doc_id}")
        var (i, sum, sumAbs, chk) = (0, 0L, 0L, 0L)
        while (i * 2 < bytes.length) {
          val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
          sum += s
          sumAbs += math.abs(s)
          chk += (i + 1) * s
          i += 1
        }
        DecodedAudio(r.doc_id, i.toLong, fmt.getSampleRate.toInt,
          sum, sumAbs, chk)
      } finally ais.close()
    }

  /** Oracle-gated REAL audio decode (`x_audio_decode`): WAV fixtures
    * for a documents sample, decoded with the real javax.sound codec
    * partition-wise, exact sample statistics out. The DuckDB twin
    * never sees the WAV bytes — it recomputes the statistics from the
    * generating formula, so the hash match certifies the
    * encode→decode round-trip reproduced every sample.
    */
  def audioDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 5 === 1)
      .as[Long]
    val decoded = ids
      .mapPartitions(_.map(id =>
        MediaRecord(id, "audio", syntheticWav(id), 0L)))
      .mapPartitions(decodeAudio)
    decoded.toDF()
  }

  val audioDecodeSql: String =
    s"""WITH smp AS (
      |  SELECT d.doc_id, i.range AS i,
      |         ((d.doc_id*7919 + i.range*104729) % 65536) - 32768 AS s
      |  FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 1) d,
      |       range($AudioSamples) i)
      |SELECT doc_id,
      |       CAST($AudioSamples AS BIGINT) AS n_samples,
      |       CAST($AudioRate AS INTEGER) AS sample_rate,
      |       CAST(sum(s) AS BIGINT) AS sum_samples,
      |       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |       CAST(sum((i + 1) * s) AS BIGINT) AS sample_checksum
      |FROM smp
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ——— REAL video framesample (javax.imageio multi-frame GIF) ———

  /** Statistics read off one DECODED, SAMPLED frame — the same exact
    * integer shape as [[DecodedImage]], plus the container's frame
    * count and the sampled frame's index, so the oracle pins both the
    * sampling schedule and every sampled pixel.
    */
  case class DecodedFrame(
      doc_id: Long,
      n_frames: Int,
      frame_idx: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      pix_checksum: Long)

  /** Every 2nd frame is sampled ([[decodeFrameSamples]]) — the fixed
    * stride a contrastive-video pipeline would use.
    */
  val FrameStride = 2

  /** Deterministic multi-frame (animated) GIF fixture for `docId`:
    * 4 + (doc_id % 5) frames of 16×16 INDEXED pixels whose palette
    * index follows a closed-form formula of (doc_id, x, y, frame) and
    * whose 256-entry palette is itself formulaic — indexed GIF is
    * LOSSLESS, so DuckDB recomputes the decoded frames' statistics
    * analytically and a hash match proves the real multi-frame codec
    * round-trip (the JDK GIF writer emits no timestamps; bytes are
    * bit-stable).
    */
  def syntheticGif(docId: Long): Array[Byte] = {
    val nFrames = 4 + (docId % 5).toInt
    val (r, g, b) = {
      val r = new Array[Byte](256); val g = new Array[Byte](256)
      val b = new Array[Byte](256)
      var i = 0
      while (i < 256) {
        r(i) = ((i * 37) % 256).toByte
        g(i) = ((i * 59) % 256).toByte
        b(i) = ((i * 83) % 256).toByte
        i += 1
      }
      (r, g, b)
    }
    val cm = new java.awt.image.IndexColorModel(8, 256, r, g, b)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(FixtureDim, FixtureDim,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        val raster = img.getRaster
        var y = 0
        while (y < FixtureDim) {
          var x = 0
          while (x < FixtureDim) {
            raster.setSample(x, y, 0,
              ((docId * 31 + x * 7 + y * 13 + f * 97) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** REAL partition-wise video frame sampling: ONE multi-frame GIF
    * `ImageReader` per partition (same amortization as
    * [[decodeImages]]), the container's frame count read from the
    * header chain (`getNumImages(true)`), every [[FrameStride]]-th
    * frame decoded — skipped frames are never rasterized, which is the
    * point of frame sampling at 100 TB — and exact per-frame integer
    * statistics emitted. Readers are disposed at task completion (or
    * iterator drain for plain callers).
    */
  def decodeFrameSamples(records: Iterator[MediaRecord]): Iterator[DecodedFrame] = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val out = records.flatMap { r =>
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
      reader.setInput(in, false, true)
      val n = reader.getNumImages(true)
      val frames = (0 until n by FrameStride).map { f =>
        val img = reader.read(f)
        var (sr, sg, sb, ck) = (0L, 0L, 0L, 0L)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val red = (rgb >> 16) & 0xff
            val green = (rgb >> 8) & 0xff
            val blue = rgb & 0xff
            sr += red; sg += green; sb += blue
            ck += (x + img.getWidth.toLong * y + 1) * (red + 2L * green + 3L * blue)
            x += 1
          }
          y += 1
        }
        DecodedFrame(r.doc_id, n, f, sr, sg, sb, ck)
      }
      frames
      // finally, not success-path: a malformed payload that throws in
      // getNumImages/read must not leak the stream's memory cache
      } finally in.close()
    }
    def dispose(): Unit = reader.dispose()
    org.apache.spark.TaskContext.get() match {
      case null => out ++ { dispose(); Iterator.empty }
      case tc =>
        tc.addTaskCompletionListener[Unit](_ => dispose())
        out
    }
  }

  /** Oracle-gated REAL video framesample (`x_video_framesample`):
    * multi-frame GIF fixtures for a documents sample, frame counts
    * read and every 2nd frame decoded with the real codec
    * partition-wise, exact pixel statistics per sampled frame. The
    * DuckDB twin recomputes frame counts, the sampling schedule and
    * every sampled pixel from the generating formulas — the hash match
    * certifies the container round-trip frame for frame. This retires
    * the last decode stub: image, audio and video-framesample paths
    * are all REAL codecs now.
    */
  def videoFramesample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 5 === 2)
      .as[Long]
    val decoded = ids
      .mapPartitions(_.map(id =>
        MediaRecord(id, "video", syntheticGif(id), 0L)))
      .mapPartitions(decodeFrameSamples)
    decoded.toDF()
  }

  val videoFramesampleSql: String =
    s"""WITH vids AS (
      |  SELECT doc_id, CAST(4 + doc_id % 5 AS INTEGER) AS n_frames
      |  FROM documents WHERE doc_id % 5 = 2),
      |frames AS (
      |  SELECT doc_id, n_frames, CAST(f.range AS INTEGER) AS frame_idx
      |  FROM vids, range(9) f
      |  WHERE f.range < n_frames AND f.range % $FrameStride = 0),
      |px AS (
      |  SELECT doc_id, n_frames, frame_idx, x.range AS x, y.range AS y,
      |         (doc_id*31 + x.range*7 + y.range*13 + frame_idx*97) % 256 AS idx
      |  FROM frames, range($FixtureDim) x, range($FixtureDim) y),
      |rgb AS (
      |  SELECT doc_id, n_frames, frame_idx, x, y,
      |         (idx*37) % 256 AS r, (idx*59) % 256 AS g, (idx*83) % 256 AS b
      |  FROM px)
      |SELECT doc_id, n_frames, frame_idx,
      |       CAST(sum(r) AS BIGINT) AS sum_r,
      |       CAST(sum(g) AS BIGINT) AS sum_g,
      |       CAST(sum(b) AS BIGINT) AS sum_b,
      |       CAST(sum((x + $FixtureDim*y + 1) * (r + 2*g + 3*b)) AS BIGINT) AS pix_checksum
      |FROM rgb
      |GROUP BY doc_id, n_frames, frame_idx
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Oracle-checked query: the expression-only feature path (payload
    * length, content hash, stub frame count) — everything DuckDB can
    * recompute from the same bytes.
    */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).toDF()
      .select(
        col("doc_id"), col("media_type"), col("byte_len"),
        md5(col("payload")).as("content_md5"),
        when(col("media_type") === "image", 1)
          .when(col("media_type") === "audio", (col("byte_len") / 64).cast("int") + 1)
          .otherwise((col("byte_len") / 256).cast("int") + 1).as("frame_count"))

  val mediaFeaturesSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 3 = 0 THEN 'image'
      |            WHEN doc_id % 3 = 1 THEN 'audio'
      |            ELSE 'video' END AS media_type,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |       md5(text) AS content_md5,
      |       CASE WHEN doc_id % 3 = 0 THEN 1
      |            WHEN doc_id % 3 = 1 THEN CAST(octet_length(encode(text)) // 64 AS INTEGER) + 1
      |            ELSE CAST(octet_length(encode(text)) // 256 AS INTEGER) + 1 END AS frame_count
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Frame-sampling shape: explode each media payload into its (stub)
    * frames, compute a per-frame feature (deterministic md5-derived
    * stand-in for a decoded-frame embedding), roll back up per media.
    * The explode→feature→agg pipeline is the real Spark plumbing a
    * video pipeline needs; only the pixel decode is faked. Frames are
    * capped (frame skip) so row blowup is bounded at any payload size.
    */
  def frameFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val maxFrames = 8
    val media = mediaTable(spark, sfDir).toDF()
      .withColumn("n_frames",
        when(col("media_type") === "image", 1)
          .when(col("media_type") === "audio", (col("byte_len") / 64).cast("int") + 1)
          .otherwise((col("byte_len") / 256).cast("int") + 1))
      .withColumn("sampled_frames", least(col("n_frames"), lit(maxFrames)))
    media
      .select(col("doc_id"), col("media_type"), col("n_frames"),
        explode(sequence(lit(0), col("sampled_frames") - 1)).as("frame_idx"))
      .withColumn("frame_feature",
        conv(substring(md5(concat(col("doc_id"), lit(":"), col("frame_idx")).cast("binary")),
          1, 8), 16, 10).cast("long"))
      .groupBy(col("doc_id"), col("media_type"), col("n_frames"))
      .agg(
        count(lit(1)).as("frames_sampled"),
        sum(col("frame_feature")).as("feature_sum"),
        min(col("frame_feature")).as("feature_min"))
  }

  // ——— media dedup ———

  /** Exact media dedup: payload content hash within a modality →
    * keeper + copy count, [[Dedup.exact]]'s shape lifted onto the
    * binary column (the hash key is the payload BYTES — for media
    * there is no "normalize then hash" shortcut, the bytes are the
    * identity). One hash shuffle with map-side partial agg; at 100 TB
    * the md5 streams with the scan and only (type, key) groups
    * exchange.
    */
  def mediaDedupExact(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).toDF()
      .groupBy(col("media_type"), md5(col("payload")).as("content_key"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  val mediaDedupExactSql: String =
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
      |            WHEN doc_id % 3 = 1 THEN 'audio'
      |            ELSE 'video' END AS media_type,
      |       md5(text) AS content_key,
      |       min(doc_id) AS keeper_doc_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY media_type, keeper_doc_id""".stripMargin

  /** Banding granularity and verify tolerances for
    * [[mediaDedupFeature]]: band on f1 in [[featureEps]]-wide buckets
    * (probe own + both neighbor bands, so no true pair at the
    * tolerance can straddle away), verify |Δf1| ≤ eps, |Δf2| ≤ eps/2,
    * and byte lengths within 2%.
    */
  val featureEps = 0.002

  /** Feature-space media near-dup: block on a quantized stub
    * "perceptual" feature, verify candidates exactly — the media twin
    * of the banded embedding LSH ([[Similarity]]), demonstrating the
    * decode→feature→band→verify pipeline on the staged binary column.
    * The features play the role of a perceptual hash (decoded-content
    * statistics, NOT byte identity): f1 = separator density, f2 =
    * digit density over the decoded payload, both cheap codegen'd
    * expressions standing in for the real (stubbed, [[decodeStub]])
    * image/audio feature extractor.
    *
    * Scale shape: per-row features, probe-side explode of 3×3 band
    * combinations, hash shuffle on (media_type, f1 band, LENGTH
    * bucket), in-band pair join + exact verify. The length bucket
    * (log-scale, base 1/0.98 — one bucket per 2% length step, the
    * verify tolerance, with ±1 probing so no true pair can straddle
    * away) is what keeps buckets bounded at scale: a 1-D scalar band
    * concentrates mass on a large corpus (the sf1 scaling point
    * measured 92 s on 10× data before the second key; candidates were
    * quadratic inside the fat f1 bands), while (f1, length) blocks
    * shrink with corpus diversity.
    *
    * Probing is SINGLE-SIDED and FORWARD-oriented on purpose (r17;
    * results identical, r16 measured 19.1 s → this shape at the
    * synthetic sf1): the probe side explodes only the forward half of
    * the (band±1, lenb±1) delta grid against the build side's TRUE
    * (band, lenb), so every unordered pair is enumerated exactly ONCE
    * (see [[mediaDedupPairs]]) — no distinct pass is needed at all.
    * The previous shape joined two band-exploded copies
    * (probe-vs-probe), which (a) matched equal-band pairs in 3 bands
    * (2.5× duplicate hits that a full extra shuffle then collapsed)
    * and (b) widened the candidate net to |Δband| ≤ 2 — rows that
    * |Δf1| ≤ eps always rejects, since eps-wide bands put a true pair
    * at most one band apart. Same argument for the length bucket: the
    * 2% length verify bounds a true pair to adjacent buckets.
    *
    * Pair output is inherently data-driven (a corpus with fat feature
    * cells has quadratically many TRUE pairs — sf0.1→sf1 measures
    * ~100× result growth on 10× data); this operator is the
    * calibration/diagnostic view. The production grouping consumes
    * the same pairs as CC edges and emits O(n) keepers —
    * [[mediaDedupGroups]]; for rich features the production blocking
    * is the multi-band embedding LSH
    * ([[Similarity.dedupByEmbeddingLsh]]).
    */
  def mediaDedupFeature(spark: SparkSession, sfDir: String): DataFrame =
    mediaDedupPairs(spark, sfDir)

  /** The banded+verified pair core of [[mediaDedupFeature]], before
    * presentation: one row per qualifying unordered pair, no distinct
    * required (single-sided probe — see the caller's doc).
    */
  def mediaDedupPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // localCheckpoint, not persist: both join sides derive from this one
    // 50k-per-sf0.1-doc relation (unmaterialized, the decode+feature
    // scan runs twice), and the blocks are ContextCleaner-dropped when
    // the returned plan becomes unreachable — a persist() here would be
    // a caller-visible leak since the consumer is lazy (the same
    // trade-off documented at Dedup.simhashPairs)
    val keyed = mediaFeatureClasses(spark, sfDir).localCheckpoint()
    // (an f2 band as a third key was MEASURED and rejected: f2 has too
    // little diversity on this corpus to cut candidates, and the extra
    // probe explode tripled the shuffled rows — 16.5 s → 26.4 s at the
    // synthetic sf1)
    //
    bandedVerifiedPairs(keyed, "doc_id")
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
  }

  /** Banded forward-delta candidate join + exact verify over a keyed
    * relation (doc- or class-grain; must carry media_type, byte_len,
    * f1, f2, band, lenb and `idCol`): every unordered pair within the
    * band/bucket net has a unique key-delta direction, so probing only
    * the lexicographically-forward half of the 3×3 delta grid
    * enumerates each cross-key pair exactly once (in exactly one
    * orientation) — half the matches the full ±1×±1 grid would
    * enumerate. Same-key pairs (delta (0,0)) match in both
    * orientations; the is_center id tie-break keeps one. The output
    * row (media_type, id_a, id_b, d_f1) is orientation-symmetric by
    * construction (least/greatest ids, |Δf1|), so the emitted SET is
    * identical to the symmetric formulation's — shared by
    * [[mediaDedupPairs]] (doc grain) and [[mediaDedupGroups]] (class
    * grain), mirroring the shared [[mediaPairsCteSql]] oracle side.
    */
  private def bandedVerifiedPairs(keyed: DataFrame, idCol: String): DataFrame = {
    val deltas = Seq((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
    val probe = keyed.select(col("media_type"),
      col(idCol).as("id_a"), col("byte_len").as("len_a"),
      col("f1").as("f1a"), col("f2").as("f2a"),
      explode(array(deltas.map { case (d, e) =>
        struct((col("band") + d).as("band"), (col("lenb") + e).as("lenb"),
          lit(d == 0 && e == 0).as("is_center"))
      }: _*)).as("pr"))
      .select(col("media_type"), col("id_a"), col("len_a"), col("f1a"),
        col("f2a"), col("pr.band").as("band"), col("pr.lenb").as("lenb"),
        col("pr.is_center").as("is_center"))
    val build = keyed.select(col("media_type"), col("band"), col("lenb"),
      col(idCol).as("id_b"), col("byte_len").as("len_b"),
      col("f1").as("f1b"), col("f2").as("f2b"))
    probe.join(build, Seq("media_type", "band", "lenb"))
      .filter(!col("is_center") || col("id_a") < col("id_b"))
      .filter(abs(col("f1a") - col("f1b")) <= featureEps)
      .filter(abs(col("f2a") - col("f2b")) <= featureEps / 2)
      .filter(least(col("len_a"), col("len_b")).cast("double")
        / greatest(col("len_a"), col("len_b")) >= 0.98)
      .select(col("media_type"),
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(abs(col("f1a") - col("f1b")), 4).as("d_f1"))
  }

  /** Shared CTE prefix for the [[mediaDedupFeature]] /
    * [[mediaDedupGroups]] oracles: same rounded features, same
    * single-sided 3×3 probe (probe-vs-TRUE-key — exactly one hit per
    * qualifying orientation, so no DISTINCT), same verify.
    */
  private val mediaPairsCteSql: String =
    s"""m AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type,
      |         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |         round((length(text) - length(replace(text, ' ', '')))::DOUBLE
      |               / octet_length(encode(text)), 4) AS f1,
      |         round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
      |               / octet_length(encode(text)), 4) AS f2
      |  FROM documents),
      |keyed AS (
      |  SELECT doc_id, media_type, byte_len, f1, f2,
      |         CAST(floor(ln(byte_len::DOUBLE) / ln(1.0 / 0.98)) AS BIGINT) AS lenb,
      |         CAST(floor(f1 / $featureEps) AS BIGINT) AS band
      |  FROM m),
      |mpairs AS (
      |  SELECT a.media_type AS media_type, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         round(abs(a.f1 - b.f1), 4) AS d_f1
      |  FROM (SELECT k.*, k.band + d AS bandp, k.lenb + e AS lenbp
      |        FROM keyed k, (SELECT unnest([-1, 0, 1]) AS d),
      |                      (SELECT unnest([-1, 0, 1]) AS e)) a
      |  JOIN keyed b
      |    ON a.media_type = b.media_type AND a.bandp = b.band
      |   AND a.lenbp = b.lenb AND a.doc_id < b.doc_id
      |  WHERE abs(a.f1 - b.f1) <= $featureEps
      |    AND abs(a.f2 - b.f2) <= ${featureEps / 2}
      |    AND least(a.byte_len, b.byte_len)::DOUBLE / greatest(a.byte_len, b.byte_len) >= 0.98)""".stripMargin

  /** DuckDB twin of [[mediaDedupFeature]]. */
  val mediaDedupFeatureSql: String =
    "WITH " + mediaPairsCteSql + """
      |SELECT media_type, doc_a, doc_b, d_f1 FROM mpairs
      |ORDER BY media_type, doc_a, doc_b""".stripMargin

  /** The PRODUCTION media-dedup surface: feature near-dup GROUPS, not
    * pairs — every media document in a near-dup chain mapped to its
    * cluster keeper (smallest doc_id reachable through verified pairs)
    * with the component size alongside; `doc_id != keeper_id` is the
    * delete list. This is the shape that survives 100×: the pair view
    * ([[mediaDedupFeature]]) has inherently data-quadratic OUTPUT on a
    * feature-concentrated corpus (~100× rows on 10× data measured
    * sf0.1→sf1), while groups are O(corpus). The quadratic pair set
    * still exists here as the CC edge INTERMEDIATE — but it is
    * consumed by [[Clusters.connectedComponents]]'s large-star/
    * small-star rounds (hash-shuffled on node id, never globally
    * sorted, never materialized to the user), and each round SHRINKS
    * the edge list toward the star fixpoint, so the quadratic term
    * never passes through a single-task presentation sort the way an
    * all-pairs result must.
    */
  def mediaDedupGroups(spark0: SparkSession, sfDir: String): DataFrame = {
    // everything past the feature scan is class-scale (thousands of
    // rows), and CC iterates several shuffle rounds
    val spark = graft.GraftSession.cloned(spark0, graft.GraftSession.NarrowShuffle)
    mediaDedupAssignments(spark, sfDir)
      .withColumn("cluster_size", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("keeper_id"))))
  }

  /** Unsorted `(doc_id, keeper_id)` media near-dup assignment — the
    * class-contracted CC of [[mediaDedupGroups]] without the
    * presentation sort or cluster sizes, built on the CALLER's
    * session. This is the surface the corpus-level dedup accounting
    * joins downstream ([[Clusters.dedupRatesCombined]] charges media
    * drops to their source next to the text drops), so the media
    * dedup path is consumed by the shrinkage reports, not only gated.
    */
  def mediaDedupAssignments(spark: SparkSession, sfDir: String): DataFrame = {
    // FEATURE-CLASS CONTRACTION — the reason this operator's CC input
    // grows SUB-linearly while the pair view's output grows
    // quadratically: the verify predicate depends only on (media_type,
    // byte_len, f1, f2), so docs with identical feature tuples are
    // pairwise near-dups (a clique) and can be contracted to one class
    // node before blocking. Class count saturates with corpus growth
    // (the quantized feature space is bounded — measured 3,790 classes
    // at sf0.1 → 7,494 at the synthetic sf1 for 10× the docs), so the
    // class-level banded join and the CC both run on a near-constant
    // node set; the 100× doc-pair blowup never materializes anywhere.
    // localCheckpoint (not persist): feats feeds the class contraction
    // AND the doc→rep expansion join; classes feeds the banded join AND
    // the expansion. Both are consumed lazily through the returned
    // frame, so persist() would leak block-manager entries in a
    // long-lived session — checkpoint blocks are dropped by the
    // ContextCleaner once the plan is unreachable
    val feats = mediaFeatureClasses(spark, sfDir).localCheckpoint()
    val classes = feats.groupBy(col("media_type"), col("byte_len"),
      col("f1"), col("f2"), col("band"), col("lenb"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      .localCheckpoint()
    // class-level banded candidates + verify (same predicate and
    // forward-delta net as the doc-grain pairs — one shared helper;
    // orientation is irrelevant for CC edges)
    val edges = bandedVerifiedPairs(classes.withColumnRenamed("rep", "rep_id"), "rep_id")
      .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"))
    val cc = Clusters.connectedComponents(edges)
    // expand: docs follow their class rep's component; classes with ≥2
    // members participate even without cross-class edges (the internal
    // clique), singleton classes with no edges stay out — exactly the
    // doc-level CC's "only ids that appear in an edge" contract
    val docRep = feats.join(
      classes.select(col("media_type"), col("byte_len"), col("f1"),
        col("f2"), col("rep"), col("n")),
      Seq("media_type", "byte_len", "f1", "f2"))
      .select(col("doc_id"), col("rep"), col("n"))
    docRep.join(cc, docRep("rep") === cc("id"), "left")
      .filter(col("component").isNotNull || col("n") >= 2)
      .select(col("doc_id"),
        coalesce(col("component"), col("rep")).as("keeper_id"))
  }

  /** The per-doc feature/key relation shared by [[mediaDedupPairs]]
    * and [[mediaDedupGroups]].
    */
  private def mediaFeatureClasses(spark: SparkSession, sfDir: String): DataFrame = {
    val media = mediaTable(spark, sfDir).toDF()
      .withColumn("txt", decode(col("payload"), "UTF-8"))
      .withColumn("f1", round(
        (length(col("txt")) - length(regexp_replace(col("txt"), " ", "")))
          .cast("double") / col("byte_len"), 4))
      .withColumn("f2", round(
        (length(col("txt")) - length(regexp_replace(col("txt"), "[0-9]", "")))
          .cast("double") / col("byte_len"), 4))
      .select(col("doc_id"), col("media_type"), col("byte_len"), col("f1"), col("f2"))
    val lenb = floor(log(col("byte_len").cast("double"))
      / lit(math.log(1.0 / 0.98))).cast("long")
    media.select(col("doc_id"), col("media_type"),
      col("byte_len"), col("f1"), col("f2"), lenb.as("lenb"),
      floor(col("f1") / featureEps).cast("long").as("band"))
  }

  /** Media pairs → components, as a WITH-chain fragment (no leading
    * WITH): `mcomp(doc_id, keeper_id)` via recursive min-label
    * propagation over the verified pairs. CTE names are m-prefixed so
    * the fragment composes with the TEXT dedup chain in one statement
    * (the combined shrinkage report's oracle —
    * [[Clusters.dedupRatesCombinedSql]]).
    */
  private[ext] val mediaCompCteSql: String =
    mediaPairsCteSql + """,
      |medges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM mpairs
      |  UNION
      |  SELECT doc_b AS a, doc_a AS b FROM mpairs),
      |mnodes AS (SELECT DISTINCT a AS doc FROM medges),
      |mreach(doc, lab) AS (
      |  SELECT doc, doc FROM mnodes
      |  UNION
      |  SELECT e.b, r.lab FROM mreach r JOIN medges e ON e.a = r.doc),
      |mcomp AS (SELECT doc AS doc_id, min(lab) AS keeper_id FROM mreach GROUP BY doc)""".stripMargin

  /** DuckDB twin of [[mediaDedupGroups]]: the same verified pairs as
    * symmetric edges + a recursive min-label propagation.
    */
  val mediaDedupGroupsSql: String =
    "WITH RECURSIVE " + mediaCompCteSql + """
      |SELECT doc_id, keeper_id,
      |       count(*) OVER (PARTITION BY keeper_id) AS cluster_size
      |FROM mcomp
      |ORDER BY doc_id""".stripMargin

  /** Target long edge (pixels) for [[mediaResize]] — the ViT-era
    * standard input size.
    */
  val resizeTarget = 224

  /** Resize planning for visual media — the third mandated media op
    * (decode / feature-extract / RESIZE / frame-sample): decode the
    * source dimensions (STUB: deterministic fake dims from the payload
    * bytes, standing in for the codec's header read), then compute the
    * aspect-preserving downscale to a [[resizeTarget]] long edge in
    * EXACT integer arithmetic (`w*224 DIV max(w,h)` — engine-portable,
    * no float rounding). No upscale: media already inside the target
    * keeps its dimensions. Audio is out of scope for a 2-D resize.
    *
    * Scale shape: pure per-row math on the scan — the real pixel
    * resample this plans for is executed inside the partition-wise
    * decoder ([[decodeStub]]'s slot), where the resize plan's
    * (out_w, out_h) become the codec's target buffer.
    */
  def mediaResize(spark: SparkSession, sfDir: String): DataFrame = {
    val media = mediaTable(spark, sfDir).toDF()
      .filter(col("media_type") =!= "audio")
      // stub header decode: width from the byte length, height from
      // the content hash — deterministic, DuckDB-replayable
      .withColumn("src_w", lit(64) + col("byte_len") % 448)
      .withColumn("src_h", lit(64) +
        conv(substring(md5(col("payload")), 1, 8), 16, 10).cast("long") % 448)
      .withColumn("long_edge", greatest(col("src_w"), col("src_h")))
    media.select(
      col("doc_id"), col("media_type"), col("src_w"), col("src_h"),
      when(col("long_edge") <= resizeTarget, col("src_w"))
        .otherwise(expr(s"src_w * $resizeTarget DIV long_edge")).as("out_w"),
      when(col("long_edge") <= resizeTarget, col("src_h"))
        .otherwise(expr(s"src_h * $resizeTarget DIV long_edge")).as("out_h"),
      (col("long_edge") > resizeTarget).as("resized"))
  }

  /** DuckDB twin of [[mediaResize]]: same stub dims, same integer
    * division.
    */
  val mediaResizeSql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'video' END AS media_type,
       |         64 + CAST(octet_length(encode(text)) AS BIGINT) % 448 AS src_w,
       |         64 + ('0x' || substr(md5(text), 1, 8))::BIGINT % 448 AS src_h
       |  FROM documents
       |  WHERE doc_id % 3 != 1),
       |g AS (SELECT *, greatest(src_w, src_h) AS long_edge FROM m)
       |SELECT doc_id, media_type, src_w, src_h,
       |       CASE WHEN long_edge <= $resizeTarget THEN src_w
       |            ELSE src_w * $resizeTarget // long_edge END AS out_w,
       |       CASE WHEN long_edge <= $resizeTarget THEN src_h
       |            ELSE src_h * $resizeTarget // long_edge END AS out_h,
       |       long_edge > $resizeTarget AS resized
       |FROM g
       |ORDER BY doc_id""".stripMargin

  /** Stub media-embedding dimensionality and keep threshold for
    * [[mediaTextAlign]]. Random-vector alignment scores distribute
    * ~N(0, 1/√dims); 0.1 keeps roughly the upper third — the shape of
    * a CLIP-score cut, not a tuned constant.
    */
  val alignDims = 16
  val alignThreshold = 0.1

  /** Image/audio/video ↔ text alignment scoring — the CLIP-filter
    * shape of multimodal corpus curation (LAION-style): join each
    * media payload's embedding against its caption text's embedding
    * (the `embeddings` table, keyed by doc id) and keep pairs whose
    * cosine clears [[alignThreshold]]. The media embedding is the
    * decode STUB's output (deterministic md5-derived vector from the
    * payload content — the slot a real image tower fills); the join,
    * the vector math, and the keep/drop gate are the real pipeline.
    *
    * Scale shape: per-row stub vector + ONE hash join on the id (the
    * embedding side broadcast when small), zip_with/aggregate dot
    * products inside codegen — no shuffle beyond the join.
    */
  def mediaTextAlign(spark: SparkSession, sfDir: String): DataFrame = {
    val media = mediaTable(spark, sfDir).toDF()
      .withColumn("content_md5", md5(col("payload")))
      .select(col("doc_id"), col("media_type"),
        transform(sequence(lit(0), lit(alignDims - 1)), i =>
          (conv(substring(md5(concat(col("content_md5"), lit(":"),
            i.cast("string")).cast("binary")), 1, 8), 16, 10).cast("long")
            % 2001 - 1000).cast("double") / 1000.0).as("mv"))
    val text = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        slice(col("embedding"), 1, alignDims).cast("array<double>").as("tv"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    media.join(text, "doc_id")
      .withColumn("align_score",
        round(dot(col("mv"), col("tv")) /
          (sqrt(dot(col("mv"), col("mv"))) * sqrt(dot(col("tv"), col("tv")))), 4))
      .select(col("doc_id"), col("media_type"), col("align_score"),
        (col("align_score") >= alignThreshold).as("kept"))
  }

  /** DuckDB twin of [[mediaTextAlign]]: same stub vector arithmetic,
    * same truncated-text-embedding cosine, same threshold.
    */
  val mediaTextAlignSql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image'
       |              WHEN doc_id % 3 = 1 THEN 'audio'
       |              ELSE 'video' END AS media_type,
       |         list_transform(range($alignDims), i ->
       |           ((('0x' || substr(md5(md5(text) || ':' || i), 1, 8))::BIGINT
       |             % 2001) - 1000) / 1000.0) AS mv
       |  FROM documents),
       |e AS (SELECT vec_id AS doc_id,
       |             list_transform(embedding[1:$alignDims], v -> CAST(v AS DOUBLE)) AS tv
       |      FROM embeddings),
       |j AS (SELECT m.doc_id, m.media_type,
       |             list_sum(list_transform(range($alignDims),
       |               i -> mv[i + 1] * tv[i + 1])) /
       |             (sqrt(list_sum(list_transform(mv, x -> x * x))) *
       |              sqrt(list_sum(list_transform(tv, x -> x * x)))) AS s
       |      FROM m JOIN e ON m.doc_id = e.doc_id)
       |SELECT doc_id, media_type, round(s, 4) AS align_score,
       |       round(s, 4) >= $alignThreshold AS kept
       |FROM j
       |ORDER BY doc_id""".stripMargin

  val frameFeaturesSql: String =
    """WITH media AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type,
      |         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
      |  FROM documents),
      |framed AS (
      |  SELECT doc_id, media_type,
      |         CASE WHEN media_type = 'image' THEN 1
      |              WHEN media_type = 'audio' THEN CAST(byte_len // 64 AS INTEGER) + 1
      |              ELSE CAST(byte_len // 256 AS INTEGER) + 1 END AS n_frames
      |  FROM media),
      |frames AS (
      |  SELECT doc_id, media_type, n_frames, unnest(range(least(n_frames, 8))) AS frame_idx
      |  FROM framed)
      |SELECT doc_id, media_type, n_frames,
      |       count(*) AS frames_sampled,
      |       CAST(sum(('0x' || substr(md5(doc_id || ':' || frame_idx), 1, 8))::BIGINT) AS BIGINT)
      |         AS feature_sum,
      |       min(('0x' || substr(md5(doc_id || ':' || frame_idx), 1, 8))::BIGINT)
      |         AS feature_min
      |FROM frames
      |GROUP BY 1, 2, 3
      |ORDER BY doc_id""".stripMargin
}
