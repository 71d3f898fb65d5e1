package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata carried alongside an opaque media blob. */
case class MediaMeta(format: String, width: Int, height: Int)

/** One media row: opaque bytes + typed metadata. */
case class MediaBlob(id: Long, data: Array[Byte], meta: MediaMeta)

/** Deterministic features extracted from one blob. For decoded images
  * (`format` png/jpeg) width/height are the REAL pixel dimensions and
  * `head_histogram` is a 16-bucket luminance histogram over every
  * pixel; for everything else dimensions are 0 and the histogram is
  * over the first 256 raw bytes ([[Multimodal.decodeStub]]) — with
  * `format` carrying the sniffed container label ("wav"/"aiff"/"au"
  * for audio, whose real decode is [[Multimodal.audioMeta]]; "bin"
  * for unrecognized bytes). */
case class MediaFeatures(id: Long, n_bytes: Long, format: String,
                         width: Int, height: Int, checksum: Long,
                         head_histogram: Array[Int])

/** One sampled frame of a blob (video frame-sample shape). */
case class MediaFrame(id: Long, frame_idx: Long, frame: Array[Byte])

/** Real audio-container metadata parsed from one blob's header. */
case class AudioMeta(id: Long, channels: Int, sample_rate_hz: Int,
                     frames: Long, duration_ms: Double)

/** Multimodal (image/audio/video) column plumbing: blobs are opaque
  * `binary` columns with a typed metadata struct; decode /
  * feature-extract runs batch-wise over partitions.
  *
  * IMAGE decode is REAL: [[decode]] sniffs the magic bytes and routes
  * PNG/JPEG blobs through the JDK's `javax.imageio` (no external
  * codec deps), extracting actual pixel dimensions, a 16-bucket
  * luminance histogram over every pixel, and a pixel-stream checksum.
  * AUDIO decode is REAL too: [[audioMeta]] parses WAV/AIFF/AU headers
  * with `javax.sound.sampled` (channels, sample rate, frames,
  * duration). Non-media bytes — and media the platform stack rejects
  * — fall back to [[decodeStub]], the deterministic byte-level
  * stand-in, so a mixed corpus never errors mid-partition; stub rows
  * still carry the SNIFFED format label (a wav blob produces format
  * "wav" with byte-level features from [[decode]] — its pixel-shaped
  * fields don't apply). VIDEO codecs are not in the JDK; those
  * formats take the stub path, with the same bytes-in/features-out
  * contract a real codec would slot into. The plumbing is scale-true
  * throughout: the schema, the binaryFile source, the mapPartitions
  * batch boundary (one fused narrow stage, no shuffle, no driver
  * involvement), and the typed Dataset output.
  */
object Multimodal {

  /** Read raw files as blobs via Spark's binaryFile source. */
  def readBinaryFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("length"), col("content"))

  /** Wrap a text table as a blob table (deterministic stand-in for a
    * media corpus: bytes = UTF-8 of the text, metadata faked from the
    * content). Demonstrates the binary + struct schema end-to-end. */
  def asBlobTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("binary").as("data"),
      struct(lit("txt").as("format"),
             (length(col(textCol)) % 1024).cast("int").as("width"),
             lit(1).as("height")).as("meta"))

  /** Byte-level fallback features for NON-media blobs (and bytes a
    * codec rejects): checksum over the raw stream, 16-bucket histogram
    * of the first 256 bytes, no dimensions. Same contract as the real
    * decoder — Array[Byte] => features — so the dispatch in [[decode]]
    * is the only place that tells them apart. */
  def decodeStub(id: Long, data: Array[Byte]): MediaFeatures = {
    var checksum = 0L
    val hist = new Array[Int](16)
    var i = 0
    while (i < data.length) {
      checksum = checksum * 31 + (data(i) & 0xff)
      if (i < 256) hist((data(i) & 0xff) % 16) += 1
      i += 1
    }
    MediaFeatures(id, data.length.toLong, "bin", 0, 0, checksum, hist)
  }

  /** Magic-byte sniff: "png" / "jpeg" / "wav" / "aiff" / "au" /
    * "bin". Container formats are identified by their signature
    * bytes, never by path extension — at corpus scale extensions
    * lie. The three audio magics cover every format the JDK
    * AudioSystem ships a reader for. */
  def sniffFormat(data: Array[Byte]): String =
    if (data.length >= 8 && (data(0) & 0xff) == 0x89 && data(1) == 'P' &&
        data(2) == 'N' && data(3) == 'G') "png"
    else if (data.length >= 3 && (data(0) & 0xff) == 0xff &&
        (data(1) & 0xff) == 0xd8 && (data(2) & 0xff) == 0xff) "jpeg"
    else if (data.length >= 6 && data(0) == 'G' && data(1) == 'I' &&
        data(2) == 'F' && data(3) == '8' &&
        (data(4) == '7' || data(4) == '9') && data(5) == 'a') "gif"
    else if (data.length >= 12 && data(0) == 'R' && data(1) == 'I' &&
        data(2) == 'F' && data(3) == 'F' && data(8) == 'W' &&
        data(9) == 'A' && data(10) == 'V' && data(11) == 'E') "wav"
    else if (data.length >= 12 && data(0) == 'R' && data(1) == 'I' &&
        data(2) == 'F' && data(3) == 'F' && data(8) == 'A' &&
        data(9) == 'V' && data(10) == 'I' && data(11) == ' ') "avi"
    else if (data.length >= 12 && data(0) == 'F' && data(1) == 'O' &&
        data(2) == 'R' && data(3) == 'M' && data(8) == 'A' &&
        data(9) == 'I' && data(10) == 'F') "aiff" // AIFF or AIFC
    else if (data.length >= 4 && data(0) == '.' && data(1) == 's' &&
        data(2) == 'n' && data(3) == 'd') "au"
    else "bin"

  /** The formats [[audioMeta]] attempts — exactly the JDK
    * AudioSystem's built-in readers. */
  private val AudioFormats = Set("wav", "aiff", "au")

  /** Null-safe bytes: a null media column is an empty blob, never a
    * task failure — one null doc in a 100 TB corpus must not kill its
    * stage. Empty bytes route to the stub/skip paths naturally (sniff
    * "bin", zero frames, empty features). */
  @inline private def safeBytes(d: Array[Byte]): Array[Byte] =
    if (d == null) Array.emptyByteArray else d

  /** Decode `data` into a BufferedImage with the decompression-bomb
    * guard: dimensions come from the HEADER before any pixel
    * allocation, so a few-KB file declaring 50k×50k pixels is refused
    * at `maxPixels` instead of OOMing the executor. None when no
    * reader claims the bytes, the dims are over cap, or the codec
    * throws (the JDK codecs raise CMMException / AIOOBE /
    * IllegalArgumentException on fuzzed input, not just IOException).
    *
    * The input stream is an explicit MemoryCacheImageInputStream: the
    * bytes are already in memory, and constructing it directly avoids
    * consulting — or being tempted to mutate — `ImageIO.setUseCache`,
    * a process-global JVM flag that executor tasks must not touch. */
  private[graft] def readImage(data: Array[Byte],
                               maxPixels: Long): Option[java.awt.image.BufferedImage] =
    withReader(data) { reader =>
      val w = reader.getWidth(0)
      val h = reader.getHeight(0)
      if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) None
      else Some(reader.read(0))
    }

  /** The ONE hardened ImageIO access path — in-memory stream
    * construction, reader lookup, guaranteed dispose, and NonFatal
    * containment live here once, shared by [[readImage]] and the
    * multi-frame sampler (two hand-rolled copies would inevitably
    * drift on the next fuzz-hardening fix). `seekForwardOnly=false`
    * because frame sampling reads non-consecutive indices and
    * `getNumImages(allowSearch=true)` requires it. None when no
    * reader claims the bytes or the codec throws (the JDK codecs
    * raise CMMException / AIOOBE / IllegalArgumentException on fuzzed
    * input, not just IOException). */
  private def withReader[T](data: Array[Byte], ignoreMetadata: Boolean = true)
      (f: javax.imageio.ImageReader => Option[T]): Option[T] =
    try {
      val stream = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(data))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(stream)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(stream, false, ignoreMetadata)
            f(reader)
          } finally reader.dispose()
        }
      } finally stream.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** PNG-encode via an explicit writer over a
    * MemoryCacheImageOutputStream — same reasoning as [[readImage]]:
    * `ImageIO.write`'s implicit stream factory consults the global
    * useCache flag; the explicit in-memory stream sidesteps it. */
  private[graft] def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("png")
    require(writers.hasNext, "JDK PNG writer missing")
    val writer = writers.next()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.write(img)
    } finally { writer.dispose(); out.close() }
    bos.toByteArray
  }

  /** REAL image decode via the JDK's ImageIO (PNG/JPEG — public,
    * dependency-free codecs): actual pixel width/height, a 16-bucket
    * histogram of 8-bit luminance (ITU-R BT.601 integer weights,
    * bucket = lum >> 4), and a checksum folded over the luminance
    * stream in row-major order. Pixels are fetched with one bulk
    * `getRGB` per row — not per pixel — so the ColorModel conversion
    * is amortized; a fancier path would read the Raster directly, but
    * per-row bulk is within 2× of it and handles every color model.
    *
    * Hardened for hostile corpora via [[readImage]]: header-dims bomb
    * guard (`maxPixels`, default 2^26 ≈ 67 Mpx, a ~256 MB ARGB
    * buffer) and NonFatal containment, so the caller falls back to
    * [[decodeStub]] and a single bad blob can never fail the task. */
  def decodeImage(id: Long, data: Array[Byte], format: String,
                  maxPixels: Long = 1L << 26): Option[MediaFeatures] =
    try {
      readImage(data, maxPixels).map { im =>
        val w = im.getWidth
        val h = im.getHeight
        val hist = new Array[Int](16)
        var checksum = 0L
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          im.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            checksum = checksum * 31 + lum
            hist(lum >> 4) += 1
            x += 1
          }
          y += 1
        }
        MediaFeatures(id, data.length.toLong, format, w, h, checksum, hist)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The per-blob decode dispatch: sniff, decode media formats for
    * real, fall back to byte-level features for everything else.
    * Audio blobs (wav/aiff/au) keep the sniffed format label but take
    * the byte-level feature path — their REAL decode surface is
    * [[audioMeta]], whose output (channels / rate / frames /
    * duration) has audio semantics that don't fit the pixel-shaped
    * [[MediaFeatures]]. */
  def decode(id: Long, data0: Array[Byte]): MediaFeatures = {
    val data = safeBytes(data0)
    sniffFormat(data) match {
      case f @ ("png" | "jpeg" | "gif") =>
        decodeImage(id, data, f).getOrElse(decodeStub(id, data))
      case f if AudioFormats(f) => decodeStub(id, data).copy(format = f)
      // video container: byte-level features, sniffed label kept —
      // its real decode surface is [[frameSample]]'s MJPEG path
      case "avi" => decodeStub(id, data).copy(format = "avi")
      case _ => decodeStub(id, data)
    }
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV /
    * AIFF / AU — public, dependency-free): channels, sample rate,
    * frame count and duration parsed from the actual container header
    * by the platform AudioSystem, not by trusting our own arithmetic.
    * Returns None for bytes the audio stack rejects (caller decides
    * whether to drop or route to byte-level features); any non-fatal
    * parser throw is contained the same way as [[decodeImage]]'s. */
  def decodeAudioMeta(id: Long, data: Array[Byte]): Option[AudioMeta] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(data))
      try {
        val f = ais.getFormat
        val frames = ais.getFrameLength
        val durMs =
          if (f.getFrameRate > 0 && frames >= 0)
            frames * 1000.0 / f.getFrameRate
          else -1.0
        Some(AudioMeta(id, f.getChannels, f.getSampleRate.toInt, frames, durMs))
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Audio metadata table over blob partitions: one row per blob the
    * audio stack can parse (wav/aiff/au by magic bytes; non-audio
    * rows are skipped — this is the audio-modality projection of a
    * mixed corpus, not a per-row feature map). Blobs that SNIFF as
    * audio but fail the real parse are dropped AND counted in the
    * named accumulator `graft.audioMeta.undecodable` — a drop is
    * never silent (upper bound under task retries; report, don't
    * gate). Same narrow mapPartitions boundary as
    * [[extractFeatures]]: no shuffle, codec init amortized per task. */
  def audioMeta(blobs: DataFrame): Dataset[AudioMeta] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    val undecodable =
      spark.sparkContext.longAccumulator("graft.audioMeta.undecodable")
    blobs.select(col("id"), col("data")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, data0) =>
        val data = safeBytes(data0) // null row = empty blob, skipped below
        if (AudioFormats(sniffFormat(data))) {
          val m = decodeAudioMeta(id, data)
          if (m.isEmpty) undecodable.add(1L)
          m
        } else None
      })
  }

  /** Wrap a text table as REAL WAV blobs (PCM 16-bit mono @ 8 kHz:
    * the text's UTF-8 bytes, truncated to an even length, become the
    * sample payload inside a correct RIFF container). Deterministic
    * stand-in for an audio corpus — like [[asBlobTable]], but the
    * container is genuine: [[audioMeta]] parses it with the platform
    * decoder, and the frame count is pure arithmetic on the text
    * length (len/2), so the end-to-end decode is DuckDB-checkable. */
  def asWavBlobTable(df: DataFrame, idCol: String, textCol: String,
                     sampleRateHz: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // null text = empty payload (a zero-frame but VALID container),
        // never an NPE mid-task
        val pcm = (if (text == null) "" else text).getBytes("UTF-8")
        (id, wavBytes(pcm, sampleRateHz))
      })
      .toDF("id", "data")
  }

  /** A correct minimal RIFF/WAVE container (PCM s16le mono) around
    * `pcm` (truncated to an even byte count — 2 bytes per frame). */
  private[graft] def wavBytes(pcm: Array[Byte], sampleRateHz: Int): Array[Byte] = {
    val dataLen = pcm.length & ~1
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                     // PCM
      .putShort(1)                     // mono
      .putInt(sampleRateHz)
      .putInt(sampleRateHz * 2)        // byte rate = rate × blockAlign
      .putShort(2)                     // blockAlign = channels × 16/8
      .putShort(16)                    // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
      .put(pcm, 0, dataLen)
    out.array()
  }

  /** Wrap a text table as REAL PNG blobs: the text's UTF-8 bytes
    * become grayscale pixels, row-major in a `width`-pixel-wide image
    * (last row zero-padded; null/empty text yields a 1-row black
    * image). Deterministic stand-in for an image corpus with GENUINE
    * containers — [[decode]] and [[resizeImage]] take their real
    * codec paths on it, so resize-then-redecode is checkable
    * end-to-end (q_multimodal_resize_real). Same narrow mapPartitions
    * boundary as [[asWavBlobTable]]. */
  def asPngBlobTable(df: DataFrame, idCol: String, textCol: String,
                     width: Int = 8): DataFrame = {
    require(width >= 1, "asPngBlobTable needs a positive width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = (if (text == null) "" else text).getBytes("UTF-8")
        val h = math.max(1, (bytes.length + width - 1) / width)
        val img = new java.awt.image.BufferedImage(
          width, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val n = width * h
        var i = 0
        while (i < n) {
          val v = if (i < bytes.length) bytes(i) & 0xff else 0
          img.setRGB(i % width, i / width, (v << 16) | (v << 8) | v)
          i += 1
        }
        (id, encodePng(img))
      })
      .toDF("id", "data")
  }

  /** Feature extraction over blob partitions: the batch boundary a
    * real pipeline gives its decoder (amortizes codec init per
    * partition, not per row). */
  def extractFeatures(blobs: DataFrame): Dataset[MediaFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("id"), col("data")).as[(Long, Array[Byte])]
      // no per-task codec init needed: [[readImage]]/[[encodePng]]
      // construct explicit in-memory ImageIO streams, so the
      // process-global ImageIO.setUseCache flag is never consulted —
      // and never mutated from executor tasks
      .mapPartitions(_.map { case (id, data) => decode(id, data) }) // decode null-safes
  }

  /** Deterministic stand-in for a NON-media resize: subsample the byte
    * stream to at most `w*h` bytes with a fixed stride. The contract
    * (bytes + target dims in, bytes + updated meta out) and the
    * per-partition batch boundary are the real thing; the "pixel" math
    * is a byte stub because there are no pixels to resample. Blobs the
    * image codec CAN decode take [[resizeImage]]'s real path instead
    * — see the dispatch in [[resized]]. */
  def resizeStub(data: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val target = math.max(1, w * h)
    if (data.length <= target) data
    else {
      val stride = data.length.toDouble / target
      Array.tabulate(target)(i => data((i * stride).toInt))
    }
  }

  /** REAL pixel resize: decode (same bomb guard as [[decodeImage]]),
    * scale to exactly `w`×`h` with `Graphics2D.drawImage` under
    * bilinear interpolation — the JDK's dependency-free scaler — and
    * re-encode as PNG (lossless, deterministic: MultimodalSpec pins
    * output dims and exact pixels on generated images). None for
    * bytes the codec rejects or over-cap dims; callers fall back to
    * [[resizeStub]], so one bad blob never fails a task. */
  def resizeImage(data: Array[Byte], w: Int, h: Int,
                  maxPixels: Long = 1L << 26): Option[Array[Byte]] =
    try {
      readImage(data, maxPixels).map { src =>
        val dst = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, w, h, null)
        } finally g.dispose()
        encodePng(dst)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Resize every blob to `w`×`h`, rewriting the metadata struct.
    * Decodable images (png/jpeg by magic bytes) are pixel-resized for
    * real ([[resizeImage]]) and re-encoded as PNG — their meta.format
    * says "png"; everything else (and bytes the codec rejects) takes
    * the byte-stride stub with meta.format "resized", so the two
    * paths are distinguishable downstream. One narrow mapPartitions
    * stage: no shuffle, no driver hop; null data rows are treated as
    * empty blobs, never a task failure. */
  def resized(blobs: DataFrame, w: Int, h: Int): DataFrame = {
    require(w >= 1 && h >= 1, "resized needs positive target dims")
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("id"), col("data")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, d0) =>
        val d = safeBytes(d0)
        val real = sniffFormat(d) match {
          case "png" | "jpeg" | "gif" => resizeImage(d, w, h)
          case _                      => None
        }
        real match {
          case Some(px) => (id, px, "png")
          case None     => (id, resizeStub(d, w, h), "resized")
        }
      })
      .toDF("id", "data", "__graft_fmt")
      .withColumn("meta", struct(col("__graft_fmt").as("format"),
        lit(w).as("width"), lit(h).as("height")))
      .drop("__graft_fmt")
  }

  /** Decode frames from a multi-frame container (GIF — the one
    * multi-image format the JDK ships a reader for) as COMPOSITED,
    * self-contained images (the round-11 verdict item): a GIF frame
    * may be a sub-canvas descriptor meant to be drawn over the
    * previous state, so each returned image is the logical-screen
    * canvas after applying frames 0..i in order, honoring per-frame
    * offsets and the disposal method (`restoreToBackgroundColor`
    * clears the frame rect to transparent — the browser convention —
    * and `restoreToPrevious` rolls the canvas back). A downstream
    * consumer can treat every sample as a standalone raster. When the
    * container carries no GIF metadata tree the frames fall back to
    * the raw stored rasters (identical for full-frame GIFs).
    *
    * Bomb guards, unchanged in spirit from the raw-frame form:
    * per-frame AND canvas dims are checked against `maxPixels` BEFORE
    * any pixel allocation; the declared frame count is capped
    * (`getNumImages(true)` walks every frame header, so a
    * million-descriptor file would otherwise buy a long metadata scan
    * for kilobytes of input); and — new, because compositing frame i
    * requires DECODING frames 0..i, not just the picked ones — the
    * cumulative decoded-pixel work is capped by `maxTotalPixels`, so
    * a few-KB LZW stream can never buy maxFrames × maxPixels of
    * decode time. Resident allocation stays bounded by
    * (|picks| + 3) · maxPixels: the canvas, the in-flight frame, at
    * most one restore snapshot, and one snapshot per pick. Returns
    * the images in pick order; None when no reader claims the bytes,
    * the count is 0 or over `maxFrames`, any frame is over a cap or
    * out of range, or the codec throws. */
  private[graft] def readSelectedFrames(data: Array[Byte], maxPixels: Long,
                                        maxFrames: Int = 4096,
                                        maxTotalPixels: Long = 1L << 28)
      (pick: Int => Seq[Int]):
      Option[IndexedSeq[java.awt.image.BufferedImage]] =
    withReader(data, ignoreMetadata = false) { reader =>
      import java.awt.image.BufferedImage
      val count = reader.getNumImages(true)
      if (count < 1 || count > maxFrames) None
      else {
        val wanted = pick(count)
        if (wanted.exists(i => i < 0 || i >= count)) None
        else if (wanted.isEmpty) Some(IndexedSeq.empty)
        else {
          val wantedSet = wanted.toSet
          val maxIdx = wanted.max
          def copyOf(src: BufferedImage): BufferedImage = {
            val c = new BufferedImage(src.getWidth, src.getHeight,
              BufferedImage.TYPE_INT_ARGB)
            val g = c.createGraphics()
            try { g.setComposite(java.awt.AlphaComposite.Src)
                  g.drawImage(src, 0, 0, null) }
            finally g.dispose()
            c
          }
          // canvas = the logical screen; absent/odd metadata falls
          // back to frame-0 dims (every full-frame GIF) and raw mode
          val screen = gifScreenDims(reader)
          val (screenW, screenH) = screen.getOrElse(
            (reader.getWidth(0), reader.getHeight(0)))
          val composite = screen.isDefined
          if (screenW <= 0 || screenH <= 0 ||
              screenW.toLong * screenH > maxPixels) None
          else {
            val canvas = new BufferedImage(screenW, screenH,
              BufferedImage.TYPE_INT_ARGB)
            val g = canvas.createGraphics()
            try {
              val picked = scala.collection.mutable.Map
                .empty[Int, BufferedImage]
              var totalPx = 0L
              var i = 0
              var ok = true
              while (i <= maxIdx && ok) {
                val needed = composite || wantedSet(i)
                if (needed) {
                  val w = reader.getWidth(i)
                  val h = reader.getHeight(i)
                  totalPx += w.toLong * h
                  ok = w > 0 && h > 0 && w.toLong * h <= maxPixels &&
                    totalPx <= maxTotalPixels
                  if (ok) {
                    val (left, top, disposal) = gifFrameMeta(reader, i)
                    val prev =
                      if (composite && disposal == "restoreToPrevious")
                        copyOf(canvas) else null
                    val frame = reader.read(i)
                    if (composite) {
                      g.setComposite(java.awt.AlphaComposite.SrcOver)
                      g.drawImage(frame, left, top, null)
                      if (wantedSet(i)) picked(i) = copyOf(canvas)
                      disposal match {
                        case "restoreToBackgroundColor" =>
                          g.setComposite(java.awt.AlphaComposite.Clear)
                          g.fillRect(left, top, w, h)
                        case "restoreToPrevious" =>
                          g.setComposite(java.awt.AlphaComposite.Src)
                          g.drawImage(prev, 0, 0, null)
                        case _ => ()
                      }
                    } else if (wantedSet(i)) picked(i) = frame
                  }
                }
                i += 1
              }
              if (ok) Some(wanted.map(picked).toIndexedSeq) else None
            } finally g.dispose()
          }
        }
      }
    }

  /** Logical-screen dims from the GIF stream metadata tree; None when
    * the reader exposes no GIF tree (non-GIF container, metadata
    * ignored, or a fuzzed header the parser rejects). */
  private def gifScreenDims(reader: javax.imageio.ImageReader):
      Option[(Int, Int)] =
    scala.util.Try {
      val tree = reader.getStreamMetadata
        .getAsTree("javax_imageio_gif_stream_1.0")
      val kids = tree.getChildNodes
      (0 until kids.getLength).map(kids.item)
        .find(_.getNodeName == "LogicalScreenDescriptor")
        .map { lsd =>
          val at = lsd.getAttributes
          (at.getNamedItem("logicalScreenWidth").getNodeValue.toInt,
           at.getNamedItem("logicalScreenHeight").getNodeValue.toInt)
        }
    }.toOption.flatten

  /** (left, top, disposalMethod) for frame `i` from the GIF image
    * metadata tree; safe defaults when any part is missing. */
  private def gifFrameMeta(reader: javax.imageio.ImageReader,
                           i: Int): (Int, Int, String) =
    scala.util.Try {
      val tree = reader.getImageMetadata(i)
        .getAsTree("javax_imageio_gif_image_1.0")
      val kids = tree.getChildNodes
      val nodes = (0 until kids.getLength).map(kids.item)
      def attr(nodeName: String, attrName: String): Option[String] =
        nodes.find(_.getNodeName == nodeName)
          .flatMap(n => Option(n.getAttributes.getNamedItem(attrName)))
          .map(_.getNodeValue)
      (attr("ImageDescriptor", "imageLeftPosition")
         .flatMap(_.toIntOption).getOrElse(0),
       attr("ImageDescriptor", "imageTopPosition")
         .flatMap(_.toIntOption).getOrElse(0),
       attr("GraphicControlExtension", "disposalMethod").getOrElse("none"))
    }.getOrElse((0, 0, "none"))

  /** The perceptual-hash grid shape: 9 columns × 8 rows, so each of
    * the 8 rows yields 8 adjacent-cell comparisons — a 64-bit dHash. */
  private[graft] val DHashGridW = 9
  private[graft] val DHashGridH = 8

  /** Integer box-average luminance grid over the DECODED pixels — the
    * deterministic downscale a difference hash compares: every source
    * pixel is assigned to exactly one grid cell
    * (cx = px·gw/W, cy = py·gh/H) and each cell's value is the FLOOR
    * mean of its pixels' 8-bit BT.601 luminance (the [[decodeImage]]
    * integer formula — on a grayscale image, luminance == the gray
    * byte exactly). All arithmetic is integer, so the grid — and
    * everything downstream of it — is replayable by the DuckDB oracle
    * on generated grayscale images, unlike a Graphics2D bilinear
    * resample whose sampling kernel is JDK-internal.
    *
    * None when the codec rejects the bytes, dims exceed `maxPixels`,
    * or the image is SMALLER than the grid (W < gw or H < gh — some
    * cells would be empty; a thumbnail below 9×8 carries too little
    * structure to fingerprint, the documented exclusion). Row-major
    * gw×gh output. */
  def luminanceGrid(data: Array[Byte], gw: Int = DHashGridW,
                    gh: Int = DHashGridH,
                    maxPixels: Long = 1L << 26): Option[Array[Int]] =
    try {
      readImage(safeBytes(data), maxPixels).flatMap { im =>
        val w = im.getWidth
        val h = im.getHeight
        if (w < gw || h < gh) None
        else {
          val sums = new Array[Long](gw * gh)
          val cnts = new Array[Long](gw * gh)
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            im.getRGB(0, y, w, 1, row, 0, w)
            val cy = (y.toLong * gh / h).toInt
            var x = 0
            while (x < w) {
              val rgb = row(x)
              val lum = (((rgb >> 16) & 0xff) * 299 +
                ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
              val cell = cy * gw + (x.toLong * gw / w).toInt
              sums(cell) += lum
              cnts(cell) += 1L
              x += 1
            }
            y += 1
          }
          Some(Array.tabulate(gw * gh)(i => (sums(i) / cnts(i)).toInt))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 64-bit difference hash from a [[luminanceGrid]]: bit
    * cy·(gw−1)+cx is set when the cell to the RIGHT is strictly
    * brighter — the gradient-sign signature that survives re-encode,
    * mild rescale and small edits, which is exactly what an
    * exact-checksum dedup misses (the LAION-scale image near-dup
    * problem). 9×8 grid ⇒ bits 0..63. */
  def dHash64FromGrid(grid: Array[Int], gw: Int = DHashGridW,
                      gh: Int = DHashGridH): Long = {
    require(grid.length == gw * gh,
      s"dHash64FromGrid: grid length ${grid.length} != $gw*$gh")
    var fp = 0L
    var cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < gw - 1) {
        if (grid(cy * gw + cx + 1) > grid(cy * gw + cx))
          fp |= 1L << (cy * (gw - 1) + cx)
        cx += 1
      }
      cy += 1
    }
    fp
  }

  /** Per-blob perceptual fingerprints: (id, grid, fp) with `grid` the
    * row-major 9×8 luminance grid and `fp` its 64-bit dHash — null
    * both when the blob is not a decodable image at least grid-sized
    * ([[luminanceGrid]]'s contract), so the exclusion rule is itself
    * observable output, never a silent drop. One narrow mapPartitions
    * stage, the [[extractFeatures]] batch boundary. */
  def imageFingerprints(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("id"), col("data")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, data) =>
        luminanceGrid(data) match {
          case Some(g) => (id, Some(g), Some(dHash64FromGrid(g)))
          case None    => (id, None, None)
        }
      })
      .toDF("id", "grid", "fp")
  }

  /** Image NEAR-dup pairs over a blob corpus — the multimodal twin of
    * [[Dedup.simhashNearDups]]: decode → 9×8 luminance grid → 64-bit
    * dHash ([[imageFingerprints]]), then the SHARED 16-bit-chunk
    * banding + bounded hamming verify ([[Dedup.hammingNearDups]] —
    * pigeonhole-complete for hamming ≤ 3, `maxBucket` hot-bucket
    * cap). Blobs without a fingerprint (non-images, codec rejects,
    * sub-grid thumbnails) never pair. Output (doc_a, doc_b, hamming).
    *
    * Scale shape: decode is one narrow stage; candidates come from a
    * 4-rows-per-image chunk equi-join, never an all-pairs compare —
    * the same budget the text SimHash family runs on at 100 TB. */
  def imageNearDups(blobs: DataFrame, maxHamming: Int = 3,
                    maxBucket: Int = 64): DataFrame =
    Dedup.hammingNearDups(
      imageFingerprints(blobs).filter(col("fp").isNotNull)
        .select(col("id"), col("fp")),
      maxHamming, maxBucket)

  /** INCREMENTAL image near-dup — an arriving image batch against a
    * STANDING fingerprint store (the ingest shape: decode and
    * fingerprint only the batch, band-join against the stored
    * (id, fp) table, 8 bytes per corpus image): decode → dHash on the
    * new blobs, then [[Dedup.hammingNearDupsAB]]'s cross-side
    * banding. Output (doc_new, doc_corpus, hamming). A pipeline
    * appends the batch's own fingerprints to the store afterwards —
    * the [[graft.catalog.Catalog.appendPartitioned]] discipline. */
  def imageNearDupsIncremental(newBlobs: DataFrame, corpusFps: DataFrame,
                               maxHamming: Int = 3, maxBucket: Int = 64): DataFrame =
    Dedup.hammingNearDupsAB(
      imageFingerprints(newBlobs).filter(col("fp").isNotNull)
        .select(col("id"), col("fp")),
      corpusFps, maxHamming, maxBucket)

  /** (offset, length) of every JPEG-compressed video chunk inside an
    * AVI container — the MJPEG case, the one VIDEO container whose
    * frames the JDK can decode (each frame is a complete JPEG;
    * ImageIO does the rest — no codec dependency). A RIFF file is a
    * chunk tree: 4-byte fourcc + LE32 size + payload (padded to
    * even), with `LIST` chunks nesting sub-chunks after a 4-byte list
    * type; video data lives in `##dc`/`##db` chunks under `LIST/movi`
    * (possibly wrapped in `LIST/rec `). This walks the tree
    * iteratively with explicit bounds checks — a declared size past
    * the buffer ends the walk (fuzzed input degrades to fewer frames,
    * never a throw) — and keeps only chunks that open with the JPEG
    * SOI marker. Offsets only: the caller decodes just the frames it
    * picks, so a 10k-frame file costs a header walk plus n decodes. */
  private[graft] def aviJpegChunks(data: Array[Byte],
                                   maxFrames: Int = 4096): IndexedSeq[(Int, Int)] = {
    def le32(i: Int): Long =
      (data(i) & 0xffL) | ((data(i + 1) & 0xffL) << 8) |
      ((data(i + 2) & 0xffL) << 16) | ((data(i + 3) & 0xffL) << 24)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    if (sniffFormat(data) != "avi") return out.toIndexedSeq
    // stack of (pos, end) regions whose chunks remain to walk
    val riffEnd = math.min(data.length.toLong, 8L + le32(4)).toInt
    var regions = List((12, riffEnd))
    while (regions.nonEmpty && out.length < maxFrames) {
      val (pos, end) = regions.head
      regions = regions.tail
      var p = pos
      var ok = true
      while (ok && p + 8 <= end && out.length < maxFrames) {
        val sz = le32(p + 4)
        val payload = p + 8
        if (sz < 0 || payload + sz > end) ok = false // lying header: stop this region
        else {
          val fourcc = new String(data, p, 4, "US-ASCII")
          if (fourcc == "LIST" && sz >= 4) {
            // descend after the 4-byte list type; continue this region
            // after the LIST, then walk the sub-region first
            val after = payload + sz + (sz & 1L)
            if (after <= end) regions = (payload + 4, (payload + sz).toInt) ::
              (after.toInt, end) :: regions
            else regions = (payload + 4, (payload + sz).toInt) :: regions
            ok = false // this region continues via the pushed tail
          } else {
            // video data chunk: '##dc' (compressed) / '##db' (raw slot,
            // MJPEG writers use it too) whose payload opens with SOI
            if (sz >= 3 && fourcc.length == 4 &&
                fourcc(0).isDigit && fourcc(1).isDigit &&
                (fourcc.endsWith("dc") || fourcc.endsWith("db")) &&
                (data(payload) & 0xff) == 0xff &&
                (data(payload + 1) & 0xff) == 0xd8 &&
                (data(payload + 2) & 0xff) == 0xff)
              out += ((payload, sz.toInt))
            p = (payload + sz + (sz & 1L)).toInt
          }
        }
      }
    }
    out.toIndexedSeq
  }

  /** Sample `n` evenly spaced frames per blob (the video frame-sample
    * shape). Multi-frame containers the JDK can decode take the REAL
    * path — GIF (by magic bytes) via the composited
    * [[readSelectedFrames]], and MJPEG-in-AVI via [[aviJpegChunks]]
    * (each picked chunk is a complete JPEG the image codec decodes):
    * n evenly spaced stored-frame indices are picked across the
    * actual frame index range (repeats when the container has fewer
    * than n) and ONLY those are decoded, each re-encoded as PNG — so
    * downstream consumers see self-contained single-frame images.
    * Everything else — other video codecs (not in the JDK), and bytes
    * the codec rejects — keeps the byte-span stub: frame i is the
    * span [i·sz, (i+1)·sz) with sz = len/n, the last frame absorbing
    * the remainder — short blobs yield n-1 empty frames plus the
    * whole payload, never an error. All paths emit EXACTLY n frames
    * per blob with frame_idx 0..n-1. Each input row expands to its n
    * frames in place (flatMap, one narrow stage); at corpus scale the
    * fan-out is bounded by n and never shuffles. */
  def frameSample(blobs: DataFrame, n: Int): Dataset[MediaFrame] = {
    require(n >= 1, "frameSample needs n >= 1")
    val spark = blobs.sparkSession
    import spark.implicits._
    // even spacing over [0, count); n=1 → frame 0
    def picks(count: Int): Seq[Int] = (0 until n).map { i =>
      if (n == 1) 0
      else math.round(i.toDouble * (count - 1) / (n - 1)).toInt
    }
    blobs.select(col("id"), col("data")).as[(Long, Array[Byte])]
      .flatMap { case (id, d0) =>
        val d = safeBytes(d0) // null blob = n empty frames, not an NPE
        val real = sniffFormat(d) match {
          case "gif" =>
            readSelectedFrames(d, maxPixels = 1L << 26)(picks)
              .map(frames =>
                (0 until n).map(i => MediaFrame(id, i.toLong, encodePng(frames(i)))))
          case "avi" =>
            val chunks = aviJpegChunks(d)
            if (chunks.isEmpty) None
            else {
              // decode ONLY the picked chunks; any single undecodable
              // frame degrades the whole blob to the byte stub (a
              // half-real half-stub frame list would be ambiguous)
              val imgs = picks(chunks.length).map { ci =>
                val (off, len) = chunks(ci)
                readImage(java.util.Arrays.copyOfRange(d, off, off + len),
                  maxPixels = 1L << 26)
              }
              if (imgs.exists(_.isEmpty)) None
              else Some(imgs.zipWithIndex.map { case (im, i) =>
                MediaFrame(id, i.toLong, encodePng(im.get))
              })
            }
          case _ => None
        }
        real.getOrElse {
          val sz = d.length / n
          (0 until n).map { i =>
            val from = i * sz
            val until = if (i == n - 1) d.length else (i + 1) * sz
            MediaFrame(id, i.toLong, java.util.Arrays.copyOfRange(d, from, until))
          }
        }
      }
  }
}
