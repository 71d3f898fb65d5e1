package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("binaryFile source reads raw blobs with length metadata") {
    // the FIXTURES.md §3 shape: a few seeded random 1-2 MiB blobs
    val dir = java.nio.file.Files.createTempDirectory("graft-blobs")
    try {
      val rnd = new scala.util.Random(42L)
      for (i <- 1 to 4) {
        val bytes = new Array[Byte]((1 << 20) + rnd.nextInt(1 << 20))
        rnd.nextBytes(bytes)
        java.nio.file.Files.write(dir.resolve(s"file-$i.bin"), bytes)
      }
      val df = Multimodal.readBinaryFiles(spark, s"$dir/*.bin")
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[Long]("length") === r.getAs[Array[Byte]]("content").length.toLong)
      }
    } finally graft.catalog.Catalog.deleteRecursively(dir)
  }

  test("blob table schema: binary data + typed metadata struct") {
    val blobs = Multimodal.asBlobTable(
      Tables.documents(spark, SparkSuite.sf0001), "doc_id", "text")
    val schema = blobs.schema
    assert(schema("data").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
    val r = blobs.head()
    assert(r.getAs[Array[Byte]]("data").nonEmpty)
  }

  test("every gate-corpus document sniffs 'bin' (q_multimodal_features oracle precondition)") {
    // The q_multimodal_features oracle hardcodes format 'bin' and the
    // byte-fold checksum for EVERY document, but extractFeatures labels
    // rows with the sniffed format — a regenerated corpus containing a
    // text that happens to open with a media magic (ASCII ".snd" for
    // AU is plausible in plain text) would be labeled 'au' and
    // hash-mismatch the gate with no code regression. Canary the
    // precondition at the gate SF; on failure, demote the oracle to
    // rows-only (EventPack) rather than patching the corpus.
    val sniffed = Tables.documents(spark, SparkSuite.sf001)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Multimodal.sniffFormat(r.getAs[Array[Byte]]("data")))
    assert(sniffed.nonEmpty)
    val nonBin = sniffed.filterNot(_._2 == "bin")
    assert(nonBin.isEmpty,
      s"docs sniffing as media: ${nonBin.take(5).mkString(", ")} — the " +
        "q_multimodal_features oracle's all-'bin' precondition no longer " +
        "holds; demote it to rows-only")
  }

  test("resize caps bytes at w*h, keeps order, and rewrites meta") {
    val blobs = Multimodal.asBlobTable(
      Tables.documents(spark, SparkSuite.sf0001), "doc_id", "text")
    val out = Multimodal.resized(blobs, 8, 4).collect()
    val srcLen = blobs.selectExpr("id", "octet_length(data) AS n").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("n")).toMap
    out.foreach { r =>
      val d = r.getAs[Array[Byte]]("data")
      assert(d.length === math.min(srcLen(r.getAs[Long]("id")), 32))
      assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("width") === 8)
    }
    // subsampling preserves content: a resized blob's bytes all occur
    // in the source in order (stride sampling never reorders)
    val one = Multimodal.asBlobTable(
      spark.createDataFrame(Seq((1L, "abcdefghijklmnop"))).toDF("doc_id", "text"),
      "doc_id", "text")
    val d = Multimodal.resized(one, 2, 2).head().getAs[Array[Byte]]("data")
    assert(new String(d, "UTF-8") === "aeim") // stride 4 over 16 bytes
  }

  test("resizeImage scales real pixels: exact dims and exact block colors") {
    // 8×8, left half pure black, right half pure white → 2×2: the
    // sample points sit deep inside each color block, so the output
    // pixels are EXACT under any sane interpolation
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val out = Multimodal.resizeImage(pngBytes(img), 2, 2).get
    assert(Multimodal.sniffFormat(out) === "png")
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(dec.getWidth === 2 && dec.getHeight === 2)
    for (y <- 0 until 2) {
      assert((dec.getRGB(0, y) & 0xffffff) === 0x000000)
      assert((dec.getRGB(1, y) & 0xffffff) === 0xffffff)
    }
    // solid color survives interpolation exactly, non-integer scale too
    val red = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) red.setRGB(x, y, 0xff0000)
    val r3 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.resizeImage(pngBytes(red), 3, 3).get))
    assert(r3.getWidth === 3 && r3.getHeight === 3)
    for (y <- 0 until 3; x <- 0 until 3)
      assert((r3.getRGB(x, y) & 0xffffff) === 0xff0000)
    // deterministic bytes (PNG is lossless and the encoder is the JDK's)
    assert(Multimodal.resizeImage(pngBytes(img), 2, 2).get.sameElements(out))
    // bomb guard holds on the resize path too: 8×8 = 64 px over a 63 cap
    assert(Multimodal.resizeImage(pngBytes(img), 2, 2, maxPixels = 63L).isEmpty)
  }

  test("resized dispatch: real path for decodable images, stub for text, null-safe") {
    val s = spark
    import s.implicits._
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xffffff)
    val png = pngBytes(img)
    val txt = "0123456789abcdef".getBytes("UTF-8")
    val rows = Seq((1L, png), (2L, txt), (3L, null: Array[Byte]))
      .toDF("id", "data")
    val out = Multimodal.resized(rows, 2, 2).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Array[Byte]]("data"),
         r.getAs[org.apache.spark.sql.Row]("meta"))).toMap
    // real path: output is a genuine 2×2 PNG, meta.format = png
    val (realBytes, realMeta) = out(1L)
    assert(realMeta.getAs[String]("format") === "png")
    assert(realMeta.getAs[Int]("width") === 2 && realMeta.getAs[Int]("height") === 2)
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(realBytes))
    assert(dec.getWidth === 2 && dec.getHeight === 2)
    assert((dec.getRGB(0, 0) & 0xffffff) === 0xffffff)
    // stub path: byte-stride subsample, meta.format = resized
    val (stubBytes, stubMeta) = out(2L)
    assert(stubMeta.getAs[String]("format") === "resized")
    assert(stubBytes.sameElements(Multimodal.resizeStub(txt, 2, 2)))
    // null data: empty blob through the stub, no NPE
    val (nullBytes, nullMeta) = out(3L)
    assert(nullBytes.length === 0)
    assert(nullMeta.getAs[String]("format") === "resized")
  }

  test("asPngBlobTable builds genuine PNGs the real decoder round-trips") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "abcdefgh" * 3), (2L, ""), (3L, null: String))
      .toDF("doc_id", "text")
    val blobs = Multimodal.asPngBlobTable(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(blobs).collect()
      .map(f => f.id -> f).toMap
    // 24 bytes at width 8 → 8×3; decoded for real (format png, real dims)
    assert(feats(1L).format === "png")
    assert(feats(1L).width === 8 && feats(1L).height === 3)
    // empty and null text → 1-row black image, still a valid PNG
    Seq(2L, 3L).foreach { id =>
      assert(feats(id).format === "png")
      assert(feats(id).width === 8 && feats(id).height === 1)
    }
    // pixel (0,0) of doc 1 is the gray of byte 'a' = 0x61
    val bytes = blobs.filter(col("id") === 1L).head().getAs[Array[Byte]]("data")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert((img.getRGB(0, 0) & 0xffffff) === 0x616161)
  }

  test("audio + feature paths tolerate null text/data rows") {
    val s = spark
    import s.implicits._
    // null text through the WAV wrapper: zero-frame but valid container
    val docs = Seq((1L, "abcdef"), (2L, null: String)).toDF("doc_id", "text")
    val metas = Multimodal.audioMeta(
      Multimodal.asWavBlobTable(docs, "doc_id", "text"))
      .collect().map(m => m.id -> m).toMap
    assert(metas(1L).frames === 3L)
    assert(metas(2L).frames === 0L)
    // null data through audioMeta and extractFeatures: skipped / stubbed
    val rows = Seq((1L, Multimodal.wavBytes("hi!!".getBytes, 8000)),
                   (2L, null: Array[Byte])).toDF("id", "data")
    assert(Multimodal.audioMeta(rows).collect().map(_.id).toSeq === Seq(1L))
    val fs = Multimodal.extractFeatures(rows).collect().sortBy(_.id)
    assert(fs(1).n_bytes === 0L && fs(1).format === "bin")
    // null data through frameSample: n empty frames
    val frames = Multimodal.frameSample(rows.filter(col("id") === 2L), 3)
      .collect()
    assert(frames.map(_.frame.length).toSeq === Seq(0, 0, 0))
  }

  test("frameSample yields n frames whose concatenation is the blob") {
    val blobs = Multimodal.asBlobTable(
      Tables.documents(spark, SparkSuite.sf0001), "doc_id", "text")
    val frames = Multimodal.frameSample(blobs, 4).collect()
      .groupBy(_.id).map { case (id, fs) =>
        id -> fs.sortBy(_.frame_idx).map(_.frame).reduce(_ ++ _)
      }
    val src = blobs.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Array[Byte]]("data")).toMap
    assert(frames.size === src.size)
    frames.foreach { case (id, joined) => assert(joined.sameElements(src(id))) }
    // short-blob edge: 2 bytes into 4 frames = three empty + the rest
    val tiny = Multimodal.asBlobTable(
      spark.createDataFrame(Seq((9L, "xy"))).toDF("doc_id", "text"),
      "doc_id", "text")
    val t = Multimodal.frameSample(tiny, 4).collect().sortBy(_.frame_idx)
    assert(t.map(_.frame.length).toSeq === Seq(0, 0, 0, 2))
  }

  /** A real multi-image GIF via the JDK's own GIF writer — each frame
    * a solid 4×4 block of the given palette colors. */
  private def gifBytes(colors: Seq[Int]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.prepareWriteSequence(null)
      colors.foreach { c =>
        val img = new java.awt.image.BufferedImage(
          4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until 4; y <- 0 until 4) img.setRGB(x, y, c)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); out.close() }
    bos.toByteArray
  }

  /** A 2-frame GIF whose SECOND frame is a partial-canvas descriptor:
    * frame 0 fills the w×h screen with `bg`; frame 1 is a pw×ph patch
    * drawn at (px, py) — written through the JDK GIF writer's image
    * metadata (ImageDescriptor offsets), i.e. a real-world animated
    * GIF delta frame. */
  private def partialFrameGif(w: Int, h: Int, bg: Int,
                              pw: Int, ph: Int, px: Int, py: Int,
                              patch: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.prepareWriteSequence(null)
      def solid(sw: Int, sh: Int, c: Int) = {
        val img = new java.awt.image.BufferedImage(
          sw, sh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until sw; y <- 0 until sh) img.setRGB(x, y, c)
        img
      }
      def metaWithOffset(img: java.awt.image.BufferedImage,
                         left: Int, top: Int) = {
        val spec = new javax.imageio.ImageTypeSpecifier(img)
        val md = writer.getDefaultImageMetadata(spec, null)
        val fmt = "javax_imageio_gif_image_1.0"
        val tree = md.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val kids = tree.getChildNodes
        val desc = (0 until kids.getLength).map(kids.item)
          .find(_.getNodeName == "ImageDescriptor").get
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        desc.setAttribute("imageLeftPosition", left.toString)
        desc.setAttribute("imageTopPosition", top.toString)
        md.setFromTree(fmt, tree)
        md
      }
      val f0 = solid(w, h, bg)
      writer.writeToSequence(
        new javax.imageio.IIOImage(f0, null, metaWithOffset(f0, 0, 0)), null)
      val f1 = solid(pw, ph, patch)
      writer.writeToSequence(
        new javax.imageio.IIOImage(f1, null, metaWithOffset(f1, px, py)), null)
      writer.endWriteSequence()
    } finally { writer.dispose(); out.close() }
    bos.toByteArray
  }

  test("frameSample composites partial GIF frames over the canvas (not raw fragments)") {
    val spark2 = spark
    import spark2.implicits._
    // 8×8 red screen; frame 1 is a 2×2 blue patch at (4,4)
    val gif = partialFrameGif(8, 8, bg = 0xff0000,
      pw = 2, ph = 2, px = 4, py = 4, patch = 0x0000ff)
    val frames = Multimodal.frameSample(
        Seq((1L, gif)).toDF("id", "data"), 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.length === 2)
    def decode(png: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val s0 = decode(frames(0).frame)
    val s1 = decode(frames(1).frame)
    // every sample is a self-contained CANVAS raster: a raw descriptor
    // for frame 1 would be a 2×2 all-blue fragment
    assert(s0.getWidth === 8 && s0.getHeight === 8)
    assert(s1.getWidth === 8 && s1.getHeight === 8)
    assert((s0.getRGB(5, 5) & 0xffffff) === 0xff0000) // pre-patch
    assert((s1.getRGB(0, 0) & 0xffffff) === 0xff0000) // background survives
    assert((s1.getRGB(5, 5) & 0xffffff) === 0x0000ff) // patch applied in place
    assert((s1.getRGB(3, 3) & 0xffffff) === 0xff0000) // patch did not smear
  }

  test("frameSample GIF real path: stored frames decode back, evenly sampled") {
    val spark2 = spark
    import spark2.implicits._
    // GIF palette colors survive exactly for pure red/blue
    val gif = gifBytes(Seq(0xff0000, 0x0000ff))
    assert(Multimodal.sniffFormat(gif) === "gif")
    val frames = Multimodal.frameSample(
        Seq((1L, gif)).toDF("id", "data"), 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.length === 2)
    def centerRgb(png: Array[Byte]): Int = {
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(im.getWidth === 4 && im.getHeight === 4)
      im.getRGB(2, 2) & 0xffffff
    }
    // frame 0 ↔ stored frame 0 (red), frame 1 ↔ stored frame 1 (blue):
    // the PNG re-encode is lossless so the colors come back exact
    assert(centerRgb(frames(0).frame) === 0xff0000)
    assert(centerRgb(frames(1).frame) === 0x0000ff)
    // n > stored frames: even spacing repeats endpoints, never errors
    val three = Multimodal.frameSample(
        Seq((2L, gif)).toDF("id", "data"), 3)
      .collect().sortBy(_.frame_idx)
    assert(three.map(f => centerRgb(f.frame)).toSeq ===
      Seq(0xff0000, 0x0000ff, 0x0000ff))
    // a corrupt gif (magic only) falls back to the byte-span stub
    val junk = "GIF89a-not-really-an-image".getBytes("UTF-8")
    val stub = Multimodal.frameSample(
        Seq((3L, junk)).toDF("id", "data"), 2)
      .collect().sortBy(_.frame_idx)
    assert(stub.map(_.frame).reduce(_ ++ _).sameElements(junk))
  }

  // --- real image decode (javax.imageio — JDK-only, public API) ---

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("PNG decode touches real pixels: exact dims, histogram, checksum") {
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // left half black (lum 0 → bucket 0), right half white (lum 255 → 15)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0x000000 else 0xffffff)
    val bytes = pngBytes(img)
    assert(Multimodal.sniffFormat(bytes) === "png")
    val f = Multimodal.decode(7L, bytes)
    assert(f.format === "png")
    assert(f.width === 4 && f.height === 2)
    assert(f.n_bytes === bytes.length.toLong)
    assert(f.head_histogram(0) === 4 && f.head_histogram(15) === 4)
    assert(f.head_histogram.sum === 8) // every pixel counted exactly once
    // checksum folds the row-major luminance stream: 0,0,255,255 ×2
    val lums = Seq(0, 0, 255, 255, 0, 0, 255, 255)
    assert(f.checksum === lums.foldLeft(0L)((a, b) => a * 31 + b))
  }

  test("PNG decode: BT.601 luminance buckets for pure R/G/B pixels") {
    val img = new java.awt.image.BufferedImage(
      3, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // lum 255*299/1000 = 76  → bucket 4
    img.setRGB(1, 0, 0x00ff00) // lum 255*587/1000 = 149 → bucket 9
    img.setRGB(2, 0, 0x0000ff) // lum 255*114/1000 = 29  → bucket 1
    val f = Multimodal.decode(1L, pngBytes(img))
    assert(f.head_histogram(4) === 1)
    assert(f.head_histogram(9) === 1)
    assert(f.head_histogram(1) === 1)
    assert(f.head_histogram.sum === 3)
  }

  test("JPEG decode: real dims, full pixel coverage, deterministic") {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val bytes = bos.toByteArray
    assert(Multimodal.sniffFormat(bytes) === "jpeg")
    val f = Multimodal.decode(2L, bytes)
    assert(f.format === "jpeg")
    assert(f.width === 8 && f.height === 8)
    assert(f.head_histogram.sum === 64)
    // lossy, but a solid mid-gray block decodes to ~lum 128 (bucket 8 ±1)
    assert(f.head_histogram.slice(7, 10).sum === 64,
      s"luminance drifted: ${f.head_histogram.toSeq}")
    val again = Multimodal.decode(2L, bytes)
    assert(f.checksum === again.checksum &&
      f.head_histogram.toSeq === again.head_histogram.toSeq)
  }

  test("decodeImage refuses over-cap pixel counts from the header alone") {
    // a decompression bomb declares huge dims in a tiny header; the
    // guard must reject on header dims BEFORE any pixel allocation.
    // 4×2 = 8 px: cap at 7 → refused, cap at 8 → decoded.
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bytes = pngBytes(img)
    assert(Multimodal.decodeImage(1L, bytes, "png", maxPixels = 7L).isEmpty)
    val ok = Multimodal.decodeImage(1L, bytes, "png", maxPixels = 8L)
    assert(ok.nonEmpty && ok.get.width === 4 && ok.get.height === 2)
  }

  test("decode dispatch: truncated/lying magic falls back to the stub") {
    // PNG signature followed by garbage: sniffs png, ImageIO rejects it
    val lying = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5, 6)
    val f = Multimodal.decode(3L, lying)
    assert(f.format === "bin" && f.width === 0 && f.height === 0)
    assert(f.checksum === Multimodal.decodeStub(3L, lying).checksum)
  }

  test("extractFeatures routes a mixed media/text corpus per-row") {
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2) img.setRGB(x, y, 0xffffff)
    val png = pngBytes(img)
    val txt = "just text".getBytes("UTF-8")
    val rows = spark.createDataFrame(Seq((1L, png), (2L, txt)))
      .toDF("id", "data")
    val fs = Multimodal.extractFeatures(rows).collect().sortBy(_.id)
    assert(fs(0).format === "png" && fs(0).width === 2 && fs(0).height === 2)
    assert(fs(0).head_histogram(15) === 4)
    assert(fs(1).format === "bin" && fs(1).width === 0)
    assert(fs(1).n_bytes === txt.length.toLong)
  }

  // --- real audio decode (javax.sound.sampled — JDK-only, public API) ---

  test("WAV decode parses a JDK-written file: channels, rate, frames") {
    // synthesize 100 ms of 440 Hz sine @16 kHz mono and write a REAL
    // wav via AudioSystem itself, then parse it back with audioMeta's
    // decoder — both directions go through the platform audio stack
    val rate = 16000f
    val n = 1600
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 12000).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val bytes = bos.toByteArray
    assert(Multimodal.sniffFormat(bytes) === "wav")
    val m = Multimodal.decodeAudioMeta(5L, bytes).get
    assert(m.channels === 1)
    assert(m.sample_rate_hz === 16000)
    assert(m.frames === n.toLong)
    assert(math.abs(m.duration_ms - 100.0) < 1e-9)
    // decode() keeps the sniffed label on the byte-feature path
    assert(Multimodal.decode(5L, bytes).format === "wav")
  }

  test("asWavBlobTable → audioMeta round trip: frames follow the byte arithmetic") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "abcdef"), (2L, "abcdefg"), (3L, "")).toDF("doc_id", "text")
    val metas = Multimodal.audioMeta(
      Multimodal.asWavBlobTable(docs, "doc_id", "text"))
      .collect().map(m => m.id -> m).toMap
    assert(metas.size === 3)
    // frames = even(utf8 length) / 2 at 2 bytes per mono 16-bit frame
    assert(metas(1L).frames === 3L)  // 6 bytes → 3 frames
    assert(metas(2L).frames === 3L)  // 7 bytes → truncated to 6 → 3
    assert(metas(3L).frames === 0L)
    metas.values.foreach { m =>
      assert(m.channels === 1 && m.sample_rate_hz === 8000)
      assert(math.abs(m.duration_ms - m.frames / 8.0) < 1e-9)
    }
  }

  test("AIFF decode: the other JDK audio container parses too") {
    val rate = 8000f
    val n = 400
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 2, true, true)
    val pcm = new Array[Byte](n * 4) // stereo 16-bit
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val bytes = bos.toByteArray
    assert(Multimodal.sniffFormat(bytes) === "aiff")
    val m = Multimodal.decodeAudioMeta(6L, bytes).get
    assert(m.channels === 2)
    assert(m.sample_rate_hz === 8000)
    assert(m.frames === n.toLong)
    assert(Multimodal.decode(6L, bytes).format === "aiff")
  }

  test("audioMeta drops undecodable and non-audio rows instead of erroring") {
    val s = spark
    import s.implicits._
    val lyingRiff = "RIFF1234WAVEgarbage".getBytes("ISO-8859-1")
    assert(Multimodal.sniffFormat(lyingRiff) === "wav")
    assert(Multimodal.decodeAudioMeta(9L, lyingRiff).isEmpty)
    val good = Multimodal.wavBytes("hello!".getBytes("UTF-8"), 8000)
    val rows = Seq((1L, good), (2L, lyingRiff), (3L, "plain text".getBytes("UTF-8")))
      .toDF("id", "data")
    val out = Multimodal.audioMeta(rows).collect()
    assert(out.map(_.id).toSeq === Seq(1L))
  }

  test("feature extraction is deterministic and matches the stub contract") {
    val blobs = Multimodal.asBlobTable(
      Tables.documents(spark, SparkSuite.sf0001), "doc_id", "text")
    val a = Multimodal.extractFeatures(blobs).collect().sortBy(_.id)
    val b = Multimodal.extractFeatures(blobs).collect().sortBy(_.id)
    assert(a.map(f => (f.id, f.n_bytes, f.checksum)).toSeq ===
           b.map(f => (f.id, f.n_bytes, f.checksum)).toSeq)
    // n_bytes equals the utf-8 length of the source text
    val lens = Tables.documents(spark, SparkSuite.sf0001)
      .selectExpr("doc_id", "octet_length(text) AS n").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n").toLong).toMap
    a.take(50).foreach(f => assert(f.n_bytes === lens(f.id)))
    // histogram buckets sum to min(256, n_bytes)
    a.take(50).foreach(f =>
      assert(f.head_histogram.sum.toLong === math.min(256L, f.n_bytes)))
  }
}
