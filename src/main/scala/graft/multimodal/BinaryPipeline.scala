package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2, table 3): image/audio/video
  * payloads ride as opaque `binary` columns with typed metadata, and
  * per-record feature extraction runs as a distributed `mapPartitions`
  * over batched rows (the Scala analog of mapInPandas — one JVM-side
  * iterator per ~128 MB input split, no driver involvement).
  *
  * Decode kernels: the IMAGE branch is REAL — `decodeImage` uses
  * `javax.imageio` (pure JVM: PNG/BMP/GIF/JPEG codecs ship with the
  * JDK, no native deps) and returns true pixel dimensions — and so is
  * the AUDIO branch — `decodeAudio` parses WAV/AIFF/AU headers via
  * `javax.sound.sampled` (also JDK-bundled) into sample rate / channels
  * / frame count. The VIDEO branch is real for three containers:
  * Motion-JPEG AVI — `demuxMjpeg` walks the RIFF chunk tree and hands
  * each embedded JPEG frame to ImageIO — animated GIF (JDK codec), and
  * YUV4MPEG2 — `demuxY4m` parses the ASCII stream header and lifts raw
  * luma planes (`decodeVideo` / `videoHash64` / `nearDupVideo` serve
  * all three). Payloads none of these stacks can parse (H.264 etc. —
  * no JVM codec) fall back to `decodeStub`, so
  * synthetic corpora still flow: the plumbing — schema, encoders, batch
  * shape, partitioning — is identical either way, and a production
  * build swaps the stub for a JNI/ffmpeg call without touching the
  * plan.
  */
object BinaryPipeline {

  case class MediaRecord(
      media_id: Long,
      media_type: String, // image | audio | video
      payload: Array[Byte],
      source: String,
      n_bytes: Long)

  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int, // stub: derived, stands in for decoded dimensions
      height: Int,
      n_frames: Int, // stub: frame-sample count for video/audio
      checksum: Long)

  /** Build a media table from the documents corpus: payloads are the
    * UTF-8 bytes (a stand-in for real image/audio blobs with realistic
    * size skew), media_type cycles deterministically.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        col("text").cast("binary").as("payload"),
        col("source"),
        length(col("text")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  private def payloadChecksum(payload: Array[Byte]): Long = {
    var h = 1125899906842597L // FNV-ish rolling checksum over the payload
    var i = 0
    while (i < payload.length) { h = 31 * h + (payload(i) & 0xff); i += 1 }
    h
  }

  /** REAL image decode: true pixel dimensions via the JDK's bundled
    * ImageIO codecs (PNG/BMP/GIF/JPEG). Returns None both for bytes no
    * registered reader understands AND for recognized-but-corrupt
    * payloads (a truncated PNG makes ImageIO.read THROW, not return
    * null — and a dirty web corpus is full of those; one bad record
    * must degrade to the stub, not fail the job).
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int)] =
    decodeImageBuffered(payload).map(i => (i.getWidth, i.getHeight))

  /** The pixel-level decode behind [[decodeImage]], exposed for kernels
    * that need the raster (perceptual hashing, thumbnailing) and not just
    * the dimensions. Same corrupt-payload contract: None, never throw.
    * Tries the JDK's ImageIO codecs (PNG/BMP/GIF/JPEG/WBMP) first, then
    * the two hand-rolled pure-JVM containers ImageIO lacks: QOI and
    * binary PNM (P5/P6) — both common in ML image dumps precisely
    * because they are trivial to encode.
    */
  def decodeImageBuffered(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    (try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    } catch {
      case _: java.io.IOException | _: RuntimeException => None
    }).orElse(decodeQoi(payload)).orElse(decodePnm(payload))

  /** QOI ("Quite OK Image", qoiformat.org, public spec) decoder — 14-byte
    * header (magic "qoif", BE u32 dims, channels, colorspace) + a chunk
    * stream of RGB/RGBA literals, 64-slot hash-index refs, 2-bit DIFFs,
    * LUMA deltas and RLE runs. Pure Scala, bounded by width·height;
    * None (never throw) on truncated/corrupt streams, matching the
    * [[decodeImageBuffered]] contract.
    */
  def decodeQoi(payload: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (payload.length < 22 || payload(0) != 'q' || payload(1) != 'o' ||
      payload(2) != 'i' || payload(3) != 'f') return None
    def u32(i: Int): Long =
      ((payload(i) & 0xffL) << 24) | ((payload(i + 1) & 0xffL) << 16) |
        ((payload(i + 2) & 0xffL) << 8) | (payload(i + 3) & 0xffL)
    val w = u32(4)
    val h = u32(8)
    val channels = payload(12) & 0xff
    if (w <= 0 || h <= 0 || w * h > 64_000_000L ||
      (channels != 3 && channels != 4)) return None
    val n = (w * h).toInt
    val px = new Array[Int](n) // ARGB
    val index = new Array[Int](64)
    var r = 0; var g = 0; var b = 0; var a = 255
    var p = 14
    var o = 0
    def idxPos: Int = ((r * 3 + g * 5 + b * 7 + a * 11) & 0x3f)
    while (o < n) {
      if (p >= payload.length) return None // truncated stream
      val tag = payload(p) & 0xff
      p += 1
      var run = 0
      if (tag == 0xfe) { // QOI_OP_RGB
        if (p + 3 > payload.length) return None
        r = payload(p) & 0xff; g = payload(p + 1) & 0xff; b = payload(p + 2) & 0xff
        p += 3
      } else if (tag == 0xff) { // QOI_OP_RGBA
        if (p + 4 > payload.length) return None
        r = payload(p) & 0xff; g = payload(p + 1) & 0xff
        b = payload(p + 2) & 0xff; a = payload(p + 3) & 0xff
        p += 4
      } else (tag >> 6) match {
        case 0 => // QOI_OP_INDEX
          val v = index(tag & 0x3f)
          a = (v >>> 24) & 0xff; r = (v >>> 16) & 0xff
          g = (v >>> 8) & 0xff; b = v & 0xff
        case 1 => // QOI_OP_DIFF (2-bit channel deltas, bias 2)
          r = (r + ((tag >> 4) & 3) - 2) & 0xff
          g = (g + ((tag >> 2) & 3) - 2) & 0xff
          b = (b + (tag & 3) - 2) & 0xff
        case 2 => // QOI_OP_LUMA (green delta bias 32, dr/db rel. green)
          if (p >= payload.length) return None
          val dg = (tag & 0x3f) - 32
          val rb = payload(p) & 0xff
          p += 1
          r = (r + dg - 8 + ((rb >> 4) & 0xf)) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg - 8 + (rb & 0xf)) & 0xff
        case _ => // QOI_OP_RUN (bias -1)
          run = (tag & 0x3f)
      }
      val argb = (a << 24) | (r << 16) | (g << 8) | b
      index(idxPos) = argb
      var k = 0
      while (k <= run && o < n) { px(o) = argb; o += 1; k += 1 }
      if (run > 0 && k <= run) return None // run overflowed the raster
    }
    val img = new java.awt.image.BufferedImage(w.toInt, h.toInt,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    img.setRGB(0, 0, w.toInt, h.toInt, px, 0, w.toInt)
    Some(img)
  }

  /** Binary PNM decoder (P5 graymap / P6 pixmap, 8-bit maxval) — header
    * is ASCII "P5|P6", '#' comments, whitespace-separated width height
    * maxval, one whitespace byte, then the raw raster. None on anything
    * malformed or truncated.
    */
  def decodePnm(payload: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (payload.length < 7 || payload(0) != 'P' ||
      (payload(1) != '5' && payload(1) != '6')) return None
    val gray = payload(1) == '5'
    var p = 2
    def nextInt(): Int = { // skip whitespace + comments, parse ASCII int
      while (p < payload.length &&
        (payload(p).toChar.isWhitespace || payload(p) == '#')) {
        if (payload(p) == '#')
          while (p < payload.length && payload(p) != '\n') p += 1
        else p += 1
      }
      var v = -1
      while (p < payload.length && payload(p) >= '0' && payload(p) <= '9') {
        v = (if (v < 0) 0 else v) * 10 + (payload(p) - '0')
        if (v > 64_000_000) return -1
        p += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0 || maxv != 255 || w.toLong * h > 64_000_000L ||
      p >= payload.length) return None
    p += 1 // the single whitespace byte after maxval
    val bpp = if (gray) 1 else 3
    if (payload.length - p < w.toLong * h * bpp) return None
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = p + (y.toLong * w + x).toInt * bpp
        val rgb =
          if (gray) { val v = payload(o) & 0xff; (v << 16) | (v << 8) | v }
          else ((payload(o) & 0xff) << 16) | ((payload(o + 1) & 0xff) << 8) |
            (payload(o + 2) & 0xff)
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    Some(img)
  }

  /** 64-bit perceptual average-hash: bilinear-downscale to 8×8,
    * luminance per cell, bit i set iff cell i is brighter than the mean.
    * Invariant under rescaling and mild noise/re-encoding — the image
    * analog of SimHash, and the key image dedup clusters on (two
    * re-encodes of one photo agree within a few bits; unrelated images
    * differ in ~32). Pure JVM (AWT ships with the JDK), deterministic.
    */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val small = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, 8, 8, null)
    g.dispose()
    val lum = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val rgb = small.getRGB(x, y)
        lum(y * 8 + x) = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    val mean = lum.sum / 64.0
    var h = 0L
    var i = 0
    while (i < 64) { if (lum(i) > mean) h |= (1L << i); i += 1 }
    h
  }

  /** (media_id, ahash) for every decodable image payload — the
    * fingerprint table image dedup runs on. mapPartitions so ImageIO's
    * cache toggle amortizes per task; undecodable payloads are dropped
    * here (they have no pixels to hash — exact byte-level dedup still
    * sees them via the checksum).
    */
  def imageHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        if (r.media_type == "image")
          decodeImageBuffered(r.payload).map(img => (r.media_id, aHash64(img)))
        else None
      }
    }.toDF("media_id", "ahash")
  }

  /** Banded hamming near-dup join over a 64-bit fingerprint table
    * (media_id, ahash) — the engine behind [[nearDupImages]] and
    * [[nearDupAudio]]: split the hash into 8 bands of 8 bits; records
    * agreeing on ≥1 band are candidates (EXACT recall for hamming < 8 —
    * pigeonhole over the bands), verified with bit_count(xor). The band
    * join shuffles (band, chunk, id) triples only — the same layout as
    * [[graft.operators.Dedup.simhashPairs]], applied to a multimodal
    * column; at 100 TB the fingerprint table is metadata-width and the
    * payloads never move.
    */
  private def bandedNearDup(fp: DataFrame, maxHamming: Int): DataFrame = {
    val bands = 8
    val bits = 8
    // the pigeonhole guarantee is bands-relative: d < bands forces some
    // band to agree. A silent maxHamming >= bands would drop pairs that
    // differ by exactly 1 bit in every band — fail loudly instead.
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must be in [0, ${bands - 1}] for exact recall with $bands bands, got $maxHamming")
    val bandStructs = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        shiftright(col("ahash"), bnd * bits).bitwiseAND((1L << bits) - 1).as("chunk"))
    }
    val banded = fp
      .select(col("media_id"), col("ahash"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("media_id"), col("ahash"),
        col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk")
          && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).as("hamming"))
      .dropDuplicates("media_a", "media_b")
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("media_a"), col("media_b"))
  }

  /** Near-duplicate image pairs by hamming distance over [[aHash64]]
    * fingerprints — see [[bandedNearDup]] for the join shape and the
    * exact-recall guarantee.
    */
  def nearDupImages(media: Dataset[MediaRecord], maxHamming: Int = 7): DataFrame =
    bandedNearDup(imageHashes(media), maxHamming)

  /** STUB decode kernel (video, plus image/audio bytes the JDK stacks
    * reject): deterministic pseudo-features from raw bytes. Replace with
    * a real codec (JNI to ffmpeg or an Arrow-batched Python worker) in
    * production — the signature is the contract.
    */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val dim = math.max(1, (r.n_bytes % 1024).toInt)
    MediaFeatures(
      media_id = r.media_id,
      media_type = r.media_type,
      n_bytes = r.n_bytes,
      width = dim,
      height = math.max(1, dim / 2),
      n_frames = if (r.media_type == "image") 1 else math.max(1, (r.n_bytes / 64).toInt),
      checksum = payloadChecksum(r.payload))
  }

  /** Decoded audio header: sample rate in Hz, channel count, and PCM
    * frame count (−1 when the container doesn't declare a length).
    */
  case class AudioInfo(sampleRateHz: Int, channels: Int, frames: Long) {
    /** Duration in seconds, when the frame count is known. */
    def seconds: Option[Double] =
      if (frames >= 0 && sampleRateHz > 0) Some(frames.toDouble / sampleRateHz) else None
  }

  /** REAL audio decode: `javax.sound.sampled` parsers for WAV/AIFF/AU
    * ship with the JDK — the same no-native-deps trick that made the
    * image branch real via ImageIO. Returns the format header (rate,
    * channels, frames) without materializing samples; None for bytes no
    * registered provider understands and for recognized-but-corrupt
    * payloads (same degrade-don't-fail contract as [[decodeImage]]).
    */
  def decodeAudio(payload: Array[Byte]): Option[AudioInfo] =
    withAudio(payload) { in =>
      val f = in.getFormat
      Some(AudioInfo(f.getSampleRate.toInt, f.getChannels, in.getFrameLength))
    }

  /** `f` over the payload opened as an audio stream, closed after; None
    * for bytes no registered provider understands and for
    * recognized-but-corrupt payloads, never a throw.
    */
  private def withAudio[A](payload: Array[Byte])(
      f: javax.sound.sampled.AudioInputStream => Option[A]): Option[A] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try f(in) finally in.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException | _: RuntimeException => None
    }

  /** REAL sample-level audio decode: the payload's full PCM stream
    * converted to normalized mono doubles in [−1, 1]. The JDK's
    * format-conversion providers transcode whatever the container holds
    * (8/16-bit, any endianness, N channels) to 16-bit signed
    * little-endian at the native rate; channels are averaged. Same
    * degrade-don't-fail contract as [[decodeAudio]]: None for
    * unparseable or empty payloads, never a throw.
    */
  def decodePcmMono(payload: Array[Byte]): Option[Array[Double]] =
    withAudio(payload) { raw =>
      val ch = raw.getFormat.getChannels
      val target = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        raw.getFormat.getSampleRate, 16, ch, ch * 2,
        raw.getFormat.getSampleRate, false)
      val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, raw)
      val bytes = pcm.readAllBytes()
      val n = bytes.length / 2 / ch
      if (n == 0) None
      else {
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          var sum = 0.0
          var c = 0
          while (c < ch) {
            val off = (i * ch + c) * 2
            sum += ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort / 32768.0
            c += 1
          }
          out(i) = sum / ch
          i += 1
        }
        Some(out)
      }
    }

  /** 64-bit audio energy-envelope hash over real decoded PCM — the audio
    * analog of [[aHash64]]: the sample stream splits into 64 equal time
    * segments, each segment's mean energy (Σx²/n) is compared to the
    * whole clip's mean segment energy, bit i set iff segment i is louder.
    * Invariant under uniform gain (scaling every sample by g scales every
    * energy by g², both sides of each comparison alike) and robust to
    * re-encoding; unrelated clips differ in ~32 bits. Deterministic pure
    * JVM arithmetic.
    */
  def audioHash64(samples: Array[Double]): Long = {
    val segs = 64
    val energies = new Array[Double](segs)
    val n = samples.length
    var k = 0
    while (k < segs) {
      val lo = (n.toLong * k / segs).toInt
      val hi = (n.toLong * (k + 1) / segs).toInt
      var e = 0.0
      var i = lo
      while (i < hi) { e += samples(i) * samples(i); i += 1 }
      energies(k) = if (hi > lo) e / (hi - lo) else 0.0
      k += 1
    }
    val mean = energies.sum / segs
    var h = 0L
    var i = 0
    while (i < segs) { if (energies(i) > mean) h |= (1L << i); i += 1 }
    h
  }

  /** (media_id, ahash) for every decodable audio payload — the
    * fingerprint table audio dedup runs on; the audio twin of
    * [[imageHashes]]. Undecodable payloads drop here (no samples to
    * hash; byte-exact dedup still sees them via the checksum).
    */
  def audioHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        if (r.media_type == "audio")
          decodePcmMono(r.payload).map(p => (r.media_id, audioHash64(p)))
        else None
      }
    }.toDF("media_id", "ahash")
  }

  /** Near-duplicate audio pairs (re-encodes, gain-adjusted copies) by
    * hamming distance over [[audioHash64]] fingerprints — see
    * [[bandedNearDup]] for the join shape and exact-recall guarantee.
    */
  def nearDupAudio(media: Dataset[MediaRecord], maxHamming: Int = 7): DataFrame =
    bandedNearDup(audioHashes(media), maxHamming)

  /** Decoded video container info: frame dimensions from the first
    * decodable frame, and the number of embedded frames.
    */
  case class VideoInfo(width: Int, height: Int, nFrames: Int)

  /** REAL video demux for Motion-JPEG AVI — the one video format a bare
    * JVM can fully decode with zero native deps, because MJPEG is just
    * RIFF container framing around per-frame JPEG payloads ImageIO
    * already understands. Walks the RIFF chunk tree (`RIFF`/`AVI ` →
    * `LIST movi`), collecting video stream chunks (fourcc `##dc`/`##db`)
    * that open with a JPEG SOI marker, in stream order. Returns Nil for
    * anything that is not a well-formed MJPEG AVI — same
    * degrade-don't-fail contract as [[decodeImage]]: the stub path picks
    * the record up, the job never dies on a dirty payload.
    */
  def demuxMjpeg(payload: Array[Byte]): Seq[Array[Byte]] = {
    def u32(off: Int): Long =
      (payload(off) & 0xffL) | ((payload(off + 1) & 0xffL) << 8) |
        ((payload(off + 2) & 0xffL) << 16) | ((payload(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String =
      new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (payload.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
        return Nil
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
        var off = start
        var ok = true
        while (ok && off + 8 <= end) {
          val id = fourcc(off)
          val sz = u32(off + 4)
          val dataOff = off + 8L
          val dataEnd = dataOff + sz
          if (id == "LIST" && sz >= 4 && dataOff + 4 <= end) {
            // a LIST truncated by the buffer still yields its intact children
            walk(dataOff.toInt + 4, math.min(dataEnd, end.toLong).toInt,
              inMovi || fourcc(dataOff.toInt) == "movi")
            ok = dataEnd <= end
          } else if (dataEnd > end) {
            ok = false // truncated data chunk: stop, keep what parsed
          } else if (inMovi && sz >= 2 && (id.endsWith("dc") || id.endsWith("db")) &&
            (payload(dataOff.toInt) & 0xff) == 0xff &&
            (payload(dataOff.toInt + 1) & 0xff) == 0xd8) {
            frames += java.util.Arrays.copyOfRange(payload, dataOff.toInt, dataEnd.toInt)
          }
          off = (dataEnd + (sz & 1L)).toInt // chunks pad to even offsets
        }
      }
      walk(12, math.min(payload.length.toLong, 8L + u32(4)).toInt, inMovi = false)
      frames.toSeq
    } catch {
      case _: RuntimeException => Nil
    }
  }

  /** Run `f` over an ImageIO reader positioned on a GIF payload — the
    * SECOND pure-JVM video container (after MJPEG-AVI): the JDK ships a
    * native-free GIF codec, and an animated GIF is exactly a framed
    * image sequence. None for non-GIF payloads (magic-checked first so
    * non-GIF bytes don't pay for a reader probe) or reader failures.
    */
  private def withGifReader[A](payload: Array[Byte])(
      f: javax.imageio.ImageReader => A): Option[A] = {
    if (payload.length < 6 || payload(0) != 'G' || payload(1) != 'I' || payload(2) != 'F')
      None
    else {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          reader.setInput(iis, false)
          try Some(f(reader))
          catch { case _: Exception => None }
          finally reader.dispose()
        }
      } finally iis.close()
    }
  }

  /** Animated-GIF frame decode: up to `maxFrames` frames evenly strided
    * through the sequence. Frames are decoded as stored — GIF delta
    * frames are not composited onto their logical canvas, which is the
    * right trade for fingerprinting (the majority vote in
    * [[videoHash64]] absorbs partial frames) and keeps the decode
    * allocation-flat. Empty for non-GIF payloads.
    */
  def gifFrames(payload: Array[Byte], maxFrames: Int = 16): Seq[java.awt.image.BufferedImage] =
    withGifReader(payload) { reader =>
      val n = reader.getNumImages(true)
      if (n <= 0) Seq.empty[java.awt.image.BufferedImage]
      else {
        val stride = math.max(1, n / maxFrames)
        (0 until n by stride).flatMap { i =>
          try Option(reader.read(i))
          catch { case _: Exception => None }
        }
      }
    }.getOrElse(Seq.empty)

  /** Frame count of an animated GIF without decoding pixel data. */
  def gifFrameCount(payload: Array[Byte]): Option[Int] =
    withGifReader(payload)(_.getNumImages(true)).filter(_ > 0)

  /** REAL demux+decode for YUV4MPEG2 (.y4m) — the THIRD pure-JVM video
    * container (after MJPEG-AVI and animated GIF), and the simplest
    * uncompressed one in the wild (mjpegtools/x264 interchange): an
    * ASCII stream header `YUV4MPEG2 W<w> H<h> ...\n`, then per frame an
    * ASCII `FRAME...\n` marker followed by raw planar YUV. Only the
    * luma plane is materialized (as a grayscale BufferedImage) — that
    * is the only plane [[aHash64]] fingerprinting reads — so the chroma
    * subsampling mode only sets the frame STRIDE: C420* → w·h·3/2,
    * C422 → 2·w·h, C444 → 3·w·h, Cmono → w·h (header default C420).
    * Returns (width, height, lumaFrames) evenly strided to at most
    * `maxFrames`; None for non-Y4M payloads or malformed headers — the
    * same degrade-don't-fail contract as [[demuxMjpeg]], truncated
    * trailing frames dropped.
    */
  def demuxY4m(payload: Array[Byte], maxFrames: Int = 16)
      : Option[(Int, Int, Seq[java.awt.image.BufferedImage])] =
    y4mLayout(payload).map { case (w, h, luma, offs) =>
      val stride = math.max(1, offs.length / maxFrames)
      val frames = offs.indices.by(stride).map { i =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        img.getRaster.setDataElements(0, 0, w, h,
          java.util.Arrays.copyOfRange(payload, offs(i), offs(i) + luma))
        img
      }
      (w, h, frames)
    }

  /** Header parse + FRAME-offset walk only — no pixel copies. Returns
    * (width, height, lumaBytesPerFrame, lumaPlaneOffsets) so counting
    * frames or demuxing a stride never materializes more images than
    * the caller asks for.
    */
  private def y4mLayout(payload: Array[Byte])
      : Option[(Int, Int, Int, IndexedSeq[Int])] = {
    val Magic = "YUV4MPEG2 ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    if (payload.length < Magic.length + 2 ||
      !java.util.Arrays.equals(
        java.util.Arrays.copyOf(payload, Magic.length), Magic)) return None
    val hdrEnd = payload.indexOf('\n'.toByte)
    if (hdrEnd < 0) return None
    val params = new String(payload, 0, hdrEnd,
      java.nio.charset.StandardCharsets.US_ASCII).split(' ').drop(1)
    def p(tag: Char): Option[String] =
      params.find(t => t.nonEmpty && t.head == tag).map(_.tail)
    try {
      val (w, h) = (p('W').map(_.toInt), p('H').map(_.toInt)) match {
        case (Some(w0), Some(h0)) if w0 > 0 && h0 > 0 && w0 * h0 <= (1 << 26) =>
          (w0, h0)
        case _ => return None
      }
      val luma = w * h
      val frameBytes = p('C').getOrElse("420") match {
        case c if c.startsWith("mono") => luma
        case c if c.startsWith("422") => 2 * luma
        case c if c.startsWith("444") => 3 * luma
        case _ => luma + 2 * ((w + 1) / 2) * ((h + 1) / 2) // 420 family
      }
      // collect luma-plane offsets frame by frame
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var off = hdrEnd + 1
      var ok = true
      while (ok && off + 5 <= payload.length &&
        new String(payload, off, 5,
          java.nio.charset.StandardCharsets.US_ASCII) == "FRAME") {
        val nl = payload.indexOf('\n'.toByte, off)
        if (nl < 0 || nl + 1 + frameBytes > payload.length) ok = false
        else { offs += nl + 1; off = nl + 1 + frameBytes }
      }
      if (offs.isEmpty) None else Some((w, h, luma, offs.toIndexedSeq))
    } catch {
      case _: RuntimeException => None
    }
  }

  /** Frame count of a Y4M stream without decoding (header + stride walk). */
  def y4mFrameCount(payload: Array[Byte]): Option[Int] =
    y4mLayout(payload).map(_._4.length)

  /** Decoded frames of any supported pure-JVM video container —
    * MJPEG-AVI (demux + JPEG decode), animated GIF, or YUV4MPEG2 (raw
    * luma planes) — evenly strided to at most `maxFrames`. Empty when
    * the payload is none of the three.
    */
  def videoFrames(payload: Array[Byte], maxFrames: Int = 16): Seq[java.awt.image.BufferedImage] = {
    val raw = demuxMjpeg(payload)
    if (raw.nonEmpty) {
      val stride = math.max(1, raw.length / maxFrames)
      raw.indices.by(stride).flatMap(i => decodeImageBuffered(raw(i)))
    } else demuxY4m(payload, maxFrames) match {
      case Some((_, _, frames)) => frames
      case None => gifFrames(payload, maxFrames)
    }
  }

  /** REAL video decode: dimensions of the first decodable frame + the
    * container's frame count, via [[demuxMjpeg]] + ImageIO for
    * MJPEG-AVI, [[demuxY4m]] for YUV4MPEG2, or the JDK GIF codec for
    * animated GIFs. None when the payload is no supported container or
    * no frame decodes.
    */
  def decodeVideo(payload: Array[Byte]): Option[VideoInfo] = {
    val fs = demuxMjpeg(payload)
    if (fs.nonEmpty)
      fs.view.flatMap(decodeImageBuffered(_)).headOption
        .map(img => VideoInfo(img.getWidth, img.getHeight, fs.length))
    else y4mLayout(payload) match {
      // dims come from the header and the count from the offset walk —
      // no pixel copy is ever made just to size/count a Y4M clip
      case Some((w, h, _, offs)) => Some(VideoInfo(w, h, offs.length))
      case None =>
        gifFrameCount(payload).flatMap { n =>
          gifFrames(payload, maxFrames = 1).headOption
            .map(img => VideoInfo(img.getWidth, img.getHeight, n))
        }
    }
  }

  /** 64-bit video fingerprint: per-bit MAJORITY vote across the frames'
    * perceptual [[aHash64]]es — SimHash lifted to the frame axis.
    * Re-encoding every frame at a different JPEG quality (or rescaling
    * the clip) moves individual frame hashes by a few bits but rarely
    * flips a bit's cross-frame majority, so near-dup videos land within
    * a small hamming distance while unrelated clips differ in ~32 bits.
    * Ties round down (strict majority) so the hash is deterministic.
    */
  def videoHash64(frames: Seq[java.awt.image.BufferedImage]): Long = {
    val hs = frames.map(aHash64)
    var h = 0L
    var bit = 0
    while (bit < 64) {
      var ones = 0
      hs.foreach(x => if (((x >>> bit) & 1L) == 1L) ones += 1)
      if (2 * ones > hs.length) h |= 1L << bit
      bit += 1
    }
    h
  }

  /** (media_id, ahash) for every demuxable video payload — the
    * fingerprint table video dedup runs on; the video twin of
    * [[imageHashes]]. At most `maxFrames` frames are decoded per record
    * (evenly strided through the clip) so hashing cost is bounded no
    * matter how long the video is; payloads that are neither MJPEG-AVI
    * nor animated GIF drop
    * here (byte-exact dedup still sees them via the checksum).
    */
  def videoHashes(media: Dataset[MediaRecord], maxFrames: Int = 16): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        if (r.media_type != "video") None
        else {
          val imgs = videoFrames(r.payload, maxFrames)
          if (imgs.isEmpty) None else Some((r.media_id, videoHash64(imgs)))
        }
      }
    }.toDF("media_id", "ahash")
  }

  /** Near-duplicate video pairs (per-frame re-encodes, rescaled copies)
    * by hamming distance over [[videoHash64]] fingerprints — see
    * [[bandedNearDup]] for the join shape and exact-recall guarantee.
    */
  def nearDupVideo(media: Dataset[MediaRecord], maxHamming: Int = 7): DataFrame =
    bandedNearDup(videoHashes(media), maxHamming)

  /** Per-record dispatch: real ImageIO decode for images, real
    * javax.sound.sampled header decode for audio (WAV/AIFF/AU), real
    * MJPEG-AVI demux for video (other codecs fall to the stub — the JDK
    * ships no general video codec). Audio maps into the shared feature
    * schema as width = sample rate (Hz), height = channels, n_frames =
    * PCM frame count.
    */
  def decode(r: MediaRecord): MediaFeatures = r.media_type match {
    case "image" =>
      decodeImage(r.payload) match {
        case Some((w, h)) =>
          MediaFeatures(r.media_id, r.media_type, r.n_bytes,
            width = w, height = h, n_frames = 1,
            checksum = payloadChecksum(r.payload))
        case None => decodeStub(r)
      }
    case "audio" =>
      decodeAudio(r.payload) match {
        case Some(a) =>
          MediaFeatures(r.media_id, r.media_type, r.n_bytes,
            width = a.sampleRateHz, height = a.channels,
            n_frames = math.max(0, math.min(a.frames, Int.MaxValue)).toInt,
            checksum = payloadChecksum(r.payload))
        case None => decodeStub(r)
      }
    case "video" =>
      decodeVideo(r.payload) match {
        case Some(v) =>
          MediaFeatures(r.media_id, r.media_type, r.n_bytes,
            width = v.width, height = v.height, n_frames = v.nFrames,
            checksum = payloadChecksum(r.payload))
        case None => decodeStub(r)
      }
    case _ => decodeStub(r)
  }

  /** Distributed feature extraction: mapPartitions so the decoder
    * amortizes per-partition init across the batch (here: disabling
    * ImageIO's temp-file cache once per task so decodes stay in-memory)
    * — the same shape a Pandas-UDF/mapInPandas pipeline has in PySpark.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map(decode)
    }
  }

  /** Resize: re-encode each payload to a bounded-size representation
    * (every k-th byte so the output is ≤ `maxBytes`), updating the typed
    * metadata to match — the plumbing contract of an image resize
    * (payload in → smaller payload + new dimensions out, applied
    * per-record inside mapPartitions, never on the driver). A real
    * build swaps the byte-stride for a codec's scale kernel.
    */
  def resize(media: Dataset[MediaRecord], maxBytes: Int = 256): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val stride = math.max(1, math.ceil(r.payload.length.toDouble / maxBytes).toInt)
        val out = r.payload.indices.by(stride).map(r.payload).toArray
        r.copy(payload = out, n_bytes = out.length.toLong)
      }
    }
  }

  /** Frame sampling for video/audio payloads: every `stride`-th byte
    * stands in for every k-th decoded frame; emitted as (media_id,
    * frame_idx, frame_byte) rows. Demonstrates the explode-shaped
    * output contract of a real frame sampler.
    */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    media
      .filter(r => r.media_type != "image")
      .flatMap { r =>
        r.payload.indices.by(stride).map(i => (r.media_id, i / stride, r.payload(i).toInt))
      }
      .toDF("media_id", "frame_idx", "frame_byte")
  }
}
