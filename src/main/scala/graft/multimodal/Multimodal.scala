package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns + typed
  * metadata, with decode / feature-extract as partition-local typed
  * transformations.
  *
  * The Spark-side mechanics are real and tested — schema, encoders,
  * partition-preserving execution (no shuffle: `mapPartitions` over the
  * typed Dataset keeps each batch on its executor, which is exactly how a
  * Pandas-UDF/`mapInPandas` decode stage behaves on a cluster).
  *
  * Image payloads decode for REAL via JDK-builtin `javax.imageio`
  * ([[decodeImage]]: PNG/JPEG/GIF/BMP format + dimensions, header-only).
  * Audio and video metadata ALSO decode for real, codec-free: WAV/RIFF
  * headers carry sample rate / channels / bit depth / data length in plain
  * little-endian fields ([[decodeWav]]), and MP4's `moov/mvhd` box carries
  * timescale + duration ([[decodeMp4]]) — both are pure byte-walks, no
  * media library involved, which is exactly what a 100 TB metadata-profiling
  * pass wants (O(header) bytes per blob, never a frame decode). Payloads no
  * parser claims fall back to the deterministic stub ([[decodeStub]]);
  * swap in JavaCV / ffmpeg-via-Process for sample-level work without
  * touching the plumbing.
  */
object Multimodal {

  // ImageIO's stream factories (the paths inside `ImageIO.read(InputStream)`
  // and `ImageIO.write(_, _, OutputStream)`) default to a DISK-backed cache:
  // one temp-file create/write/delete per image, and the shared tmpdir
  // serializes the 32 decode threads behind filesystem locks (measured: the
  // synth+dhash kernel pair runs 3.6x faster at 32 threads with the cache
  // off, and a 2k-image Spark stage drops from ~14 s to ~1 s of task time).
  // Memory-cached streams produce byte-identical encodes/decodes — only the
  // staging buffer moves off disk. decodeImage already constructed its
  // MemoryCacheImageInputStream explicitly; this covers the remaining
  // read/write call sites process-wide.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Typed metadata for any media payload. Modality-specific fields are
    * zero outside their modality (images: sample_rate/channels/bits/
    * duration_ms = 0; audio: width/height = 0; video duration-only:
    * everything but duration_ms = 0) — one flat schema beats a union of
    * per-modality tables for the downstream profiling queries.
    */
  final case class MediaMeta(
      doc_id: Long,
      byte_len: Long,
      format: String,
      width: Int,
      height: Int,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      duration_ms: Long,
      checksum: Long)

  /** Real image decode via `javax.imageio` (JDK-builtin — no external
    * codec libs needed for PNG/JPEG/GIF/BMP): returns format + pixel
    * dimensions when the payload is a decodable image, None otherwise.
    * Runs headless (no AWT display required: ImageIO decodes to a
    * BufferedImage raster in memory).
    */
  def decodeImage(id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    if (!looksLikeImage(bytes)) return None
    // MemoryCacheImageInputStream, NOT ImageIO.createImageInputStream: the
    // latter defaults to a DISK-backed cache — one temp-file create/delete
    // per row in the decode hot path (and decode failure on a full tmpdir)
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          // header-only: width/height come from the metadata blocks, the
          // full raster is never materialized — at 100 TB the decode stage
          // reads O(header) bytes per blob unless features need pixels
          Some(MediaMeta(
            doc_id = id,
            byte_len = bytes.length.toLong,
            format = "image/" + r.getFormatName.toLowerCase(java.util.Locale.ROOT),
            width = r.getWidth(0),
            height = r.getHeight(0),
            sample_rate = 0, channels = 0, bits = 0, duration_ms = 0L,
            checksum = checksumOf(bytes)))
        } finally r.dispose()
      }
    } catch { case _: Exception => None }
    finally if (in != null) in.close()
  }

  /** Cheap magic-byte sniff for the formats the JDK can decode. The
    * ImageIO reader-registry probe costs ~µs per call (stream creation +
    * SPI scan) — measured at +85% on the decode query when every text
    * payload pays it; this constant-time guard keeps non-image rows on
    * the fast path.
    */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    b.length >= 8 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 0xff.toByte && b(1) == 0xd8.toByte && b(2) == 0xff.toByte) || // JPEG
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b(0) == 'B' && b(1) == 'M') ||                                        // BMP
      (b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||             // TIFF LE
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))               // TIFF BE

  /** Real WAV/RIFF audio metadata, pure JDK: walks the RIFF chunk list for
    * `fmt ` (channels, sample rate, byte rate, bit depth) and `data` (byte
    * length ⇒ duration = dataLen / byteRate). Header-only — the sample data
    * is never touched. None when the payload isn't a well-formed WAV.
    */
  def decodeWav(id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    if (!looksLikeWav(bytes)) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = 12 // past RIFF<size>WAVE
      var channels = 0
      var sampleRate = 0
      var byteRate = 0
      var bits = 0
      var haveFmt = false
      var dataLen = -1L
      while (off + 8 <= bytes.length && !(haveFmt && dataLen >= 0)) {
        val cid = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val csz = bb.getInt(off + 4).toLong & 0xffffffffL
        if (cid == "fmt " && csz >= 16 && off + 24 <= bytes.length) {
          channels = bb.getShort(off + 10) & 0xffff
          sampleRate = bb.getInt(off + 12)
          byteRate = bb.getInt(off + 16)
          bits = bb.getShort(off + 22) & 0xffff
          haveFmt = true
        } else if (cid == "data" && csz <= bytes.length.toLong - off - 8) {
          // a declared data size that overruns the payload is corruption —
          // leave dataLen unset so the decode stubs instead of reporting an
          // hours-long duration from a bit-flipped length field
          dataLen = csz
        }
        // chunks are word-aligned: odd sizes carry one pad byte. A declared
        // size beyond the payload is malformed — stop instead of wrapping
        // the Int and walking backwards forever.
        if (csz > bytes.length) off = bytes.length
        else off += 8 + csz.toInt + (csz.toInt & 1)
      }
      if (!haveFmt || dataLen < 0 || sampleRate <= 0 || byteRate <= 0) None
      else Some(MediaMeta(
        doc_id = id,
        byte_len = bytes.length.toLong,
        format = "audio/wav",
        width = 0, height = 0,
        sample_rate = sampleRate,
        channels = channels,
        bits = bits,
        duration_ms = dataLen * 1000L / byteRate,
        checksum = checksumOf(bytes)))
    } catch { case _: Exception => None }
  }

  private def looksLikeWav(b: Array[Byte]): Boolean =
    b.length >= 44 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Real MP4/ISO-BMFF video duration, pure JDK: walks the top-level box
    * list for `moov`, then its children for `mvhd`, and reads timescale +
    * duration (version 0 and 1 layouts). Header-only. None when the
    * payload isn't an MP4 or carries no mvhd.
    */
  def decodeMp4(id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    if (!looksLikeMp4(bytes)) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes) // ISO-BMFF is big-endian
      // returns the BODY range of the first box named `name` in [from, to)
      def findBox(name: String, from: Int, to: Int): Option[(Int, Int)] = {
        var off = from
        while (off + 8 <= to) {
          val size0 = bb.getInt(off).toLong & 0xffffffffL
          val typ = new String(bytes, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val (bodyStart, size) =
            if (size0 == 1L && off + 16 <= to) (off + 16, bb.getLong(off + 8))
            else if (size0 == 0L) (off + 8, (to - off).toLong) // box runs to end
            else (off + 8, size0)
          if (size < 8 || off + size > to) return None // malformed
          if (typ == name) return Some((bodyStart, off + size.toInt))
          off += size.toInt
        }
        None
      }
      for {
        (moovStart, moovEnd) <- findBox("moov", 0, bytes.length)
        (b, e) <- findBox("mvhd", moovStart, moovEnd)
        version = bytes(b) & 0xff
        if (version == 0 && e - b >= 20) || (version == 1 && e - b >= 32)
        timescale = if (version == 0) bb.getInt(b + 12) else bb.getInt(b + 20)
        duration = if (version == 0) bb.getInt(b + 16).toLong & 0xffffffffL
          else bb.getLong(b + 24)
        if timescale > 0
      } yield MediaMeta(
        doc_id = id,
        byte_len = bytes.length.toLong,
        format = "video/mp4",
        width = 0, height = 0,
        sample_rate = 0, channels = 0, bits = 0,
        duration_ms = duration * 1000L / timescale,
        checksum = checksumOf(bytes))
    } catch { case _: Exception => None }
  }

  private def looksLikeMp4(b: Array[Byte]): Boolean =
    b.length >= 16 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'

  /** Synthesize a valid WAV payload (PCM header + zeroed sample data) —
    * the deterministic media generator behind [[withPayload]]'s audio rows
    * and the specs' exact-value assertions.
    */
  def synthWav(sampleRate: Int, channels: Int, bitsPerSample: Int, frames: Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && bitsPerSample > 0 && frames >= 0,
      "wav parameters must be positive")
    val blockAlign = channels * bitsPerSample / 8
    val dataLen = frames * blockAlign
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign) // byte rate
      .putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
    bb.put("data".getBytes).putInt(dataLen)
    bb.array() // remaining bytes are zeroed samples (silence)
  }

  /** Synthesize a minimal MP4 payload (`ftyp` + `moov/mvhd` v0) with the
    * given timescale/duration — deterministic video rows for
    * [[withPayload]] and the specs.
    */
  def synthMp4(timescale: Int, duration: Long): Array[Byte] = {
    require(timescale > 0 && duration >= 0, "timescale must be positive")
    // this synthesizer emits the v0 (32-bit) mvhd layout; a wider duration
    // would silently wrap in the putInt below and corrupt the fixture
    require(duration <= 0xffffffffL,
      s"duration $duration exceeds the v0 mvhd 32-bit field")
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108) // ftyp + moov(mvhd)
    bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    bb.putInt(8 + 108).put("moov".getBytes)
    bb.putInt(108).put("mvhd".getBytes)
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation, modification
      .putInt(timescale)
      .putInt(duration.toInt)
    bb.array() // rate/volume/matrix/next-track-id left zeroed
  }

  private def checksumOf(bytes: Array[Byte]): Long = {
    var ck = 1125899906842597L
    var i = 0
    while (i < bytes.length) { ck = 31 * ck + bytes(i); i += 1 }
    ck
  }

  /** Full decode: real image / WAV-audio / MP4-video metadata when a
    * parser claims the payload (each guarded by a constant-time magic-byte
    * sniff), else the deterministic stub — the pipeline stays total on
    * arbitrary bytes.
    */
  def decode(id: Long, bytes: Array[Byte]): MediaMeta =
    decodeImage(id, bytes)
      .orElse(decodeWav(id, bytes))
      .orElse(decodeMp4(id, bytes))
      .getOrElse(decodeStub(id, bytes))

  /** STUB decode: deterministic fake media properties from raw bytes.
    * Used when no real codec applies; the signature (bytes → typed meta)
    * and the partition-local batch execution are the production shape.
    */
  def decodeStub(id: Long, bytes: Array[Byte]): MediaMeta = {
    val len = bytes.length.toLong
    val head = if (bytes.nonEmpty) bytes(0) & 0xff else 0
    MediaMeta(
      doc_id = id,
      byte_len = len,
      format = if (head % 2 == 0) "fake/png" else "fake/jpeg",
      width = 16 + (head % 64),
      height = 16 + ((len % 64)).toInt,
      sample_rate = 0, channels = 0, bits = 0, duration_ms = 0L,
      checksum = checksumOf(bytes))
  }

  /** Real image resize via JDK Graphics2D (bilinear), re-encoded as PNG.
    * None for non-image payloads. Pure-JVM per-row transform — the
    * partition-local map stage of a thumbnail/normalize-resolution
    * pipeline; at scale this is exactly the shape of a `mapInPandas`
    * resize stage, minus the Python worker round-trip.
    */
  def resizeImage(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    require(w > 0 && h > 0, "target dimensions must be positive")
    if (!looksLikeImage(bytes)) return None
    try {
      val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (src == null) None
      else {
        val dst = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, w, h, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case _: Exception => None }
  }

  /** Real feature extraction: 16-bin grayscale-luminance histogram of a
    * decoded image (None for non-images). The feature vector shape a
    * downstream embedding/quality model consumes; partition-local like
    * every stage here.
    */
  def grayHistogram(bytes: Array[Byte], bins: Int = 16): Option[Array[Long]] = {
    require(bins > 0, "bins must be positive")
    if (!looksLikeImage(bytes)) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val hist = new Array[Long](bins)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            hist((lum * bins) / 256) += 1
            x += 1
          }
          y += 1
        }
        Some(hist)
      }
    } catch { case _: Exception => None }
  }

  /** 64-bit perceptual difference hash (dHash) of an image payload: decode,
    * downsample to a 9×8 grayscale grid (bilinear — the [[resizeImage]]
    * kernel, drawn straight into a gray raster), then bit (y*8+x) = 1 iff
    * gray(x+1, y) > gray(x, y). None for non-image payloads.
    *
    * Why this hash for image dedup: it fingerprints the GRADIENT STRUCTURE
    * after heavy downsampling, so the re-encodings that hide duplicates
    * from byte-level hashes — format change, rescale, uniform
    * brightness/contrast shifts (row-monotone transforms preserve every
    * x+1 > x comparison) — move few or no bits, while unrelated images
    * land ~32 bits apart (each comparison is a coin flip). Near-dup pairs
    * then come from the same 16-bit band blocking + hamming verify the
    * text simhash path (q34) uses.
    */
  def dHash64(bytes: Array[Byte]): Option[Long] = {
    if (!looksLikeImage(bytes)) return None
    try {
      val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (src == null) None
      else {
        val dst = new java.awt.image.BufferedImage(
          9, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, 9, 8, null)
        } finally g.dispose()
        val raster = dst.getRaster
        var h = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (raster.getSample(x + 1, y, 0) > raster.getSample(x, y, 0))
              h |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        Some(h)
      }
    } catch { case _: Exception => None }
  }

  /** Deterministic 64×64 block-pattern PNG (8×8 blocks, each block's gray
    * level a pure hash of (block coords, seed), plus a uniform brightness
    * offset) — the image fixture generator: same seed ⇒ the same pattern
    * at any render, different seeds ⇒ structurally unrelated patterns.
    */
  def synthImage(seed: Long, brightness: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var v = bx * 73856093L ^ by * 19349663L ^ seed * 83492791L
        v = java.lang.Long.rotateLeft(v * 0x9e3779b97f4a7c15L, 31) * 0xbf58476d1ce4e5b9L
        val base = ((v >>> 40) & 0xff).toInt
        val gray = math.max(0, math.min(255, base + brightness))
        val rgb = (gray << 16) | (gray << 8) | gray
        var y = by * 8
        while (y < by * 8 + 8) {
          var x = bx * 8
          while (x < bx * 8 + 8) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** documents → synthesized IMAGE payloads with a known duplicate
    * structure (the image analogue of [[withPayload]]'s audio/video rows):
    * docs are grouped in families of 4 by doc_id; variants 0/1/2 are the
    * same base pattern as rendered PNG, a 48×48 bilinear re-encode, and a
    * brightness-shifted render — the three re-encodings a byte-level hash
    * cannot connect — while variant 3 carries a doc-unique unrelated
    * pattern (the control row every dedup fixture needs).
    */
  def imagePayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val family = id / 4
        val payload = (id % 4) match {
          case 0 => synthImage(family)
          case 1 => resizeImage(synthImage(family), 48, 48).get
          case 2 => synthImage(family, brightness = 14)
          case _ => synthImage(-(id * 2862933555777941757L) | 1L)
        }
        (id, payload)
      })
      .toDF("doc_id", "payload")
  }

  /** Perceptual near-dup image pairs: per-payload [[dHash64]]
    * (partition-local — the payload bytes never shuffle), then the q34
    * simhash blocking shape: 4×16-bit bands equi-joined, hamming-verified
    * <= `maxHamming`. Shuffle payload per image is 8 bytes of hash + the
    * id — the 100 TB-safe property — and candidates only ever come from a
    * band-key equi-join, never a cross join.
    */
  def dhashPairs(media: DataFrame, maxHamming: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.flatMap(r => dHash64(r.payload).map(h => (r.doc_id, h))))
      .toDF("doc_id", "dh")
    bandedHammingPairs(hashes, maxHamming)
  }

  /** (doc_id, dh) dHash rows — the kernel [[dhashPairs]] hashes with,
    * factored so the PERSISTED index ([[persistDhashIndex]]) and the
    * incremental probe ([[incrementalDhashPairs]]) share it byte-for-byte
    * (the minhashBands discipline: both forms MUST band identically or
    * the incremental candidates diverge from the full run).
    */
  def dhashRows(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.flatMap(r => dHash64(r.payload).map(h => (r.doc_id, h))))
      .toDF("doc_id", "dh")
  }

  /** The fingerprint band store's schema, pinned in read-back column
    * order (data columns, then the `band` partition column). Every store
    * read goes through [[readBandStore]] with THIS schema instead of
    * inference so a FULLY-RETRACTED index stays readable: a retract whose
    * survivors are zero publishes a directory with only `_SUCCESS` (an
    * empty partitioned write emits no part files), and schema inference
    * over it throws — a total takedown would brick the index for every
    * subsequent probe. With the schema pinned, the empty store reads as
    * an empty frame and probes return no pairs, which is the correct
    * answer.
    */
  private val BandStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dh", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bhash", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.IntegerType)))

  /** [[BandStoreSchema]]'s sibling for the video index's per-video frame
    * counts (one row per video; non-partitioned, so the zero-survivor
    * retract emits only `_SUCCESS` here too).
    */
  private val VcountsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vid", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("nf", org.apache.spark.sql.types.LongType)))

  /** Schema-pinned read of a fingerprint index's band store (see
    * [[BandStoreSchema]] for why inference is never used).
    */
  private[graft] def readBandStore(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(BandStoreSchema).parquet(s"$path/dhbands")

  /** Schema-pinned read of a video index's frame-count denominators. */
  private[graft] def readVcounts(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(VcountsSchema).parquet(s"$path/vcounts")

  /** The (doc_id, dh, band, bhash) table of the shared 4×16-bit banding —
    * the join key AND the persisted-index layout (partitioned by band).
    */
  private def fingerprintBands(hashes: DataFrame): DataFrame =
    hashes.select(
      col("doc_id"), col("dh"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("dh"), b * 16).bitwiseAND(lit(0xffffL)).as("bhash"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("dh"), col("b.band").as("band"), col("b.bhash").as("bhash"))

  /** The shared 64-bit-fingerprint blocking shape (q34/q70/q87): 4×16-bit
    * bands equi-joined, hamming-verified <= `maxHamming`. Input: (doc_id,
    * dh: long). Candidates only ever come from a band-key equi-join —
    * never a cross join — and the shuffle payload per row is the 8-byte
    * hash + id.
    */
  private def bandedHammingPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val bands = fingerprintBands(hashes)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.Text.hamming64(col("x.dh"), col("y.dh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** PERSIST a 64-bit-fingerprint band index — the q66 band-index
    * contract at the media tier: the corpus hashes once, the (doc_id, dh,
    * band, bhash) table lands partitioned by `band`, and every later
    * batch probes it without rescanning a stored payload. 32 bytes per
    * item per band on disk; payload bytes never leave their partition.
    */
  private def persistFingerprintIndex(hashes: DataFrame, path: String): Unit =
    graft.ops.Bucketing.writePartitioned(
      fingerprintBands(hashes), s"$path/dhbands", Seq("band"))

  /** APPEND a batch to a persisted fingerprint index — new files in the
    * touched `band=` directories only, nothing rewrites (the
    * appendToBandIndex / IvfIndex.appendToIndex contract).
    */
  private def appendToFingerprintIndex(hashes: DataFrame, path: String): Unit =
    fingerprintBands(hashes).write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy("band")
      .parquet(s"$path/dhbands")

  /** RETRACT a batch from a persisted fingerprint index — the media
    * tier's entry in the un-absorb family (dedup q149, window q150,
    * histogram q152, vector stores IvfIndex/PqIndex), closing the one
    * store family that had persist/append only: without it a media
    * takedown leaves fingerprints behind forever. Only doc ids are
    * needed (the index is keyed by doc_id) — deliberately so, because a
    * takedown usually arrives AFTER the payload is gone; nothing is
    * re-decoded. Every doc fans out to ALL 4 bands, so unlike the
    * IVF per-bucket retract there is no partition pruning to win — the
    * honest shape is the [[graft.queries.DedupStore.retractBatch]] one: a
    * store-sized left-anti rewrite, write-aside → rename swap
    * ([[graft.ops.StoreSwap]] — probes never see a half-retracted
    * index), schema re-selected to the writer's own column order. LIFO
    * contract as everywhere in the family; at 100 TB the rewrite rides
    * the scheduled compaction (retraction is compaction with a filter).
    * A TOTAL takedown (zero survivors) publishes a directory holding
    * only `_SUCCESS` — an empty partitioned write emits no part files —
    * which stays probe-readable because every store read pins
    * [[BandStoreSchema]] instead of inferring (probes of a fully-
    * retracted index return empty results, they don't throw).
    */
  private def retractFromFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      path: String): Unit = {
    val ids = broadcast(batchIds.select(col("doc_id")))
    val store = readBandStore(spark, path)
    store.join(ids, Seq("doc_id"), "left_anti")
      .select(store.columns.map(col).toSeq: _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("band")
      .parquet(s"$path/dhbands.next")
    graft.ops.StoreSwap.swapInto(spark, s"$path/dhbands")
  }

  /** COMPACT a persisted fingerprint index CONTENT-IDENTICALLY — the
    * media instance of the [[graft.queries.DedupStore.compactBandIndex]]
    * contract: daily [[appendToFingerprintIndex]] calls add one small
    * file set per batch to each `band=` directory, so after N days a
    * probe opens N files per band. The rewrite lands few large
    * (band, bhash, doc_id)-sorted runs — sorted so parquet rowgroup
    * min/max on `bhash` turn a band probe into a rowgroup skip — sized
    * from the source's plan-time estimate (no job). Writes to `dstPath`,
    * source untouched (write-new → repoint → retire; probes never see a
    * half-written index); the `band=` partitioning probes prune on is
    * preserved exactly.
    */
  private def compactFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      targetFileBytes: Long): Unit = {
    val bands = readBandStore(spark, srcPath)
    // clamp BEFORE toInt (the IvfIndex.compactIndex guard): a missing-
    // stats Long.MaxValue estimate must degrade to many partitions, not
    // wrap negative and collapse the rewrite into one task
    val nOut = math.max(1,
      (bands.queryExecution.optimizedPlan.stats.sizeInBytes / BigInt(targetFileBytes))
        .min(BigInt(1 << 20)).toInt)
    bands
      .repartition(nOut, col("band"), col("bhash"))
      .sortWithinPartitions("band", "bhash", "doc_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("band")
      .parquet(s"$dstPath/dhbands")
  }

  /** WHOLE-CORPUS fingerprint near-dup pairs off a persisted band index —
    * [[bandedHammingPairs]] with the band table read from the store
    * instead of recomputed: the store IS `fingerprintBands(hashes)`
    * written partitioned by band, so the self-join + hamming verify +
    * distinct produce row-identical pairs with zero payload decode.
    * This is what lets a full-rebuild consumer (q191's edge union) probe
    * the same artifacts its incremental siblings maintain, instead of
    * re-decoding the corpus per call.
    */
  private[graft] def storedHammingPairs(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxHamming: Int): DataFrame = {
    val bands = readBandStore(spark, path)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.Text.hamming64(col("x.dh"), col("y.dh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** WHOLE-CORPUS video near-dup pairs off a persisted frame index —
    * [[videoPairs]]' frame-match rollup with the frame-hash bands AND the
    * per-video frame-count denominators both read from the store (the
    * extraction/decode kernel never runs). Row-identical to [[videoPairs]]
    * over the same corpus: the stored bands are `fingerprintBands` of the
    * same packed-fid hash rows, and `vcounts` is the same grouping the
    * in-memory form aggregates.
    */
  private[graft] def storedVideoPairs(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxHamming: Int,
      minOverlap: Double): DataFrame = {
    val counts = readVcounts(spark, path)
    val framePairs = storedHammingPairs(spark, path, maxHamming)
      .select(
        (col("a") / FidWidth).cast("long").as("va"), col("a").as("fa"),
        (col("b") / FidWidth).cast("long").as("vb"), col("b").as("fb"))
      .filter(col("va") < col("vb"))
    framePairs
      .groupBy(col("va"), col("vb"))
      .agg(least(countDistinct(col("fa")), countDistinct(col("fb"))).as("matched_frames"))
      .join(counts.withColumnRenamed("vid", "va").withColumnRenamed("nf", "nf_a"), "va")
      .join(counts.withColumnRenamed("vid", "vb").withColumnRenamed("nf", "nf_b"), "vb")
      .select(
        col("va").as("a"), col("vb").as("b"), col("matched_frames"),
        (col("matched_frames").cast("double") / least(col("nf_a"), col("nf_b")))
          .as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** INCREMENTAL fingerprint near-dup — q66's contract for any 64-bit
    * media fingerprint: the new batch's bands equi-join the PERSISTED
    * index (new vs existing; no stored payload ever read) and the batch
    * self-checks within itself, both arms hamming-verified. Output
    * (new_id, existing_id, hamming); within-batch pairs keep
    * new_id < existing_id (the q66 convention). Shuffle payload: 8-byte
    * hashes + ids, whatever the corpus size.
    */
  private def incrementalFingerprintPairs(
      spark: org.apache.spark.sql.SparkSession,
      newHashes: DataFrame,
      path: String,
      maxHamming: Int): DataFrame = {
    // snap the batch hash rows ONCE (the [[incrementalVideoPairs]]
    // discipline): the vs-store band arm and the within-batch self-join
    // otherwise each re-run the payload decode+hash kernel — the dominant
    // per-call cost of a media probe at any scale
    val fh = org.apache.spark.sql.graft.shims.snap(newHashes, "fingerprint.batch")
    incrementalFingerprintPairsOver(fh, readBandStore(spark, path), maxHamming)
  }

  /** [[incrementalFingerprintPairs]] over an ALREADY-LOADED store band
    * table — factored so the q185/q186 registrations can dump the store
    * rows + batch hashes pid-scoped and probe the READBACK (the q183
    * dump-readback oracle move: DuckDB replays the band equi-join and
    * the `bit_count(xor(...))` hamming verify over the same rows).
    */
  private[graft] def incrementalFingerprintPairsOver(
      newHashes: DataFrame,
      store: DataFrame,
      maxHamming: Int): DataFrame = {
    val nb = fingerprintBands(newHashes)
    val vsStore = nb.as("x")
      .join(store.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(
        col("x.doc_id").as("new_id"), col("y.doc_id").as("existing_id"),
        graft.functions.Text.hamming64(col("x.dh"), col("y.dh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val within = bandedHammingPairs(newHashes, maxHamming)
      .select(col("a").as("new_id"), col("b").as("existing_id"), col("hamming"))
    vsStore.unionByName(within)
  }

  /** Verified fingerprint pairs AMONG a bounded doc set, index-backed —
    * the media arm of a bridge-split retract (the
    * [[graft.queries.DedupStore.retractManifest]] survivor-pairs shape): the
    * store's band rows restricted to the survivor set equi-join on
    * (band, bhash) and hamming-verify off the STORED dh values, so no
    * payload is ever re-decoded. The corpus-sized store streams against
    * the hinted (broadcast-gated) survivor set; output (a, b), a < b.
    */
  private[graft] def survivorFingerprintPairs(
      store: DataFrame,
      survivors: DataFrame,
      maxHamming: Int,
      hinted: DataFrame => DataFrame): DataFrame = {
    val sb = store.join(hinted(survivors.select(col("doc_id"))), Seq("doc_id"))
    sb.as("x")
      .join(sb.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.Text.hamming64(col("x.dh"), col("y.dh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"))
  }

  /** [[survivorFingerprintPairs]] at FRAME grain — the video arm of a
    * bridge-split retract: the frame index's band rows restricted to the
    * survivor VIDEO set (band keys are packed fids, so membership is
    * `fid / FidWidth ∈ survivors`) self-join on (band, bhash),
    * hamming-verify off the stored dh values, and roll up per video pair
    * with [[videoPairs]]' min-side overlap — denominators from the
    * persisted vcounts, never a payload re-decode. Output (a, b), a < b.
    */
  private[graft] def survivorVideoPairs(
      store: DataFrame,
      storeCounts: DataFrame,
      survivors: DataFrame,
      maxHamming: Int,
      minOverlap: Double,
      hinted: DataFrame => DataFrame): DataFrame = {
    val sv = hinted(survivors.select(col("doc_id").as("vid")))
    val sb = store
      .withColumn("vid", (col("doc_id") / FidWidth).cast("long"))
      .join(sv, Seq("vid"))
    val counts = storeCounts.join(sv, Seq("vid"))
    sb.as("x")
      .join(sb.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.vid") < col("y.vid"))
      .select(
        col("x.vid").as("va"), col("x.doc_id").as("fa"),
        col("y.vid").as("vb"), col("y.doc_id").as("fb"),
        graft.functions.Text.hamming64(col("x.dh"), col("y.dh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("va"), col("vb"))
      .agg(least(countDistinct(col("fa")), countDistinct(col("fb")))
        .as("matched_frames"))
      .join(counts.withColumnRenamed("vid", "va")
        .withColumnRenamed("nf", "nf_a"), "va")
      .join(counts.withColumnRenamed("vid", "vb")
        .withColumnRenamed("nf", "nf_b"), "vb")
      .filter(
        col("matched_frames").cast("double") / least(col("nf_a"), col("nf_b"))
          >= minOverlap)
      .select(col("va").as("a"), col("vb").as("b"))
  }

  /** The image instance of the fingerprint-index trio (q185). */
  def persistDhashIndex(media: DataFrame, path: String): Unit =
    persistFingerprintIndex(dhashRows(media), path)

  def appendToDhashIndex(media: DataFrame, path: String): Unit =
    appendToFingerprintIndex(dhashRows(media), path)

  def incrementalDhashPairs(
      spark: org.apache.spark.sql.SparkSession,
      newMedia: DataFrame,
      path: String,
      maxHamming: Int): DataFrame =
    incrementalFingerprintPairs(spark, dhashRows(newMedia), path, maxHamming)

  /** Un-absorb a batch from the image index by doc id (LIFO; no payload
    * needed — see [[retractFromFingerprintIndex]]).
    */
  def retractFromDhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      path: String): Unit =
    retractFromFingerprintIndex(spark, batchIds, path)

  /** Content-identical defragmentation of the image index (write-new →
    * repoint; see [[compactFingerprintIndex]]).
    */
  def compactDhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    compactFingerprintIndex(spark, srcPath, dstPath, targetFileBytes)

  /** (doc_id, dh) audio-fingerprint rows — [[audioPairs]]' kernel,
    * factored for the persisted-index forms exactly like [[dhashRows]].
    */
  def audioHashRows(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.flatMap(r => audioFingerprint64(r.payload).map(h => (r.doc_id, h))))
      .toDF("doc_id", "dh")
  }

  /** The audio instance of the fingerprint-index trio (q186): identical
    * mechanics to the image index — only the 64-bit kernel differs.
    */
  def persistAudioIndex(media: DataFrame, path: String): Unit =
    persistFingerprintIndex(audioHashRows(media), path)

  def appendToAudioIndex(media: DataFrame, path: String): Unit =
    appendToFingerprintIndex(audioHashRows(media), path)

  def incrementalAudioPairs(
      spark: org.apache.spark.sql.SparkSession,
      newMedia: DataFrame,
      path: String,
      maxHamming: Int): DataFrame =
    incrementalFingerprintPairs(spark, audioHashRows(newMedia), path, maxHamming)

  /** Un-absorb a batch from the audio index by doc id (LIFO; see
    * [[retractFromFingerprintIndex]]).
    */
  def retractFromAudioIndex(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      path: String): Unit =
    retractFromFingerprintIndex(spark, batchIds, path)

  /** Content-identical defragmentation of the audio index (see
    * [[compactFingerprintIndex]]).
    */
  def compactAudioIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    compactFingerprintIndex(spark, srcPath, dstPath, targetFileBytes)

  /** WAV payload → (sampleRate, mono float samples in [-1, 1]). 16-bit PCM
    * only (the fingerprint tier's contract; other depths return None and
    * the row simply drops out of the audio-dedup path). Channel samples
    * are averaged to mono.
    */
  def wavSamples(bytes: Array[Byte]): Option[(Int, Array[Float])] = {
    if (!looksLikeWav(bytes)) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = 12
      var channels = 0
      var sampleRate = 0
      var bits = 0
      var haveFmt = false
      var dataOff = -1
      var dataLen = -1
      while (off + 8 <= bytes.length && !(haveFmt && dataLen >= 0)) {
        val cid = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val csz = bb.getInt(off + 4).toLong & 0xffffffffL
        if (cid == "fmt " && csz >= 16 && off + 24 <= bytes.length) {
          channels = bb.getShort(off + 10) & 0xffff
          sampleRate = bb.getInt(off + 12)
          bits = bb.getShort(off + 22) & 0xffff
          haveFmt = true
        } else if (cid == "data" && csz <= bytes.length.toLong - off - 8) {
          dataOff = off + 8
          dataLen = csz.toInt
        }
        if (csz > bytes.length) off = bytes.length
        else off += 8 + csz.toInt + (csz.toInt & 1)
      }
      if (!haveFmt || dataOff < 0 || bits != 16 || channels <= 0 || sampleRate <= 0) None
      else {
        val frames = dataLen / (2 * channels)
        val mono = new Array[Float](frames)
        var f = 0
        while (f < frames) {
          var c = 0
          var acc = 0.0f
          while (c < channels) {
            acc += bb.getShort(dataOff + 2 * (f * channels + c)) / 32768.0f
            c += 1
          }
          mono(f) = acc / channels
          f += 1
        }
        Some((sampleRate, mono))
      }
    } catch { case _: Exception => None }
  }

  /** Synthesize a mono 16-bit WAV carrying an actual signal: a sum of
    * sinusoids at `freqsHz` under a slow amplitude modulation (`modHz`),
    * scaled by `gain`. Deterministic — the audio-dedup fixtures' twin
    * generator ([[audioPayloads]]) and the spec's planted families both
    * derive from it.
    */
  def synthWavTone(
      sampleRate: Int,
      frames: Int,
      freqsHz: Seq[Double],
      gain: Double,
      modHz: Double): Array[Byte] = {
    val buf = synthWav(sampleRate, channels = 1, bitsPerSample = 16, frames = frames)
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var f = 0
    while (f < frames) {
      val t = f.toDouble / sampleRate
      var x = 0.0
      freqsHz.foreach { hz => x += math.sin(2 * math.Pi * hz * t) }
      val env = 0.55 + 0.45 * math.sin(2 * math.Pi * modHz * t)
      val v = gain * env * x / math.max(freqsHz.size, 1)
      bb.putShort(44 + 2 * f,
        math.max(-32768, math.min(32767, math.round(v * 32767).toInt)).toShort)
      f += 1
    }
    buf
  }

  /** Short-window Goertzel band energy: sum of 64-sample-window tone
    * energies at `freqHz` over the whole signal (O(n) per probe, no FFT
    * library). The SHORT window is load-bearing: it widens each probe's
    * main lobe to ~fs/64 Hz, so a small pitch shift moves energy within a
    * probe's lobe instead of off a knife-edge bin — long-window variants
    * measured 2-4× more bit flips on pitch twins.
    */
  private def winGoertzel(s: Array[Float], fs: Double, freqHz: Double): Double = {
    val win = 64
    val c = 2 * math.cos(2 * math.Pi * freqHz / fs)
    var out = 0.0
    var w = 0
    while (w + win <= s.length) {
      var s1 = 0.0
      var s2 = 0.0
      var i = w
      while (i < w + win) {
        val s0 = s(i) + c * s1 - s2
        s2 = s1
        s1 = s0
        i += 1
      }
      out += s1 * s1 + s2 * s2 - c * s1 * s2
      w += win
    }
    out
  }

  /** 64-bit audio fingerprint, level-exact and small-pitch-stable:
    *
    *   - bits 0..31 — amplitude envelope: consecutive-segment energy
    *     comparisons over 33 equal time segments. Sign-of-RATIO encoding
    *     (`e(i+1) > 1.05·e(i)`): scaling every sample cancels the ratio
    *     EXACTLY, and the 5% multiplicative margin absorbs 16-bit
    *     requantization jitter on near-flat envelope stretches; a pitch
    *     shift leaves the envelope untouched.
    *   - bits 32..63 — spectral shape: 36 log-spaced short-window Goertzel
    *     band energies (100–3800 Hz); bit b = `E(b+4) > 1.05·E(b)` — the
    *     4-band comparison gap spans ~60% in frequency, so comparisons run
    *     peak-vs-valley (decisive) instead of neighbor-vs-neighbor
    *     (tie-prone). A small pitch shift slides the log-spectrum by a
    *     fraction of one 12%-spaced band; only comparisons whose difference
    *     crosses zero in that fraction can flip.
    *
    * Measured on the [[audioPayloads]] twin families (40 families): level
    * twins hamming 0, 0.5%-pitch twins ≤ 6 at recall 0.98, cross-family
    * min hamming 10. Near-tie consecutive comparisons of flat statistics
    * are deliberately absent — a zero-crossing-rate variant measured
    * 13-bit average flips on pitch twins (constant-frequency content makes
    * consecutive zcr a coin toss).
    *
    * None for undecodable or sub-segment payloads.
    */
  def audioFingerprint64(bytes: Array[Byte]): Option[Long] =
    wavSamples(bytes).flatMap { case (fs, s) =>
      val nEnv = 33
      if (s.length < 2 * nEnv) None
      else {
        var h = 0L
        val energy = new Array[Double](nEnv)
        var seg = 0
        while (seg < nEnv) {
          val lo = (seg.toLong * s.length / nEnv).toInt
          val hi = ((seg + 1).toLong * s.length / nEnv).toInt
          var i = lo
          var e = 0.0
          while (i < hi) { e += s(i).toDouble * s(i); i += 1 }
          energy(seg) = e
          seg += 1
        }
        var i = 0
        while (i < 32) {
          if (energy(i + 1) > 1.05 * energy(i)) h |= 1L << i
          i += 1
        }
        val nB = 36
        val fLo = 100.0
        val fHi = math.min(3800.0, fs / 2.1)
        val spec = Array.tabulate(nB)(b =>
          winGoertzel(s, fs, fLo * math.pow(fHi / fLo, b.toDouble / (nB - 1))))
        var b = 4
        while (b < nB) {
          if (spec(b) > 1.05 * spec(b - 4)) h |= 1L << (32 + b - 4)
          b += 1
        }
        Some(h)
      }
    }

  /** documents → WAV payloads with a KNOWN duplicate structure (the audio
    * twin of [[imagePayloads]]): ids group into families of 4 where three
    * members carry the SAME family-keyed tone — the base render, a level-
    * shifted twin (2.5× gain), and a ~2% pitch-shifted twin — and the
    * fourth an unrelated tone mix. Synthesis is per-row and partition-local
    * (at 100 TB this stage is the real audio decode; payload bytes still
    * never shuffle — only the 8-byte fingerprints do).
    */
  def audioPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id => (id, familyTone(id)) })
      .toDF("doc_id", "payload")
  }

  /** The audio fixture generator behind [[audioPayloads]], exposed for the
    * spec. ids group into families of 4: base render, 2.5×-gain level twin,
    * 0.5%-pitch twin, unrelated control. Family timbres are hash-spread —
    * four tones stratified-log-spaced over 130–3300 Hz with hash-uniform
    * jitter, hash-uniform modulation rate and length — so families are
    * spectrally well-separated (adjacent-integer families previously
    * differed by less than one analysis lobe and collided).
    */
  def familyTone(id: Long): Array[Byte] = {
    def tone(fam: Long, gain: Double, pitch: Double): Array[Byte] = {
      val hsh = fam * 0x9E3779B97F4A7C15L
      def u(k: Int) = ((hsh >>> (k * 8)) & 0xff).toDouble / 255.0
      synthWavTone(
        sampleRate = 8000,
        frames = 4400 + ((hsh >>> 40) & 0x7ff).toInt,
        freqsHz = (0 until 4).map(k =>
          130.0 * math.pow(3300.0 / 130.0, (k + u(k)) / 4.0) * pitch),
        gain = gain,
        modHz = 1.0 + 7.0 * u(4))
    }
    (id % 4) match {
      case 0 => tone(id / 4, gain = 0.3, pitch = 1.0)
      case 1 => tone(id / 4, gain = 0.75, pitch = 1.0) // level-shifted twin
      case 2 => tone(id / 4, gain = 0.3, pitch = 1.005) // pitch-shifted twin
      case _ => tone(-(id * 2862933555777941757L) | 1L, gain = 0.5, pitch = 1.0)
    }
  }

  /** Audio near-dup pairs: per-payload [[audioFingerprint64]] (partition-
    * local — payload bytes never shuffle), then the shared 4×16-bit band
    * blocking, hamming-verified <= `maxHamming`.
    */
  def audioPairs(media: DataFrame, maxHamming: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.flatMap(r => audioFingerprint64(r.payload).map(h => (r.doc_id, h))))
      .toDF("doc_id", "dh")
    bandedHammingPairs(hashes, maxHamming)
  }

  final case class MediaFrame(doc_id: Long, payload: Array[Byte], resized: Boolean)

  /** Partition-local resize stage. Image payloads are resized to (w, h);
    * non-image OR undecodable payloads pass through unchanged and carry
    * `resized = false` — a downstream stage expecting uniform frames must
    * filter on the flag instead of discovering mixed dimensions later.
    */
  def resizeStage(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.map { r =>
        resizeImage(r.payload, w, h) match {
          case Some(b) => MediaFrame(r.doc_id, b, resized = true)
          case None    => MediaFrame(r.doc_id, r.payload, resized = false)
        }
      })
      .toDF()
  }

  /** Partition-local decode with the real-image path enabled. */
  def decodeMetaReal(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.map(r => decode(r.doc_id, r.payload)))
  }

  /** documents → opaque binary payload column (at 100 TB this column is
    * the large blob you NEVER shuffle — all decode/feature stages below
    * are partition-local). To exercise the real audio/video decode paths,
    * a deterministic doc_id-keyed slice of rows carries synthesized-but-
    * valid media bytes instead of text: doc_id ≡ 3 (mod 10) → WAV with
    * id-derived sample rate / channels / length, doc_id ≡ 7 (mod 10) →
    * MP4 with id-derived duration; all other rows carry the document's
    * UTF-8 bytes (null text → empty payload: the decode stage must never
    * NPE on a legal nullable column).
    */
  def withPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val payload =
          if (id % 10 == 3)
            synthWav(
              sampleRate = (8000 * (1 + id % 3)).toInt,
              channels = (1 + id % 2).toInt,
              bitsPerSample = 16,
              frames = (800 + id % 1600).toInt)
          else if (id % 10 == 7)
            synthMp4(timescale = 600, duration = 600 + id % 9000)
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (id, payload)
      })
      .toDF("doc_id", "payload")
  }

  /** Frames per synthesized video and the fid packing width: frame ids
    * pack as `doc_id * 64 + frame_idx`, so extraction truncates at 64
    * frames — far above [[VideoFrames]] and documented on [[videoPairs]].
    */
  val VideoFrames = 6
  private[graft] val FidWidth = 64L

  /** Per-frame seed for a family's frame `f` — splitmix-style finalizer so
    * adjacent families decorrelate (the audio fixture's hash-spread
    * lesson: adjacent-integer seeds must not produce near-identical
    * content).
    */
  private def frameSeed(family: Long, f: Int): Long = {
    var z = family * 0x9e3779b97f4a7c15L + f * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Synthesize a video container: `ftyp` + `moov/mvhd` (so [[decodeMp4]]
    * still reads a real duration) + an `mdat` box of stored PNG frames —
    * the MJPEG storage shape with PNG standing in for JPEG so the JDK can
    * decode frames without codec libraries. The synthetic part is ONLY the
    * codec; everything downstream — box walking, frame-grammar splitting,
    * per-frame decode + dHash, banded pair generation — is the real
    * pipeline a production frame-decoder would feed.
    */
  def synthVideo(frameSeeds: Seq[Long], brightness: Int = 0): Array[Byte] = {
    require(frameSeeds.nonEmpty && frameSeeds.length < FidWidth,
      s"frame count must be in [1, $FidWidth)")
    val frames = frameSeeds.map(s => synthImage(s, brightness))
    val mdatLen = 8 + frames.map(_.length).sum
    val head = synthMp4(timescale = 600, duration = frameSeeds.length * 100L)
    val bb = java.nio.ByteBuffer.allocate(head.length + mdatLen)
    bb.put(head)
    bb.putInt(mdatLen).put("mdat".getBytes)
    frames.foreach(bb.put)
    bb.array()
  }

  /** Real frame extraction: walk the top-level ISO-BMFF box list for
    * `mdat`, then split its body on the PNG chunk grammar (8-byte
    * signature, then length-prefixed chunks through IEND — PNG is
    * self-delimiting, so stored frames need no external size table).
    * None when the payload isn't an MP4; Some(empty) when the mdat is
    * absent or carries no well-formed frames. Truncates at 64 frames (the
    * fid packing width in [[videoPairs]]).
    */
  def videoFrames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (!looksLikeMp4(bytes)) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      var off = 0
      var mdat: Option[(Int, Int)] = None
      while (off + 8 <= bytes.length && mdat.isEmpty) {
        val size0 = bb.getInt(off).toLong & 0xffffffffL
        val typ = new String(bytes, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val (bodyStart, size) =
          if (size0 == 1L && off + 16 <= bytes.length) (off + 16, bb.getLong(off + 8))
          else if (size0 == 0L) (off + 8, (bytes.length - off).toLong)
          else (off + 8, size0)
        if (size < 8) return Some(Nil) // malformed box header
        if (typ == "mdat")
          // a torn tail clamps instead of rejecting: the frame splitter
          // below keeps every whole frame and drops only the torn one
          mdat = Some((bodyStart, math.min(off + size, bytes.length.toLong).toInt))
        else if (off + size > bytes.length) return Some(Nil)
        off += size.toInt
      }
      mdat match {
        case None => Some(Nil)
        case Some((start, end)) =>
          val out = Seq.newBuilder[Array[Byte]]
          var p = start
          var n = 0
          while (p + 8 <= end && n < FidWidth &&
            bytes(p) == 0x89.toByte && bytes(p + 1) == 'P' &&
            bytes(p + 2) == 'N' && bytes(p + 3) == 'G') {
            var q = p + 8 // past the 8-byte PNG signature
            var done = false
            var ok = true
            while (!done && ok) {
              if (q + 8 > end) ok = false
              else {
                val len = bb.getInt(q).toLong & 0xffffffffL
                val ctype = new String(
                  bytes, q + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
                val next = q + 12 + len
                if (next > end) ok = false
                else {
                  q = next.toInt
                  if (ctype == "IEND") done = true
                }
              }
            }
            if (!ok) { p = end } // truncated frame: stop, keep what parsed
            else {
              out += java.util.Arrays.copyOfRange(bytes, p, q)
              n += 1
              p = q
            }
          }
          Some(out.result())
      }
    } catch { case _: Exception => None }
  }

  /** documents → synthesized VIDEO payloads with a KNOWN duplicate
    * structure (the video member of the [[imagePayloads]] /
    * [[audioPayloads]] fixture family). Every fourth doc_id carries a
    * video, in families of 4 (family = doc_id / 16, variant =
    * (doc_id / 4) % 4): variant 0 the base render ([[VideoFrames]] frames),
    * 1 a uniformly brightness-shifted re-render (pixel-different,
    * gradient-identical — the re-encode a byte hash cannot connect), 2 a
    * TRIMMED cut (first and last frame dropped — the clipped repost case),
    * 3 an unrelated control. All other doc_ids carry the document's UTF-8
    * text bytes, so the registered query itself exercises the non-video
    * drop-out path.
    */
  def videoPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val payload =
          if (id % 4 != 0) text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          else {
            val family = id / 16
            val base = (0 until VideoFrames).map(f => frameSeed(family, f))
            ((id / 4) % 4) match {
              case 0 => synthVideo(base)
              case 1 => synthVideo(base, brightness = 14)
              case 2 => synthVideo(base.slice(1, VideoFrames - 1))
              case _ => synthVideo(
                (0 until VideoFrames).map(f => frameSeed(-(id * 2862933555777941757L) | 1L, f)))
            }
          }
        (id, payload)
      })
      .toDF("doc_id", "payload")
  }

  /** Video near-dup pairs: extract frames partition-local ([[videoFrames]]
    * — payload bytes never shuffle), dHash each frame, and find videos
    * sharing enough near-identical frames. Frame ids pack as
    * `doc_id * 64 + frame_idx` so the per-frame banding reuses the shared
    * 4×16-bit blocking — the shuffle carries 16 bytes per FRAME, never
    * pixels. Frame-level matches roll up per video pair: `matched` =
    * min over both sides of the distinct matched-frame count (robust to
    * one frame matching several), `overlap` = matched / min(frame counts),
    * and pairs keep when overlap >= `minOverlap` — which is what makes the
    * tier trim-robust: a clipped cut still overlaps 1.0 on the min side.
    */
  def videoPairs(media: DataFrame, maxHamming: Int, minOverlap: Double): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val extracted = media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        videoFrames(r.payload).getOrElse(Nil).iterator.zipWithIndex.flatMap {
          case (frame, idx) => dHash64(frame).map(h => (r.doc_id * FidWidth + idx, h))
        }
      })
      .toDF("doc_id", "dh") // doc_id here is the packed fid
    // The band self-join and the frame-count aggregate would each recompute
    // frame extraction + per-frame decode — by far the dominant cost (the
    // payload decode IS the query at any scale). Materialize the 16-byte-
    // per-frame hash table ONCE; the snap installs the measured checkpoint
    // size so the joins above it are planned honestly (the q55/q69 idiom).
    val frameHashes = org.apache.spark.sql.graft.shims.snap(extracted, "video.frameHashes")
    val counts = frameHashes
      .groupBy((col("doc_id") / FidWidth).cast("long").as("vid"))
      .agg(count(lit(1)).as("nf"))
    val framePairs = bandedHammingPairs(frameHashes, maxHamming)
      .select(
        (col("a") / FidWidth).cast("long").as("va"), col("a").as("fa"),
        (col("b") / FidWidth).cast("long").as("vb"), col("b").as("fb"))
      .filter(col("va") < col("vb"))
    framePairs
      .groupBy(col("va"), col("vb"))
      .agg(least(countDistinct(col("fa")), countDistinct(col("fb"))).as("matched_frames"))
      .join(counts.withColumnRenamed("vid", "va").withColumnRenamed("nf", "nf_a"), "va")
      .join(counts.withColumnRenamed("vid", "vb").withColumnRenamed("nf", "nf_b"), "vb")
      .select(
        col("va").as("a"), col("vb").as("b"), col("matched_frames"),
        (col("matched_frames").cast("double") / least(col("nf_a"), col("nf_b")))
          .as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** (packed-fid, dh) video frame-hash rows — [[videoPairs]]' extraction
    * kernel factored for the persisted-index forms (the [[dhashRows]]
    * discipline): frame split + per-frame dHash stay partition-local,
    * only 16 bytes per frame ever shuffle.
    */
  def videoHashRows(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        videoFrames(r.payload).getOrElse(Nil).iterator.zipWithIndex.flatMap {
          case (frame, idx) => dHash64(frame).map(h => (r.doc_id * FidWidth + idx, h))
        }
      })
      .toDF("doc_id", "dh") // doc_id here is the packed fid
  }

  /** PERSIST the video frame index — the media-index contract at frame
    * grain: the corpus decodes ONCE (the decode is the dominant cost at
    * any scale), its frame-hash bands land partitioned by `band`, and the
    * per-video frame counts — the overlap verify's denominators — persist
    * alongside so a probe never re-opens a stored payload.
    */
  def persistVideoIndex(media: DataFrame, path: String): Unit = {
    val fh = org.apache.spark.sql.graft.shims.snap(videoHashRows(media), "video.index")
    graft.ops.Bucketing.writePartitioned(
      fingerprintBands(fh), s"$path/dhbands", Seq("band"))
    fh.groupBy((col("doc_id") / FidWidth).cast("long").as("vid"))
      .agg(count(lit(1)).as("nf"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd").parquet(s"$path/vcounts")
  }

  /** APPEND a video batch to a persisted frame index: new band files plus
    * the batch's (vid, nf) count rows — both append-only.
    */
  def appendToVideoIndex(media: DataFrame, path: String): Unit = {
    val fh = org.apache.spark.sql.graft.shims.snap(videoHashRows(media), "video.append")
    fingerprintBands(fh).write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy("band")
      .parquet(s"$path/dhbands")
    fh.groupBy((col("doc_id") / FidWidth).cast("long").as("vid"))
      .agg(count(lit(1)).as("nf"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "zstd").parquet(s"$path/vcounts")
  }

  /** Un-absorb a video batch from the frame index by VIDEO id (LIFO; no
    * payload re-decoded — the whole point of a media retract): the band
    * store is keyed by packed fid, so the batch's frame rows are named by
    * `fid / FidWidth ∈ batch` rather than a direct id join; the vcounts
    * denominators retract by vid directly. Both artifacts rewrite
    * write-aside and swap in sequence — a complete version of each exists
    * on disk at every instant, and a probe between the two swaps sees at
    * worst a retracted band store with stale denominators for videos it
    * can no longer match (overlap denominators join on surviving pairs
    * only, so the stale rows are unreachable).
    */
  def retractFromVideoIndex(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      path: String): Unit = {
    val ids = broadcast(batchIds.select(col("doc_id").as("vid")))
    val store = readBandStore(spark, path)
    store.withColumn("vid", (col("doc_id") / FidWidth).cast("long"))
      .join(ids, Seq("vid"), "left_anti")
      .select(store.columns.map(col).toSeq: _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("band")
      .parquet(s"$path/dhbands.next")
    val counts = readVcounts(spark, path)
    counts.join(ids, Seq("vid"), "left_anti")
      .select(counts.columns.map(col).toSeq: _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(s"$path/vcounts.next")
    graft.ops.StoreSwap.swapInto(spark, s"$path/dhbands")
    graft.ops.StoreSwap.swapInto(spark, s"$path/vcounts")
  }

  /** Content-identical defragmentation of BOTH video-index artifacts —
    * the frame bands via the shared rewrite and the vcounts denominators
    * as a (vid)-sorted run (tiny — one row per video — but probes open it
    * every call, so fragmentation costs every probe).
    */
  def compactVideoIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    compactFingerprintIndex(spark, srcPath, dstPath, targetFileBytes)
    val counts = readVcounts(spark, srcPath)
    val nOut = math.max(1,
      (counts.queryExecution.optimizedPlan.stats.sizeInBytes / BigInt(targetFileBytes))
        .min(BigInt(1 << 20)).toInt)
    counts
      .repartition(nOut, col("vid"))
      .sortWithinPartitions("vid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(s"$dstPath/vcounts")
  }

  /** INCREMENTAL video near-dup — q66's contract at frame grain: the new
    * batch decodes once, its frame bands probe the PERSISTED index (no
    * stored video is re-opened — the denominators come from the persisted
    * vcounts), the batch self-checks within itself, and both arms apply
    * [[videoPairs]]' overlap verify (matched frames ≥ minOverlap of the
    * smaller side). Output (new_id, existing_id, matched_frames, overlap);
    * within-batch pairs keep new_id < existing_id.
    */
  def incrementalVideoPairs(
      spark: org.apache.spark.sql.SparkSession,
      newMedia: DataFrame,
      path: String,
      maxHamming: Int,
      minOverlap: Double): DataFrame = {
    val fh = org.apache.spark.sql.graft.shims.snap(videoHashRows(newMedia), "video.probe")
    incrementalVideoPairsOver(
      fh, readBandStore(spark, path), readVcounts(spark, path),
      maxHamming, minOverlap)
  }

  /** [[incrementalVideoPairs]] over ALREADY-LOADED batch frame hashes +
    * store artifacts — the dump-readback factoring
    * ([[incrementalFingerprintPairsOver]]) at frame grain, so q187's
    * oracle can replay the band join, hamming verify AND the overlap
    * fold (denominators from the dumped vcounts) in DuckDB.
    */
  private[graft] def incrementalVideoPairsOver(
      fh: DataFrame,
      store: DataFrame,
      storeCounts: DataFrame,
      maxHamming: Int,
      minOverlap: Double): DataFrame = {
    val newCounts = fh
      .groupBy((col("doc_id") / FidWidth).cast("long").as("vid"))
      .agg(count(lit(1)).as("nf"))
    val nb = fingerprintBands(fh)
    val vsStore = nb.as("x")
      .join(store.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash"))
      .select(
        col("x.doc_id").as("fa"), col("y.doc_id").as("fb"),
        graft.functions.Text.hamming64(col("x.dh"), col("y.dh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select(
        (col("fa") / FidWidth).cast("long").as("va"), col("fa"),
        (col("fb") / FidWidth).cast("long").as("vb"), col("fb"))
      .filter(col("va") =!= col("vb"))
      .groupBy(col("va"), col("vb"))
      .agg(least(countDistinct(col("fa")), countDistinct(col("fb")))
        .as("matched_frames"))
      .join(newCounts.withColumnRenamed("vid", "va")
        .withColumnRenamed("nf", "nf_a"), "va")
      .join(storeCounts.withColumnRenamed("vid", "vb")
        .withColumnRenamed("nf", "nf_b"), "vb")
      .select(
        col("va").as("new_id"), col("vb").as("existing_id"),
        col("matched_frames"),
        (col("matched_frames").cast("double") / least(col("nf_a"), col("nf_b")))
          .as("overlap"))
      .filter(col("overlap") >= minOverlap)
    val within = bandedHammingPairs(fh, maxHamming)
      .select(
        (col("a") / FidWidth).cast("long").as("va"), col("a").as("fa"),
        (col("b") / FidWidth).cast("long").as("vb"), col("b").as("fb"))
      .filter(col("va") < col("vb"))
      .groupBy(col("va"), col("vb"))
      .agg(least(countDistinct(col("fa")), countDistinct(col("fb")))
        .as("matched_frames"))
      .join(newCounts.withColumnRenamed("vid", "va")
        .withColumnRenamed("nf", "nf_a"), "va")
      .join(newCounts.withColumnRenamed("vid", "vb")
        .withColumnRenamed("nf", "nf_b"), "vb")
      .select(
        col("va").as("new_id"), col("vb").as("existing_id"),
        col("matched_frames"),
        (col("matched_frames").cast("double") / least(col("nf_a"), col("nf_b")))
          .as("overlap"))
      .filter(col("overlap") >= minOverlap)
    vsStore.unionByName(within)
  }

  /** Frame-sample stub: deterministic every-nth-byte "frames" from a payload,
    * the plumbing shape of video frame extraction (one row in → N rows out,
    * still partition-local via flatMap).
    */
  def sampleFrames(media: DataFrame, everyN: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .flatMap { r =>
        r.payload.indices.by(everyN).map { off =>
          (r.doc_id, off, r.payload(off).toInt & 0xff)
        }
      }
      .toDF("doc_id", "frame_offset", "frame_byte")
  }
}
