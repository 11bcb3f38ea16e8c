package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.{ByteBuffer, ByteOrder}

/** Multimodal column plumbing: image/audio/video treated as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The decode is REAL for three image/video formats (plus WAV audio below):
  *  - `image/bmp` — a 24-bpp uncompressed BMP parser ([[decodeBmp24]]):
  *    validates the `BM` magic, reads the pixel-data offset and
  *    BITMAPINFOHEADER geometry, walks the bottom-up padded rows, and
  *    emits per-channel pixel statistics. [[encodeBmp24]] is its inverse
  *    (used to synthesize valid containers from any byte payload in this
  *    image-less environment — and by the spec to pin the round trip).
  *  - `image/png` — a COMPRESSED container ([[decodePng24]]): CRC-verified
  *    chunk walk, zlib inflate (JDK Inflater), and scanline reconstruction
  *    through all five PNG filter types. [[encodePng24]] deliberately
  *    cycles the filter type per row so every round trip pins the whole
  *    unfilter arithmetic, not just the trivial path.
  *  - raw 24-bpp RGB frames (packed video) — no container to parse; a
  *    frame is `frameWidth`-pixel rows of B,G,R bytes and "decode" is the
  *    channel statistics pass ([[rawStats]]).
  *
  * Scale notes: binary payloads ride the same columnar parquet files as
  * everything else; `spark.sql.files.maxPartitionBytes` bounds per-task
  * memory since each task holds at most one batch of decoded frames.
  * `mapPartitions` (not per-row UDF) amortizes per-batch codec setup —
  * the same shape a vectorized/Arrow-batched UDF gives Python — and a
  * heavier codec (JPEG, H.264) swaps into the same per-row function
  * without touching the pipeline.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
  ))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sum_px", LongType),
    StructField("max_px", IntegerType),
    StructField("feature", ArrayType(FloatType)),
  ))

  /** Wrap any (id, text) frame as a RAW media table — the text bytes stand
    * in for a packed 24-bpp RGB stream (the containerless modality).
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(payloadCol), "UTF-8").as("content"),
      lit("video/raw-rgb24").as("media_type"),
      length(encode(col(payloadCol), "UTF-8")).cast("long").as("n_bytes"),
    )

  /** Shared wrap-payload-as-container scaffold for every real codec: text
    * bytes → `enc` → a media-schema row, null payloads passing through as
    * all-null rows (the convention the decode side's tri-state relies on).
    * Encoding runs in `mapPartitions` (one buffer-allocation pattern per
    * batch); a new container format supplies only its encoder and mime.
    */
  private def wrapMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                             payloadCol: String, mime: String,
                             enc: Array[Byte] => Array[Byte]): DataFrame = {
    val out = df.select(col(idCol).cast("long").as("media_id"),
        encode(col(payloadCol), "UTF-8").as("payload"))
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          if (payload == null) Row(r.getAs[Long]("media_id"), null, mime, null)
          else {
            val b = enc(payload)
            Row(r.getAs[Long]("media_id"), b, mime, b.length.toLong)
          }
        }
      }
    spark.createDataFrame(out, mediaSchema)
  }

  /** Wrap any (id, text) frame as a table of REAL 24-bpp BMP containers:
    * the payload bytes become the image's top-down B,G,R pixel stream,
    * zero-padded to fill `width × ceil(len/3width)` pixels. The result is a
    * byte-valid BMP any external viewer could open.
    */
  def asBmpMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                      payloadCol: String, width: Int = 10): DataFrame =
    wrapMediaTable(spark, df, idCol, payloadCol, "image/bmp", encodeBmp24(_, width))

  /** Build a 24-bpp uncompressed BMP whose logical top-down pixel bytes are
    * `payload` zero-padded to `width × height × 3`, height =
    * max(1, ceil(len / 3·width)). Rows are written bottom-up with the
    * standard 4-byte row padding — the on-disk layout every BMP reader
    * expects.
    */
  def encodeBmp24(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0, "width must be positive")
    val bytesPerRow = width * 3
    val height = math.max(1, (payload.length + bytesPerRow - 1) / bytesPerRow)
    val rowSize = ((bytesPerRow + 3) / 4) * 4
    val dataSize = rowSize * height
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize).putInt(0).putInt(54) // file size, reserved, data offset
    buf.putInt(40).putInt(width).putInt(height)    // BITMAPINFOHEADER
    buf.putShort(1).putShort(24)                   // planes, bpp
    buf.putInt(0).putInt(dataSize)                 // BI_RGB, image size
    buf.putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, palette unused
    var stored = 0
    while (stored < height) {
      val logical = height - 1 - stored // bottom-up storage order
      var i = 0
      while (i < bytesPerRow) {
        val idx = logical * bytesPerRow + i
        buf.put(if (idx < payload.length) payload(idx) else 0.toByte)
        i += 1
      }
      var p = bytesPerRow
      while (p < rowSize) { buf.put(0.toByte); p += 1 }
      stored += 1
    }
    buf.array()
  }

  /** Decoded 24-bpp BMP statistics: geometry from the header, per-channel
    * byte sums over the logical pixel array (order-independent, but the
    * parse recovers rows through the bottom-up + padding layout, so a
    * mis-read geometry corrupts the sums — the stats PROVE the parse).
    */
  final case class Bmp24Stats(width: Int, height: Int,
                              sumB: Long, sumG: Long, sumR: Long,
                              minPx: Int, maxPx: Int) {
    def nPixels: Long = width.toLong * height
    def sumAll: Long = sumB + sumG + sumR
  }

  /** Parse a 24-bpp uncompressed BMP: `BM` magic, pixel-data offset at 10,
    * BITMAPINFOHEADER (size ≥ 40) geometry, planes=1 / bpp=24 /
    * compression=BI_RGB enforced, rows read bottom-up with 4-byte padding
    * stripped. Unsupported variants and truncated payloads throw — a
    * corrupt container should be ROUTED by the caller, not averaged into
    * the corpus silently.
    */
  def decodeBmp24(bytes: Array[Byte]): Bmp24Stats = {
    val (width, height, offset, rowSize) = bmpGeometry(bytes)
    val bytesPerRow = width * 3
    var sumB = 0L; var sumG = 0L; var sumR = 0L
    var mn = 255; var mx = 0
    var stored = 0
    while (stored < height) {
      val base = offset + stored * rowSize
      var i = 0
      while (i < bytesPerRow) {
        val v = bytes(base + i) & 0xff
        (i % 3: @annotation.switch) match {
          case 0 => sumB += v
          case 1 => sumG += v
          case _ => sumR += v
        }
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      stored += 1
    }
    Bmp24Stats(width, height, sumB, sumG, sumR, mn, mx)
  }

  /** The validated-header core shared by [[decodeBmp24]] and
    * [[imageDHash]]: `(width, height, pixelDataOffset, paddedRowSize)`,
    * every geometry/offset/truncation require applied. STORED row `s`
    * starts at `offset + s·rowSize` and holds logical (top-down) row
    * `height − 1 − s` as B,G,R triples. Same throw contract as the public
    * decoder.
    */
  private[operators] def bmpGeometry(bytes: Array[Byte]): (Int, Int, Int, Int) = {
    require(bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      "not a BMP (missing BM magic)")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val offset = buf.getInt(10)
    val hdrSize = buf.getInt(14)
    val width = buf.getInt(18)
    val height = buf.getInt(22)
    val planes = buf.getShort(26)
    val bpp = buf.getShort(28)
    val compression = buf.getInt(30)
    require(hdrSize >= 40 && planes == 1 && bpp == 24 && compression == 0,
      s"unsupported BMP variant (hdr=$hdrSize planes=$planes bpp=$bpp comp=$compression)")
    require(width > 0 && height > 0, s"bad geometry ${width}x$height")
    // a corrupt offset inside [0, 54) would pass the truncation check MORE
    // easily and silently fold header bytes into the pixel sums; a negative
    // one would surface as an executor ArrayIndexOutOfBounds instead of a
    // routable decode error
    require(offset >= 54 && offset <= bytes.length,
      s"bad pixel-data offset $offset")
    // Geometry math in Long: `width * 3` wraps Int for width near
    // Int.MaxValue — a crafted header could pass the truncation check with
    // a wrapped stride and fold sums over wrong offsets (silently wrong
    // stats, the one outcome the throw contract exists to prevent).
    val bytesPerRowL = width.toLong * 3
    val rowSizeL = ((bytesPerRowL + 3) / 4) * 4
    // one row alone must fit the payload — also bounds rowSizeL (≤ 2^31)
    // so the rowSizeL * height product below cannot overflow Long
    require(rowSizeL <= bytes.length.toLong - offset,
      s"truncated pixel data (row stride $rowSizeL exceeds payload)")
    require(rowSizeL * height <= bytes.length.toLong - offset,
      "truncated pixel data")
    (width, height, offset, rowSizeL.toInt)
  }

  // --------------------------------------------------------------- WAV ---

  val audioSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("sample_rate", IntegerType),
    StructField("n_samples", LongType),
    StructField("sum_samples", LongType),
    StructField("min_sample", IntegerType),
    StructField("max_sample", IntegerType),
  ))

  /** Wrap any (id, text) frame as a table of REAL PNG containers — the
    * compressed third image format beside uncompressed BMP: the payload
    * bytes become the top-down R,G,B pixel stream of an 8-bit truecolor
    * PNG, zero-padded to `width × ceil(len/3width)` pixels. Byte-valid —
    * signature, CRC-checked chunks, zlib-deflated scanlines — any external
    * viewer could open it.
    */
  def asPngMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                      payloadCol: String, width: Int = 10): DataFrame =
    wrapMediaTable(spark, df, idCol, payloadCol, "image/png", encodePng24(_, width))

  /** Wrap any (id, text) frame as a table of REAL baseline JPEGs — the
    * LOSSY format made exactly decodable: each payload byte becomes one
    * constant 8×8 gray block ([[Jpeg.encodeGrayBlocks]] — DC-only, all-1s
    * quantization), so the container is byte-valid JFIF any viewer opens
    * AND every decoded statistic is recomputable from the text.
    */
  /** Wrap any (id, text) frame as REAL GIF89a containers: payload bytes
    * become pixel indices into a 256-gray palette (so a byte IS its pixel
    * value), LZW-packed rows of `width`. See [[Gif]] for the codec.
    */
  def asGifMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                      payloadCol: String, width: Int = 10): DataFrame =
    wrapMediaTable(spark, df, idCol, payloadCol, "image/gif", Gif.encode(_, width))

  /** Animated-GIF wrap: one frame per `frameBytes`-byte payload slice. */
  def asGifAnimMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                          payloadCol: String, width: Int = 10,
                          frameBytes: Int = 30): DataFrame =
    wrapMediaTable(spark, df, idCol, payloadCol, "image/gif",
      Gif.encodeAnimated(_, width, frameBytes))

  /** Per-frame stats over animated GIFs — the palette-indexed counterpart
    * of [[decodeVideoFrames]]: every frame decodes through the full LZW
    * path independently, emitting (media_id, frame_idx, n_frames, width,
    * height, sum_px). Gray palettes make sum_px = 3·Σ payload code points
    * per slice, which is what the oracle recomputes.
    */
  def gifFrames(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sum_px", LongType, nullable = false)))
    val out = media.select("media_id", "content", "media_type")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val mt = r.getAs[String]("media_type")
          if (bytes == null) Iterator.empty
          else if (mt != "image/gif")
            throw new IllegalArgumentException(s"gifFrames: unsupported media type $mt")
          else {
            val frames = Gif.decodeFrames(bytes)
            frames.iterator.zipWithIndex.map { case (img, fi) =>
              var sum = 0L
              var i = 0
              while (i < img.indices.length) {
                val p = (img.indices(i) & 0xFF) * 3
                sum += (img.palette(p) & 0xFF) + (img.palette(p + 1) & 0xFF) +
                  (img.palette(p + 2) & 0xFF)
                i += 1
              }
              Row(r.getAs[Long]("media_id"), fi, frames.length,
                img.width, img.height, sum)
            }
          }
        }
      }
    spark.createDataFrame(out, schema)
  }

  def asJpegMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                       payloadCol: String, blocksPerRow: Int = 10): DataFrame =
    wrapMediaTable(spark, df, idCol, payloadCol, "image/jpeg",
      Jpeg.encodeGrayBlocks(_, blocksPerRow))

  /** Wrap any (id, text) frame as a table of REAL AVI/MJPEG videos: the
    * payload bytes split into `frameBytes`-byte slices, each slice encoded
    * as one exactly-decodable JPEG frame ([[Jpeg.encodeGrayBlocks]]), the
    * frames boxed into a byte-valid RIFF AVI container ([[Avi.encodeMjpeg]])
    * with headers and keyframe index a real player accepts. Empty payloads
    * still produce a one-frame video (the empty slice → one padding block),
    * so every non-null row decodes.
    */
  def asAviMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                      payloadCol: String, blocksPerRow: Int = 10,
                      frameBytes: Int = 24): DataFrame = {
    require(frameBytes > 0, "frameBytes must be positive")
    wrapMediaTable(spark, df, idCol, payloadCol, "video/avi", { payload =>
      val slices =
        if (payload.isEmpty) Seq(Array.empty[Byte])
        else payload.grouped(frameBytes).toSeq
      val jpegs = slices.map(Jpeg.encodeGrayBlocks(_, blocksPerRow))
      val nominalRows = math.max(1, (frameBytes + blocksPerRow - 1) / blocksPerRow)
      Avi.encodeMjpeg(jpegs, width = 8 * blocksPerRow, height = 8 * nominalRows)
    })
  }

  /** Per-frame decode of AVI/MJPEG media: container walk ([[Avi.decodeMjpeg]])
    * then the full JPEG decode per frame. One output row per frame —
    * (media_id, frame_idx, n_frames, width, height, sum_px); null payloads
    * contribute no rows (nothing decodable), same contract as
    * [[imageDHash]]. Partition-parallel by construction; a task holds one
    * video's frames at a time.
    */
  def decodeVideoFrames(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sum_px", LongType, nullable = false)))
    val out = media.select("media_id", "content", "media_type")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val mt = r.getAs[String]("media_type")
          if (bytes == null) Iterator.empty
          else if (mt != "video/avi")
            throw new IllegalArgumentException(s"decodeVideoFrames: unsupported media type $mt")
          else {
            val v = Avi.decodeMjpeg(bytes)
            val n = v.frames.length
            v.frames.iterator.zipWithIndex.map { case (f, i) =>
              val s = Jpeg.decode(f)
              Row(r.getAs[Long]("media_id"), i, n, s.width, s.height, s.sumPx)
            }
          }
        }
      }
    spark.createDataFrame(out, schema)
  }

  private val PngSignature: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def pngChunk(chunkType: String, data: Array[Byte]): Array[Byte] = {
    val t = chunkType.getBytes("US-ASCII")
    val buf = ByteBuffer.allocate(12 + data.length) // len + type + data + crc
    buf.putInt(data.length).put(t).put(data)
    val crc = new java.util.zip.CRC32
    crc.update(t); crc.update(data)
    buf.putInt(crc.getValue.toInt)
    buf.array()
  }

  /** Build an 8-bit truecolor PNG whose logical top-down R,G,B pixel bytes
    * are `payload` zero-padded to `width × height × 3`, height =
    * max(1, ceil(len / 3·width)). Row `y` is written with filter type
    * `y % 5` — every encode of height ≥ 5 exercises ALL five PNG filters
    * (None/Sub/Up/Average/Paeth), so the decoder's unfilter arithmetic is
    * pinned by any round trip, not just the trivial filter-0 path. One
    * zlib stream, one IDAT chunk.
    */
  def encodePng24(payload: Array[Byte], width: Int): Array[Byte] = {
    require(width > 0, "width must be positive")
    val bpr = width * 3 // bytes per pixel row (no padding in PNG)
    val height = math.max(1, (payload.length + bpr - 1) / bpr)
    def raw(y: Int, i: Int): Int = {
      val idx = y * bpr + i
      if (idx < payload.length) payload(idx) & 0xFF else 0
    }
    val scan = new Array[Byte](height * (1 + bpr))
    var y = 0
    while (y < height) {
      val f = y % 5
      val base = y * (1 + bpr)
      scan(base) = f.toByte
      var i = 0
      while (i < bpr) {
        val x = raw(y, i)
        val a = if (i >= 3) raw(y, i - 3) else 0            // left
        val b = if (y > 0) raw(y - 1, i) else 0             // up
        val c = if (y > 0 && i >= 3) raw(y - 1, i - 3) else 0 // up-left
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => // Paeth
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        scan(base + 1 + i) = ((x - pred) & 0xFF).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(scan); deflater.finish()
    val outBuf = new java.io.ByteArrayOutputStream(scan.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) outBuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val ihdr = ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(2.toByte)            // bit depth 8, truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive filters, no interlace
      .array()
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(PngSignature)
    bos.write(pngChunk("IHDR", ihdr))
    bos.write(pngChunk("IDAT", outBuf.toByteArray))
    bos.write(pngChunk("IEND", Array.emptyByteArray))
    bos.toByteArray
  }

  /** Decoded PNG statistics — geometry from IHDR, per-channel sums over the
    * reconstructed (unfiltered) pixel array. The sums PROVE the full
    * pipeline: chunk walk, CRC verification, zlib inflate, and the
    * five-filter reconstruction — any bug shifts them.
    */
  final case class PngStats(width: Int, height: Int,
                            sumR: Long, sumG: Long, sumB: Long,
                            minPx: Int, maxPx: Int) {
    def nPixels: Long = width.toLong * height
    def sumAll: Long = sumR + sumG + sumB
  }

  /** Parse an 8-bit truecolor PNG: signature, CRC-verified chunk walk
    * (unknown ancillary chunks skipped), IHDR constraints enforced (bit
    * depth 8, color type 2, no interlace), IDAT chunks concatenated and
    * zlib-inflated, scanlines reconstructed through the standard five
    * filter types. Malformed containers throw IllegalArgumentException —
    * route with [[decodeFeaturesRouted]], never average silently. Bounds
    * math in Long (a crafted length near Int.MaxValue must reject, not
    * wrap).
    */
  def decodePng24(bytes: Array[Byte]): PngStats = {
    val (width, height, scan) = pngReconstruct(bytes)
    val bpr = width * 3
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var minPx = 256; var maxPx = -1
    var y = 0
    while (y < height) {
      val base = y * (1 + bpr)
      var i = 0
      while (i < bpr) {
        val v = scan(base + 1 + i) & 0xFF
        (i % 3: @annotation.switch) match {
          case 0 => sumR += v
          case 1 => sumG += v
          case 2 => sumB += v
        }
        if (v < minPx) minPx = v
        if (v > maxPx) maxPx = v
        i += 1
      }
      y += 1
    }
    PngStats(width, height, sumR, sumG, sumB, minPx, maxPx)
  }

  /** The parse → inflate → unfilter core shared by [[decodePng24]] (stats)
    * and [[imageDHash]] (perceptual hashing): returns `(width, height,
    * scan)` where the reconstructed pixel byte `(y, i)` lives at
    * `scan(y * (1 + 3·width) + 1 + i)` (the filter-type byte prefixes each
    * scanline). Same throw contract as the public decoder.
    */
  private[operators] def pngReconstruct(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 8 + 25 + 12 + 12, "png: truncated container")
    require(PngSignature.indices.forall(i => bytes(i) == PngSignature(i)),
      "png: bad signature")
    var pos = 8L
    var width = -1; var height = -1
    val idat = new java.io.ByteArrayOutputStream()
    var sawIhdr = false; var sawIend = false
    while (!sawIend) {
      require(pos + 8 <= bytes.length, "png: truncated chunk header")
      val len = ((bytes(pos.toInt) & 0xFF) << 24) | ((bytes(pos.toInt + 1) & 0xFF) << 16) |
        ((bytes(pos.toInt + 2) & 0xFF) << 8) | (bytes(pos.toInt + 3) & 0xFF)
      require(len >= 0, "png: negative chunk length")
      val ctype = new String(bytes, pos.toInt + 4, 4, "US-ASCII")
      require(pos + 8 + len.toLong + 4 <= bytes.length, s"png: truncated $ctype chunk")
      val dataOff = pos.toInt + 8
      val crc = new java.util.zip.CRC32
      crc.update(bytes, pos.toInt + 4, 4 + len)
      val stored = ((bytes(dataOff + len) & 0xFFL) << 24) | ((bytes(dataOff + len + 1) & 0xFFL) << 16) |
        ((bytes(dataOff + len + 2) & 0xFFL) << 8) | (bytes(dataOff + len + 3) & 0xFFL)
      require(crc.getValue == stored, s"png: CRC mismatch in $ctype chunk")
      ctype match {
        case "IHDR" =>
          require(len == 13, "png: bad IHDR length")
          require(!sawIhdr, "png: duplicate IHDR")
          sawIhdr = true
          val b = ByteBuffer.wrap(bytes, dataOff, 13)
          width = b.getInt(); height = b.getInt()
          require(width > 0 && height > 0, "png: non-positive dimensions")
          require(width.toLong * height * 3 + height <= Int.MaxValue,
            "png: dimensions overflow supported size")
          val (depth, color, comp, filt, inter) =
            (b.get(), b.get(), b.get(), b.get(), b.get())
          require(depth == 8 && color == 2,
            s"png: only 8-bit truecolor supported (depth=$depth color=$color)")
          require(comp == 0 && filt == 0 && inter == 0,
            "png: unsupported compression/filter/interlace method")
        case "IDAT" =>
          require(sawIhdr, "png: IDAT before IHDR")
          idat.write(bytes, dataOff, len)
        case "IEND" => sawIend = true
        case _ => () // ancillary chunk: CRC checked above, content skipped
      }
      pos += 8L + len + 4
    }
    require(sawIhdr, "png: missing IHDR")
    val bpr = width * 3
    val expected = height * (1 + bpr)
    val scan = new Array[Byte](expected)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val got = try {
      var off = 0
      while (off < expected && !inflater.finished()) {
        val n = inflater.inflate(scan, off, expected - off)
        require(n > 0 || inflater.finished(), "png: truncated or stalled zlib stream")
        off += n
      }
      if (!inflater.finished()) {
        // all scanline bytes produced but the stream hasn't closed: either
        // MORE data follows (reject: longer than the scanlines) or the
        // adler32 trailer is missing/truncated (reject: an unverified
        // stream must not count as decoded — inflate returns 0 on
        // exhausted input, which the old `== 0` check mistook for success)
        val extra = inflater.inflate(new Array[Byte](1))
        require(extra == 0, "png: zlib stream longer than scanlines")
        require(inflater.finished(), "png: zlib trailer missing or truncated")
      }
      off
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"png: corrupt zlib stream: ${e.getMessage}")
    } finally inflater.end()
    require(got == expected, s"png: scanline bytes $got != expected $expected")
    // reconstruct in place: recon(y,i) overwrites the filtered byte
    def recon(y: Int, i: Int): Int = scan(y * (1 + bpr) + 1 + i) & 0xFF
    var y = 0
    while (y < height) {
      val base = y * (1 + bpr)
      val f = scan(base) & 0xFF
      require(f <= 4, s"png: unknown filter type $f")
      var i = 0
      while (i < bpr) {
        val a = if (i >= 3) recon(y, i - 3) else 0
        val b = if (y > 0) recon(y - 1, i) else 0
        val c = if (y > 0 && i >= 3) recon(y - 1, i - 3) else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        scan(base + 1 + i) = (((scan(base + 1 + i) & 0xFF) + pred) & 0xFF).toByte
        i += 1
      }
      y += 1
    }
    (width, height, scan)
  }

  /** Wrap any (id, text) frame as a table of REAL PCM-16 mono WAV
    * containers: consecutive payload byte pairs become little-endian int16
    * samples (an odd tail byte gets a zero high byte). Byte-valid RIFF —
    * any audio tool could play it.
    */
  def asWavMediaTable(spark: SparkSession, df: DataFrame, idCol: String,
                      payloadCol: String, sampleRate: Int = 8000): DataFrame =
    wrapMediaTable(spark, df, idCol, payloadCol, "audio/wav", encodeWavPcm16(_, sampleRate))

  /** Build a PCM-16 mono RIFF/WAVE file whose sample stream is `payload`
    * read as little-endian byte pairs (odd tail → zero high byte).
    */
  def encodeWavPcm16(payload: Array[Byte], sampleRate: Int): Array[Byte] = {
    require(sampleRate > 0, "sampleRate must be positive")
    val nSamples = (payload.length + 1) / 2
    val dataSize = 2 * nSamples
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1)                  // PCM
    buf.putShort(1)                  // mono
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * 2)       // byte rate
    buf.putShort(2)                  // block align
    buf.putShort(16)                 // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < payload.length) {
      buf.put(payload(i))
      buf.put(if (i + 1 < payload.length) payload(i + 1) else 0.toByte)
      i += 2
    }
    buf.array()
  }

  /** Decoded PCM-16 WAV statistics: header fields + signed sample moments.
    * An empty data chunk reports (0 samples, sum/min/max = 0).
    */
  final case class WavStats(sampleRate: Int, nSamples: Long,
                            sumSamples: Long, minSample: Int, maxSample: Int)

  /** Parse a RIFF/WAVE container: validates the RIFF + WAVE magic, WALKS
    * the chunk list (word-aligned sizes; unknown chunks — LIST, cue,
    * bext — are skipped, as a real parser must), requires PCM / mono /
    * 16-bit from the fmt chunk, then folds the little-endian SIGNED
    * samples of the data chunk. Malformed or unsupported input throws —
    * route corrupt media, never average it in silently.
    */
  def decodeWavPcm16(bytes: Array[Byte]): WavStats = {
    val (rate, dataOff, nSamples) = wavPcm16Data(bytes)
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var sum = 0L
    var mn = 0
    var mx = 0
    if (nSamples > 0) { mn = Int.MaxValue; mx = Int.MinValue }
    var k = 0
    while (k < nSamples) {
      val v = buf.getShort(dataOff + 2 * k).toInt // signed int16
      sum += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      k += 1
    }
    WavStats(rate, nSamples.toLong, sum, mn, mx)
  }

  /** The validated RIFF chunk walk shared by [[decodeWavPcm16]] (stats) and
    * [[audioDHash]]: `(sampleRate, dataOffset, nSamples)` — sample `k` is
    * the signed little-endian int16 at `dataOffset + 2k`. Same throw
    * contract as the public decoder.
    */
  private[operators] def wavPcm16Data(bytes: Array[Byte]): (Int, Int, Int) = {
    require(bytes.length >= 44, "too short for a WAV header")
    def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
    require(tag(0) == "RIFF" && tag(8) == "WAVE", "not a RIFF/WAVE container")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var fmtOk = false
    var rate = 0
    var dataOff = -1
    var dataLen = 0
    while (pos + 8 <= bytes.length) {
      val id = tag(pos)
      val size = buf.getInt(pos + 4)
      // bound check in Long: `pos + 8 + size` wraps Int for size near
      // Int.MaxValue and would pass ≤ length, then die unroutably on a
      // negative-position read instead of this IllegalArgumentException
      require(size >= 0 && pos.toLong + 8 + size <= bytes.length, s"truncated chunk $id")
      if (id == "fmt ") {
        require(size >= 16, "fmt chunk too short")
        val audioFormat = buf.getShort(pos + 8)
        val channels = buf.getShort(pos + 10)
        rate = buf.getInt(pos + 12)
        val bits = buf.getShort(pos + 22)
        require(audioFormat == 1 && channels == 1 && bits == 16,
          s"unsupported WAV variant (fmt=$audioFormat ch=$channels bits=$bits)")
        fmtOk = true
      } else if (id == "data") {
        dataOff = pos + 8
        dataLen = size
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(fmtOk && dataOff >= 0, "missing fmt or data chunk")
    (rate, dataOff, dataLen / 2)
  }

  /** Decode audio containers over partition-local batches: `audio/wav`
    * rows run the real [[decodeWavPcm16]] parser; null payloads yield null
    * rows. Same distributed shape as [[decodeFeatures]].
    */
  def decodeAudioFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val out = media.select("media_id", "content", "media_type", "n_bytes")
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val nBytes = r.get(r.fieldIndex("n_bytes"))
          if (bytes == null)
            Row(r.getAs[Long]("media_id"), r.getAs[String]("media_type"), nBytes,
              null, null, null, null, null)
          else {
            val s = decodeWavPcm16(bytes)
            Row(r.getAs[Long]("media_id"), r.getAs[String]("media_type"), nBytes,
              s.sampleRate, s.nSamples, s.sumSamples, s.minSample, s.maxSample)
          }
        }
      }
    spark.createDataFrame(out, audioSchema)
  }

  /** Channel statistics over a raw packed-B,G,R byte stream (no container):
    * (sumB, sumG, sumR, min, max) with channels assigned by position mod 3.
    */
  private def rawStats(bytes: Array[Byte]): (Long, Long, Long, Int, Int) = {
    var s0 = 0L; var s1 = 0L; var s2 = 0L
    var mn = 255; var mx = 0
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      (i % 3: @annotation.switch) match {
        case 0 => s0 += v
        case 1 => s1 += v
        case _ => s2 += v
      }
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    if (bytes.isEmpty) (0L, 0L, 0L, 0, 0) else (s0, s1, s2, mn, mx)
  }

  private def featureVec(sumB: Long, sumG: Long, sumR: Long,
                         nB: Long, nG: Long, nR: Long,
                         mn: Int, mx: Int): Seq[Float] = Seq(
    if (nB == 0) 0f else (sumB.toDouble / nB).toFloat,
    if (nG == 0) 0f else (sumG.toDouble / nG).toFloat,
    if (nR == 0) 0f else (sumR.toDouble / nR).toFloat,
    if (nB + nG + nR == 0) 0f
    else ((sumB + sumG + sumR).toDouble / (nB + nG + nR)).toFloat,
    mn.toFloat, mx.toFloat)

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sum_px", LongType),
    StructField("max_px", IntegerType),
    StructField("feature", ArrayType(FloatType)),
  ))

  /** Frame sampling over a packed raw-RGB stream: the payload is read as
    * consecutive `frameBytes`-sized frames (the last one may be short);
    * every `stride`-th frame is decoded, up to `maxFrames` per media row.
    * One input row fans out to 0..maxFrames frame rows — the generator
    * (flatMap) decode shape a video pipeline needs, with per-frame decode
    * cost bounded by `frameBytes` and per-task memory bounded by one input
    * row's sampled frames. Each sampled frame decodes as `frameWidth`-pixel
    * raw 24-bpp rows: height = ceil(bytes / 3·frameWidth) (a short tail
    * counts as a partial row), stats via [[rawStats]].
    */
  def sampleFrames(spark: SparkSession, media: DataFrame,
                   frameBytes: Int, stride: Int, maxFrames: Int,
                   frameWidth: Int = 4): DataFrame = {
    require(frameBytes > 0 && stride > 0 && maxFrames > 0 && frameWidth > 0)
    val out = media.select("media_id", "content")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          if (bytes == null || bytes.isEmpty) Iterator.empty
          else {
            val nFrames = (bytes.length + frameBytes - 1) / frameBytes
            Iterator.range(0, nFrames, stride).take(maxFrames).map { i =>
              val slice = java.util.Arrays.copyOfRange(bytes,
                i * frameBytes, math.min((i + 1) * frameBytes, bytes.length))
              val (s0, s1, s2, mn, mx) = rawStats(slice)
              val h = (slice.length + 3 * frameWidth - 1) / (3 * frameWidth)
              val n = slice.length.toLong
              // per-channel counts: positions ≡ c (mod 3) within the slice
              val nB = (n + 2) / 3; val nG = (n + 1) / 3; val nR = n / 3
              Row(r.getAs[Long]("media_id"), i, n, frameWidth, h,
                s0 + s1 + s2, mx, featureVec(s0, s1, s2, nB, nG, nR, mn, mx))
            }
          }
        }
      }
    spark.createDataFrame(out, frameSchema)
  }

  // ------------------------------------------------- quarantine routing ---

  val routedFeatureSchema: StructType = StructType(featureSchema.fields.toSeq ++ Seq(
    StructField("decode_ok", BooleanType),
    StructField("decode_err", StringType)))

  val routedAudioSchema: StructType = StructType(audioSchema.fields.toSeq ++ Seq(
    StructField("decode_ok", BooleanType),
    StructField("decode_err", StringType)))

  /** [[decodeFeatures]] with corrupt-container ROUTING — the composition the
    * decoder scaladocs tell callers to build: a malformed container must
    * never fail a 100 TB scan (one bad file ≠ a dead job) and must never be
    * averaged in silently (the throw contract exists to prevent exactly
    * that). Rows carry a tri-state `decode_ok` — true (decoded), false
    * (corrupt: stats null, `decode_err` holds the parse error), null (no
    * payload — absent input, not corrupt input) — so callers split with the
    * same disjoint-filter shape as the CDC null-routing operator (T1):
    * `filter(col("decode_ok") === false)` is the quarantine relation.
    * Only IllegalArgumentException (the decoders' documented malformed-input
    * signal) routes; anything else is a code bug and still fails the job.
    * The throwing [[decodeFeatures]] stays for callers who WANT
    * fail-loudly semantics on pre-validated corpora.
    */
  def decodeFeaturesRouted(spark: SparkSession, media: DataFrame): DataFrame = {
    val out = media.select("media_id", "content", "media_type", "n_bytes")
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val mediaType = r.getAs[String]("media_type")
          val nBytes = r.get(r.fieldIndex("n_bytes"))
          val id = r.getAs[Long]("media_id")
          if (bytes == null)
            Row(id, mediaType, nBytes, null, null, null, null, null, null, null)
          else try {
            if (mediaType == "image/bmp") {
              val s = decodeBmp24(bytes)
              Row(id, mediaType, nBytes, s.width, s.height, s.sumAll, s.maxPx,
                featureVec(s.sumB, s.sumG, s.sumR, s.nPixels, s.nPixels, s.nPixels,
                  s.minPx, s.maxPx), true, null)
            } else if (mediaType == "image/png") {
              val s = decodePng24(bytes)
              Row(id, mediaType, nBytes, s.width, s.height, s.sumAll, s.maxPx,
                featureVec(s.sumB, s.sumG, s.sumR, s.nPixels, s.nPixels, s.nPixels,
                  s.minPx, s.maxPx), true, null)
            } else if (mediaType == "image/jpeg") {
              val s = Jpeg.decode(bytes)
              val n = s.nPixels * s.components
              Row(id, mediaType, nBytes, s.width, s.height, s.sumPx, s.maxPx,
                featureVec(s.sumPx, 0, 0, n, 0, 0, s.minPx, s.maxPx), true, null)
            } else if (mediaType == "image/gif") {
              val s = Gif.decode(bytes)
              Row(id, mediaType, nBytes, s.width, s.height, s.sumAll, s.maxPx,
                featureVec(s.sumB, s.sumG, s.sumR, s.nPixels, s.nPixels, s.nPixels,
                  s.minPx, s.maxPx), true, null)
            } else {
              val (s0, s1, s2, mn, mx) = rawStats(bytes)
              val n = bytes.length.toLong
              val nB = (n + 2) / 3; val nG = (n + 1) / 3; val nR = n / 3
              Row(id, mediaType, nBytes, null, null, s0 + s1 + s2, mx,
                featureVec(s0, s1, s2, nB, nG, nR, mn, mx), true, null)
            }
          } catch { case e: IllegalArgumentException =>
            Row(id, mediaType, nBytes, null, null, null, null, null, false, e.getMessage)
          }
        }
      }
    spark.createDataFrame(out, routedFeatureSchema)
  }

  /** [[decodeAudioFeatures]] with corrupt-container routing — same tri-state
    * `decode_ok` contract as [[decodeFeaturesRouted]].
    */
  def decodeAudioFeaturesRouted(spark: SparkSession, media: DataFrame): DataFrame = {
    val out = media.select("media_id", "content", "media_type", "n_bytes")
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val mediaType = r.getAs[String]("media_type")
          val nBytes = r.get(r.fieldIndex("n_bytes"))
          val id = r.getAs[Long]("media_id")
          if (bytes == null)
            Row(id, mediaType, nBytes, null, null, null, null, null, null, null)
          else try {
            val s = decodeWavPcm16(bytes)
            Row(id, mediaType, nBytes, s.sampleRate, s.nSamples, s.sumSamples,
              s.minSample, s.maxSample, true, null)
          } catch { case e: IllegalArgumentException =>
            Row(id, mediaType, nBytes, null, null, null, null, null, false, e.getMessage)
          }
        }
      }
    spark.createDataFrame(out, routedAudioSchema)
  }

  /** Two-layer quarantine routing for AVI/MJPEG video — the video
    * counterpart of [[decodeFeaturesRouted]], with the layer distinction
    * the PNG quarantine pins for chunks vs zlib: a CONTAINER-level failure
    * (RIFF walk, header cross-checks) quarantines the whole video
    * (`decode_ok` false), while a corrupt individual FRAME inside a valid
    * container is counted (`n_bad_frames`) and excluded from the pixel
    * stats without quarantining its siblings — a crawled corpus keeps a
    * video whose stream has one damaged frame. Tri-state `decode_ok` as
    * everywhere: null payload → null (absent, not corrupt). One summary
    * row per video: (media_id, decode_ok, n_frames, n_bad_frames,
    * sum_px_good).
    */
  def decodeVideoFramesRouted(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType),
      StructField("n_frames", IntegerType),
      StructField("n_bad_frames", IntegerType),
      StructField("sum_px_good", LongType)))
    val out = media.select("media_id", "content", "media_type")
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val id = r.getAs[Long]("media_id")
          val mt = r.getAs[String]("media_type")
          if (bytes == null) Row(id, null, null, null, null)
          else if (mt != "video/avi")
            throw new IllegalArgumentException(s"decodeVideoFramesRouted: unsupported media type $mt")
          else try {
            val v = Avi.decodeMjpeg(bytes)
            var bad = 0
            var sum = 0L
            v.frames.foreach { f =>
              try sum += Jpeg.decode(f).sumPx
              catch { case _: IllegalArgumentException => bad += 1 }
            }
            Row(id, true, v.frames.length, bad, sum)
          } catch { case _: IllegalArgumentException =>
            Row(id, false, null, null, null)
          }
        }
      }
    spark.createDataFrame(out, schema)
  }

  /** Decode/feature-extract over partition-local batches, dispatching on
    * the container type: `image/bmp` rows run the real [[decodeBmp24]]
    * parser; anything else is treated as a packed raw-RGB stream (no
    * geometry — width/height null). Runs fully distributed; the iterator
    * never materializes a whole partition.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val out = media.select("media_id", "content", "media_type", "n_bytes")
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val mediaType = r.getAs[String]("media_type")
          // r.get preserves SQL NULL for n_bytes — getAs[Long] would unbox
          // a null slot to 0 and diverge from the oracle's NULL
          val nBytes = r.get(r.fieldIndex("n_bytes"))
          if (bytes == null) // null payload (e.g. null source text) → null features, don't kill the job
            Row(r.getAs[Long]("media_id"), mediaType, nBytes, null, null, null, null, null)
          else if (mediaType == "image/bmp") {
            val s = decodeBmp24(bytes)
            Row(r.getAs[Long]("media_id"), mediaType, nBytes, s.width, s.height,
              s.sumAll, s.maxPx,
              featureVec(s.sumB, s.sumG, s.sumR, s.nPixels, s.nPixels, s.nPixels,
                s.minPx, s.maxPx))
          } else if (mediaType == "image/png") {
            val s = decodePng24(bytes)
            Row(r.getAs[Long]("media_id"), mediaType, nBytes, s.width, s.height,
              s.sumAll, s.maxPx,
              featureVec(s.sumB, s.sumG, s.sumR, s.nPixels, s.nPixels, s.nPixels,
                s.minPx, s.maxPx))
          } else if (mediaType == "image/jpeg") {
            val s = Jpeg.decode(bytes)
            val n = s.nPixels * s.components
            Row(r.getAs[Long]("media_id"), mediaType, nBytes, s.width, s.height,
              s.sumPx, s.maxPx,
              featureVec(s.sumPx, 0, 0, n, 0, 0, s.minPx, s.maxPx))
          } else if (mediaType == "image/gif") {
            val s = Gif.decode(bytes)
            Row(r.getAs[Long]("media_id"), mediaType, nBytes, s.width, s.height,
              s.sumAll, s.maxPx,
              featureVec(s.sumB, s.sumG, s.sumR, s.nPixels, s.nPixels, s.nPixels,
                s.minPx, s.maxPx))
          } else {
            val (s0, s1, s2, mn, mx) = rawStats(bytes)
            val n = bytes.length.toLong
            val nB = (n + 2) / 3; val nG = (n + 1) / 3; val nR = n / 3
            Row(r.getAs[Long]("media_id"), mediaType, nBytes, null, null,
              s0 + s1 + s2, mx, featureVec(s0, s1, s2, nB, nG, nR, mn, mx))
          }
        }
      }
    spark.createDataFrame(out, featureSchema)
  }

  // ---------------------------------------------- perceptual image hash ---

  /** 64-bit difference hash (dHash) over the DECODED pixel content of real
    * image containers — where [[Dedup.simhashPairs]] fingerprints text,
    * this fingerprints pixels, composing the codec family with the dedup
    * family (an LLM-corpus pipeline dedupes its images too).
    *
    * Per image: the 3-channel luma `r+g+b` of each pixel (channel-ORDER
    * free, so the same payload hashes identically through PNG's R,G,B and
    * BMP's bottom-up B,G,R — any cross-container divergence is a decoder
    * bug, pinned by the spec), rows pooled into 8 horizontal bands
    * (`[b·h/8, (b+1)·h/8)` — height-invariant, the resize step of classic
    * dHash), per-band column luma sums, bit `b·8+x` set iff column `x+1`
    * outsums column `x`. Gradient signs survive brightness/contrast shifts
    * and local edits, which is exactly the near-dup robustness aHash's
    * absolute-mean comparison lacks. Requires width ≥ 9 (8 adjacent-column
    * comparisons); bands shorter than a row (h < 8) contribute zero sums
    * on both comparison sides — deterministic, and mirrored by the oracle.
    *
    * Output: (media_id, width, height, dhash). Null payloads yield no row
    * (nothing to pair); unsupported media types throw — same routing
    * contract as the decoders.
    */
  def imageDHash(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("dhash", LongType)))
    val out = media.select("media_id", "content", "media_type")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          r.getAs[String]("media_type") match {
            case _ if bytes == null => None
            case "image/png" =>
              val (w, h, scan) = pngReconstruct(bytes)
              val stride = 1 + w * 3
              def luma(y: Int, x: Int): Int =
                (scan(y * stride + 1 + 3 * x) & 0xFF) +
                  (scan(y * stride + 2 + 3 * x) & 0xFF) +
                  (scan(y * stride + 3 + 3 * x) & 0xFF)
              Some(Row(r.getAs[Long]("media_id"), w, h, dHash64(w, h, luma)))
            case "image/bmp" =>
              val (w, h, off, rowSize) = bmpGeometry(bytes)
              def luma(y: Int, x: Int): Int = {
                val base = off + (h - 1 - y) * rowSize + 3 * x
                (bytes(base) & 0xFF) + (bytes(base + 1) & 0xFF) + (bytes(base + 2) & 0xFF)
              }
              Some(Row(r.getAs[Long]("media_id"), w, h, dHash64(w, h, luma)))
            case "image/jpeg" =>
              // luma = r+g+b over the decoded (possibly upsampled) planes —
              // grayscale replicates, so the scale matches the 3-channel
              // containers and thresholds carry across formats
              val img = Jpeg.decodeImage(bytes)
              Some(Row(r.getAs[Long]("media_id"), img.width, img.height,
                dHash64(img.width, img.height, img.luma)))
            case "image/gif" =>
              val img = Gif.decodeImage(bytes)
              Some(Row(r.getAs[Long]("media_id"), img.width, img.height,
                dHash64(img.width, img.height, img.luma)))
            case t => throw new IllegalArgumentException(
              s"imageDHash: unsupported media_type '$t' (want image/png, image/bmp, image/jpeg or image/gif)")
          }
        }
      }
    spark.createDataFrame(out, schema)
  }

  private def dHash64(width: Int, height: Int, luma: (Int, Int) => Int): Long = {
    require(width >= 9, s"dHash needs width >= 9 (8 column comparisons), got $width")
    var hash = 0L
    var b = 0
    while (b < 8) {
      val y0 = b * height / 8
      val y1 = (b + 1) * height / 8
      val cs = new Array[Long](9)
      var y = y0
      while (y < y1) {
        var x = 0
        while (x < 9) { cs(x) += luma(y, x); x += 1 }
        y += 1
      }
      var x = 0
      while (x < 8) {
        if (cs(x + 1) > cs(x)) hash |= 1L << (b * 8 + x)
        x += 1
      }
      b += 1
    }
    hash
  }

  /** Box-average grayscale RESIZE over the DECODED pixel content of real
    * image containers — the standalone form of the pooling step
    * [[imageDHash]] embeds, exposed because a vision-preprocessing pipeline
    * resizes to a model input grid as its own stage (decode → resize →
    * feature), not only inside a hash.
    *
    * Per image: the 3-channel luma `r+g+b` of each source pixel
    * (channel-order free — the same cross-container invariance contract as
    * dHash), block-pooled onto a `gw × gh` target grid with the
    * floor-boundary mapping `[g·h/gh, (g+1)·h/gh) × [c·w/gw, (c+1)·w/gw)`
    * (height/width-invariant, every source pixel in exactly one block);
    * target pixel = floor(block luma sum / block pixel count). Blocks made
    * EMPTY by a source smaller than the grid (h < gh or w < gw) emit 0 —
    * the deterministic zero-sum rule dHash's short bands use, mirrored by
    * the oracle. Integer arithmetic end-to-end, so the resized grid is
    * hash-comparable across engines.
    *
    * Output: (media_id, width, height, pixels) with `pixels` the row-major
    * `gw·gh` resized grid. Null payloads yield no row; unsupported media
    * types throw — the decoder family's routing contract.
    */
  def resizeGray(spark: SparkSession, media: DataFrame, gw: Int, gh: Int): DataFrame = {
    require(gw >= 1 && gh >= 1, s"target grid must be >= 1x1, got ${gw}x$gh")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("pixels", ArrayType(IntegerType, containsNull = false))))
    val out = media.select("media_id", "content", "media_type")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          r.getAs[String]("media_type") match {
            case _ if bytes == null => None
            case "image/png" =>
              val (w, h, scan) = pngReconstruct(bytes)
              val stride = 1 + w * 3
              def luma(y: Int, x: Int): Int =
                (scan(y * stride + 1 + 3 * x) & 0xFF) +
                  (scan(y * stride + 2 + 3 * x) & 0xFF) +
                  (scan(y * stride + 3 + 3 * x) & 0xFF)
              Some(Row(r.getAs[Long]("media_id"), w, h, grayResize(w, h, luma, gw, gh)))
            case "image/bmp" =>
              val (w, h, off, rowSize) = bmpGeometry(bytes)
              def luma(y: Int, x: Int): Int = {
                val base = off + (h - 1 - y) * rowSize + 3 * x
                (bytes(base) & 0xFF) + (bytes(base + 1) & 0xFF) + (bytes(base + 2) & 0xFF)
              }
              Some(Row(r.getAs[Long]("media_id"), w, h, grayResize(w, h, luma, gw, gh)))
            case "image/jpeg" =>
              val img = Jpeg.decodeImage(bytes)
              Some(Row(r.getAs[Long]("media_id"), img.width, img.height,
                grayResize(img.width, img.height, img.luma, gw, gh)))
            case "image/gif" =>
              val img = Gif.decodeImage(bytes)
              Some(Row(r.getAs[Long]("media_id"), img.width, img.height,
                grayResize(img.width, img.height, img.luma, gw, gh)))
            case t => throw new IllegalArgumentException(
              s"resizeGray: unsupported media_type '$t' (want image/png, image/bmp, image/jpeg or image/gif)")
          }
        }
      }
    spark.createDataFrame(out, schema)
  }

  private def grayResize(width: Int, height: Int,
                         luma: (Int, Int) => Int, gw: Int, gh: Int): Seq[Int] = {
    val out = new Array[Int](gw * gh)
    var g = 0
    while (g < gh) {
      val y0 = g * height / gh
      val y1 = (g + 1) * height / gh
      var c = 0
      while (c < gw) {
        val x0 = c * width / gw
        val x1 = (c + 1) * width / gw
        val n = (y1 - y0).toLong * (x1 - x0)
        if (n > 0) {
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { sum += luma(y, x); x += 1 }
            y += 1
          }
          out(g * gw + c) = (sum / n).toInt
        }
        c += 1
      }
      g += 1
    }
    out.toSeq
  }

  /** Image near-duplicate pairs: [[imageDHash]] signatures mined through
    * the EXACT pigeonhole Hamming join ([[Dedup.hammingPairs]] — banded
    * candidates, popcount verify, no pair within `maxHamming` missed).
    * The decode cost is one codec pass per image; the join never touches
    * pixels again — signatures are 8 bytes however large the image.
    * Output: (id_a, id_b, hamming).
    */
  def imageNearDupPairs(spark: SparkSession, media: DataFrame,
                        maxHamming: Int = 6): DataFrame =
    Dedup.hammingPairs(imageDHash(spark, media), "media_id", "dhash",
      bits = 64, maxHamming = maxHamming)

  /** Per-frame perceptual hashes of AVI/MJPEG videos: container walk, full
    * JPEG decode per frame, then the same 64-bit [[dHash64]] the image
    * family uses — so image and video near-dup share one signature space
    * and one threshold calibration. Output: (media_id, frame_idx,
    * n_frames, dhash); null payloads contribute no rows.
    */
  def videoFrameDHash(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("dhash", LongType, nullable = false)))
    val out = media.select("media_id", "content", "media_type")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          val mt = r.getAs[String]("media_type")
          if (bytes == null) Iterator.empty
          else if (mt != "video/avi")
            throw new IllegalArgumentException(s"videoFrameDHash: unsupported media type $mt")
          else {
            val v = Avi.decodeMjpeg(bytes)
            val n = v.frames.length
            v.frames.iterator.zipWithIndex.map { case (f, i) =>
              val img = Jpeg.decodeImage(f)
              Row(r.getAs[Long]("media_id"), i, n,
                dHash64(img.width, img.height, img.luma))
            }
          }
        }
      }
    spark.createDataFrame(out, schema)
  }

  /** Hash-distribute a signature relation to the session's shuffle width
    * before an output-bound mine. An explicit partition count (not bare
    * `repartition(col)`) so AQE's size-targeted coalescing cannot fold the
    * tiny relation back to one partition; keyed by media_id so a video's
    * frames colocate for the per-video aggregations downstream.
    */
  private def mineWidth(spark: SparkSession, hashes: DataFrame): DataFrame =
    hashes.repartition(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt,
      col("media_id"))

  /** Video near-duplicate pairs with TEMPORAL ALIGNMENT: frame signatures
    * are compared per frame position only (same-position frames, never
    * shifted ones), and two videos pair when the fraction of matching
    * aligned positions reaches `minMatchFrac` of the SHORTER video. Decode
    * cost is one container+codec pass per video; the mine moves 8-byte
    * signatures only ([[videoNearDupPairsFromHashes]] holds the miner).
    *
    * `frameStride` is the POSITION-SAMPLING valve (r12 verdict Next #4):
    * only every stride-th frame position is mined — the join's candidate
    * and output mass shrink ~∝ 1/stride while decode is untouched, and
    * `match_frac` stays calibrated because `n_comparable` counts SAMPLED
    * positions of the shorter video (⌊(min_nf − 1)/stride⌋ + 1). An exact
    * clone still matches at every sampled position (frac 1.0); a local edit
    * confined to skipped positions becomes invisible — the documented
    * recall trade, measured against planted clones in SCALING.md "Round-13
    * measured updates" (the valve curves). Default 1 = every position,
    * plan unchanged.
    *
    * Output: (id_a, id_b, n_matching, n_comparable, match_frac).
    */
  def videoNearDupPairs(spark: SparkSession, media: DataFrame,
                        maxHamming: Int = 6,
                        minMatchFrac: Double = 0.8,
                        frameStride: Int = 1): DataFrame =
    videoNearDupPairsFromHashes(spark,
      videoFrameDHash(spark, media).localCheckpoint(),
      maxHamming, minMatchFrac, frameStride)

  /** [[videoNearDupPairs]] over PRE-COMPUTED frame signatures — the shape a
    * stored signature table feeds (r13 verdict Next #3: the three battery
    * video queries each re-encoded and re-decoded the same corpus in-plan;
    * a Td-installed hash table pays container+codec exactly once per corpus
    * and every near-dup variant reads 8-byte rows). `hashes` must carry
    * (media_id, frame_idx, n_frames, dhash) — [[videoFrameDHash]]'s schema.
    *
    * The input is width-normalized first ([[mineWidth]]): a signature table
    * is tiny next to the pair OUTPUT (8 bytes/frame vs an output-bound
    * mine), so Spark coalesces its parquet scan to ~1 partition AND
    * broadcasts it as the hamming join's build side — leaving the probe
    * side, i.e. the ENTIRE pair emission, serialized on that one scan task
    * (measured at sf1: 98 s vs the in-plan path's decode-inclusive 25.5 s
    * band). One explicit shuffle of the 8-byte rows restores the width the
    * decode path used to provide for free.
    *
    * The miner has three stages:
    *  1. one groupBy(media_id) builds the per-video ordered signature ARRAY
    *     ([[ppPerVideo]]);
    *  2. candidates: each video explodes one row per (block t of `b`
    *     consecutive sampled positions, chunk combo), and the self-join on
    *     (t, combo, every chunk value) admits a pair only where every
    *     position of a block matches within maxHamming ([[ppJoin]]). The
    *     block width `b` comes from [[blockWidth]]:
    *     - `b = 2` at minMatchFrac ≥ 0.75. A pair comparing S ≥ 2 sampled
    *       positions misses at most q ≤ ⌊S/4⌋ of them, each miss kills at
    *       most one of the ⌊S/2⌋ disjoint consecutive pairs, and
    *       ⌊S/4⌋ ≤ ⌊S/2⌋ − 1, so one pair matches at both positions. The
    *       single-position template collisions that dominate a per-position
    *       stream cannot match at two consecutive positions, so the
    *       candidate stream is collision-starved (85.6M → 5.2M rows at
    *       sf1). Pairs whose SHORTER side compares one
    *       position only (S = 1) must match there: [[ppFallback]] mines
    *       position 0 for them.
    *     - `b = 1` below: single sampled positions. A pair with
    *       match_frac ≥ f > 0 matches at one compared position or more;
    *       at f ≤ 0 the output is the pairs with at least one matching
    *       position.
    *  3. exact stats ([[ppStats]]), n_comparable from the two lengths:
    *     - at `b = 1` each candidate row is one matching compared position,
    *       emitted once, so a pair's row count IS n_matching;
    *     - at `b = 2` a row is a matching block, so the deduplicated pairs
    *       join the signature arrays (output-sized) and n_matching is
    *       recomputed over every sampled position ([[ppVerify]]).
    *     Stages 1–2 decide WHICH pairs get stats, never what they are
    *     (AviSpec pins the output against a first-principles recount at
    *     f ∈ {0.5, 0.6, 0.8}; the oracle pins it end-to-end). Counting at
    *     `b = 1` is by measurement: on the sf0.1 f = 0.5 mine the array
    *     verify ran 7–25% slower than the per-position count it replaced,
    *     the count is at parity (SCALING.md "One video miner").
    */
  def videoNearDupPairsFromHashes(spark: SparkSession, hashes: DataFrame,
                                  maxHamming: Int = 6,
                                  minMatchFrac: Double = 0.8,
                                  frameStride: Int = 1): DataFrame = {
    require(frameStride >= 1, s"frameStride must be >= 1, got $frameStride")
    val perV = ppPerVideo(mineWidth(spark, hashes))
    val b = blockWidth(minMatchFrac)
    // sampled-position count S and its ⌊S/b⌋ disjoint blocks
    val S = (floor((col("nf") - 1) / frameStride) + 1).cast("int")
    val ex = ppExplode(perV, b, (S / b).cast("int"),
      (t, i) => (t * b + i) * frameStride, maxHamming)
    val blocks = ppJoin(ex, ex, b, maxHamming, _ < _)
    val nComp = (na: Column, nb: Column) => floor((least(na, nb) - 1) / frameStride) + 1
    if (b == 1)
      ppStats(blocks.groupBy("id_a", "id_b").agg(count(lit(1)).as("__n")), perV,
        nComp, col("__n"), minMatchFrac)
    else // S == 1 ⟺ nf ≤ stride: no block at b = 2
      ppVerify(blocks.unionByName(ppFallback(perV, S === 1, maxHamming)), perV,
        nComp, step = (_, _) => lit(frameStride), maxHamming, minMatchFrac)
  }

  /** Candidate block width of the video miners: 2 consecutive sampled
    * positions at minMatchFrac ≥ 0.75, where the pigeonhole guarantees a
    * qualifying pair one fully matching pair block, else 1 (coverage
    * argument: [[videoNearDupPairsFromHashes]]). Wider blocks are left out:
    * the chunk combos grow as (maxHamming+1)^b. */
  private def blockWidth(minMatchFrac: Double): Int = if (minMatchFrac >= 0.75) 2 else 1

  /** Pigeonhole chunk extractor over the 64-bit dHash and the chunk combos
    * of a `width`-position block: one chunk index per position, every
    * combination of them. */
  private def ppChunks(maxHamming: Int, width: Int): (Seq[Seq[Int]], (Column, Int) => Column) = {
    val bounds = Dedup.chunkBounds(64, maxHamming)
    def chunk(sh: Column, c: Int): Column =
      Dedup.chunkOf(sh, bounds(c), bounds(c + 1) - bounds(c))
    val combos = (1 to width).foldLeft(Seq(Seq.empty[Int])) { (acc, _) =>
      for (p <- acc; c <- 0 until bounds.length - 1) yield p :+ c
    }
    (combos, chunk)
  }

  /** Per-video ordered signature arrays — the verify-side relation of the
    * miners (one row per video; h0 is already partitioned by media_id so
    * the groupBy adds no exchange). */
  private def ppPerVideo(h0: DataFrame): DataFrame =
    h0.groupBy("media_id").agg(max(col("n_frames")).as("nf"),
        transform(array_sort(collect_list(struct(col("frame_idx"), col("dhash")))),
          x => x.getField("dhash")).as("sig"))
      .localCheckpoint()

  /** One (id, t, f0…, k, v0…) row per position block t of each video and
    * chunk combo k: `nBlocks` is the per-video block count, `pos(t, i)` the
    * 0-based frame position of the block's i-th member, `f_i` its
    * signature and `v_i` combo k's chunk of it. */
  private def ppExplode(perV: DataFrame, width: Int, nBlocks: Column,
                        pos: (Column, Int) => Column, maxHamming: Int): DataFrame = {
    val (combos, chunk) = ppChunks(maxHamming, width)
    val idT = Seq(col("id"), col("t"))
    val fs = (0 until width).map(i => col(s"f$i"))
    perV.select(col("media_id").as("id"), col("sig"),
        explode(when(nBlocks >= 1, sequence(lit(0), nBlocks - 1))
          .otherwise(array().cast("array<int>"))).as("t"))
      .select(idT ++ (0 until width).map(i =>
        element_at(col("sig"), pos(col("t"), i) + 1).as(s"f$i")): _*)
      .select(idT ++ fs :+ explode(array(combos.zipWithIndex.map { case (cs, k) =>
        struct(lit(k).as("k") +: cs.zipWithIndex.map { case (c, i) =>
          chunk(col(s"f$i"), c).as(s"v$i")
        }: _*)
      }: _*)).as("kv"): _*)
      .select(idT ++ fs :+ col("kv.*"): _*)
  }

  /** Join of two exploded block relations on (t, combo, every chunk value)
    * where `pair` holds for the two ids: admits a pair only where EVERY
    * position of the block matches within maxHamming, each surviving
    * (pair, t) emitted once from its first agreeing combo (the
    * [[Dedup.hammingPairs]] dedup rule lifted to combo space). Output
    * normalized to id_a < id_b. */
  private def ppJoin(a: DataFrame, b: DataFrame, width: Int, maxHamming: Int,
                     pair: (Column, Column) => Column): DataFrame = {
    val (combos, chunk) = ppChunks(maxHamming, width)
    def f(side: String, i: Int): Column = col(s"$side.f$i")
    val firstCombo = combos.zipWithIndex.foldRight(lit(-1): Column) {
      case ((cs, k), els) =>
        when(cs.zipWithIndex.map { case (c, i) =>
          chunk(f("a", i), c) === chunk(f("b", i), c)
        }.reduce(_ && _), lit(k)).otherwise(els)
    }
    val keys = Seq("t", "k") ++ (0 until width).map(i => s"v$i")
    a.as("a").join(b.as("b"),
        keys.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          pair(col("a.id"), col("b.id")))
      .filter((0 until width).map(i =>
        bit_count(f("a", i).bitwiseXOR(f("b", i))) <= maxHamming).reduce(_ && _))
      .filter(col("a.k") === firstCombo)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
  }

  /** Position-0 fallback of the `b = 2` miners: the width-1 mine over
    * position 0 between the videos selected by `s1` and EVERYONE — the
    * branch for pairs whose shorter side compares exactly one position
    * (which at frac ≥ 0.75 must match). Both-s1 pairs appear in both
    * orientations and collapse in [[ppVerify]]'s dedup. */
  private def ppFallback(perV: DataFrame, s1: Column, maxHamming: Int): DataFrame = {
    def pos0(df: DataFrame): DataFrame =
      ppExplode(df, 1, lit(1), (_, _) => lit(0), maxHamming)
    ppJoin(pos0(perV.filter(s1)), pos0(perV), 1, maxHamming, _ =!= _)
  }

  /** The b = 2 stats: candidate pairs, once each, verified against both
    * videos' arrays — positions j·step(na,nb) for j < nComp(na,nb),
    * matching iff within maxHamming. n_matching is a plain loop rather than
    * an `aggregate` over the positions, which Spark evaluates interpreted
    * (higher-order functions are CodegenFallback): on the sf0.1 f = 0.5
    * mine's 790k candidate pairs the verify took 0.90 s vs 1.59 s (min of
    * 5 in one JVM). The dedup is a grouped count, not `distinct()`: same
    * pairs, and on that mine's 955k candidate rows 0.62 s vs 0.89 s. */
  private def ppVerify(pairs: DataFrame, perV: DataFrame,
                       nComp: (Column, Column) => Column,
                       step: (Column, Column) => Column,
                       maxHamming: Int, minMatchFrac: Double): DataFrame = {
    val matching = udf { (a: Seq[Long], b: Seq[Long], n: Long, step: Int) =>
      var m = 0L
      var j = 0
      while (j < n) {
        if (java.lang.Long.bitCount(a(j * step) ^ b(j * step)) <= maxHamming) m += 1
        j += 1
      }
      m
    }
    ppStats(pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("__n")), perV, nComp,
      matching(col("__siga"), col("__sigb"), col("n_comparable"),
        step(col("__na"), col("__nb")).cast("int")),
      minMatchFrac)
  }

  /** The stats step of both widths, over one row per candidate pair: both
    * videos' (nf, sig) join as (__na, __siga) / (__nb, __sigb),
    * n_comparable = nComp(na, nb), n_matching = `matching`, and the pair is
    * kept when it matches at one compared position or more and at
    * frac ≥ minMatchFrac. */
  private def ppStats(pairs: DataFrame, perV: DataFrame,
                      nComp: (Column, Column) => Column, matching: Column,
                      minMatchFrac: Double): DataFrame =
    pairs
      .join(perV.select(col("media_id").as("id_a"), col("nf").as("__na"),
        col("sig").as("__siga")), Seq("id_a"))
      .join(perV.select(col("media_id").as("id_b"), col("nf").as("__nb"),
        col("sig").as("__sigb")), Seq("id_b"))
      .withColumn("n_comparable", nComp(col("__na"), col("__nb")).cast("long"))
      .withColumn("n_matching", matching.cast("long"))
      .withColumn("match_frac",
        col("n_matching").cast("double") / col("n_comparable").cast("double"))
      .filter(col("n_matching") > 0 && col("match_frac") >= minMatchFrac)
      .select("id_a", "id_b", "n_matching", "n_comparable", "match_frac")

  /** TWO-TIER video near-dup (r13): the production recipe the valve sweep
    * measured out. `frameStride` on a whole corpus backfires when videos are
    * short — with 1–3 sampled positions the match_frac denominator is so
    * coarse that template-similar pairs quantize to frac 1.0 (sf1 sweep:
    * stride 4 read 50× the output and was NET slower; SCALING.md r13) —
    * while on long videos it is pure join-cost win with nothing to inflate.
    *
    * Routing is by the SHORTER side of each pair (r13 ADVICE: the original
    * both-short routing sent short×long pairs through the strided branch,
    * where `n_comparable` = sampled positions of the SHORT side — 1..8 at
    * the default boundary — reintroducing exactly the quantization hazard
    * the tier split exists to fix). A pair whose shorter video has
    * `n_frames < tierMinFrames` (default −1 resolves to 8·frameStride,
    * giving every strided denominator ≥ 8 positions — frac quantization
    * ≤ 1/8) is compared at FULL resolution; only both-long pairs are
    * compared at `frameStride` positions with the sampled denominator.
    * Decode runs ONCE for both tiers.
    * Output: (id_a, id_b, n_matching, n_comparable, match_frac) — the same
    * shape as [[videoNearDupPairs]]; `n_comparable` is full-resolution
    * whenever either side is short, sampled for both-long pairs.
    */
  def videoNearDupPairsTiered(spark: SparkSession, media: DataFrame,
                              maxHamming: Int = 6,
                              minMatchFrac: Double = 0.8,
                              frameStride: Int = 2,
                              tierMinFrames: Int = -1): DataFrame =
    videoNearDupPairsTieredFromHashes(spark,
      videoFrameDHash(spark, media).localCheckpoint(),
      maxHamming, minMatchFrac, frameStride, tierMinFrames)

  /** [[videoNearDupPairsTiered]] over pre-computed frame signatures — see
    * [[videoNearDupPairsFromHashes]] for the stored-signature rationale and
    * the three-stage miner this shares. A pair's tier — and with it its
    * denominator rule — is decided by min(na, nb) alone (either side short
    * ⟺ the MIN is short), so the candidate branches feed ONE exact stats
    * step that computes each pair's stats under its own tier's rule:
    *   A. blocks of consecutive PREFIX positions (positions
    *      < min(nf, tierMin)) — cover every full-resolution pair: all its
    *      m < tierMin compared positions sit within both videos' prefixes;
    *   B. blocks of consecutive SAMPLED positions over LONG videos only —
    *      cover both-long pairs (m ≥ tierMin gives S_m ≥ ⌊(tierMin−1)/stride⌋+1
    *      sampled positions: 4 under the declared tierMin = 8 at stride 2);
    *   C. at `b = 2` only, the position-0 fallback for pairs that compare
    *      one position (m = 1, or both-long with m ≤ stride). At `b = 1`,
    *      A and B already mine every compared position.
    * At `b = 2` the pigeonhole holds per branch (a branch's pair compares
    * S ≥ 2 positions), at `b = 1` any match is a candidate. Branches may
    * overlap (a both-long pair can match at prefix AND sampled positions):
    * at `b = 2` the verify deduplicates pairs first, and at `b = 1` a
    * pair's n_matching counts only the rows of its own tier's branch (A
    * for full resolution, B for both-long).
    */
  def videoNearDupPairsTieredFromHashes(spark: SparkSession, hashes: DataFrame,
                                        maxHamming: Int = 6,
                                        minMatchFrac: Double = 0.8,
                                        frameStride: Int = 2,
                                        tierMinFrames: Int = -1): DataFrame = {
    require(frameStride >= 1, s"frameStride must be >= 1, got $frameStride")
    // Default tier boundary = 8·stride: every strided (both-long) pair then
    // has a denominator of ≥ 8 sampled positions — the valve sweep's failure
    // mode was exactly denominators of 1–3 positions.
    val tierMin = if (tierMinFrames > 0) tierMinFrames else 8 * frameStride
    val perV = ppPerVideo(mineWidth(spark, hashes))
    val b = blockWidth(minMatchFrac)
    def blocks(nBlocks: Column, stride: Int): DataFrame = {
      val ex = ppExplode(perV, b, (nBlocks / b).cast("int"),
        (t, i) => (t * b + i) * stride, maxHamming)
      ppJoin(ex, ex, b, maxHamming, _ < _)
    }
    val SB = floor((col("nf") - 1) / frameStride) + 1
    val prefix = blocks(least(col("nf"), lit(tierMin)), 1)
    val sampled = blocks(when(col("nf") >= tierMin, SB).otherwise(lit(0)), frameStride)
    def full(na: Column, nb: Column): Column = na < tierMin || nb < tierMin
    val nComp = (na: Column, nb: Column) => when(full(na, nb), least(na, nb))
      .otherwise(floor((least(na, nb) - 1) / frameStride) + 1)
    if (b == 1)
      // a full-resolution pair's matching positions are exactly its prefix
      // rows, a both-long pair's exactly its sampled rows
      ppStats(prefix.withColumn("__p", lit(true))
          .unionByName(sampled.withColumn("__p", lit(false)))
          .groupBy("id_a", "id_b")
          .agg(count(when(col("__p"), 1)).as("__nprefix"),
            count(when(!col("__p"), 1)).as("__nsampled")),
        perV, nComp,
        when(full(col("__na"), col("__nb")), col("__nprefix")).otherwise(col("__nsampled")),
        minMatchFrac)
    else {
      // C: m = 1 full-res pairs always, plus — only under exotic knobs with
      // tierMin ≤ stride — both-long pairs whose single sampled position is
      // 0 (m ≤ stride). The shorter side decides (nf = m for the min side).
      val oneShot = col("nf") === 1 ||
        (col("nf") >= tierMin && col("nf") <= frameStride)
      ppVerify(prefix.unionByName(sampled).unionByName(ppFallback(perV, oneShot, maxHamming)),
        perV, nComp,
        step = (na, nb) => when(full(na, nb), lit(1)).otherwise(lit(frameStride)),
        maxHamming, minMatchFrac)
    }
  }

  // ------------------------------------------------ perceptual audio hash ---

  /** 64-bit energy-gradient fingerprint over DECODED PCM-16 WAV samples —
    * the audio member of the near-dup family beside [[imageDHash]]. The
    * sample stream is pooled into 8 time bands (`[b·n/8, (b+1)·n/8)` —
    * duration-invariant), each band into 9 sub-windows of summed |sample|
    * energy, and bit `b·8+j` is set iff sub-window `j+1` out-energies
    * sub-window `j`. Gradient signs survive gain changes (scaling every
    * sample preserves every comparison) and local edits — the same
    * robustness argument as the image dHash, in time instead of space.
    * All-integer arithmetic, so a SQL oracle recomputes every bit.
    *
    * Output: (media_id, n_samples, adhash). Null payloads yield no row;
    * non-WAV media types throw (route upstream).
    */
  def audioDHash(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_samples", LongType),
      StructField("adhash", LongType)))
    val out = media.select("media_id", "content", "media_type")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          r.getAs[String]("media_type") match {
            case _ if bytes == null => None
            case "audio/wav" =>
              val (_, off, n) = wavPcm16Data(bytes)
              val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
              var hash = 0L
              var b = 0
              while (b < 8) {
                val y0 = b * n / 8
                val y1 = (b + 1) * n / 8
                val es = new Array[Long](9)
                var j = 0
                while (j < 9) {
                  val lo = y0 + j * (y1 - y0) / 9
                  val hi = y0 + (j + 1) * (y1 - y0) / 9
                  var k = lo
                  var acc = 0L
                  while (k < hi) { acc += math.abs(buf.getShort(off + 2 * k).toInt); k += 1 }
                  es(j) = acc
                  j += 1
                }
                var x = 0
                while (x < 8) {
                  if (es(x + 1) > es(x)) hash |= 1L << (b * 8 + x)
                  x += 1
                }
                b += 1
              }
              Some(Row(r.getAs[Long]("media_id"), n.toLong, hash))
            case t => throw new IllegalArgumentException(
              s"audioDHash: unsupported media_type '$t' (want audio/wav)")
          }
        }
      }
    spark.createDataFrame(out, schema)
  }

  /** Audio near-duplicate pairs: [[audioDHash]] fingerprints mined through
    * the exact pigeonhole Hamming join — same plan shape and scale story
    * as [[imageNearDupPairs]] (8-byte signatures, samples never ride the
    * join). Output: (id_a, id_b, hamming).
    */
  def audioNearDupPairs(spark: SparkSession, media: DataFrame,
                        maxHamming: Int = 6): DataFrame =
    Dedup.hammingPairs(audioDHash(spark, media), "media_id", "adhash",
      bits = 64, maxHamming = maxHamming)
}
