package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (build brief: image/audio/video as opaque
  * binary columns with typed metadata).
  *
  * Metadata decoding goes through the sealed [[ImageCodec]] seam:
  * formats whose headers are parseable in pure JVM code (BMP, PNG,
  * JPEG, GIF, TIFF, WebP, AVIF for images; WAV, FLAC, MP3, AAC ADTS,
  * Ogg Vorbis/Opus for audio; MP4, WebM, AVI for video) are REALLY
  * parsed; everything else falls through to
  * [[StubCodec]], a deterministic fake derived from the raw bytes.
  * PIXEL-level work (resize, pixel statistics) uses `javax.imageio` —
  * part of the JDK, no native codecs, reads PNG/JPEG/GIF/BMP/TIFF —
  * so [[resizeImage]] and [[decodePixelStats]] are real for those
  * five and stubbed only for containers the JDK cannot
  * read (WebP/AVIF/video). Everything Spark-side is real and
  * load-bearing either way: the (payload BINARY, meta STRUCT) schema,
  * the mapPartitions batch shape (one decoder chain per partition,
  * streaming iterator — the exact shape a JNI/FFmpeg decoder needs),
  * and the row-preserving contract. Dropping in a WebP/video pixel
  * codec = adding one [[ImageCodec]] instance to [[DefaultCodecs]];
  * nothing else moves.
  */
object Multimodal {

  // ImageIO's default file-backed stream cache would add a temp-file
  // write per decoded payload inside executor tasks — keep it in memory
  javax.imageio.ImageIO.setUseCache(false)

  val MetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** One image format's header parser. Implementations must be cheap to
    * construct and thread-safe (one chain is instantiated per
    * partition); `decode` returns None when the payload is not in this
    * codec's format so the chain can fall through. */
  sealed trait ImageCodec extends Serializable {
    def decode(bytes: Array[Byte]): Option[(Int, Int, String)]
  }

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le24(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def be64(b: Array[Byte], o: Int): Long =
    ((be32(b, o).toLong & 0xffffffffL) << 32) | (be32(b, o + 4).toLong & 0xffffffffL)

  /** DIB header sizes that store int32-LE dims at offsets 18/22:
    * BITMAPINFOHEADER and its v2-v5 extensions. The OS/2
    * BITMAPCOREHEADER (size 12) shares the 'BM' magic but stores
    * uint16 dims at 18/20 — trusting 18/22 there decodes garbage. */
  private val InfoHeaderSizes = Set(40, 52, 56, 108, 124)

  /** REAL decode path: BMP — 'BM' magic, then dims per the DIB header
    * variant at offset 14 (validated, not assumed): int32-LE at 18/22
    * for the BITMAPINFOHEADER family (negative height = top-down rows,
    * dimension is the magnitude), uint16-LE at 18/20 for the OS/2
    * BITMAPCOREHEADER. Unknown DIB sizes fall through the chain. */
  case object BmpCodec extends ImageCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, String)] = {
      if (b == null || b.length < 22 || b(0) != 'B'.toByte || b(1) != 'M'.toByte) None
      else le32(b, 14) match {
        case 12 => Some((le16(b, 18), le16(b, 20), "bmp"))
        case s if InfoHeaderSizes(s) && b.length >= 26 =>
          Some((le32(b, 18), math.abs(le32(b, 22)), "bmp"))
        case _ => None
      }
    }
  }

  /** REAL decode path: PNG — 8-byte signature AND an IHDR first-chunk
    * tag (a payload with the signature but a different first chunk is
    * rejected, not misparsed); width/height int32-BE at 16/20. */
  case object PngCodec extends ImageCodec {
    private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    private val Ihdr = "IHDR".getBytes("US-ASCII")
    def decode(b: Array[Byte]): Option[(Int, Int, String)] = {
      if (b == null || b.length < 24 || !Sig.indices.forall(i => b(i) == Sig(i)) ||
        !Ihdr.indices.forall(i => b(12 + i) == Ihdr(i))) None
      else Some((be32(b, 16), be32(b, 20), "png"))
    }
  }

  /** REAL decode path: JPEG — walk the marker stream from SOI to the
    * first frame header (SOF0-SOF15, excluding the non-frame C4/C8/CC
    * codes); height/width are the two uint16-BE after the segment's
    * length+precision bytes. Truncated or malformed streams fall
    * through the chain rather than decode garbage. */
  case object JpegCodec extends ImageCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, String)] = {
      if (b == null || b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) None
      else {
        var i = 2
        var out: Option[(Int, Int, String)] = None
        var broken = false
        while (!broken && out.isEmpty && i + 3 < b.length) {
          if ((b(i) & 0xff) != 0xff) broken = true
          else {
            val m = b(i + 1) & 0xff
            // standalone markers (no length field): TEM, RSTn, fill byte
            if (m == 0x01 || (m >= 0xd0 && m <= 0xd7) || m == 0xff) i += 2
            else {
              val len = be16(b, i + 2)
              if (len < 2) broken = true
              else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
                if (i + 8 < b.length)
                  out = Some((be16(b, i + 7), be16(b, i + 5), "jpeg"))
                else broken = true
              } else i += 2 + len
            }
          }
        }
        out
      }
    }
  }

  /** REAL decode path: GIF — 'GIF87a'/'GIF89a' magic, logical-screen
    * width/height uint16-LE at bytes 6-9. */
  case object GifCodec extends ImageCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, String)] = {
      val magicOk = b != null && b.length >= 10 &&
        b(0) == 'G'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte &&
        b(3) == '8'.toByte && (b(4) == '7'.toByte || b(4) == '9'.toByte) &&
        b(5) == 'a'.toByte
      if (magicOk) Some((le16(b, 6), le16(b, 8), "gif")) else None
    }
  }

  /** REAL decode path: TIFF — 'II'/'MM' byte-order mark + magic 42,
    * then the first IFD's 12-byte entries: tag 256 (ImageWidth) and
    * 257 (ImageLength), each stored as SHORT (type 3, first 2 bytes of
    * the value field, endian-honored) or LONG (type 4). JDK 17's
    * `javax.imageio` ships a TIFF reader, so the pixel paths
    * ([[resizeImage]]/[[decodePixelStats]]) pick this format up for
    * free once the chain claims it. */
  case object TiffCodec extends ImageCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, String)] = {
      if (b == null || b.length < 8) return None
      val little =
        if (b(0) == 'I'.toByte && b(1) == 'I'.toByte) true
        else if (b(0) == 'M'.toByte && b(1) == 'M'.toByte) false
        else return None
      def u16(o: Int) = if (little) le16(b, o) else be16(b, o)
      def u32(o: Int) = if (little) le32(b, o) else be32(b, o)
      if (u16(2) != 42) return None
      val ifd = u32(4)
      // long compare: a near-MaxInt offset would overflow `ifd + 2`
      // and walk past the buffer instead of falling through
      if (ifd < 8 || ifd.toLong + 2 > b.length) return None
      val n = u16(ifd)
      var (w, h) = (-1, -1)
      var e = 0
      while (e < n && ifd + 2 + 12 * (e + 1) <= b.length) {
        val off = ifd + 2 + 12 * e
        val tag = u16(off)
        if (tag == 256 || tag == 257) {
          val v = u16(off + 2) match {
            case 3 => u16(off + 8) // SHORT sits in the value field's head
            case 4 => u32(off + 8)
            case _ => -1
          }
          if (tag == 256) w = v else h = v
        }
        e += 1
      }
      if (w > 0 && h > 0) Some((w, h, "tiff")) else None
    }
  }

  /** REAL decode path: WebP — RIFF container ('RIFF'…'WEBP'), then
    * dims per first chunk variant (public WebP container/bitstream
    * specs): 'VP8X' extended files store 24-bit LE canvas dims-1 at
    * payload +4/+7; 'VP8 ' lossy frames carry 14-bit LE dims after
    * the 9D 01 2A frame sync code; 'VP8L' lossless packs two 14-bit
    * dims-1 little-endian in the 4 bytes after the 0x2F signature.
    * Unknown first chunks are skipped (even-padded) so
    * metadata-first layouts still resolve; malformed streams fall
    * through the chain. Pixel payloads still require a VP8 codec —
    * only the header is parsed here. */
  case object WebPCodec extends ImageCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, String)] = {
      if (b == null || b.length < 20 ||
        b(0) != 'R'.toByte || b(1) != 'I'.toByte || b(2) != 'F'.toByte || b(3) != 'F'.toByte ||
        b(8) != 'W'.toByte || b(9) != 'E'.toByte || b(10) != 'B'.toByte || b(11) != 'P'.toByte)
        return None
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (size < 0) return None
        val p = i + 8
        new String(b, i, 4, "US-ASCII") match {
          case "VP8X" if p + 10 <= b.length =>
            return Some((1 + le24(b, p + 4), 1 + le24(b, p + 7), "webp"))
          case "VP8 " if p + 10 <= b.length =>
            return if ((b(p + 3) & 0xff) == 0x9d && (b(p + 4) & 0xff) == 0x01 &&
              (b(p + 5) & 0xff) == 0x2a)
              Some((le16(b, p + 6) & 0x3fff, le16(b, p + 8) & 0x3fff, "webp"))
            else None
          case "VP8L" if p + 5 <= b.length =>
            return if ((b(p) & 0xff) == 0x2f) {
              val bits = le32(b, p + 1)
              Some(((bits & 0x3fff) + 1, ((bits >>> 14) & 0x3fff) + 1, "webp"))
            } else None
          case _ =>
            val step = size.toLong + (size & 1) + 8L
            if (p + step - 8 > b.length || step <= 8) return None
            i = (i + step).toInt
        }
      }
      None
    }
  }

  /** REAL decode path: AVIF — ISO-BMFF 'ftyp' with an avif/avis
    * brand (major or compatible), then the image spatial extents
    * from meta→iprp→ipco→ispe ('meta' is a FullBox: children start
    * +12; ispe payload is version/flags then width/height int32-BE).
    * Reuses the same [[isoBoxes]] walker as [[Mp4Codec]]. Pixel data
    * still needs an AV1 codec — header-only, like the other real
    * paths. */
  case object AvifCodec extends ImageCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, String)] = {
      if (b == null || b.length < 16) return None
      val top = isoBoxes(b, 0, b.length).toSeq
      if (top.isEmpty || top.head._3 != "ftyp") return None
      val (fo, fEnd, _) = top.head
      val major = if (fo + 12 <= fEnd) new String(b, fo + 8, 4, "US-ASCII") else ""
      val compat = (fo + 16).until(fEnd - 3, 4).map(o => new String(b, o, 4, "US-ASCII"))
      val isAvif = Set("avif", "avis")
      if (!isAvif(major) && !compat.exists(isAvif)) return None
      for {
        (mo, mEnd, _) <- top.find(_._3 == "meta")
        (po, pEnd, _) <- isoBoxes(b, mo + 12, mEnd).find(_._3 == "iprp")
        (co, cEnd, _) <- isoBoxes(b, po + 8, pEnd).find(_._3 == "ipco")
        (io, iEnd, _) <- isoBoxes(b, co + 8, cEnd).find(_._3 == "ispe")
        if io + 20 <= iEnd
      } yield (be32(b, io + 12), be32(b, io + 16), "avif")
    }
  }

  /** STUB tail of the chain: deterministic pseudo-metadata from the
    * payload bytes, for formats the container cannot decode. Always
    * matches, so a codec chain ending here never drops a row. */
  case object StubCodec extends ImageCodec {
    def decode(bytes: Array[Byte]): Option[(Int, Int, String)] = {
      val n = if (bytes == null) 0 else bytes.length
      Some((64 + n % 512, 64 + (n * 31) % 512, if (n % 2 == 0) "png" else "jpeg"))
    }
  }

  /** The default chain: real header parsers first, stub fallback last.
    * With WebP + AVIF dims real, the stub now covers only genuinely
    * codec-requiring payloads (video containers and non-image bytes). */
  val DefaultCodecs: Seq[ImageCodec] =
    Seq(BmpCodec, PngCodec, JpegCodec, GifCodec, TiffCodec, WebPCodec, AvifCodec, StubCodec)

  /** Attach decoded metadata to a binary payload column.
    *
    * mapPartitions, not a per-row UDF: a real decoder amortizes codec
    * init per partition and can release native resources when the
    * iterator drains. The iterator is lazy — no partition-sized
    * materialization.
    */
  def decodeImageMeta(df: DataFrame, payloadCol: String): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField("meta", MetaSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      // per-partition decoder init goes here (real codec: open once)
      val chain = DefaultCodecs
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val (w, h, f) = chain.view.flatMap(_.decode(bytes)).headOption
          .getOrElse((0, 0, "unknown"))
        Row.fromSeq(row.toSeq :+ Row(w, h, f))
      }
    }(enc)
  }

  /** REAL frame count for GIF payloads: walk the block structure after
    * the logical screen descriptor — skip the global color table if
    * flagged, skip extension blocks (0x21 label + sub-blocks) and each
    * image's local color table + LZW data sub-blocks, and count image
    * descriptors (0x2C). An animated GIF has one per frame. None for
    * non-GIF or truncated/malformed payloads. Pure JVM. */
  private[operators] def gifFrameCount(b: Array[Byte]): Option[Int] = {
    if (GifCodec.decode(b).isEmpty || b.length < 13) return None
    val packed = b(10) & 0xff
    var i = 13 + (if ((packed & 0x80) != 0) 3 << ((packed & 0x07) + 1) else 0)
    var frames = 0
    def skipSubBlocks(): Boolean = {
      while (i < b.length && (b(i) & 0xff) != 0) i += 1 + (b(i) & 0xff)
      if (i < b.length) { i += 1; true } else false // consume the 0x00 terminator
    }
    while (i < b.length) {
      (b(i) & 0xff) match {
        case 0x2c => // image descriptor: 10 bytes + optional LCT + LZW min + data
          if (i + 10 > b.length) return None
          val lp = b(i + 9) & 0xff
          i += 10 + (if ((lp & 0x80) != 0) 3 << ((lp & 0x07) + 1) else 0) + 1
          if (!skipSubBlocks()) return None
          frames += 1
        case 0x21 => // extension: label byte then sub-blocks
          i += 2
          if (!skipSubBlocks()) return None
        case 0x3b => return Some(frames) // trailer
        case _ => return None // malformed stream
      }
    }
    Some(frames) // missing trailer: tolerate, frames seen so far
  }

  /** Frame-sampling shape for multi-frame payloads: 1 row in → k
    * frame-descriptor rows out, without loading all frames at once.
    * The frame COUNT is real for GIFs (block-structure walk); other
    * formats fall back to a deterministic stub until a container
    * demuxer is dropped into the same mapPartitions seam. The fan-out
    * itself stays a DataFrame-level explode either way. */
  def sampleFrames(df: DataFrame, payloadCol: String, everyNth: Int): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    val withN = StructType(df.schema.fields :+
      StructField("n_frames", IntegerType, nullable = false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(withN)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val n = gifFrameCount(bytes).filter(_ > 0).getOrElse(
          (if (bytes == null) 0 else bytes.length) % 240 + 1) // STUB fallback
        Row.fromSeq(row.toSeq :+ n)
      }
    }(enc)
      .withColumn("frame_idx",
        explode(sequence(lit(0), floor((col("n_frames") - 1) / everyNth).cast("int"))))
      .withColumn("frame_offset", col("frame_idx") * everyNth)
      .drop("frame_idx")
  }

  /** REAL pixel decode via `javax.imageio` (JDK built-in): the decoded
    * image for PNG/JPEG/GIF/BMP payloads, None for anything the JDK
    * cannot read (truncated streams, WebP/AVIF, video, non-image
    * bytes). Thread-safe — `ImageIO.read` instantiates a fresh reader
    * per call. */
  private[operators] def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null || bytes.length == 0) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      .filter(i => i.getWidth > 0 && i.getHeight > 0)
    catch { case _: Exception => None }

  /** Nearest-neighbor resample in IMAGE coordinates (top-left
    * anchored, `sx = x·sw/w` — the standard definition): deterministic,
    * no Graphics2D rendering-hint ambiguity. */
  private[operators] def resizePixels(src: java.awt.image.BufferedImage,
      w: Int, h: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val sw = src.getWidth
    val sh = src.getHeight
    var y = 0
    while (y < h) {
      val sy = y * sh / h
      var x = 0
      while (x < w) { out.setRGB(x, y, src.getRGB(x * sw / w, sy)); x += 1 }
      y += 1
    }
    out
  }

  /** The four container formats the JDK both reads AND writes — resize
    * re-encodes into the input's own container when it is one of these. */
  private val RealImageFormats = Set("bmp", "png", "jpeg", "gif")

  private[operators] def encodeImage(img: java.awt.image.BufferedImage,
      format: String): Option[(Array[Byte], String)] = {
    def tryFmt(f: String): Option[(Array[Byte], String)] = {
      val bos = new java.io.ByteArrayOutputStream()
      if (javax.imageio.ImageIO.write(img, f, bos)) Some((bos.toByteArray, f)) else None
    }
    tryFmt(format).orElse(tryFmt("png"))
  }

  /** Resize: payload → transformed payload + target-dimension meta.
    * Payloads `javax.imageio` can read (PNG/JPEG/GIF/BMP) are REALLY
    * decoded, nearest-neighbor resampled ([[resizePixels]]) and
    * re-encoded in their own container; anything else takes the STUB
    * transform (truncate to half length — deterministic on the input
    * bytes) until a WebP/video codec is dropped into the same
    * mapPartitions body. Output schema: input columns with the payload
    * replaced and a `resized_meta` struct appended. */
  def resizeImage(df: DataFrame, payloadCol: String, w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0, s"resize target must be positive, got ${w}x$h")
    val idx = df.schema.fieldIndex(payloadCol)
    val schema = StructType(df.schema.fields :+ StructField("resized_meta", MetaSchema))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val real = for {
          img <- readImage(bytes)
          fmt = Seq(BmpCodec, PngCodec, JpegCodec, GifCodec).view
            .flatMap(_.decode(bytes)).headOption.map(_._3)
            .filter(RealImageFormats).getOrElse("png")
          (out, outFmt) <- encodeImage(resizePixels(img, w, h), fmt)
        } yield Row.fromSeq(row.toSeq.updated(idx, out) :+ Row(w, h, outFmt))
        real.getOrElse {
          val out = if (bytes == null) null else bytes.take(math.max(1, bytes.length / 2))
          Row.fromSeq(row.toSeq.updated(idx, out) :+ Row(w, h, "unknown"))
        }
      }
    }(enc)
  }

  val PixelStatsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false)))

  /** REAL per-image pixel statistics (decoded dims + channel means +
    * Rec.601 luma) for payloads `javax.imageio` can read; a NULL struct
    * for everything else — the honest answer, not a fabricated one, so
    * downstream quality filters can `WHERE pixel_stats IS NOT NULL`.
    * Same mapPartitions seam and row-preserving contract as
    * [[decodeImageMeta]]. */
  def decodePixelStats(df: DataFrame, payloadCol: String): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    val schema = StructType(df.schema.fields :+
      StructField("pixel_stats", PixelStatsSchema, nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val stats = readImage(row.getAs[Array[Byte]](idx)).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          val (mr, mg, mb) = (sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          Row(w, h, mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb)
        }.orNull
        Row.fromSeq(row.toSeq :+ stats)
      }
    }(enc)
  }

  /** dHash grid: (8−1)·8 = 56 bits, a non-negative BIGINT in every engine. */
  private val DHashW = 8
  private val DHashH = 8

  /** Difference-hash (dHash) perceptual fingerprint — the image
    * near-dup primitive (Krawetz's dHash; the image-side analogue of
    * the text SimHash family): decode, nearest-neighbor downsample to
    * `w`×`h`, integer grayscale, then one bit per horizontal neighbor
    * pair (`gray(x+1) > gray(x)`), packed LSB-first as bit
    * `y·(w−1)+x`. Gradient-based, so it is invariant to uniform
    * brightness shifts and tolerant of re-encoding — identical scenes
    * hash identically across codecs, which is what makes it a JOIN KEY:
    * image dedup becomes the same hash-groupBy shuffle as text dedup
    * (or a banded Hamming join via the SimHash machinery for
    * near-matches).
    *
    * Grayscale is the ITU-R integer approximation
    * `(299r + 587g + 114b) / 1000` — pure int arithmetic, so a gray
    * input (r=g=b=v) maps to exactly v and the hash is relationally
    * replayable. Payloads `javax.imageio` cannot read hash to NULL
    * (the [[decodePixelStats]] contract). */
  def perceptualHash(df: DataFrame, payloadCol: String): DataFrame = {
    val (w, h) = (DHashW, DHashH)
    val idx = df.schema.fieldIndex(payloadCol)
    val schema = StructType(df.schema.fields :+
      StructField("phash", LongType, nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val hash: java.lang.Long = readImage(row.getAs[Array[Byte]](idx)).map { src =>
          val img = resizePixels(src, w, h)
          def gray(x: Int, y: Int): Int = {
            val p = img.getRGB(x, y)
            (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
              114 * (p & 0xff)) / 1000
          }
          var acc = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w - 1) {
              if (gray(x + 1, y) > gray(x, y)) acc |= 1L << (y * (w - 1) + x)
              x += 1
            }
            y += 1
          }
          java.lang.Long.valueOf(acc)
        }.orNull
        Row.fromSeq(row.toSeq :+ hash)
      }
    }(enc)
  }

  // ------------------------------------------------------------------
  // Audio modality
  // ------------------------------------------------------------------

  val AudioMetaSchema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** One audio container's header parser; same chain contract as
    * [[ImageCodec]] (None = not this format, fall through). */
  sealed trait AudioCodec extends Serializable {
    def decode(bytes: Array[Byte]): Option[(Int, Int, Int, Long, String)]
  }

  /** REAL decode path: WAV — 'RIFF' magic + 'WAVE' form type, then a
    * chunk walk (4-byte id, uint32-LE size, payload padded to even):
    * the 'fmt ' chunk carries channels/rate/bits, the 'data' chunk's
    * size over the fmt byte-rate gives the duration. Both chunks must
    * be present and sane or the payload falls through the chain —
    * a truncated or non-PCM-shaped stream never decodes garbage. */
  case object WavCodec extends AudioCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
      if (b == null || b.length < 12 ||
        b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
      var i = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // channels, rate, byteRate, bits
      var dataSize = -1L
      while (i + 8 <= b.length && (fmt.isEmpty || dataSize < 0)) {
        val id = new String(b, i, 4, "US-ASCII")
        val size = le32(b, i + 4).toLong & 0xffffffffL
        if (id == "fmt " && size >= 16 && i + 8 + 16 <= b.length)
          fmt = Some((le16(b, i + 10), le32(b, i + 12), le32(b, i + 16), le16(b, i + 22)))
        else if (id == "data") dataSize = size
        val next = i.toLong + 8L + size + (size & 1L) // chunks are word-aligned
        // a size field running past the buffer ends the walk (whatever
        // was already captured still counts — a truncated final data
        // chunk is common in practice); never loops on hostile sizes
        i = if (next <= i || next > b.length) b.length else next.toInt
      }
      fmt match {
        case Some((ch, rate, byteRate, bits)) if ch > 0 && rate > 0 && byteRate > 0 && dataSize >= 0 =>
          Some((ch, rate, bits, dataSize * 1000L / byteRate, "wav"))
        case _ => None
      }
    }
  }

  /** REAL decode path: FLAC — 'fLaC' magic, then the mandatory first
    * STREAMINFO metadata block (type 0; 1-byte last-flag+type header,
    * 24-bit BE length): at block offset 10 the spec packs sample rate
    * (20 bits), channels-1 (3), bits-per-sample-1 (5), total samples
    * (36) big-endian; duration = samples/rate. A first block that is
    * not STREAMINFO, or an undersized one, falls through — the spec
    * REQUIRES it first, so such a stream is not a valid FLAC. */
  case object FlacCodec extends AudioCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
      if (b == null || b.length < 4 + 4 + 34 ||
        b(0) != 'f'.toByte || b(1) != 'L'.toByte || b(2) != 'a'.toByte || b(3) != 'C'.toByte)
        return None
      if ((b(4) & 0x7f) != 0) return None // first block must be STREAMINFO
      val len = ((b(5) & 0xff) << 16) | ((b(6) & 0xff) << 8) | (b(7) & 0xff)
      if (len < 34) return None
      val s = 8 // STREAMINFO payload start
      val rate = ((b(s + 10) & 0xff) << 12) | ((b(s + 11) & 0xff) << 4) |
        ((b(s + 12) & 0xff) >> 4)
      val channels = ((b(s + 12) >> 1) & 0x7) + 1
      val bits = (((b(s + 12) & 1) << 4) | ((b(s + 13) & 0xff) >> 4)) + 1
      val samples = ((b(s + 13) & 0x0f).toLong << 32) |
        (be32(b, s + 14).toLong & 0xffffffffL)
      if (rate <= 0) None
      else Some((channels, rate, bits, samples * 1000L / rate, "flac"))
    }
  }

  /** REAL decode path: MP3 — optional ID3v2 tag skip (syncsafe 28-bit
    * size), then the first MPEG audio frame header: 11-bit sync,
    * version / Layer III check, bitrate + sample-rate table lookups
    * (public ISO 11172-3 tables), channel mode. Duration is the CBR
    * estimate audio-bytes/bitrate — what every fast scanner reports
    * without decoding frames; VBR streams carry the true figure in a
    * Xing header a real decoder would read. bits_per_sample = 0
    * (lossy stream — not a PCM property). Free-format (index 0) or
    * reserved (15) bitrates, reserved rates, and non-Layer-III frames
    * fall through rather than decode garbage. */
  /** Offset past a leading ID3v2 tag (10-byte header + syncsafe 28-bit
    * size), or 0 when none — MP3 AND ADTS streams both commonly carry
    * one. */
  private def skipId3(b: Array[Byte]): Int =
    if (b.length >= 10 && b(0) == 'I'.toByte && b(1) == 'D'.toByte && b(2) == '3'.toByte)
      10 + (((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f))
    else 0

  case object Mp3Codec extends AudioCodec {
    private val RatesV1 = Array(44100, 48000, 32000)
    private val BitV1L3 =
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    private val BitV2L3 =
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
    def decode(b: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
      if (b == null || b.length < 10) return None
      val i = skipId3(b)
      if (i < 0 || i + 4 > b.length) return None
      if ((b(i) & 0xff) != 0xff || (b(i + 1) & 0xe0) != 0xe0) return None
      val version = (b(i + 1) >> 3) & 0x3 // 0=2.5, 2=MPEG-2, 3=MPEG-1
      val layer = (b(i + 1) >> 1) & 0x3 // 1 = Layer III
      if (version == 1 || layer != 1) return None
      val bitIdx = (b(i + 2) >> 4) & 0xf
      val rateIdx = (b(i + 2) >> 2) & 0x3
      if (bitIdx == 0 || bitIdx == 15 || rateIdx == 3) return None
      val rate = RatesV1(rateIdx) >> (version match {
        case 3 => 0; case 2 => 1; case _ => 2 })
      val kbps = if (version == 3) BitV1L3(bitIdx) else BitV2L3(bitIdx)
      val channels = if (((b(i + 3) >> 6) & 0x3) == 3) 1 else 2
      Some((channels, rate, 0, (b.length - i).toLong * 8L / kbps, "mp3"))
    }
  }

  /** REAL decode path: Ogg Vorbis/Opus — first 'OggS' page's payload
    * carries the id header (0x01+"vorbis": channels u8/rate u32-LE at
    * packet +11/+12; "OpusHead": channels u8 at +9, input rate u32-LE
    * at +12), and the LAST page's granule position is the total sample
    * count (Vorbis: at the stream rate; Opus: always 48 kHz granules),
    * giving the duration without decoding a single frame — the same
    * public-container contract as the other real paths.
    * bits_per_sample = 0 (lossy stream). */
  case object OggCodec extends AudioCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
      if (b == null || b.length < 28 ||
        b(0) != 'O'.toByte || b(1) != 'g'.toByte || b(2) != 'g'.toByte || b(3) != 'S'.toByte)
        return None
      val nsegs = b(26) & 0xff
      val p = 27 + nsegs
      def str(o: Int, n: Int) =
        if (o + n <= b.length) new String(b, o, n, "US-ASCII") else ""
      val idHdr: Option[(Int, Int, String)] =
        if ((p + 16 <= b.length) && (b(p) & 0xff) == 1 && str(p + 1, 6) == "vorbis")
          Some((b(p + 11) & 0xff, le32(b, p + 12), "vorbis"))
        else if (p + 16 <= b.length && str(p, 8) == "OpusHead")
          Some((b(p + 9) & 0xff, le32(b, p + 12), "opus"))
        else None
      idHdr.filter { case (ch, rate, _) => ch > 0 && rate > 0 }.map { case (ch, rate, fmt) =>
        // walk back to the last page; its granule = total samples
        var last = -1
        var i = b.length - 4
        while (i > 0 && last < 0) {
          if (b(i) == 'O'.toByte && b(i + 1) == 'g'.toByte &&
            b(i + 2) == 'g'.toByte && b(i + 3) == 'S'.toByte && i + 14 <= b.length) last = i
          i -= 1
        }
        val granule = if (last >= 0)
          (le32(b, last + 6).toLong & 0xffffffffL) |
            ((le32(b, last + 10).toLong & 0xffffffffL) << 32)
        else 0L
        val gRate = if (fmt == "opus") 48000 else rate
        val dur = if (granule > 0) granule * 1000L / gRate else 0L
        (ch, rate, 0, dur, fmt)
      }
    }
  }

  /** REAL decode path: AAC ADTS — 12-bit frame sync (FFF), then the
    * public header tables: sampling-frequency index (4 entries/bit
    * layout per ISO 14496-3), channel configuration. Each ADTS frame
    * carries its byte length (13 bits) and decodes to 1024 samples, so
    * walking the frame headers counts samples exactly — duration
    * without touching the codec payload. A walk that desyncs before
    * the end reports the frames already counted (truncated tail), but
    * a first frame that doesn't parse falls through. */
  case object AacAdtsCodec extends AudioCodec {
    private val Rates = Array(96000, 88200, 64000, 48000, 44100, 32000,
      24000, 22050, 16000, 12000, 11025, 8000, 7350)
    def decode(b: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
      if (b == null || b.length < 10) return None
      val off = skipId3(b) // ADTS streams carry ID3v2 tags like MP3s do
      if (off < 0 || off + 7 > b.length ||
        (b(off) & 0xff) != 0xff || (b(off + 1) & 0xf0) != 0xf0) return None
      // ADTS layer bits are always 00 — an MPEG audio (MP3) frame sets
      // them, so the two syncs stay disjoint in the chain
      if (((b(off + 1) >> 1) & 0x3) != 0) return None
      val rateIdx = (b(off + 2) >> 2) & 0xf
      if (rateIdx >= Rates.length) return None
      val rate = Rates(rateIdx)
      val chanCfg = ((b(off + 2) & 1) << 2) | ((b(off + 3) >> 6) & 0x3)
      if (chanCfg == 0) return None // channel map in-band: codec territory
      val channels = if (chanCfg == 7) 8 else chanCfg
      var frames = 0L
      var i = off
      var ok = true
      while (ok && i + 7 <= b.length) {
        if ((b(i) & 0xff) == 0xff && (b(i + 1) & 0xf0) == 0xf0) {
          val len = ((b(i + 3) & 0x3) << 11) | ((b(i + 4) & 0xff) << 3) |
            ((b(i + 5) & 0xff) >> 5)
          // only fully-contained frames count — a cut-off tail frame has
          // no 1024 decodable samples to its name
          if (len < 7 || i + len > b.length) ok = false
          else { frames += 1; i += len }
        } else ok = false
      }
      if (frames == 0) None
      else Some((channels, rate, 0, frames * 1024L * 1000L / rate, "aac"))
    }
  }

  /** STUB tail for unparseable audio payloads (raw codec streams,
    * formats outside the parsed set): deterministic pseudo-metadata
    * from the byte length, mirrored by q115's oracle arithmetic. */
  case object AudioStubCodec extends AudioCodec {
    def decode(bytes: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
      val n = if (bytes == null) 0 else bytes.length
      Some((1 + n % 2, 8000 + (n % 5) * 8000, 16, (n % 600) * 1000L,
        if (n % 2 == 0) "mp3" else "aac"))
    }
  }

  val DefaultAudioCodecs: Seq[AudioCodec] =
    Seq(WavCodec, FlacCodec, Mp3Codec, AacAdtsCodec, OggCodec, AudioStubCodec)

  /** Attach decoded audio metadata; same mapPartitions seam and
    * row-preserving contract as [[decodeImageMeta]]. */
  def decodeAudioMeta(df: DataFrame, payloadCol: String): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField("audio_meta", AudioMetaSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      val chain = DefaultAudioCodecs
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val (ch, rate, bits, dur, f) = chain.view.flatMap(_.decode(bytes)).headOption
          .getOrElse((0, 0, 0, 0L, "unknown"))
        Row.fromSeq(row.toSeq :+ Row(ch, rate, bits, dur, f))
      }
    }(enc)
  }

  // ------------------------------------------------------------------
  // Video modality
  // ------------------------------------------------------------------

  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("format", StringType, nullable = false)))

  sealed trait VideoCodec extends Serializable {
    def decode(bytes: Array[Byte]): Option[(Int, Int, Long, String)]
  }

  /** REAL decode path: MP4/ISO-BMFF — a top-level box walk ('ftyp'
    * first box required), then inside 'moov': 'mvhd' gives
    * timescale+duration (v0: 32-bit at +20/+24; v1: 64-bit duration at
    * +32), and the first 'trak'/'tkhd' gives width/height as 16.16
    * fixed-point at the end of the box (v0: +84/+88, v1: +96/+100).
    * Audio-only MP4s (no tkhd dims) decode with 0×0 — real duration is
    * the load-bearing field. Box sizes of 1 (64-bit largesize) and 0
    * (to end-of-file) are honored; malformed walks fall through. */
  /** (offset, payloadEnd, type) triples for each child box of
    * b[from, lim) — the ISO-BMFF box walk shared by [[Mp4Codec]] and
    * [[AvifCodec]]. Box sizes of 1 (64-bit largesize) and 0 (to
    * end-of-region) are honored; undersized/overrunning boxes clamp
    * the walk to the region end. */
  private[operators] def isoBoxes(b: Array[Byte], from: Int, lim: Int): Iterator[(Int, Int, String)] =
    new Iterator[(Int, Int, String)] {
      private var i = from
      def hasNext: Boolean = i + 8 <= lim
      def next(): (Int, Int, String) = {
        val size32 = be32(b, i).toLong & 0xffffffffL
        val tpe = new String(b, i + 4, 4, "US-ASCII")
        val size = if (size32 == 1 && i + 16 <= lim) be64(b, i + 8)
          else if (size32 == 0) (lim - i).toLong else size32
        val end = if (size < 8 || i + size > lim) lim else (i + size).toInt
        val r = (i, end, tpe)
        i = end
        r
      }
    }

  case object Mp4Codec extends VideoCodec {
    private def boxes(b: Array[Byte], from: Int, lim: Int) = isoBoxes(b, from, lim)

    def decode(b: Array[Byte]): Option[(Int, Int, Long, String)] = {
      if (b == null || b.length < 16) return None
      val top = boxes(b, 0, b.length).toSeq
      if (top.isEmpty || top.head._3 != "ftyp") return None
      top.find(_._3 == "moov").flatMap { case (mo, mEnd, _) =>
        val kids = boxes(b, mo + 8, mEnd).toSeq
        val dur = kids.find(_._3 == "mvhd").flatMap { case (p, e, _) =>
          if (p + 9 > e) None
          else (b(p + 8) & 0xff) match {
            case 0 if p + 28 <= e =>
              val ts = be32(b, p + 20).toLong & 0xffffffffL
              if (ts > 0) Some((be32(b, p + 24).toLong & 0xffffffffL) * 1000L / ts) else None
            case 1 if p + 40 <= e =>
              val ts = be32(b, p + 28).toLong & 0xffffffffL
              if (ts > 0) Some(be64(b, p + 32) * 1000L / ts) else None
            case _ => None
          }
        }
        val dims = kids.find(_._3 == "trak").flatMap { case (t, tEnd, _) =>
          boxes(b, t + 8, tEnd).find(_._3 == "tkhd").flatMap { case (p, e, _) =>
            val wOff = if (p + 9 <= e && (b(p + 8) & 0xff) == 1) p + 96 else p + 84
            if (wOff + 8 <= e) Some((be32(b, wOff) >>> 16, be32(b, wOff + 4) >>> 16))
            else None
          }
        }
        dur.map(d => (dims.map(_._1).getOrElse(0), dims.map(_._2).getOrElse(0), d, "mp4"))
      }
    }
  }

  /** REAL decode path: WebM/Matroska — EBML element walk (varint id,
    * varint size, payload): EBML header (0x1A45DFA3) then
    * Segment→Tracks→TrackEntry→Video→PixelWidth/PixelHeight for dims
    * and Segment→Info→TimestampScale (default 1 ms) + Duration (float,
    * in timestamp-scale units) for length. Only the container IDs on
    * that path are descended; unknown-size elements (size varint all-1s,
    * legal for Segment in live streams) extend to the region end. The
    * actual VP8/VP9/AV1 frame payloads still need a codec — header-only
    * like every other real path. */
  case object WebmCodec extends VideoCodec {
    /** EBML varint at o: (value, width). Ids keep the marker bit; sizes
      * strip it. Returns width -1 on truncation/invalid. */
    private def varint(b: Array[Byte], o: Int, lim: Int, keepMarker: Boolean): (Long, Int) = {
      if (o >= lim) return (0L, -1)
      val first = b(o) & 0xff
      if (first == 0) return (0L, -1)
      val w = Integer.numberOfLeadingZeros(first) - 23 // 1..8
      if (o + w > lim) return (0L, -1)
      var v: Long = if (keepMarker) first.toLong else (first & (0xff >> w)).toLong
      var i = 1
      while (i < w) { v = (v << 8) | (b(o + i) & 0xff); i += 1 }
      (v, w)
    }

    /** (id, payloadStart, payloadEnd) for each child of b[from, lim). */
    private def ebmlChildren(b: Array[Byte], from: Int, lim: Int): Iterator[(Long, Int, Int)] =
      new Iterator[(Long, Int, Int)] {
        private var i = from
        private var nxt: (Long, Int, Int) = null
        private def advance(): Unit = {
          nxt = null
          if (i >= lim) return
          val (id, iw) = varint(b, i, lim, keepMarker = true)
          if (iw < 0) return
          val (sz, sw) = varint(b, i + iw, lim, keepMarker = false)
          if (sw < 0) return
          val start = i + iw + sw
          if (start > lim) return
          // all-ones size = "unknown" (legal for a streamed Segment):
          // extends to the region end; truncated sizes clamp like the
          // ISO-BMFF walk. Zero-size elements still progress — the
          // header bytes were consumed.
          val unknown = sz == (1L << (7 * sw)) - 1
          val end = if (unknown) lim else math.min(start.toLong + sz, lim.toLong).toInt
          nxt = (id, start, end)
          i = if (unknown) lim else end
        }
        advance()
        def hasNext: Boolean = nxt != null
        def next(): (Long, Int, Int) = { val r = nxt; advance(); r }
      }

    private def uint(b: Array[Byte], from: Int, to: Int): Long = {
      var v = 0L
      var i = from
      while (i < to) { v = (v << 8) | (b(i) & 0xff); i += 1 }
      v
    }

    def decode(b: Array[Byte]): Option[(Int, Int, Long, String)] = {
      if (b == null || b.length < 8) return None
      val top = ebmlChildren(b, 0, b.length).toSeq
      if (top.isEmpty || top.head._1 != 0x1A45DFA3L) return None
      val segment = top.find(_._1 == 0x18538067L).getOrElse(return None)
      val kids = ebmlChildren(b, segment._2, segment._3).toSeq
      val dims = for {
        (_, ts, te) <- kids.find(_._1 == 0x1654AE6BL) // Tracks
        entry <- ebmlChildren(b, ts, te).find(_._1 == 0xAEL) // TrackEntry
        video <- ebmlChildren(b, entry._2, entry._3).find(_._1 == 0xE0L)
        vids = ebmlChildren(b, video._2, video._3).toSeq
        (_, ws, we) <- vids.find(_._1 == 0xB0L) // PixelWidth
        (_, hs, he) <- vids.find(_._1 == 0xBAL) // PixelHeight
      } yield (uint(b, ws, we).toInt, uint(b, hs, he).toInt)
      val durMs = (for {
        (_, is, ie) <- kids.find(_._1 == 0x1549A966L) // Info
        info = ebmlChildren(b, is, ie).toSeq
        (_, ds, de) <- info.find(_._1 == 0x4489L) // Duration (float)
      } yield {
        val scaleNs = info.find(_._1 == 0x2AD7B1L)
          .map { case (_, s, e) => uint(b, s, e) }.getOrElse(1000000L)
        val ticks =
          if (de - ds == 4) java.lang.Float.intBitsToFloat(be32(b, ds)).toDouble
          else if (de - ds == 8) java.lang.Double.longBitsToDouble(be64(b, ds))
          else 0.0
        (ticks * scaleNs / 1e6).toLong
      }).getOrElse(0L)
      dims.map { case (w, h) => (w, h, durMs, "webm") }
        .orElse(if (durMs > 0) Some((0, 0, durMs, "webm")) else None)
    }
  }

  /** REAL decode path: AVI — RIFF 'AVI ' form, then the mandatory
    * LIST/'hdrl' whose first child is 'avih' (MainAVIHeader):
    * dwMicroSecPerFrame at payload +0, dwTotalFrames at +16, dwWidth/
    * dwHeight at +32/+36 (all u32-LE); duration = µs/frame × frames.
    * Same RIFF chunk walk as [[WavCodec]]/[[WebPCodec]]. */
  case object AviCodec extends VideoCodec {
    def decode(b: Array[Byte]): Option[(Int, Int, Long, String)] = {
      if (b == null || b.length < 24 ||
        b(0) != 'R'.toByte || b(1) != 'I'.toByte || b(2) != 'F'.toByte || b(3) != 'F'.toByte ||
        b(8) != 'A'.toByte || b(9) != 'V'.toByte || b(10) != 'I'.toByte || b(11) != ' '.toByte)
        return None
      var i = 12
      while (i + 12 <= b.length) {
        val id = new String(b, i, 4, "US-ASCII")
        val size = le32(b, i + 4).toLong & 0xffffffffL
        if (id == "LIST" && new String(b, i + 8, 4, "US-ASCII") == "hdrl") {
          val p = i + 12
          if (p + 8 + 40 > b.length || new String(b, p, 4, "US-ASCII") != "avih") return None
          val usPerFrame = le32(b, p + 8).toLong & 0xffffffffL
          val frames = le32(b, p + 24).toLong & 0xffffffffL
          return Some((le32(b, p + 40), le32(b, p + 44),
            usPerFrame * frames / 1000L, "avi"))
        }
        val next = i.toLong + 8L + size + (size & 1L)
        if (next <= i || next > b.length) return None
        i = next.toInt
      }
      None
    }
  }

  /** STUB tail for unparseable video payloads (raw codec streams,
    * formats outside the parsed set): deterministic pseudo-metadata
    * from the byte length, mirrored by q116's oracle arithmetic. */
  case object VideoStubCodec extends VideoCodec {
    def decode(bytes: Array[Byte]): Option[(Int, Int, Long, String)] = {
      val n = if (bytes == null) 0 else bytes.length
      Some((256 + n % 1024, 144 + (n * 17) % 936, (n % 3600) * 1000L,
        if (n % 2 == 0) "mp4" else "webm"))
    }
  }

  val DefaultVideoCodecs: Seq[VideoCodec] =
    Seq(Mp4Codec, WebmCodec, AviCodec, VideoStubCodec)

  /** Attach decoded video metadata; same seam as [[decodeImageMeta]]. */
  def decodeVideoMeta(df: DataFrame, payloadCol: String): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField("video_meta", VideoMetaSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      val chain = DefaultVideoCodecs
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val (w, h, dur, f) = chain.view.flatMap(_.decode(bytes)).headOption
          .getOrElse((0, 0, 0L, "unknown"))
        Row.fromSeq(row.toSeq :+ Row(w, h, dur, f))
      }
    }(enc)
  }
}
