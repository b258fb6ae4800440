package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media travel as opaque `BINARY` payloads plus a typed
  * metadata struct; decode / feature-extraction runs as batched
  * per-partition compute over the binary column; resize and
  * frame-sampling are metadata-plan operations that never touch the
  * payload bytes.
  *
  * Decode kernels:
  *  - a REAL PNG codec path ([[encodePng]]/[[decodePngStats]]) through
  *    `javax.imageio` (in the JDK — no external codec needed): images
  *    are encoded to genuine PNG bytes and decoded back, with exact
  *    per-channel pixel sums proving the round trip lossless;
  *  - a REAL lossy JPEG path ([[encodeJpeg]]/[[jpegFidelityStats]]) —
  *    exact sums plus a mean-fidelity certificate (lossy by design);
  *  - a REAL WAV/PCM audio path ([[encodeWav]]/[[decodeWavStats]])
  *    through `javax.sound.sampled` (also JDK-bundled), same
  *    construction: exact per-channel sample sums prove the encode →
  *    decode round trip bit-lossless through a real audio container;
  *  - a REAL VIDEO path ([[encodeGif]]/[[decodeGifFrameStats]]):
  *    multi-frame animated GIF through `javax.imageio`'s sequence API,
  *    per-frame exact luminance sums proving every frame of the
  *    animation round-trips losslessly;
  *  - a deterministic md5 STUB ([[stubDecodeFeature]]), clearly named,
  *    standing in for external codecs not in this container (libjpeg-
  *    turbo, ffmpeg, …). It gates the BATCH SHAPE — the schema, the
  *    `Dataset[MediaRow]` encoder, the mapPartitions state reuse, the
  *    partitioning and the downstream feature plumbing a production
  *    decoder drops into (exactly as the four real tiers demonstrate).
  *
  * All five tiers cross bytes ⇄ samples through the [[MediaCodec]]
  * trait ([[StubCodec]], [[PngCodec]], [[JpegCodec]], [[WavCodec]],
  * [[GifCodec]]) — an external JNI codec implements that trait and
  * passes as the `codec` argument; queries and plumbing don't change.
  *
  * Scale notes:
  *  - Payloads never pass through a wide operator here: decode is a
  *    narrow mapPartitions (CPU-bound, scan-parallel); resize/frame
  *    plans are pure projections. The one rule at 100 TB: filter and
  *    frame-sample on METADATA first, decode last, so the expensive
  *    kernel sees the fewest bytes.
  *  - Feature output is `array<float>` — compact, columnar-friendly,
  *    and directly consumable by [[SimilarityOps]] (ANN, near-dup).
  */
object MultimodalOps {

  /** Typed view of one media row crossing the decode boundary. */
  case class MediaRow(media_id: Long, kind: String, width: Int, height: Int,
      n_frames: Int, payload: Array[Byte])

  /** Decoded features for one media item. */
  case class MediaFeatures(media_id: Long, n_bytes: Long, features: Array[Float])

  // -------------------------------------------------------------------
  // The pluggable codec boundary. Every tier (stub, PNG, JPEG, WAV,
  // animated GIF) crosses bytes ⇄ samples through this trait, so an
  // external codec (libjpeg-turbo / ffmpeg over JNI) drops in by
  // implementing MediaCodec and passing it to the encode/decode
  // functions — no query or plumbing changes (the encode*/decode*Stats
  // signatures default to the built-in codec for each tier).

  /** Codec-neutral raw media: integer sample planes plus dimensions.
    * Images: planes = [r, g, b], each row-major `width·height`; audio:
    * `width` = frame count, `height` = 1, planes = [left, right]
    * (signed 16-bit values); video: one `width·height` luminance plane
    * per frame.
    */
  case class RawMedia(width: Int, height: Int, planes: Array[Array[Int]])

  /** One pluggable codec. The two-level shape mirrors real codec libs:
    * the `MediaCodec` VALUE is tiny and serializable (it travels in the
    * task closure); [[MediaCodec.Session]] holds the per-partition
    * (per-batch) state — ImageIO writer/reader instances here, a JNI
    * codec context in a production drop-in — allocated by `open()` once
    * per partition and reused row by row (the batch-shape contract all
    * five tiers demonstrate; sessions are single-threaded by design,
    * matching Spark's one-task-per-partition execution).
    */
  trait MediaCodec extends Serializable {
    def name: String
    def open(): MediaCodec.Session
  }

  object MediaCodec {
    trait Session {
      def encode(raw: RawMedia): Array[Byte]
      def decode(bytes: Array[Byte]): RawMedia

      /** Feature vector from container bytes. Default: decode and take
        * per-plane means (cycled over `nDims`) — a stand-in embedding;
        * [[StubCodec]] overrides with its md5 formula (the gated
        * surface), a real embedding codec overrides with the model.
        */
      def features(bytes: Array[Byte], nDims: Int): Array[Float] = {
        val raw = decode(bytes)
        Array.tabulate(nDims) { d =>
          val p = raw.planes(d % raw.planes.length)
          if (p.isEmpty) 0f
          else (p.foldLeft(0L)(_ + _.toLong).toDouble / p.length).toFloat
        }
      }
    }
  }

  /** The named STUB tier as a codec: no real container — encode emits
    * the single plane's bytes, decode reads one unsigned-byte plane,
    * and `features` is the md5 formula gated by q_mm_decode_stub. This
    * is the documented replacement point for external codecs this
    * container doesn't ship: implement [[MediaCodec]] over the real
    * library and pass it to [[decodeFeatures]] — queries don't change.
    */
  object StubCodec extends MediaCodec {
    val name = "stub"
    def open(): MediaCodec.Session = new MediaCodec.Session {
      def encode(raw: RawMedia): Array[Byte] =
        raw.planes.headOption.getOrElse(Array.empty[Int]).map(v => (v & 0xff).toByte)
      def decode(bytes: Array[Byte]): RawMedia =
        RawMedia(bytes.length, 1, Array(bytes.map(b => (b & 0xff): Int)))
      override def features(bytes: Array[Byte], nDims: Int): Array[Float] =
        Array.tabulate(nDims)(d => stubDecodeFeature(bytes, d))
    }
  }

  /** Derive a media table from `documents`: the text bytes stand in for
    * an encoded payload; kind/width/height/n_frames are deterministic
    * functions of (doc_id, n_chars) so every engine derives the same
    * metadata. Schema: (media_id, kind, width, height, n_frames,
    * payload BINARY).
    */
  def asMedia(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(lit(Array("image", "audio", "video")),
        (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("kind"),
      (lit(16L) + pmod(col("n_chars"), lit(241L))).cast("int").as("width"),
      (lit(16L) + pmod(col("n_chars") * 7L, lit(241L))).cast("int").as("height"),
      (lit(1L) + pmod(col("doc_id") * 13L, lit(120L))).cast("int").as("n_frames"),
      col(textCol).cast("binary").as("payload"))

  /** STUB decode kernel — stands in for a real image/audio decoder.
    * Deterministic and engine-portable: feature d of a payload is the
    * first 24 bits of md5(payload ++ ":" ++ d) scaled to [0, 1).
    * 24 bits so the value is EXACT in float32 (and its /2^24 scaling is
    * a power of two) — the oracle's double-precision recomputation
    * matches bit-for-bit. A real deployment replaces ONLY this function
    * (e.g. JNI to libjpeg / ffmpeg); the batch plumbing is unchanged.
    */
  def stubDecodeFeature(payload: Array[Byte], dim: Int): Float = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(payload)
    md.update(s":$dim".getBytes("UTF-8"))
    val h = md.digest()
    val u = ((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)
    (u.toDouble / 16777216.0).toFloat
  }

  /** Batched decode + feature extraction: one pass per partition over
    * the binary payloads (the Scala analogue of a pandas-batch UDF —
    * the MessageDigest instance and any decoder state are allocated
    * once per PARTITION, then reused row by row). Output:
    * (media_id, n_bytes, features array<float>[nDims]).
    */
  def decodeFeatures(media: DataFrame, nDims: Int = 8,
      codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "width", "height", "n_frames", "payload")
      .as[MediaRow]
      .mapPartitions { rows =>
        // per-partition (per-batch) codec state — a real decoder's
        // context initializes once here, via the codec session
        val s = codec.open()
        rows.map { r =>
          MediaFeatures(r.media_id, r.payload.length.toLong,
            s.features(r.payload, nDims))
        }
      }
  }

  // -------------------------------------------------------------------
  // Real codec path: PNG through javax.imageio (JDK-bundled).

  /** One image crossing the real-codec boundary: genuine PNG bytes. */
  case class EncodedImage(media_id: Long, width: Int, height: Int, png: Array[Byte])

  /** Exact per-channel pixel sums of one decoded image. */
  case class ImageStats(media_id: Long, n_px: Long, r_sum: Long, g_sum: Long, b_sum: Long)

  /** Deterministic pixel content: channel values are fixed integer
    * functions of (media_id, x, y), so an oracle can recompute the
    * decoded stats WITHOUT any codec — which is what makes the real
    * encode→decode round trip gateable (the engine path goes formula →
    * PNG encode → `ImageIO.read` → sums; the oracle goes formula →
    * sums; PNG being lossless, they must agree exactly).
    */
  def pixelChannels(mediaId: Long, x: Int, y: Int): (Int, Int, Int) = {
    val m = (mediaId % 256).toInt
    ((7 * x + 3 * y + m) % 256,
     (5 * x + 11 * y + 2 * m) % 256,
     (13 * x + 17 * y + 3 * m) % 256)
  }

  /** Render the deterministic pixel pattern of one image id into
    * codec-neutral RGB planes — the formula side of every image-tier
    * gate (PNG lossless, JPEG fidelity).
    */
  private def renderImageRaw(id: Long, w: Int, h: Int): RawMedia = {
    val n = w * h
    val r = new Array[Int](n); val g = new Array[Int](n); val b = new Array[Int](n)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (rv, gv, bv) = pixelChannels(id, x, y)
        val i = y * w + x
        r(i) = rv; g(i) = gv; b(i) = bv
        x += 1
      }
      y += 1
    }
    RawMedia(w, h, Array(r, g, b))
  }

  /** RGB planes → `TYPE_INT_RGB` image (bulk raster fill: one array
    * store per pixel, one setRGB call per image instead of w·h
    * synchronized ones). Shared by the PNG and JPEG sessions.
    */
  private def rgbImage(raw: RawMedia): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      raw.width, raw.height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rr = raw.planes(0); val gg = raw.planes(1); val bb = raw.planes(2)
    val px = new Array[Int](raw.width * raw.height)
    var i = 0
    while (i < px.length) { px(i) = (rr(i) << 16) | (gg(i) << 8) | bb(i); i += 1 }
    img.setRGB(0, 0, raw.width, raw.height, px, 0, raw.width)
    img
  }

  /** Decoded image → RGB planes. Truecolor PNG/JPEG decode to
    * `TYPE_3BYTE_BGR`: read the backing byte array directly (no
    * per-pixel ColorModel conversion); any other layout takes the bulk
    * sRGB path. Shared by the PNG and JPEG sessions.
    */
  private def rgbPlanes(img: java.awt.image.BufferedImage): RawMedia = {
    val w = img.getWidth; val h = img.getHeight
    val n = w * h
    val r = new Array[Int](n); val g = new Array[Int](n); val b = new Array[Int](n)
    img.getRaster.getDataBuffer match {
      case db: java.awt.image.DataBufferByte
          if img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR =>
        val data = db.getData
        var i = 0
        while (i < n) {
          b(i) = data(i * 3) & 0xff
          g(i) = data(i * 3 + 1) & 0xff
          r(i) = data(i * 3 + 2) & 0xff
          i += 1
        }
      case _ =>
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < n) {
          val p = px(i)
          r(i) = (p >> 16) & 0xff; g(i) = (p >> 8) & 0xff; b(i) = p & 0xff
          i += 1
        }
    }
    RawMedia(w, h, Array(r, g, b))
  }

  /** The session shape every `javax.imageio` codec shares: one writer
    * and one (lazy) reader for `format` per session, disk cache OFF (a
    * file-backed image stream per row would dominate at thumbnail
    * sizes), and in-memory stream plumbing around each encode/decode.
    */
  private abstract class ImageIOSession(format: String) extends MediaCodec.Session {
    javax.imageio.ImageIO.setUseCache(false)
    protected val writer: javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName(format).next()
    protected lazy val reader: javax.imageio.ImageReader =
      javax.imageio.ImageIO.getImageReadersByFormatName(format).next()

    /** The bytes `write` puts through [[writer]] into a fresh buffer. */
    protected def written(write: => Unit): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      write
      ios.close()
      bos.toByteArray
    }

    /** `decode`'s result with [[reader]] set on `bytes`. */
    protected def read[T](bytes: Array[Byte])(decode: => T): T = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis)
      val out = decode
      iis.close()
      out
    }
  }

  /** The real PNG codec (lossless) through JDK `javax.imageio`, one
    * [[ImageIOSession]] per partition.
    */
  object PngCodec extends MediaCodec {
    val name = "png"
    def open(): MediaCodec.Session = new ImageIOSession("png") {
      def encode(raw: RawMedia): Array[Byte] =
        written(writer.write(rgbImage(raw)))
      def decode(bytes: Array[Byte]): RawMedia =
        rgbPlanes(read(bytes)(reader.read(0)))
    }
  }

  /** Image metadata plan: small deterministic dimensions (8–32 px per
    * side) keyed off doc ids. Small because the gate proves codec
    * FIDELITY, not throughput — the per-pixel loops are O(w·h) per row
    * and scan-parallel regardless of size. [[graft.PlanUtils.spread]]
    * pins an exchange below the codec chain: the single-split test
    * parquet would otherwise feed the CPU-bound encode/decode to ONE
    * core (measured 7.0 → 0.7 s at sf0.1 on 32; a real multi-split
    * lake makes it a no-op).
    */
  def syntheticImageMeta(docs: DataFrame): DataFrame =
    graft.PlanUtils.spread(
      docs.select(col("doc_id").as("media_id"),
        (lit(8) + pmod(col("doc_id"), lit(25L))).cast("int").as("width"),
        (lit(8) + pmod(col("doc_id") * 7L, lit(25L))).cast("int").as("height")))

  /** ENCODE through the real codec: renders each row's deterministic
    * pixel pattern into a `BufferedImage` and writes genuine PNG bytes
    * with `javax.imageio`. Narrow mapPartitions — CPU-bound,
    * scan-parallel, no shuffle.
    */
  def encodePng(meta: DataFrame,
      codec: MediaCodec = PngCodec): Dataset[EncodedImage] = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.select("media_id", "width", "height").as[(Long, Int, Int)]
      .mapPartitions { rows =>
        val s = codec.open() // per-PARTITION codec state (batch shape)
        rows.map { case (id, w, h) =>
          EncodedImage(id, w, h, s.encode(renderImageRaw(id, w, h)))
        }
      }
  }

  /** DECODE through the real codec: the session hands back RGB planes,
    * then exact integer per-channel sums over every pixel — the
    * feature-extraction shape (decode once, reduce per row) a real
    * pipeline uses, with integer sums so no float parity questions.
    */
  def decodePngStats(imgs: Dataset[EncodedImage],
      codec: MediaCodec = PngCodec): Dataset[ImageStats] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.mapPartitions { rows =>
      val s = codec.open() // one reader per partition, reused
      rows.map { e =>
        val raw = s.decode(e.png)
        val sums = raw.planes.map { p =>
          var t = 0L; var i = 0
          while (i < p.length) { t += p(i); i += 1 }
          t
        }
        ImageStats(e.media_id, raw.width.toLong * raw.height,
          sums(0), sums(1), sums(2))
      }
    }
  }

  case class ImageHash(media_id: Long, sig: Long)

  /** Average-hash perceptual fingerprint (aHash — the pHash family's
    * integer-exact member; Niu & Jiao 2008 survey) over the DECODED
    * image: per-pixel luminance l = r + g + b, an 8×7 cell grid via
    * integer floor mapping (cx = x·8/w, cy = y·7/h — w, h ≥ 8 ⇒ no
    * empty cells), and bit cy·8+cx set iff
    * cell_sum · n_px > total_sum · cell_n — an exact int64
    * cross-multiplication, no float mean, so the hash is bit-portable
    * to any engine. 56 bits keep the packed signature a positive
    * BIGINT everywhere (DuckDB errors on 1 << 63). Near-dup images
    * (re-encodes, small edits) land within a few bits; pair them with
    * [[DedupOps.hammingPairs]] — the image-dedup stage of a
    * multimodal training pipeline. Overflow-safe to ~40-megapixel
    * frames (cell_sum·n ≤ 765·n²/56 < 2⁶³).
    *
    * Same per-partition codec-session shape as [[decodePngStats]]:
    * decode once, reduce to one row — map-only, scan-parallel.
    */
  def pngAHash(imgs: Dataset[EncodedImage],
      codec: MediaCodec = PngCodec): Dataset[ImageHash] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.mapPartitions { rows =>
      val s = codec.open()
      rows.map { e =>
        val raw = s.decode(e.png)
        val w = raw.width; val h = raw.height
        val r = raw.planes(0); val g = raw.planes(1); val b = raw.planes(2)
        val cell = new Array[Long](56); val cnt = new Array[Long](56)
        var tot = 0L
        var y = 0
        while (y < h) {
          val cy = y * 7 / h
          var x = 0
          while (x < w) {
            val c = cy * 8 + x * 8 / w
            val l = (r(y * w + x) + g(y * w + x) + b(y * w + x)).toLong
            cell(c) += l; cnt(c) += 1; tot += l
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var sig = 0L
        var c = 0
        while (c < 56) {
          if (cell(c) * n > tot * cnt(c)) sig |= 1L << c
          c += 1
        }
        ImageHash(e.media_id, sig)
      }
    }
  }

  // -------------------------------------------------------------------
  // Real codec path #1b: JPEG — the LOSSY tier. PNG/WAV prove
  // bit-lossless round trips; a production corpus's dominant image
  // format is JPEG, where exact-sum equality is impossible by design.
  // The gate becomes an ERROR CERTIFICATE (the SketchOps construction):
  // the engine runs formula → real JPEG encode (explicit quality) →
  // real decode → per-channel means, asserts |decoded mean − exact
  // mean| ≤ tol per channel, and publishes the EXACT sums plus the
  // boolean; the oracle recomputes the exact sums codec-free and emits
  // TRUE — hash equality proves the decoded image is a faithful
  // rendition without demanding byte equality of a lossy codec.

  /** One image crossing the lossy-codec boundary: genuine baseline
    * JPEG bytes at an explicit quality factor.
    */
  case class EncodedJpeg(media_id: Long, width: Int, height: Int, jpg: Array[Byte])

  /** [[ImageStats]] plus the decoded-vs-exact certificate. */
  case class JpegFidelity(media_id: Long, n_px: Long, r_sum: Long,
    g_sum: Long, b_sum: Long, within_tol: Boolean)

  /** The real JPEG codec (LOSSY) through JDK `javax.imageio`, baseline
    * mode at an explicit `quality` (deterministic — pure software, no
    * platform codec). Same session shape as [[PngCodec]].
    */
  case class JpegCodec(quality: Float = 0.9f) extends MediaCodec {
    val name = "jpeg"
    def open(): MediaCodec.Session = new ImageIOSession("jpeg") {
      private val param = {
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(quality)
        p
      }
      def encode(raw: RawMedia): Array[Byte] =
        written(writer.write(null,
          new javax.imageio.IIOImage(rgbImage(raw), null, null), param))
      def decode(bytes: Array[Byte]): RawMedia =
        rgbPlanes(read(bytes)(reader.read(0)))
    }
  }

  /** ENCODE through the real lossy codec: the same deterministic pixel
    * pattern as the PNG tier, written as baseline JPEG via the
    * JDK-bundled writer with MODE_EXPLICIT quality (deterministic —
    * pure software, no platform codec). Narrow mapPartitions, one
    * writer per partition, disk cache off — the PNG tier's batch-shape
    * contract unchanged.
    */
  def encodeJpeg(meta: DataFrame, quality: Float = 0.9f,
      codec: MediaCodec = null): Dataset[EncodedJpeg] = {
    val c = if (codec != null) codec else JpegCodec(quality)
    val spark = meta.sparkSession
    import spark.implicits._
    meta.select("media_id", "width", "height").as[(Long, Int, Int)]
      .mapPartitions { rows =>
        val s = c.open()
        rows.map { case (id, w, h) =>
          EncodedJpeg(id, w, h, s.encode(renderImageRaw(id, w, h)))
        }
      }
  }

  /** DECODE the lossy bytes and certify fidelity: per-channel decoded
    * sums vs the EXACT formula sums (recomputed in the same pass —
    * integer loops, no second scan), certificate = every channel's
    * |decoded mean − exact mean| ≤ `tol` (on the 0-255 scale). The
    * PUBLISHED sums are the exact ones — engine-recomputable by the
    * oracle — so the hash gate stays integer-exact while the boolean
    * carries the codec-fidelity proof.
    *
    * Default tol: the worst image over the ENTIRE (dims × pattern)
    * cycle of [[syntheticImageMeta]] (6400 ids — every combination any
    * scale factor can produce) measures 4.22 at quality 0.9, on an 8×8
    * thumbnail where block-DCT edge effects dominate; 6.0 keeps a
    * 1.4× margin. Spec-pinned at the known worst id.
    */
  def jpegFidelityStats(imgs: Dataset[EncodedJpeg], tol: Double = 6.0,
      codec: MediaCodec = JpegCodec()): Dataset[JpegFidelity] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.mapPartitions { rows =>
      val s = codec.open()
      rows.map { e =>
        val raw = s.decode(e.jpg)
        val Array(rs, gs, bs) = raw.planes.map { p =>
          var t = 0L; var i = 0
          while (i < p.length) { t += p(i); i += 1 }
          t
        }
        // exact sums straight from the formula — same integers the
        // oracle recomputes
        var er = 0L; var eg = 0L; var eb = 0L
        var y = 0
        while (y < e.height) {
          var x = 0
          while (x < e.width) {
            val (r, g, b) = pixelChannels(e.media_id, x, y)
            er += r; eg += g; eb += b
            x += 1
          }
          y += 1
        }
        val n = e.width.toLong * e.height
        val ok = raw.width == e.width && raw.height == e.height &&
          math.abs(rs.toDouble / n - er.toDouble / n) <= tol &&
          math.abs(gs.toDouble / n - eg.toDouble / n) <= tol &&
          math.abs(bs.toDouble / n - eb.toDouble / n) <= tol
        JpegFidelity(e.media_id, n, er, eg, eb, ok)
      }
    }
  }

  // -------------------------------------------------------------------
  // Real codec path #2: WAV/PCM audio through javax.sound.sampled
  // (JDK-bundled, like imageio — file-format I/O needs no audio device,
  // so it runs headless). Same gate construction as the PNG tier:
  // deterministic sample formula → real encode → real decode → exact
  // integer reductions, with the oracle recomputing the reductions
  // codec-free so a green row proves the round trip bit-lossless.

  /** One audio clip crossing the real-codec boundary: genuine WAV bytes
    * (RIFF header + 16-bit signed little-endian stereo PCM).
    */
  case class EncodedAudio(media_id: Long, n_frames: Int, wav: Array[Byte])

  /** Exact per-channel sample sums of one decoded clip. */
  case class AudioStats(media_id: Long, n_frames: Long, l_sum: Long, r_sum: Long)

  /** Deterministic sample content: the 16-bit signed sample of frame i,
    * channel ch (0 = left, 1 = right) of clip `mediaId`. Integer-only —
    * all addends non-negative before the mod, so `%` agrees across
    * engines — and it sweeps the full 16-bit range as i grows (31 is
    * coprime to 65536), so the codec sees every byte pattern class.
    */
  def sampleValue(mediaId: Long, i: Int, ch: Int): Int =
    ((31L * i + 7L * ch + (mediaId % 65536L)) % 65536L).toInt - 32768

  /** Audio metadata plan: small deterministic frame counts (64–504
    * stereo frames) keyed off doc ids — fidelity-gate sizing, same
    * rationale (and same [[graft.PlanUtils.spread]] barrier) as
    * [[syntheticImageMeta]].
    */
  def syntheticAudioMeta(docs: DataFrame): DataFrame =
    graft.PlanUtils.spread(
      docs.select(col("doc_id").as("media_id"),
        (lit(64) + pmod(col("doc_id"), lit(441L))).cast("int").as("n_frames")))

  private val wavFormat = new javax.sound.sampled.AudioFormat(
    /* sampleRate */ 8000f, /* bits */ 16, /* channels */ 2,
    /* signed */ true, /* bigEndian */ false)

  /** The real WAV/PCM codec through the platform `javax.sound.sampled`
    * SPI providers — resolved directly rather than via `AudioSystem`,
    * which re-scans the SPI registry on EVERY write call (the JDK's
    * sound services are not cached; the registry scan dominates at clip
    * sizes of a few KB — the PNG lesson, audio edition). Raw layout:
    * planes = [left, right] signed 16-bit samples, width = frame
    * count. Provider resolution happens once per
    * session: the WAVE writer by capability query; the reader LAZILY on
    * the first decode (the SPI has no "supports this format" query —
    * `AudioSystem` probes readers by exception per call — so the first
    * clip elects the reader that accepts WAV and the rest of the
    * session reuses it). The decoded format is asserted, not assumed —
    * a codec that silently resampled or widened fails loudly here
    * rather than hash-mismatching downstream.
    */
  object WavCodec extends MediaCodec {
    val name = "wav"
    def open(): MediaCodec.Session = new MediaCodec.Session {
      import scala.jdk.CollectionConverters._
      private lazy val writer = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
        .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
        .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter provider"))
      private lazy val readers = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala.toList
      private var elected: javax.sound.sampled.spi.AudioFileReader = null
      private def openStream(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
        val in = new java.io.ByteArrayInputStream(bytes)
        if (elected != null) elected.getAudioInputStream(in)
        else {
          val (r, ais) = readers.view.flatMap { r =>
            try Some(r -> r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes)))
            catch { case _: javax.sound.sampled.UnsupportedAudioFileException => None }
          }.headOption.getOrElse(
            throw new IllegalStateException("no WAV AudioFileReader provider"))
          elected = r
          ais
        }
      }
      def encode(raw: RawMedia): Array[Byte] = {
        val n = raw.width
        val l = raw.planes(0); val r = raw.planes(1)
        // 2 channels × 2 bytes, little-endian, frame-interleaved
        val pcm = new Array[Byte](n * 4)
        var i = 0
        while (i < n) {
          pcm(i * 4) = (l(i) & 0xff).toByte
          pcm(i * 4 + 1) = ((l(i) >> 8) & 0xff).toByte
          pcm(i * 4 + 2) = (r(i) & 0xff).toByte
          pcm(i * 4 + 3) = ((r(i) >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), wavFormat, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        writer.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      def decode(bytes: Array[Byte]): RawMedia = {
        val ais = openStream(bytes)
        val f = ais.getFormat
        require(f.getSampleSizeInBits == 16 && f.getChannels == 2 && !f.isBigEndian &&
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"decoded format diverged: $f")
        val pcm = ais.readAllBytes()
        ais.close()
        val n = pcm.length / 4
        val l = new Array[Int](n); val r = new Array[Int](n)
        var i = 0
        while (i < n) {
          l(i) = ((pcm(i * 4 + 1) << 8) | (pcm(i * 4) & 0xff)).toShort.toInt
          r(i) = ((pcm(i * 4 + 3) << 8) | (pcm(i * 4 + 2) & 0xff)).toShort.toInt
          i += 1
        }
        RawMedia(n, 1, Array(l, r))
      }
    }
  }

  def encodeWav(meta: DataFrame,
      codec: MediaCodec = WavCodec): Dataset[EncodedAudio] = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.select("media_id", "n_frames").as[(Long, Int)]
      .mapPartitions { rows =>
        val s = codec.open()
        rows.map { case (id, n) =>
          val l = new Array[Int](n); val r = new Array[Int](n)
          var i = 0
          while (i < n) {
            l(i) = sampleValue(id, i, 0); r(i) = sampleValue(id, i, 1)
            i += 1
          }
          EncodedAudio(id, n, s.encode(RawMedia(n, 1, Array(l, r))))
        }
      }
  }

  /** DECODE through the real codec: the session parses the WAV
    * container (RIFF chunks, format negotiation) back to PCM planes;
    * exact per-channel integer sums over every frame prove fidelity.
    */
  def decodeWavStats(clips: Dataset[EncodedAudio],
      codec: MediaCodec = WavCodec): Dataset[AudioStats] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.mapPartitions { rows =>
      val s = codec.open()
      rows.map { e =>
        val raw = s.decode(e.wav)
        val Array(ls, rs) = raw.planes.map { p =>
          var t = 0L; var i = 0
          while (i < p.length) { t += p(i); i += 1 }
          t
        }
        AudioStats(e.media_id, raw.width.toLong, ls, rs)
      }
    }
  }

  // -------------------------------------------------------------------
  // Real codec path #3: VIDEO as multi-frame animated GIF through
  // javax.imageio (the JDK's GIF plugin reads AND writes image
  // sequences). Same gate construction as the PNG tier, one level up:
  // deterministic per-frame pixel patterns → real multi-frame encode →
  // real per-frame decode → exact integer sums PER FRAME, with the
  // oracle recomputing every frame's sum codec-free. GIF stores
  // 8-bit-indexed pixels losslessly, so rendering through a fixed
  // 256-entry grayscale palette makes the whole animation round-trip
  // bit-exact — the decoded frame index IS the luminance.

  /** One clip crossing the real-codec boundary: a genuine animated GIF
    * (every frame full-size, fixed 256-gray global palette).
    */
  case class EncodedVideo(media_id: Long, width: Int, height: Int,
      n_frames: Int, gif: Array[Byte])

  /** Exact luminance sum of ONE decoded frame. */
  case class FrameStats(media_id: Long, frame_no: Int, n_px: Long, lum_sum: Long)

  /** Deterministic frame content: the 8-bit luminance of pixel (x, y)
    * in frame `frame` of clip `mediaId`. All addends non-negative
    * before the mod, so `%` agrees across engines; the frame term makes
    * every frame distinct, so a decoder that returned frame 0 for every
    * index would fail the gate.
    */
  def framePixel(mediaId: Long, x: Int, y: Int, frame: Int): Int =
    ((7L * x + 3L * y + 11L * frame + (mediaId % 256L)) % 256L).toInt

  /** Video metadata plan: small deterministic dimensions (8–24 px per
    * side) and frame counts (2–6) keyed off doc ids — fidelity-gate
    * sizing, same rationale (and same [[graft.PlanUtils.spread]]
    * barrier) as [[syntheticImageMeta]].
    */
  def syntheticVideoMeta(docs: DataFrame): DataFrame =
    graft.PlanUtils.spread(
      docs.select(col("doc_id").as("media_id"),
        (lit(8) + pmod(col("doc_id"), lit(17L))).cast("int").as("width"),
        (lit(8) + pmod(col("doc_id") * 7L, lit(17L))).cast("int").as("height"),
        (lit(2) + pmod(col("doc_id") * 13L, lit(5L))).cast("int").as("n_frames")))

  /** 256-entry grayscale palette: index i ↦ (i, i, i). Shared by encode
    * (render target) and the oracle argument (decoded RGB channel ==
    * stored index == formula value).
    */
  private def grayPalette: java.awt.image.IndexColorModel = {
    val v = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, v, v, v)
  }

  /** ENCODE through the real codec: renders each clip's frames into
    * indexed-gray `BufferedImage`s and writes ONE genuine animated GIF
    * via the JDK writer's sequence API (`prepareWriteSequence` /
    * `writeToSequence`). Narrow mapPartitions, one writer per
    * partition, disk cache off — the PNG tier's batch-shape contract.
    */
  /** The real VIDEO codec: multi-frame animated GIF through
    * `javax.imageio`'s sequence API. Raw layout: one luminance plane
    * per frame. Encode renders each plane as an indexed-gray frame
    * (GIF stores 8-bit indices losslessly — the index IS the
    * luminance); decode walks the frame sequence and maps each frame's
    * indices through the DECODED frame's own palette (gray ⇒ red ==
    * luminance) — color-true even if the codec reordered the color
    * table. All decoded frames must share frame 0's dimensions (our
    * encoder writes every frame full-size).
    */
  object GifCodec extends MediaCodec {
    val name = "gif"
    def open(): MediaCodec.Session = new ImageIOSession("gif") {
      private val icm = grayPalette
      def encode(raw: RawMedia): Array[Byte] = written {
        val w = raw.width; val h = raw.height
        writer.prepareWriteSequence(null)
        raw.planes.foreach { plane =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
          val data = img.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferByte].getData
          var i = 0
          while (i < data.length) { data(i) = plane(i).toByte; i += 1 }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
      }
      def decode(bytes: Array[Byte]): RawMedia = read(bytes) {
        val n = reader.getNumImages(true)
        var w = -1; var h = -1
        val planes = Array.tabulate(n) { f =>
          val img = reader.read(f)
          if (f == 0) { w = img.getWidth; h = img.getHeight }
          else require(img.getWidth == w && img.getHeight == h,
            s"decoded frame $f dims diverged (${img.getWidth}x${img.getHeight} vs ${w}x$h)")
          val plane = new Array[Int](w * h)
          (img.getRaster.getDataBuffer, img.getColorModel) match {
            // indexed GIF decodes to a byte raster of palette indices;
            // map through the decoded frame's own palette LUT
            case (db: java.awt.image.DataBufferByte,
                cm: java.awt.image.IndexColorModel)
                if cm.getPixelSize == 8 =>
              val lut = new Array[Int](cm.getMapSize)
              var j = 0
              while (j < lut.length) { lut(j) = cm.getRed(j); j += 1 }
              val data = db.getData
              var i = 0
              while (i < plane.length) { plane(i) = lut(data(i) & 0xff); i += 1 }
            case _ => // any other layout: bulk sRGB path, gray ⇒ b channel
              val px = img.getRGB(0, 0, w, h, null, 0, w)
              var i = 0
              while (i < plane.length) { plane(i) = px(i) & 0xff; i += 1 }
          }
          plane
        }
        RawMedia(w, h, planes)
      }
    }
  }

  def encodeGif(meta: DataFrame,
      codec: MediaCodec = GifCodec): Dataset[EncodedVideo] = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.select("media_id", "width", "height", "n_frames")
      .as[(Long, Int, Int, Int)]
      .mapPartitions { rows =>
        val s = codec.open()
        rows.map { case (id, w, h, nf) =>
          val planes = Array.tabulate(nf) { f =>
            val plane = new Array[Int](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { plane(y * w + x) = framePixel(id, x, y, f); x += 1 }
              y += 1
            }
            plane
          }
          EncodedVideo(id, w, h, nf, s.encode(RawMedia(w, h, planes)))
        }
      }
  }

  /** DECODE through the real codec: the GIF reader walks the frame
    * sequence (`getNumImages` / `read(i)`) and each frame reduces to
    * its exact integer luminance sum — one output row PER FRAME (the
    * frame-extraction shape of a video pipeline). Frame count and
    * dimensions are asserted against the clip's metadata, so a reader
    * that dropped or merged frames fails loudly rather than
    * hash-mismatching downstream.
    */
  def decodeGifFrameStats(clips: Dataset[EncodedVideo],
      codec: MediaCodec = GifCodec): Dataset[FrameStats] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.mapPartitions { rows =>
      val s = codec.open()
      rows.flatMap { e =>
        val raw = s.decode(e.gif)
        require(raw.planes.length == e.n_frames,
          s"decoded frame count ${raw.planes.length} != encoded ${e.n_frames} (media ${e.media_id})")
        require(raw.width == e.width && raw.height == e.height,
          s"decoded dims diverged (media ${e.media_id})")
        raw.planes.zipWithIndex.map { case (plane, f) =>
          var lum = 0L; var i = 0
          while (i < plane.length) { lum += plane(i); i += 1 }
          FrameStats(e.media_id, f, e.width.toLong * e.height, lum)
        }
      }
    }
  }

  /** Resize plan: metadata-only. Scales (width, height) to fit inside
    * `maxSide` preserving aspect ratio — floor(side·maxSide/longest),
    * exact in double for any realistic pixel count (< 2^53), so every
    * engine agrees bit-for-bit. Payload untouched — a real pipeline
    * would fuse this target size into the decode kernel rather than
    * decode-then-resize.
    */
  def resizePlan(media: DataFrame, maxSide: Int): DataFrame = {
    val longest = greatest(col("width"), col("height"))
    val needs = longest > maxSide
    media.select(
      col("media_id"), col("kind"), col("width"), col("height"),
      when(needs, floor(col("width") * lit(maxSide.toLong) / longest).cast("int"))
        .otherwise(col("width")).as("out_w"),
      when(needs, floor(col("height") * lit(maxSide.toLong) / longest).cast("int"))
        .otherwise(col("height")).as("out_h"))
  }

  /** Frame sampling for video rows: every `step`-th frame index
    * (0, step, 2·step, …) up to n_frames−1. Explodes metadata only —
    * at scale, the sampled (media_id, frame_no) list drives a decoder
    * that seeks to exactly those frames, never materializing the rest.
    */
  def sampleFrames(media: DataFrame, step: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step))).as("frame_no"))
}
