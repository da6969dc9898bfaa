package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, and batched per-partition feature extraction.
  *
  * Every decode step here runs a REAL codec from the JDK: feature
  * extraction decodes actual PNG payloads pixel-by-pixel through
  * ImageIO ([[extract]]), audio metadata and frame sampling walk real
  * RIFF/WAVE containers ([[decodeWav]], [[frames]]), and image metadata
  * header-parses PNG/JPEG/GIF/BMP ([[decodeImage]]). Payload CONTENT is
  * synthesized from `documents.text` (UTF-8 bytes as gray pixels / PCM
  * samples) so every decoded value is byte-for-byte reproducible by the
  * DuckDB oracle via char codes — the codecs are real, the fixtures are
  * deterministic. Only a video codec remains out of scope (none ships
  * in the JDK); frame sampling uses the audio container instead.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // round-trips a temp file, which serializes the whole stage on file
  // creation. All payloads here are in-memory byte arrays — cache in
  // heap. (Executor-side objects re-run this init per JVM, which is
  // exactly the scope ImageIO's static registry needs.)
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaFeatures(
      doc_id: Long, mime: String, format: String, width: Int, height: Int,
      f0: Long, f1: Long, f2: Long, f3: Long,
      f4: Long, f5: Long, f6: Long, f7: Long)

  /** Encode raw bytes as a REAL grayscale PNG (one byte = one pixel,
    * row-major at `width`, zero-padded to fill the last row) using the
    * JDK's own PNG writer. 8-bit gray PNG is lossless, so the decoded
    * raster reproduces the input bytes exactly.
    */
  def pngBytes(data: Array[Byte], width: Int = 32): Array[Byte] = {
    val h = math.max(1, (data.length + width - 1) / width)
    val img = new java.awt.image.BufferedImage(
      width, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val padded = java.util.Arrays.copyOf(data, width * h)
    raster.setDataElements(0, 0, width, h, padded)
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, "png", out))
      throw new IllegalStateException("JDK PNG writer unavailable")
    out.toByteArray
  }

  /** REAL decoder: ImageIO pixel-decodes the PNG payload and the
    * features are per-residue pixel sums (raster position mod 8) over
    * the decoded image — an honest stand-in for an embedding model's
    * preprocess stage (decode → normalize → reduce). One iterator per
    * partition, records streamed through; a poisoned payload degrades
    * to format "unknown" instead of killing the stage.
    */
  private def extract(id: Long, mime: String, payload: Array[Byte]): MediaFeatures = {
    val f = new Array[Long](8)
    // NonFatal, not just IOException: the JDK readers throw unchecked
    // exceptions on crafted input (IllegalArgument / IndexOutOfBounds on
    // corrupt header dimensions, CMMException from color management) —
    // a poisoned record must degrade, never kill the stage.
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null)
      return MediaFeatures(id, mime, "unknown", -1, -1, 0, 0, 0, 0, 0, 0, 0, 0)
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { f((y * w + x) % 8) += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    MediaFeatures(id, mime, "png", w, h, f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
  }

  def features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Eval.fanOut(
      Tables(s, dir, "documents")
        .select(col("doc_id"), lit("image/png").as("mime"), encode(col("text"), "UTF-8").as("payload")))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mime, data) => extract(id, mime, pngBytes(data)) })
      .toDF()
      .orderBy("doc_id")
  }

  final case class ImageMeta(
      doc_id: Long, mime: String, format: String,
      width: Int, height: Int, byte_len: Long)

  /** REAL decoder for real image payloads: header parse (format +
    * dimensions) via javax.imageio, which ships in the JDK for
    * PNG/JPEG/GIF/BMP. Reads only the header plane — `getWidth(0)` on an
    * ImageReader does NOT decode pixel data, so a 100 MB scan stays a
    * header-sized read per record. Unrecognized payloads degrade to
    * format "unknown" with -1 dimensions instead of failing the batch
    * (a poisoned record must not kill a 100 TB pipeline stage).
    */
  def decodeImage(id: Long, mime: String, payload: Array[Byte]): ImageMeta = {
    import javax.imageio.ImageIO
    val in = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (readers.hasNext) {
        val r = readers.next()
        // getWidth/getHeight on a recognized-but-corrupt header can
        // throw unchecked — degrade like an unrecognized payload.
        try {
          r.setInput(in)
          ImageMeta(id, mime, r.getFormatName.toLowerCase,
            r.getWidth(0), r.getHeight(0), payload.length.toLong)
        } catch {
          case scala.util.control.NonFatal(_) =>
            ImageMeta(id, mime, "unknown", -1, -1, payload.length.toLong)
        } finally r.dispose()
      } else ImageMeta(id, mime, "unknown", -1, -1, payload.length.toLong)
    } finally in.close()
  }

  /** Distributed image-metadata extraction over a (doc_id, mime, payload)
    * frame — the same per-partition batch shape as [[features]], with the
    * real codec in the inner loop.
    */
  def imageMeta(s: SparkSession, images: DataFrame): DataFrame = {
    import s.implicits._
    images
      .select(col("doc_id").cast("long"), col("mime").cast("string"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mime, payload) => decodeImage(id, mime, payload) })
      .toDF()
  }

  final case class AudioMeta(
      doc_id: Long, format: String, channels: Int, sample_rate: Int,
      bits_per_sample: Int, n_samples: Long, duration_ms: Long)

  /** Minimal canonical RIFF/WAVE writer (44-byte header + PCM data) used
    * to synthesize test payloads from document bytes. Little-endian
    * throughout, as the format requires.
    */
  def wavBytes(pcm: Array[Byte], sampleRate: Int = 16000, channels: Short = 1,
      bitsPerSample: Short = 8): Array[Byte] = {
    val blockAlign = (channels * bitsPerSample / 8).toShort
    val bb = java.nio.ByteBuffer
      .allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign).putShort(bitsPerSample)
      .put("data".getBytes("US-ASCII")).putInt(pcm.length)
      .put(pcm)
    bb.array()
  }

  /** REAL RIFF/WAVE header parser: verifies the RIFF/WAVE magic, then
    * walks the chunk list (word-aligned, unknown chunks skipped) for
    * `fmt ` and `data`, so files with extra LIST/INFO/fact chunks parse
    * correctly — not just our own writer's canonical layout. Reads only
    * chunk headers plus the 16-byte fmt body; the PCM payload is never
    * touched, so cost per record is O(#chunks), not O(bytes). Malformed
    * payloads degrade to format "unknown" with -1 fields (a poisoned
    * record must not kill a 100 TB pipeline stage).
    */
  /** Parsed fmt + data-chunk geometry of a RIFF/WAVE payload — what both
    * metadata extraction ([[decodeWav]]) and PCM frame sampling
    * ([[frames]]) need from the container.
    */
  final case class WavInfo(
      channels: Int, sampleRate: Int, bits: Int, blockAlign: Int,
      dataOff: Int, dataLen: Int)

  /** The chunk walk itself: verifies the RIFF/WAVE magic, then walks the
    * word-aligned chunk list (unknown chunks skipped) for `fmt ` and
    * `data`, so files with extra LIST/INFO/fact chunks parse correctly —
    * not just our own writer's canonical layout. Reads only chunk
    * headers plus the 16-byte fmt body; cost per record is O(#chunks),
    * not O(bytes). Returns None for malformed payloads.
    */
  def walkWav(payload: Array[Byte]): Option[WavInfo] = {
    if (payload.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    if (fourcc() != "RIFF") return None
    bb.getInt() // declared RIFF size; trust actual buffer bounds instead
    if (fourcc() != "WAVE") return None
    var channels, sampleRate, bits = -1
    var dataLen, dataOff = -1
    var blockAlign = -1
    while (bb.remaining() >= 8 && (dataLen < 0 || channels < 0)) {
      val id4 = fourcc()
      val size = bb.getInt()
      if (size < 0 || size > bb.remaining()) return None
      // chunks are word-aligned, but a final odd-sized chunk may omit
      // its pad byte — clamp the skip to the buffer end
      val next = math.min(bb.limit(), bb.position() + size + (size & 1))
      id4 match {
        case "fmt " if size >= 16 =>
          bb.getShort() // audio format tag
          channels = bb.getShort().toInt
          sampleRate = bb.getInt()
          bb.getInt() // byte rate
          blockAlign = bb.getShort().toInt
          bits = bb.getShort().toInt
        case "data" =>
          dataOff = bb.position()
          dataLen = size
        case _ => ()
      }
      bb.position(next)
    }
    if (channels <= 0 || sampleRate <= 0 || blockAlign <= 0 || dataLen < 0) None
    else Some(WavInfo(channels, sampleRate, bits, blockAlign, dataOff, dataLen))
  }

  def decodeWav(id: Long, payload: Array[Byte]): AudioMeta =
    walkWav(payload) match {
      case Some(w) =>
        val nSamples = w.dataLen.toLong / w.blockAlign
        AudioMeta(id, "wav", w.channels, w.sampleRate, w.bits, nSamples,
          nSamples * 1000L / w.sampleRate)
      case None => AudioMeta(id, "unknown", -1, -1, -1, -1L, -1L)
    }

  final case class MediaFrames(
      doc_id: Long, mime: String, n_frames: Long,
      frame_lens: Seq[Long], thumb: Array[Byte])

  /** REAL frame sampler: the payload is an actual RIFF/WAVE file, the
    * chunk walk ([[walkWav]]) locates the PCM `data` region at its true
    * parsed offset (NOT an assumed canonical 44-byte header — LIST/INFO
    * chunks shift it), "frames" are n contiguous sample windows of that
    * region, and the "thumbnail" subsamples every k-th PCM byte to 64
    * bytes — decode-container → locate-stream → window → downsample, the
    * real frame-sampling pipeline shape. Video proper stays out of scope
    * (no video codec ships in the JDK); the container-parse + stream-
    * windowing contract is identical.
    */
  def frames(s: SparkSession, dir: String, n: Int = 4): DataFrame = {
    import s.implicits._
    Eval.fanOut(
      Tables(s, dir, "documents")
        .select(col("doc_id"), lit("audio/wav").as("mime"), encode(col("text"), "UTF-8").as("pcm")))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mime, raw) =>
        val payload = wavBytes(raw)
        walkWav(payload) match {
          case Some(w) =>
            val L = w.dataLen
            val lens = (0 until n).map(i => ((L + n - 1 - i) / n).toLong)
            val step = math.max(1, L / 64)
            val thumb = (0 until math.min(64, L))
              .map(i => payload(w.dataOff + i * step)).toArray
            MediaFrames(id, mime, n.toLong, lens, thumb)
          case None => MediaFrames(id, mime, -1L, Nil, Array.emptyByteArray)
        }
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** Driver-comparable projection of [[frames]]: array columns flattened
    * to strings (frame lengths comma-joined, thumbnail hex-encoded) so
    * the result is hashable row-wise and fully oracle-checkable.
    */
  def framesFlat(s: SparkSession, dir: String, n: Int = 4): DataFrame =
    frames(s, dir, n)
      .select(
        col("doc_id"), col("mime"), col("n_frames"),
        array_join(transform(col("frame_lens"), _.cast("string")), ",").as("frame_lens"),
        hex(col("thumb")).as("thumb_hex"))
      .orderBy("doc_id")

  /** Perceptual dHash over a REAL ImageIO pixel decode: sample a 9×8
    * grid from the decoded raster (integer index arithmetic — no
    * interpolation, so the oracle replays it from character codes) and
    * set bit r·8+c when the left sample outranks its right neighbor.
    * The standard near-dup signature for image corpora; returns 0 for
    * undecodable payloads (degrade, never kill the stage).
    */
  def dHash(payload: Array[Byte]): Long = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return 0L
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    var bits = 0L
    var r = 0
    while (r < 8) {
      val ri = r * h / 8
      var c = 0
      while (c < 8) {
        val p1 = raster.getSample(c * w / 9, ri, 0)
        val p2 = raster.getSample((c + 1) * w / 9, ri, 0)
        if (p1 > p2) bits |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Oracle expression for one dHash sample: the byte the Spark side's
    * decoded raster holds at grid cell (k/8, colExpr) — position
    * arithmetic identical to [[dHash]], zero beyond the text (the PNG
    * pad row).
    */
  private def oraclePix(colExpr: String): String = {
    val pos = s"((k // 8) * h // 8) * 32 + ($colExpr * 32 // 9) + 1"
    s"(CASE WHEN $pos <= n THEN ascii(text[CAST($pos AS INT)]) ELSE 0 END)"
  }

  private def oracleFeature(i: Int): String =
    s"CAST(list_sum(list_transform(range(1, LENGTH(text) + 1), " +
      s"p -> CASE WHEN (p - 1) % 8 = $i THEN ascii(text[p]) ELSE 0 END)) AS BIGINT) AS f$i"

  val defs: Map[String, QDef] = Map(
    // Real-codec image features: the query encodes each document's bytes
    // as an actual grayscale PNG and pixel-decodes it through ImageIO;
    // the oracle recomputes the residue sums from character codes (the
    // zero padding in the last raster row adds nothing to any residue).
    // If either the PNG writer or the pixel decode were lossy or
    // misaligned, every f-column would break.
    "mm_features" -> QDef(
      (s, dir) => features(s, dir),
      s"""SELECT doc_id, 'image/png' AS mime, 'png' AS format,
         |  CAST(32 AS INT) AS width,
         |  CAST(greatest(1, (octet_length(encode(text)) + 31) // 32) AS INT) AS height,
         |  ${(0 to 7).map(oracleFeature).mkString(",\n  ")}
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Audio-metadata plumbing with a REAL codec: payloads are RIFF/WAVE
    // files synthesized from the document bytes (8-bit mono PCM @16kHz),
    // and the query's decode step is the actual chunk-walking header
    // parser — if either the writer or the parser mis-handles the
    // little-endian layout, every oracle row breaks.
    "mm_audio" -> QDef(
      (s, dir) => {
        import s.implicits._
        Eval.fanOut(
          Tables(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("pcm")))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, pcm) => decodeWav(id, wavBytes(pcm)) })
          .toDF()
          .orderBy("doc_id")
      },
      """SELECT doc_id, 'wav' AS format, CAST(1 AS INT) AS channels,
        |  CAST(16000 AS INT) AS sample_rate, CAST(8 AS INT) AS bits_per_sample,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
        |  CAST(octet_length(encode(text)) * 1000 // 16000 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Real-container frame sampling, flattened to scalar columns: the
    // query builds a real WAV file per document and windows the PCM
    // region located by the chunk walk. The oracle re-derives frame
    // window lengths and the every-kth-byte thumbnail from the same
    // UTF-8 payload (= the PCM samples).
    "mm_frames" -> QDef(
      (s, dir) => framesFlat(s, dir),
      """SELECT doc_id, 'audio/wav' AS mime, CAST(4 AS BIGINT) AS n_frames,
        |  array_to_string(list_transform(range(0, 4), i -> CAST((L + 3 - i) // 4 AS BIGINT)), ',') AS frame_lens,
        |  upper(array_to_string(list_transform(range(0, least(64, L)),
        |    i -> lpad(to_hex(ascii(text[CAST(i * greatest(1, L // 64) + 1 AS BIGINT)])), 2, '0')), '')) AS thumb_hex
        |FROM (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS L FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // §2 25go image near-dup by perceptual hash — the multimodal twin
    // of dedup_simhash: each payload round-trips the REAL PNG encode →
    // ImageIO pixel decode, the decoded raster dHashes to 64 bits, and
    // near-dup partners come from 4×16-bit LSH band buckets (the
    // simhash-tier shape — candidates shuffle by band bucket, NEVER
    // all-pairs) verified at Hamming ≤ 6 via one bit_count(xor) per
    // candidate. The oracle replays the hash from character codes
    // (sampling arithmetic identical to the raster walk) and the same
    // banding algebra — bit-for-bit including the sign bit, since both
    // engines shift BIGINTs arithmetically.
    "mm_dhash_neardup" -> QDef(
      (s, dir) => {
        import s.implicits._
        val dh = Materialize.cache(Eval.fanOut(
            Tables(s, dir, "documents")
              .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, b) => (id, dHash(pngBytes(b))) })
          .toDF("doc_id", "dh"))
        val bands = dh.select(col("doc_id"), col("dh"),
            explode(array((0 until 4).map(lit(_)): _*)).as("k"))
          .withColumn("bv", expr("shiftright(dh, k * 16) & 65535"))
        val cand = bands.as("a").join(bands.as("b"),
            col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            col("a.dh").as("h1"), col("b.dh").as("h2"))
          .distinct()
        val counts = cand.filter(expr("bit_count(h1 ^ h2)") <= 6)
          .groupBy(col("d1").as("doc_id"))
          .agg(countDistinct(col("d2")).as("cnt"))
        dh.join(counts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dh").as("dhash"),
            coalesce(col("cnt"), lit(0L)).as("n_neardup"))
          .orderBy("doc_id")
      },
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n,
         |         greatest(1, (length(text) + 31) // 32) AS h
         |  FROM documents),
         |dh AS (
         |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 64), k ->
         |    CASE WHEN ${oraclePix("(k % 8)")} > ${oraclePix("((k % 8) + 1)")}
         |    -- DuckDB raises on 1 << 63; the sign bit is its literal
         |    THEN (CASE WHEN k = 63 THEN CAST(-9223372036854775808 AS BIGINT)
         |          ELSE (CAST(1 AS BIGINT) << CAST(k AS INT)) END)
         |    ELSE CAST(0 AS BIGINT) END))
         |    AS BIGINT) AS dh
         |  FROM d),
         |bands AS (
         |  SELECT doc_id, dh, k AS band, (dh >> CAST(k * 16 AS INT)) & 65535 AS bv
         |  FROM dh, UNNEST(range(0, 4)) u(k)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.dh AS h1, b.dh AS h2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id <> b.doc_id),
         |okc AS (
         |  SELECT d1, COUNT(DISTINCT d2) AS cnt FROM cand
         |  WHERE bit_count(xor(h1, h2)) <= 6 GROUP BY 1)
         |SELECT dh.doc_id, dh.dh AS dhash,
         |  CAST(COALESCE(cnt, 0) AS BIGINT) AS n_neardup
         |FROM dh LEFT JOIN okc ON dh.doc_id = okc.d1
         |ORDER BY dh.doc_id""".stripMargin)
  )
}
