package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal-column plumbing: image/audio/video payloads ride as
  * opaque `binary` columns with typed metadata structs; decode /
  * feature-extract runs one payload at a time inside each partition
  * (one shared scaffold: a narrow, iterator-to-iterator walk, no
  * shuffle).
  *
  * The decode step is REAL for the two ubiquitous image containers —
  * PNG (IHDR width/height) and JPEG (SOF frame header width/height),
  * parsed from the public format specs in pure JVM ([[MediaDecode]]) —
  * and falls back to the deterministic [[stubDecode]] hash-derived
  * metadata for formats whose codecs aren't in this container
  * (audio/video): the Spark-side contract — schema, partitioning —
  * is identical either way, so swapping the fallback for a JNI/FFI
  * decoder changes no plan. */
object Multimodal {

  /** The typed metadata schema a decoder fills. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("payload_bytes", LongType)))

  // ---------------------------------------------------- payload synth

  /** Deterministic per-doc image dimensions for synthesized payloads
    * (mirrored literally in the DuckDB oracle). */
  def synthWidth(docId: Long): Int = ((docId * 7) % 1920 + 1).toInt
  def synthHeight(docId: Long): Int = ((docId * 13) % 1080 + 1).toInt

  /** Fixed header sizes of the synthesized payloads: PNG = 8 (sig) +
    * 25 (IHDR chunk) + 12 (IEND chunk); JPEG = 2 (SOI) + 18 (APP0
    * JFIF) + 13 (SOF0, 1 component). The text bytes follow the header
    * (trailing data after IEND / before SOS — both container walks
    * stop at the frame header, and `payload_bytes` stays a pure
    * function of the text the oracle can mirror). */
  val pngHeaderBytes: Int = 45
  val jpegHeaderBytes: Int = 33

  /** A well-formed minimal PNG prefix: signature + IHDR (real CRC32)
    * + IEND, with the given dimensions. */
  def pngBytes(width: Int, height: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(pngHeaderBytes)
    def u32(v: Long): Unit = {
      o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
      o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
    }
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      u32(data.length.toLong)
      val tagged = ctype.getBytes("ASCII") ++ data
      o.write(tagged)
      val crc = new java.util.zip.CRC32()
      crc.update(tagged)
      u32(crc.getValue)
    }
    o.write(Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = new java.io.ByteArrayOutputStream(13)
    def ih32(v: Int): Unit = {
      ihdr.write((v >> 24) & 0xff); ihdr.write((v >> 16) & 0xff)
      ihdr.write((v >> 8) & 0xff); ihdr.write(v & 0xff)
    }
    ih32(width); ih32(height)
    ihdr.write(8); ihdr.write(2); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    chunk("IHDR", ihdr.toByteArray)
    chunk("IEND", Array.empty)
    o.toByteArray
  }

  /** A JPEG prefix: SOI + APP0/JFIF + SOF0 (baseline, 1 component)
    * with the given dimensions. */
  def jpegBytes(width: Int, height: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(jpegHeaderBytes)
    def u16(v: Int): Unit = { o.write((v >> 8) & 0xff); o.write(v & 0xff) }
    u16(0xffd8) // SOI
    u16(0xffe0); u16(16) // APP0, len 16
    o.write("JFIF".getBytes("ASCII")); o.write(0)
    o.write(1); o.write(1) // version 1.1
    o.write(0); u16(1); u16(1) // aspect units + density
    o.write(0); o.write(0) // no thumbnail
    u16(0xffc0); u16(11) // SOF0, len 11: precision + dims + 1 component
    o.write(8); u16(height); u16(width); o.write(1)
    o.write(1); o.write(0x11); o.write(0)
    o.toByteArray
  }

  /** Attach a binary payload column: REAL image bytes — even doc_ids
    * get a PNG, odd a JPEG, dimensions [[synthWidth]]/[[synthHeight]],
    * document text riding as trailing bytes (stands in for pixel
    * data read from object storage). A Scala UDF is fine here — this
    * is fixture synthesis, not an operator on the 100 TB path. */
  def withPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long, text: String) =>
      val head =
        if (docId % 2 == 0) pngBytes(synthWidth(docId), synthHeight(docId))
        else jpegBytes(synthWidth(docId), synthHeight(docId))
      head ++ (if (text == null) Array.empty[Byte] else text.getBytes("UTF-8"))
    }
    documents.withColumn("payload", synth(col("doc_id"), col("text")))
  }

  /** STUB decoder — deterministic fake metadata from the payload
    * (md5-derived dimensions). Retained as the fallback for formats
    * with no in-container codec (audio/video): identical schema +
    * semantics, so downstream operators exercise the full path and a
    * real FFI decoder slots in without plan changes. */
  def stubDecode(payload: Column): Column = {
    val h = md5(payload)
    val hx = (off: Int) => conv(substring(h, off, 4), 16, 10).cast(IntegerType)
    struct(
      when(hx(1) % 3 === 0, "png").when(hx(1) % 3 === 1, "jpeg").otherwise("webp")
        .as("format"),
      (hx(5) % 1920 + 1).as("width"),
      (hx(9) % 1080 + 1).as("height"),
      (hx(13) % 60000).cast(LongType).as("duration_ms"),
      length(payload).cast(LongType).as("payload_bytes"))
  }

  /** JVM mirror of [[stubDecode]] (bit-for-bit: same md5-hex
    * arithmetic) — [[decodeBatched]]'s fallback for non-PNG/JPEG
    * payloads. */
  private def stubDecodeJvm(payload: Array[Byte]): (String, Int, Int, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(payload).map("%02x".format(_)).mkString
    def hx(off: Int) = Integer.parseInt(h.substring(off - 1, off + 3), 16)
    val fmt = hx(1) % 3 match { case 0 => "png"; case 1 => "jpeg"; case _ => "webp" }
    (fmt, hx(5) % 1920 + 1, hx(9) % 1080 + 1, (hx(13) % 60000).toLong)
  }

  /** The per-payload scaffold of every decoder operator: `f` turns one
    * (doc_id, payload) row of `src` into its output rows, one payload
    * at a time inside each partition — a narrow, iterator-to-iterator
    * walk with no shuffle. `names` label the tuple fields. The caller
    * prepares `src` (widen, fixture attach, filters). */
  private def payloadRows[T <: Product : TypeTag](src: DataFrame, names: String*)
                                                (f: (Long, Array[Byte]) => IterableOnce[T]): DataFrame = {
    import src.sparkSession.implicits._
    src.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) => f(id, p) })
      .toDF(names: _*)
  }

  /** [[payloadRows]] for operators that emit exactly one row per
    * payload. */
  private def perPayload[T <: Product : TypeTag](src: DataFrame, names: String*)
                                                (f: (Long, Array[Byte]) => T): DataFrame =
    payloadRows(src, names: _*)((id, p) => Iterator.single(f(id, p)))

  /** The report of a strip-then-reparse audit: bytes the scrub removed
    * plus `check(scrubbed)` — (re-parses clean, content identical);
    * (0, false, false) when `stripped` is None (the payload did not
    * parse). */
  private def scrubReport(p: Array[Byte], stripped: Option[Array[Byte]])
                         (check: Array[Byte] => (Boolean, Boolean)): (Long, Boolean, Boolean) =
    stripped match {
      case Some(s) =>
        val (clean, same) = check(s)
        ((p.length - s.length).toLong, clean, same)
      case None => (0L, false, false)
    }

  /** Pixel identity of two payloads under one raster decoder: both
    * decode, to the same dims and the same samples. */
  private def sameRaster(decode: Array[Byte] => Option[(Int, Int, Array[Byte])])
                        (a: Array[Byte], b: Array[Byte]): Boolean =
    (decode(a), decode(b)) match {
      case (Some((w1, h1, g1)), Some((w2, h2, g2))) =>
        w1 == w2 && h1 == h2 && java.util.Arrays.equals(g1, g2)
      case _ => false
    }

  /** Per-payload header decode ([[perPayload]]). PNG/JPEG headers are
    * REALLY parsed ([[MediaDecode.decode]]); other payloads fall back
    * to the deterministic stub. Output: doc_id, content_hash (md5 — the
    * multimodal dedup key), format, width, height, duration_ms
    * (0 for decoded stills), payload_bytes. */
  def decodeBatched(documents: DataFrame): DataFrame =
    perPayload(withPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "content_hash", "format", "width", "height",
      "duration_ms", "payload_bytes") { (id, payload) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hash = md.digest(payload).map("%02x".format(_)).mkString
      MediaDecode.decode(payload) match {
        case Some((fmt, w, h)) =>
          (id, hash, fmt, w, h, 0L, payload.length.toLong)
        case None =>
          val (fmt, w, h, dur) = stubDecodeJvm(payload)
          (id, hash, fmt, w, h, dur, payload.length.toLong)
      }
    }

  /** Decode + derive: real PNG/JPEG dimensions, aspect bucket
    * (training-shard grouping), payload size. Oracled columns only —
    * `content_hash` (a CRC-bearing binary's md5 the SQL oracle cannot
    * reconstruct) stays available on [[decodeBatched]]. */
  def mediaFeatures(documents: DataFrame): DataFrame =
    decodeBatched(documents)
      .select(
        col("doc_id"),
        col("format"),
        col("width"),
        col("height"),
        col("payload_bytes"),
        round(col("width").cast("double") / col("height"), 4).as("aspect"))
      .orderBy("doc_id")

  /** LAION-style image admission gate over PARSED header dimensions
    * (the published image-corpus filter shape: minimum side + aspect
    * band + decodable format): keep iff the REAL decoded header says
    * width ≥ minDim ∧ height ≥ minDim ∧ 1/maxAspect ≤ w/h ≤ maxAspect
    * ∧ the format actually decoded (png/jpeg — a stub-decoded unknown
    * container never passes a dimensional gate it made up). Emits the
    * gate REPORT (keep flag + the dims it judged), not a filtered
    * table — the [[graft.analytics.Cleaning.gopherRules]] convention;
    * callers filter on `keep`.
    *
    * The aspect compare uses the RAW w/h division (integer-derived
    * IEEE division — identical in any engine); the output `aspect`
    * column is rounded for display only.
    *
    * Scale shape: [[decodeBatched]]'s per-payload header walk (headers
    * only — never a full image decode), then one narrow projection; no
    * shuffle, no UDF beyond the documented decoder seam. */
  def imageFilter(documents: DataFrame, minDim: Int = 64,
                  maxAspect: Double = 3.0): DataFrame = {
    require(minDim >= 1, s"minDim must be >= 1: $minDim")
    require(maxAspect >= 1.0, s"maxAspect must be >= 1: $maxAspect")
    val rawAspect = col("width").cast("double") / col("height")
    decodeBatched(documents)
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        round(rawAspect, 4).as("aspect"),
        (col("format").isin("png", "jpeg") &&
          col("width") >= minDim && col("height") >= minDim &&
          rawAspect <= maxAspect && rawAspect >= lit(1.0 / maxAspect))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** Exact dedup over the BINARY modality — the multimodal analog of
    * [[graft.analytics.Dedup.exactDuplicates]]'s normalized-text
    * fingerprint: group by the payload content md5 (the same
    * `content_hash` [[decodeBatched]] emits), keep = min id per group.
    * Re-encoded copies of one asset landing under many documents is
    * the dominant duplication mode in scraped media corpora.
    *
    * Scale shape (100 TB): payloads reduce to 32-byte hashes inside
    * the scan projection; the groupBy moves hashes, never media
    * bytes — identical to the text exact-dedup plan. */
  def payloadDedup(withPayload: DataFrame,
                   idCol: String = "doc_id"): DataFrame =
    withPayload
      // null payloads (failed fetches) are excluded, not grouped:
      // md5(NULL) = NULL would collapse every unrelated
      // fetch-failure into one fake duplicate group
      .filter(col("payload").isNotNull)
      .select(col(idCol).as("doc_id"), md5(col("payload")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_doc_id"),
        count(lit(1)).cast(LongType).as("group_size"))
      .select("keep_doc_id", "group_size")
      .orderBy("keep_doc_id")

  /** Byte-level NEAR-duplicate candidates over the binary modality —
    * [[payloadDedup]]'s fuzzy sibling: re-muxed/trailer-appended copies
    * of one asset share most of their byte stream but not their md5.
    * The payload hex-encodes once (bound column), slides into
    * `gramBytes`-byte grams at `strideBytes` steps, and the gram
    * stream feeds the EXISTING MinHash+LSH machinery verbatim
    * ([[Dedup.minhashCandidatePairs]] at shingle k = 1 — a gram IS
    * the shingle): band-key equi-join candidates, never all-pairs.
    * Payloads shorter than one gram are excluded (an empty gram set
    * must not form a universal collision bucket), as are nulls.
    *
    * This is format-blind (bytes are opaque): it catches
    * truncation/append/concatenation variants, NOT re-encodes — those
    * need pixels; [[imageNearDupPairs]] (PNG pixel decode / baseline
    * JPEG entropy decode + dHash) is the perceptual path for stills.
    *
    * Scale shape: identical to text MinHash — one narrow hex+gram
    * projection at scan speed, signature table, banded join. */
  def payloadNearDupPairs(withPayload: DataFrame, gramBytes: Int = 8,
                          strideBytes: Int = 4, numHashes: Int = 8,
                          rowsPerBand: Int = 4): DataFrame = {
    require(gramBytes >= 1, s"gramBytes must be >= 1: $gramBytes")
    require(strideBytes >= 1 && strideBytes <= gramBytes,
      s"strideBytes must be in [1, gramBytes]: $strideBytes")
    require(gramBytes % strideBytes == 0,
      s"gramBytes must be a multiple of strideBytes (grams are built " +
        s"from stride-aligned blocks): $gramBytes % $strideBytes")
    val gl = 2 * gramBytes
    val blockChars = 2 * strideBytes
    val perGram = gramBytes / strideBytes
    // gram extraction with NO per-position substring and no composite
    // lambda (the SCALE.md HOF rule, learned on trigramLangId at
    // 101 s): the hex string splits ONCE into stride-aligned blocks
    // via a codegen'd regex (trailing partial block dropped — a gram
    // needs full blocks), and gram k = blocks[k] || … || blocks[k+g-1]
    // assembles through g−1 zip_with folds whose lambdas are a SINGLE
    // cheap concat each — linear in payload bytes. Identical gram set
    // to the per-position definition (starts are stride-aligned).
    val grams = withPayload
      .filter(col("payload").isNotNull)
      // length test on the RAW bytes, not the hex column (r18 opt
      // round): length(__h) = 2·octet_length(payload) exactly, and a
      // predicate over the derived __h pushes below the projection and
      // re-evaluates the full hex encode per row (no CSE across
      // Filter/Project — the prefixJaccardPairs lesson)
      .filter(length(col("payload")) * 2 >= gl)
      .withColumn("__h", hex(col("payload")))
      .withColumn("__b", regexp_extract_all(col("__h"),
        lit(s".{$blockChars}"), lit(0)))
      .withColumn("text", concat_ws(" ",
        (2 to perGram).foldLeft(
          slice(col("__b"), lit(1), size(col("__b")) - (perGram - 1))) {
          (acc, j) =>
            zip_with(acc,
              slice(col("__b"), lit(j), size(col("__b")) - (perGram - 1)),
              (a, b) => concat(a, b))
        }))
      .select(col("doc_id"), col("text"))
    Dedup.minhashCandidatePairs(grams, k = 1, numHashes = numHashes,
      rowsPerBand = rowsPerBand)
  }

  // ------------------------------------------------------------------
  // perceptual image near-dup: PNG pixel decode + dHash (round 15)
  // ------------------------------------------------------------------

  /** A COMPLETE grayscale PNG (8-bit, color type 0) with real pixel
    * data: signature + IHDR + one IDAT (zlib at `level`, filter 0
    * scanlines) + IEND, CRC32s included. Two encodings of the SAME
    * pixels at different `level`s are byte-DIFFERENT but decode
    * identical — the re-encoded-duplicate fixture byte-level dedup
    * provably misses. */
  def pngBytesGray(width: Int, height: Int, gray: Array[Byte],
                   level: Int = 6): Array[Byte] = {
    require(gray.length == width * height,
      s"gray must be width*height bytes: ${gray.length} != ${width * height}")
    val o = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
      o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
    }
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      u32(data.length.toLong)
      val tagged = ctype.getBytes("ASCII") ++ data
      o.write(tagged)
      val crc = new java.util.zip.CRC32()
      crc.update(tagged)
      u32(crc.getValue)
    }
    o.write(Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = new java.io.ByteArrayOutputStream(13)
    def ih32(v: Int): Unit = {
      ihdr.write((v >> 24) & 0xff); ihdr.write((v >> 16) & 0xff)
      ihdr.write((v >> 8) & 0xff); ihdr.write(v & 0xff)
    }
    ih32(width); ih32(height)
    ihdr.write(8); ihdr.write(0); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    chunk("IHDR", ihdr.toByteArray)
    val raw = new Array[Byte](height * (1 + width))
    var y = 0
    while (y < height) {
      // filter byte 0 (None) + the row
      System.arraycopy(gray, y * width, raw, y * (1 + width) + 1, width)
      y += 1
    }
    val defl = new java.util.zip.Deflater(level)
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](raw.length + 64)
    val zOut = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
    defl.end()
    chunk("IDAT", zOut.toByteArray)
    chunk("IEND", Array.empty)
    o.toByteArray
  }

  /** Deterministic per-doc grayscale pattern for the pixel fixture —
    * docId enters MULTIPLICATIVELY (an additive offset would give every
    * doc the same gradients, hence the same dHash). */
  def synthGray(docId: Long, width: Int, height: Int): Array[Byte] = {
    val g = new Array[Byte](width * height)
    val m = (docId % 97 + 2).toInt
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        g(y * width + x) =
          (((x * 31 + y * 17) * m + x * y * ((docId % 7) + 3)) % 251).toByte
        x += 1
      }
      y += 1
    }
    g
  }

  /** Attach REAL pixel-bearing grayscale PNGs (24×16, [[synthGray]]
    * pixels, zlib `level`) — the fixture for the perceptual near-dup
    * path. `pixelSeedOffset` lets a forged RE-ENCODED copy (new doc_id,
    * different zlib level) carry the ORIGINAL's pixels: seed =
    * doc_id − offset. Fixture synthesis, not a 100 TB operator (UDF is
    * fine). */
  def withPixelPayload(documents: DataFrame, level: Int = 6,
                       pixelSeedOffset: Long = 0L): DataFrame = {
    val synth = udf { (docId: Long) =>
      pngBytesGray(24, 16, synthGray(docId - pixelSeedOffset, 24, 16), level)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** 64-bit dHash of a grayscale image: nearest-neighbor sample onto a
    * 9×8 grid, bit (y·8+x) set when grid(x,y) > grid(x+1,y) — the
    * horizontal-gradient perceptual hash. Nearest sampling at
    * px = x·w/9 (integer floor) makes the hash EXACTLY invariant to
    * pixel-doubling (floor(floor(2t)/2) = floor(t) — spec-pinned), and
    * stable under re-encoding by construction (same pixels, same
    * hash). */
  def dHash64(gray: Array[Byte], w: Int, h: Int): Long = {
    require(w >= 1 && h >= 1 && gray.length == w * h,
      s"bad gray buffer: ${gray.length} for ${w}x$h")
    def g(x: Int, y: Int): Int =
      gray(math.min(y * h / 8, h - 1) * w + math.min(x * w / 9, w - 1)) & 0xff
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(x, y) > g(x + 1, y)) bits |= (1L << (y * 8 + x))
        x += 1
      }
      y += 1
    }
    bits
  }

  /** The 64-bit-fingerprint scaffold shared by the three perceptual
    * modalities ([[imageDHash]], [[audioFingerprints]],
    * [[videoFingerprints]]): widen → drop null payloads → per-payload
    * decode+hash ([[payloadRows]]) → split into the two 32-bit halves
    * the SimHash band machinery expects. Undecodable payloads are
    * DROPPED (perceptual identity is defined over decodable media).
    * Output: (doc_id, simhash_hi, simhash_lo). */
  private def fingerprintPayloads(withPayload: DataFrame)
                                 (hash: Array[Byte] => Option[Long]): DataFrame =
    payloadRows(graft.util.SparkUtil.widen(withPayload).filter(col("payload").isNotNull),
      "doc_id", "simhash_hi", "simhash_lo") { (id, payload) =>
      hash(payload).map(d => (id, (d >>> 32) & 0xffffffffL, d & 0xffffffffL))
    }

  /** Per-doc dHash fingerprints over the binary payload column —
    * per-payload PIXEL decode (PNG: [[MediaDecode.pngGrayPixels]] IDAT
    * inflate + unfilter; JPEG: [[MediaDecode.jpegLumaPixels]] baseline
    * Huffman + IDCT, luma plane — both pure JVM) + [[dHash64]] through
    * the shared [[fingerprintPayloads]] scaffold. */
  def imageDHash(withPayload: DataFrame): DataFrame =
    fingerprintPayloads(withPayload) { payload =>
      MediaDecode.pngGrayPixels(payload)
        .orElse(MediaDecode.jpegLumaPixels(payload))
        .map { case (w, h, gray) => dHash64(gray, w, h) }
    }

  // ------------------------------------------------------------------
  // JPEG pixel fixtures (round 15): ImageIO is the INDEPENDENT encoder
  // — the operator path decodes its output with graft's own
  // JpegDecode, and the differential spec cross-checks both decoders
  // ------------------------------------------------------------------

  /** A REAL JPEG of the given grayscale pixels, encoded by the JDK's
    * ImageIO JPEG plugin at `quality` — fixture synthesis
    * (headless-safe), never on the 100 TB path. `progressive` emits
    * SOF2 via the writer's MODE_DEFAULT progression script: the SAME
    * quality quantizes to the SAME coefficients, so a progressive
    * re-encode decodes to BIT-IDENTICAL pixels (entropy-coding order
    * is the only difference — the mm_jpeg_neardup planted-copy
    * guarantee, spec-pinned). */
  def jpegBytesGrayEncoded(width: Int, height: Int, gray: Array[Byte],
                           quality: Float,
                           progressive: Boolean = false): Array[Byte] = {
    require(gray.length == width * height,
      s"gray must be width*height bytes: ${gray.length} != ${width * height}")
    System.setProperty("java.awt.headless", "true")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, height, gray)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    try {
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      if (progressive)
        p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close()
      bos.toByteArray
    } finally writer.dispose()
  }

  /** Insert a COM (comment) segment right after SOI — the
    * byte-different, pixel-IDENTICAL metadata variant (same image, new
    * comment/EXIF: the duplication mode byte-level dedup provably
    * misses and perceptual dedup must catch at Hamming 0). */
  def jpegWithComment(jpeg: Array[Byte], comment: String): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "not a JPEG payload")
    val c = comment.getBytes("UTF-8")
    require(c.length <= 65533, "comment too long for one COM segment")
    val out = new Array[Byte](jpeg.length + 4 + c.length)
    out(0) = jpeg(0); out(1) = jpeg(1)
    out(2) = 0xff.toByte; out(3) = 0xfe.toByte
    val len = c.length + 2
    out(4) = ((len >> 8) & 0xff).toByte; out(5) = (len & 0xff).toByte
    System.arraycopy(c, 0, out, 6, c.length)
    System.arraycopy(jpeg, 2, out, 6 + c.length, jpeg.length - 2)
    out
  }

  /** Attach REAL pixel-bearing JPEGs (24×16 [[synthGray]] pixels
    * through ImageIO at `quality`); `comment` forges the metadata
    * variant, `progressive` the SOF2 re-export variant (same
    * coefficients, different entropy-coding order — pixel-identical),
    * `pixelSeedOffset` the re-encoded-copy seed mapping (the
    * [[withPixelPayload]] convention). Fixture synthesis, not a
    * 100 TB operator (UDF is fine). */
  def withJpegPixelPayload(documents: DataFrame, quality: Float = 0.9f,
                           pixelSeedOffset: Long = 0L,
                           comment: Option[String] = None,
                           progressive: Boolean = false): DataFrame = {
    val synth = udf { (docId: Long) =>
      val base = jpegBytesGrayEncoded(24, 16,
        synthGray(docId - pixelSeedOffset, 24, 16), quality, progressive)
      comment.map(jpegWithComment(base, _)).getOrElse(base)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** Perceptual image near-dup pairs — the content-level dedup the
    * byte-level [[payloadDedup]]/[[payloadNearDupPairs]] provably miss
    * (a re-encoded copy shares ~no bytes but every pixel): dHash
    * fingerprints feed the UNCHANGED SimHash 4×16-bit pigeonhole band
    * join ([[Dedup.simhashNearDupPairsFromFingerprints]] — complete
    * for Hamming ≤ 3, never all-pairs). Output: (doc_a, doc_b,
    * hamming), ordered. Scale shape: one narrow per-payload decode
    * pass (pixels never shuffle — 8 B of hash per image crosses the
    * wire) + the banded equi-join. */
  def imageNearDupPairs(withPayload: DataFrame, maxDist: Int = 3): DataFrame =
    Dedup.simhashNearDupPairsFromFingerprints(imageDHash(withPayload), maxDist)

  // ------------------------------------------------------------------
  // audio: WAV (RIFF) header decode
  // ------------------------------------------------------------------

  /** Deterministic per-doc audio parameters for synthesized payloads
    * (mirrored literally in the DuckDB oracle). */
  def wavChannels(docId: Long): Int = (docId % 2 + 1).toInt
  def wavSampleRate(docId: Long): Int =
    Seq(8000, 16000, 44100)((docId % 3).toInt)
  def wavBits(docId: Long): Int = if ((docId / 2) % 2 == 0) 8 else 16

  /** A PCM WAV container: RIFF header + 16-byte `fmt ` chunk + `data`
    * chunk (the canonical 44-byte header). RIFF is little-endian —
    * unlike the big-endian PNG/JPEG writers above. */
  def wavBytes(channels: Int, sampleRate: Int, bits: Int,
               data: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(44 + data.length)
    def u16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    def tag(s: String): Unit = o.write(s.getBytes("US-ASCII"))
    tag("RIFF"); u32(36L + data.length); tag("WAVE")
    tag("fmt "); u32(16L); u16(1); u16(channels)
    u32(sampleRate.toLong); u32(sampleRate.toLong * channels * (bits / 8))
    u16(channels * (bits / 8)); u16(bits)
    tag("data"); u32(data.length.toLong); o.write(data)
    o.toByteArray
  }

  /** Quantize [−1,1] samples to interleaved SIGNED ints (8-bit: the
    * unsigned WAV byte minus 128; 16-bit: the signed short) —
    * [[pcmQuantize]] is the byte encoding of these values, so a FLAC
    * built from them decodes to the identical doubles as the WAV twin
    * (FLAC samples are signed at every depth). */
  def pcmQuantizeInt(samples: Array[Double], bits: Int, gain: Double,
                     channels: Int): Array[Int] = {
    require(bits == 8 || bits == 16, s"bits must be 8 or 16: $bits")
    require(channels >= 1, s"channels must be >= 1: $channels")
    val out = new Array[Int](samples.length * channels)
    var i = 0
    while (i < samples.length) {
      val s = math.max(-1.0, math.min(1.0, samples(i) * gain))
      val v =
        if (bits == 8)
          math.min(255, math.max(0, math.round(s * 127).toInt + 128)) - 128
        else math.round(s * 32767).toInt
      var c = 0
      while (c < channels) { out(i * channels + c) = v; c += 1 }
      i += 1
    }
    out
  }

  /** A REAL FLAC file of the given interleaved signed samples — the
    * fixture ENCODER for [[MediaDecode.flacPcmMono]] (spec-valid:
    * correct CRC-8/CRC-16, STREAMINFO, fixed-blocksize frames; any
    * conforming decoder accepts it). Subframes per `mode`: `auto` =
    * CONSTANT where a block-channel is flat, else FIXED order 2 with a
    * Rice order-0 residual (escape partition when the residuals
    * overflow every bounded Rice parameter); `verbatim` / `fixed0` …
    * `fixed4` force those paths for the spec sweeps. Lossless by
    * construction — encode∘decode is the identity on the quantized
    * ints, which is the near-dup oracle's whole argument. Never on
    * the 100 TB path. */
  def flacBytes(channels: Int, sampleRate: Int, bits: Int,
                pcm: Array[Int], blockSize: Int = 4096,
                mode: String = "auto",
                comments: Seq[(String, String)] = Nil): Array[Byte] = {
    require(bits == 8 || bits == 16, s"bits must be 8 or 16: $bits")
    require(channels >= 1 && channels <= 8, s"channels: $channels")
    require(blockSize >= 16 && blockSize <= 65535, s"blockSize: $blockSize")
    require(pcm.length % channels == 0, "pcm length must be a channel multiple")
    val nSamples = pcm.length / channels
    def crc8(bs: Array[Byte]): Int = {
      var c = 0
      bs.foreach { b =>
        c ^= (b & 0xff)
        var i = 0
        while (i < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; i += 1 }
      }
      c
    }
    def crc16(bs: Array[Byte]): Int = {
      var c = 0
      bs.foreach { b =>
        c ^= (b & 0xff) << 8
        var i = 0
        while (i < 8) { c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff; i += 1 }
      }
      c
    }
    final class BitW {
      private val buf = new java.io.ByteArrayOutputStream()
      private var cur = 0
      private var n = 0
      def put(v: Long, bitsN: Int): Unit = {
        var i = bitsN - 1
        while (i >= 0) {
          cur = (cur << 1) | ((v >> i) & 1L).toInt
          n += 1
          if (n == 8) { buf.write(cur); cur = 0; n = 0 }
          i -= 1
        }
      }
      def align(): Unit = if (n > 0) { cur <<= (8 - n); buf.write(cur); cur = 0; n = 0 }
      def bytes: Array[Byte] = { require(n == 0, "unaligned"); buf.toByteArray }
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO (type 0, last metadata block)
    val si = new BitW
    si.put(blockSize.toLong, 16); si.put(blockSize.toLong, 16)
    si.put(0L, 24); si.put(0L, 24) // frame sizes unknown
    si.put(sampleRate.toLong, 20)
    si.put(channels.toLong - 1, 3)
    si.put(bits.toLong - 1, 5)
    si.put(nSamples.toLong, 36)
    (0 until 16).foreach(_ => si.put(0L, 8)) // md5 unknown
    val siBytes = si.bytes
    out.write(if (comments.isEmpty) 0x80 else 0x00)
    out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes)
    if (comments.nonEmpty) {
      // VORBIS_COMMENT (type 4, last): vendor + KEY=value list — all
      // lengths LITTLE-endian inside the big-endian container (spec)
      val vc = new java.io.ByteArrayOutputStream()
      def le32(v: Long): Unit = {
        vc.write((v & 0xff).toInt); vc.write(((v >> 8) & 0xff).toInt)
        vc.write(((v >> 16) & 0xff).toInt); vc.write(((v >> 24) & 0xff).toInt)
      }
      val vendor = "graft".getBytes("UTF-8")
      le32(vendor.length.toLong); vc.write(vendor)
      le32(comments.length.toLong)
      comments.foreach { case (k, v) =>
        val c = s"$k=$v".getBytes("UTF-8")
        le32(c.length.toLong); vc.write(c)
      }
      val body = vc.toByteArray
      out.write(0x84) // type 4, last
      out.write((body.length >> 16) & 0xff)
      out.write((body.length >> 8) & 0xff)
      out.write(body.length & 0xff)
      out.write(body)
    }
    // stereo-decorrelation modes need exactly two channels
    val stereoAsgn = mode match {
      case "leftside" => 8
      case "rightside" => 9
      case "midside" => 10
      case _ => -1
    }
    require(stereoAsgn < 0 || channels == 2,
      s"mode $mode needs exactly 2 channels")
    // one subframe: samples at `eb` effective bits, per `m`
    def writeSub(fw: BitW, ch: Array[Int], eb: Int, m: String): Unit = {
      def mask(v: Long, n: Int): Long = v & ((1L << n) - 1)
      def predict(order: Int, s: Array[Int], i: Int): Long = order match {
        case 0 => 0L
        case 1 => s(i - 1).toLong
        case 2 => 2L * s(i - 1) - s(i - 2)
        case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
        case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
      }
      def writeResidual(res: Array[Long]): Unit = {
        fw.put(0L, 2); fw.put(0L, 4) // method 0 (4-bit Rice), 1 partition
        val zzMax = res.foldLeft(0L)((a, e) => math.max(a, (e << 1) ^ (e >> 63)))
        var param = 0
        while (param < 15 && (zzMax >> param) > 30) param += 1
        if (param >= 15) { // escape: raw at the needed width
          var raw = 2
          while (raw < 32 && res.exists(e => e < -(1L << (raw - 1)) ||
            e >= (1L << (raw - 1)))) raw += 1
          fw.put(15L, 4); fw.put(raw.toLong, 5)
          res.foreach(e => fw.put(mask(e, raw), raw))
        } else {
          fw.put(param.toLong, 4)
          res.foreach { e =>
            val zz = (e << 1) ^ (e >> 63)
            val q = (zz >>> param).toInt
            var k = 0
            while (k < q) { fw.put(0L, 1); k += 1 }
            fw.put(1L, 1)
            if (param > 0) fw.put(mask(zz, param), param)
          }
        }
      }
      def writeFixed(order: Int, s: Array[Int], ebF: Int): Unit = {
        require(order >= 0 && order <= 4 && order <= s.length, s"order $order")
        fw.put(8L + order, 6); fw.put(0L, 1) // type, no wasted bits
        var i = 0
        while (i < order) { fw.put(mask(s(i).toLong, ebF), ebF); i += 1 }
        val res = new Array[Long](s.length - order)
        i = order
        while (i < s.length) {
          res(i - order) = s(i).toLong - predict(order, s, i); i += 1
        }
        writeResidual(res)
      }
      fw.put(0L, 1) // padding bit
      m match {
        case "constant" =>
          fw.put(0L, 6); fw.put(0L, 1)
          fw.put(mask(ch(0).toLong, eb), eb)
        case "verbatim" =>
          fw.put(1L, 6); fw.put(0L, 1)
          ch.foreach(v => fw.put(mask(v.toLong, eb), eb))
        case "fixed1w" =>
          // wasted-bits path: every sample must be even; encode v>>1 at
          // eb−1 bits with wasted-flag + unary count 1 (= one 1-bit:
          // the terminating 1 with zero leading 0s means wasted = 1)
          require(ch.forall(v => (v & 1) == 0), "fixed1w needs even samples")
          fw.put(9L, 6) // FIXED order 1
          fw.put(1L, 1) // wasted flag
          fw.put(1L, 1) // unary 0 zeros → wasted = 0+1 = 1
          val half = ch.map(_ >> 1)
          val ebW = eb - 1
          fw.put(mask(half(0).toLong, ebW), ebW)
          val res = new Array[Long](half.length - 1)
          var i = 1
          while (i < half.length) { res(i - 1) = half(i).toLong - half(i - 1); i += 1 }
          writeResidual(res)
        case "lpc2" =>
          // LPC order 2, precision 15, shift 0, coefs [2, −1] — the
          // arithmetic of FIXED order 2 expressed through the LPC path
          fw.put(33L, 6); fw.put(0L, 1) // 0b100001 = LPC order 2
          fw.put(mask(ch(0).toLong, eb), eb)
          fw.put(mask(ch(1).toLong, eb), eb)
          fw.put(14L, 4)  // precision − 1
          fw.put(0L, 5)   // shift
          fw.put(mask(2L, 15), 15); fw.put(mask(-1L, 15), 15)
          val res = new Array[Long](ch.length - 2)
          var i = 2
          while (i < ch.length) {
            res(i - 2) = ch(i).toLong - (2L * ch(i - 1) - ch(i - 2)); i += 1
          }
          writeResidual(res)
        case fx if fx.startsWith("fixed") =>
          writeFixed(fx.stripPrefix("fixed").toInt, ch, eb)
        case _ => // auto / stereo parents: constant where flat else fixed2
          if (ch.forall(_ == ch(0))) {
            fw.put(0L, 6); fw.put(0L, 1)
            fw.put(mask(ch(0).toLong, eb), eb)
          } else if (ch.length > 4) writeFixed(2, ch, eb)
          else { fw.put(1L, 6); fw.put(0L, 1); ch.foreach(v => fw.put(mask(v.toLong, eb), eb)) }
      }
    }
    var frame = 0
    var pos = 0
    while (pos < nSamples) {
      val bs = math.min(blockSize, nSamples - pos)
      // byte-aligned header prefix (sync .. block size), then CRC-8
      val hdr = new BitW
      hdr.put(0x3ffeL, 14); hdr.put(0L, 1); hdr.put(0L, 1) // sync, res, fixed-bs
      hdr.put(7L, 4)  // block size: 16-bit field follows
      hdr.put(0L, 4)  // sample rate: from STREAMINFO
      hdr.put(if (stereoAsgn >= 0) stereoAsgn.toLong else channels.toLong - 1, 4)
      hdr.put(if (bits == 8) 1L else 4L, 3)
      hdr.put(0L, 1)
      // UTF-8-coded frame number
      val fn = frame.toLong
      if (fn < 0x80) hdr.put(fn, 8)
      else if (fn < 0x800) { hdr.put(0xc0L | (fn >> 6), 8); hdr.put(0x80L | (fn & 0x3f), 8) }
      else { hdr.put(0xe0L | (fn >> 12), 8); hdr.put(0x80L | ((fn >> 6) & 0x3f), 8); hdr.put(0x80L | (fn & 0x3f), 8) }
      hdr.put(bs.toLong - 1, 16)
      val hdrBytes = hdr.bytes
      val fw = new BitW
      hdrBytes.foreach(b => fw.put(b & 0xffL, 8))
      fw.put(crc8(hdrBytes).toLong, 8)
      // subframes
      if (stereoAsgn >= 0) {
        val l = new Array[Int](bs); val rr = new Array[Int](bs)
        var i = 0
        while (i < bs) {
          l(i) = pcm((pos + i) * 2); rr(i) = pcm((pos + i) * 2 + 1); i += 1
        }
        val side = Array.tabulate(bs)(i => l(i) - rr(i))
        stereoAsgn match {
          case 8 => // left/side
            writeSub(fw, l, bits, "auto")
            writeSub(fw, side, bits + 1, "auto")
          case 9 => // right/side: side first per spec channel order
            writeSub(fw, side, bits + 1, "auto")
            writeSub(fw, rr, bits, "auto")
          case _ => // mid/side
            val mid = Array.tabulate(bs)(i => (l(i) + rr(i)) >> 1)
            writeSub(fw, mid, bits, "auto")
            writeSub(fw, side, bits + 1, "auto")
        }
      } else {
        var c = 0
        while (c < channels) {
          val ch = new Array[Int](bs)
          var i = 0
          while (i < bs) { ch(i) = pcm((pos + i) * channels + c); i += 1 }
          writeSub(fw, ch, bits, if (mode == "auto") "auto" else mode)
          c += 1
        }
      }
      fw.align()
      val frameBytes = fw.bytes
      out.write(frameBytes)
      val c16 = crc16(frameBytes)
      out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
      pos += bs
      frame += 1
    }
    out.toByteArray
  }

  /** Attach REAL FLAC payloads of the SAME tone samples as
    * [[withTonePayload]] — the compressed-audio re-export duplication
    * mode: lossless, so the decoded doubles (and the fingerprint) are
    * BIT-identical to the WAV twin's. */
  def withFlacTonePayload(documents: DataFrame, gain: Double = 1.0,
                          bits: Int = 8, channels: Int = 1,
                          seedOffset: Long = 0L, sr: Int = 8000,
                          blockSize: Int = 1024): DataFrame = {
    val n = 9 * (160L * sr / 8000).toInt
    require(n > 0, s"sample rate $sr is too low for the 0.18 s tone fixture")
    val synth = udf { (docId: Long) =>
      flacBytes(channels, sr, bits,
        pcmQuantizeInt(synthToneSamples(docId - seedOffset, n, sr),
          bits, gain, channels), blockSize)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** One spec-valid PNG chunk (length + type + data + CRC32) —
    * fixture synthesis for the PNG privacy audit. */
  def pngChunkBytes(ctype: String, data: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(12 + data.length)
    def u32(v: Long): Unit = {
      o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
      o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
    }
    u32(data.length.toLong)
    val tagged = ctype.getBytes("US-ASCII") ++ data
    o.write(tagged)
    val crc = new java.util.zip.CRC32()
    crc.update(tagged)
    u32(crc.getValue)
    o.toByteArray
  }

  /** One spec-valid PNG tEXt chunk: total size is CLOSED-FORM
    * 12 + |key| + 1 + |value|. */
  def pngTextChunk(key: String, value: String): Array[Byte] =
    pngChunkBytes("tEXt", key.getBytes("ISO-8859-1") ++ Array(0.toByte) ++
      value.getBytes("ISO-8859-1"))

  /** One spec-valid PNG zTXt chunk whose value rides a STORED-block
    * zlib stream (header 2 + stored-block 5 + data + Adler-32 4 = a
    * CLOSED-FORM 11 + |value| compressed size, unlike deflate whose
    * output length depends on the compressor) — total chunk size
    * 12 + |key| + 2 + 11 + |value|. Inflater handles stored blocks
    * like any other, so the DECODE path under test is the real one. */
  def pngZtxtChunk(key: String, value: String): Array[Byte] = {
    val v = value.getBytes("ISO-8859-1")
    val z = new java.io.ByteArrayOutputStream(11 + v.length)
    z.write(0x78); z.write(0x01) // zlib header, no FDICT
    z.write(0x01) // final stored block
    z.write(v.length & 0xff); z.write((v.length >> 8) & 0xff)
    z.write(~v.length & 0xff); z.write((~v.length >> 8) & 0xff)
    z.write(v)
    val adler = new java.util.zip.Adler32()
    adler.update(v)
    val a = adler.getValue
    z.write(((a >> 24) & 0xff).toInt); z.write(((a >> 16) & 0xff).toInt)
    z.write(((a >> 8) & 0xff).toInt); z.write((a & 0xff).toInt)
    pngChunkBytes("zTXt", key.getBytes("ISO-8859-1") ++
      Array(0.toByte, 0.toByte) ++ z.toByteArray)
  }

  /** One spec-valid UNCOMPRESSED iTXt chunk (empty language tag and
    * translated keyword): total size is CLOSED-FORM
    * 12 + |key| + 5 + |utf8(value)|. */
  def pngItxtChunk(key: String, value: String): Array[Byte] =
    pngChunkBytes("iTXt", key.getBytes("ISO-8859-1") ++
      Array[Byte](0, 0, 0, 0, 0) ++ value.getBytes("UTF-8"))

  /** `chunks` spliced into `png` right after its IHDR chunk (offset
    * 33: signature 8 + IHDR chunk 12 + 13) — the metadata-injection
    * step of the PNG audit fixtures. */
  def pngWithChunksAfterIhdr(png: Array[Byte], chunks: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(png.length + chunks.map(_.length).sum)
    out.write(png, 0, 33)
    chunks.foreach(c => out.write(c))
    out.write(png, 33, png.length - 33)
    out.toByteArray
  }

  /** Attach REAL PNGs carrying formula-driven tEXt metadata after the
    * IHDR chunk (Author/Comment; doc_id%5==0 docs untagged) — the PNG
    * privacy-audit fixture. */
  def withTextPngPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val base = pngBytesGray(24, 16, synthGray(docId, 24, 16))
      if (docId % 5 == 0) base
      else pngWithChunksAfterIhdr(base,
        pngTextChunk("Author", s"author_${docId % 50}"),
        pngTextChunk("Comment", s"c_${docId % 7}"))
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** PNG text-metadata audit + scrub report — the [[exifScrubAudit]]
    * discipline on the PNG side (tEXt Author/Comment are the PII
    * carriers the JPEG/EXIF screen misses): per doc, the tEXt count
    * and Author value, bytes removed by [[MediaDecode
    * .pngStripMetadata]] (closed-form in the fixture), whether the
    * scrubbed bytes carry no text chunks, and PIXEL identity of the
    * scrub (decode equality — measured, not asserted). */
  def pngMetaScrubAudit(documents: DataFrame): DataFrame =
    perPayload(withTextPngPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "n_text_chunks", "author", "bytes_removed",
      "text_removed", "pixels_identical") { (id, p) =>
      val texts = MediaDecode.pngTextChunks(p).getOrElse(Seq.empty)
      val author = texts.find(_._1 == "Author").map(_._2)
      val (removed, clean, same) =
        scrubReport(p, MediaDecode.pngStripMetadata(p)) { s =>
          (MediaDecode.pngTextChunks(s).getOrElse(Seq.empty).isEmpty,
            sameRaster(MediaDecode.pngGrayPixels)(p, s))
        }
      (id, texts.size.toLong, author, removed, clean, same)
    }.orderBy("doc_id")

  /** Attach REAL PNGs carrying the FULL metadata surface after IHDR
    * (doc_id%5==0 docs clean): a cHRM chunk (color interpretation —
    * the scrub RETAINS it), tEXt Author, zTXt Description (stored-
    * block zlib), iTXt Title, and for doc_id%3==0 an eXIf chunk whose
    * body is the bare TIFF stream (orientation doc_id%8+1 + GPS at
    * integer degrees doc_id%90/doc_id%180) — the complete PNG
    * privacy-audit fixture, every injected size CLOSED-FORM. */
  def withMetaPngPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val base = pngBytesGray(24, 16, synthGray(docId, 24, 16))
      if (docId % 5 == 0) base
      else {
        // sRGB-absent: cHRM is what defines color here — retention is
        // pinned by the closed-form bytes_removed oracle
        val chrm = pngChunkBytes("cHRM", Array.tabulate[Byte](32)(i => (i * 9).toByte))
        val t = pngTextChunk("Author", s"author_${docId % 50}")
        val z = pngZtxtChunk("Description", s"desc_${docId % 7}")
        val it = pngItxtChunk("Title", s"title_${docId % 11}")
        val ex =
          if (docId % 3 == 0)
            pngChunkBytes("eXIf", exifTiffBody((docId % 8 + 1).toInt,
              Some(((docId % 90).toInt, (docId % 180).toInt))))
          else Array.empty[Byte]
        pngWithChunksAfterIhdr(base, chrm, t, z, it, ex)
      }
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** The COMPLETE PNG privacy audit + scrub report — all three text
    * chunk forms (tEXt / inflated zTXt / iTXt) plus EXIF out of the
    * eXIf chunk through the shared TIFF walk (PNG GPS is the same
    * release blocker as JPEG GPS): per doc the text-chunk count and
    * the Author/Description/Title values, orientation + decoded GPS,
    * bytes removed by [[MediaDecode.pngStripMetadata]] (closed-form in
    * the fixture — and the formula EXCLUDES the cHRM chunk, so the
    * oracle pins its retention), whether the scrubbed bytes carry no
    * text chunks AND no eXIf, and PIXEL identity of the scrub. */
  def pngMetaAudit(documents: DataFrame): DataFrame =
    perPayload(withMetaPngPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "n_text_chunks", "author", "description", "title",
      "orientation", "gps_lat", "gps_lon", "bytes_removed",
      "meta_removed", "pixels_identical") { (id, p) =>
      val texts = MediaDecode.pngTextChunks(p).getOrElse(Seq.empty)
      def v(k: String) = texts.find(_._1 == k).map(_._2)
      val exif = MediaDecode.pngExif(p)
      val (removed, clean, same) =
        scrubReport(p, MediaDecode.pngStripMetadata(p)) { s =>
          (MediaDecode.pngTextChunks(s).getOrElse(Seq.empty).isEmpty &&
            MediaDecode.pngExif(s).isEmpty,
            sameRaster(MediaDecode.pngGrayPixels)(p, s))
        }
      (id, texts.size.toLong, v("Author"), v("Description"), v("Title"),
        exif.flatMap(_.orientation).map(_.toLong),
        exif.flatMap(_.gpsLat).map(d => math.rint(d * 10000) / 10000),
        exif.flatMap(_.gpsLon).map(d => math.rint(d * 10000) / 10000),
        removed, clean, same)
    }.orderBy("doc_id")

  /** Attach REAL tagged-FLAC payloads: the tone fixture with a
    * formula-driven VORBIS_COMMENT block (ARTIST/TITLE; doc_id%5==0
    * docs untagged) — the audio privacy-audit fixture. */
  def withTaggedFlacPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val tags =
        if (docId % 5 == 0) Nil
        else Seq("ARTIST" -> s"artist_${docId % 50}", "TITLE" -> s"t_${docId % 7}")
      flacBytes(1, 8000, 8,
        pcmQuantizeInt(synthToneSamples(docId, 1440, 8000), 8, 1.0, 1),
        512, comments = tags)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** FLAC tag AUDIT + metadata-scrub report — the [[exifScrubAudit]]
    * analog on the audio modality: per doc, the Vorbis tag count and
    * ARTIST value, bytes removed by [[MediaDecode.flacStripMetadata]]
    * (closed-form in the fixture), whether the scrubbed bytes carry no
    * tags, and SAMPLE identity of the scrub (decode equality — the
    * lossless claim, measured per doc). */
  def flacTagScrubAudit(documents: DataFrame): DataFrame =
    perPayload(withTaggedFlacPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "n_tags", "artist", "bytes_removed",
      "tags_removed", "samples_identical") { (id, p) =>
      val tags = MediaDecode.flacVorbisComments(p)
      val artist = tags.flatMap(_.find(_._1 == "ARTIST").map(_._2))
      val stripped = MediaDecode.flacStripMetadata(p)
      val (removed, clean, same) = scrubReport(p, stripped) { s =>
        (MediaDecode.flacVorbisComments(s).isEmpty,
          (MediaDecode.flacPcmMono(p), MediaDecode.flacPcmMono(s)) match {
            case (Some((r1, a)), Some((r2, bb))) =>
              r1 == r2 && java.util.Arrays.equals(a, bb)
            case _ => false
          })
      }
      // a stream the scrub cannot parse reports no tags
      val nTags = if (stripped.isEmpty) 0L else tags.fold(0L)(_.size.toLong)
      (id, nTags, artist, removed, clean, same)
    }.orderBy("doc_id")

  /** One spec-valid ID3v2.3 tag block: header (plain 10 bytes,
    * syncsafe total size) + TPE1/TIT2 text frames (encoding 0,
    * Latin-1) and an optional `TXXX` geo frame (description NUL
    * value) — every size CLOSED-FORM: frame = 10 + 1 + |text|
    * (TXXX: 10 + 1 + |desc| + 1 + |value|), block = 10 + Σ frames. */
  def id3v2Bytes(artist: String, title: String,
                 geo: Option[(String, String)]): Array[Byte] = {
    def frame(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(10 + body.length)
      o.write(id.getBytes("US-ASCII"))
      o.write((body.length >> 24) & 0xff); o.write((body.length >> 16) & 0xff)
      o.write((body.length >> 8) & 0xff); o.write(body.length & 0xff)
      o.write(0); o.write(0) // flags
      o.write(body)
      o.toByteArray
    }
    def text(s: String): Array[Byte] =
      Array(0.toByte) ++ s.getBytes("ISO-8859-1") // encoding 0 = Latin-1
    val frames = frame("TPE1", text(artist)) ++ frame("TIT2", text(title)) ++
      geo.map { case (d, v) =>
        frame("TXXX", Array(0.toByte) ++ d.getBytes("ISO-8859-1") ++
          Array(0.toByte) ++ v.getBytes("ISO-8859-1"))
      }.getOrElse(Array.empty[Byte])
    val o = new java.io.ByteArrayOutputStream(10 + frames.length)
    o.write("ID3".getBytes("US-ASCII")); o.write(3); o.write(0); o.write(0)
    val n = frames.length
    o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
    o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
    o.write(frames)
    o.toByteArray
  }

  /** A spec-valid ID3v1 trailer (128 bytes: `TAG` + NUL-padded 30-byte
    * title/artist/album + year/comment/genre zeroed). */
  def id3v1Bytes(title: String, artist: String, album: String): Array[Byte] = {
    val o = new Array[Byte](128)
    "TAG".getBytes("US-ASCII").copyToArray(o, 0)
    def put(s: String, off: Int): Unit =
      s.getBytes("ISO-8859-1").take(30).copyToArray(o, off)
    put(title, 3); put(artist, 33); put(album, 63)
    o
  }

  /** Spec-valid MPEG-1 Layer III frame headers with deterministic
    * dummy payload — the SCREEN fixture (no real audio: decode is the
    * documented NO-GO; the walk under test is the header arithmetic).
    * 32 kHz / 128 kbps mono ⇒ frame length exactly 144·128000/32000 =
    * 576 bytes, 1152 samples ⇒ 36 ms per frame, no padding bit. */
  def mp3Frames(nFrames: Int, seed: Long): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(nFrames * 576)
    (0 until nFrames).foreach { f =>
      // 0xFF 0xFB: sync + MPEG1 (verBits 3) + Layer III (layerBits 1)
      // + no CRC; 0x98: bitrate idx 9 (128k) + sr idx 2 (32 kHz) +
      // pad 0; 0xC0: mono
      o.write(0xff); o.write(0xfb); o.write(0x98); o.write(0xc0)
      var i = 4
      while (i < 576) {
        o.write((((seed * 31 + f) * 131 + i) & 0xff).toInt)
        i += 1
      }
    }
    o.toByteArray
  }

  /** Attach REAL MP3 payloads with formula-driven ID3: doc_id%5==0
    * docs untagged (bare frames); others carry an ID3v2.3 block
    * (TPE1 artist_<id%50>, TIT2 t_<id%7>, and for doc_id%3==0 a TXXX
    * `geo` frame `lat=<id%90>;lon=<id%180>` — the release-blocking
    * location signal) plus, for doc_id%2==0, an ID3v1 trailer.
    * doc_id%4+2 frames each. */
  def withMp3Payload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val frames = mp3Frames((docId % 4 + 2).toInt, docId)
      if (docId % 5 == 0) frames
      else {
        val tag = id3v2Bytes(s"artist_${docId % 50}", s"t_${docId % 7}",
          if (docId % 3 == 0)
            Some(("geo", s"lat=${docId % 90};lon=${docId % 180}"))
          else None)
        val trailer =
          if (docId % 2 == 0)
            id3v1Bytes(s"t_${docId % 7}", s"artist_${docId % 50}", "")
          else Array.empty[Byte]
        val o = new java.io.ByteArrayOutputStream(
          tag.length + frames.length + trailer.length)
        o.write(tag); o.write(frames); o.write(trailer)
        o.toByteArray
      }
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** MP3 SCREEN audit — the frame-header walk over the fixture: per
    * doc the sample rate, first-frame bitrate, frame count and
    * duration (all exact formulas), plus the ID3 presence flags. */
  def mp3MetaAudit(documents: DataFrame): DataFrame =
    perPayload(withMp3Payload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "parsed", "sample_rate", "bitrate_kbps", "channels",
      "n_frames", "duration_ms", "has_id3v2", "has_id3v1") { (id, p) =>
      MediaDecode.mp3Meta(p) match {
        case Some(m) => (id, true, m.sampleRate.toLong,
          m.bitrateKbps.toLong, m.channels.toLong, m.nFrames.toLong,
          m.durationMs, m.id3v2Bytes > 0, m.id3v1)
        case None => (id, false, 0L, 0L, 0L, 0L, 0L, false, false)
      }
    }.orderBy("doc_id")

  /** ID3 tag audit + SCRUB report — the [[exifScrubAudit]] discipline
    * on MP3: per doc the tag count and artist/title/geo values (the
    * TXXX geo frame is the location release-blocker), bytes removed
    * by [[MediaDecode.mp3StripId3]] (closed-form in the fixture),
    * whether the scrubbed bytes carry no ID3 at all, and FRAME
    * identity of the scrub (the audio region is byte-verbatim —
    * re-walked frame count + duration must match). */
  def mp3TagScrubAudit(documents: DataFrame): DataFrame =
    perPayload(withMp3Payload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "n_tags", "artist", "title", "geo",
      "bytes_removed", "tags_removed", "frames_identical") { (id, p) =>
      val tags = MediaDecode.mp3Id3Frames(p).getOrElse(Seq.empty)
      def v(k: String) = tags.find(_._1 == k).map(_._2)
      val before = MediaDecode.mp3Meta(p)
      val (removed, clean, same) =
        scrubReport(p, MediaDecode.mp3StripId3(p)) { s =>
          (MediaDecode.mp3Id3Frames(s).isEmpty,
            (before, MediaDecode.mp3Meta(s)) match {
              case (Some(x), Some(y)) =>
                x.nFrames == y.nFrames && x.durationMs == y.durationMs &&
                  y.id3v2Bytes == 0 && !y.id3v1
              case _ => false
            })
        }
      (id, tags.size.toLong, v("TPE1"), v("TIT2"), v("TXXX:geo"),
        removed, clean, same)
    }.orderBy("doc_id")

  /** One spec-valid Ogg page (RFC 3533): header + lacing + body, CRC
    * sealed with [[MediaDecode.oggCrc]]. `packets` become this page's
    * lacing runs (255-chunked, each ending < 255). */
  def oggPageBytes(headerType: Int, granule: Long, serial: Long, seq: Long,
                   packets: Seq[Array[Byte]]): Array[Byte] = {
    val lacing = packets.flatMap { p =>
      val full = p.length / 255
      Seq.fill(full)(255) :+ (p.length % 255)
    }
    require(lacing.length <= 255, s"too many lacing values: ${lacing.length}")
    val o = new java.io.ByteArrayOutputStream()
    o.write("OggS".getBytes("US-ASCII")); o.write(0); o.write(headerType)
    (0 until 8).foreach(k => o.write(((granule >> (8 * k)) & 0xff).toInt))
    (0 until 4).foreach(k => o.write(((serial >> (8 * k)) & 0xff).toInt))
    (0 until 4).foreach(k => o.write(((seq >> (8 * k)) & 0xff).toInt))
    o.write(0); o.write(0); o.write(0); o.write(0) // crc placeholder
    o.write(lacing.length)
    lacing.foreach(o.write)
    packets.foreach(p => o.write(p))
    val page = o.toByteArray
    val crc = MediaDecode.oggCrc(page, 0, page.length)
    page(22) = (crc & 0xff).toByte
    page(23) = ((crc >> 8) & 0xff).toByte
    page(24) = ((crc >> 16) & 0xff).toByte
    page(25) = ((crc >> 24) & 0xff).toByte
    page
  }

  /** One Vorbis-comment block body (vendor + KEY=value list, all
    * lengths little-endian) — CLOSED-FORM size: 4 + |vendor| + 4 +
    * Σ (4 + |key| + 1 + |value|). */
  def vorbisCommentBytes(vendor: String, comments: Seq[(String, String)]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
      o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
    }
    val vb = vendor.getBytes("UTF-8")
    le32(vb.length); o.write(vb)
    le32(comments.length)
    comments.foreach { case (k, v) =>
      val cb = s"$k=$v".getBytes("UTF-8")
      le32(cb.length); o.write(cb)
    }
    o.toByteArray
  }

  /** A complete spec-valid Ogg file of `nAudioPages` dummy audio
    * pages after the two header pages — Vorbis (ID header 30 B,
    * granule = PCM samples at `rate`, 1024/page) or Opus (OpusHead,
    * granule 48 kHz-denominated, 960/page). The audio page bodies are
    * deterministic bytes (no codec payload decode exists — the walk
    * and the comment seam are what is under test). */
  def oggBytes(codec: String, channels: Int, rate: Int,
               comments: Seq[(String, String)], nAudioPages: Int,
               seed: Long): Array[Byte] = {
    require(codec == "vorbis" || codec == "opus", s"codec: $codec")
    val serial = 0x47524654L // 'GRFT'
    val o = new java.io.ByteArrayOutputStream()
    val (idPacket, commentPacket, granulePerPage) =
      if (codec == "vorbis") {
        val id = new java.io.ByteArrayOutputStream()
        id.write(1); id.write("vorbis".getBytes("US-ASCII"))
        id.write(0); id.write(0); id.write(0); id.write(0) // version
        id.write(channels)
        (0 until 4).foreach(k => id.write((rate >> (8 * k)) & 0xff))
        (0 until 12).foreach(_ => id.write(0)) // bitrates
        id.write(0xb8) // blocksizes
        id.write(1) // framing
        val cm = new java.io.ByteArrayOutputStream()
        cm.write(3); cm.write("vorbis".getBytes("US-ASCII"))
        cm.write(vorbisCommentBytes("graft", comments))
        cm.write(1) // framing bit
        (id.toByteArray, cm.toByteArray, 1024L)
      } else {
        val id = new java.io.ByteArrayOutputStream()
        id.write("OpusHead".getBytes("US-ASCII"))
        id.write(1); id.write(channels)
        id.write(0); id.write(0) // pre-skip
        (0 until 4).foreach(k => id.write((rate >> (8 * k)) & 0xff))
        id.write(0); id.write(0); id.write(0) // gain + mapping
        val cm = new java.io.ByteArrayOutputStream()
        cm.write("OpusTags".getBytes("US-ASCII"))
        cm.write(vorbisCommentBytes("graft", comments))
        (id.toByteArray, cm.toByteArray, 960L)
      }
    o.write(oggPageBytes(2, 0L, serial, 0L, Seq(idPacket))) // BOS
    // comment + a dummy setup packet share page 1 (the common layout)
    val setup = Array.tabulate[Byte](24)(i => ((seed * 17 + i) & 0xff).toByte)
    o.write(oggPageBytes(0, 0L, serial, 1L, Seq(commentPacket, setup)))
    (1 to nAudioPages).foreach { k =>
      val body = Array.tabulate[Byte](40 + (seed % 13).toInt)(i =>
        (((seed * 31 + k) * 131 + i) & 0xff).toByte)
      val eos = if (k == nAudioPages) 4 else 0
      o.write(oggPageBytes(eos, granulePerPage * k, serial, 1L + k, Seq(body)))
    }
    o.toByteArray
  }

  /** Attach REAL Ogg payloads with formula-driven comments: codec by
    * doc parity (even = Vorbis 8 kHz, odd = Opus 48 kHz); doc_id%5==0
    * docs carry an EMPTY comment list; others ARTIST/TITLE and, for
    * doc_id%3==0, a GEO tag (the location release-blocker);
    * doc_id%4+1 audio pages. */
  def withOggPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val comments =
        if (docId % 5 == 0) Seq.empty[(String, String)]
        else Seq("ARTIST" -> s"artist_${docId % 50}",
          "TITLE" -> s"t_${docId % 7}") ++
          (if (docId % 3 == 0)
            Seq("GEO" -> s"lat=${docId % 90};lon=${docId % 180}")
          else Nil)
      if (docId % 2 == 0)
        oggBytes("vorbis", 1, 8000, comments, (docId % 4 + 1).toInt, docId)
      else
        oggBytes("opus", 2, 48000, comments, (docId % 4 + 1).toInt, docId)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** Ogg SCREEN audit over the fixture: codec/channels/rate from the
    * ID header, page count, duration from the last granule — every
    * column an exact formula by doc parity. */
  def oggMetaAudit(documents: DataFrame): DataFrame =
    perPayload(withOggPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "codec", "channels", "sample_rate", "n_pages",
      "duration_ms") { (id, p) =>
      MediaDecode.oggMeta(p) match {
        case Some(m) => (id, m.codec, m.channels.toLong,
          m.sampleRate.toLong, m.nPages.toLong, m.durationMs)
        case None => (id, "none", 0L, 0L, 0L, 0L)
      }
    }.orderBy("doc_id")

  /** Ogg comment audit + REDACTION report — the privacy seam on the
    * Ogg family: per doc the tag count and ARTIST/GEO values, bytes
    * redacted in place (closed-form: the value bytes), whether the
    * redacted file re-parses with BLANK values under the same keys,
    * and whether every page CRC re-seals ([[MediaDecode
    * .oggCrcValid]]). */
  def oggTagRedactAudit(documents: DataFrame): DataFrame =
    perPayload(withOggPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "n_tags", "artist", "geo", "bytes_redacted",
      "values_blanked", "pages_sealed") { (id, p) =>
      val tags = MediaDecode.oggComments(p).getOrElse(Seq.empty)
      def v(k: String) = tags.find(_._1 == k).map(_._2)
      val (redactedBytes, blanked, sealedOk) =
        MediaDecode.oggRedactComments(p) match {
          case Some(r) =>
            val after = MediaDecode.oggComments(r).getOrElse(Seq.empty)
            (tags.map(_._2.getBytes("UTF-8").length.toLong).sum,
              after.map(_._1) == tags.map(_._1) &&
                after.forall(_._2.trim.isEmpty),
              MediaDecode.oggCrcValid(r) && r.length == p.length)
          case None => (0L, false, false)
        }
      (id, tags.size.toLong, v("ARTIST"), v("GEO"),
        redactedBytes, blanked, sealedOk)
    }.orderBy("doc_id")

  /** One RIFF chunk (fourcc + LE size + body + even pad). */
  def riffChunkBytes(fourcc: String, body: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(8 + body.length + 1)
    o.write(fourcc.getBytes("US-ASCII"))
    o.write(body.length & 0xff); o.write((body.length >> 8) & 0xff)
    o.write((body.length >> 16) & 0xff); o.write((body.length >> 24) & 0xff)
    o.write(body)
    if ((body.length & 1) == 1) o.write(0)
    o.toByteArray
  }

  /** A spec-valid WebP: either a bare VP8L file (no VP8X — the
    * simple-lossless layout) or an extended VP8X file with ICCP
    * (RETAINED by the scrub), the VP8L image chunk, and optional
    * EXIF (bare TIFF body) / XMP metadata chunks — every size
    * CLOSED-FORM. The VP8L payload is dummy bytes (no VP8 entropy
    * decode exists; the dims header is real). */
  def webpBytes(width: Int, height: Int, exif: Option[(Int, (Int, Int))],
                xmp: Option[String], extended: Boolean,
                seed: Long): Array[Byte] = {
    val vp8l = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0x2f)
      val bits = (width - 1).toLong | ((height - 1).toLong << 14)
      (0 until 4).foreach(k => o.write(((bits >> (8 * k)) & 0xff).toInt))
      (0 until 11).foreach(i => o.write((((seed * 37 + i) & 0xff)).toInt))
      riffChunkBytes("VP8L", o.toByteArray)
    }
    val body = new java.io.ByteArrayOutputStream()
    if (extended) {
      val x = new Array[Byte](10)
      x(0) = (0x20 | exif.map(_ => 0x08).getOrElse(0) |
        xmp.map(_ => 0x04).getOrElse(0)).toByte // ICC + E/X as present
      x(4) = ((width - 1) & 0xff).toByte
      x(5) = (((width - 1) >> 8) & 0xff).toByte
      x(6) = (((width - 1) >> 16) & 0xff).toByte
      x(7) = ((height - 1) & 0xff).toByte
      x(8) = (((height - 1) >> 8) & 0xff).toByte
      x(9) = (((height - 1) >> 16) & 0xff).toByte
      body.write(riffChunkBytes("VP8X", x))
      body.write(riffChunkBytes("ICCP",
        Array.tabulate[Byte](12)(i => ((seed * 13 + i) & 0xff).toByte)))
    }
    body.write(vp8l)
    exif.foreach { case (ori, (la, lo)) =>
      body.write(riffChunkBytes("EXIF", exifTiffBody(ori, Some((la, lo)))))
    }
    xmp.foreach(s => body.write(riffChunkBytes("XMP ", s.getBytes("UTF-8"))))
    val inner = body.toByteArray
    val o = new java.io.ByteArrayOutputStream(12 + inner.length)
    o.write("RIFF".getBytes("US-ASCII"))
    val sz = 4 + inner.length
    o.write(sz & 0xff); o.write((sz >> 8) & 0xff)
    o.write((sz >> 16) & 0xff); o.write((sz >> 24) & 0xff)
    o.write("WEBP".getBytes("US-ASCII"))
    o.write(inner)
    o.toByteArray
  }

  /** Attach REAL WebP payloads: doc_id%5==0 docs are bare VP8L files
    * (clean, simple layout — the VP8L dims path); others are VP8X
    * extended files with ICCP + XMP and, for doc_id%3==0, an EXIF
    * chunk (orientation doc_id%8+1, GPS at integer degrees). Dims
    * 24+doc_id%8 × 16+doc_id%5 in BOTH the VP8X canvas and the VP8L
    * header. */
  def withWebpPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val w = 24 + (docId % 8).toInt
      val h = 16 + (docId % 5).toInt
      if (docId % 5 == 0) webpBytes(w, h, None, None, extended = false, docId)
      else webpBytes(w, h,
        if (docId % 3 == 0)
          Some(((docId % 8 + 1).toInt, ((docId % 90).toInt, (docId % 180).toInt)))
        else None,
        Some(s"xmp_${docId % 9}"), extended = true, docId)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** WebP privacy audit + scrub report — the JPEG/PNG EXIF discipline
    * on the third image container: dims through BOTH layout paths,
    * EXIF via the shared TIFF walk, XMP presence; bytes removed by
    * [[MediaDecode.webpStripMetadata]] (closed-form — ICCP retention
    * pinned by the formula), post-scrub re-parse empty, and IMAGE
    * identity (the VP8L chunk byte-verbatim, dims unchanged). */
  def webpExifScrubAudit(documents: DataFrame): DataFrame =
    perPayload(withWebpPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "format", "width", "height", "orientation",
      "gps_lat", "gps_lon", "has_xmp", "bytes_removed", "meta_removed",
      "image_identical") { (id, p) =>
      val meta = MediaDecode.webpMeta(p)
      val exif = MediaDecode.webpExif(p)
      def vp8lBytes(x: Array[Byte]): Option[Seq[Byte]] = {
        val s = new String(x, java.nio.charset.StandardCharsets.ISO_8859_1)
        val i = s.indexOf("VP8L")
        if (i < 0) None else Some(x.slice(i, i + 8 + 16).toSeq)
      }
      val (removed, clean, same) =
        scrubReport(p, MediaDecode.webpStripMetadata(p)) { s =>
          val m2 = MediaDecode.webpMeta(s)
          (MediaDecode.webpExif(s).isEmpty &&
            m2.exists(m => !m.hasExif && !m.hasXmp),
            m2.isDefined && meta.isDefined &&
              m2.get.width == meta.get.width &&
              m2.get.height == meta.get.height &&
              vp8lBytes(p) == vp8lBytes(s))
        }
      (id, meta.map(_.format).getOrElse("none"),
        meta.map(_.width.toLong).getOrElse(0L),
        meta.map(_.height.toLong).getOrElse(0L),
        exif.flatMap(_.orientation).map(_.toLong),
        exif.flatMap(_.gpsLat).map(d => math.rint(d * 10000) / 10000),
        exif.flatMap(_.gpsLon).map(d => math.rint(d * 10000) / 10000),
        meta.exists(_.hasXmp), removed, clean, same)
    }.orderBy("doc_id")

  /** A spec-valid GIF89a: logical screen (no global color table),
    * an optional comment extension, `nFrames` image descriptors with
    * one dummy LZW sub-block each, trailer — every size CLOSED-FORM
    * (comment extension = 4 + |comment|). */
  def gifBytes(width: Int, height: Int, nFrames: Int,
               comment: Option[String], seed: Long): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write("GIF89a".getBytes("US-ASCII"))
    o.write(width & 0xff); o.write((width >> 8) & 0xff)
    o.write(height & 0xff); o.write((height >> 8) & 0xff)
    o.write(0); o.write(0); o.write(0) // flags (no GCT), bg, aspect
    comment.foreach { c =>
      val cb = c.getBytes("ISO-8859-1")
      require(cb.length >= 1 && cb.length <= 255,
        "comment must fit one sub-block")
      o.write(0x21); o.write(0xfe); o.write(cb.length); o.write(cb); o.write(0)
    }
    (0 until nFrames).foreach { f =>
      o.write(0x2c)
      o.write(0); o.write(0); o.write(0); o.write(0) // left, top
      o.write(width & 0xff); o.write((width >> 8) & 0xff)
      o.write(height & 0xff); o.write((height >> 8) & 0xff)
      o.write(0) // no local color table
      o.write(2) // LZW min code size
      val n = 10 + ((seed + f) % 5).toInt
      o.write(n)
      (0 until n).foreach(i => o.write((((seed * 31 + f) * 131 + i) & 0xff).toInt))
      o.write(0) // sub-block terminator
    }
    o.write(0x3b)
    o.toByteArray
  }

  /** Attach REAL GIF payloads: dims 10+doc_id%16 × 7+doc_id%9,
    * 1+doc_id%3 frames; doc_id%5==0 docs clean, others carry a
    * comment extension `c_<doc_id%7>` (the GIF PII carrier). */
  def withGifPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      gifBytes(10 + (docId % 16).toInt, 7 + (docId % 9).toInt,
        (docId % 3 + 1).toInt,
        if (docId % 5 == 0) None else Some(s"c_${docId % 7}"), docId)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** GIF screen + scrub report: dims, frame count, the comment text;
    * bytes removed by [[MediaDecode.gifStripMetadata]] (closed-form),
    * post-scrub comments gone, frames intact (re-walked count). */
  def gifMetaScrubAudit(documents: DataFrame): DataFrame =
    perPayload(withGifPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "width", "height", "n_frames", "comment",
      "bytes_removed", "comments_removed", "frames_identical") { (id, p) =>
      val meta = MediaDecode.gifMeta(p)
      val (removed, clean, same) =
        scrubReport(p, MediaDecode.gifStripMetadata(p)) { s =>
          val m2 = MediaDecode.gifMeta(s)
          (m2.exists(_.comments.isEmpty),
            (meta, m2) match {
              case (Some(a), Some(c)) =>
                a.nFrames == c.nFrames && a.width == c.width &&
                  a.height == c.height
              case _ => false
            })
        }
      (id, meta.map(_.width.toLong).getOrElse(0L),
        meta.map(_.height.toLong).getOrElse(0L),
        meta.map(_.nFrames.toLong).getOrElse(0L),
        meta.flatMap(_.comments.headOption),
        removed, clean, same)
    }.orderBy("doc_id")

  /** A spec-valid bare little-endian TIFF: IFD0 with ImageWidth(256)
    * + ImageLength(257) SHORTs, optional Orientation(274) and a GPS
    * IFD (the exifTiffBody rational layout) — fixture for the bare
    * .tif screen. */
  def tiffBytes(width: Int, height: Int, orientation: Option[Int],
                gps: Option[(Int, Int)]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    def entry(tag: Int, tpe: Int, count: Long)(value: => Unit): Unit = {
      u16(tag); u16(tpe); u32(count); value
    }
    o.write("II".getBytes("US-ASCII")); u16(42); u32(8L)
    val n0 = 2 + orientation.size + gps.size
    u16(n0)
    entry(256, 3, 1L) { u16(width); u16(0) }
    entry(257, 3, 1L) { u16(height); u16(0) }
    orientation.foreach(or => entry(274, 3, 1L) { u16(or); u16(0) })
    val gpsOff = 10L + 12 * n0 + 4
    gps.foreach(_ => entry(0x8825, 4, 1L)(u32(gpsOff)))
    u32(0L) // next IFD
    gps.foreach { case (latDeg, lonDeg) =>
      val ratOff = gpsOff + 2 + 4 * 12 + 4
      u16(4)
      entry(1, 2, 2L) { o.write('N'); o.write(0); u16(0) }
      entry(2, 5, 3L)(u32(ratOff))
      entry(3, 2, 2L) { o.write('E'); o.write(0); u16(0) }
      entry(4, 5, 3L)(u32(ratOff + 24))
      u32(0L)
      Seq(latDeg, lonDeg).foreach { deg =>
        u32(deg.toLong); u32(1L); u32(0L); u32(1L); u32(0L); u32(1L)
      }
    }
    o.toByteArray
  }

  /** Attach REAL bare-TIFF payloads: dims 100+doc_id%50 ×
    * 80+doc_id%30; doc_id%5==0 docs dims-only; others orientation
    * doc_id%8+1 and, for doc_id%3==0, GPS at integer degrees. */
  def withTiffPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val w = 100 + (docId % 50).toInt
      val h = 80 + (docId % 30).toInt
      if (docId % 5 == 0) tiffBytes(w, h, None, None)
      else tiffBytes(w, h, Some((docId % 8 + 1).toInt),
        if (docId % 3 == 0)
          Some(((docId % 90).toInt, (docId % 180).toInt))
        else None)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** Bare-TIFF screen audit — dims + orientation + GPS through the
    * shared walk; GPS-bearing docs are the quarantine route (no TIFF
    * scrub exists by design — see [[MediaDecode.tiffMeta]]). */
  def tiffExifAudit(documents: DataFrame): DataFrame =
    perPayload(withTiffPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "width", "height", "orientation", "gps_lat",
      "gps_lon", "quarantine") { (id, p) =>
      MediaDecode.tiffMeta(p) match {
        case Some(m) => (id, m.width.toLong, m.height.toLong,
          m.orientation.map(_.toLong),
          m.gpsLat.map(d => math.rint(d * 10000) / 10000),
          m.gpsLon.map(d => math.rint(d * 10000) / 10000),
          m.gpsLat.isDefined || m.gpsLon.isDefined)
        case None => (id, 0L, 0L, None: Option[Long],
          None: Option[Double], None: Option[Double], false)
      }
    }.orderBy("doc_id")

  /** One spec-valid gzip member (RFC 1952): optional MTIME/FNAME/
    * FCOMMENT metadata, raw-deflate body, CRC32 + ISIZE trailer.
    * Header overhead beyond the bare 10 bytes is CLOSED-FORM:
    * (|fname|+1) + (|comment|+1). */
  def gzipMemberBytes(data: Array[Byte], mtime: Long,
                      fname: Option[String],
                      comment: Option[String]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write(0x1f); o.write(0x8b); o.write(8)
    o.write((if (fname.isDefined) 8 else 0) |
      (if (comment.isDefined) 16 else 0))
    (0 until 4).foreach(k => o.write(((mtime >> (8 * k)) & 0xff).toInt))
    o.write(0); o.write(255) // XFL, OS unknown
    fname.foreach { s => o.write(s.getBytes("ISO-8859-1")); o.write(0) }
    comment.foreach { s => o.write(s.getBytes("ISO-8859-1")); o.write(0) }
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val buf = new Array[Byte](data.length + 64)
    while (!d.finished()) o.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    val c = crc.getValue
    (0 until 4).foreach(k => o.write(((c >> (8 * k)) & 0xff).toInt))
    (0 until 4).foreach(k => o.write(((data.length.toLong >> (8 * k)) & 0xff).toInt))
    o.toByteArray
  }

  /** Attach REAL multi-member gzip payloads: doc_id%3+1 members of
    * deterministic text each; doc_id%5==0 docs carry BARE headers
    * (no metadata, mtime 0); others stamp MTIME + an original
    * FILENAME on every member and, for doc_id%3==0, a COMMENT too —
    * the gzip privacy-audit fixture, metadata sizes closed-form. */
  def withGzipPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val o = new java.io.ByteArrayOutputStream()
      (0 until (docId % 3 + 1).toInt).foreach { m =>
        val data = (s"data:$docId:$m:" * 4).getBytes("UTF-8")
        if (docId % 5 == 0)
          o.write(gzipMemberBytes(data, 0L, None, None))
        else
          o.write(gzipMemberBytes(data, 1600000000L + docId,
            Some(s"f_${docId % 7}"),
            if (docId % 3 == 0) Some(s"c_${docId % 11}") else None))
      }
      o.toByteArray
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** Gzip metadata audit + SCRUB report: member count, first-member
    * FNAME, comment presence, bytes removed by [[MediaDecode
    * .gzipStripMeta]] (closed-form), post-scrub metadata gone (fname
    * None, mtime 0, no comment), and DECOMPRESSED identity — the
    * strongest oracle this family has (inflate before == after,
    * byte-for-byte, measured per doc). */
  def gzipScrubAudit(documents: DataFrame): DataFrame =
    perPayload(withGzipPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "n_members", "fname", "has_comment",
      "bytes_removed", "meta_removed", "decompressed_identical") { (id, p) =>
      // ONE member walk per side (the bundle) — a naive audit
      // re-inflates every payload five times (review find)
      val bundle = MediaDecode.gzipAuditBundle(p)
      val (removed, clean, same) = bundle match {
        case Some((before, decP, Some(s))) =>
          MediaDecode.gzipAuditBundle(s) match {
            case Some((after, decS, _)) =>
              ((p.length - s.length).toLong,
                after.fname.isEmpty && after.mtime == 0L &&
                  !after.hasComment && !after.hasExtra,
                before.members == after.members &&
                  java.util.Arrays.equals(decP, decS))
            case None => (0L, false, false)
          }
        case _ => (0L, false, false)
      }
      val before = bundle.map(_._1)
      (id, before.map(_.members.toLong).getOrElse(0L),
        before.flatMap(_.fname), before.exists(_.hasComment),
        removed, clean, same)
    }.orderBy("doc_id")

  /** Attach REAL WARC payloads in the CommonCrawl layout — ONE gzip
    * member per record: a `warcinfo` record then doc_id%4+1
    * `response` records with formula target URIs and bodies, so the
    * inventory's md5 compare is an EXACT oracle for the gzip-member
    * inflate + record-walk arithmetic. */
  def withWarcPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      def rec(tpe: String, uri: Option[String], body: Array[Byte]): Array[Byte] = {
        val h = new StringBuilder()
        h.append("WARC/1.0\r\n")
        h.append(s"WARC-Type: $tpe\r\n")
        uri.foreach(u => h.append(s"WARC-Target-URI: $u\r\n"))
        h.append(s"Content-Length: ${body.length}\r\n")
        h.append("\r\n")
        h.toString.getBytes("US-ASCII") ++ body ++ "\r\n\r\n".getBytes("US-ASCII")
      }
      val o = new java.io.ByteArrayOutputStream()
      o.write(gzipMemberBytes(
        rec("warcinfo", None, s"software: graft $docId".getBytes("UTF-8")),
        0L, None, None))
      (0 until (docId % 4 + 1).toInt).foreach { i =>
        o.write(gzipMemberBytes(
          rec("response", Some(s"https://ex.com/$docId/$i"),
            s"body:$docId:$i".getBytes("UTF-8")), 0L, None, None))
      }
      o.toByteArray
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** WARC inventory over the gzipped fixture — one row per record:
    * type, target URI, declared content length, body md5. The md5 is
    * computed from the BYTES the walk extracted, so a wrong member
    * boundary, header parse, or Content-Length slice hash-mismatches
    * the formula oracle. */
  def warcInventory(documents: DataFrame): DataFrame =
    payloadRows(withWarcPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "rec_idx", "warc_type", "target_uri",
      "content_length", "body_md5") { (id, p) =>
      MediaDecode.warcRecords(p).getOrElse(Seq.empty).zipWithIndex.map {
        case (r, i) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          (id, i.toLong, r.warcType, r.targetUri, r.contentLength,
            md.digest(r.body).map("%02x".format(_)).mkString)
      }
    }.orderBy("doc_id", "rec_idx")

  /** Attach a WAV payload column: per-doc channels/rate/depth from the
    * deterministic formulas, document text riding as the PCM data
    * bytes (stands in for samples read from object storage). */
  def withAudioPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long, text: String) =>
      val data = if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
      wavBytes(wavChannels(docId), wavSampleRate(docId), wavBits(docId), data)
    }
    documents.withColumn("payload", synth(col("doc_id"), col("text")))
  }

  /** Per-payload audio decode — the [[decodeBatched]] shape. REAL
    * RIFF chunk walk ([[MediaDecode.wav]]);
    * total under the P14 containment stance: an unparseable payload
    * yields format `unknown` with zeroed audio fields, never an
    * exception. `duration_ms` is derived from the PARSED data-chunk
    * length and byte rate — the oracle checks it against the synthesis
    * formula, proving the walk read real bytes. */
  def audioFeatures(documents: DataFrame): DataFrame =
    perPayload(withAudioPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "format", "channels", "sample_rate_hz",
      "bits_per_sample", "duration_ms", "payload_bytes") { (id, payload) =>
      MediaDecode.wav(payload) match {
        case Some(w) =>
          (id, "wav", w.channels.toLong, w.sampleRate.toLong,
            w.bits.toLong, w.durationMs, payload.length.toLong)
        case None =>
          (id, "unknown", 0L, 0L, 0L, 0L, payload.length.toLong)
      }
    }.orderBy("doc_id")

  // ------------------------------------------------------------------
  // perceptual audio near-dup: PCM decode + band-energy fingerprint
  // ------------------------------------------------------------------

  /** The fixed log-spaced filterbank (Hz) of [[audioFingerprint64]] —
    * half-octave steps 250…2828, all under the 8 kHz-telephony Nyquist
    * so one fingerprint definition serves every common sample rate.
    * Frequencies are ABSOLUTE (not Nyquist fractions): the same
    * recording resampled to a different rate keeps its band
    * energies. */
  val AudioBandsHz: Array[Double] = Array(
    250.0, 353.6, 500.0, 707.1, 1000.0, 1414.2, 2000.0, 2828.4)

  /** Goertzel power of x[from, until) at frequency f Hz — a one-bin
    * DFT probe (O(n) per band, no FFT needed for 8 bands), normalized
    * by n² so frame length drops out. Deterministic double math. */
  private[analytics] def goertzelPower(x: Array[Double], from: Int,
                                       until: Int, f: Double,
                                       sr: Double): Double = {
    val n = until - from
    val coeff = 2.0 * math.cos(2.0 * math.Pi * f / sr)
    var s1 = 0.0
    var s2 = 0.0
    var i = from
    while (i < until) {
      val s0 = x(i) + coeff * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    (s1 * s1 + s2 * s2 - coeff * s1 * s2) / (n.toDouble * n)
  }

  /** The fixed INTERNAL rate every clip is resampled to before the
    * Goertzel grid — [[audioFingerprint64]]'s normalization step. */
  val AudioInternalRateHz: Int = 8000

  /** Linear-interpolation resample (srIn → srOut) — the internal-rate
    * normalizer. Linear interp attenuates each frequency by a fixed
    * sinc²-shaped factor of f/srIn; that factor is CONSTANT across
    * time for a given (band, source rate), so per-band TIME-gradient
    * signs — the only thing the fingerprint keeps — survive exactly,
    * the same argument as gain invariance. Output length floors to
    * n·srOut/srIn; the last input sample clamps. */
  private[analytics] def resampleLinear(x: Array[Double], srIn: Int,
                                        srOut: Int): Array[Double] = {
    val n = (x.length.toLong * srOut / srIn).toInt
    val out = new Array[Double](n)
    var j = 0
    while (j < n) {
      val t = j.toDouble * srIn / srOut
      val i = t.toInt
      val frac = t - i
      val a = x(math.min(i, x.length - 1))
      val b = x(math.min(i + 1, x.length - 1))
      out(j) = a * (1.0 - frac) + b * frac
      j += 1
    }
    out
  }

  /** 64-bit perceptual audio fingerprint — the Haitsma–Kalker shape
    * (the published audio-fingerprint family): resample to the fixed
    * [[AudioInternalRateHz]] (so the SAME recording re-rendered at
    * 22.05/44.1/48 kHz fingerprints identically — frame boundaries,
    * Goertzel bin widths and leakage patterns are all functions of the
    * sample grid, and normalizing the grid is what makes them line up;
    * measured 0 bit flips across those re-renders, spec-pinned), split
    * the signal into 9 equal frames, measure energy in the 8
    * [[AudioBandsHz]] bands per frame, bit (f·8+k) = E(frame f, band
    * k) > E(frame f+1, band k) — the TIME-gradient sign grid, the
    * audio analog of [[dHash64]]'s spatial gradients. Signs of energy
    * ratios are EXACTLY invariant to uniform gain (every energy scales
    * by g²) and stable under requantization/rechanneling by
    * construction; the per-band attenuation a resample introduces is
    * time-constant, so it cancels in the gradient the same way gain
    * does. An 8 kHz clip takes the identity path (fingerprints
    * byte-compatible with every prior round). Returns None when the
    * clip is too short for 16-sample internal frames or the top band
    * sits at/above the SOURCE Nyquist (an 8-bit 4 kHz clip has no
    * 2.8 kHz content to measure — resampling cannot invent it). */
  def audioFingerprint64(sr: Int, samples: Array[Double]): Option[Long] = {
    if (AudioBandsHz.last >= sr / 2.0) return None
    val x =
      if (sr == AudioInternalRateHz) samples
      else if (samples.length < 2) return None
      else resampleLinear(samples, sr, AudioInternalRateHz)
    if (x.length < 9 * 16) return None
    val e = Array.ofDim[Double](9, 8)
    var f = 0
    while (f < 9) {
      val from = (f.toLong * x.length / 9).toInt
      val until = ((f + 1).toLong * x.length / 9).toInt
      var k = 0
      while (k < 8) {
        e(f)(k) = goertzelPower(x, from, until, AudioBandsHz(k),
          AudioInternalRateHz.toDouble)
        k += 1
      }
      f += 1
    }
    var bits = 0L
    f = 0
    while (f < 8) {
      var k = 0
      while (k < 8) {
        if (e(f)(k) > e(f + 1)(k)) bits |= 1L << (f * 8 + k)
        k += 1
      }
      f += 1
    }
    Some(bits)
  }

  /** splitmix64-style bit mixer — the per-(doc, band, frame) coin of
    * [[synthToneSamples]] (a LINEAR formula here collapsed the
    * fingerprint space to 256 values and made the band join
    * quadratic at SF — measured before this mixer landed). */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Deterministic multi-tone fixture signal: every band carries a
    * tone in every one of the 9 segments, with a per-(doc, band)
    * 4-level amplitude sequence whose CONSECUTIVE levels always differ
    * (mixed step ∈ {1,2,3} mod 4) — so every fingerprint comparison is
    * a ≥(0.45/0.25)² ≈ 3× energy ratio, far outside quantization
    * noise: the planted re-quantized/re-gained copies land at EXACTLY
    * Hamming 0, while distinct docs get near-unique fingerprints
    * (mixed-coin sequences ⇒ cross-doc Hamming ≤ 3 collisions are
    * ~2⁻⁴⁰-rare, so the band join stays linear). The /12 normalizer
    * keeps the 8-tone sum inside [−1, 1] (clipping would break gain
    * linearity). */
  def synthToneSamples(docId: Long, n: Int = 1440,
                       sr: Int = 8000): Array[Double] = {
    require(n % 9 == 0 && n > 0, s"n must be a positive multiple of 9: $n")
    val levels = Array(0.25, 0.45, 0.8, 1.4)
    // per-band level sequences, precomputed once per call
    val lvl = Array.ofDim[Int](8, 9)
    var k0 = 0
    while (k0 < 8) {
      lvl(k0)(0) = (mix64(docId * 8 + k0) & 3L).toInt
      var f0 = 1
      while (f0 < 9) {
        val step = 1 + (mix64((docId * 8 + k0) * 16 + f0) % 3 + 3) % 3 // 1..3
        lvl(k0)(f0) = (lvl(k0)(f0 - 1) + step.toInt) % 4
        f0 += 1
      }
      k0 += 1
    }
    val out = new Array[Double](n)
    val segLen = n / 9
    var f = 0
    while (f < 9) {
      var i = 0
      while (i < segLen) {
        val t = (f * segLen + i).toDouble / sr
        var acc = 0.0
        var k = 0
        while (k < 8) {
          acc += levels(lvl(k)(f)) *
            math.sin(2 * math.Pi * AudioBandsHz(k) * t)
          k += 1
        }
        out(f * segLen + i) = acc / 12.0
        i += 1
      }
      f += 1
    }
    out
  }

  /** Quantize doubles to PCM bytes (8-bit unsigned / 16-bit signed LE,
    * `channels` identical interleaved channels), clamped to [−1, 1]:
    * the byte encoding of [[pcmQuantizeInt]]. */
  def pcmQuantize(samples: Array[Double], bits: Int, gain: Double,
                  channels: Int): Array[Byte] = {
    val ints = pcmQuantizeInt(samples, bits, gain, channels)
    if (bits == 8) ints.map(v => (v + 128).toByte)
    else {
      val out = new Array[Byte](ints.length * 2)
      var i = 0
      while (i < ints.length) {
        out(2 * i) = (ints(i) & 0xff).toByte
        out(2 * i + 1) = ((ints(i) >> 8) & 0xff).toByte
        i += 1
      }
      out
    }
  }

  /** Attach REAL PCM-bearing WAV payloads ([[synthToneSamples]]
    * through [[pcmQuantize]]) — the fixture for the perceptual audio
    * path. `gain`/`bits`/`channels`/`sr` forge byte-different
    * renderings of the SAME recording (the re-export duplication
    * modes, now including a RESAMPLE: `sr` keeps the clip duration
    * fixed at 0.18 s, so a 44.1 kHz render is the same continuous
    * signal on a denser grid); `seedOffset` maps a copy's doc_id back
    * to its original's signal. Fixture synthesis, not a 100 TB
    * operator (UDF is fine). */
  def withTonePayload(documents: DataFrame, gain: Double = 1.0,
                      bits: Int = 8, channels: Int = 1,
                      seedOffset: Long = 0L, sr: Int = 8000): DataFrame = {
    // ~0.18 s at any rate, floored to a multiple of 9 on the DRIVER —
    // synthToneSamples requires n % 9 == 0, and a bare floor(1440·sr/
    // 8000) violates it for rates like 11025 (would throw inside the
    // executor-side UDF instead of synthesizing a fixture); the >0
    // guard must ALSO fire here, or sr < 50 just moves the crash to
    // the n > 0 clause of the same executor-side require
    val n = 9 * (160L * sr / 8000).toInt
    require(n > 0, s"sample rate $sr is too low for the 0.18 s tone fixture")
    val synth = udf { (docId: Long) =>
      wavBytes(channels, sr, bits,
        pcmQuantize(synthToneSamples(docId - seedOffset, n, sr),
          bits, gain, channels))
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** Per-doc audio fingerprints over the binary payload column —
    * per-payload PCM decode ([[MediaDecode.wavPcmMono]]) +
    * [[audioFingerprint64]] through the shared [[fingerprintPayloads]]
    * scaffold (too-short/undecodable clips drop). */
  def audioFingerprints(withPayload: DataFrame): DataFrame =
    fingerprintPayloads(withPayload) { payload =>
      MediaDecode.wavPcmMono(payload)
        .orElse(MediaDecode.flacPcmMono(payload))
        .flatMap { case (sr, samples) =>
          audioFingerprint64(sr, samples)
        }
    }

  /** Perceptual audio near-dup pairs — re-quantized / re-gained /
    * re-channeled renderings of one recording share ~no bytes but the
    * same band-energy GRADIENTS: fingerprints feed the UNCHANGED
    * SimHash 4×16-bit pigeonhole band join (complete for Hamming ≤ 3,
    * never all-pairs). Output: (doc_a, doc_b, hamming), ordered.
    * Scale shape: one narrow per-payload decode pass (samples never
    * shuffle — 8 B of hash per clip crosses the wire) + the banded
    * equi-join. */
  def audioNearDupPairs(withPayload: DataFrame, maxDist: Int = 3): DataFrame =
    Dedup.simhashNearDupPairsFromFingerprints(audioFingerprints(withPayload), maxDist)

  // ------------------------------------------------------------------
  // video: frame sampling over an opaque container column
  // ------------------------------------------------------------------

  /** Minimal length-prefixed video container for fixtures: `GVID` +
    * u32 frame count + per frame (u32 length + bytes). Stands in for a
    * real container (mp4/webm) the same way [[pngBytes]] stands in for
    * a camera image — the WALK is real, the codec is not needed for
    * frame sampling. */
  def videoBytes(frames: Seq[Array[Byte]]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    def u32(v: Int): Unit = {
      o.write((v >> 24) & 0xff); o.write((v >> 16) & 0xff)
      o.write((v >> 8) & 0xff); o.write(v & 0xff)
    }
    o.write("GVID".getBytes("US-ASCII"))
    u32(frames.length)
    frames.foreach { f => u32(f.length); o.write(f) }
    o.toByteArray
  }

  /** Walk a [[videoBytes]] container; truncation-contained — a corrupt
    * or chopped container yields the frames that fully parsed, never
    * an exception (one bad video must not poison the partition). */
  def parseFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    def u32(off: Int): Long =
      ((payload(off) & 0xffL) << 24) | ((payload(off + 1) & 0xffL) << 16) |
        ((payload(off + 2) & 0xffL) << 8) | (payload(off + 3) & 0xffL)
    if (payload.length < 8 ||
      new String(payload.slice(0, 4), "US-ASCII") != "GVID") return Seq.empty
    val n = u32(4)
    val out = Seq.newBuilder[Array[Byte]]
    var off = 8L
    var i = 0L
    while (i < n && off + 4 <= payload.length) {
      val len = u32(off.toInt)
      if (off + 4 + len > payload.length) return out.result()
      out += payload.slice((off + 4).toInt, (off + 4 + len).toInt)
      off += 4 + len
      i += 1
    }
    out.result()
  }

  /** Deterministic fixture: doc_id % 7 + 1 frames, frame i's bytes =
    * `frame:<doc_id>:<i>:<first-16-CODEPOINTS-of-text>`. The slice is
    * by code point, not UTF-16 code unit — DuckDB's `substr` counts
    * code points, and `String.take` would split a surrogate pair on
    * astral-plane text (the current corpora are ASCII, but the fixture
    * must not depend on that). */
  def withVideoPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long, text: String) =>
      val s = Option(text).getOrElse("")
      val cps = s.codePoints().limit(16).toArray
      val p = new String(cps, 0, cps.length)
      videoBytes((0 until (docId % 7 + 1).toInt)
        .map(i => s"frame:$docId:$i:$p".getBytes("UTF-8")))
    }
    documents.withColumn("payload", synth(col("doc_id"), col("text")))
  }

  /** A REAL MJPEG-in-AVI container of the given JPEG frames — RIFF
    * `AVI ` form with a spec-shaped `hdrl` (avih + strl(strh `vids`/
    * `MJPG` + strf BITMAPINFOHEADER)), an optional JUNK pad chunk (the
    * byte-different re-container knob), and the `movi` LIST holding
    * one `00dc` chunk per frame. Fixture synthesis per the public AVI
    * RIFF spec — the DEMUX under test is [[MediaDecode
    * .aviMjpegFrames]]; the JPEG frames themselves come from ImageIO
    * (the independent encoder). Never on the 100 TB path. */
  def aviMjpegBytes(frames: Seq[Array[Byte]], width: Int, height: Int,
                    junk: Int = 0): Array[Byte] = {
    def u16le(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
    }
    def u32le(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(8 + body.length + 1)
      o.write(id.getBytes("US-ASCII")); u32le(o, body.length.toLong)
      o.write(body)
      if (body.length % 2 == 1) o.write(0) // RIFF even padding
      o.toByteArray
    }
    def list(listType: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
      val inner = new java.io.ByteArrayOutputStream()
      inner.write(listType.getBytes("US-ASCII"))
      bodies.foreach(inner.write)
      chunk("LIST", inner.toByteArray)
    }
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = {
      val o = new java.io.ByteArrayOutputStream(56)
      u32le(o, 40000L); u32le(o, 0L); u32le(o, 0L); u32le(o, 0L)
      u32le(o, frames.length.toLong); u32le(o, 0L); u32le(o, 1L)
      u32le(o, maxFrame.toLong); u32le(o, width.toLong); u32le(o, height.toLong)
      (0 until 4).foreach(_ => u32le(o, 0L))
      chunk("avih", o.toByteArray)
    }
    val strh = {
      val o = new java.io.ByteArrayOutputStream(56)
      o.write("vids".getBytes("US-ASCII")); o.write("MJPG".getBytes("US-ASCII"))
      u32le(o, 0L); u16le(o, 0); u16le(o, 0); u32le(o, 0L)
      u32le(o, 1L); u32le(o, 25L) // scale 1, rate 25 fps
      u32le(o, 0L); u32le(o, frames.length.toLong); u32le(o, maxFrame.toLong)
      u32le(o, 0xffffffffL); u32le(o, 0L)
      u16le(o, 0); u16le(o, 0); u16le(o, width); u16le(o, height)
      chunk("strh", o.toByteArray)
    }
    val strf = {
      val o = new java.io.ByteArrayOutputStream(40)
      u32le(o, 40L); u32le(o, width.toLong); u32le(o, height.toLong)
      u16le(o, 1); u16le(o, 24)
      o.write("MJPG".getBytes("US-ASCII"))
      u32le(o, width.toLong * height * 3)
      (0 until 4).foreach(_ => u32le(o, 0L))
      chunk("strf", o.toByteArray)
    }
    val hdrl = list("hdrl", Seq(avih, list("strl", Seq(strh, strf))))
    val junkChunk =
      if (junk > 0) Seq(chunk("JUNK", Array.fill[Byte](junk)(0x4a)))
      else Seq.empty
    val movi = list("movi", frames.map(chunk("00dc", _)))
    val body = new java.io.ByteArrayOutputStream()
    body.write("AVI ".getBytes("US-ASCII"))
    (Seq(hdrl) ++ junkChunk :+ movi).foreach(body.write)
    val bytes = body.toByteArray
    val o = new java.io.ByteArrayOutputStream(8 + bytes.length)
    o.write("RIFF".getBytes("US-ASCII")); u32le(o, bytes.length.toLong)
    o.write(bytes)
    o.toByteArray
  }

  /** A REAL MJPEG-in-MP4 container of the given sample bodies — an
    * ISO-BMFF (14496-12) file: `ftyp`, optional `free` pad (the
    * byte-different re-container knob), `mdat` holding the samples,
    * and a spec-shaped `moov` (mvhd; trak: tkhd + mdia(mdhd timescale
    * 25 / duration = n frames, hdlr `vide`, minf(vmhd + dinf/dref +
    * stbl(stsd `jpeg` VisualSampleEntry w×h, stts, stsc 1-per-chunk,
    * stsz per-sample sizes, stco/co64 absolute offsets)))). One chunk
    * per sample, offsets computed against the final layout. Fixture
    * synthesis per the public spec — the DEMUX under test is
    * [[MediaDecode.mp4JpegSamples]]/[[MediaDecode.mp4Tracks]]. Never
    * on the 100 TB path. */
  def mp4MjpegBytes(frames: Seq[Array[Byte]], width: Int, height: Int,
                    freePad: Int = 0, co64: Boolean = false): Array[Byte] = {
    def w16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write((v >> 8) & 0xff); o.write(v & 0xff)
    }
    def w32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
      o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
    }
    def w64(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      w32(o, v >>> 32); w32(o, v & 0xffffffffL)
    }
    def box(tp: String)(fill: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val body = new java.io.ByteArrayOutputStream()
      fill(body)
      val bb = body.toByteArray
      val o = new java.io.ByteArrayOutputStream(8 + bb.length)
      w32(o, 8L + bb.length); o.write(tp.getBytes("US-ASCII")); o.write(bb)
      o.toByteArray
    }
    val ftyp = box("ftyp") { o =>
      o.write("isom".getBytes("US-ASCII")); w32(o, 0x200L)
      o.write("isom".getBytes("US-ASCII")); o.write("mp41".getBytes("US-ASCII"))
    }
    val free =
      if (freePad > 0) box("free")(o => (0 until freePad).foreach(_ => o.write(0x66)))
      else Array.emptyByteArray
    val mdat = box("mdat")(o => frames.foreach(o.write))
    val base = ftyp.length.toLong + free.length + 8L // first sample offset
    val offsets = frames.scanLeft(base)(_ + _.length).init
    val n = frames.length.toLong
    val mvhd = box("mvhd") { o =>
      w32(o, 0L); w32(o, 0L); w32(o, 0L) // v0+flags, creation, modification
      w32(o, 1000L); w32(o, n * 40L)     // movie timescale, duration
      w32(o, 0x00010000L); w16(o, 0x0100); w16(o, 0) // rate, volume, reserved
      w32(o, 0L); w32(o, 0L)             // reserved
      Seq(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L)
        .foreach(w32(o, _))              // unity matrix
      (0 until 6).foreach(_ => w32(o, 0L)) // pre_defined
      w32(o, 2L)                          // next track id
    }
    val tkhd = box("tkhd") { o =>
      w32(o, 7L)                          // v0 + flags: enabled|in-movie|preview
      w32(o, 0L); w32(o, 0L); w32(o, 1L); w32(o, 0L) // times, track id, reserved
      w32(o, n * 40L)                     // duration (movie timescale)
      w32(o, 0L); w32(o, 0L)              // reserved
      w16(o, 0); w16(o, 0); w16(o, 0); w16(o, 0) // layer, group, volume, reserved
      Seq(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L, 0x40000000L)
        .foreach(w32(o, _))
      w32(o, width.toLong << 16); w32(o, height.toLong << 16) // 16.16 fixed
    }
    val mdhd = box("mdhd") { o =>
      w32(o, 0L); w32(o, 0L); w32(o, 0L)
      w32(o, 25L); w32(o, n)              // media timescale 25, duration n
      w16(o, 0x55c4); w16(o, 0)           // language 'und', pre_defined
    }
    val hdlr = box("hdlr") { o =>
      w32(o, 0L); w32(o, 0L)
      o.write("vide".getBytes("US-ASCII"))
      (0 until 3).foreach(_ => w32(o, 0L))
      o.write(0)                          // empty name
    }
    val stsd = box("stsd") { o =>
      w32(o, 0L); w32(o, 1L)              // v0+flags, entry count
      val entry = box("jpeg") { e =>
        (0 until 6).foreach(_ => e.write(0)); w16(e, 1) // reserved, dref index
        (0 until 4).foreach(_ => w32(e, 0L))            // pre_defined/reserved
        w16(e, width); w16(e, height)
        w32(e, 0x00480000L); w32(e, 0x00480000L)        // 72 dpi h/v
        w32(e, 0L); w16(e, 1)                            // reserved, frame count
        (0 until 32).foreach(_ => e.write(0))            // compressorname
        w16(e, 24); w16(e, 0xffff)                       // depth, pre_defined -1
      }
      o.write(entry)
    }
    val stts = box("stts") { o =>
      w32(o, 0L); w32(o, 1L); w32(o, n); w32(o, 1L)
    }
    val stsc = box("stsc") { o =>
      w32(o, 0L); w32(o, 1L); w32(o, 1L); w32(o, 1L); w32(o, 1L)
    }
    val stsz = box("stsz") { o =>
      w32(o, 0L); w32(o, 0L); w32(o, n)
      frames.foreach(f => w32(o, f.length.toLong))
    }
    val stcoBox = box(if (co64) "co64" else "stco") { o =>
      w32(o, 0L); w32(o, n)
      offsets.foreach(off => if (co64) w64(o, off) else w32(o, off))
    }
    val stbl = box("stbl") { o =>
      o.write(stsd); o.write(stts); o.write(stsc); o.write(stsz); o.write(stcoBox)
    }
    val minf = box("minf") { o =>
      o.write(box("vmhd") { v => w32(v, 1L); w32(v, 0L); w32(v, 0L) })
      o.write(box("dinf") { d =>
        d.write(box("dref") { r =>
          w32(r, 0L); w32(r, 1L)
          r.write(box("url ")(u => w32(u, 1L))) // self-contained flag
        })
      })
      o.write(stbl)
    }
    val mdia = box("mdia") { o => o.write(mdhd); o.write(hdlr); o.write(minf) }
    val trak = box("trak") { o => o.write(tkhd); o.write(mdia) }
    val moov = box("moov") { o => o.write(mvhd); o.write(trak) }
    val out = new java.io.ByteArrayOutputStream()
    out.write(ftyp); out.write(free); out.write(mdat); out.write(moov)
    out.toByteArray
  }

  /** Attach MJPEG-in-MP4 payloads whose frames are REAL ImageIO JPEGs
    * — the [[withAviPixelPayload]] analog over the ISO-BMFF writer
    * (same seed → same pixels, so a GVID/AVI/MP4 triple of one doc
    * pools to the identical fingerprint). `progressive` re-encodes
    * every frame as SOF2 and `freePad` re-containers with a `free`
    * box — the re-export duplication mode. Fixture synthesis, not a
    * 100 TB operator. */
  def withMp4PixelPayload(documents: DataFrame, quality: Float = 0.9f,
                          pixelSeedOffset: Long = 0L,
                          progressive: Boolean = false,
                          freePad: Int = 0): DataFrame = {
    val synth = udf { (docId: Long) =>
      val seed = docId - pixelSeedOffset
      mp4MjpegBytes((0 until (seed % 3 + 2).toInt).map(i =>
        jpegBytesGrayEncoded(24, 16, synthGray(seed * 31 + i, 24, 16),
          quality, progressive)), 24, 16, freePad)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** Attach metadata-shape MP4 payloads (deterministic opaque sample
    * bytes — the [[withVideoPayload]] formula — inside a real ISO-BMFF
    * container whose dims follow a doc_id formula): the
    * [[mp4Features]] oracle fixture. doc_id % 2 picks stco vs co64 so
    * both offset-table widths stay exercised. */
  def withMp4Payload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long, text: String) =>
      val s = Option(text).getOrElse("")
      val cps = s.codePoints().limit(16).toArray
      val p = new String(cps, 0, cps.length)
      mp4MjpegBytes((0 until (docId % 7 + 1).toInt)
        .map(i => s"frame:$docId:$i:$p".getBytes("UTF-8")),
        (docId % 640 + 16).toInt, (docId % 360 + 9).toInt,
        co64 = docId % 2 == 1)
    }
    documents.withColumn("payload", synth(col("doc_id"), col("text")))
  }

  /** Parsed MP4 track panel over synthesized containers — the
    * [[mediaFeatures]]/[[audioFeatures]] analog for the dominant real
    * video container: one row per (doc, track) from [[MediaDecode
    * .mp4Tracks]] parsing REAL bytes (box walk + sample tables), so a
    * wrong offset, endianness, or largesize/co64 misread breaks the
    * formula oracle. Output: (doc_id, track_idx, handler, codec,
    * width, height, duration_ms, n_samples), ordered. */
  def mp4Features(documents: DataFrame): DataFrame =
    payloadRows(withMp4Payload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "track_idx", "handler", "codec", "width", "height",
      "duration_ms", "n_samples") { (id, payload) =>
      MediaDecode.mp4Tracks(payload).zipWithIndex.map { case (t, i) =>
        (id, i.toLong, t.handler, t.codec, t.width.toLong,
          t.height.toLong, t.durationMs, t.nSamples)
      }
    }.orderBy("doc_id", "track_idx")

  /** A spec-shaped EXIF APP1 segment (little-endian TIFF): IFD0 with
    * orientation (+ the GPS IFD pointer when `gps` is set), GPS IFD
    * with N/E refs and integer-degree rational triples. Sizes are
    * CLOSED-FORM (36 B without GPS, 150 B with — the scrub oracle's
    * bytes_removed formula). Fixture synthesis per TIFF 6.0/EXIF. */
  def exifApp1(orientation: Int, gps: Option[(Int, Int)]): Array[Byte] = {
    val tiff = exifTiffBody(orientation, gps)
    val seg = new java.io.ByteArrayOutputStream(10 + tiff.length)
    seg.write(0xff); seg.write(0xe1)
    val len = 2 + 6 + tiff.length
    seg.write((len >> 8) & 0xff); seg.write(len & 0xff)
    seg.write("Exif".getBytes("US-ASCII")); seg.write(0); seg.write(0)
    seg.write(tiff)
    seg.toByteArray
  }

  /** The bare TIFF stream of [[exifApp1]] (no marker/`Exif\0\0`
    * preamble) — exactly the PNG `eXIf` chunk body shape. Sizes are
    * CLOSED-FORM: 26 B without GPS, 140 B with. */
  def exifTiffBody(orientation: Int, gps: Option[(Int, Int)]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    def entry(tag: Int, tpe: Int, count: Long)(value: => Unit): Unit = {
      u16(tag); u16(tpe); u32(count); value
    }
    o.write("II".getBytes("US-ASCII")); u16(42); u32(8L)
    val n0 = if (gps.isDefined) 2 else 1
    u16(n0)
    entry(0x0112, 3, 1L) { u16(orientation); u16(0) }
    val gpsOff = 10L + 12 * n0 + 4
    gps.foreach(_ => entry(0x8825, 4, 1L)(u32(gpsOff)))
    u32(0L) // next IFD
    gps.foreach { case (latDeg, lonDeg) =>
      val ratOff = gpsOff + 2 + 4 * 12 + 4
      u16(4)
      entry(1, 2, 2L) { o.write('N'); o.write(0); u16(0) }
      entry(2, 5, 3L)(u32(ratOff))
      entry(3, 2, 2L) { o.write('E'); o.write(0); u16(0) }
      entry(4, 5, 3L)(u32(ratOff + 24))
      u32(0L)
      Seq(latDeg, lonDeg).foreach { deg =>
        u32(deg.toLong); u32(1L); u32(0L); u32(1L); u32(0L); u32(1L)
      }
    }
    o.toByteArray
  }

  /** Attach REAL JPEGs carrying formula-driven EXIF: doc_id%5==0 docs
    * have no APP1; others carry orientation doc_id%8+1, and doc_id%3==0
    * additionally a GPS IFD at integer degrees (doc_id%90, doc_id%180)
    * — the privacy-audit fixture. */
  def withExifJpegPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long) =>
      val base = jpegBytesGrayEncoded(24, 16, synthGray(docId, 24, 16), 0.9f)
      if (docId % 5 == 0) base
      else {
        val gps =
          if (docId % 3 == 0) Some(((docId % 90).toInt, (docId % 180).toInt))
          else None
        val app1 = exifApp1((docId % 8 + 1).toInt, gps)
        val out = new java.io.ByteArrayOutputStream(base.length + app1.length)
        out.write(base, 0, 2) // SOI
        out.write(app1)
        out.write(base, 2, base.length - 2)
        out.toByteArray
      }
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** EXIF privacy AUDIT over the binary payload column — the screen a
    * training-image corpus runs before release: per doc, whether EXIF
    * exists, the declared orientation, and decoded GPS coordinates
    * (decimal degrees). Per-payload parse (no entropy decode — marker
    * walk + TIFF reads only). Output: (doc_id, has_exif, orientation,
    * gps_lat, gps_lon), ordered. */
  def exifAudit(documents: DataFrame): DataFrame =
    perPayload(withExifJpegPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "has_exif", "orientation", "gps_lat", "gps_lon") { (id, p) =>
      MediaDecode.jpegExif(p) match {
        case Some(m) => (id, true, m.orientation.map(_.toLong),
          m.gpsLat.map(d => math.rint(d * 10000) / 10000),
          m.gpsLon.map(d => math.rint(d * 10000) / 10000))
        case None => (id, false, None: Option[Long],
          None: Option[Double], None: Option[Double])
      }
    }.orderBy("doc_id")

  /** Metadata-SCRUB audit — run [[MediaDecode.jpegStripMetadata]] over
    * the same fixture and report, per doc: bytes removed (the APP1
    * segment, closed-form in the fixture), whether the scrubbed bytes
    * carry no EXIF, and PIXEL identity of the scrub (decode equality —
    * the lossless claim, checked not asserted). */
  def exifScrubAudit(documents: DataFrame): DataFrame =
    perPayload(withExifJpegPayload(graft.util.SparkUtil.widen(documents)),
      "doc_id", "bytes_removed", "exif_removed", "pixels_identical") { (id, p) =>
      val (removed, clean, same) =
        scrubReport(p, MediaDecode.jpegStripMetadata(p)) { s =>
          (MediaDecode.jpegExif(s).isEmpty,
            sameRaster(MediaDecode.jpegLumaPixels)(p, s))
        }
      (id, removed, clean, same)
    }.orderBy("doc_id")

  /** Frames of an opaque video payload, by container magic: the GVID
    * fixture walk, the REAL MJPEG-in-AVI demux ([[MediaDecode
    * .aviMjpegFrames]]), or the REAL MJPEG-in-MP4 sample walk
    * ([[MediaDecode.mp4JpegSamples]]). Unknown containers yield no
    * frames (the fingerprint drops the doc — perceptual identity is
    * defined over decodable media). */
  def videoFrames(payload: Array[Byte], step: Int = 1): Seq[Array[Byte]] = {
    val gvid = parseFrames(payload)
    if (gvid.nonEmpty) {
      if (step == 1) gvid
      else gvid.iterator.zipWithIndex.collect {
        case (f, i) if i % step == 0 => f
      }.toSeq
    } else {
      // the REAL demuxers take the step inline: skipped frames are
      // never byte-copied (the whole point of the thinning knob)
      val avi = MediaDecode.aviMjpegFrames(payload, step)
      if (avi.nonEmpty) avi else MediaDecode.mp4JpegSamples(payload, step)
    }
  }

  /** Attach MJPEG-in-AVI payloads whose frames are REAL ImageIO JPEGs
    * (seed % 3 + 2 frames of 24×16 [[synthGray]] pixels at `quality`)
    * — the real-container fixture for the perceptual VIDEO path.
    * `progressive` re-encodes every frame as SOF2 (pixel-identical,
    * byte-different) and `junk` pads the container with a JUNK chunk —
    * together the re-export duplication mode; `pixelSeedOffset` maps a
    * copy's doc_id back to its original's pixels. Fixture synthesis,
    * not a 100 TB operator (UDF is fine). */
  def withAviPixelPayload(documents: DataFrame, quality: Float = 0.9f,
                          pixelSeedOffset: Long = 0L,
                          progressive: Boolean = false,
                          junk: Int = 0): DataFrame = {
    val synth = udf { (docId: Long) =>
      val seed = docId - pixelSeedOffset
      aviMjpegBytes((0 until (seed % 3 + 2).toInt).map(i =>
        jpegBytesGrayEncoded(24, 16, synthGray(seed * 31 + i, 24, 16),
          quality, progressive)), 24, 16, junk)
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** Attach GVID containers whose frames are REAL pixel-bearing
    * grayscale PNGs (doc_id % 3 + 2 frames, [[synthGray]] pixels
    * seeded per (doc, frame), zlib `level`) — the fixture for the
    * perceptual VIDEO path. `pixelSeedOffset` maps a re-encoded copy's
    * doc_id back to its original's pixels (the [[withPixelPayload]]
    * convention). Fixture synthesis, not a 100 TB operator. */
  def withVideoPixelPayload(documents: DataFrame, level: Int = 6,
                            pixelSeedOffset: Long = 0L): DataFrame = {
    val synth = udf { (docId: Long) =>
      val seed = docId - pixelSeedOffset
      videoBytes((0 until (seed % 3 + 2).toInt).map(i =>
        pngBytesGray(24, 16, synthGray(seed * 31 + i, 24, 16), level)))
    }
    documents.withColumn("payload", synth(col("doc_id")))
  }

  /** 64-bit perceptual VIDEO fingerprint — temporal majority pooling
    * of per-frame [[dHash64]]s: bit k is set when MORE than half of
    * the decodable frames set bit k (the strict majority makes the
    * pool invariant to per-frame re-encoding by construction — same
    * pixels, same frame hashes, same pool. Thinning robustness is a
    * property of TEMPORAL CORRELATION, not of the pool: on real
    * (correlated) clips an every-2nd-frame sample preserves the
    * majorities (spec-measured on a correlated fixture), while a clip
    * of unrelated stills has near-tie majorities where any dropped
    * vote can flip bits — measured 16/64 on an uncorrelated fixture,
    * which is correct behavior: such a "clip" has no single perceptual
    * identity to preserve). Containers: the GVID fixture walk and REAL
    * MJPEG-in-AVI ([[videoFrames]] dispatch — the AVI demux + the JPEG
    * entropy decoder composed); videos whose container yields no
    * decodable frame return None.
    *
    * `frameStep` bounds the per-video DECODE cost: the demux yields
    * frame boundaries without decoding pixels, so hashing only every
    * `frameStep`-th frame (from frame 0) cuts the entropy-decode bill
    * ~frameStep× — the dominant cost at video scale (mm_avi_neardup's
    * 180k frame decodes). The default 1 keeps persisted fingerprints
    * byte-compatible; thinned pools carry the CORRELATED-thinning
    * contract (≤3 Hamming vs the full pool on real clips,
    * spec-measured — uncorrelated stills have no stable identity to
    * preserve, the documented videoFingerprint64 caveat). Copies with
    * frame-aligned content (re-exports) thin to the SAME frame
    * indices, so planted near-dup pairs stay Hamming 0 at any step. */
  def videoFingerprint64(payload: Array[Byte],
                         frameStep: Int = 1): Option[Long] = {
    require(frameStep >= 1, s"frameStep must be >= 1: $frameStep")
    // the step rides into the demux: skipped frames are neither
    // byte-copied nor pixel-decoded
    val hashes = videoFrames(payload, frameStep).flatMap { f =>
      MediaDecode.pngGrayPixels(f).orElse(MediaDecode.jpegLumaPixels(f))
        .map { case (w, h, g) => dHash64(g, w, h) }
    }
    if (hashes.isEmpty) None
    else {
      var bits = 0L
      var k = 0
      while (k < 64) {
        var c = 0
        hashes.foreach { d => if (((d >> k) & 1L) != 0L) c += 1 }
        if (2 * c > hashes.length) bits |= 1L << k
        k += 1
      }
      Some(bits)
    }
  }

  /** Per-doc video fingerprints over the binary payload column —
    * per-payload container walk + frame pixel decode +
    * [[videoFingerprint64]] through the shared [[fingerprintPayloads]]
    * scaffold. */
  def videoFingerprints(withPayload: DataFrame, frameStep: Int = 1): DataFrame =
    fingerprintPayloads(withPayload)(videoFingerprint64(_, frameStep))

  /** Perceptual VIDEO near-dup pairs — completes the trilogy next to
    * [[imageNearDupPairs]] (stills) and [[audioNearDupPairs]] (PCM):
    * per-frame re-encoded copies of one clip share ~no bytes but every
    * pooled gradient; fingerprints feed the UNCHANGED SimHash 4×16-bit
    * pigeonhole band join (complete for Hamming ≤ 3). Output: (doc_a,
    * doc_b, hamming), ordered. Scale shape: one narrow per-payload
    * decode pass (8 B of hash per clip crosses the wire) + the banded
    * equi-join. */
  def videoNearDupPairs(withPayload: DataFrame, maxDist: Int = 3,
                        frameStep: Int = 1): DataFrame =
    Dedup.simhashNearDupPairsFromFingerprints(
      videoFingerprints(withPayload, frameStep), maxDist)

  /** Frame sampling — keep every `everyK`-th frame of each video
    * payload, emitting (doc_id, frame_idx, frame_md5, frame_bytes).
    * The training-data use: thin a video corpus to representative
    * stills before (image) feature extraction and dedup.
    *
    * Scale shape: the [[decodeBatched]] per-payload walk — a narrow,
    * iterator-to-iterator pass holding one video's frames at a time, no
    * shuffle. */
  def frameSample(documents: DataFrame, everyK: Int): DataFrame =
    frameSampleFrom(
      withVideoPayload(graft.util.SparkUtil.widen(documents)), everyK)

  /** Frame sampling over an ALREADY-ATTACHED payload column —
    * container-dispatched ([[videoFrames]]: GVID or real MJPEG-in-AVI),
    * so the same thinning op runs over whichever container the corpus
    * carries. Same per-payload walk as [[frameSample]]. */
  def frameSampleFrom(withPayload: DataFrame, everyK: Int): DataFrame = {
    require(everyK >= 1, s"everyK must be >= 1: $everyK")
    payloadRows(withPayload,
      "doc_id", "frame_idx", "frame_md5", "frame_bytes") { (id, payload) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      // the step rides into the demux (skipped frames never
      // byte-copied); the original index is keptIdx·everyK
      videoFrames(payload, everyK).zipWithIndex.map {
        case (f, k) =>
          (id, k.toLong * everyK,
            md.digest(f).map("%02x".format(_)).mkString,
            f.length.toLong)
      }
    }.orderBy("doc_id", "frame_idx")
  }

  /** Attach MJPEG-in-AVI containers whose `00dc` frames carry the SAME
    * deterministic bytes as [[withVideoPayload]]'s GVID fixture
    * (`frame:<doc_id>:<i>:<first-16-codepoints>`, doc_id % 7 + 1
    * frames) — an AVI chunk body is opaque bytes, so the container is
    * spec-legal regardless of content. The point: `mm_avi_frame_sample`
    * gets an EXACT formula oracle (the mm_frame_sample SQL verbatim) —
    * a match proves the RIFF/LIST/movi walk read the real
    * little-endian chunk bytes, not a formula. Fixture synthesis. */
  def withAviPayload(documents: DataFrame): DataFrame = {
    val synth = udf { (docId: Long, text: String) =>
      val s = Option(text).getOrElse("")
      val cps = s.codePoints().limit(16).toArray
      val p = new String(cps, 0, cps.length)
      aviMjpegBytes((0 until (docId % 7 + 1).toInt)
        .map(i => s"frame:$docId:$i:$p".getBytes("UTF-8")), 24, 16)
    }
    documents.withColumn("payload", synth(col("doc_id"), col("text")))
  }

  /** The pinned aspect-ratio bucket panel for [[aspectBuckets]] —
    * (p, q, name), SDXL-style. The lcm of the q's (144) scales every
    * per-bucket error to a common integer denominator. */
  val aspectBucketPanel: Seq[(Int, Int, String)] = Seq(
    (1, 1, "1:1"), (4, 3, "4:3"), (3, 4, "3:4"), (16, 9, "16:9"),
    (9, 16, "9:16"), (3, 2, "3:2"), (2, 3, "2:3"), (21, 9, "21:9"))
  val aspectBucketLcm: Long = 144L

  /** Aspect-ratio bucketing over PARSED header dimensions — the
    * SDXL/LAION training-batch layout step: every image is assigned to
    * the nearest of a pinned ratio panel so batches can be formed from
    * same-bucket images (mixed aspect in one batch forces destructive
    * center-crops). Nearest is by EXACT integer cross-product math:
    * |w/h − p/q| ranks identically to |w·q − p·h|·(L/q) with
    * L = lcm(q) = 144 (the common h drops out), so assignment has zero
    * float surface and cannot drift between engines; ties break on
    * panel order. The argmin is an `array_min` over (err, idx)
    * structs — lexicographic struct compare, codegen'd, no HOF lambda
    * (SCALE.md interpretation rule) and no join.
    *
    * Output: (doc_id, width, height, bucket, err_scaled), ordered by
    * doc_id; only decodable raster formats (png/jpeg) are bucketed —
    * a stub-decoded container never enters a geometry decision.
    *
    * Scale shape: [[decodeBatched]]'s per-payload header walk, then
    * one narrow projection; no shuffle. */
  def aspectBuckets(documents: DataFrame): DataFrame = {
    val entries = aspectBucketPanel.zipWithIndex.map {
      case ((p, q, name), i) =>
        struct(
          (abs(col("width").cast(LongType) * q -
            lit(p.toLong) * col("height").cast(LongType)) *
            lit(aspectBucketLcm / q)).as("e"),
          lit(i.toLong).as("i"), lit(name).as("b"))
    }
    decodeBatched(documents)
      .filter(col("format").isin("png", "jpeg") &&
        col("width").isNotNull && col("height").isNotNull)
      .withColumn("__best", array_min(array(entries: _*)))
      .select(col("doc_id"), col("width"), col("height"),
        col("__best.b").as("bucket"), col("__best.e").as("err_scaled"))
      .orderBy("doc_id")
  }
}

/** Parsed WAV format metadata ([[MediaDecode.wav]]). */
final case class WavMeta(channels: Int, sampleRate: Int, bits: Int,
                         dataBytes: Long) {
  def byteRate: Long = sampleRate.toLong * channels * (bits / 8)
  def durationMs: Long = if (byteRate <= 0) 0L else dataBytes * 1000L / byteRate
}

/** Pure-JVM image header parsing from the public container specs —
  * no codec libraries. Returns None for anything not PNG/JPEG (the
  * caller falls back to the stub). Malformed-but-magic-matching
  * payloads also return None — a corrupt image is DATA, not an
  * engine error (the P14 containment stance). */
object MediaDecode {

  def decode(payload: Array[Byte]): Option[(String, Int, Int)] =
    png(payload).orElse(jpeg(payload))

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** WAV: `RIFF<size>WAVE`, then little-endian chunks (`<id><size>
    * <body>`, bodies padded to even length per the RIFF spec). Needs
    * both a `fmt ` chunk (channels @+2, sample rate @+4, bits @+14 of
    * the body) and a `data` chunk; chunk order is NOT fixed by the
    * spec, so the walk accepts either first and skips unknown chunks
    * (LIST/fact/cue). A declared data size beyond the payload is
    * clamped to the bytes actually present (truncation containment).
    * Malformed containers return None — corrupt audio is DATA, not an
    * engine error. */
  def wav(b: Array[Byte]): Option[WavMeta] =
    riffWalk(b).map { case (_, ch, sr, bits, _, d) => WavMeta(ch, sr, bits, d) }

  /** The RIFF walk core shared by [[wav]] (metadata — format-agnostic)
    * and [[wavPcmMono]] (samples — linear PCM only): (formatTag,
    * channels, sampleRate, bits, dataOffset, dataBytes — clamped to
    * the payload). */
  private def riffWalk(b: Array[Byte]): Option[(Int, Int, Int, Int, Int, Long)] = {
    if (b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')) return None
    if (!(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var p = 12L
    var fmt: Option[(Int, Int, Int, Int)] = None
    var data: Option[(Int, Long)] = None
    while (p + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val id = new String(b.slice(p.toInt, p.toInt + 4), "US-ASCII")
      val size = le32(b, p.toInt + 4)
      val body = p + 8
      id match {
        case "fmt " =>
          if (size < 16 || body + 16 > b.length) return None
          val rawTag = le16(b, body.toInt)
          // WAVE_FORMAT_EXTENSIBLE (0xFFFE) wraps the REAL format in
          // the SubFormat GUID at body+24 (its first two bytes are the
          // equivalent wFormatTag — KSDATAFORMAT_SUBTYPE_PCM starts
          // 01 00): many encoders emit 16-bit/multichannel linear PCM
          // this way, and a blanket tag!=1 rejection would silently
          // drop those clips from fingerprinting
          val tag =
            if (rawTag == 0xfffe && size >= 40 && body + 26 <= b.length)
              le16(b, body.toInt + 24)
            else rawTag
          val ch = le16(b, body.toInt + 2)
          val sr = le32(b, body.toInt + 4)
          val bits = le16(b, body.toInt + 14)
          if (ch < 1 || sr < 1 || sr > Int.MaxValue ||
            bits < 8 || bits % 8 != 0) return None
          fmt = Some((tag, ch, sr.toInt, bits))
        case "data" =>
          data = Some((body.toInt, math.min(size, b.length - body)))
        case _ => ()
      }
      p = body + size + (size & 1) // RIFF bodies pad to even offsets
    }
    for { (tag, ch, sr, bits) <- fmt; (off, d) <- data }
      yield (tag, ch, sr, bits, off, d)
  }

  /** PCM SAMPLE decode — the audio analog of [[pngGrayPixels]]:
    * 8-bit unsigned / 16-bit signed little-endian LINEAR PCM
    * (fmt format tag 1 — a companded μ-law/A-law stream decoded as
    * linear would silently fingerprint garbage), channels AVERAGED to
    * mono, normalized to [−1, 1]. Returns (sampleRate, samples);
    * trailing partial frames are dropped (truncation containment),
    * anything non-linear-PCM-8/16 returns None. */
  def wavPcmMono(b: Array[Byte]): Option[(Int, Array[Double])] =
    riffWalk(b).flatMap { case (tag, ch, sr, bits, off, dataLen) =>
      if (tag != 1 || (bits != 8 && bits != 16)) None
      else {
        val bytesPer = bits / 8
        val frameBytes = ch * bytesPer
        val n = (dataLen / frameBytes).toInt
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          var acc = 0.0
          var c = 0
          while (c < ch) {
            val o = off + i * frameBytes + c * bytesPer
            acc +=
              (if (bits == 8) ((b(o) & 0xff) - 128) / 128.0
               else (((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)).toShort / 32768.0)
            c += 1
          }
          out(i) = acc / ch
          i += 1
        }
        Some((sr, out))
      }
    }

  /** MJPEG-in-AVI frame demux — the first REAL video container on the
    * perceptual path (the GVID walk is a fixture stand-in): RIFF
    * `AVI ` form, LIST chunks walked recursively, frame bytes = the
    * bodies of `##dc`/`##db` stream chunks inside the `movi` LIST
    * (including `rec ` groupings). Each frame body is a complete JPEG
    * for MJPEG streams — [[jpegLumaPixels]] decodes it directly, so
    * the demux composes the two decoders this repo already has (RIFF
    * walk + JPEG entropy decode). Truncation-contained: a chunk whose
    * declared size overruns the payload ends the walk with the frames
    * that fully parsed (one bad video must not poison the partition);
    * non-AVI payloads return empty. `step` keeps only every step-th
    * frame WITHOUT byte-copying the skipped ones (chunk walking is
    * header reads; the copy is the cost frameStep exists to cut). */
  def aviMjpegFrames(b: Array[Byte], step: Int = 1): Seq[Array[Byte]] = {
    require(step >= 1, s"step must be >= 1: $step")
    if (b.length < 12) return Seq.empty
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')) return Seq.empty
    if (!(b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')) return Seq.empty
    val out = Seq.newBuilder[Array[Byte]]
    def fourcc(o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // ITERATIVE walk, descend-in-place with a BOUNDED resume stack —
    // a recursive walk would StackOverflowError on a crafted payload
    // of tens of thousands of nested LIST headers (an Error,
    // uncatchable by NonFatal, poisoning the whole task), and an
    // UNbounded explicit stack merely converts that into heap
    // amplification (~5× payload as boxed frames → executor OOM, the
    // same Error class). Descending mutates (p, until, inMovi) in
    // place and pushes only the RESUME frame; depth past `maxDepth`
    // skips the nested list wholesale — no real AVI nests beyond a
    // handful of levels, so the cap is containment, not a feature
    // loss. Containment holds by BOUND, not by heap size.
    val maxDepth = 1024
    var p = 12L
    var until = b.length.toLong
    var inMovi = false
    var stack = List.empty[(Long, Long, Boolean)] // resume frames
    var depth = 0
    var frameIdx = 0
    var running = true
    while (running) {
      if (p + 8 <= until && p + 8 <= b.length) {
        val id = fourcc(p.toInt)
        val size = le32(b, p.toInt + 4)
        val body = p + 8
        val bodyEnd = body + size
        if (bodyEnd > b.length || bodyEnd > until) {
          p = until // truncated: this level keeps what parsed
        } else if (id == "LIST" && size >= 4) {
          val lt = fourcc(body.toInt)
          if (depth < maxDepth) {
            stack = (bodyEnd + (size & 1), until, inMovi) :: stack
            depth += 1
            p = body + 4
            until = bodyEnd
            inMovi = inMovi || lt == "movi" || lt == "rec "
          } else {
            p = bodyEnd + (size & 1) // too deep: skip the nested list
          }
        } else {
          if (inMovi && size > 0 &&
            Character.isDigit(id.charAt(0)) && Character.isDigit(id.charAt(1)) &&
            (id.endsWith("dc") || id.endsWith("db"))) {
            if (frameIdx % step == 0)
              out += java.util.Arrays.copyOfRange(b, body.toInt, bodyEnd.toInt)
            frameIdx += 1
          }
          p = bodyEnd + (size & 1) // RIFF bodies pad to even offsets
        }
      } else stack match {
        case (np, nu, nm) :: rest =>
          p = np; until = nu; inMovi = nm; stack = rest; depth -= 1
        case Nil => running = false
      }
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // MP3 (MPEG-1/2/2.5 Layer III container + ID3, public specs) — the
  // SCREEN-AND-ROUTE layer for the dominant scraped-audio format:
  // decode is a documented NO-GO (SCALE.md — lossy, no exact-oracle
  // differential), but what a 100 TB corpus needs first is the
  // frame-header walk (rate/duration/mode screening) and the ID3
  // privacy seam (artist/title/geo tags travel in ID3v2 exactly like
  // EXIF in JPEG). All walks are bounds-checked and fail to None /
  // partial — corrupt audio is DATA (the P14 stance).

  /** Parsed MP3 screen fields from the MPEG frame-header walk:
    * MPEG version (1, 2, or 25 for 2.5), sample rate, FIRST-frame
    * bitrate kbps + a VBR flag (any later frame differing), channel
    * count, frame count, duration in ms (per-frame samples ÷ rate,
    * summed), ID3v2 tag bytes at the front (0 = none) and whether an
    * ID3v1 `TAG` trailer closes the file. */
  final case class Mp3Meta(version: Int, sampleRate: Int,
                           bitrateKbps: Int, vbr: Boolean, channels: Int,
                           nFrames: Int, durationMs: Long,
                           id3v2Bytes: Int, id3v1: Boolean)

  private val mp3BitrateV1L3 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val mp3BitrateV2L3 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val mp3RatesV1 = Array(44100, 48000, 32000)
  private val mp3RatesV2 = Array(22050, 24000, 16000)
  private val mp3RatesV25 = Array(11025, 12000, 8000)

  /** Total byte size of an ID3v2 tag block at offset 0 (header 10 +
    * syncsafe size + optional footer), or 0 when none. */
  private def id3v2Size(b: Array[Byte]): Int = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3') return 0
    val syncsafe = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
      ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
    val footer = if ((b(5) & 0x10) != 0) 10 else 0
    math.min(10 + syncsafe + footer, b.length)
  }

  /** MP3 frame-header screen — Layer III frames walked sequentially
    * from past any ID3v2 block: version/rate/bitrate/channels from
    * the first header, frame lengths 144·br/sr (+pad) for MPEG-1 and
    * 72·br/sr (+pad) for MPEG-2/2.5, duration from per-frame sample
    * counts (1152 / 576). The walk ends at the first non-sync byte
    * (an ID3v1 trailer, a truncation, or garbage), reporting the
    * frames that parsed; no frame at all returns None. */
  def mp3Meta(b: Array[Byte]): Option[Mp3Meta] = {
    try {
      val tag = id3v2Size(b)
      var p = tag
      var meta: Option[Mp3Meta] = None
      var nFrames = 0
      var durNum = 0L // samples
      var vbr = false
      var running = true
      while (running && p + 4 <= b.length) {
        if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xe0) != 0xe0) running = false
        else {
          val verBits = (b(p + 1) >> 3) & 3
          val layerBits = (b(p + 1) >> 1) & 3
          val brIdx = (b(p + 2) >> 4) & 0xf
          val srIdx = (b(p + 2) >> 2) & 3
          val pad = (b(p + 2) >> 1) & 1
          val chMode = (b(p + 3) >> 6) & 3
          if (layerBits != 1 || verBits == 1 || brIdx == 0 || brIdx == 15 ||
              srIdx == 3) running = false // Layer III only; no free/bad rates
          else {
            val v1 = verBits == 3
            val br = (if (v1) mp3BitrateV1L3 else mp3BitrateV2L3)(brIdx) * 1000
            val sr = (verBits match {
              case 3 => mp3RatesV1; case 2 => mp3RatesV2; case _ => mp3RatesV25
            })(srIdx)
            val flen = (if (v1) 144 else 72) * br / sr + pad
            if (flen < 4 || p + flen > b.length) running = false
            else {
              if (meta.isEmpty)
                meta = Some(Mp3Meta(
                  verBits match { case 3 => 1; case 2 => 2; case _ => 25 },
                  sr, br / 1000, vbr = false,
                  channels = if (chMode == 3) 1 else 2,
                  nFrames = 0, durationMs = 0L, id3v2Bytes = tag,
                  id3v1 = false))
              else if (meta.get.bitrateKbps != br / 1000) vbr = true
              nFrames += 1
              durNum += (if (v1) 1152L else 576L)
              p += flen
            }
          }
        }
      }
      val v1Trailer = b.length >= 128 &&
        b(b.length - 128) == 'T' && b(b.length - 127) == 'A' &&
        b(b.length - 126) == 'G'
      meta.map(m => m.copy(nFrames = nFrames, vbr = vbr,
        durationMs = durNum * 1000L / m.sampleRate, id3v1 = v1Trailer))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** ID3 tag audit — text frames out of the ID3v2 block (v2.3 plain /
    * v2.4 syncsafe frame sizes; encodings 0 Latin-1, 1 UTF-16 BOM,
    * 2 UTF-16BE, 3 UTF-8; `TXXX` reported as `TXXX:<description>`)
    * plus the three ID3v1 trailer fields as `ID3v1.title/artist/
    * album`. FAIL-CLOSED per frame: an undecodable body still reports
    * the frame ID with an empty value — presence is the privacy
    * signal. None = no ID3 metadata at all (or not an MP3-shaped
    * payload); a tagged file always reports its frames. */
  def mp3Id3Frames(b: Array[Byte]): Option[Seq[(String, String)]] = {
    try {
      val out = Seq.newBuilder[(String, String)]
      var any = false
      val tagRaw = id3v2Size(b)
      if (tagRaw >= 10) {
        any = true
        // version MAJOR is byte 3 (byte 4 is the revision — reading it
        // would parse every real v2.4 tag with plain-BE frame sizes)
        val v24 = (b(3) & 0xff) >= 4
        // global unsynchronisation (flag 0x80, the v2.3 scheme): the
        // whole tag body is FF-00 stuffed and v2.3 frame sizes count
        // the DE-stuffed data — de-stuff before walking. v2.4 unsync
        // is per-frame with sizes counting the STUFFED bytes, so the
        // global de-stuff must NOT apply there (text frames rarely
        // contain 0xFF, so the plain walk stays aligned).
        val unsync = (b(5) & 0x80) != 0 && (b(3) & 0xff) < 4
        val (t, tag) =
          if (!unsync) (b, tagRaw)
          else {
            val body = new Array[Byte](tagRaw)
            System.arraycopy(b, 0, body, 0, 10)
            var i = 10; var o = 10
            while (i < tagRaw) {
              body(o) = b(i); o += 1
              if ((b(i) & 0xff) == 0xff && i + 1 < tagRaw && b(i + 1) == 0)
                i += 2
              else i += 1
            }
            (body, o)
          }
        var p = 10
        // extended header (flag 0x40): v2.3 size is plain BE and
        // EXCLUDES its own 4 size bytes; v2.4 size is syncsafe and
        // INCLUDES itself
        if ((t(5) & 0x40) != 0 && p + 4 <= tag) {
          val ehs =
            if (v24) ((t(p) & 0x7f) << 21) | ((t(p + 1) & 0x7f) << 14) |
              ((t(p + 2) & 0x7f) << 7) | (t(p + 3) & 0x7f)
            else be32(t, p).toInt + 4
          if (ehs > 0 && p + ehs <= tag) p += ehs
        }
        var running = true
        while (running && p + 10 <= tag) {
          val id = new String(t, p, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
          if (!id.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
            running = false // padding or garbage ends the frame walk
          else {
            val size =
              if (v24) ((t(p + 4) & 0x7f) << 21) | ((t(p + 5) & 0x7f) << 14) |
                ((t(p + 6) & 0x7f) << 7) | (t(p + 7) & 0x7f)
              else be32(t, p + 4).toInt
            if (size < 0 || p + 10 + size > tag) running = false
            else {
              if (id.startsWith("T")) {
                if (id == "TXXX" && size < 1) out += (("TXXX:", ""))
                else if (id == "TXXX") {
                  // encoding byte + description NUL value: split the
                  // RAW bytes at the encoding-dependent terminator
                  // (2-byte aligned 00 00 for the wide encodings) and
                  // decode each half INDEPENDENTLY — each string may
                  // carry its own BOM, even of opposite endianness
                  val enc = t(p + 10) & 0xff
                  val wide = enc == 1 || enc == 2
                  val bo = p + 11
                  val blen = size - 1
                  var sep = -1
                  if (wide) {
                    var i = 0
                    while (sep < 0 && i + 1 < blen) {
                      if (t(bo + i) == 0 && t(bo + i + 1) == 0) sep = i
                      i += 2
                    }
                  } else {
                    var i = 0
                    while (sep < 0 && i < blen) {
                      if (t(bo + i) == 0) sep = i
                      i += 1
                    }
                  }
                  if (sep < 0) out += ((s"TXXX:${decodeId3Part(enc, t, bo, blen)}", ""))
                  else {
                    val vo = sep + (if (wide) 2 else 1)
                    out += ((s"TXXX:${decodeId3Part(enc, t, bo, sep)}",
                      decodeId3Part(enc, t, bo + vo, blen - vo)))
                  }
                } else if (size >= 1) out += ((id,
                  decodeId3Part(t(p + 10) & 0xff, t, p + 11, size - 1)))
                else out += ((id, ""))
              }
              p += 10 + size
            }
          }
        }
      }
      if (b.length >= 128 && b(b.length - 128) == 'T' &&
          b(b.length - 127) == 'A' && b(b.length - 126) == 'G') {
        any = true
        val base = b.length - 128
        def field(off: Int, len: Int): String =
          new String(b, base + off, len,
            java.nio.charset.StandardCharsets.ISO_8859_1)
            .takeWhile(_ != '\u0000').trim
        val t = field(3, 30); val a = field(33, 30); val al = field(63, 30)
        if (t.nonEmpty) out += (("ID3v1.title", t))
        if (a.nonEmpty) out += (("ID3v1.artist", a))
        if (al.nonEmpty) out += (("ID3v1.album", al))
      }
      if (any) Some(out.result()) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decode one ID3 string of a known encoding id (no leading
    * encoding byte): the UTF-16 charset consumes a per-string BOM of
    * either endianness; UTF-16BE/UTF-8 do not, so a residual U+FEFF
    * is stripped explicitly; trailing NUL trimmed. Fail-closed
    * to "". */
  private def decodeId3Part(enc: Int, b: Array[Byte], off: Int, len: Int): String = {
    if (len < 0 || off + len > b.length) return ""
    try {
      val cs = enc match {
        case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
        case 1 => java.nio.charset.StandardCharsets.UTF_16
        case 2 => java.nio.charset.StandardCharsets.UTF_16BE
        case 3 => java.nio.charset.StandardCharsets.UTF_8
        case _ => return ""
      }
      // the UTF_16 charset consumes a leading BOM; UTF_16BE and UTF-8
      // do NOT, and real taggers emit (spec-violating) BOMs under both
      // — strip the residual zero-width mark so key/value lookups match
      new String(b, off, len, cs).takeWhile(_ != '\u0000')
        .stripPrefix("\uFEFF")
    } catch { case scala.util.control.NonFatal(_) => "" }
  }

  /** ID3 SCRUB — drop the ID3v2 block at the front and the ID3v1
    * `TAG` trailer, keep the audio region VERBATIM (frame bytes are
    * untouched — the scrub is pure container surgery, bit-identical
    * audio by construction). None only when the remainder holds no
    * parseable MP3 frame (not an MP3 — nothing to keep). */
  def mp3StripId3(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      val tag = id3v2Size(b)
      val end =
        if (b.length - tag >= 128 && b(b.length - 128) == 'T' &&
            b(b.length - 127) == 'A' && b(b.length - 126) == 'G')
          b.length - 128
        else b.length
      if (end <= tag) return None
      val body = java.util.Arrays.copyOfRange(b, tag, end)
      if (mp3Meta(body).exists(_.nFrames > 0)) Some(body) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ------------------------------------------------------------------
  // JPEG metadata (EXIF / TIFF 6.0, public specs) — the PRIVACY seam
  // of the image modality: training images routinely carry GPS
  // coordinates and device identity in APP1/EXIF, and the scrub is a
  // pure SEGMENT-level rewrite (drop APPn/COM between SOI and SOS) —
  // no entropy decode, pixel-identical by construction.

  /** Parsed EXIF audit fields: IFD0 orientation (tag 0x0112) and the
    * GPS IFD's latitude/longitude in decimal degrees (rational
    * triples, sign from the N/S / E/W refs). */
  final case class ExifMeta(orientation: Option[Int],
                            gpsLat: Option[Double],
                            gpsLon: Option[Double])

  /** Walk a JPEG's marker segments from SOI to SOS: (marker, start
    * offset, total segment length incl. the 2 marker bytes). Stops at
    * SOS (entropy data follows) or EOI; malformed walks return what
    * parsed (containment). */
  private def jpegSegmentsUntilSos(b: Array[Byte]): Seq[(Int, Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int, Int)]
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return Seq.empty
    var p = 2
    var done = false
    while (!done && p + 1 < b.length) {
      if ((b(p) & 0xff) != 0xff) { done = true }
      else {
        var m = b(p + 1) & 0xff
        var q = p
        while (m == 0xff && q + 2 < b.length) { q += 1; m = b(q + 1) & 0xff }
        if (m == 0xd9 || m == 0xda) { done = true } // EOI / SOS
        else if ((m >= 0xd0 && m <= 0xd7) || m == 0x01 || m == 0xd8) {
          out += ((m, q, 2)); p = q + 2
        } else {
          if (q + 3 >= b.length) done = true
          else {
            val len = ((b(q + 2) & 0xff) << 8) | (b(q + 3) & 0xff)
            if (len < 2 || q + 2 + len > b.length) done = true
            else { out += ((m, q, 2 + len)); p = q + 2 + len }
          }
        }
      }
    }
    out.result()
  }

  /** LOSSLESS metadata scrub — drop metadata APPn/COM segments between
    * SOI and SOS AND truncate everything after EOI, keeping the
    * decoded pixels identical:
    *  - RETAINED: APP0 (JFIF — structural), APP14 with the `Adobe`
    *    signature (its transform flag tells decoders whether 3
    *    components are RGB or YCbCr — dropping it CHANGES rendered
    *    colors), APP2 with the `ICC_PROFILE` signature (color
    *    management); everything else APP1–APP15 + COM is dropped
    *    (EXIF, XMP, MPF, maker notes).
    *  - TRAILER TRUNCATION: bytes after EOI are dropped — real-world
    *    "motion photos" append a full video there, which a
    *    segments-only scrub would ship in the release corpus. FF D9
    *    cannot occur inside entropy data (FF is escaped) so the first
    *    EOI after SOS is the true end.
    * No entropy decode. Non-JPEG payloads return None. */
  def jpegStripMetadata(b: Array[Byte]): Option[Array[Byte]] = {
    val segs = jpegSegmentsUntilSos(b)
    if (segs.isEmpty && (b.length < 4 || (b(0) & 0xff) != 0xff ||
        (b(1) & 0xff) != 0xd8)) return None
    def sig(start: Int, len: Int, s: String): Boolean =
      len >= 4 + s.length &&
        (0 until s.length).forall(i => b(start + 4 + i) == s.charAt(i).toByte)
    val drop = segs.filter { case (m, start, len) =>
      m match {
        case 0xee => !sig(start, len, "Adobe")       // keep Adobe transform
        case 0xe2 => !sig(start, len, "ICC_PROFILE") // keep color management
        case mm => (mm >= 0xe1 && mm <= 0xef) || mm == 0xfe
      }
    }
    // locate EOI: first FF D9 at or after the end of the pre-SOS
    // region (entropy data escapes FF, so this is the true EOI)
    val scanFrom = segs.lastOption.map { case (_, s, l) => s + l }.getOrElse(2)
    var eoiEnd = b.length
    var i = scanFrom
    var found = false
    while (!found && i + 1 < b.length) {
      if ((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xd9) {
        eoiEnd = i + 2; found = true
      }
      i += 1
    }
    if (drop.isEmpty && eoiEnd == b.length) return Some(b)
    val keep = new java.io.ByteArrayOutputStream(eoiEnd)
    var p = 0
    drop.sortBy(_._2).foreach { case (_, start, len) =>
      keep.write(b, p, start - p)
      p = start + len
    }
    keep.write(b, p, eoiEnd - p)
    Some(keep.toByteArray)
  }

  /** EXIF parse — APP1 `Exif\0\0` + TIFF: endianness (II/MM), IFD0
    * entries for orientation (0x0112) and the GPS IFD pointer
    * (0x8825); GPS latitude/longitude decoded from the rational
    * triples with the N/S / E/W reference signs. Every offset is
    * bounds-checked, and corruption FAILS CLOSED per section: a bad
    * IFD0 count or GPS offset yields None FIELDS while keeping
    * whatever parsed (the audit must never report a GPS-bearing image
    * as clean because an unrelated entry was corrupt — Some(partial),
    * not None). Returns None only when no APP1/Exif segment exists. */
  def jpegExif(b: Array[Byte]): Option[ExifMeta] = {
    try {
      val app1 = jpegSegmentsUntilSos(b).find { case (m, s, l) =>
        m == 0xe1 && l >= 12 &&
          b(s + 4) == 'E' && b(s + 5) == 'x' && b(s + 6) == 'i' &&
          b(s + 7) == 'f' && b(s + 8) == 0 && b(s + 9) == 0
      }.map { case (_, s, l) => (s + 10, l - 10) }
      app1.map { case (tiff, tlen) => tiffExif(b, tiff, tlen) }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The TIFF/IFD walk of [[jpegExif]], factored so the PNG `eXIf`
    * chunk (whose body is the SAME TIFF structure, no `Exif\0\0`
    * preamble), the WebP EXIF chunk and bare .tif files read through
    * the identical per-SECTION fail-closed code path — ONE parser,
    * four containers. */
  private def tiffExif(b: Array[Byte], tiff: Int, tlen: Int): ExifMeta =
    tiffWalk(b, tiff, tlen)._1

  /** The full walk: EXIF fields plus IFD0 dims (tags 256/257, SHORT
    * or LONG) for the bare-TIFF screen. */
  private def tiffWalk(b: Array[Byte], tiff: Int, tlen: Int): (ExifMeta, Int, Int) = {
        val empty = (ExifMeta(None, None, None), 0, 0)
        if (tlen < 8) return empty
        val le = b(tiff) == 'I' && b(tiff + 1) == 'I'
        val be = b(tiff) == 'M' && b(tiff + 1) == 'M'
        if (!le && !be) return empty
        def u16(o: Int): Int = {
          if (o < tiff || o + 2 > tiff + tlen) throw FlacEos
          if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
          else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
        }
        def u32(o: Int): Long = {
          if (o < tiff || o + 4 > tiff + tlen) throw FlacEos
          if (le) (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
            ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
          else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
            ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
        }
        var orientation: Option[Int] = None
        var gpsIfd: Option[Int] = None
        var width = 0
        var height = 0
        try {
          if (u16(tiff + 2) != 42) return empty
          val ifd0 = tiff + u32(tiff + 4).toInt
          val n0 = u16(ifd0)
          var i = 0
          while (i < math.min(n0, 256)) {
            val e = ifd0 + 2 + 12 * i
            // each ENTRY parses independently: one bad offset must not
            // erase fields already read or skip readable later ones
            try {
              u16(e) match {
                case 0x0112 => orientation = Some(u16(e + 8))
                case 0x8825 => gpsIfd = Some(tiff + u32(e + 8).toInt)
                case 256 | 257 =>
                  // inline SHORT (3) in the first 2 value bytes,
                  // inline LONG (4) in all 4
                  val v = u16(e + 2) match {
                    case 3 => u16(e + 8)
                    case 4 => u32(e + 8).toInt
                    case _ => 0
                  }
                  if (u16(e) == 256) width = v else height = v
                case _ => ()
              }
            } catch { case FlacEos => () }
            i += 1
          }
        } catch { case FlacEos => () }
        def rational3(off: Int): Double = {
          def r(k: Int): Double = {
            val num = u32(off + 8 * k); val den = u32(off + 8 * k + 4)
            if (den == 0) 0.0 else num.toDouble / den.toDouble
          }
          r(0) + r(1) / 60.0 + r(2) / 3600.0
        }
        var lat: Option[Double] = None
        var lon: Option[Double] = None
        gpsIfd.foreach { g =>
          try {
            val ng = u16(g)
            var latRef = 1.0; var lonRef = 1.0
            var latOff: Option[Int] = None; var lonOff: Option[Int] = None
            var j = 0
            while (j < math.min(ng, 256)) {
              val e = g + 2 + 12 * j
              try {
                u16(e) match {
                  case 1 => if ((b(e + 8) & 0xff) == 'S') latRef = -1.0
                  case 2 => latOff = Some(tiff + u32(e + 8).toInt)
                  case 3 => if ((b(e + 8) & 0xff) == 'W') lonRef = -1.0
                  case 4 => lonOff = Some(tiff + u32(e + 8).toInt)
                  case _ => ()
                }
              } catch { case FlacEos => () }
              j += 1
            }
            lat = latOff.flatMap(o =>
              try Some(latRef * rational3(o)) catch { case FlacEos => None })
            lon = lonOff.flatMap(o =>
              try Some(lonRef * rational3(o)) catch { case FlacEos => None })
          } catch { case FlacEos => () }
        }
        (ExifMeta(orientation, lat, lon), width, height)
  }

  // ------------------------------------------------------------------
  // FLAC (xiph.org spec) — the compressed-audio rung: losslessly
  // decodable in pure JVM (fixed + LPC predictors, Rice/escape
  // residuals, stereo decorrelation), so a FLAC re-export of a PCM
  // clip decodes to BIT-identical samples and fingerprints Hamming 0
  // against its WAV twin — the exact differential the near-dup oracle
  // pins. Scope: STREAMINFO + frames with 8/16-bit samples (the WAV
  // profile this repo fingerprints), all subframe types (CONSTANT /
  // VERBATIM / FIXED 0–4 / LPC any order), both Rice methods + escape
  // partitions, wasted bits, independent + left/right/mid-side
  // channels. CRCs are not verified (sequential parse, not resync);
  // any malformed region ends the decode with the frames that fully
  // parsed (truncation containment — corrupt audio is DATA).

  /** FLAC VORBIS_COMMENT tags (metadata block type 4) — the audio
    * side of the privacy seam (artist/title/location tags travel with
    * distributed audio): vendor string + KEY=value comments, all
    * LITTLE-endian inside the otherwise big-endian FLAC container
    * (the spec's famous quirk). Keys uppercased per spec; malformed
    * blocks return None (corrupt tags are DATA). */
  def flacVorbisComments(b: Array[Byte]): Option[Seq[(String, String)]] = {
    try {
      if (b.length < 8) return None
      if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
      var p = 4
      var last = false
      while (!last && p + 4 <= b.length) {
        val hdr = b(p) & 0xff
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7f
        val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if (p + 4 + len > b.length) return None
        if (btype == 4)
          return vorbisCommentBody(b, p + 4, p + 4 + len).map(_._1)
        p += 4 + len
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** LOSSLESS FLAC metadata scrub — keep ONLY the STREAMINFO block
    * (its last-metadata flag forced on) and the audio frames; every
    * other metadata block (VORBIS_COMMENT, PADDING, PICTURE, …) is
    * dropped at the byte level. No frame decode: the samples of the
    * result are the samples of the input by construction. */
  def flacStripMetadata(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      if (b.length < 8) return None
      if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
      var p = 4
      var last = false
      var si: Option[(Int, Int)] = None // (offset of block header, total len)
      while (!last && p + 4 <= b.length) {
        val hdr = b(p) & 0xff
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7f
        val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if (p + 4 + len > b.length) return None
        if (btype == 0) si = Some((p, 4 + len))
        p += 4 + len
      }
      si.map { case (off, slen) =>
        val out = new java.io.ByteArrayOutputStream(8 + slen + (b.length - p))
        out.write(b, 0, 4)
        out.write((b(off) & 0x7f) | 0x80) // STREAMINFO, forced last
        out.write(b, off + 1, slen - 1)
        out.write(b, p, b.length - p) // frames verbatim
        out.toByteArray
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Parse one Vorbis comment block at `[off, end)` — vendor string +
    * KEY=value list, all lengths LITTLE-endian (the famous quirk) —
    * shared by the FLAC VORBIS_COMMENT block, the Ogg Vorbis comment
    * header and OpusTags (identical structure in all three
    * containers). Returns the tags (keys ASCII-uppercased,
    * Locale.ROOT) AND each value's (start, length) byte region
    * RELATIVE to the array — what [[oggRedactComments]] overwrites.
    * Malformed → None. */
  private def vorbisCommentBody(b: Array[Byte], off: Int, end: Int)
      : Option[(Seq[(String, String)], Seq[(Int, Int)])] = {
    var q = off
    def le32i(): Long = {
      if (q + 4 > end) throw FlacEos
      val v = (b(q) & 0xffL) | ((b(q + 1) & 0xffL) << 8) |
        ((b(q + 2) & 0xffL) << 16) | ((b(q + 3) & 0xffL) << 24)
      q += 4; v
    }
    try {
      val vlen = le32i().toInt
      if (q + vlen > end || vlen < 0) return None
      q += vlen // vendor string skipped (encoder id, not PII)
      val n = le32i().toInt
      if (n < 0 || n > 4096) return None
      val out = Seq.newBuilder[(String, String)]
      val regions = Seq.newBuilder[(Int, Int)]
      var i = 0
      while (i < n) {
        val clen = le32i().toInt
        if (clen < 0 || q + clen > end) return None
        val c = new String(b, q, clen, java.nio.charset.StandardCharsets.UTF_8)
        val eq = c.indexOf('=')
        if (eq > 0) {
          out += ((c.substring(0, eq)
            .toUpperCase(java.util.Locale.ROOT), c.substring(eq + 1)))
          // the value region in BYTES: '=' position in the UTF-8 bytes
          // equals the char index only up to the first non-ASCII char,
          // so recompute it on the raw bytes
          var beq = 0
          while (beq < clen && b(q + beq) != '=') beq += 1
          regions += ((q + beq + 1, clen - beq - 1))
        }
        q += clen
        i += 1
      }
      Some((out.result(), regions.result()))
    } catch { case FlacEos => None }
  }

  /** Parsed bare-TIFF screen fields: dims from IFD0 tags 256/257
    * (SHORT or LONG), orientation + GPS through the SAME shared
    * [[tiffExif]] walk — the FOURTH container on that parser (JPEG
    * APP1, PNG eXIf, WebP EXIF, now .tif files themselves). A TIFF
    * SCRUB is deliberately absent: every IFD entry is offset-linked,
    * so removal means rewriting the whole directory graph — route
    * GPS-bearing TIFFs to quarantine/transcode instead (the H.264
    * screen-and-route posture). */
  final case class TiffMeta(width: Int, height: Int,
                            orientation: Option[Int],
                            gpsLat: Option[Double], gpsLon: Option[Double])

  /** Bare-TIFF screen — magic (II/MM) + IFD0 dims + the shared EXIF
    * walk. None = not TIFF; per-section fail-closed like the rest. */
  def tiffMeta(b: Array[Byte]): Option[TiffMeta] = {
    try {
      if (b.length < 8) return None
      val le = b(0) == 'I' && b(1) == 'I'
      val be = b(0) == 'M' && b(1) == 'M'
      if (!le && !be) return None
      val magic =
        if (le) (b(2) & 0xff) | ((b(3) & 0xff) << 8)
        else ((b(2) & 0xff) << 8) | (b(3) & 0xff)
      if (magic != 42) return None
      val (ex, w, h) = tiffWalk(b, 0, b.length)
      Some(TiffMeta(w, h, ex.orientation, ex.gpsLat, ex.gpsLon))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ------------------------------------------------------------------
  // GZIP (RFC 1952) + WARC (ISO 28500) — the container of web-scale
  // training data itself: CommonCrawl ships WARC files as per-record
  // gzip MEMBERS. The gzip header carries metadata (MTIME, original
  // FILENAME, COMMENT) that is a privacy surface exactly like EXIF;
  // the scrub rewrites headers with the DEFLATE stream verbatim, so
  // decompressed bytes are provably identical (the strongest oracle
  // form — checked per doc, not asserted).

  /** Parsed gzip screen fields: member count, summed set flags across
    * members (FTEXT/FHCRC/FEXTRA/FNAME/FCOMMENT present anywhere),
    * first member's MTIME and FNAME, total compressed and
    * decompressed sizes (decompression bounded by `cap`). */
  final case class GzipMeta(members: Int, mtime: Long,
                            fname: Option[String], hasComment: Boolean,
                            hasExtra: Boolean, compressedBytes: Long,
                            decompressedBytes: Long)

  /** One parsed gzip member: (header start, deflate start, deflate
    * length, trailer end, fname, comment, extraLen, mtime, flags).
    * The deflate length is found by actually INFLATING (RFC 1952
    * gives no stored length) — bounded by `cap` output bytes. */
  private final case class GzMember(start: Int, deflateOff: Int,
                                    deflateLen: Int, end: Int,
                                    fname: Option[String],
                                    comment: Option[String],
                                    extraLen: Int, mtime: Long, flg: Int,
                                    decompressed: Array[Byte])

  private def gzipMembers(b: Array[Byte],
                          cap: Int = 64 * 1024 * 1024,
                          maxMembers: Int = 100000): Seq[GzMember] = {
    val out = Seq.newBuilder[GzMember]
    var p = 0
    var total = 0L
    var nMembers = 0
    var running = true
    // the member cap is the r16 AVI lesson: an OutOfMemoryError from
    // millions of tiny crafted members is an Error OUTSIDE NonFatal
    // and poisons the task — containment must hold on COUNT, not just
    // byte corruption; hitting the cap leaves unconsumed bytes, which
    // the scrub path refuses (below)
    while (running && nMembers < maxMembers && p + 10 <= b.length) {
      if ((b(p) & 0xff) != 0x1f || (b(p + 1) & 0xff) != 0x8b ||
          (b(p + 2) & 0xff) != 8) running = false
      else {
        val flg = b(p + 3) & 0xff
        val mtime = le32(b, p + 4)
        var q = p + 10
        var extraLen = 0
        try {
          if ((flg & 4) != 0) { // FEXTRA
            extraLen = le16(b, q); q += 2 + extraLen
          }
          var fname: Option[String] = None
          if ((flg & 8) != 0) { // FNAME, zero-terminated Latin-1
            val s = q
            while (b(q) != 0) q += 1
            fname = Some(new String(b, s, q - s,
              java.nio.charset.StandardCharsets.ISO_8859_1))
            q += 1
          }
          var comment: Option[String] = None
          if ((flg & 16) != 0) { // FCOMMENT
            val s = q
            while (b(q) != 0) q += 1
            comment = Some(new String(b, s, q - s,
              java.nio.charset.StandardCharsets.ISO_8859_1))
            q += 1
          }
          if ((flg & 2) != 0) q += 2 // FHCRC
          if (q > b.length) running = false
          else {
            // inflate raw deflate to find the member's end
            val inf = new java.util.zip.Inflater(true)
            inf.setInput(b, q, b.length - q)
            val dec = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var ok = true
            while (ok && !inf.finished()) {
              val n = inf.inflate(buf)
              if (n == 0) ok = inf.finished() // truncation/FDICT guard
              else {
                dec.write(buf, 0, n)
                if (dec.size + total > cap) ok = false
              }
            }
            val consumed = (b.length - q) - inf.getRemaining
            val finished = inf.finished()
            inf.end()
            if (!finished || !ok) running = false
            else {
              val dEnd = q + consumed
              val end = dEnd + 8 // CRC32 + ISIZE
              if (end > b.length) running = false
              else {
                total += dec.size
                out += GzMember(p, q, consumed, end, fname, comment,
                  extraLen, mtime, flg, dec.toByteArray)
                nMembers += 1
                p = end
              }
            }
          }
        } catch {
          case _: ArrayIndexOutOfBoundsException => running = false
          case _: java.util.zip.DataFormatException => running = false
        }
      }
    }
    out.result()
  }

  /** Gzip SCREEN — member count, metadata presence, sizes. None = no
    * complete gzip member at offset 0 (truncated members report what
    * fully inflated). */
  def gzipMeta(b: Array[Byte]): Option[GzipMeta] = {
    try {
      val ms = gzipMembers(b)
      if (ms.isEmpty) None
      else Some(GzipMeta(ms.size, ms.head.mtime, ms.head.fname,
        ms.exists(_.comment.isDefined), ms.exists(_.extraLen > 0),
        ms.map(m => (m.end - m.start).toLong).sum,
        ms.map(_.decompressed.length.toLong).sum))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Concatenated decompressed bytes of every complete gzip member —
    * the scrub audit's identity probe. None = no complete member. */
  def gzipDecompress(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      val ms = gzipMembers(b)
      if (ms.isEmpty) None
      else {
        val o = new java.io.ByteArrayOutputStream()
        ms.foreach(m => o.write(m.decompressed))
        Some(o.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One-parse audit bundle: (screen meta, concatenated decompressed
    * bytes, scrubbed bytes if the scrub is safe) from a SINGLE member
    * walk — the scrub audit would otherwise re-inflate every payload
    * five times. */
  def gzipAuditBundle(b: Array[Byte])
      : Option[(GzipMeta, Array[Byte], Option[Array[Byte]])] = {
    try {
      val ms = gzipMembers(b)
      if (ms.isEmpty) return None
      val meta = GzipMeta(ms.size, ms.head.mtime, ms.head.fname,
        ms.exists(_.comment.isDefined), ms.exists(_.extraLen > 0),
        ms.map(m => (m.end - m.start).toLong).sum,
        ms.map(_.decompressed.length.toLong).sum)
      val dec = new java.io.ByteArrayOutputStream()
      ms.foreach(m => dec.write(m.decompressed))
      val stripped =
        if (ms.last.end != b.length) None
        else {
          val out = new java.io.ByteArrayOutputStream(b.length)
          ms.foreach { m =>
            out.write(0x1f); out.write(0x8b); out.write(8)
            out.write(0)
            out.write(0); out.write(0); out.write(0); out.write(0)
            out.write(0)
            out.write(255)
            out.write(b, m.deflateOff, m.deflateLen + 8)
          }
          Some(out.toByteArray)
        }
      Some((meta, dec.toByteArray, stripped))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Gzip metadata SCRUB — every member rewritten with a bare 10-byte
    * header (MTIME zeroed, FNAME/FCOMMENT/FEXTRA/FHCRC dropped, OS =
    * 255 "unknown"), the DEFLATE stream and trailer byte-VERBATIM: the
    * decompressed bytes are identical by construction and CHECKED by
    * the audit. None = no complete member. */
  def gzipStripMeta(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      val ms = gzipMembers(b)
      // FAIL-CLOSED on unconsumed bytes: a truncated final member, a
      // cap-stopped walk, or trailing garbage would otherwise be
      // silently DESTROYED while the audit's identity probe (which
      // walks the same members) certified the result clean
      if (ms.isEmpty || ms.last.end != b.length) return None
      val out = new java.io.ByteArrayOutputStream(b.length)
      ms.foreach { m =>
        out.write(0x1f); out.write(0x8b); out.write(8)
        out.write(0) // FLG: nothing set
        out.write(0); out.write(0); out.write(0); out.write(0) // MTIME 0
        out.write(0) // XFL
        out.write(255) // OS unknown
        out.write(b, m.deflateOff, m.deflateLen + 8) // deflate + trailer
      }
      Some(out.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One parsed WARC record: type, target URI, declared content
    * length, and the body bytes. */
  final case class WarcRecord(warcType: String, targetUri: Option[String],
                              contentLength: Long, body: Array[Byte])

  /** WARC record walk (ISO 28500): accepts PLAIN WARC bytes or a
    * multi-member gzip (each member inflated first — the CommonCrawl
    * record-per-member layout). Each record: `WARC/1.x` version line,
    * CRLF header lines until the empty line, `Content-Length` bytes
    * of body, CRLF CRLF separator. Malformed/truncated records end
    * the walk with what parsed. None = no WARC signature at all. */
  def warcRecords(payload: Array[Byte]): Option[Seq[WarcRecord]] = {
    try {
      val b =
        if (payload.length >= 2 && (payload(0) & 0xff) == 0x1f &&
            (payload(1) & 0xff) == 0x8b) {
          val ms = gzipMembers(payload)
          if (ms.isEmpty) return None
          val o = new java.io.ByteArrayOutputStream()
          ms.foreach(m => o.write(m.decompressed))
          o.toByteArray
        } else payload
      if (b.length < 5 || new String(b, 0, 5,
          java.nio.charset.StandardCharsets.US_ASCII) != "WARC/") return None
      val out = Seq.newBuilder[WarcRecord]
      var p = 0
      var nRecords = 0
      var running = true
      def lineEnd(from: Int): Int = {
        var i = from
        while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
        i
      }
      // record-count cap: the gzip member-cap discipline (an OOM from
      // millions of crafted empty records is outside NonFatal)
      while (running && nRecords < 100000 && p + 5 <= b.length) {
        if (new String(b, p, 5,
            java.nio.charset.StandardCharsets.US_ASCII) != "WARC/") {
          running = false
        } else {
          var q = lineEnd(p) + 2 // past the version line
          var wtype = ""
          var uri: Option[String] = None
          var clen = -1L
          var headersDone = false
          while (!headersDone && q < b.length) {
            val e = lineEnd(q)
            if (e == q) { headersDone = true; q += 2 } // empty line
            else {
              val line = new String(b, q, e - q,
                java.nio.charset.StandardCharsets.ISO_8859_1)
              val colon = line.indexOf(':')
              if (colon > 0) {
                val k = line.substring(0, colon).trim
                  .toLowerCase(java.util.Locale.ROOT)
                val v = line.substring(colon + 1).trim
                k match {
                  case "warc-type" => wtype = v
                  case "warc-target-uri" => uri = Some(v)
                  case "content-length" =>
                    clen = try v.toLong catch { case _: NumberFormatException => -1L }
                  case _ => ()
                }
              }
              q = e + 2
            }
          }
          if (clen < 0 || q + clen > b.length) running = false
          else {
            out += WarcRecord(wtype, uri, clen,
              java.util.Arrays.copyOfRange(b, q, q + clen.toInt))
            nRecords += 1
            p = q + clen.toInt + 4 // CRLF CRLF record separator
          }
        }
      }
      Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ------------------------------------------------------------------
  // WebP (RIFF container, VP8/VP8L/VP8X chunks) — the modern scraped-
  // image format: dims screen + the EXIF/XMP privacy seam (a WebP
  // EXIF chunk body is the same bare TIFF stream as PNG's eXIf — one
  // parser, three image containers). Pixel decode (VP8 entropy) is
  // out of scope like H.264; the scrub is pure chunk surgery with the
  // image chunks byte-verbatim.

  /** Parsed WebP screen fields: format (`vp8`/`vp8l`/`vp8x`), canvas
    * width/height, and which metadata chunks are present. */
  final case class WebpMeta(format: String, width: Int, height: Int,
                            hasExif: Boolean, hasXmp: Boolean,
                            hasIccp: Boolean)

  /** RIFF chunk walk of a WebP: (fourcc, body offset, body length)
    * front-to-back, even-padded per RIFF; stops at the first
    * malformed/truncated chunk with what parsed. None = not WebP. */
  private def webpChunks(b: Array[Byte]): Option[Seq[(String, Int, Int)]] = {
    if (b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P')) return None
    val out = Seq.newBuilder[(String, Int, Int)]
    var p = 12
    var running = true
    // bounds in Long: a declared length near 2^31 must end the walk,
    // not wrap the sum negative past the check
    while (running && p + 8L <= b.length) {
      val len = le32(b, p + 4).toInt
      if (len < 0 || p + 8L + len > b.length) running = false
      else {
        out += ((new String(b, p, 4,
          java.nio.charset.StandardCharsets.US_ASCII), p + 8, len))
        p += 8 + len + (len & 1) // even padding
      }
    }
    Some(out.result())
  }

  /** WebP screen — canvas dims from VP8X when present (24-bit
    * minus-one fields), else the VP8 lossy frame header (sync
    * 9D 01 2A) or the VP8L signature byte's 14-bit packed dims;
    * metadata presence flags from the chunk walk. */
  def webpMeta(b: Array[Byte]): Option[WebpMeta] = {
    try {
      webpChunks(b).flatMap { chunks =>
        def has(t: String) = chunks.exists(_._1 == t)
        val vp8x = chunks.find(_._1 == "VP8X")
        vp8x match {
          case Some((_, off, len)) if len >= 10 =>
            val w = 1 + (((b(off + 4) & 0xff)) | ((b(off + 5) & 0xff) << 8) |
              ((b(off + 6) & 0xff) << 16))
            val h = 1 + (((b(off + 7) & 0xff)) | ((b(off + 8) & 0xff) << 8) |
              ((b(off + 9) & 0xff) << 16))
            Some(WebpMeta("vp8x", w, h, has("EXIF"), has("XMP "), has("ICCP")))
          case _ =>
            chunks.collectFirst {
              case ("VP8 ", off, len) if len >= 10 &&
                  (b(off + 3) & 0xff) == 0x9d && (b(off + 4) & 0xff) == 0x01 &&
                  (b(off + 5) & 0xff) == 0x2a =>
                WebpMeta("vp8", le16(b, off + 6) & 0x3fff,
                  le16(b, off + 8) & 0x3fff,
                  has("EXIF"), has("XMP "), has("ICCP"))
              case ("VP8L", off, len) if len >= 5 && (b(off) & 0xff) == 0x2f =>
                val bits = le32(b, off + 1)
                WebpMeta("vp8l", 1 + (bits & 0x3fff).toInt,
                  1 + ((bits >> 14) & 0x3fff).toInt,
                  has("EXIF"), has("XMP "), has("ICCP"))
            }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** EXIF out of the WebP `EXIF` chunk — the bare-TIFF body through
    * the SAME per-section fail-closed [[tiffExif]] walk as JPEG APP1
    * and PNG eXIf. None = no EXIF chunk (or not WebP). */
  def webpExif(b: Array[Byte]): Option[ExifMeta] = {
    try {
      webpChunks(b).flatMap(_.collectFirst {
        case ("EXIF", off, len) =>
          // several real-world writers (exiftool among them) keep the
          // JPEG-style 'Exif\0\0' preamble inside the chunk — skip it
          // so the shared TIFF walk sees II/MM either way
          if (len >= 6 && b(off) == 'E' && b(off + 1) == 'x' &&
              b(off + 2) == 'i' && b(off + 3) == 'f' && b(off + 4) == 0 &&
              b(off + 5) == 0)
            tiffExif(b, off + 6, len - 6)
          else tiffExif(b, off, len)
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** WebP metadata scrub — drop the `EXIF` and `XMP ` chunks at byte
    * level, keep every image/color chunk verbatim (`ICCP` RETAINED —
    * color interpretation, the Adobe-APP14/cHRM lesson), and CLEAR
    * the VP8X E/X flag bits so the header no longer advertises the
    * removed chunks. None = not WebP. */
  def webpStripMetadata(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      webpChunks(b).map { chunks =>
        val out = new java.io.ByteArrayOutputStream(b.length)
        out.write(b, 0, 12)
        chunks.foreach { case (t, off, len) =>
          if (t != "EXIF" && t != "XMP ") {
            // clamp: a final odd-length chunk may lack its pad byte —
            // copyOfRange would zero-pad past the input, making the
            // output not a byte-subsequence and bytes_removed off by 1
            val chunk = java.util.Arrays.copyOfRange(b, off - 8,
              math.min(off + len + (len & 1), b.length))
            if (t == "VP8X" && len >= 1)
              chunk(8) = (chunk(8) & ~0x0c).toByte // clear E (bit3) + X (bit2)
            out.write(chunk)
          }
        }
        val res = out.toByteArray
        // RIFF size field = file length - 8
        val sz = res.length - 8
        res(4) = (sz & 0xff).toByte; res(5) = ((sz >> 8) & 0xff).toByte
        res(6) = ((sz >> 16) & 0xff).toByte; res(7) = ((sz >> 24) & 0xff).toByte
        res
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ------------------------------------------------------------------
  // GIF (GIF89a, public spec) — dims/frame screen + the comment-
  // extension privacy seam (GIF comments are the PII carrier; the
  // application extension carries XMP). LZW pixel data is copied
  // verbatim by the scrub — pure block surgery.

  /** Parsed GIF screen fields: logical-screen dims, image-descriptor
    * count (animation frames), and the comment-extension texts. */
  final case class GifMeta(width: Int, height: Int, nFrames: Int,
                           comments: Seq[String])

  /** Walk a GIF's blocks: returns (meta, block spans to DROP for the
    * scrub) — drop = comment (0xFE) and application (0xFF)
    * extensions. The walk stops at the trailer or the first malformed
    * block with what parsed. */
  private def gifWalk(b: Array[Byte])
      : Option[(GifMeta, Seq[(Int, Int)], Int)] = {
    if (b.length < 13) return None
    val hdr = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    val w = le16(b, 6); val h = le16(b, 8)
    val flags = b(10) & 0xff
    var p = 13
    if ((flags & 0x80) != 0) p += 3 * (1 << ((flags & 7) + 1)) // GCT
    val comments = Seq.newBuilder[String]
    val drop = Seq.newBuilder[(Int, Int)]
    var nFrames = 0
    var end = -1 // set by the trailer; stays -1 on a malformed stop
    var running = true
    def subBlocks(from: Int): Int = { // returns offset past the 0 terminator
      var q = from
      while (q < b.length && (b(q) & 0xff) != 0) q += 1 + (b(q) & 0xff)
      q + 1
    }
    while (running && p < b.length) {
      (b(p) & 0xff) match {
        case 0x3b => end = p + 1; running = false // trailer
        case 0x21 if p + 1 < b.length =>
          val label = b(p + 1) & 0xff
          val next = subBlocks(p + 2)
          if (next > b.length) running = false
          else {
            if (label == 0xfe) {
              // comment: concatenate sub-block payloads
              val sb = new java.io.ByteArrayOutputStream()
              var q = p + 2
              while ((b(q) & 0xff) != 0) {
                sb.write(b, q + 1, b(q) & 0xff); q += 1 + (b(q) & 0xff)
              }
              comments += new String(sb.toByteArray,
                java.nio.charset.StandardCharsets.ISO_8859_1)
              drop += ((p, next - p))
            } else if (label == 0xff) drop += ((p, next - p))
            p = next
          }
        case 0x2c if p + 10 <= b.length =>
          nFrames += 1
          val lflags = b(p + 9) & 0xff
          var q = p + 10
          if ((lflags & 0x80) != 0) q += 3 * (1 << ((lflags & 7) + 1))
          if (q + 1 > b.length) running = false
          else {
            val next = subBlocks(q + 1) // LZW min-code byte then data
            if (next > b.length) running = false else p = next
          }
        case _ => running = false
      }
    }
    // FAIL-CLOSED: when the walk stops before the trailer (malformed
    // or truncated stream), the unparsed tail is NOT trusted — `end`
    // falls back to the last fully parsed position, so the scrub can
    // never carry un-walked metadata through verbatim (the PNG/WebP
    // emit-only-parsed-chunks stance).
    // p > b.length can only happen via the GCT skip (every block
    // advance is bounds-checked): the declared color table does not
    // fit, so nothing past the header was validated — keep the 13-byte
    // header only. Otherwise p is a validated block boundary.
    Some((GifMeta(w, h, nFrames, comments.result()),
      drop.result(), if (end >= 0) end else if (p > b.length) 13 else p))
  }

  /** GIF screen — dims, frame count, comment texts. None = not GIF. */
  def gifMeta(b: Array[Byte]): Option[GifMeta] =
    try gifWalk(b).map(_._1)
    catch { case scala.util.control.NonFatal(_) => None }

  /** GIF metadata scrub — drop comment and application extensions at
    * byte level (graphic-control extensions RETAINED: transparency
    * and frame timing are rendering, not metadata), truncate trailing
    * bytes after the trailer; LZW image data byte-verbatim. */
  def gifStripMetadata(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      gifWalk(b).map { case (_, drop, end) =>
        val out = new java.io.ByteArrayOutputStream(end)
        var p = 0
        drop.sortBy(_._1).foreach { case (s, l) =>
          out.write(b, p, s - p); p = s + l
        }
        out.write(b, p, end - p)
        out.toByteArray
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ------------------------------------------------------------------
  // OGG (RFC 3533 pages + Vorbis I / OpusTags headers, public specs)
  // — the container screen for the other big scraped-audio family:
  // codec/rate/duration from the page+header walk, and the comment
  // privacy seam. Ogg pages are CRC-sealed and sequence-numbered, so
  // the privacy op REDACTS comment values IN PLACE (same page
  // structure, CRC recomputed) instead of re-paginating the chain —
  // removal would renumber every following page.

  /** Parsed Ogg screen fields: codec (`vorbis`/`opus`/`unknown`),
    * channels + sample rate from the ID header, page count of the
    * first logical stream, its last granule position, and duration
    * (Vorbis granule = PCM samples at the stream rate; Opus granule
    * is always 48 kHz-denominated per RFC 7845). */
  final case class OggMeta(codec: String, channels: Int, sampleRate: Int,
                           nPages: Int, lastGranule: Long, durationMs: Long)

  private final case class OggPage(start: Int, hdrLen: Int, bodyLen: Int,
                                   headerType: Int, granule: Long,
                                   serial: Long, seq: Long)

  private val oggCrcTable: Array[Int] = {
    // CRC-32 poly 0x04c11db7, NOT reflected, init 0, no final xor —
    // Ogg's variant differs from zlib's CRC32 in all three respects
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r; i += 1
    }
    t
  }

  /** Ogg page CRC over `[off, off+len)` (the crc field itself must be
    * zeroed by the caller before summing). */
  def oggCrc(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = off
    while (i < off + len) {
      crc = (crc << 8) ^ oggCrcTable(((crc >>> 24) ^ (b(i) & 0xff)) & 0xff)
      i += 1
    }
    crc
  }

  /** Page walk: every well-formed `OggS` page front-to-back; stops at
    * the first malformed/truncated header with what parsed. */
  private def oggPages(b: Array[Byte]): Seq[OggPage] = {
    val out = Seq.newBuilder[OggPage]
    var p = 0
    var running = true
    while (running && p + 27 <= b.length) {
      if (!(b(p) == 'O' && b(p + 1) == 'g' && b(p + 2) == 'g' &&
          b(p + 3) == 'S' && b(p + 4) == 0)) running = false
      else {
        val nSegs = b(p + 26) & 0xff
        if (p + 27 + nSegs > b.length) running = false
        else {
          var body = 0
          var i = 0
          while (i < nSegs) { body += b(p + 27 + i) & 0xff; i += 1 }
          if (p + 27 + nSegs + body > b.length) running = false
          else {
            val granule = (0 until 8).foldLeft(0L)((acc, k) =>
              acc | ((b(p + 6 + k) & 0xffL) << (8 * k)))
            out += OggPage(p, 27 + nSegs, body, b(p + 5) & 0xff, granule,
              le32(b, p + 14), le32(b, p + 18))
            p += 27 + nSegs + body
          }
        }
      }
    }
    out.result()
  }

  /** First `maxPackets` packets of the first logical stream, each as
    * its ordered (absolute offset, length) segment list — packets can
    * span pages; a lacing value < 255 ends a packet. */
  private def oggPacketSegs(b: Array[Byte], pages: Seq[OggPage],
                            maxPackets: Int): Seq[Vector[(Int, Int)]] = {
    if (pages.isEmpty) return Seq.empty
    val serial = pages.head.serial
    val out = Seq.newBuilder[Vector[(Int, Int)]]
    var count = 0
    var cur = Vector.empty[(Int, Int)]
    pages.iterator.filter(_.serial == serial).foreach { pg =>
      if (count < maxPackets) {
        var segOff = pg.start + pg.hdrLen
        val nSegs = pg.hdrLen - 27
        var i = 0
        while (i < nSegs && count < maxPackets) {
          val l = b(pg.start + 27 + i) & 0xff
          if (l > 0) cur :+= ((segOff, l))
          segOff += l
          if (l < 255) { out += cur; cur = Vector.empty; count += 1 }
          i += 1
        }
      }
    }
    out.result()
  }

  /** Materialize a packet: (contiguous bytes, per-byte absolute file
    * offset) — the offset map is what lets a redaction of the LOGICAL
    * comment region land on the right PHYSICAL bytes when the packet
    * spans pages. Comment packets are KB-sized; the map is cheap. */
  private def oggPacketArray(b: Array[Byte],
                             segs: Vector[(Int, Int)]): (Array[Byte], Array[Int]) = {
    val n = segs.iterator.map(_._2).sum
    val out = new Array[Byte](n)
    val idx = new Array[Int](n)
    var o = 0
    segs.foreach { case (s, l) =>
      var i = 0
      while (i < l) { out(o) = b(s + i); idx(o) = s + i; o += 1; i += 1 }
    }
    (out, idx)
  }

  /** Ogg screen — codec, channels, rate from the first packet's ID
    * header (`vorbis` per Vorbis I, `OpusHead` per RFC 7845),
    * page count + last granule + duration for the first logical
    * stream. None = no parseable BOS page. */
  def oggMeta(b: Array[Byte]): Option[OggMeta] = {
    try {
      val pages = oggPages(b)
      if (pages.isEmpty) return None
      val serial = pages.head.serial
      val mine = pages.filter(_.serial == serial)
      val idOpt = oggPacketSegs(b, pages, 1).headOption
        .map(oggPacketArray(b, _)._1)
      if (idOpt.isEmpty) return None
      val id = idOpt.get
      val lastGranule = mine.iterator.map(_.granule).filter(_ >= 0).foldLeft(0L)(math.max)
      def mk(codec: String, ch: Int, sr: Int, denom: Int): OggMeta =
        OggMeta(codec, ch, sr, mine.size, lastGranule,
          if (denom > 0) lastGranule * 1000L / denom else 0L)
      if (id.length >= 16 && id(0) == 1 && id(1) == 'v' && id(2) == 'o' &&
          id(3) == 'r' && id(4) == 'b' && id(5) == 'i' && id(6) == 's') {
        val ch = id(11) & 0xff
        val sr = le32(id, 12).toInt
        Some(mk("vorbis", ch, sr, sr))
      } else if (id.length >= 19 && new String(id, 0, 8,
          java.nio.charset.StandardCharsets.US_ASCII) == "OpusHead") {
        val ch = id(9) & 0xff
        val sr = le32(id, 12).toInt
        Some(mk("opus", ch, sr, 48000)) // granules are 48 kHz by spec
      } else Some(mk("unknown", 0, 0, 0))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Locate the comment BLOCK inside packet 1: (packet bytes, offset
    * map, block start) — after `vorbis` for Vorbis, after
    * `OpusTags` for Opus. */
  private def oggCommentBlock(b: Array[Byte])
      : Option[(Array[Byte], Array[Int], Int)] = {
    val pages = oggPages(b)
    val pk = oggPacketSegs(b, pages, 2)
    if (pk.size < 2) return None
    val (a, idx) = oggPacketArray(b, pk(1))
    if (a.length >= 7 && a(0) == 3 && a(1) == 'v' && a(2) == 'o' &&
        a(3) == 'r' && a(4) == 'b' && a(5) == 'i' && a(6) == 's')
      Some((a, idx, 7))
    else if (a.length >= 8 && new String(a, 0, 8,
        java.nio.charset.StandardCharsets.US_ASCII) == "OpusTags")
      Some((a, idx, 8))
    else None
  }

  /** Ogg comment tags — the SAME Vorbis comment structure as FLAC
    * ([[vorbisCommentBody]] shared), read out of the second packet.
    * None = no comment header (or not Ogg). */
  def oggComments(b: Array[Byte]): Option[Seq[(String, String)]] = {
    try {
      oggCommentBlock(b).flatMap { case (a, _, off) =>
        vorbisCommentBody(a, off, a.length).map(_._1)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Ogg comment REDACTION — overwrite every comment VALUE byte with
    * a space in place and re-seal the CRC of each touched page. The
    * page structure (lacing, sequence numbers, granules) is
    * byte-identical, audio packets verbatim — re-paginating to REMOVE
    * the values would renumber every subsequent page (the documented
    * Ogg trade vs the removal-style scrubs of the other containers).
    * Returns None when there is nothing parseable to redact. */
  def oggRedactComments(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      oggCommentBlock(b).flatMap { case (a, idx, off) =>
        vorbisCommentBody(a, off, a.length).map { case (_, regions) =>
          val out = b.clone()
          regions.foreach { case (s, l) =>
            var i = 0
            while (i < l) { out(idx(s + i)) = ' '; i += 1 }
          }
          // re-seal every page overlapping a redacted byte (EVERY byte
          // checked: a single value can span 3+ pages and the middle
          // ones carry none of the region's endpoints)
          val pages = oggPages(out)
          val touched = regions.flatMap { case (s, l) =>
            (0 until l).map(i => idx(s + i))
          }
          pages.foreach { pg =>
            val lo = pg.start
            val hi = pg.start + pg.hdrLen + pg.bodyLen
            if (touched.exists(t => t >= lo && t < hi)) {
              java.util.Arrays.fill(out, pg.start + 22, pg.start + 26, 0.toByte)
              val crc = oggCrc(out, pg.start, pg.hdrLen + pg.bodyLen)
              out(pg.start + 22) = (crc & 0xff).toByte
              out(pg.start + 23) = ((crc >> 8) & 0xff).toByte
              out(pg.start + 24) = ((crc >> 16) & 0xff).toByte
              out(pg.start + 25) = ((crc >> 24) & 0xff).toByte
            }
          }
          out
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Every page's CRC verified against [[oggCrc]] — the redactor's
    * re-seal audit (TRUE only when every page checks out). */
  def oggCrcValid(b: Array[Byte]): Boolean = {
    try {
      val pages = oggPages(b)
      pages.nonEmpty && pages.forall { pg =>
        val tmp = java.util.Arrays.copyOfRange(b, pg.start,
          pg.start + pg.hdrLen + pg.bodyLen)
        val declared = le32(tmp, 22)
        java.util.Arrays.fill(tmp, 22, 26, 0.toByte)
        (oggCrc(tmp, 0, tmp.length) & 0xffffffffL) == declared
      }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** PNG text-metadata audit — keyword→value pairs from ALL THREE
    * text chunk forms (the PNG PII carriers: Author/Comment/Software/
    * Description): `tEXt` (Latin-1), `zTXt` (Latin-1, value
    * zlib-compressed — the MORE common form for large values) and
    * `iTXt` (UTF-8, optionally compressed). Keyword = bytes before
    * the NUL separator. FAIL-CLOSED per chunk: a value that will not
    * inflate (or a malformed iTXt header) still reports the KEYWORD
    * with an empty value — a release screen must never pass a
    * metadata-bearing image as clean because one value is corrupt.
    * Malformed chunks end the walk with what parsed; non-PNG returns
    * None. GPS travels in the `eXIf` chunk — see [[pngExif]]. */
  def pngTextChunks(b: Array[Byte]): Option[Seq[(String, String)]] = {
    try {
      pngChunks(b).map(_.collect {
        case ("tEXt", start, len) =>
          val body = java.util.Arrays.copyOfRange(b, start + 8, start + 8 + len)
          val nul = body.indexOf(0.toByte)
          if (nul > 0)
            (new String(body, 0, nul, "ISO-8859-1"),
              new String(body, nul + 1, body.length - nul - 1, "ISO-8859-1"))
          else (new String(body, "ISO-8859-1"), "")
        case ("zTXt", start, len) =>
          val body = java.util.Arrays.copyOfRange(b, start + 8, start + 8 + len)
          val nul = body.indexOf(0.toByte)
          if (nul > 0) {
            val key = new String(body, 0, nul, "ISO-8859-1")
            // keyword NUL method(0=deflate) zlib-data
            val value =
              if (nul + 2 <= body.length && body(nul + 1) == 0)
                inflateBounded(body, nul + 2, body.length - nul - 2)
                  .map(new String(_, "ISO-8859-1")).getOrElse("")
              else ""
            (key, value)
          } else (new String(body, "ISO-8859-1"), "")
        case ("iTXt", start, len) =>
          val body = java.util.Arrays.copyOfRange(b, start + 8, start + 8 + len)
          val nul = body.indexOf(0.toByte)
          if (nul > 0) {
            val key = new String(body, 0, nul, "ISO-8859-1")
            // keyword NUL compFlag compMethod langTag NUL translated NUL text
            val value = {
              if (nul + 3 > body.length) ""
              else {
                val compressed = body(nul + 1) == 1
                val langEnd = body.indexOf(0.toByte, nul + 3)
                val tkwEnd = if (langEnd < 0) -1 else body.indexOf(0.toByte, langEnd + 1)
                if (tkwEnd < 0) ""
                else if (compressed)
                  inflateBounded(body, tkwEnd + 1, body.length - tkwEnd - 1)
                    .map(new String(_, "UTF-8")).getOrElse("")
                else new String(body, tkwEnd + 1, body.length - tkwEnd - 1, "UTF-8")
              }
            }
            (key, value)
          } else (new String(body, "ISO-8859-1"), "")
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** EXIF read out of the PNG `eXIf` chunk (PNG 1.5 extension — the
    * chunk body is a bare TIFF stream, same structure as the JPEG
    * APP1 payload without the `Exif\0\0` preamble), through the SAME
    * per-SECTION fail-closed [[tiffExif]] walk as [[jpegExif]]: PNG
    * GPS is a release-blocking signal exactly like JPEG GPS. None =
    * no eXIf chunk (or not a PNG); Some(partial) on corruption. */
  def pngExif(b: Array[Byte]): Option[ExifMeta] = {
    try {
      pngChunks(b).flatMap(_.collectFirst {
        case ("eXIf", start, len) => tiffExif(b, start + 8, len)
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Bounded zlib inflate of `b[off, off+len)` — metadata values only
    * (4 MiB cap: a zip-bomb zTXt must not allocate unbounded memory on
    * an executor); any malformed/oversized stream is None. */
  private def inflateBounded(b: Array[Byte], off: Int, len: Int,
                             cap: Int = 4 * 1024 * 1024): Option[Array[Byte]] = {
    if (len <= 0) return None
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(b, off, len)
      val out = new java.io.ByteArrayOutputStream(math.min(len * 4, 4096))
      val buf = new Array[Byte](4096)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // n == 0 while unfinished covers truncation AND FDICT (the
        // pngGrayPixels lesson: looping on either spins forever)
        if (n == 0) return None
        out.write(buf, 0, n)
        if (out.size > cap) return None
      }
      Some(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** LOSSLESS PNG metadata scrub — the keep-set CONTRACT: every chunk
    * a decoder needs to reproduce the exact same RENDERED pixels —
    * IHDR, PLTE, tRNS, IDAT, IEND (the pixels themselves) plus the
    * color-interpretation set gAMA, cHRM, sRGB, iCCP, sBIT (cHRM +
    * gAMA define color when no sRGB/iCCP is present — dropping them
    * changes rendered colors on a color-managed decoder, the JPEG
    * Adobe-APP14 lesson; sBIT declares significant bits a decoder may
    * use to regenerate the original sample depth). Every ancillary
    * METADATA chunk (tEXt/zTXt/iTXt, eXIf, tIME, pHYs, bKGD, …) is
    * dropped at the byte level. Trailing bytes after IEND are
    * TRUNCATED (the JPEG motion-photo lesson). Non-PNG returns None. */
  def pngStripMetadata(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      pngChunks(b).map { chunks =>
        val keepTypes = Set("IHDR", "PLTE", "tRNS", "gAMA", "cHRM",
          "sRGB", "iCCP", "sBIT", "IDAT", "IEND")
        val out = new java.io.ByteArrayOutputStream(b.length)
        out.write(b, 0, 8) // signature
        chunks.foreach { case (t, start, len) =>
          if (keepTypes(t)) out.write(b, start, 12 + len)
        }
        out.toByteArray
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** PNG chunk walk: (type, chunk start offset, DATA length) for each
    * well-formed chunk up to and including IEND; None for non-PNG. */
  private def pngChunks(b: Array[Byte]): Option[Seq[(String, Int, Int)]] = {
    if (b.length < 8) return None
    var i = 0
    while (i < 8) { if ((b(i) & 0xff) != pngSig(i)) return None; i += 1 }
    val out = Seq.newBuilder[(String, Int, Int)]
    var p = 8
    var done = false
    // bounds in Long: a declared length near 2^31 must end the walk,
    // not wrap the sum negative past the check
    while (!done && p + 8L <= b.length) {
      val len = be32(b, p).toInt
      if (len < 0 || p + 12L + len > b.length) done = true
      else {
        val t = new String(b, p + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        out += ((t, p, len))
        if (t == "IEND") done = true
        p += 12 + len
      }
    }
    Some(out.result())
  }

  /** MSB-first big-endian bit reader over a byte array; every read is
    * bounds-checked via [[FlacEos]] so a truncated stream unwinds to
    * the frame boundary instead of overrunning. */
  private final class BitReaderBE(b: Array[Byte], var bytePos: Int) {
    private var bitPos = 0 // 0..7 within b(bytePos)
    def bits(n: Int): Long = {
      var got = 0
      var acc = 0L
      while (got < n) {
        if (bytePos >= b.length) throw FlacEos
        val avail = 8 - bitPos
        val take = math.min(avail, n - got)
        val shift = avail - take
        val mask = (1 << take) - 1
        acc = (acc << take) | (((b(bytePos) & 0xff) >> shift) & mask)
        bitPos += take
        if (bitPos == 8) { bitPos = 0; bytePos += 1 }
        got += take
      }
      acc
    }
    def sbits(n: Int): Int = {
      if (n == 0) return 0
      val v = bits(n)
      ((v << (64 - n)).toLong >> (64 - n)).toInt // sign-extend
    }
    /** FLAC unary: count of 0 bits before the terminating 1. */
    def unary(): Int = {
      var q = 0
      while (bits(1) == 0L) {
        q += 1
        if (q > (1 << 20)) throw FlacEos // runaway quotient: malformed
      }
      q
    }
    def alignByte(): Unit = if (bitPos != 0) { bitPos = 0; bytePos += 1 }
  }
  private object FlacEos extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** FLAC PCM decode to normalized mono — the [[wavPcmMono]] analog
    * for the compressed rung: (sampleRate, channel-averaged samples in
    * [−1, 1]). FLAC samples are SIGNED at every depth (8-bit too,
    * unlike WAV's unsigned 8-bit), so an n-bit sample normalizes as
    * v / 2^(n−1) — a WAV and a FLAC holding the same quantized values
    * decode to identical doubles. Non-FLAC payloads and streams
    * outside the 8/16-bit profile return None; a malformed frame ends
    * the decode with the samples that fully parsed. */
  def flacPcmMono(b: Array[Byte]): Option[(Int, Array[Double])] = {
    try {
      if (b.length < 42) return None
      if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
      // metadata blocks: 1-byte (last<<7 | type) + 3-byte BE length
      var p = 4
      var sr = 0; var channels = 0; var bps = 0; var total = 0L
      var sawStreaminfo = false
      var last = false
      while (!last && p + 4 <= b.length) {
        val hdr = b(p) & 0xff
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7f
        val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if (p + 4 + len > b.length) return None
        if (btype == 0 && len >= 34) {
          val r = new BitReaderBE(b, p + 4)
          r.bits(16); r.bits(16) // min/max block size
          r.bits(24); r.bits(24) // min/max frame size
          sr = r.bits(20).toInt
          channels = r.bits(3).toInt + 1
          bps = r.bits(5).toInt + 1
          total = r.bits(36)
          sawStreaminfo = true
        }
        p += 4 + len
      }
      if (!sawStreaminfo || sr < 1 || channels < 1 || channels > 8) return None
      if (bps != 8 && bps != 16) return None // the fingerprint profile
      if (total > (1L << 26)) return None    // cap output allocation
      val out = Array.newBuilder[Double]
      var decoded = 0L
      val r = new BitReaderBE(b, p)
      var ok = true
      while (ok && (total == 0L || decoded < total) && r.bytePos < b.length) {
        val before = decoded
        try {
          // ---- frame header ----
          if (r.bits(14) != 0x3ffe) throw FlacEos // sync
          r.bits(1) // reserved
          r.bits(1) // blocking strategy
          val bsCode = r.bits(4).toInt
          val srCode = r.bits(4).toInt
          val chAsgn = r.bits(4).toInt
          val ssCode = r.bits(3).toInt
          r.bits(1) // reserved
          // UTF-8-coded frame/sample number: leading-ones byte count
          val first = r.bits(8).toInt
          var follow = 0
          var m = first
          while ((m & 0x80) != 0) { follow += 1; m <<= 1 }
          if (follow == 1 || follow > 7) throw FlacEos
          var i = 1
          while (i < follow) { r.bits(8); i += 1 }
          val blockSize = bsCode match {
            case 0 => throw FlacEos // reserved
            case 1 => 192
            case c if c >= 2 && c <= 5 => 576 << (c - 2)
            case 6 => r.bits(8).toInt + 1
            case 7 => r.bits(16).toInt + 1
            case c => 256 << (c - 8)
          }
          srCode match { // values redundant with STREAMINFO; consume bits
            case 12 => r.bits(8)
            case 13 | 14 => r.bits(16)
            case _ => ()
          }
          val frameBps = ssCode match {
            case 0 => bps
            case 1 => 8
            case 2 => 12
            case 4 => 16
            case 5 => 20
            case 6 => 24
            case 7 => 32
            case _ => throw FlacEos
          }
          if (frameBps != bps) throw FlacEos // profile: uniform depth
          r.bits(8) // header CRC-8 (not verified — sequential parse)
          if (blockSize < 1 || blockSize > 65536) throw FlacEos
          val nCh = if (chAsgn <= 7) chAsgn + 1 else 2
          if (chAsgn <= 7 && nCh != channels) throw FlacEos
          if (chAsgn > 10) throw FlacEos
          // ---- subframes ----
          val chans = Array.ofDim[Int](nCh, blockSize)
          var c = 0
          while (c < nCh) {
            // side channel carries one extra bit
            val sideBps = bps + (chAsgn match {
              case 8 if c == 1 => 1 // left/side
              case 9 if c == 0 => 1 // right/side
              case 10 if c == 1 => 1 // mid/side
              case _ => 0
            })
            decodeSubframe(r, chans(c), blockSize, sideBps)
            c += 1
          }
          r.alignByte()
          r.bits(16) // frame CRC-16 (not verified)
          // ---- stereo decorrelation + downmix ----
          val want =
            if (total > 0L) math.min(blockSize.toLong, total - decoded).toInt
            else blockSize
          var s = 0
          while (s < want) {
            val mono = chAsgn match {
              case 8 => // left/side: r = l − s
                val l = chans(0)(s); (l + (l - chans(1)(s))) / 2.0
              case 9 => // right/side: l = r + s
                val rr = chans(1)(s); ((rr + chans(0)(s)) + rr) / 2.0
              case 10 => // mid/side
                val mm = chans(0)(s); val ss = chans(1)(s)
                val l = (((mm << 1) | (ss & 1)) + ss) >> 1
                val rr = (((mm << 1) | (ss & 1)) - ss) >> 1
                (l + rr) / 2.0
              case _ =>
                var acc = 0.0
                var cc = 0
                while (cc < nCh) { acc += chans(cc)(s); cc += 1 }
                acc / nCh
            }
            out += mono / (1L << (bps - 1)).toDouble
            s += 1
          }
          decoded += want
        } catch {
          case FlacEos =>
            decoded = before // a half-decoded frame contributes nothing
            ok = false
        }
      }
      val samples = out.result()
      val keep =
        if (total > 0L) math.min(decoded, samples.length.toLong).toInt
        else samples.length
      if (keep == 0) None else Some((sr, samples.take(keep)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One FLAC subframe into `dst` (blockSize samples at sideBps). */
  private def decodeSubframe(r: BitReaderBE, dst: Array[Int],
                             blockSize: Int, sideBps: Int): Unit = {
    if (r.bits(1) != 0L) throw FlacEos // padding bit
    val tpe = r.bits(6).toInt
    val wastedFlag = r.bits(1)
    val wasted = if (wastedFlag == 1L) r.unary() + 1 else 0
    val eb = sideBps - wasted // effective bits
    if (eb < 1 || eb > 33) throw FlacEos
    def residual(order: Int): Array[Int] = {
      val method = r.bits(2).toInt
      if (method > 1) throw FlacEos
      val paramBits = if (method == 0) 4 else 5
      val escape = (1 << paramBits) - 1
      val po = r.bits(4).toInt
      val nPart = 1 << po
      if (blockSize % nPart != 0) throw FlacEos
      val res = new Array[Int](blockSize - order)
      var idx = 0
      var part = 0
      while (part < nPart) {
        val count = blockSize / nPart - (if (part == 0) order else 0)
        if (count < 0) throw FlacEos
        val param = r.bits(paramBits).toInt
        if (param == escape) {
          val raw = r.bits(5).toInt
          var i = 0
          while (i < count) { res(idx) = if (raw == 0) 0 else r.sbits(raw); idx += 1; i += 1 }
        } else {
          var i = 0
          while (i < count) {
            val q = r.unary().toLong
            val v = (q << param) | r.bits(param)
            res(idx) = ((v >>> 1) ^ -(v & 1L)).toInt // zigzag
            idx += 1; i += 1
          }
        }
        part += 1
      }
      res
    }
    tpe match {
      case 0 => // CONSTANT
        val v = r.sbits(eb)
        java.util.Arrays.fill(dst, 0, blockSize, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < blockSize) { dst(i) = r.sbits(eb); i += 1 }
      case t if t >= 8 && t <= 12 => // FIXED order 0–4
        val order = t - 8
        if (order > blockSize) throw FlacEos
        var i = 0
        while (i < order) { dst(i) = r.sbits(eb); i += 1 }
        val res = residual(order)
        i = order
        while (i < blockSize) {
          val e = res(i - order).toLong
          val p = order match {
            case 0 => 0L
            case 1 => dst(i - 1).toLong
            case 2 => 2L * dst(i - 1) - dst(i - 2)
            case 3 => 3L * dst(i - 1) - 3L * dst(i - 2) + dst(i - 3)
            case _ => 4L * dst(i - 1) - 6L * dst(i - 2) + 4L * dst(i - 3) - dst(i - 4)
          }
          dst(i) = (e + p).toInt
          i += 1
        }
      case t if t >= 32 => // LPC, order 1–32
        val order = (t & 31) + 1
        if (order > blockSize) throw FlacEos
        var i = 0
        while (i < order) { dst(i) = r.sbits(eb); i += 1 }
        val precision = r.bits(4).toInt + 1
        if (precision == 16) throw FlacEos // 1111 is invalid per spec
        val shift = r.sbits(5)
        if (shift < 0) throw FlacEos
        val coef = new Array[Int](order)
        i = 0
        while (i < order) { coef(i) = r.sbits(precision); i += 1 }
        val res = residual(order)
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coef(j).toLong * dst(i - 1 - j); j += 1 }
          dst(i) = (res(i - order).toLong + (acc >> shift)).toInt
          i += 1
        }
      case _ => throw FlacEos // reserved types
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { dst(i) = dst(i) << wasted; i += 1 }
    }
  }

  // ------------------------------------------------------------------
  // MP4 / ISO-BMFF (ISO/IEC 14496-12) — the dominant real video
  // container: a box tree (4-byte big-endian size + 4-byte type;
  // size==1 → 64-bit largesize follows; size==0 → to the end of the
  // enclosing container). The demux walks moov/trak/mdia/minf/stbl,
  // reads the sample tables (stsd codec + dims, stsz sizes, stsc
  // sample-to-chunk runs, stco/co64 chunk offsets, mdhd
  // timescale/duration, hdlr handler) and resolves per-sample byte
  // ranges — so `jpeg`-codec tracks (MJPEG-in-MP4) feed the JPEG
  // entropy decoder exactly like AVI `00dc` bodies, and every track
  // yields dims/duration metadata. Containment discipline per the AVI
  // walk lesson: descent depth capped (the containers we descend are a
  // fixed five-deep hierarchy; a crafted payload nesting them 10k deep
  // must bound, not overflow), every offset bounds-checked, declared
  // sizes clamped, total extracted bytes capped.

  /** One parsed MP4 track: handler fourcc (`vide`/`soun`), sample-
    * entry codec fourcc, visual dims (0 for non-visual), media
    * duration in ms (from mdhd duration/timescale), sample count. */
  final case class Mp4Track(handler: String, codec: String,
                            width: Int, height: Int,
                            durationMs: Long, nSamples: Long)

  private final class Mp4TrakRaw {
    var handler: String = ""
    var codec: String = ""
    var width: Int = 0
    var height: Int = 0
    var timescale: Long = 0L
    var duration: Long = 0L
    var fixedSize: Long = 0L
    var nSamples: Long = 0L
    var sizes: Array[Long] = null
    var stscRuns: Array[(Long, Long)] = null // (firstChunk, samplesPerChunk)
    var chunkOffsets: Array[Long] = null
  }

  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)

  /** Parse the moov tree into raw per-track sample tables. Non-MP4
    * payloads (no `ftyp`/`moov` leading box) return empty; any
    * malformed region ends ITS level with what parsed (one bad video
    * must not poison the partition). */
  private def mp4Parse(b: Array[Byte]): Seq[Mp4TrakRaw] = {
    if (b.length < 12) return Nil
    val lead = new String(b, 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (lead != "ftyp" && lead != "moov") return Nil
    val traks = Seq.newBuilder[Mp4TrakRaw]
    val maxSamples = 1 << 20
    def fourcc(o: Long): String =
      new String(b, o.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // recursion bounded by maxDepth (only the fixed container set
    // descends; 32 >> the real 5-level moov tree) — containment by
    // BOUND, the aviMjpegFrames discipline
    def walk(start: Long, end: Long, depth: Int, cur: Mp4TrakRaw): Unit = {
      if (depth > 32) return
      var p = start
      var running = true
      while (running && p + 8 <= end) {
        var size: Long = be32(b, p.toInt)
        val tp = fourcc(p + 4)
        var hdr = 8L
        if (size == 1L) {
          if (p + 16 > end) return
          size = be64(b, p.toInt + 8); hdr = 16L
        } else if (size == 0L) size = end - p
        if (size < hdr || p + size > end) return // truncated: keep what parsed
        val body = p + hdr
        val bodyEnd = p + size
        def has(n: Long): Boolean = body + n <= bodyEnd
        tp match {
          case "moov" => walk(body, bodyEnd, depth + 1, cur)
          case "trak" =>
            val t = new Mp4TrakRaw
            walk(body, bodyEnd, depth + 1, t)
            traks += t
          case "mdia" | "minf" | "stbl" if cur != null =>
            walk(body, bodyEnd, depth + 1, cur)
          case "mdhd" if cur != null && has(4) =>
            val v = b(body.toInt) & 0xff
            if (v == 1 && has(32)) {
              cur.timescale = be32(b, body.toInt + 20)
              cur.duration = be64(b, body.toInt + 24)
            } else if (v == 0 && has(20)) {
              cur.timescale = be32(b, body.toInt + 12)
              cur.duration = be32(b, body.toInt + 16)
            }
          case "hdlr" if cur != null && has(12) =>
            cur.handler = fourcc(body + 8)
          case "stsd" if cur != null && has(16) =>
            // fullbox(4) + entry_count(4), then the first sample entry:
            // size(4) + format(4); VisualSampleEntry dims sit at entry
            // offset 32/34 (8 header + 6 reserved + 2 dref index + 16
            // pre_defined/reserved)
            val entry = body + 8
            cur.codec = fourcc(entry + 4)
            val entrySize = be32(b, entry.toInt)
            if (entrySize >= 36 && entry + 36 <= bodyEnd) {
              cur.width = be16(b, entry.toInt + 32)
              cur.height = be16(b, entry.toInt + 34)
            }
          case "stsz" if cur != null && has(12) =>
            cur.fixedSize = be32(b, body.toInt + 4)
            cur.nSamples = be32(b, body.toInt + 8)
            if (cur.fixedSize == 0L) {
              val n = math.min(cur.nSamples,
                math.min(maxSamples.toLong, (bodyEnd - body - 12) / 4))
              val sz = new Array[Long](n.toInt)
              var i = 0
              while (i < sz.length) {
                sz(i) = be32(b, (body + 12 + 4L * i).toInt); i += 1
              }
              cur.sizes = sz
            }
          case "stsc" if cur != null && has(8) =>
            val n = math.min(be32(b, body.toInt + 4),
              math.min(maxSamples.toLong, (bodyEnd - body - 8) / 12))
            val runs = new Array[(Long, Long)](n.toInt)
            var i = 0
            while (i < runs.length) {
              val o = (body + 8 + 12L * i).toInt
              runs(i) = (be32(b, o), be32(b, o + 4))
              i += 1
            }
            cur.stscRuns = runs
          case "stco" if cur != null && has(8) =>
            val n = math.min(be32(b, body.toInt + 4),
              math.min(maxSamples.toLong, (bodyEnd - body - 8) / 4))
            val off = new Array[Long](n.toInt)
            var i = 0
            while (i < off.length) {
              off(i) = be32(b, (body + 8 + 4L * i).toInt); i += 1
            }
            cur.chunkOffsets = off
          case "co64" if cur != null && has(8) =>
            val n = math.min(be32(b, body.toInt + 4),
              math.min(maxSamples.toLong, (bodyEnd - body - 8) / 8))
            val off = new Array[Long](n.toInt)
            var i = 0
            while (i < off.length) {
              off(i) = be64(b, (body + 8 + 8L * i).toInt); i += 1
            }
            cur.chunkOffsets = off
          case _ => () // ftyp/mdat/free/unknown: opaque, skip
        }
        p = bodyEnd
        if (p <= start) running = false // paranoia: forward progress
      }
    }
    try walk(0L, b.length.toLong, 0, null)
    catch { case scala.util.control.NonFatal(_) => () }
    traks.result()
  }

  /** Track metadata for an MP4 payload — the [[wav]]/[[decode]]
    * analog for the dominant real container: one [[Mp4Track]] per
    * trak (handler, codec, dims, duration ms, sample count); empty
    * for non-MP4 or metadata-free payloads. */
  def mp4Tracks(b: Array[Byte]): Seq[Mp4Track] =
    mp4Parse(b).map { t =>
      val ms =
        if (t.timescale > 0) t.duration * 1000L / t.timescale else 0L
      Mp4Track(t.handler, t.codec, t.width, t.height, ms, t.nSamples)
    }

  /** MJPEG-in-MP4 frame demux — the MP4 sibling of
    * [[aviMjpegFrames]]: resolves per-sample byte ranges of the FIRST
    * `vide` track whose sample-entry codec is `jpeg`/`mjpa`/`MJPG`
    * through the sample tables (stsc runs expand to per-chunk sample
    * counts; offsets accumulate sizes within each chunk at stco/co64
    * anchors) and hands each sample to the caller as a complete JPEG.
    * A sample range that leaves the payload ends the walk with the
    * frames that fully resolved (truncation containment); total
    * extracted bytes are capped (a crafted table repeating one huge
    * range must bound, not OOM — the cap counts only KEPT samples).
    * `step` keeps every step-th sample without byte-copying the
    * skipped ones (offsets advance from the size table for free). */
  def mp4JpegSamples(b: Array[Byte], step: Int = 1): Seq[Array[Byte]] = {
    require(step >= 1, s"step must be >= 1: $step")
    val jpegCodecs = Set("jpeg", "mjpa", "MJPG")
    mp4Parse(b).find(t => t.handler == "vide" && jpegCodecs(t.codec) &&
        t.chunkOffsets != null && t.stscRuns != null &&
        (t.fixedSize > 0L || t.sizes != null)) match {
      case None => Seq.empty
      case Some(t) =>
        val out = Seq.newBuilder[Array[Byte]]
        val nSamples =
          if (t.fixedSize > 0L) t.nSamples
          else t.sizes.length.toLong
        var copied = 0L
        val copyCap = 256L * 1024 * 1024
        var sample = 0L
        var run = 0
        var chunk = 0
        var ok = true
        while (ok && chunk < t.chunkOffsets.length && sample < nSamples) {
          // samples-per-chunk for 1-based chunk index from the stsc runs
          while (run + 1 < t.stscRuns.length &&
            t.stscRuns(run + 1)._1 <= chunk + 1L) run += 1
          val spc =
            if (t.stscRuns.isEmpty) 0L else t.stscRuns(run)._2
          var off = t.chunkOffsets(chunk)
          var s = 0L
          while (ok && s < spc && sample < nSamples) {
            val size =
              if (t.fixedSize > 0L) t.fixedSize
              else t.sizes(sample.toInt)
            val keep = sample % step == 0L
            if (size < 0 || off < 0 || off + size > b.length ||
              (keep && copied + size > copyCap)) ok = false
            else {
              if (keep) {
                out += java.util.Arrays.copyOfRange(b, off.toInt, (off + size).toInt)
                copied += size
              }
              off += size
              sample += 1
              s += 1
            }
          }
          chunk += 1
        }
        out.result()
    }
  }

  private val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** PNG: 8-byte signature, then chunks; IHDR MUST be first (spec) —
    * width/height are its first 8 data bytes. */
  private def png(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b.length < 24) return None
    var i = 0
    while (i < 8) { if ((b(i) & 0xff) != pngSig(i)) return None; i += 1 }
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
    if (be32(b, 8) < 8) return None // IHDR data holds at least the dims
    val w = be32(b, 16); val h = be32(b, 20)
    if (w < 1 || h < 1 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some(("png", w.toInt, h.toInt))
  }

  /** PNG PIXEL decode — pure JVM (`java.util.zip.Inflater` is in the
    * JDK; the IDAT stream is zlib): signature + chunk walk collecting
    * every IDAT, inflate, per-scanline UNFILTER (all five PNG filter
    * types: None/Sub/Up/Average/Paeth), grayscale out. Supports bit
    * depth 8, color types 0 (grayscale, 1 byte/px), 2 (RGB → integer
    * luma (77R+150G+29B)>>8) and 6 (RGBA — alpha ignored, same luma);
    * no interlace. Anything else — and any malformed stream — returns
    * None (the P14 containment stance: a corrupt image is DATA).
    * Returns (width, height, row-major gray bytes). */
  def pngGrayPixels(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    try {
      if (b.length < 33) return None
      var i = 0
      while (i < 8) { if ((b(i) & 0xff) != pngSig(i)) return None; i += 1 }
      if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
      val w = be32(b, 16).toInt; val h = be32(b, 20).toInt
      val bitDepth = b(24) & 0xff; val colorType = b(25) & 0xff
      val interlace = b(28) & 0xff
      if (w < 1 || h < 1 || bitDepth != 8 || interlace != 0) return None
      val bpp = colorType match {
        case 0 => 1; case 2 => 3; case 6 => 4; case _ => return None
      }
      // guard pathological dims before allocating (w·h could overflow)
      if (w.toLong * h.toLong * bpp > 256L * 1024 * 1024) return None
      // chunk walk: concatenate IDAT bodies in order
      val idat = new java.io.ByteArrayOutputStream()
      var p = 8
      var done = false
      while (!done && p + 8 <= b.length) {
        val len = be32(b, p).toInt
        if (len < 0 || p + 12 + len > b.length) return None
        val ctype = new String(b.slice(p + 4, p + 8), "US-ASCII")
        if (ctype == "IDAT") idat.write(b, p + 8, len)
        if (ctype == "IEND") done = true
        p += 12 + len
      }
      val compressed = idat.toByteArray
      if (compressed.isEmpty) return None
      val stride = w * bpp
      val raw = new Array[Byte](h * (1 + stride))
      val inf = new java.util.zip.Inflater()
      inf.setInput(compressed)
      var off = 0
      while (!inf.finished() && off < raw.length) {
        val n = inf.inflate(raw, off, raw.length - off)
        // n == 0 while unfinished covers truncation (needsInput) AND
        // a preset-dictionary stream (FDICT — needsDictionary, which
        // needsInput does NOT report): both are malformed for PNG
        // (the spec forbids FDICT) and looping on either spins forever
        if (n == 0) { inf.end(); return None }
        off += n
      }
      inf.end()
      if (off < raw.length) return None
      // unfilter in place into `px` (h × stride)
      val px = new Array[Byte](h * stride)
      def paeth(a: Int, bb: Int, c: Int): Int = {
        val pp = a + bb - c
        val pa = math.abs(pp - a); val pb = math.abs(pp - bb); val pc = math.abs(pp - c)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
      }
      var y = 0
      while (y < h) {
        val ft = raw(y * (1 + stride)) & 0xff
        val rowIn = y * (1 + stride) + 1
        val rowOut = y * stride
        var x = 0
        while (x < stride) {
          val cur = raw(rowIn + x) & 0xff
          val left = if (x >= bpp) px(rowOut + x - bpp) & 0xff else 0
          val up = if (y > 0) px(rowOut - stride + x) & 0xff else 0
          val ul = if (y > 0 && x >= bpp) px(rowOut - stride + x - bpp) & 0xff else 0
          val v = ft match {
            case 0 => cur
            case 1 => cur + left
            case 2 => cur + up
            case 3 => cur + (left + up) / 2
            case 4 => cur + paeth(left, up, ul)
            case _ => return None
          }
          px(rowOut + x) = (v & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val gray =
        if (bpp == 1) px
        else {
          val g = new Array[Byte](w * h)
          var i2 = 0
          while (i2 < w * h) {
            val o = i2 * bpp
            g(i2) = (((77 * (px(o) & 0xff) + 150 * (px(o + 1) & 0xff) +
              29 * (px(o + 2) & 0xff)) >> 8) & 0xff).toByte
            i2 += 1
          }
          g
        }
      Some((w, h, gray))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** JPEG PIXEL decode — the Huffman entropy decoder
    * ([[JpegDecode.lumaPixels]]: baseline/extended-sequential AND
    * progressive (SOF2) profiles, Huffman + dequant + IDCT, pure JVM),
    * luma plane out. Anything outside those profiles — and any
    * malformed stream — returns None (P14 containment). */
  def jpegLumaPixels(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    JpegDecode.lumaPixels(b)

  /** JPEG: SOI, then marker segments; the SOFn frame header (C0–CF
    * minus C4/C8/CC) carries height @+3, width @+5 of its payload. */
  private def jpeg(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var p = 2
    while (p + 3 < b.length) {
      if ((b(p) & 0xff) != 0xff) return None // lost marker sync
      var m = b(p + 1) & 0xff
      while (m == 0xff && p + 2 < b.length) { p += 1; m = b(p + 1) & 0xff } // fill bytes
      if (m == 0xd9 || m == 0xda) return None // EOI / SOS before any SOF
      if (m >= 0xd0 && m <= 0xd7) { p += 2 } // standalone RSTn
      else {
        if (p + 3 >= b.length) return None
        val len = be16(b, p + 2)
        if (len < 2 || p + 2 + len > b.length) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 7) return None
          val h = be16(b, p + 5); val w = be16(b, p + 7)
          return if (w < 1 || h < 1) None else Some(("jpeg", w, h))
        }
        p += 2 + len
      }
    }
    None
  }
}
