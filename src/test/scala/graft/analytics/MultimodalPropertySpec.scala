package graft.analytics

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the pure-JVM binary container parsers — the P14
  * containment stance as an invariant: NO input, however malformed,
  * may throw; well-formed containers round-trip exactly. Pure JVM (no
  * Spark session needed — the parsers are the per-row kernels of the
  * per-payload decode operators). */
class MultimodalPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.from(0)
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
      .take(n).toSeq

  private val bytesGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))

  test("wav round-trips every synthesizable parameter combination") {
    val params = for {
      ch <- Gen.chooseNum(1, 8)
      rate <- Gen.oneOf(8000, 11025, 16000, 22050, 44100, 48000, 96000, 192000)
      bits <- Gen.oneOf(8, 16, 24, 32)
      n <- Gen.chooseNum(0, 300)
    } yield (ch, rate, bits, n)
    samples(params, 200).foreach { case (ch, rate, bits, n) =>
      val data = Array.tabulate[Byte](n)(i => (i % 251).toByte)
      val meta = MediaDecode.wav(Multimodal.wavBytes(ch, rate, bits, data))
      assert(meta.contains(WavMeta(ch, rate, bits, n.toLong)),
        s"round-trip failed for ch=$ch rate=$rate bits=$bits n=$n")
    }
  }

  test("wav never throws: arbitrary bytes, corrupted headers, any truncation") {
    samples(bytesGen, 300).foreach { b =>
      MediaDecode.wav(b) // None or Some, never a throw
    }
    val wf = Multimodal.wavBytes(2, 44100, 16, Array.tabulate[Byte](64)(_.toByte))
    // every truncation point of a well-formed container
    (0 to wf.length).foreach { cut => MediaDecode.wav(wf.take(cut)) }
    // every single-byte corruption of the header region
    (0 until 44).foreach { i =>
      val c = wf.clone(); c(i) = (c(i) ^ 0x5a).toByte
      MediaDecode.wav(c)
    }
  }

  test("image decode never throws on arbitrary or truncated input") {
    samples(bytesGen, 300).foreach(b => MediaDecode.decode(b))
    val png = Multimodal.pngBytes(640, 480)
    val jpg = Multimodal.jpegBytes(640, 480)
    (0 to png.length).foreach(cut => MediaDecode.decode(png.take(cut)))
    (0 to jpg.length).foreach(cut => MediaDecode.decode(jpg.take(cut)))
  }

  test("png pixel decode: round-trips both zlib levels byte-differently; never throws on corruption") {
    val gray = Multimodal.synthGray(42L, 24, 16)
    val p1 = Multimodal.pngBytesGray(24, 16, gray, level = 1)
    val p9 = Multimodal.pngBytesGray(24, 16, gray, level = 9)
    assert(!java.util.Arrays.equals(p1, p9),
      "levels 1 and 9 must produce different bytes (the re-encode fixture)")
    for (p <- Seq(p1, p9)) {
      val Some((w, h, g)) = MediaDecode.pngGrayPixels(p)
      assert(w == 24 && h == 16)
      assert(java.util.Arrays.equals(g, gray), "pixels must round-trip exactly")
    }
    // containment: every truncation + arbitrary bytes, None not throw
    (0 to p1.length).foreach(cut => MediaDecode.pngGrayPixels(p1.take(cut)))
    samples(bytesGen, 300).foreach(b => MediaDecode.pngGrayPixels(b))
    // header-only PNG (no IDAT) and JPEG are None — not perceptual input
    assert(MediaDecode.pngGrayPixels(Multimodal.pngBytes(8, 8)).isEmpty)
    assert(MediaDecode.pngGrayPixels(Multimodal.jpegBytes(8, 8)).isEmpty)
    // FDICT regression: a zlib stream demanding a preset dictionary
    // (header 0x78 0xBB — checksum-valid, FDICT bit set; forbidden in
    // PNG) makes Inflater return 0 with needsInput()==false — must be
    // None, never an infinite loop
    val fdict = {
      val good = p1
      // splice a poisoned IDAT in place of the real one
      val o = new java.io.ByteArrayOutputStream()
      o.write(good, 0, 8 + 25) // sig + IHDR
      val bad = Array[Byte](0x78.toByte, 0xBB.toByte, 1, 2, 3, 4)
      def u32(v: Long): Unit = {
        o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
        o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
      }
      u32(bad.length.toLong)
      val tagged = "IDAT".getBytes("ASCII") ++ bad
      o.write(tagged)
      val crc = new java.util.zip.CRC32(); crc.update(tagged); u32(crc.getValue)
      u32(0); o.write("IEND".getBytes("ASCII")); u32(0xae426082L)
      o.toByteArray
    }
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var res: Option[(Int, Int, Array[Byte])] = Some((-1, -1, Array()))
    val th = new Thread(() => { res = MediaDecode.pngGrayPixels(fdict); done.countDown() })
    th.setDaemon(true); th.start()
    assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "FDICT stream must not hang the decoder")
    assert(res.isEmpty, s"FDICT stream must decode to None: $res")
  }

  test("png unfilter: all five filter types reconstruct; RGB converts via integer luma") {
    // hand-build a 4x5 grayscale PNG using filter type y per row (0..4)
    // and check the decode against the reference pixels
    val w = 4; val h = 5
    val px = Array.tabulate[Byte](w * h)(i => ((i * 37 + 11) % 251).toByte)
    def buildPng(raw: Array[Byte], width: Int, height: Int,
                 colorType: Int): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def u32(v: Long): Unit = {
        o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
        o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
      }
      def chunk(t: String, d: Array[Byte]): Unit = {
        u32(d.length.toLong)
        val tagged = t.getBytes("ASCII") ++ d
        o.write(tagged)
        val crc = new java.util.zip.CRC32(); crc.update(tagged); u32(crc.getValue)
      }
      o.write(Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ih = new java.io.ByteArrayOutputStream()
      def i32(v: Int): Unit = { ih.write(v >> 24); ih.write((v >> 16) & 0xff)
        ih.write((v >> 8) & 0xff); ih.write(v & 0xff) }
      i32(width); i32(height); ih.write(8); ih.write(colorType)
      ih.write(0); ih.write(0); ih.write(0)
      chunk("IHDR", ih.toByteArray)
      val defl = new java.util.zip.Deflater(6)
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](raw.length + 64)
      val z = new java.io.ByteArrayOutputStream()
      while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
      defl.end()
      chunk("IDAT", z.toByteArray); chunk("IEND", Array.empty)
      o.toByteArray
    }
    // reference FORWARD filters (PNG spec) applied per row, bpp=1
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val ft = y % 5
      raw.write(ft)
      for (x <- 0 until w) {
        val cur = px(y * w + x) & 0xff
        val left = if (x > 0) px(y * w + x - 1) & 0xff else 0
        val up = if (y > 0) px((y - 1) * w + x) & 0xff else 0
        val ul = if (y > 0 && x > 0) px((y - 1) * w + x - 1) & 0xff else 0
        val f = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, ul)
        }
        raw.write(f & 0xff)
      }
    }
    val Some((dw, dh, g)) = MediaDecode.pngGrayPixels(buildPng(raw.toByteArray, w, h, 0))
    assert(dw == w && dh == h)
    assert(java.util.Arrays.equals(g, px),
      s"all-filter decode mismatch: ${g.toSeq} vs ${px.toSeq}")
    // RGB (color type 2): luma = (77R + 150G + 29B) >> 8
    val rgb = Array[Byte](
      0, // filter byte, then 2 px: (255,0,0), (0,255,0)
      255.toByte, 0, 0, 0, 255.toByte, 0)
    val Some((w2, h2, g2)) = MediaDecode.pngGrayPixels(buildPng(rgb, 2, 1, 2))
    assert(w2 == 2 && h2 == 1)
    assert((g2(0) & 0xff) == (77 * 255) >> 8 && (g2(1) & 0xff) == (150 * 255) >> 8)
  }

  test("dHash64: exactly invariant to re-encoding and pixel-doubling; distinct patterns differ") {
    val gray = Multimodal.synthGray(7L, 24, 16)
    val d0 = Multimodal.dHash64(gray, 24, 16)
    // pixel-doubled image (nearest): floor(floor(2t)/2) = floor(t)
    val doubled = new Array[Byte](48 * 32)
    for (y <- 0 until 32; x <- 0 until 48)
      doubled(y * 48 + x) = gray((y / 2) * 24 + x / 2)
    assert(Multimodal.dHash64(doubled, 48, 32) == d0,
      "dHash must be exactly invariant to 2x upscaling")
    // different doc patterns give different hashes (docId enters
    // multiplicatively — the all-same-gradient trap is the thing
    // synthGray is built to avoid)
    val others = (0L until 40L).map(i =>
      Multimodal.dHash64(Multimodal.synthGray(i, 24, 16), 24, 16))
    assert(others.distinct.size > 30, s"dHashes collapse: ${others.distinct.size}")
  }

  test("wavPcmMono: 8/16-bit decode round-trips; identical stereo channels downmix to the mono signal") {
    val src = Multimodal.synthToneSamples(11L)
    // 16-bit mono: decode within one quantization step of the input
    val m16 = MediaDecode.wavPcmMono(Multimodal.wavBytes(1, 8000, 16,
      Multimodal.pcmQuantize(src, 16, 1.0, 1))).get
    assert(m16._1 == 8000 && m16._2.length == src.length)
    assert(src.indices.forall(i => math.abs(m16._2(i) - src(i)) <= 1.0 / 32767),
      "16-bit decode drifted beyond one quantization step")
    // 8-bit mono: coarser, still within one step
    val m8 = MediaDecode.wavPcmMono(Multimodal.wavBytes(1, 8000, 8,
      Multimodal.pcmQuantize(src, 8, 1.0, 1))).get
    assert(src.indices.forall(i => math.abs(m8._2(i) - src(i)) <= 1.0 / 127))
    // stereo with identical channels decodes EXACTLY the mono signal
    val st = MediaDecode.wavPcmMono(Multimodal.wavBytes(2, 8000, 16,
      Multimodal.pcmQuantize(src, 16, 1.0, 2))).get
    assert(st._2.toSeq == m16._2.toSeq, "identical-channel downmix must be exact")
  }

  test("audio fingerprint: exactly invariant to gain, bit depth and channel layout; distinct docs differ") {
    def fp(docId: Long, gain: Double, bits: Int, ch: Int): Long = {
      val wav = Multimodal.wavBytes(ch, 8000, bits,
        Multimodal.pcmQuantize(Multimodal.synthToneSamples(docId), bits, gain, ch))
      val (sr, s) = MediaDecode.wavPcmMono(wav).get
      Multimodal.audioFingerprint64(sr, s).get
    }
    (0L until 50L).foreach { id =>
      val base = fp(id, 1.0, 8, 1)
      assert(fp(id, 0.5, 16, 2) == base,
        s"doc $id: re-gained/re-quantized/stereo rendering drifted")
      assert(fp(id, 0.25, 16, 1) == base, s"doc $id: quiet rendering drifted")
    }
    // pure gain invariance is EXACT on unquantized samples for
    // power-of-two gains (binary FP scaling is lossless)
    val raw = Multimodal.synthToneSamples(3L)
    val scaled = raw.map(_ * 0.5)
    assert(Multimodal.audioFingerprint64(8000, raw) ==
      Multimodal.audioFingerprint64(8000, scaled))
    // distinct docs give (near-)unique fingerprints — the mixed-coin
    // sequence space; a collapse here would make the band join
    // quadratic at SF
    val fps = (0L until 50L).map(fp(_, 1.0, 8, 1))
    assert(fps.distinct.size == 50, s"fingerprints collapse: ${fps.distinct.size}")
  }

  test("audio fingerprint: exactly invariant to sample rate (22.05/44.1/48 kHz re-renders), distinctness preserved") {
    // the SAME 0.18 s recording rendered on denser sample grids, with
    // the re-export modes stacked on (16-bit, stereo, gain 0.5) —
    // the internal 8 kHz resample must normalize frame boundaries and
    // Goertzel bins so every gradient sign survives: 0 flips, measured
    // over the full 400-doc fixture corpus before being pinned here
    def fp(docId: Long, sr: Int, bits: Int, gain: Double, ch: Int): Long = {
      val n = (1440L * sr / 8000).toInt
      val wav = Multimodal.wavBytes(ch, sr, bits,
        Multimodal.pcmQuantize(Multimodal.synthToneSamples(docId, n, sr),
          bits, gain, ch))
      val (s, x) = MediaDecode.wavPcmMono(wav).get
      Multimodal.audioFingerprint64(s, x).get
    }
    (0L until 100L).foreach { id =>
      val base = fp(id, 8000, 8, 1.0, 1)
      Seq(22050, 44100, 48000).foreach { sr =>
        assert(fp(id, sr, 16, 0.5, 2) == base,
          s"doc $id: $sr Hz re-render flipped bits")
      }
    }
    // the resample path must not collapse the fingerprint space (the
    // linear-doc_id lesson: a collapse makes the band join quadratic)
    val fps = (0L until 100L).map(fp(_, 44100, 16, 1.0, 1))
    assert(fps.distinct.size == 100, s"fingerprints collapse: ${fps.distinct.size}")
    // a rate where floor(1440·sr/8000) is NOT a multiple of 9: the
    // fixture's sample count floors to one on the driver instead of
    // throwing inside the UDF (round-16 review finding); no invariance
    // claim here — the clip duration rounds slightly differently
    val n11 = 9 * (160L * 11025 / 8000).toInt
    assert(n11 % 9 == 0 && n11 > 0)
    val wav11 = Multimodal.wavBytes(1, 11025, 16,
      Multimodal.pcmQuantize(Multimodal.synthToneSamples(3L, n11, 11025), 16, 1.0, 1))
    val (sr11, x11) = MediaDecode.wavPcmMono(wav11).get
    assert(Multimodal.audioFingerprint64(sr11, x11).isDefined,
      "11025 Hz fixture must fingerprint, not crash")
    // 8 kHz input takes the IDENTITY path: byte-compatible with every
    // prior round's persisted fingerprints
    val raw = Multimodal.synthToneSamples(5L)
    assert(Multimodal.audioFingerprint64(8000, raw) ==
      Multimodal.audioFingerprint64(8000, raw.clone()))
    // resampler shape: length floors to n·out/in, endpoints clamp
    val r = Multimodal.resampleLinear(Array(0.0, 1.0), 8000, 16000)
    assert(r.length == 4 && r(0) == 0.0 && r(1) == 0.5 && r(2) == 1.0 && r(3) == 1.0,
      s"linear resample drifted: ${r.toSeq}")
  }

  test("wavPcmMono declines non-linear-PCM formats instead of decoding companded bytes as linear") {
    // forge a mu-law WAV: same RIFF frame, fmt format tag 7 — decoding
    // its companded bytes as linear PCM would silently fingerprint
    // garbage (the scaladoc's None contract)
    val wav = Multimodal.wavBytes(1, 8000, 8,
      Multimodal.pcmQuantize(Multimodal.synthToneSamples(4L), 8, 1.0, 1))
    assert(MediaDecode.wavPcmMono(wav).isDefined)
    val mulaw = wav.clone()
    mulaw(20) = 7 // fmt body byte 0 (LE low byte of the format tag)
    assert(MediaDecode.wavPcmMono(mulaw).isEmpty,
      "format tag 7 (mu-law) must not decode as linear PCM")
    // the metadata walk stays format-agnostic (mm_audio_features
    // reports container facts, not sample semantics)
    assert(MediaDecode.wav(mulaw).isDefined)
  }

  test("WAVE_FORMAT_EXTENSIBLE wrapping linear PCM decodes; wrapping mu-law declines") {
    // many encoders emit 16-bit PCM under the extensible container
    // (tag 0xFFFE, real format in the SubFormat GUID at fmt body+24) —
    // a blanket tag!=1 rejection silently dropped those clips
    val src = Multimodal.synthToneSamples(6L)
    val data = Multimodal.pcmQuantize(src, 16, 1.0, 1)
    def extensibleWav(subTag: Int): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def u16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
      def u32(v: Long): Unit = { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
      def tag(s: String): Unit = o.write(s.getBytes("US-ASCII"))
      tag("RIFF"); u32(4 + 8 + 40 + 8 + data.length); tag("WAVE")
      tag("fmt "); u32(40L)
      u16(0xfffe); u16(1); u32(8000L); u32(16000L); u16(2); u16(16) // base 16
      u16(22) // cbSize
      u16(16); u32(0x4L) // valid bits + channel mask
      // SubFormat GUID: first two bytes are the effective format tag
      u16(subTag); u16(0)
      o.write(Array[Int](0x10, 0x00, 0x80, 0x00, 0x00, 0xaa, 0x00, 0x38,
        0x9b, 0x71).map(_.toByte))
      o.write(Array[Byte](0, 0)) // pad GUID to 16 bytes... (12 so far)
      tag("data"); u32(data.length.toLong); o.write(data)
      o.toByteArray
    }
    val pcm = MediaDecode.wavPcmMono(extensibleWav(1))
    assert(pcm.isDefined, "extensible linear PCM must decode")
    val direct = MediaDecode.wavPcmMono(Multimodal.wavBytes(1, 8000, 16, data)).get
    assert(pcm.get._2.toSeq == direct._2.toSeq,
      "extensible PCM must decode to the same samples as the plain container")
    assert(MediaDecode.wavPcmMono(extensibleWav(7)).isEmpty,
      "extensible mu-law must still decline")
  }

  test("audio fingerprint declines too-short clips and sub-Nyquist rates; decode never throws") {
    // top band 2828.4 Hz needs sr > 5657
    assert(Multimodal.audioFingerprint64(4000,
      Multimodal.synthToneSamples(1L, 1440, 4000)).isEmpty)
    assert(Multimodal.audioFingerprint64(8000, new Array[Double](100)).isEmpty)
    // containment: corruption + truncation sweeps over a real WAV
    val wav = Multimodal.wavBytes(1, 8000, 16,
      Multimodal.pcmQuantize(Multimodal.synthToneSamples(2L), 16, 1.0, 1))
    (0 until wav.length by 13).foreach { n =>
      MediaDecode.wavPcmMono(java.util.Arrays.copyOf(wav, n))
    }
    (0 until wav.length by 17).foreach { i =>
      val c = wav.clone(); c(i) = (c(i) + 91).toByte
      MediaDecode.wavPcmMono(c)
    }
    samples(bytesGen, 200).foreach(MediaDecode.wavPcmMono(_))
  }

  test("aviMjpegFrames: demuxes movi 00dc chunks exactly; container-invariant fingerprint; containment") {
    def jpegFrame(seed: Long): Array[Byte] = Multimodal.jpegBytesGrayEncoded(
      24, 16, Multimodal.synthGray(seed, 24, 16), 0.9f)
    val frames = (0L until 3L).map(jpegFrame)
    val avi = Multimodal.aviMjpegBytes(frames, 24, 16)
    val got = MediaDecode.aviMjpegFrames(avi)
    assert(got.size == 3, s"demuxed ${got.size} frames")
    got.zip(frames).zipWithIndex.foreach { case ((g, f), i) =>
      assert(java.util.Arrays.equals(g, f), s"frame $i bytes drifted")
    }
    // the perceptual identity is CONTAINER-invariant: the same frames
    // in GVID and AVI fingerprint identically (the dispatch seam)
    assert(Multimodal.videoFingerprint64(avi) ==
      Multimodal.videoFingerprint64(Multimodal.videoBytes(frames)),
      "GVID and AVI of the same frames must fingerprint identically")
    // JUNK padding + progressive frame re-encode: bytes differ, the
    // fingerprint does not (the mm_avi_neardup planted-copy guarantee)
    val reExport = Multimodal.aviMjpegBytes(
      (0L until 3L).map(s => Multimodal.jpegBytesGrayEncoded(
        24, 16, Multimodal.synthGray(s, 24, 16), 0.9f, progressive = true)),
      24, 16, junk = 64)
    assert(!java.util.Arrays.equals(avi, reExport))
    assert(Multimodal.videoFingerprint64(avi) ==
      Multimodal.videoFingerprint64(reExport),
      "progressive re-export in a padded container must fingerprint identically")
    // non-AVI payloads yield no frames; truncation returns the frames
    // that fully parsed, never an exception
    assert(MediaDecode.aviMjpegFrames("notriff".getBytes).isEmpty)
    assert(MediaDecode.aviMjpegFrames(Array.empty[Byte]).isEmpty)
    (0 until avi.length by 13).foreach { n =>
      val part = MediaDecode.aviMjpegFrames(java.util.Arrays.copyOf(avi, n))
      assert(part.size <= 3)
      part.foreach(f => assert(frames.exists(java.util.Arrays.equals(f, _)),
        "a truncated walk must never emit a frame that was not in the container"))
    }
    (0 until avi.length by 17).foreach { i =>
      val c = avi.clone(); c(i) = (c(i) + 55).toByte
      MediaDecode.aviMjpegFrames(c) // no throw
    }
    // ADVERSARIAL DEPTH containment: ~60k nested LIST headers — a
    // recursive walk would StackOverflowError (an Error, outside
    // NonFatal, poisoning the whole task); the iterative walk must
    // return cleanly (regression: round-16 review finding)
    val deep = new java.io.ByteArrayOutputStream()
    deep.write("RIFF".getBytes("US-ASCII"))
    val n = 60000
    def le(v: Long, o: java.io.ByteArrayOutputStream): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    le(4L + n * 12L, deep)
    deep.write("AVI ".getBytes("US-ASCII"))
    (0 until n).foreach { i =>
      deep.write("LIST".getBytes("US-ASCII"))
      le((n - i - 1) * 12L + 4L, deep)
      deep.write("movi".getBytes("US-ASCII"))
    }
    assert(MediaDecode.aviMjpegFrames(deep.toByteArray).isEmpty,
      "deeply nested LISTs must parse to no frames, never overflow the stack")
  }

  test("jpeg EXIF: parse exactness both endiannesses, lossless scrub, containment") {
    val base = Multimodal.jpegBytesGrayEncoded(24, 16,
      Multimodal.synthGray(9L, 24, 16), 0.9f)
    def inject(app1: Array[Byte]): Array[Byte] =
      base.take(2) ++ app1 ++ base.drop(2)
    // little-endian fixture: closed-form sizes + exact field round-trip
    assert(Multimodal.exifApp1(3, None).length == 36)
    val app1 = Multimodal.exifApp1(6, Some((51, 122)))
    assert(app1.length == 150)
    val withExif = inject(app1)
    val m = MediaDecode.jpegExif(withExif).get
    assert(m.orientation.contains(6) && m.gpsLat.contains(51.0) &&
      m.gpsLon.contains(122.0), s"exif drifted: $m")
    assert(MediaDecode.jpegExif(base).isEmpty)
    // big-endian (MM) TIFF: hand-built orientation-only IFD
    val mm = new java.io.ByteArrayOutputStream()
    def be16(v: Int): Unit = { mm.write((v >> 8) & 0xff); mm.write(v & 0xff) }
    def be32(v: Long): Unit = { be16((v >> 16).toInt); be16((v & 0xffff).toInt) }
    mm.write("MM".getBytes("US-ASCII")); be16(42); be32(8L)
    be16(1) // one entry
    be16(0x0112); be16(3); be32(1L); be16(5); be16(0) // orientation 5
    be32(0L)
    val tiffMm = mm.toByteArray
    val segMm = new java.io.ByteArrayOutputStream()
    segMm.write(0xff); segMm.write(0xe1)
    val len = 2 + 6 + tiffMm.length
    segMm.write((len >> 8) & 0xff); segMm.write(len & 0xff)
    segMm.write("Exif".getBytes("US-ASCII")); segMm.write(0); segMm.write(0)
    segMm.write(tiffMm)
    val mMm = MediaDecode.jpegExif(inject(segMm.toByteArray))
    assert(mMm.get.orientation.contains(5) && mMm.get.gpsLat.isEmpty,
      s"big-endian parse drifted: $mMm")
    // scrub: segment-exact removal, EXIF gone, pixels BIT-identical
    val stripped = MediaDecode.jpegStripMetadata(withExif).get
    assert(withExif.length - stripped.length == 150)
    assert(MediaDecode.jpegExif(stripped).isEmpty)
    assert(java.util.Arrays.equals(
      MediaDecode.jpegLumaPixels(withExif).get._3,
      MediaDecode.jpegLumaPixels(stripped).get._3),
      "scrub must be pixel-identical")
    // PARTIAL corruption fails closed per SECTION, not per file: a
    // nuked GPS IFD count must not erase the readable orientation (the
    // audit must never pass a tagged image as clean because an
    // unrelated entry is corrupt)
    val corrupt = withExif.clone()
    // tiff starts at app1Start+10; gps IFD count sits at tiff+38 (LE)
    val app1Start = 2
    corrupt(app1Start + 10 + 38) = 0xff.toByte
    corrupt(app1Start + 10 + 39) = 0xff.toByte
    val pm = MediaDecode.jpegExif(corrupt)
    assert(pm.isDefined && pm.get.orientation.contains(6),
      s"orientation must survive a corrupt GPS IFD: $pm")
    // APP14 Adobe (color transform) is RETAINED — dropping it changes
    // rendered colors on Adobe-transform JPEGs; a non-Adobe APP14 drops
    def app(m: Int, sig: String): Array[Byte] = {
      val body = sig.getBytes("US-ASCII") ++ Array.fill[Byte](6)(1)
      Array(0xff.toByte, m.toByte,
        (((body.length + 2) >> 8) & 0xff).toByte,
        ((body.length + 2) & 0xff).toByte) ++ body
    }
    val withAdobe = inject(app(0xee, "Adobe") ++ app(0xee, "NOSIG") ++
      app(0xe2, "ICC_PROFILE") ++ app(0xe2, "MPF"))
    val strippedA = MediaDecode.jpegStripMetadata(withAdobe).get
    def count(hay: Array[Byte], needle: String): Int =
      new String(hay, java.nio.charset.StandardCharsets.ISO_8859_1)
        .sliding(needle.length).count(_ == needle)
    assert(count(strippedA, "Adobe") == 1, "Adobe APP14 must be retained")
    assert(count(strippedA, "ICC_PROFILE") == 1, "ICC APP2 must be retained")
    assert(count(strippedA, "NOSIG") == 0 && count(strippedA, "MPF") == 0,
      "non-Adobe APP14 / non-ICC APP2 must drop")
    // TRAILER truncation: a motion-photo-style blob appended after EOI
    // must not ship in the scrubbed bytes
    val motion = withExif ++ "EMBEDDED-MP4-VIDEO-BYTES".getBytes("US-ASCII")
    val strippedM = MediaDecode.jpegStripMetadata(motion).get
    assert(count(strippedM, "EMBEDDED-MP4") == 0,
      "post-EOI trailer must be truncated")
    assert(java.util.Arrays.equals(
      MediaDecode.jpegLumaPixels(motion).get._3,
      MediaDecode.jpegLumaPixels(strippedM).get._3))
    // containment: truncation/corruption sweeps never throw
    (0 to withExif.length by 7).foreach { cut =>
      val part = java.util.Arrays.copyOf(withExif, cut)
      MediaDecode.jpegExif(part); MediaDecode.jpegStripMetadata(part)
    }
    (0 until withExif.length by 5).foreach { i =>
      val c = withExif.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.jpegExif(c); MediaDecode.jpegStripMetadata(c)
    }
  }

  test("flac vorbis keys fold to ASCII uppercase (the Turkish-I trap, documented)") {
    // mutating the JVM default locale here would RACE concurrently
    // running suites (sbt runs them in parallel in one forked JVM), so
    // this pins (a) that the trap is real and (b) that lowercase keys
    // fold to plain ASCII — the implementation uses Locale.ROOT, which
    // is what makes (b) hold on EVERY JVM locale
    val tr = new java.util.Locale("tr", "TR")
    assert("title".toUpperCase(tr) != "TITLE",
      "the Turkish dotted-I trap should exist (sanity)")
    val tone = Multimodal.synthToneSamples(5L, 1440, 8000)
    val tagged = Multimodal.flacBytes(1, 8000, 8,
      Multimodal.pcmQuantizeInt(tone, 8, 1.0, 1), 512,
      comments = Seq("artist" -> "x", "title" -> "y"))
    val tags = MediaDecode.flacVorbisComments(tagged).get
    assert(tags.map(_._1) == Seq("ARTIST", "TITLE"),
      s"keys must fold to ASCII uppercase, got ${tags.map(_._1)}")
  }

  test("flac decode: lossless identity across every subframe path, WAV-twin bit equality, fingerprint invariance") {
    val tone = Multimodal.synthToneSamples(42L, 1440, 8000)
    // encode∘decode is the identity on the quantized ints through
    // every subframe path the decoder has: constant-in-auto, verbatim,
    // fixed 0–4 (Rice), LPC (coefs [2,−1] ≡ fixed2 arithmetic)
    for (mode <- Seq("auto", "verbatim", "fixed0", "fixed1", "fixed2",
        "fixed3", "fixed4", "lpc2")) {
      val ints = Multimodal.pcmQuantizeInt(tone, 8, 1.0, 1)
      val flac = Multimodal.flacBytes(1, 8000, 8, ints, blockSize = 256,
        mode = mode)
      val dec = MediaDecode.flacPcmMono(flac)
      assert(dec.isDefined, s"$mode: decode failed")
      val (sr, s) = dec.get
      assert(sr == 8000 &&
        s.map(v => math.round(v * 128).toInt).sameElements(ints),
        s"$mode: samples drifted")
    }
    // wasted-bits subframe (all-even samples encoded one bit narrower)
    val evens = Multimodal.pcmQuantizeInt(tone, 8, 1.0, 1).map(v => (v >> 1) << 1)
    val (_, sw) = MediaDecode.flacPcmMono(
      Multimodal.flacBytes(1, 8000, 8, evens, 256, "fixed1w")).get
    assert(sw.map(v => math.round(v * 128).toInt).sameElements(evens),
      "wasted-bits path drifted")
    // stereo decorrelation: left/side, right/side (side is channel 0),
    // mid/side (the lost bit rides the side LSB) — mono downmix must
    // equal the independent-channel downmix EXACTLY
    val n = tone.length
    val l = Multimodal.pcmQuantizeInt(tone, 16, 1.0, 1)
    val r = Multimodal.pcmQuantizeInt(tone, 16, 0.5, 1)
    val inter = new Array[Int](2 * n)
    (0 until n).foreach { i => inter(2 * i) = l(i); inter(2 * i + 1) = r(i) }
    val wantMono = (0 until n).map(i => (l(i) + r(i)) / 2.0 / 32768.0).toArray
    for (mode <- Seq("auto", "leftside", "rightside", "midside")) {
      val (_, s) = MediaDecode.flacPcmMono(
        Multimodal.flacBytes(2, 8000, 16, inter, 240, mode)).get
      assert(s.length == n &&
        s.zip(wantMono).forall { case (a, b) => a == b },
        s"$mode: stereo downmix drifted")
    }
    // escape partitions: alternating extremes overflow every bounded
    // Rice parameter at order 4 — the raw-bits path must round-trip
    val alt = Array.tabulate(512)(i => if (i % 2 == 0) 32767 else -32767)
    val (_, se) = MediaDecode.flacPcmMono(
      Multimodal.flacBytes(1, 8000, 16, alt, 256, "fixed4")).get
    assert(se.map(v => math.round(v * 32768).toInt).sameElements(alt),
      "escape-partition path drifted")
    // the near-dup argument: a WAV and a FLAC of the same quantized
    // values decode to BIT-identical doubles (FLAC samples are signed
    // at every depth; pcmQuantizeInt mirrors pcmQuantize exactly), so
    // the fingerprints match across container, depth, gain, channels
    // and sample rate — the full re-render stack in one copy
    val wav = Multimodal.wavBytes(1, 8000, 8, Multimodal.pcmQuantize(tone, 8, 1.0, 1))
    val (srW, sW) = MediaDecode.wavPcmMono(wav).get
    val (srF, sF) = MediaDecode.flacPcmMono(
      Multimodal.flacBytes(1, 8000, 8, Multimodal.pcmQuantizeInt(tone, 8, 1.0, 1), 512)).get
    assert(srW == srF && sW.zip(sF).forall { case (a, b) => a == b },
      "WAV and FLAC twins must decode to bit-identical doubles")
    val fpW = Multimodal.audioFingerprint64(srW, sW)
    val n44 = 9 * (160 * 44100 / 8000)
    val tone44 = Multimodal.synthToneSamples(42L, n44, 44100)
    val (sr44, s44) = MediaDecode.flacPcmMono(Multimodal.flacBytes(2, 44100, 16,
      Multimodal.pcmQuantizeInt(tone44, 16, 0.5, 2), 4096)).get
    assert(Multimodal.audioFingerprint64(sr44, s44) == fpW && fpW.isDefined,
      "FLAC re-render (16-bit stereo gain-0.5 44.1 kHz) must fingerprint identically")
    // containment: truncation and corruption sweeps never throw;
    // non-FLAC returns None
    val flac = Multimodal.flacBytes(1, 8000, 8,
      Multimodal.pcmQuantizeInt(tone, 8, 1.0, 1), 512)
    (0 to flac.length by 7).foreach(cut =>
      MediaDecode.flacPcmMono(java.util.Arrays.copyOf(flac, cut)))
    (0 until flac.length by 5).foreach { i =>
      val c = flac.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.flacPcmMono(c)
    }
    assert(MediaDecode.flacPcmMono("noflac".getBytes).isEmpty)
    assert(MediaDecode.flacPcmMono(Array.empty[Byte]).isEmpty)
    // Vorbis tags: LE-inside-BE round-trip, lossless strip
    val ints = Multimodal.pcmQuantizeInt(tone, 8, 1.0, 1)
    val tagged = Multimodal.flacBytes(1, 8000, 8, ints, 512,
      comments = Seq("ARTIST" -> "someone", "TITLE" -> "x"))
    assert(MediaDecode.flacVorbisComments(tagged)
      .contains(Seq("ARTIST" -> "someone", "TITLE" -> "x")))
    assert(MediaDecode.flacVorbisComments(flac).isEmpty, "untagged reads None")
    val strippedF = MediaDecode.flacStripMetadata(tagged).get
    assert(MediaDecode.flacVorbisComments(strippedF).isEmpty)
    assert(java.util.Arrays.equals(
      MediaDecode.flacPcmMono(tagged).get._2.map(v => math.round(v * 128).toInt),
      MediaDecode.flacPcmMono(strippedF).get._2.map(v => math.round(v * 128).toInt)),
      "tag strip must be sample-identical")
    // untagged strip is byte-identical (STREAMINFO already last)
    assert(MediaDecode.flacStripMetadata(flac).get.sameElements(flac))
    (0 to tagged.length by 9).foreach { cut =>
      val part = java.util.Arrays.copyOf(tagged, cut)
      MediaDecode.flacVorbisComments(part); MediaDecode.flacStripMetadata(part)
    }
  }

  test("mp4 demux: sample round-trip both offset widths, track metadata, re-container invariance") {
    def jpegFrame(seed: Long): Array[Byte] = Multimodal.jpegBytesGrayEncoded(
      24, 16, Multimodal.synthGray(seed, 24, 16), 0.9f)
    val frames = (10L until 13L).map(jpegFrame)
    // stco (32-bit) and co64 (64-bit) chunk-offset tables must resolve
    // the identical sample bytes
    for (wide <- Seq(false, true)) {
      val mp4 = Multimodal.mp4MjpegBytes(frames, 24, 16, co64 = wide)
      val got = MediaDecode.mp4JpegSamples(mp4)
      assert(got.size == 3, s"co64=$wide demuxed ${got.size}")
      got.zip(frames).zipWithIndex.foreach { case ((g, f), i) =>
        assert(java.util.Arrays.equals(g, f), s"co64=$wide sample $i drifted")
      }
      // track metadata from the same tables (mdhd timescale 25)
      assert(MediaDecode.mp4Tracks(mp4) ==
        Seq(MediaDecode.Mp4Track("vide", "jpeg", 24, 16, 3L * 1000 / 25, 3L)))
    }
    val mp4 = Multimodal.mp4MjpegBytes(frames, 24, 16)
    // the perceptual identity is CONTAINER-invariant across all three
    // walks (GVID fixture, AVI demux, MP4 sample tables)
    assert(Multimodal.videoFingerprint64(mp4) ==
      Multimodal.videoFingerprint64(Multimodal.videoBytes(frames)))
    assert(Multimodal.videoFingerprint64(mp4) ==
      Multimodal.videoFingerprint64(Multimodal.aviMjpegBytes(frames, 24, 16)),
      "AVI and MP4 of the same frames must fingerprint identically")
    // free-box pad + progressive frame re-encode: bytes differ
    // thoroughly, fingerprint identical (the mm_mp4_neardup guarantee)
    val reExport = Multimodal.mp4MjpegBytes(
      (10L until 13L).map(s => Multimodal.jpegBytesGrayEncoded(
        24, 16, Multimodal.synthGray(s, 24, 16), 0.9f, progressive = true)),
      24, 16, freePad = 64)
    assert(!java.util.Arrays.equals(mp4, reExport))
    assert(Multimodal.videoFingerprint64(mp4) ==
      Multimodal.videoFingerprint64(reExport))
  }

  test("mp4 demux: truncation/corruption containment, largesize box, adversarial depth bound") {
    val frames = (0 until 4).map(i =>
      Array.tabulate[Byte](20 + i)(j => (j * 7 + i).toByte))
    val mp4 = Multimodal.mp4MjpegBytes(frames, 100, 50)
    def be32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
      o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
    }
    // every truncation parses to a prefix-consistent state, never throws
    (0 to mp4.length by 7).foreach { cut =>
      val part = java.util.Arrays.copyOf(mp4, cut)
      assert(MediaDecode.mp4JpegSamples(part).size <= 4)
      MediaDecode.mp4Tracks(part)
    }
    (0 until mp4.length by 11).foreach { i =>
      val c = mp4.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.mp4JpegSamples(c); MediaDecode.mp4Tracks(c) // no throw
    }
    // 64-bit largesize: re-head the trailing moov box as size==1 +
    // largesize (no absolute offsets inside moov shift — stco points
    // into the unchanged mdat), the walk must read it identically
    val moovLen = {
      // the writer emits ftyp/mdat/moov; moov is the last box — find it
      var p = 0; var last = 0
      while (p + 8 <= mp4.length) {
        last = p
        val sz = ((mp4(p) & 0xffL) << 24) | ((mp4(p + 1) & 0xffL) << 16) |
          ((mp4(p + 2) & 0xffL) << 8) | (mp4(p + 3) & 0xffL)
        p += sz.toInt
      }
      (last, mp4.length - last)
    }
    val (moovAt, mlen) = moovLen
    val wide = new java.io.ByteArrayOutputStream()
    wide.write(mp4, 0, moovAt)
    be32(wide, 1L); wide.write("moov".getBytes("US-ASCII"))
    be32(wide, 0L); be32(wide, mlen.toLong + 8) // largesize = body + 16-hdr
    wide.write(mp4, moovAt + 8, mlen - 8)
    val viaLarge = MediaDecode.mp4JpegSamples(wide.toByteArray)
    assert(viaLarge.size == 4 &&
      viaLarge.zip(frames).forall { case (a, b) => a.sameElements(b) },
      "largesize moov must parse identically")
    // adversarial nesting: 100k nested moov headers must bound (depth
    // cap), not overflow the stack — the aviMjpegFrames discipline
    val deep = new java.io.ByteArrayOutputStream()
    be32(deep, 16L); deep.write("ftyp".getBytes("US-ASCII"))
    be32(deep, 0L); be32(deep, 0L)
    val n = 100000
    (0 until n).foreach { i =>
      be32(deep, (n - i) * 8L); deep.write("moov".getBytes("US-ASCII"))
    }
    assert(MediaDecode.mp4Tracks(deep.toByteArray).isEmpty,
      "deeply nested boxes must parse to no tracks, never overflow")
    assert(MediaDecode.mp4JpegSamples("notmp4!!".getBytes).isEmpty)
    // a crafted sample table repeating ONE huge in-bounds range must
    // hit the 256 MiB copy cap, not OOM: hand-rolled moov whose stco
    // lists 1000 chunks all at the same offset and stsz declares a
    // fixed 1 MiB sample size — every range is in-bounds, so only the
    // cap stops the walk at 256 copies
    val mib = 1 << 20
    def bx(tp: String)(fill: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val body = new java.io.ByteArrayOutputStream()
      fill(body)
      val bb = body.toByteArray
      val o = new java.io.ByteArrayOutputStream()
      be32(o, 8L + bb.length); o.write(tp.getBytes("US-ASCII")); o.write(bb)
      o.toByteArray
    }
    val ftyp = bx("ftyp") { o =>
      o.write("isom".getBytes("US-ASCII")); be32(o, 0L)
      o.write("isom".getBytes("US-ASCII"))
    }
    val mdat = bx("mdat")(o => o.write(new Array[Byte](mib + 16)))
    val sampleOff = ftyp.length.toLong + 8L
    val moov = bx("moov") { o =>
      o.write(bx("trak") { t =>
        t.write(bx("mdia") { md =>
          md.write(bx("hdlr") { h =>
            be32(h, 0L); be32(h, 0L)
            h.write("vide".getBytes("US-ASCII"))
            (0 until 3).foreach(_ => be32(h, 0L)); h.write(0)
          })
          md.write(bx("minf") { mi =>
            mi.write(bx("stbl") { st =>
              st.write(bx("stsd") { s =>
                be32(s, 0L); be32(s, 1L)
                s.write(bx("jpeg") { e =>
                  (0 until 6).foreach(_ => e.write(0))
                  e.write(0); e.write(1)
                  (0 until 4).foreach(_ => be32(e, 0L))
                })
              })
              st.write(bx("stsc") { s =>
                be32(s, 0L); be32(s, 1L)
                be32(s, 1L); be32(s, 1L); be32(s, 1L) // 1 sample/chunk
              })
              st.write(bx("stsz") { s =>
                be32(s, 0L); be32(s, mib.toLong); be32(s, 1000L) // fixed 1 MiB
              })
              st.write(bx("stco") { s =>
                be32(s, 0L); be32(s, 1000L)
                (0 until 1000).foreach(_ => be32(s, sampleOff))
              })
            })
          })
        })
      })
    }
    val huge = new java.io.ByteArrayOutputStream()
    huge.write(ftyp); huge.write(mdat); huge.write(moov)
    val capped = MediaDecode.mp4JpegSamples(huge.toByteArray)
    assert(capped.size == 256,
      s"copy cap must stop at 256 MiB of 1 MiB samples: got ${capped.size}")
    // the no-copy property of stepping, pinned through the SAME cap:
    // true skip-without-copy charges only KEPT samples against the cap
    // (reaches 256 kept = 512 walked); a copy-then-filter regression
    // would charge every walked sample and stop at 128 kept
    val cappedStep = MediaDecode.mp4JpegSamples(huge.toByteArray, step = 2)
    assert(cappedStep.size == 256,
      s"skipped samples must not charge the copy cap: got ${cappedStep.size}")
  }

  test("demux-level frame stepping: every step-th frame byte-identical, skipped frames never copied") {
    val frames = (0 until 7).map(i =>
      Array.tabulate[Byte](10 + i)(j => (j * 3 + i).toByte))
    val avi = Multimodal.aviMjpegBytes(frames, 24, 16)
    val mp4 = Multimodal.mp4MjpegBytes(frames, 24, 16)
    for (step <- Seq(1, 2, 3, 100)) {
      val want = frames.zipWithIndex.collect { case (f, i) if i % step == 0 => f }
      val gotA = MediaDecode.aviMjpegFrames(avi, step)
      val gotM = MediaDecode.mp4JpegSamples(mp4, step)
      assert(gotA.size == want.size &&
        gotA.zip(want).forall { case (a, b) => a.sameElements(b) },
        s"AVI step=$step drifted")
      assert(gotM.size == want.size &&
        gotM.zip(want).forall { case (a, b) => a.sameElements(b) },
        s"MP4 step=$step drifted")
    }
  }

  test("videoFingerprint64: majority pooling, re-encode invariance, thinning robustness, containment") {
    def clip(frames: Seq[Array[Byte]]): Array[Byte] = Multimodal.videoBytes(frames)
    def gray(seed: Long) = Multimodal.synthGray(seed, 24, 16)
    // strict-majority semantics on a hand pool: 2-of-3 frames share a
    // hash -> the pool IS that hash (the third can't flip any bit that
    // the two agree on... verify against a brute recomputation)
    val f1 = Multimodal.pngBytesGray(24, 16, gray(1), 1)
    val f2 = Multimodal.pngBytesGray(24, 16, gray(1), 9) // same pixels
    val f3 = Multimodal.pngBytesGray(24, 16, gray(99), 1)
    val d1 = Multimodal.dHash64(gray(1), 24, 16)
    val d3 = Multimodal.dHash64(gray(99), 24, 16)
    val pooled = Multimodal.videoFingerprint64(clip(Seq(f1, f2, f3))).get
    var want = 0L
    (0 until 64).foreach { k =>
      val c = Seq(d1, d1, d3).count(d => ((d >> k) & 1L) != 0L)
      if (2 * c > 3) want |= 1L << k
    }
    assert(pooled == want, "pool must be the strict per-bit majority")
    // per-frame re-encode invariance: every frame at a different zlib
    // level -> byte-different container, identical fingerprint
    val a = clip(Seq(gray(5), gray(6), gray(7)).map(g =>
      Multimodal.pngBytesGray(24, 16, g, 1)))
    val b = clip(Seq(gray(5), gray(6), gray(7)).map(g =>
      Multimodal.pngBytesGray(24, 16, g, 9)))
    assert(!java.util.Arrays.equals(a, b))
    assert(Multimodal.videoFingerprint64(a) == Multimodal.videoFingerprint64(b))
    // thinning robustness holds for TEMPORALLY CORRELATED frames (real
    // video): consecutive frames share all but one row of pixels, so
    // per-frame hashes nearly agree and majorities survive an
    // every-2nd-frame sample. (On UNRELATED stills majorities are
    // near-ties and thinning measured 16/64 flipped bits — correct:
    // that clip has no single perceptual identity. The scaladoc states
    // the condition.)
    val baseG = gray(40)
    val frames6 = (0 until 6).map { i =>
      val g = baseG.clone()
      val alt = gray(41)
      System.arraycopy(alt, (i % 16) * 24, g, (i % 16) * 24, 24)
      Multimodal.pngBytesGray(24, 16, g, 5)
    }
    val full = Multimodal.videoFingerprint64(clip(frames6)).get
    val thin = Multimodal.videoFingerprint64(
      clip(frames6.zipWithIndex.collect { case (f, i) if i % 2 == 0 => f })).get
    assert(java.lang.Long.bitCount(full ^ thin) <= 3,
      s"thinned clip drifted ${java.lang.Long.bitCount(full ^ thin)} bits")
    // the frameStep knob IS that thinning, done in-place (the demux
    // yields boundaries without decoding — only every k-th frame's
    // pixel decode runs): step-2 over the full clip must equal the
    // hand-thinned clip exactly, and the correlated bound carries over
    assert(Multimodal.videoFingerprint64(clip(frames6), frameStep = 2)
      .contains(thin), "frameStep=2 must equal the hand-thinned pool")
    val step3 = Multimodal.videoFingerprint64(clip(frames6), frameStep = 3).get
    assert(java.lang.Long.bitCount(full ^ step3) <= 3,
      s"step-3 pool drifted ${java.lang.Long.bitCount(full ^ step3)} bits")
    // frame-aligned copies (re-exports) thin to the SAME indices: the
    // planted-pair Hamming stays 0 at any step
    assert(Multimodal.videoFingerprint64(a, frameStep = 2) ==
      Multimodal.videoFingerprint64(b, frameStep = 2),
      "re-encoded copies must stay identical under thinning")
    // step beyond the frame count degenerates to frame 0 only, not None
    assert(Multimodal.videoFingerprint64(clip(frames6), frameStep = 100)
      .contains(Multimodal.videoFingerprint64(clip(frames6.take(1))).get))
    // containment: no decodable frame -> None; corruption never throws
    assert(Multimodal.videoFingerprint64(
      clip(Seq("not a png".getBytes("UTF-8")))).isEmpty)
    assert(Multimodal.videoFingerprint64(Array[Byte](1, 2, 3)).isEmpty)
    (0 until a.length by 11).foreach { i =>
      val c = a.clone(); c(i) = (c(i) + 53).toByte
      Multimodal.videoFingerprint64(c)
    }
  }

  test("png text chunks: parse exactness, scrub closed-form + idempotent, trailer truncation, containment") {
    val gray = Multimodal.synthGray(7L, 24, 16)
    val base = Multimodal.pngBytesGray(24, 16, gray)
    val t1 = Multimodal.pngTextChunk("Author", "alice")
    val t2 = Multimodal.pngTextChunk("Comment", "hi")
    // closed-form chunk size: 12 overhead + keyword + NUL + value
    assert(t1.length == 12 + 6 + 1 + 5)
    def inject(extra: Array[Byte]*): Array[Byte] =
      Multimodal.pngWithChunksAfterIhdr(base, extra: _*)
    val tagged = inject(t1, t2)
    assert(MediaDecode.pngTextChunks(tagged)
      .contains(Seq("Author" -> "alice", "Comment" -> "hi")))
    assert(MediaDecode.pngTextChunks(base).contains(Seq.empty),
      "untagged PNG reads an EMPTY chunk list, not None")
    assert(MediaDecode.pngTextChunks("not a png".getBytes).isEmpty)
    // keyword-only chunk (missing NUL separator): keyword = whole body
    val noNul = {
      val body = "Software".getBytes("ISO-8859-1")
      val o = new java.io.ByteArrayOutputStream()
      def u32(v: Long): Unit = {
        o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
        o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
      }
      u32(body.length.toLong)
      val t = "tEXt".getBytes("US-ASCII") ++ body
      o.write(t)
      val crc = new java.util.zip.CRC32(); crc.update(t); u32(crc.getValue)
      o.toByteArray
    }
    assert(MediaDecode.pngTextChunks(inject(noNul))
      .contains(Seq("Software" -> "")), "NUL-less tEXt keeps the keyword")
    // scrub: closed-form removal, text gone, pixels identical, idempotent
    val stripped = MediaDecode.pngStripMetadata(tagged).get
    assert(tagged.length - stripped.length == t1.length + t2.length,
      "bytes_removed must be exactly the injected chunk sizes")
    assert(MediaDecode.pngTextChunks(stripped).contains(Seq.empty))
    assert(java.util.Arrays.equals(
      MediaDecode.pngGrayPixels(tagged).get._3,
      MediaDecode.pngGrayPixels(stripped).get._3),
      "scrub must be pixel-identical")
    assert(MediaDecode.pngStripMetadata(stripped).get.sameElements(stripped),
      "scrub must be idempotent")
    // post-IEND trailing bytes (motion-photo-style trailer) TRUNCATE
    val motion = tagged ++ "EMBEDDED-TRAILER-BYTES".getBytes("US-ASCII")
    val strippedM = MediaDecode.pngStripMetadata(motion).get
    assert(!new String(strippedM, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("EMBEDDED-TRAILER"), "post-IEND trailer must be truncated")
    assert(strippedM.sameElements(stripped))
    // containment: truncation + corruption sweeps never throw
    (0 to tagged.length).foreach { cut =>
      val part = java.util.Arrays.copyOf(tagged, cut)
      MediaDecode.pngTextChunks(part); MediaDecode.pngStripMetadata(part)
    }
    (0 until tagged.length by 5).foreach { i =>
      val c = tagged.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.pngTextChunks(c); MediaDecode.pngStripMetadata(c)
    }
    samples(bytesGen, 200).foreach { b =>
      MediaDecode.pngTextChunks(b); MediaDecode.pngStripMetadata(b)
    }
  }

  test("png zTXt/iTXt/eXIf: full metadata surface, fail-closed values, cHRM retention") {
    val gray = Multimodal.synthGray(11L, 24, 16)
    val base = Multimodal.pngBytesGray(24, 16, gray)
    def inject(extra: Array[Byte]*): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(base, 0, 33); extra.foreach(o.write)
      o.write(base, 33, base.length - 33)
      o.toByteArray
    }
    // zTXt: stored-block zlib closed form + real inflate round-trip
    val z = Multimodal.pngZtxtChunk("Description", "hello world")
    assert(z.length == 12 + 11 + 2 + 11 + 11, "zTXt closed-form size drifted")
    // iTXt uncompressed + a DEFLATE-compressed iTXt variant (compFlag 1)
    val it = Multimodal.pngItxtChunk("Title", "héllo")
    val itC = {
      val text = "compressed-text".getBytes("UTF-8")
      val d = new java.util.zip.Deflater()
      d.setInput(text); d.finish()
      val buf = new Array[Byte](256)
      val zo = new java.io.ByteArrayOutputStream()
      while (!d.finished()) zo.write(buf, 0, d.deflate(buf))
      d.end()
      Multimodal.pngChunkBytes("iTXt",
        "Note".getBytes("ISO-8859-1") ++ Array[Byte](0, 1, 0, 0, 0) ++ zo.toByteArray)
    }
    val tagged = inject(z, it, itC)
    assert(MediaDecode.pngTextChunks(tagged).contains(Seq(
      "Description" -> "hello world", "Title" -> "héllo",
      "Note" -> "compressed-text")),
      s"got ${MediaDecode.pngTextChunks(tagged)}")
    // FAIL-CLOSED: a zTXt whose zlib stream is garbage still reports
    // the KEYWORD (presence) with an empty value — never hides it
    val corruptZ = z.clone()
    corruptZ(12 + 13) = 0x55 // flip inside the zlib body
    // fix the CRC so the chunk walk keeps it (corruption inside the
    // value, not the container)
    val fixed = {
      val data = java.util.Arrays.copyOfRange(corruptZ, 8, corruptZ.length - 4)
      Multimodal.pngChunkBytes("zTXt", data)
    }
    assert(MediaDecode.pngTextChunks(inject(fixed))
      .contains(Seq("Description" -> "")), "corrupt zTXt must keep the keyword")
    // eXIf: the shared TIFF walk on the PNG side — orientation + GPS
    val ex = Multimodal.pngChunkBytes("eXIf",
      Multimodal.exifTiffBody(6, Some((51, 122))))
    assert(ex.length == 12 + 140, "eXIf closed-form size drifted")
    val withExif = inject(ex)
    val m = MediaDecode.pngExif(withExif).get
    assert(m.orientation.contains(6) && m.gpsLat.contains(51.0) &&
      m.gpsLon.contains(122.0), s"png exif drifted: $m")
    assert(MediaDecode.pngExif(base).isEmpty, "no eXIf chunk reads None")
    assert(MediaDecode.pngExif("not a png".getBytes).isEmpty)
    // scrub: eXIf + text chunks drop; cHRM and sBIT are RETAINED
    // (color interpretation without sRGB/iCCP — the Adobe-APP14
    // lesson applied to PNG); pixels identical
    val chrm = Multimodal.pngChunkBytes("cHRM", Array.tabulate[Byte](32)(i => (i * 9).toByte))
    val sbit = Multimodal.pngChunkBytes("sBIT", Array[Byte](8))
    val full = inject(chrm, sbit, z, it, ex)
    val stripped = MediaDecode.pngStripMetadata(full).get
    assert(full.length - stripped.length == z.length + it.length + ex.length,
      "scrub must remove exactly the metadata chunks and retain cHRM/sBIT")
    def hasChunk(png: Array[Byte], t: String): Boolean =
      new String(png, java.nio.charset.StandardCharsets.ISO_8859_1).contains(t)
    assert(hasChunk(stripped, "cHRM") && hasChunk(stripped, "sBIT"))
    assert(MediaDecode.pngExif(stripped).isEmpty &&
      MediaDecode.pngTextChunks(stripped).contains(Seq.empty))
    assert(java.util.Arrays.equals(
      MediaDecode.pngGrayPixels(full).get._3,
      MediaDecode.pngGrayPixels(stripped).get._3))
    // per-SECTION fail-closed on the eXIf TIFF: corrupt the GPS IFD
    // entry count — orientation must survive
    val exBody = Multimodal.exifTiffBody(6, Some((51, 122)))
    // gps IFD starts at offset 38 in the LE body (same layout as the
    // JPEG spec's app1Start+10+38); nuke its entry count
    exBody(38) = 0xff.toByte; exBody(39) = 0xff.toByte
    val pm = MediaDecode.pngExif(inject(Multimodal.pngChunkBytes("eXIf", exBody)))
    assert(pm.isDefined && pm.get.orientation.contains(6),
      s"orientation must survive a corrupt GPS IFD: $pm")
    // containment: truncation + corruption sweeps never throw
    (0 to full.length by 7).foreach { cut =>
      val part = java.util.Arrays.copyOf(full, cut)
      MediaDecode.pngTextChunks(part); MediaDecode.pngExif(part)
      MediaDecode.pngStripMetadata(part)
    }
    (0 until full.length by 5).foreach { i =>
      val c = full.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.pngTextChunks(c); MediaDecode.pngExif(c)
      MediaDecode.pngStripMetadata(c)
    }
  }

  test("mp3 screen + ID3: header walk exactness, encodings, v2.4 syncsafe, verbatim scrub, containment") {
    val frames = Multimodal.mp3Frames(3, 42L)
    assert(frames.length == 3 * 576)
    val m0 = MediaDecode.mp3Meta(frames).get
    assert(m0.version == 1 && m0.sampleRate == 32000 &&
      m0.bitrateKbps == 128 && m0.channels == 1 && m0.nFrames == 3 &&
      m0.durationMs == 108 && !m0.vbr && m0.id3v2Bytes == 0 && !m0.id3v1,
      s"frame walk drifted: $m0")
    // VBR: a 160 kbps frame (idx 10 -> 720 B at 32 kHz) after a 128 k one
    val vbrBytes = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(frames, 0, 576)
      o.write(0xff); o.write(0xfb); o.write(0xa8); o.write(0xc0)
      (4 until 720).foreach(i => o.write(i & 0xff))
      o.toByteArray
    }
    val mv = MediaDecode.mp3Meta(vbrBytes).get
    assert(mv.nFrames == 2 && mv.vbr && mv.bitrateKbps == 128,
      s"vbr detection drifted: $mv")
    // MPEG-2: verBits 2 (0xF3), 22.05 kHz idx 0, 80 kbps idx 9 ->
    // flen = 72*80000/22050 = 261, 576 samples -> 26 ms
    val m2bytes = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0xff); o.write(0xf3); o.write(0x90); o.write(0xc0)
      (4 until 261).foreach(i => o.write(i & 0xff))
      o.toByteArray
    }
    val m2 = MediaDecode.mp3Meta(m2bytes).get
    assert(m2.version == 2 && m2.sampleRate == 22050 &&
      m2.bitrateKbps == 80 && m2.nFrames == 1 &&
      m2.durationMs == 576L * 1000 / 22050, s"MPEG-2 walk drifted: $m2")
    // ID3v2.3 fixture round-trip: TPE1/TIT2/TXXX + v1 trailer
    val tag = Multimodal.id3v2Bytes("someone", "a title",
      Some(("geo", "lat=3;lon=4")))
    val v1 = Multimodal.id3v1Bytes("a title", "someone", "an album")
    val full = tag ++ frames ++ v1
    val mt = MediaDecode.mp3Meta(full).get
    assert(mt.id3v2Bytes == tag.length && mt.id3v1 && mt.nFrames == 3,
      s"tagged walk drifted: $mt")
    assert(MediaDecode.mp3Id3Frames(full).contains(Seq(
      "TPE1" -> "someone", "TIT2" -> "a title", "TXXX:geo" -> "lat=3;lon=4",
      "ID3v1.title" -> "a title", "ID3v1.artist" -> "someone",
      "ID3v1.album" -> "an album")),
      s"id3 frames drifted: ${MediaDecode.mp3Id3Frames(full)}")
    assert(MediaDecode.mp3Id3Frames(frames).isEmpty, "untagged reads None")
    // UTF-16 (BOM) and UTF-8 text encodings; v2.4 SYNCSAFE frame size
    def v24tag(enc: Int, text: Array[Byte]): Array[Byte] = {
      val body = Array(enc.toByte) ++ text
      val o = new java.io.ByteArrayOutputStream()
      o.write("ID3".getBytes("US-ASCII")); o.write(4); o.write(0); o.write(0)
      val n = 10 + body.length
      o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
      o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
      o.write("TIT2".getBytes("US-ASCII"))
      o.write((body.length >> 21) & 0x7f); o.write((body.length >> 14) & 0x7f)
      o.write((body.length >> 7) & 0x7f); o.write(body.length & 0x7f)
      o.write(0); o.write(0)
      o.write(body)
      o.toByteArray
    }
    val u16 = v24tag(1, "tïtle".getBytes("UTF-16")) // BOM-carrying
    assert(MediaDecode.mp3Id3Frames(u16 ++ frames)
      .contains(Seq("TIT2" -> "tïtle")), "UTF-16 text drifted")
    val u8 = v24tag(3, "tïtle".getBytes("UTF-8"))
    assert(MediaDecode.mp3Id3Frames(u8 ++ frames)
      .contains(Seq("TIT2" -> "tïtle")), "UTF-8 / v2.4 syncsafe drifted")
    // REGRESSION (review find): v2.4 version major is byte 3 — with a
    // frame >= 128 bytes the syncsafe and plain encodings DIVERGE
    // (syncsafe 0x0100 = 128 vs plain 256); a version check reading
    // the revision byte walks past the big frame misaligned and a
    // TXXX geo frame AFTER it goes unreported (privacy fail-open)
    val bigThenGeo = {
      val bigBody = Array(0.toByte) ++
        Array.fill[Byte](199)('x'.toByte) // 200-byte frame, > 127
      val geoBody = Array(0.toByte) ++ "geo".getBytes("ISO-8859-1") ++
        Array(0.toByte) ++ "lat=9".getBytes("ISO-8859-1")
      def frame24(id: String, body: Array[Byte]): Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(id.getBytes("US-ASCII"))
        o.write((body.length >> 21) & 0x7f); o.write((body.length >> 14) & 0x7f)
        o.write((body.length >> 7) & 0x7f); o.write(body.length & 0x7f)
        o.write(0); o.write(0); o.write(body)
        o.toByteArray
      }
      val frames24 = frame24("TIT2", bigBody) ++ frame24("TXXX", geoBody)
      val o = new java.io.ByteArrayOutputStream()
      o.write("ID3".getBytes("US-ASCII")); o.write(4); o.write(0); o.write(0)
      val n = frames24.length
      o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
      o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
      o.write(frames24)
      o.toByteArray
    }
    val bg = MediaDecode.mp3Id3Frames(bigThenGeo ++ frames).get
    assert(bg.contains("TXXX:geo" -> "lat=9"),
      s"v2.4 syncsafe sizing must keep the walk aligned past a 128+B frame: $bg")
    // v2.3 EXTENDED header (flag 0x40): frames after it still report
    val extHdr = {
      val inner = tag.drop(10) // the v2.3 frames of the fixture tag
      val eh = Array[Byte](0, 0, 0, 6, 0, 0, 0, 0, 0, 0) // size 6 + body
      val o = new java.io.ByteArrayOutputStream()
      o.write("ID3".getBytes("US-ASCII")); o.write(3); o.write(0); o.write(0x40)
      val n = eh.length + inner.length
      o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
      o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
      o.write(eh); o.write(inner)
      o.toByteArray
    }
    assert(MediaDecode.mp3Id3Frames(extHdr ++ frames).get
      .contains("TPE1" -> "someone"),
      "extended-header tags must still report their frames")
    // v2.3 global UNSYNC (flag 0x80): an 0xFF-carrying UTF-16 text is
    // FF-00 stuffed on disk; the de-stuffed walk recovers it
    val unsyncTag = {
      val text = "tïtle".getBytes("UTF-16") // BOM FE FF? JVM UTF-16 = BE BOM
      val body = Array(1.toByte) ++ text
      val frame = "TIT2".getBytes("US-ASCII") ++ Array[Byte](
        ((body.length >> 24) & 0xff).toByte, ((body.length >> 16) & 0xff).toByte,
        ((body.length >> 8) & 0xff).toByte, (body.length & 0xff).toByte,
        0, 0) ++ body
      // stuff: FF -> FF 00
      val stuffed = new java.io.ByteArrayOutputStream()
      frame.foreach { byt =>
        stuffed.write(byt & 0xff)
        if ((byt & 0xff) == 0xff) stuffed.write(0)
      }
      val sb = stuffed.toByteArray
      val o = new java.io.ByteArrayOutputStream()
      o.write("ID3".getBytes("US-ASCII")); o.write(3); o.write(0); o.write(0x80)
      val n = sb.length
      o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
      o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
      o.write(sb)
      o.toByteArray
    }
    assert(MediaDecode.mp3Id3Frames(unsyncTag ++ frames).get
      .contains("TIT2" -> "tïtle"),
      "v2.3 global unsync must de-stuff before the frame walk")
    // TXXX with UTF-16: the VALUE carries its own BOM — stripped
    val txxx16 = {
      val body = Array(1.toByte) ++ "geo".getBytes("UTF-16") ++
        Array[Byte](0, 0) ++ "lat=7".getBytes("UTF-16")
      val o = new java.io.ByteArrayOutputStream()
      o.write("ID3".getBytes("US-ASCII")); o.write(3); o.write(0); o.write(0)
      val n = 10 + body.length
      o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
      o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
      o.write("TXXX".getBytes("US-ASCII"))
      o.write((body.length >> 24) & 0xff); o.write((body.length >> 16) & 0xff)
      o.write((body.length >> 8) & 0xff); o.write(body.length & 0xff)
      o.write(0); o.write(0); o.write(body)
      o.toByteArray
    }
    val t16 = MediaDecode.mp3Id3Frames(txxx16 ++ frames).get
    assert(t16 == Seq("TXXX:geo" -> "lat=7"),
      s"UTF-16 TXXX value must lose its own BOM: $t16")
    // REGRESSION (review pass 2): the description and value may carry
    // BOMs of OPPOSITE endianness — each half decodes independently
    val txxxMixed = {
      val desc = Array[Byte](0xfe.toByte, 0xff.toByte, 0, 'g', 0, 'e', 0, 'o')
      val value = Array[Byte](0xff.toByte, 0xfe.toByte,
        'l', 0, 'a', 0, 't', 0, '=', 0, '9', 0) // LE with LE BOM
      val body = Array(1.toByte) ++ desc ++ Array[Byte](0, 0) ++ value
      val o = new java.io.ByteArrayOutputStream()
      o.write("ID3".getBytes("US-ASCII")); o.write(3); o.write(0); o.write(0)
      val n = 10 + body.length
      o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
      o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
      o.write("TXXX".getBytes("US-ASCII"))
      o.write((body.length >> 24) & 0xff); o.write((body.length >> 16) & 0xff)
      o.write((body.length >> 8) & 0xff); o.write(body.length & 0xff)
      o.write(0); o.write(0); o.write(body)
      o.toByteArray
    }
    assert(MediaDecode.mp3Id3Frames(txxxMixed ++ frames).get ==
      Seq("TXXX:geo" -> "lat=9"),
      "opposite-endian BOMs in one TXXX frame must both decode")
    // REGRESSION (review pass 3): UTF-16BE (enc 2) and UTF-8 (enc 3)
    // charsets do NOT consume a BOM — real taggers emit them anyway;
    // the residual U+FEFF must not poison the TXXX:<desc> key lookup
    def rawTxxx(body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("ID3".getBytes("US-ASCII")); o.write(3); o.write(0); o.write(0)
      val n = 10 + body.length
      o.write((n >> 21) & 0x7f); o.write((n >> 14) & 0x7f)
      o.write((n >> 7) & 0x7f); o.write(n & 0x7f)
      o.write("TXXX".getBytes("US-ASCII"))
      o.write((body.length >> 24) & 0xff); o.write((body.length >> 16) & 0xff)
      o.write((body.length >> 8) & 0xff); o.write(body.length & 0xff)
      o.write(0); o.write(0); o.write(body)
      o.toByteArray
    }
    val be2 = rawTxxx(Array(2.toByte) ++
      Array[Byte](0xfe.toByte, 0xff.toByte, 0, 'g', 0, 'e', 0, 'o') ++
      Array[Byte](0, 0) ++
      Array[Byte](0xfe.toByte, 0xff.toByte, 0, 'l', 0, 'a', 0, 't'))
    assert(MediaDecode.mp3Id3Frames(be2 ++ frames).get ==
      Seq("TXXX:geo" -> "lat"), "enc-2 BOMs must strip from both halves")
    val u8bom = rawTxxx(Array(3.toByte) ++
      Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "geo".getBytes("UTF-8") ++ Array(0.toByte) ++ "lat=2".getBytes("UTF-8"))
    assert(MediaDecode.mp3Id3Frames(u8bom ++ frames).get ==
      Seq("TXXX:geo" -> "lat=2"), "a UTF-8 BOM must strip from the key")
    // fail-closed: a frame size overrunning the tag ends the walk with
    // the frames that parsed — presence is never hidden
    val overrun = tag.clone()
    // TPE1 declared size sits at offset 14 (v2.3 plain BE)
    overrun(14) = 0x7f.toByte
    val partial = MediaDecode.mp3Id3Frames(overrun ++ frames)
    assert(partial.isDefined, "corrupt tag must still report presence")
    // scrub: v2 block + v1 trailer drop, audio region byte-VERBATIM
    val stripped = MediaDecode.mp3StripId3(full).get
    assert(stripped.sameElements(frames), "scrub must keep frames verbatim")
    assert(full.length - stripped.length == tag.length + 128)
    assert(MediaDecode.mp3Id3Frames(stripped).isEmpty)
    assert(MediaDecode.mp3StripId3(frames).get.sameElements(frames),
      "untagged strip is byte-identical")
    assert(MediaDecode.mp3StripId3("garbage".getBytes).isEmpty,
      "no parseable frame -> None")
    // containment: truncation + corruption sweeps never throw
    (0 to full.length by 13).foreach { cut =>
      val part = java.util.Arrays.copyOf(full, cut)
      MediaDecode.mp3Meta(part); MediaDecode.mp3Id3Frames(part)
      MediaDecode.mp3StripId3(part)
    }
    (0 until full.length by 17).foreach { i =>
      val c = full.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.mp3Meta(c); MediaDecode.mp3Id3Frames(c)
      MediaDecode.mp3StripId3(c)
    }
    samples(bytesGen, 200).foreach { b =>
      MediaDecode.mp3Meta(b); MediaDecode.mp3Id3Frames(b)
      MediaDecode.mp3StripId3(b)
    }
  }

  test("ogg screen + comments: both codecs, CRC differential, in-place redaction, page-spanning packets, containment") {
    val comments = Seq("ARTIST" -> "someone", "TITLE" -> "a title",
      "GEO" -> "lat=3;lon=4")
    val vorb = Multimodal.oggBytes("vorbis", 1, 8000, comments, 3, 42L)
    val opus = Multimodal.oggBytes("opus", 2, 48000, comments, 2, 43L)
    // screen exactness, both codecs
    val mv = MediaDecode.oggMeta(vorb).get
    assert(mv.codec == "vorbis" && mv.channels == 1 && mv.sampleRate == 8000 &&
      mv.nPages == 5 && mv.lastGranule == 3072 && mv.durationMs == 384,
      s"vorbis screen drifted: $mv")
    val mo = MediaDecode.oggMeta(opus).get
    assert(mo.codec == "opus" && mo.channels == 2 && mo.sampleRate == 48000 &&
      mo.nPages == 4 && mo.lastGranule == 1920 && mo.durationMs == 40,
      s"opus screen drifted: $mo")
    // comments round-trip through the SHARED Vorbis-comment parser
    assert(MediaDecode.oggComments(vorb).contains(comments))
    assert(MediaDecode.oggComments(opus).contains(comments))
    assert(MediaDecode.oggComments(
      Multimodal.oggBytes("vorbis", 1, 8000, Nil, 1, 1L)).contains(Seq.empty))
    assert(MediaDecode.oggComments("not ogg".getBytes).isEmpty)
    // the Ogg CRC against an INDEPENDENT bitwise implementation
    def bitwiseCrc(b: Array[Byte]): Int = {
      var crc = 0
      b.foreach { byte =>
        crc ^= (byte & 0xff) << 24
        (0 until 8).foreach { _ =>
          crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04c11db7
                else crc << 1
        }
      }
      crc
    }
    samples(bytesGen, 50).foreach { b =>
      assert(MediaDecode.oggCrc(b, 0, b.length) == bitwiseCrc(b),
        "table CRC diverged from the bitwise reference")
    }
    assert(MediaDecode.oggCrcValid(vorb) && MediaDecode.oggCrcValid(opus),
      "fixture pages must carry valid CRCs")
    // redaction: same length, keys survive with BLANK values, audio
    // pages byte-verbatim, every CRC re-sealed
    val red = MediaDecode.oggRedactComments(vorb).get
    assert(red.length == vorb.length)
    val after = MediaDecode.oggComments(red).get
    assert(after.map(_._1) == comments.map(_._1) &&
      after.forall(_._2.trim.isEmpty), s"redaction drifted: $after")
    assert(MediaDecode.oggCrcValid(red), "touched pages must re-seal")
    assert(!new String(red, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("someone"), "the PII value must be gone")
    // audio pages (after the two header pages) byte-identical
    val headerSpan = {
      // page 2 starts after pages 0 and 1: find the third 'OggS'
      val s = new String(vorb, java.nio.charset.StandardCharsets.ISO_8859_1)
      val p1 = s.indexOf("OggS", 1)
      s.indexOf("OggS", p1 + 1)
    }
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(vorb, headerSpan, vorb.length),
      java.util.Arrays.copyOfRange(red, headerSpan, red.length)),
      "audio pages must be untouched")
    // a comment PACKET spanning two pages (lacing 255 continuation):
    // hand-rolled pages so the cross-page offset map is exercised
    val bigVal = "v" * 400
    val cm = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(3); o.write("vorbis".getBytes("US-ASCII"))
      o.write(Multimodal.vorbisCommentBytes("graft", Seq("ARTIST" -> bigVal)))
      o.write(1)
      o.toByteArray
    }
    val idPk = {
      // reuse the fixture's vorbis ID packet via a 0-audio-page file
      val whole = Multimodal.oggBytes("vorbis", 1, 8000, Nil, 1, 7L)
      val s = new String(whole, java.nio.charset.StandardCharsets.ISO_8859_1)
      java.util.Arrays.copyOfRange(whole, 0, s.indexOf("OggS", 1))
    }
    def rawPage(headerType: Int, seq: Long, lacing: Seq[Int],
                body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("OggS".getBytes("US-ASCII")); o.write(0); o.write(headerType)
      (0 until 8).foreach(_ => o.write(0))
      (0 until 4).foreach(k => o.write(((0x47524654L >> (8 * k)) & 0xff).toInt))
      (0 until 4).foreach(k => o.write(((seq >> (8 * k)) & 0xff).toInt))
      o.write(0); o.write(0); o.write(0); o.write(0)
      o.write(lacing.length); lacing.foreach(o.write)
      o.write(body)
      val page = o.toByteArray
      val crc = MediaDecode.oggCrc(page, 0, page.length)
      page(22) = (crc & 0xff).toByte; page(23) = ((crc >> 8) & 0xff).toByte
      page(24) = ((crc >> 16) & 0xff).toByte; page(25) = ((crc >> 24) & 0xff).toByte
      page
    }
    val split = 255 // first page carries one full 255 lacing run
    assert(cm.length - split < 255, "sanity: remainder fits one lacing value")
    val spanning = idPk ++
      rawPage(0, 1L, Seq(255), cm.take(split)) ++
      rawPage(1, 2L, Seq(cm.length - split), cm.drop(split))
    assert(MediaDecode.oggComments(spanning)
      .contains(Seq("ARTIST" -> bigVal)), "cross-page packet must parse")
    val redSpan = MediaDecode.oggRedactComments(spanning).get
    assert(MediaDecode.oggComments(redSpan).get.head._2.trim.isEmpty &&
      MediaDecode.oggCrcValid(redSpan),
      "cross-page redaction must blank and re-seal BOTH pages")
    // containment: truncation + corruption sweeps never throw
    (0 to vorb.length by 11).foreach { cut =>
      val part = java.util.Arrays.copyOf(vorb, cut)
      MediaDecode.oggMeta(part); MediaDecode.oggComments(part)
      MediaDecode.oggRedactComments(part); MediaDecode.oggCrcValid(part)
    }
    (0 until vorb.length by 7).foreach { i =>
      val c = vorb.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.oggMeta(c); MediaDecode.oggComments(c)
      MediaDecode.oggRedactComments(c)
    }
    samples(bytesGen, 200).foreach { b =>
      MediaDecode.oggMeta(b); MediaDecode.oggComments(b)
      MediaDecode.oggRedactComments(b)
    }
  }

  test("webp: both layout paths, VP8 lossy dims, exif via shared TIFF walk, flag-clearing scrub, containment") {
    // bare VP8L (simple layout) and VP8X (extended canvas) agree
    val bare = Multimodal.webpBytes(33, 21, None, None, extended = false, 5L)
    val mb = MediaDecode.webpMeta(bare).get
    assert(mb.format == "vp8l" && mb.width == 33 && mb.height == 21 &&
      !mb.hasExif && !mb.hasXmp && !mb.hasIccp, s"vp8l path drifted: $mb")
    val ext = Multimodal.webpBytes(33, 21, Some((6, (51, 122))),
      Some("some-xmp"), extended = true, 5L)
    val me = MediaDecode.webpMeta(ext).get
    assert(me.format == "vp8x" && me.width == 33 && me.height == 21 &&
      me.hasExif && me.hasXmp && me.hasIccp, s"vp8x path drifted: $me")
    // EXIF via the SHARED TIFF walk: same values as the JPEG/PNG paths
    val ex = MediaDecode.webpExif(ext).get
    assert(ex.orientation.contains(6) && ex.gpsLat.contains(51.0) &&
      ex.gpsLon.contains(122.0), s"webp exif drifted: $ex")
    assert(MediaDecode.webpExif(bare).isEmpty)
    // the VP8 LOSSY dims path (sync 9D 01 2A, 14-bit LE dims)
    val vp8 = {
      val body = new java.io.ByteArrayOutputStream()
      body.write(0); body.write(0); body.write(0) // frame tag
      body.write(0x9d); body.write(0x01); body.write(0x2a)
      body.write(320 & 0xff); body.write((320 >> 8) & 0x3f)
      body.write(240 & 0xff); body.write((240 >> 8) & 0x3f)
      val o = new java.io.ByteArrayOutputStream()
      val chunk = Multimodal.riffChunkBytes("VP8 ", body.toByteArray)
      o.write("RIFF".getBytes("US-ASCII"))
      val sz = 4 + chunk.length
      o.write(sz & 0xff); o.write((sz >> 8) & 0xff)
      o.write((sz >> 16) & 0xff); o.write((sz >> 24) & 0xff)
      o.write("WEBP".getBytes("US-ASCII")); o.write(chunk)
      o.toByteArray
    }
    val mv8 = MediaDecode.webpMeta(vp8).get
    assert(mv8.format == "vp8" && mv8.width == 320 && mv8.height == 240,
      s"vp8 lossy dims drifted: $mv8")
    // scrub: EXIF/XMP chunks drop, ICCP + VP8L verbatim, VP8X E/X
    // flag bits CLEARED, RIFF size rewritten
    val stripped = MediaDecode.webpStripMetadata(ext).get
    val m2 = MediaDecode.webpMeta(stripped).get
    assert(!m2.hasExif && !m2.hasXmp && m2.hasIccp &&
      m2.width == 33 && m2.height == 21, s"scrub drifted: $m2")
    assert(MediaDecode.webpExif(stripped).isEmpty)
    def count(hay: Array[Byte], needle: String): Int =
      new String(hay, java.nio.charset.StandardCharsets.ISO_8859_1)
        .sliding(needle.length).count(_ == needle)
    assert(count(stripped, "ICCP") == 1 && count(stripped, "VP8L") == 1)
    assert(count(stripped, "some-xmp") == 0)
    assert(MediaDecode.webpStripMetadata(stripped).get.sameElements(stripped),
      "scrub must be idempotent")
    // declared RIFF size tracks the new length
    assert((stripped.length - 8).toLong ==
      ((stripped(4) & 0xffL)) + ((stripped(5) & 0xffL) << 8) +
        ((stripped(6) & 0xffL) << 16) + ((stripped(7) & 0xffL) << 24))
    // REGRESSION (review find): several real writers keep the
    // JPEG-style 'Exif\0\0' preamble inside the WebP EXIF chunk — GPS
    // must still surface (fail-open otherwise)
    val preambled = {
      val tiff = Multimodal.exifTiffBody(6, Some((51, 122)))
      val body = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
      val chunk = Multimodal.riffChunkBytes("EXIF", body)
      val s = new String(ext, java.nio.charset.StandardCharsets.ISO_8859_1)
      val at = s.indexOf("EXIF")
      val plainLen = 8 + 140 // the fixture's bare-TIFF EXIF chunk
      val o = new java.io.ByteArrayOutputStream()
      o.write(ext, 0, at); o.write(chunk)
      o.write(ext, at + plainLen, ext.length - at - plainLen)
      val res = o.toByteArray
      val sz = res.length - 8
      res(4) = (sz & 0xff).toByte; res(5) = ((sz >> 8) & 0xff).toByte
      res(6) = ((sz >> 16) & 0xff).toByte; res(7) = ((sz >> 24) & 0xff).toByte
      res
    }
    assert(MediaDecode.webpExif(preambled).exists(m =>
      m.gpsLat.contains(51.0) && m.orientation.contains(6)),
      "Exif\\0\\0-preambled WebP EXIF must still parse")
    // REGRESSION (review find): a final ODD-length chunk without its
    // pad byte — the scrub must not zero-pad past the input (output
    // stays a byte-subsequence; bytes_removed never negative)
    val oddTail = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(bare, 0, bare.length)
      // append an odd-length unknown chunk WITHOUT the pad byte
      o.write("UNKN".getBytes("US-ASCII"))
      o.write(3); o.write(0); o.write(0); o.write(0)
      o.write("abc".getBytes("US-ASCII"))
      val res = o.toByteArray
      val sz = res.length - 8
      res(4) = (sz & 0xff).toByte; res(5) = ((sz >> 8) & 0xff).toByte
      res(6) = ((sz >> 16) & 0xff).toByte; res(7) = ((sz >> 24) & 0xff).toByte
      res
    }
    val sOdd = MediaDecode.webpStripMetadata(oddTail).get
    assert(sOdd.sameElements(oddTail),
      "an EXIF-free file must scrub to BYTE-IDENTICAL output (no " +
        "phantom pad byte past the input)")
    // containment
    (0 to ext.length by 7).foreach { cut =>
      val part = java.util.Arrays.copyOf(ext, cut)
      MediaDecode.webpMeta(part); MediaDecode.webpExif(part)
      MediaDecode.webpStripMetadata(part)
    }
    (0 until ext.length by 5).foreach { i =>
      val c = ext.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.webpMeta(c); MediaDecode.webpExif(c)
      MediaDecode.webpStripMetadata(c)
    }
    samples(bytesGen, 200).foreach { b =>
      MediaDecode.webpMeta(b); MediaDecode.webpExif(b)
      MediaDecode.webpStripMetadata(b)
    }
  }

  test("png/webp chunk walk: a declared length near 2^31 ends the walk with the parsed prefix, not None") {
    // an 8-byte chunk header whose length field reads 0x7FFFFFF0: the
    // offset + header + length sum leaves the Int range
    def hugeHeader(fourcc: String, bigEndian: Boolean): Array[Byte] = {
      val len = Array[Byte](0x7f, 0xff.toByte, 0xff.toByte, 0xf0.toByte)
      if (bigEndian) len ++ fourcc.getBytes("US-ASCII")
      else fourcc.getBytes("US-ASCII") ++ len.reverse
    }
    // PNG: tEXt + eXIf, then the header; IDAT/IEND sit past it
    val base = Multimodal.pngBytesGray(24, 16, Multimodal.synthGray(3L, 24, 16))
    val text = Multimodal.pngTextChunk("Author", "alice")
    val exif = Multimodal.pngChunkBytes("eXIf",
      Multimodal.exifTiffBody(6, Some((45, 90))))
    val png = Multimodal.pngWithChunksAfterIhdr(base, text, exif,
      hugeHeader("zzzz", bigEndian = true))
    // the same prefix with an honestly truncated tail: a chunk header
    // declaring more bytes than remain
    val honest = Multimodal.pngWithChunksAfterIhdr(base, text, exif,
      Array[Byte](0, 0, 0x10, 0) ++ "zzzz".getBytes("US-ASCII"))
    assert(MediaDecode.pngTextChunks(png).contains(Seq("Author" -> "alice")))
    assert(MediaDecode.pngTextChunks(png) == MediaDecode.pngTextChunks(honest))
    assert(MediaDecode.pngExif(png).contains(
      MediaDecode.ExifMeta(Some(6), Some(45.0), Some(90.0))))
    val pngClean = MediaDecode.pngStripMetadata(png)
    assert(pngClean.isDefined, "the scrub must run over the parsed prefix")
    assert(MediaDecode.pngTextChunks(pngClean.get).contains(Seq.empty))
    assert(MediaDecode.pngExif(pngClean.get).isEmpty)
    // WebP: a GPS-bearing extended file, then the header
    val ext = Multimodal.webpBytes(33, 21, Some((6, (45, 90))), None,
      extended = true, 5L)
    val webp = ext ++ hugeHeader("JUNK", bigEndian = false)
    assert(MediaDecode.webpExif(webp).contains(
      MediaDecode.ExifMeta(Some(6), Some(45.0), Some(90.0))))
    assert(MediaDecode.webpMeta(webp).isDefined)
    assert(MediaDecode.webpMeta(webp) == MediaDecode.webpMeta(ext))
    val webpClean = MediaDecode.webpStripMetadata(webp)
    assert(webpClean.isDefined, "the scrub must run over the parsed prefix")
    assert(MediaDecode.webpExif(webpClean.get).isEmpty)
    assert(MediaDecode.webpMeta(webpClean.get).exists(m => !m.hasExif && !m.hasXmp))
  }

  test("gif: screen exactness, multi-sub-block comments, GCE retained, trailer truncation, containment") {
    val g = Multimodal.gifBytes(40, 30, 2, Some("who wrote this"), 9L)
    val m = MediaDecode.gifMeta(g).get
    assert(m.width == 40 && m.height == 30 && m.nFrames == 2 &&
      m.comments == Seq("who wrote this"), s"gif screen drifted: $m")
    // a comment spanning MULTIPLE sub-blocks concatenates
    val multi = {
      val o = new java.io.ByteArrayOutputStream()
      val base = Multimodal.gifBytes(8, 8, 1, None, 3L)
      o.write(base, 0, 13) // header + LSD
      o.write(0x21); o.write(0xfe)
      o.write(3); o.write("abc".getBytes("US-ASCII"))
      o.write(2); o.write("de".getBytes("US-ASCII"))
      o.write(0)
      o.write(base, 13, base.length - 13)
      o.toByteArray
    }
    assert(MediaDecode.gifMeta(multi).get.comments == Seq("abcde"),
      "multi-sub-block comment must concatenate")
    // scrub: comment + application ext drop, GCE (0xF9) RETAINED,
    // post-trailer junk truncated
    val withGce = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(multi, 0, 13)
      o.write(0x21); o.write(0xf9) // graphic control extension
      o.write(4); o.write(0); o.write(10); o.write(0); o.write(0); o.write(0)
      o.write(0x21); o.write(0xff) // application extension (XMP carrier)
      o.write(11); o.write("XMP DataXMP".getBytes("US-ASCII")); o.write(0)
      o.write(multi, 13, multi.length - 13)
      o.write("TRAILING-JUNK".getBytes("US-ASCII"))
      o.toByteArray
    }
    val stripped = MediaDecode.gifStripMetadata(withGce).get
    val m2 = MediaDecode.gifMeta(stripped).get
    assert(m2.comments.isEmpty && m2.nFrames == 1 && m2.width == 8)
    val s2 = new String(stripped, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(s2.contains("!ù"), "GCE must be retained")
    assert(!s2.contains("XMP Data") && !s2.contains("abcde") &&
      !s2.contains("TRAILING-JUNK"),
      "comment/application/trailer bytes must be gone")
    assert(MediaDecode.gifStripMetadata(stripped).get.sameElements(stripped),
      "scrub must be idempotent")
    // closed-form removal on the fixture shape
    val tagged = Multimodal.gifBytes(12, 9, 1, Some("c_3"), 4L)
    val st = MediaDecode.gifStripMetadata(tagged).get
    assert(tagged.length - st.length == 4 + 3)
    assert(MediaDecode.gifMeta("NOTGIF".getBytes).isEmpty)
    // REGRESSION (review find): a malformed block byte followed by a
    // comment extension — the scrub must NOT carry the un-walked tail
    // (and its PII) through verbatim; fail-closed = truncate at the
    // malformed point like the PNG/WebP emit-only-parsed stance
    val failOpen = {
      val base = Multimodal.gifBytes(8, 8, 1, None, 3L)
      val o = new java.io.ByteArrayOutputStream()
      o.write(base, 0, 13)
      o.write(0x00) // junk block type — the walk stops here
      o.write(0x21); o.write(0xfe)
      o.write(7); o.write("PII-SSN".getBytes("US-ASCII")); o.write(0)
      o.write(base, 13, base.length - 13)
      o.toByteArray
    }
    val sFail = MediaDecode.gifStripMetadata(failOpen).get
    assert(!new String(sFail, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("PII-SSN"),
      "un-walked tail bytes must never survive the scrub")
    // REGRESSION (review pass 2): a declared GCT with nothing after
    // it overshoots p past b.length — the fail-closed fallback must
    // CLAMP, not feed an out-of-range write that poisons the scrub
    val gctOnly = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("GIF89a".getBytes("US-ASCII"))
      o.write(8); o.write(0); o.write(8); o.write(0)
      o.write(0x87); o.write(0); o.write(0) // 256-entry GCT declared
      o.toByteArray
    }
    assert(MediaDecode.gifMeta(gctOnly).exists(_.nFrames == 0))
    assert(MediaDecode.gifStripMetadata(gctOnly).exists(_.length == 13),
      "GCT overshoot must clamp, not throw into None")
    // containment
    (0 to withGce.length by 7).foreach { cut =>
      val part = java.util.Arrays.copyOf(withGce, cut)
      MediaDecode.gifMeta(part); MediaDecode.gifStripMetadata(part)
    }
    (0 until withGce.length by 5).foreach { i =>
      val c = withGce.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.gifMeta(c); MediaDecode.gifStripMetadata(c)
    }
    samples(bytesGen, 200).foreach { b =>
      MediaDecode.gifMeta(b); MediaDecode.gifStripMetadata(b)
    }
  }

  test("tiff: bare-container screen, LONG dims, big-endian, shared-walk GPS, containment") {
    val t = Multimodal.tiffBytes(123, 97, Some(6), Some((51, 122)))
    val m = MediaDecode.tiffMeta(t).get
    assert(m.width == 123 && m.height == 97 && m.orientation.contains(6) &&
      m.gpsLat.contains(51.0) && m.gpsLon.contains(122.0),
      s"tiff screen drifted: $m")
    val bare = MediaDecode.tiffMeta(Multimodal.tiffBytes(5, 7, None, None)).get
    assert(bare.width == 5 && bare.orientation.isEmpty && bare.gpsLat.isEmpty)
    // LONG-typed dims (type 4) parse like SHORT
    val longDims = {
      val o = new java.io.ByteArrayOutputStream()
      def u16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
      def u32(v: Long): Unit = {
        o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
        o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
      }
      o.write("II".getBytes("US-ASCII")); u16(42); u32(8L)
      u16(2)
      u16(256); u16(4); u32(1L); u32(70000L)
      u16(257); u16(4); u32(1L); u32(65537L)
      u32(0L)
      o.toByteArray
    }
    val ml = MediaDecode.tiffMeta(longDims).get
    assert(ml.width == 70000 && ml.height == 65537,
      s"LONG dims drifted: $ml")
    // big-endian: the shared walk's MM path carries over to bare TIFF
    val mm = {
      val o = new java.io.ByteArrayOutputStream()
      def b16(v: Int): Unit = { o.write((v >> 8) & 0xff); o.write(v & 0xff) }
      def b32(v: Long): Unit = { b16((v >> 16).toInt); b16((v & 0xffff).toInt) }
      o.write("MM".getBytes("US-ASCII")); b16(42); b32(8L)
      b16(2)
      b16(256); b16(3); b32(1L); b16(33); b16(0)
      b16(274); b16(3); b32(1L); b16(5); b16(0)
      b32(0L)
      o.toByteArray
    }
    val mMm = MediaDecode.tiffMeta(mm).get
    assert(mMm.width == 33 && mMm.orientation.contains(5),
      s"big-endian bare TIFF drifted: $mMm")
    assert(MediaDecode.tiffMeta("not a tiff".getBytes).isEmpty)
    (0 to t.length).foreach(cut =>
      MediaDecode.tiffMeta(java.util.Arrays.copyOf(t, cut)))
    (0 until t.length by 3).foreach { i =>
      val c = t.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.tiffMeta(c)
    }
    samples(bytesGen, 200).foreach(b => MediaDecode.tiffMeta(b))
  }

  test("gzip: member walk vs GZIPInputStream differential, bare-header scrub, FEXTRA/FHCRC, containment") {
    val d1 = "the first member payload".getBytes("UTF-8")
    val d2 = "and a second, different one".getBytes("UTF-8")
    val two = Multimodal.gzipMemberBytes(d1, 1700000000L, Some("orig.txt"),
      Some("a comment")) ++
      Multimodal.gzipMemberBytes(d2, 0L, None, None)
    val m = MediaDecode.gzipMeta(two).get
    assert(m.members == 2 && m.mtime == 1700000000L &&
      m.fname.contains("orig.txt") && m.hasComment && !m.hasExtra &&
      m.decompressedBytes == d1.length + d2.length, s"gzip meta drifted: $m")
    // decompression DIFFERENTIAL against the JDK's own gzip reader
    // (independent decoder; it consumes multi-member streams)
    def jdkGunzip(b: Array[Byte]): Array[Byte] = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val o = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) o.write(buf, 0, n); n = in.read(buf) }
      in.close()
      o.toByteArray
    }
    assert(MediaDecode.gzipDecompress(two).get.sameElements(jdkGunzip(two)),
      "member walk must agree with GZIPInputStream byte-for-byte")
    // scrub: closed-form removal, bare headers, decompressed identity
    // through the INDEPENDENT decoder, idempotent
    val stripped = MediaDecode.gzipStripMeta(two).get
    assert(two.length - stripped.length == ("orig.txt".length + 1) +
      ("a comment".length + 1), "closed-form removal drifted")
    val m2 = MediaDecode.gzipMeta(stripped).get
    assert(m2.fname.isEmpty && m2.mtime == 0L && !m2.hasComment && !m2.hasExtra)
    assert(jdkGunzip(stripped).sameElements(d1 ++ d2),
      "scrubbed stream must decompress identically in the JDK reader")
    assert(MediaDecode.gzipStripMeta(stripped).get.sameElements(stripped),
      "scrub must be idempotent")
    // FEXTRA + FHCRC member (hand-built: the fixture writer never
    // emits them) — parse and scrub both
    val extraMember = {
      val bare = Multimodal.gzipMemberBytes(d1, 5L, None, None)
      val o = new java.io.ByteArrayOutputStream()
      o.write(0x1f); o.write(0x8b); o.write(8)
      o.write(4) // FEXTRA only
      o.write(5); o.write(0); o.write(0); o.write(0) // MTIME 5
      o.write(0); o.write(255)
      o.write(6); o.write(0) // XLEN 6
      o.write("AB".getBytes("US-ASCII")); o.write(2); o.write(0)
      o.write("xy".getBytes("US-ASCII"))
      o.write(bare, 10, bare.length - 10) // deflate + trailer
      o.toByteArray
    }
    val me = MediaDecode.gzipMeta(extraMember).get
    assert(me.hasExtra && me.members == 1 &&
      me.decompressedBytes == d1.length, s"FEXTRA parse drifted: $me")
    val se = MediaDecode.gzipStripMeta(extraMember).get
    assert(extraMember.length - se.length == 8, // XLEN 2 + 6 extra bytes
      "FEXTRA removal must be exactly the extra field")
    assert(jdkGunzip(se).sameElements(d1))
    // None for non-gzip / no complete member
    assert(MediaDecode.gzipMeta("not gzip".getBytes).isEmpty)
    assert(MediaDecode.gzipStripMeta(Array[Byte](0x1f, 0x8b.toByte, 8)).isEmpty)
    // REGRESSION (review find): the scrub FAILS CLOSED on unconsumed
    // bytes — a truncated final member (or trailing garbage) must
    // never be silently destroyed while the identity probe certifies
    // the result clean; the SCREEN still reports the complete members
    val truncTail = two ++ java.util.Arrays.copyOf(
      Multimodal.gzipMemberBytes(d1, 0L, None, None), 20)
    assert(MediaDecode.gzipMeta(truncTail).exists(_.members == 2),
      "screen reports the complete members")
    assert(MediaDecode.gzipStripMeta(truncTail).isEmpty,
      "scrub must refuse a payload with a truncated final member")
    val junkTail = two ++ "trailing junk".getBytes("US-ASCII")
    assert(MediaDecode.gzipStripMeta(junkTail).isEmpty,
      "scrub must refuse trailing garbage")
    // containment: truncation + corruption sweeps never throw
    (0 to two.length by 5).foreach { cut =>
      val part = java.util.Arrays.copyOf(two, cut)
      MediaDecode.gzipMeta(part); MediaDecode.gzipStripMeta(part)
      MediaDecode.gzipDecompress(part)
    }
    (0 until two.length by 3).foreach { i =>
      val c = two.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.gzipMeta(c); MediaDecode.gzipStripMeta(c)
    }
    samples(bytesGen, 200).foreach { b =>
      MediaDecode.gzipMeta(b); MediaDecode.gzipStripMeta(b)
    }
  }

  test("warc: record walk over plain and gzipped layouts, header parse, containment") {
    def rec(tpe: String, uri: Option[String], body: String): Array[Byte] = {
      val h = new StringBuilder()
      h.append("WARC/1.0\r\n")
      h.append(s"WARC-Type: $tpe\r\n")
      uri.foreach(u => h.append(s"WARC-Target-URI: $u\r\n"))
      h.append(s"Content-Length: ${body.getBytes("UTF-8").length}\r\n")
      h.append("\r\n")
      h.toString.getBytes("US-ASCII") ++ body.getBytes("UTF-8") ++
        "\r\n\r\n".getBytes("US-ASCII")
    }
    val plain = rec("warcinfo", None, "software: test") ++
      rec("response", Some("https://a/b"), "hello body") ++
      rec("request", Some("https://a/b"), "GET /b")
    val rs = MediaDecode.warcRecords(plain).get
    assert(rs.map(_.warcType) == Seq("warcinfo", "response", "request"))
    assert(rs(1).targetUri.contains("https://a/b") &&
      rs(1).contentLength == 10 &&
      new String(rs(1).body, "UTF-8") == "hello body", s"record drifted: ${rs(1)}")
    // the CommonCrawl layout: one gzip member per record
    val gz = Multimodal.gzipMemberBytes(rec("warcinfo", None, "w"), 0, None, None) ++
      Multimodal.gzipMemberBytes(rec("response", Some("u"), "b1"), 0, None, None)
    val rg = MediaDecode.warcRecords(gz).get
    assert(rg.size == 2 && rg(1).warcType == "response" &&
      new String(rg(1).body, "UTF-8") == "b1")
    // a body containing CRLF and even a fake version line parses by
    // Content-Length, never by scanning
    val tricky = rec("response", Some("u"),
      "line1\r\nWARC/1.0\r\nline2") ++ rec("metadata", None, "m")
    val rt = MediaDecode.warcRecords(tricky).get
    assert(rt.size == 2 && rt(0).contentLength == 22 &&
      rt(1).warcType == "metadata",
      s"Content-Length slicing drifted: ${rt.map(_.warcType)}")
    // malformed Content-Length / truncation end the walk with what
    // parsed; no signature at all is None
    assert(MediaDecode.warcRecords("HTTP/1.1 200 OK".getBytes).isEmpty)
    (0 to plain.length by 7).foreach { cut =>
      val part = java.util.Arrays.copyOf(plain, cut)
      MediaDecode.warcRecords(part)
    }
    (0 until plain.length by 5).foreach { i =>
      val c = plain.clone(); c(i) = (c(i) + 53).toByte
      MediaDecode.warcRecords(c)
    }
    samples(bytesGen, 200).foreach(b => MediaDecode.warcRecords(b))
  }

  test("video container walk round-trips and contains every truncation") {
    val framesGen = Gen.chooseNum(0, 9).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(0, 40).map(n =>
        Array.tabulate[Byte](n)(i => (i * 7).toByte))))
    samples(framesGen, 100).foreach { frames =>
      val enc = Multimodal.videoBytes(frames)
      val back = Multimodal.parseFrames(enc)
      assert(back.length == frames.length &&
        back.zip(frames).forall { case (a, b) => a.sameElements(b) })
      // any truncation yields a prefix of the frames, never a throw
      (0 to enc.length).foreach { cut =>
        val part = Multimodal.parseFrames(enc.take(cut))
        assert(part.length <= frames.length)
        assert(part.zip(frames).forall { case (a, b) => a.sameElements(b) })
      }
    }
    samples(bytesGen, 200).foreach(b => Multimodal.parseFrames(b))
  }
}
