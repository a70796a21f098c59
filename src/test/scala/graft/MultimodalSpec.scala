package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** The REAL PPM (P6) codec in the multimodal seam: golden-image decode
  * (header comments and all), loud failures on malformed bytes, and the
  * in-plan payload builder round-tripping through the distributed
  * decoder. */
class MultimodalSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  /** 2×2 P6 with a comment line: pixels (R,G,B) = (10,20,30) (40,50,60)
    * (70,80,90) (100,110,120) → means (55, 65, 75). */
  private def golden: Array[Byte] =
    ("P6\n# a comment the parser must skip\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120))

  test("parsePpm: golden image — header, comment, dims, exact channel means") {
    val f = Multimodal.parsePpm(7L, golden)
    assert(f == Multimodal.PpmFeatures(7L, 2, 2, 255, 55.0, 65.0, 75.0))
  }

  test("parsePpmHash: bright-pixel bits, uniform image hashes to zero, " +
    "brightness-shift invariance") {
    // 2×1: grays (30, 120), tot 150, n 2 — bit0: 60 > 150 no;
    // bit1: 240 > 150 yes → hash = 2
    val hdr = "P6\n2 1\n255\n".getBytes("US-ASCII")
    def img(px: Int*) = hdr ++ px.map(_.toByte).toArray
    val h = Multimodal.parsePpmHash(1L, img(10, 10, 10, 40, 40, 40))
    assert(h == Multimodal.PpmHash(1L, 2, 1, 2L))
    // uniform image: every gray·n == tot, strict > never fires → 0
    val u = Multimodal.parsePpmHash(2L, img(40, 40, 40, 40, 40, 40))
    assert(u.phash == 0L)
    // adding a constant to every channel preserves the hash (the
    // perceptual property: brightness shifts keep the bit pattern)
    val shifted = Multimodal.parsePpmHash(3L, img(60, 60, 60, 90, 90, 90))
    assert(shifted.phash == h.phash)
  }

  test("parsePpm: malformed inputs fail loudly with the media id") {
    val wrongMagic = intercept[IllegalArgumentException] {
      Multimodal.parsePpm(3L, "P5\n2 2\n255\n____________".getBytes("US-ASCII"))
    }
    assert(wrongMagic.getMessage.contains("media 3") &&
      wrongMagic.getMessage.contains("P5"))
    val truncated = intercept[IllegalArgumentException] {
      Multimodal.parsePpm(4L, "P6\n2 2\n255\nabc".getBytes("US-ASCII"))
    }
    assert(truncated.getMessage.contains("truncated"))
    val wideSamples = intercept[IllegalArgumentException] {
      Multimodal.parsePpm(5L, "P6\n1 1\n65535\n______".getBytes("US-ASCII"))
    }
    assert(wideSamples.getMessage.contains("maxval"))
  }

  test("ppmFromText -> decodePpm: in-plan payloads are valid P6 and decode distributed") {
    val s = spark
    import s.implicits._
    // doc 0: w=4, h=3 → 36 samples tiled from "ABCD" (A=65 B=66 C=67 D=68);
    // channel means over the tile pattern are exact integer ratios
    val docs = Seq((0L, "ABCD")).toDF("doc_id", "text")
    val out = Multimodal.decodePpm(Multimodal.asPpm(
      Multimodal.ppmFromText(docs))).collect()
    assert(out.length == 1)
    val f = out(0)
    assert(f.width == 4 && f.height == 3 && f.maxval == 255)
    // pixel byte i = "ABCD"[i % 4]: channel c sums bytes at i ≡ c (mod 3)
    def mean(c: Int) = (0 until 36).filter(_ % 3 == c)
      .map(i => "ABCD".charAt(i % 4).toInt).sum / 12.0
    assert(f.mean_r == mean(0) && f.mean_g == mean(1) && f.mean_b == mean(2))
    // empty text never becomes a (divide-by-zero) payload
    assert(Multimodal.ppmFromText(
      Seq((1L, "")).toDF("doc_id", "text")).isEmpty)
  }

  // ---- WAV (RIFF PCM) ------------------------------------------------------

  private def le16b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
  private def le32b(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def chunk(id: String, body: Array[Byte]): Array[Byte] =
    id.getBytes("US-ASCII") ++ le32b(body.length) ++
      body ++ (if (body.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)

  /** Hand-built stereo 8-bit PCM WAV with an odd-sized LIST chunk BEFORE
    * fmt (forcing a real chunk walk + pad-byte handling). Frames (L,R):
    * (128,130) (126,140) (131,98) → amp L: 0,−2,3; R: 2,12,−30. */
  private def goldenWav: Array[Byte] = {
    val fmt = le16b(1) ++ le16b(2) ++ le32b(11025) ++ le32b(22050) ++
      le16b(2) ++ le16b(8)
    val data = Array[Byte](128.toByte, 130.toByte, 126, 140.toByte, 131.toByte, 98)
    val body = "WAVE".getBytes("US-ASCII") ++
      chunk("LIST", Array[Byte](73, 78, 70, 79, 88)) ++ // 5 bytes: odd → padded
      chunk("fmt ", fmt) ++ chunk("data", data)
    "RIFF".getBytes("US-ASCII") ++ le32b(body.length) ++ body
  }

  test("parseWav: golden stream — chunk walk past LIST, pad byte, exact channel stats") {
    val f = Multimodal.parseWav(9L, goldenWav)
    assert(f == Multimodal.WavFeatures(9L, 11025, 2, 3,
      (0 - 2 + 3) / 3.0, (2 + 12 - 30) / 3.0, 3L, 30L))
  }

  test("wavWindowEnergy: golden stream windowed at 2 frames — exact per-" +
    "channel Σamp², short unpadded tail window, window boundaries honor " +
    "channel interleave") {
    val s = spark
    import s.implicits._
    // goldenWav amplitudes L: 0,−2,3; R: 2,12,−30 → window 2:
    //   w0 frames{0,1}: el = 0+4 = 4,  er = 4+144 = 148, n = 2
    //   w1 frame {2}:   el = 9,        er = 900,         n = 1 (tail)
    val got = Multimodal.wavWindowEnergy(
        Seq(Multimodal.WavRecord(9L, goldenWav)).toDS(), windowFrames = 2)
      .collect().sortBy(_.win_idx).toSeq
    assert(got == Seq(
      Multimodal.WavWindow(9L, 0, 2, 4L, 148L),
      Multimodal.WavWindow(9L, 1, 1, 9L, 900L)), got.toString)
  }

  test("parseWav: mono duplicates its channel; malformed inputs fail loudly") {
    val fmtMono = le16b(1) ++ le16b(1) ++ le32b(8000) ++ le32b(8000) ++
      le16b(1) ++ le16b(8)
    val mono = "RIFF".getBytes("US-ASCII") ++ le32b(0) ++
      "WAVE".getBytes("US-ASCII") ++ chunk("fmt ", fmtMono) ++
      chunk("data", Array[Byte](138.toByte, 118))
    val f = Multimodal.parseWav(1L, mono)
    assert(f.n_channels == 1 && f.mean_l == 0.0 && f.mean_r == 0.0 &&
      f.peak_l == 10L && f.peak_r == 10L)
    val notRiff = intercept[IllegalArgumentException] {
      Multimodal.parseWav(2L, "JFIF____________".getBytes("US-ASCII"))
    }
    assert(notRiff.getMessage.contains("media 2"))
    val noData = intercept[IllegalArgumentException] {
      Multimodal.parseWav(3L, "RIFF".getBytes("US-ASCII") ++ le32b(4) ++
        "WAVE".getBytes("US-ASCII") ++ chunk("fmt ", fmtMono))
    }
    assert(noData.getMessage.contains("missing data"))
    val floatPcm = intercept[IllegalArgumentException] {
      Multimodal.parseWav(4L, "RIFF".getBytes("US-ASCII") ++ le32b(4) ++
        "WAVE".getBytes("US-ASCII") ++
        chunk("fmt ", le16b(3) ++ fmtMono.drop(2)) ++
        chunk("data", Array[Byte](1, 2)))
    }
    assert(floatPcm.getMessage.contains("non-PCM"))
  }

  test("wavFromText -> decodeWav: in-plan payloads are valid RIFF and decode distributed") {
    val s = spark
    import s.implicits._
    // doc 0: sr=8000, nf=20, data = "ABCD" tiled over 40 bytes; L channel
    // reads even offsets (A,C alternating), R the odd ones (B,D)
    val docs = Seq((0L, "ABCD")).toDF("doc_id", "text")
    val out = Multimodal.decodeWav(Multimodal.asWav(
      Multimodal.wavFromText(docs))).collect()
    assert(out.length == 1)
    val f = out(0)
    assert(f.sample_rate == 8000 && f.n_channels == 2 && f.n_frames == 20L)
    assert(f.mean_l == ('A' - 128 + ('C' - 128)) / 2.0)
    assert(f.mean_r == ('B' - 128 + ('D' - 128)) / 2.0)
    assert(f.peak_l == 128 - 'A' && f.peak_r == 128 - 'B')
    assert(Multimodal.wavFromText(
      Seq((1L, "")).toDF("doc_id", "text")).isEmpty)
  }

  // ---- Y4M (YUV4MPEG2) -----------------------------------------------------

  test("parseY4m: golden stream — tag walk, FRAME params skipped, exact plane means, fingerprints") {
    // 2×1 C444, 3 frames; frame 1 carries its own (legal) parameter.
    // Planes per frame: Y = 2 bytes, Cb = 2, Cr = 2.
    val frames = Seq(
      "FRAME\n" + "AB" + "CD" + "EF",
      "FRAME Xsc\n" + "GH" + "IJ" + "KL",
      "FRAME\n" + "MN" + "OP" + "QR")
    val b = ("YUV4MPEG2 W2 H1 F25:1 Ip A1:1 C444\n" + frames.mkString)
      .getBytes("US-ASCII")
    val f = Multimodal.parseY4m(5L, b)
    assert(f.width == 2 && f.height == 1 && f.n_frames == 3)
    def m(s: String) = s.map(_.toInt).sum / 6.0
    assert(f.mean_y == m("ABGHMN") && f.mean_cb == m("CDIJOP") &&
      f.mean_cr == m("EFKLQR"))
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    assert(f.f_first == md5("ABCDEF") && f.f_mid == md5("GHIJKL") &&
      f.f_last == md5("MNOPQR"))
  }

  test("parseY4m: malformed inputs fail loudly with the media id") {
    def bad(id: Long, s: String) = intercept[IllegalArgumentException] {
      Multimodal.parseY4m(id, s.getBytes("US-ASCII"))
    }
    assert(bad(2L, "MPEG4 W2 H1\nFRAME\nabcdef").getMessage.contains("media 2"))
    assert(bad(3L, "YUV4MPEG2 W2 H1 C444\nFRAME\nABCD") // frame truncated
      .getMessage.contains("truncated"))
    assert(bad(4L, "YUV4MPEG2 W2 H1 C444\nGARBAGE\nABCDEF")
      .getMessage.contains("FRAME marker"))
    assert(bad(5L, "YUV4MPEG2 W2 H1\nFRAME\nABC") // default 420jpeg unsupported
      .getMessage.contains("only C444"))
    assert(bad(6L, "YUV4MPEG2 C444\nFRAME\n").getMessage.contains("missing W/H"))
  }

  test("y4mFromText -> decodeY4m: in-plan payloads are valid Y4M and decode distributed") {
    val s = spark
    import s.implicits._
    // doc 0: w=4, h=2, nf=2, fs=24 — tiled "ABCD" repeats every 4, so all
    // three planes (8 bytes each, offsets ≡ 0..7 mod 8 within each frame)
    // see the same per-plane multiset; means are exact integer ratios
    val docs = Seq((0L, "ABCD")).toDF("doc_id", "text")
    val out = Multimodal.decodeY4m(Multimodal.asY4m(
      Multimodal.y4mFromText(docs))).collect()
    assert(out.length == 1)
    val f = out(0)
    assert(f.width == 4 && f.height == 2 && f.n_frames == 2)
    val abcd = "ABCD".map(_.toInt).sum / 4.0 // every plane tiles ABCD exactly
    assert(f.mean_y == abcd && f.mean_cb == abcd && f.mean_cr == abcd)
    // nf=2 → mid = frame 0; all frames identical bytes → equal fingerprints
    assert(f.f_first == f.f_mid && f.f_first == f.f_last)
    assert(Multimodal.y4mFromText(
      Seq((1L, "")).toDF("doc_id", "text")).isEmpty)
    // a multi-byte char breaks byte==char — filtered, never a bad payload
    assert(Multimodal.y4mFromText(
      Seq((2L, "café")).toDF("doc_id", "text")).isEmpty)
  }

  test("decodeY4mFrames: one row per frame, fingerprints agree with parseY4m's first/mid/last") {
    val s = spark
    import s.implicits._
    // three docs with nf = 2, 3, 4 (doc_id % 3 geometry) exercise every
    // frame count the builder produces
    val docs = Seq((0L, "ABCD"), (1L, "WXYZQ"), (2L, "hello there world"))
      .toDF("doc_id", "text")
    val media = Multimodal.asY4m(Multimodal.y4mFromText(docs))
    val frames = Multimodal.decodeY4mFrames(media).collect()
      .groupBy(_.media_id).map { case (id, fs) =>
        id -> fs.sortBy(_.frame_idx) }.toMap
    val feats = Multimodal.decodeY4m(media).collect()
      .map(f => f.media_id -> f).toMap
    feats.foreach { case (id, f) =>
      val fr = frames(id)
      // exactly n_frames rows, indices 0..nf-1, every row carries nf
      assert(fr.length == f.n_frames)
      assert(fr.map(_.frame_idx).toSeq == (0 until f.n_frames))
      assert(fr.forall(_.n_frames == f.n_frames))
      // the frame TABLE and the aggregate decode agree at the three
      // positions both compute — same walk, same boundaries, same bytes
      assert(fr(0).frame_md5 == f.f_first)
      assert(fr((f.n_frames - 1) / 2).frame_md5 == f.f_mid)
      assert(fr(f.n_frames - 1).frame_md5 == f.f_last)
    }
    assert(frames(1L).length == 3 && frames(2L).length == 4)
  }

  test("frameSample: opaque-format byte-window arm — k windows at exact strides, payload never shuffled") {
    val s = spark
    import s.implicits._
    // the byte-window arm survives as the fallback for media with no
    // codec: fingerprints are md5 of k evenly-spaced fixed-width windows
    val docs = Seq((7L, "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH", "web", 44))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Multimodal.frameSample(
      Multimodal.ingestFromText(docs), k = 4, frameBytes = 8).collect()(0)
    val text = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"
    val stride = text.length / 4
    def md5hex(sub: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(sub.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    assert(out.getAs[Long]("n_bytes") == text.length.toLong)
    (0 until 4).foreach { i =>
      val w = text.substring(i * stride, i * stride + 8)
      assert(out.getAs[String](s"frame_$i") == md5hex(w), s"window $i")
    }
  }

  test("y4mFromText(geomCol): shared-footage media render byte-identical frames, distinct footage does not") {
    val s = spark
    import s.implicits._
    // media 0 and 1 are "re-uploads" of footage group 0 (same base text,
    // geometry keyed on gid); media 2 is its own footage
    val rows = Seq(
      (0L, 0L, "the quick brown fox jumps over it"),
      (1L, 0L, "the quick brown fox jumps over it"),
      (2L, 2L, "a completely different footage text")
    ).toDF("doc_id", "gid", "text")
    val byId = Multimodal.decodeY4m(Multimodal.asY4m(
        Multimodal.y4mFromText(rows, geomCol = "gid")))
      .collect().map(f => f.media_id -> f).toMap
    // group members: identical geometry AND identical frame fingerprints
    assert(byId(0L).width == byId(1L).width &&
      byId(0L).n_frames == byId(1L).n_frames)
    assert(byId(0L).f_first == byId(1L).f_first &&
      byId(0L).f_mid == byId(1L).f_mid &&
      byId(0L).f_last == byId(1L).f_last)
    // distinct footage never collides
    assert(byId(0L).f_first != byId(2L).f_first)
    // gid-keyed geometry equals the default-keyed stream of the base id
    assert(byId(0L).width == 4 && byId(0L).height == 2 && byId(0L).n_frames == 2)
  }
}
