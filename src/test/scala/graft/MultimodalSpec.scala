package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.Multimodal

/** Multimodal plumbing: binary column in, typed datasets out, deterministic
  * across runs and partitionings (every decode is a pure per-row
  * function). */
class MultimodalSpec extends AnyFunSuite {

  private lazy val payloads = {
    val spark = TestSpark.spark
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
  }

  test("sniffMeta: REAL container-header parsing (png/gif/bmp/jpeg/wav)") {
    import graft.ext.Multimodal
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

    // PNG: signature + IHDR(len, tag, width=640 BE, height=480 BE)
    val png = bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, 0, 0, 1, 0xe0, 8, 6, 0, 0, 0)
    assert(Multimodal.sniffMeta(1, png) ==
      Multimodal.MediaMeta(1, "png", png.length, 640, 480))

    // GIF89a: width=320 LE16 at 6, height=200 LE16 at 8
    val gif = bytes('G', 'I', 'F', '8', '9', 'a', 0x40, 0x01, 0xc8, 0x00, 0)
    assert(Multimodal.sniffMeta(2, gif) ==
      Multimodal.MediaMeta(2, "gif", gif.length, 320, 200))

    // BMP: "BM", width=100 LE32 at 18, height=50 LE32 at 22
    val bmp = (bytes('B', 'M') ++ new Array[Byte](16) ++
      bytes(100, 0, 0, 0, 50, 0, 0, 0) ++ new Array[Byte](4))
    assert(Multimodal.sniffMeta(3, bmp) ==
      Multimodal.MediaMeta(3, "bmp", bmp.length, 100, 50))

    // JPEG: SOI, APP0 (skipped via its length), SOF0 with h=480 w=640
    val jpeg = bytes(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46) ++
      bytes(0xff, 0xc0, 0x00, 0x11, 8, 0x01, 0xe0, 0x02, 0x80, 3)
    assert(Multimodal.sniffMeta(4, jpeg) ==
      Multimodal.MediaMeta(4, "jpeg", jpeg.length, 640, 480))

    // WAV: RIFF/WAVE, channels=2 LE16 at 22, sampleRate=44100 LE32 at 24
    val wav = (bytes('R', 'I', 'F', 'F', 0, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0, 1, 0, 2, 0,
      0x44, 0xac, 0, 0) ++ new Array[Byte](8))
    assert(Multimodal.sniffMeta(5, wav) ==
      Multimodal.MediaMeta(5, "wav", wav.length, 2, 44100))

    // junk → unknown, never throws
    assert(Multimodal.sniffMeta(6, Array[Byte](1, 2, 3)).format == "unknown")
    assert(Multimodal.sniffMeta(7, null).format == "unknown")
  }

  test("sniff operator runs the real header decode in a Spark plan") {
    val spark = TestSpark.spark
    import spark.implicits._
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R', 0, 0, 0, 16, 0, 0, 0, 32, 8)
    val df = Seq((10L, png), (11L, "not an image".getBytes.toSeq.toArray))
      .toDF("doc_id", "payload")
    val out = graft.ext.Multimodal.sniff(df).collect().sortBy(_.doc_id)
    assert(out(0) == graft.ext.Multimodal.MediaMeta(10, "png", png.length, 16, 32))
    assert(out(1).format == "unknown")
    // one row per payload, and partitioning must not change results
    val corpus1 = Multimodal.sniff(payloads).collect().sortBy(_.doc_id)
    val corpus2 = Multimodal.sniff(payloads.repartition(7)).collect().sortBy(_.doc_id)
    assert(corpus1.length == 500)
    assert(corpus1.toSeq == corpus2.toSeq)
  }

  /** Stereo PCM16 WAV with an extra LIST chunk before `data` (exercises the
    * chunk walk) carrying the given channel-0 samples; channel 1 is junk
    * that must be skipped by the interleave stride. */
  private def pcmWav(ch0: Seq[Int]): Array[Byte] = {
    val data = ch0.flatMap(s =>
      Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte, 0x55.toByte, 0x7f.toByte))
    (Seq('R', 'I', 'F', 'F', 0, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0, 1, 0, 2, 0,
      0x44, 0xac, 0, 0, 0x10, 0xb1, 2, 0, 4, 0, 16, 0,
      'L', 'I', 'S', 'T', 2, 0, 0, 0, 'x', 'y',
      'd', 'a', 't', 'a',
      data.length & 0xff, (data.length >> 8) & 0xff,
      (data.length >> 16) & 0xff, (data.length >> 24) & 0xff)
      .map(_.toByte) ++ data).toArray
  }

  test("wavWindowFeatures: REAL PCM window stats (rms/peak/zero crossings)") {
    import graft.ext.Multimodal
    // window 1: [3, -4] → rms = sqrt((9+16)/2), peak 4, 1 crossing
    // window 2: [12]    → rms = 12, peak 12, 0 crossings
    val out = Multimodal.wavWindowFeatures(1, pcmWav(Seq(3, -4, 12)), windowSamples = 2)
    assert(out.map(w => (w.window_idx, w.n_samples, w.peak, w.zero_crossings)) ==
      Seq((0, 2, 4, 1), (1, 1, 12, 0)))
    assert(math.abs(out(0).rms - math.sqrt(12.5)) < 1e-12)
    assert(out(1).rms == 12.0)
    // non-WAV and compressed-format payloads yield no rows, never throw
    assert(Multimodal.wavWindowFeatures(2, "not audio".getBytes, 2).isEmpty)
    assert(Multimodal.wavWindowFeatures(3, null, 2).isEmpty)
    // corrupt chunk lengths (negative / past EOF) end the walk, no hang
    val corrupt = pcmWav(Seq(1, 2, 3))
    corrupt(40) = 0xf8.toByte; corrupt(41) = 0xff.toByte // LIST len -> huge
    corrupt(42) = 0xff.toByte; corrupt(43) = 0xff.toByte
    assert(Multimodal.wavWindowFeatures(4, corrupt, 2).isEmpty)
  }

  test("audioFeatures operator: per-window rows in a Spark plan") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((20L, pcmWav(1 to 5000)), (21L, "junk".getBytes.toSeq.toArray))
      .toDF("doc_id", "payload")
    val out = graft.ext.Multimodal.audioFeatures(df, windowSamples = 1024)
      .collect().sortBy(w => (w.doc_id, w.window_idx))
    assert(out.forall(_.doc_id == 20L))
    assert(out.length == 5) // ceil(5000/1024)
    assert(out.map(_.n_samples).sum == 5000)
    assert(out.last.peak == 5000)
  }

  test("imageStatsOf: REAL pixel decode through the JDK PNG and BMP codecs") {
    // 2×2 PNG, id 0: pixel(x,y) r=(3x+5y)%256 g=(x+2y)%256 b=(11x+y)%256
    //   (0,0)=(0,0,0) (1,0)=(3,1,11) (0,1)=(5,2,1) (1,1)=(8,3,12)
    val png = Multimodal.synthImage(0L, 2, 2, "png")
    val s = Multimodal.imageStatsOf(0L, png).get
    assert((s.format, s.width, s.height, s.n_px) === (("png", 2, 2, 4L)))
    assert((s.sum_r, s.sum_g, s.sum_b) === ((16L, 6L, 24L)))
    // same raster through the BMP writer decodes to identical sums
    val bmp = Multimodal.imageStatsOf(0L, Multimodal.synthImage(0L, 2, 2, "bmp")).get
    assert((bmp.format, bmp.sum_r, bmp.sum_g, bmp.sum_b) === (("bmp", 16L, 6L, 24L)))
    // mod-256 wraparound exercises the full byte range
    val big = Multimodal.imageStatsOf(300L, Multimodal.synthImage(300L, 3, 1, "png")).get
    assert((big.sum_r, big.sum_g, big.sum_b) ===
      (((300 % 256) * 3 + 3 + 6).toLong, // r: 44,47,50
        ((300 * 7 % 256) + (300 * 7 % 256 + 1) + (300 * 7 % 256 + 2)).toLong,
        ((300 * 13 % 256) * 3 + 11 + 22).toLong))
    // garbage and empty payloads are dropped, never thrown
    assert(Multimodal.imageStatsOf(1L, "not an image".getBytes).isEmpty)
    assert(Multimodal.imageStatsOf(1L, null).isEmpty)
  }

  test("imageStatsOf: REAL JPEG decode through the JDK codec (lossy tolerance)") {
    import graft.ext.Multimodal
    val w = 32; val h = 24
    val jpeg = Multimodal.synthImage(5L, w, h, "jpg")
    // a real JFIF payload came out of the encoder
    assert((jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8)
    val st = Multimodal.imageStatsOf(5L, jpeg).get
    assert(st.format == "jpeg" && st.width == w && st.height == h)
    assert(st.n_px == w.toLong * h)
    // lossy round trip: per-channel MEANS must land near the source
    // pattern's (computed exactly from the generator), not byte-exact
    var er = 0L; var eg = 0L; var eb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      er += (x * 3 + y * 5 + 5) % 256
      eg += (x + y * 2 + 5 * 7) % 256
      eb += (x * 11 + y + 5 * 13) % 256
    }
    val n = (w * h).toDouble
    assert(math.abs(st.sum_r / n - er / n) < 16.0, s"R mean off: ${st.sum_r / n} vs ${er / n}")
    assert(math.abs(st.sum_g / n - eg / n) < 16.0, s"G mean off: ${st.sum_g / n} vs ${eg / n}")
    assert(math.abs(st.sum_b / n - eb / n) < 16.0, s"B mean off: ${st.sum_b / n} vs ${eb / n}")
  }

  test("imageStats operator: real decode in a Spark plan, garbage dropped") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((30L, Multimodal.synthImage(30L, 4, 3, "png")),
      (31L, Multimodal.synthImage(31L, 4, 3, "bmp")),
      (32L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    val out = graft.ext.Multimodal.imageStats(df).collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq === Seq(30L, 31L))
    assert(out.forall(s => s.n_px == 12L && s.width == 4 && s.height == 3))
  }
}
