package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AudioOpsSpec extends SparkSpec {
  import spark.implicits._

  test("WAV encode/decode round-trips exact 16-bit samples") {
    val samples = Array(0, 1, -1, 32767, -32768, 1234, -4321)
    val w = AudioOps.decodeWav(AudioOps.encodeWavMono(44100, samples)).get
    assert(w.sampleRate == 44100 && w.channels == 1)
    assert(w.samples.sameElements(samples))
  }

  test("encode clamps out-of-range samples to the 16-bit lattice") {
    val w = AudioOps.decodeWav(
      AudioOps.encodeWavMono(8000, Array(99999, -99999))).get
    assert(w.samples.sameElements(Array(32767, -32768)))
  }

  test("decoder skips unknown chunks and tolerates word-aligned odd sizes") {
    val base = AudioOps.encodeWavMono(8000, Array(5, -5, 7))
    // splice an odd-sized junk chunk between fmt and data
    val junkPayload = Array[Byte](1, 2, 3) // size 3 → padded to 4
    val junk = "LIST".getBytes ++
      Array[Byte](3, 0, 0, 0) ++ junkPayload ++ Array[Byte](0)
    val spliced = base.slice(0, 36) ++ junk ++ base.drop(36)
    // fix RIFF size field
    val total = spliced.length - 8
    spliced(4) = total.toByte; spliced(5) = (total >> 8).toByte
    spliced(6) = (total >> 16).toByte; spliced(7) = (total >> 24).toByte
    val w = AudioOps.decodeWav(spliced).get
    assert(w.samples.sameElements(Array(5, -5, 7)))
  }

  test("stereo zero-crossings stride per channel, not across interleave") {
    import org.apache.spark.sql.functions.{col, struct}
    // L constantly +100, R constantly -100 → neither channel crosses
    val interleaved = Array.tabulate(40)(i => if (i % 2 == 0) 100 else -100)
    val bytes = AudioOps.encodeWavMono(8000, interleaved)
    bytes(22) = 2 // patch fmt.channels to stereo
    val w = AudioOps.decodeWav(bytes).get
    assert(w.channels == 2)
    val media = Seq((1L, bytes, ("audio/wav", 0, 0, 1)))
      .toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))
    val r = AudioOps.extractAudioFeatures(media).collect()(0)
    assert(r.getAs[Long]("zero_crossings") == 0L)
    assert(r.getAs[Double]("duration_sec") == 20.0 / 8000) // frames/rate
  }

  test("full-scale negative samples report the correct peak (32768)") {
    val w = AudioOps.encodeWavMono(8000, Array(-32768, 5, -5))
    import org.apache.spark.sql.functions.{col, struct}
    val media = Seq((1L, w, ("audio/wav", 0, 0, 1)))
      .toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))
    val r = AudioOps.extractAudioFeatures(media).collect()(0)
    assert(r.getAs[Int]("peak") == 32768)
  }

  test("malformed bytes are rejected, not mis-parsed") {
    assert(AudioOps.decodeWav(null).isEmpty)
    assert(AudioOps.decodeWav(Array[Byte](1, 2, 3)).isEmpty)
    assert(AudioOps.decodeWav("RIFFxxxxWAVE".getBytes ++
      new Array[Byte](40)).isEmpty) // no fmt/data chunks
    // truncated data chunk (declared size beyond buffer)
    val good = AudioOps.encodeWavMono(8000, Array(1, 2, 3, 4))
    assert(AudioOps.decodeWav(good.dropRight(4)).isEmpty)
  }

  test("square-wave features are closed-form: rms == amp, peak == amp") {
    val ids = Seq(0L, 3L, 10L).toDF("doc_id")
    val feats = AudioOps.extractAudioFeatures(
        AudioOps.plantAudioMedia(ids, "doc_id")).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(feats.keySet == Set(0L, 3L, 10L))
    for ((id, r) <- feats) {
      val (hp, amp, n) = AudioOps.squareWaveParams(id)
      assert(r.getAs[Long]("n_samples") == n)
      // every sample is ±amp → rms is exactly amp, peak is amp
      assert(r.getAs[Double]("rms") == amp.toDouble)
      assert(r.getAs[Int]("peak") == amp)
      // sign flips at every multiple of hp in (0, n)
      assert(r.getAs[Long]("zero_crossings") == (n - 1) / hp)
      assert(r.getAs[Double]("duration_sec") == n.toDouble / 8000)
    }
  }

  test("non-audio bytes in a media table yield no feature rows") {
    val junk = Seq((1L, Array[Byte](9, 9, 9), ("audio/wav", 0, 0, 1)))
      .toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))
    assert(AudioOps.extractAudioFeatures(junk).count() == 0)
  }

  private def mediaOf(id: Long, samples: Array[Int]) =
    Seq((id, AudioOps.encodeWavMono(8000, samples), ("audio/wav", 0, 0, 1)))
      .toDF("media_id", "bytes", "m")
      .select(col("media_id"), col("bytes"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height"), col("m._4").as("n_frames")).as("meta"))

  test("windowEnergies: exact integer energies, partial last window") {
    // 10 samples, window 4 → windows [0,4), [4,8), [8,10)
    val s = Array(3, -3, 3, -3, 0, 0, 0, 1, 2, -2)
    val out = AudioOps.windowEnergies(mediaOf(7L, s), win = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(out == Seq((0, 36L), (1, 1L), (2, 8L)))
  }

  test("vadSegments merges voiced runs, splits on silence, renumbers") {
    // window 2, threshold 10: energies 18,18 | 0 | 13,25 | 0,0 | 16
    val s = Array(3, 3, 3, 3, 0, 0, 2, 3, 3, 4, 0, 0, 0, 0, 4, 0)
    val out = AudioOps.vadSegments(mediaOf(9L, s), win = 2, threshold = 10L)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    // segments: wins 0-1 (E 18+18), wins 3-4 (13+25), win 7 (16)
    assert(out == Seq((1, 0, 1, 2L, 36L), (2, 3, 4, 2L, 38L),
      (3, 7, 7, 1L, 16L)))
  }

  test("fft: matches a naive DFT, linearity, and the analytic lines") {
    val rnd = new scala.util.Random(11)
    def naive(x: Array[Double]): (Array[Double], Array[Double]) = {
      val n = x.length
      val re = new Array[Double](n); val im = new Array[Double](n)
      for (k <- 0 until n; i <- 0 until n) {
        val a = -2.0 * math.Pi * k * i / n
        re(k) += x(i) * math.cos(a); im(k) += x(i) * math.sin(a)
      }
      (re, im)
    }
    for (n <- Seq(8, 64, 256)) {
      val x = Array.fill(n)(rnd.nextInt(2001) - 1000.0)
      val (wr, wi) = naive(x)
      val re = x.clone(); val im = new Array[Double](n)
      AudioOps.fft(re, im)
      val scale = math.max(1.0, x.map(math.abs).sum)
      for (k <- 0 until n) {
        assert(math.abs(re(k) - wr(k)) / scale < 1e-12, s"n=$n re[$k]")
        assert(math.abs(im(k) - wi(k)) / scale < 1e-12, s"n=$n im[$k]")
      }
    }
    // impulse → flat spectrum; pure cosine → two exact lines
    val imp = new Array[Double](16); imp(0) = 1.0
    val impIm = new Array[Double](16)
    AudioOps.fft(imp, impIm)
    assert(imp.forall(v => math.abs(v - 1.0) < 1e-12) &&
      impIm.forall(v => math.abs(v) < 1e-12))
    val cos = Array.tabulate(32)(i => math.cos(2.0 * math.Pi * 5 * i / 32))
    val cosIm = new Array[Double](32)
    AudioOps.fft(cos, cosIm)
    for (k <- 0 until 32) {
      val mag = math.sqrt(cos(k) * cos(k) + cosIm(k) * cosIm(k))
      val want = if (k == 5 || k == 27) 16.0 else 0.0
      assert(math.abs(mag - want) < 1e-9, s"cosine line at $k: $mag")
    }
    // non-power-of-two rejected at call time
    intercept[IllegalArgumentException] {
      AudioOps.fft(new Array[Double](12), new Array[Double](12))
    }
  }

  test("spectralFeatures: integer dc/nyquist pin the fp spectrum ends") {
    val rnd = new scala.util.Random(23)
    val s = Array.fill(600)(rnd.nextInt(4001) - 2000)
    val out = AudioOps.spectralFeatures(mediaOf(9L, s), window = 512)
      .collect().head
    val dc = s.take(512).map(_.toLong).sum
    val nyq = s.take(512).zipWithIndex
      .map { case (v, i) => if (i % 2 == 0) v.toLong else -v.toLong }.sum
    assert(out.getLong(1) == dc && out.getLong(2) == nyq)
    assert(out.getBoolean(5), "Parseval law failed on random samples")
    // X[0] and X[w/2] of the fp spectrum equal the integer sums
    val re = s.take(512).map(_.toDouble); val im = new Array[Double](512)
    AudioOps.fft(re, im)
    assert(math.abs(re(0) - dc) < 1e-6 && math.abs(re(256) - nyq) < 1e-6)
    // clips shorter than the window yield no row
    assert(AudioOps.spectralFeatures(
      mediaOf(10L, Array.fill(100)(5)), window = 512).count() == 0)
  }

  test("spectralFeatures: silent clip has null dominant bin, zero-form Parseval") {
    // r12 verdict #5: the degenerate contract — an all-zero window has
    // no spectrum to rank, so the bin/freq are NULL rather than a
    // meaningless argmax, and the law holds in its two-sided-zero form
    // (measured spectral energy must be EXACTLY 0.0)
    val out = AudioOps.spectralFeatures(
      mediaOf(11L, new Array[Int](512)), window = 512).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L, "dc/nyquist must be 0")
    assert(r.isNullAt(3) && r.isNullAt(4),
      "silent clip must not report a dominant bin/freq")
    assert(r.getBoolean(5), "two-sided-zero Parseval must PASS, not NaN-fail")
  }

  test("vadSegments: all-silent and all-voiced clips are the edge laws") {
    val silent = AudioOps.vadSegments(
      mediaOf(1L, Array.fill(8)(0)), win = 2, threshold = 1L)
    assert(silent.count() == 0)
    val voiced = AudioOps.vadSegments(
      mediaOf(2L, Array.fill(8)(5)), win = 2, threshold = 1L)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(voiced.toSeq == Seq((1, 0, 3)))
  }
}
