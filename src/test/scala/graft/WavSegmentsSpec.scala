package graft

import graft.plans.{WavPcm, WavSegments}

class WavSegmentsSpec extends SparkSuite {

  /** Independent WAV writer over signed sample values. */
  private def wav(samples: Seq[Int], fmtCode: Int = 1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    def tag(t: String): Unit = bos.write(t.getBytes("US-ASCII"))
    val dataSize = samples.length * 2
    tag("RIFF"); le32(36 + dataSize); tag("WAVE")
    tag("fmt "); le32(16); le16(fmtCode); le16(1); le32(16000)
    le32(32000); le16(2); le16(16)
    tag("data"); le32(dataSize)
    samples.foreach(v => le16(v & 0xffff))
    bos.toByteArray
  }

  private def segs(samples: Seq[Int], th: Int = 1000): Seq[(Long, Long, Long, Long)] = {
    val arr = WavSegments.compute(wav(samples), th)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 4)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
  }

  test("maximal runs with exclusive ends; trailing run closes at stream end") {
    val s = Seq(0, 0, 5000, 6000, 0, 7000) // run [2,4), trailing [5,6)
    assert(segs(s) == Seq((2L, 4L, 2L, 6000L), (5L, 6L, 1L, 7000L)))
  }

  test("all-silent decodes to zero segments; all-active to one") {
    assert(segs(Seq(0, 3, -2, 999)).isEmpty)
    assert(segs(Seq(2000, -3000, 1500)) == Seq((0L, 3L, 3L, 3000L)))
  }

  test("threshold boundary: |v| == threshold is active, negative included") {
    assert(segs(Seq(0, 1000, -1000, 0)) == Seq((1L, 3L, 2L, 1000L)))
    assert(segs(Seq(0, 999, -999, 0)).isEmpty)
  }

  test("non-PCM and undecodable blobs yield empty; WavPcm agrees on nulls") {
    assert(WavSegments.compute(wav(Seq(5000), fmtCode = 7), 1000).numElements() == 0)
    assert(WavSegments.compute(Array.fill[Byte](30)(1), 1000).numElements() == 0)
    assert(WavPcm.parse(wav(Seq(5000), fmtCode = 7)).isNullAt(0))
  }

  private def bruteAfp(samples: Seq[Int], cells: Int): Long = {
    val n = samples.length
    val sum = new Array[Long](cells + 1)
    val cnt = new Array[Long](cells + 1)
    samples.zipWithIndex.foreach { case (v, i) =>
      val c = (i.toLong * (cells + 1) / n).toInt
      sum(c) += math.abs(v).toLong; cnt(c) += 1
    }
    (0 until cells).foldLeft(0L) { (fp, j) =>
      if (sum(j) / cnt(j) > sum(j + 1) / cnt(j + 1)) fp | (1L << j) else fp
    }
  }

  test("audio fingerprint equals the independent mirror; envelope gradients set bits") {
    import graft.plans.WavFingerprint
    val loudThenQuiet = Seq.fill(20)(20000) ++ Seq.fill(20)(100)
    val r = WavFingerprint.compute(wav(loudThenQuiet), 8)
    assert(r != null && r.getLong(0) == 40L)
    assert(r.getLong(1) == bruteAfp(loudThenQuiet, 8))
    assert(r.getLong(1) != 0L, "a falling envelope must set at least one bit")
    // random-ish stream agrees too
    val mixed = (0 until 37).map(i => ((i * 7919 + 13) % 30000) - 15000)
    val m = WavFingerprint.compute(wav(mixed), 8)
    assert(m != null && m.getLong(1) == bruteAfp(mixed, 8))
  }

  test("audio fingerprint: sub-cell streams and non-PCM yield null") {
    import graft.plans.WavFingerprint
    assert(WavFingerprint.compute(wav(Seq.fill(8)(500)), 8) == null) // n < cells+1
    assert(WavFingerprint.compute(wav(Seq(1, 2, 3), 8), 8) == null)  // non-PCM fmt=8
    assert(WavFingerprint.compute(null, 8) == null)
  }

  test("banded audio near-dup join equals brute force on the planted fixture") {
    import org.apache.spark.sql.functions._
    val fp = graft.multimodal.AudioSegments
      .fingerprints(spark, Sf, expr("doc_id DIV 2")).persist()
    // the 8-bit legacy fingerprint needs the duration pre-bucket (the
    // production 32-bit path is keyless — see resamplePairs)
    val got = graft.multimodal.AudioSegments
      .fpPairs(fp, keyCols = Seq("n_samples")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = fp.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (a, na, fa) <- rows; (b, nb, fb) <- rows
      if a < b && na == nb
      ham = java.lang.Long.bitCount(fa ^ fb).toLong
      if ham <= graft.multimodal.AudioSegments.FpMaxHam
    } yield (a, b, ham)).toSet
    fp.unpersist()
    assert(got == brute)
    assert(brute.exists(_._3 == 0L), "seed-paired identical audio must appear")

    // resampled twins: media 2d at 1x and 2d+1 at 2x differ in duration
    // but not in envelope, so the keyless 32-bit join pairs every one
    val originals = graft.multimodal.AudioSegments
      .fingerprintsCell(spark, Sf, 1, col("doc_id") * 2)
      .collect().map(_.getLong(0)).toSet
    val twins = graft.multimodal.AudioSegments.resamplePairs(spark, Sf).collect()
      .collect { case r if r.getLong(2) == 0L && r.getLong(1) == r.getLong(0) + 1 =>
        r.getLong(0) }.toSet
    assert(originals.nonEmpty && originals.subsetOf(twins),
      s"resampled twins missed: ${(originals -- twins).take(5)}")
  }

  test("refactored WavPcm stats unchanged on a mixed stream") {
    val r = WavPcm.parse(wav(Seq(100, -32768, 32767, 0)))
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 100L + 32768L + 32767L)
    assert(r.getLong(2) == 32768L)
    assert(r.getLong(3) == 2L)
  }
}
