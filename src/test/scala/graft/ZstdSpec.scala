package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Zstd

/** Golden tests against streams produced by the REFERENCE zstd CLI
  * (v1.5.7) — fixtures committed under src/test/resources/zstd: each
  * `<name>_l<level>.zst` must decode byte-identically to `<name>.bin`.
  * Levels 1/3/19 exercise different literal modes (raw, 1-stream and
  * 4-stream Huffman), sequence table modes (predefined, FSE, repeat),
  * repeat offsets, and multi-block frames; `random` forces raw blocks,
  * `constant` RLE, `empty` the zero-size frame.
  */
class ZstdSpec extends AnyFunSuite {

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd/$name")
    assert(in != null, s"missing fixture $name")
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  private val goldens = Seq(
    "repetitive" -> Seq(1, 3, 19),
    "prose" -> Seq(1, 3, 19),
    "small" -> Seq(3),
    "random" -> Seq(3),
    "constant" -> Seq(3),
    "empty" -> Seq(3),
    "big" -> Seq(3, 19))

  for ((name, levels) <- goldens; lv <- levels) {
    test(s"reference-CLI golden: $name at level $lv decodes byte-identically") {
      val want = res(s"$name.bin")
      val got = Zstd.decompress(res(s"${name}_l$lv.zst"))
      assert(got != null, "decode failed")
      assert(got.length == want.length, s"length ${got.length} vs ${want.length}")
      assert(java.util.Arrays.equals(got, want))
    }
  }

  test("no-checksum frames decode too, and a flipped checksum is rejected") {
    val want = res("prose.bin")
    assert(java.util.Arrays.equals(Zstd.decompress(res("prose_nocheck.zst")), want))
    val withCheck = res("prose_l3.zst")
    val broken = withCheck.clone()
    broken(broken.length - 1) = (broken(broken.length - 1) ^ 0x55).toByte
    assert(Zstd.decompress(broken) == null, "checksum must be verified")
  }

  test("multi-frame concatenation and skippable frames") {
    val a = res("small_l3.zst")
    val b = res("constant_l3.zst")
    val skip = new java.io.ByteArrayOutputStream()
    // skippable frame: magic 0x184D2A5x + size + payload
    skip.write(Array[Byte](0x5e, 0x2a, 0x4d, 0x18))
    skip.write(Array[Byte](3, 0, 0, 0))
    skip.write(Array[Byte](9, 9, 9))
    val cat = new java.io.ByteArrayOutputStream()
    cat.write(a); cat.write(skip.toByteArray); cat.write(b)
    val got = Zstd.decompress(cat.toByteArray)
    val want = res("small.bin") ++ res("constant.bin")
    assert(got != null && java.util.Arrays.equals(got, want))
  }

  test("stored-mode frames round-trip and are accepted by the reference CLI shape") {
    for (s <- Seq("", "x", "hello zstd stored frames", "round trip по кругу",
      "long " * 40000)) { // > one 64 KiB block
      val bytes = s.getBytes("UTF-8")
      val frame = Zstd.storeFrame(bytes)
      val back = Zstd.decompress(frame)
      assert(back != null && java.util.Arrays.equals(back, bytes), s.take(20))
    }
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.plans.{ZstdStoreBytes, ZstdText}
    assert(ZstdText(ZstdStoreBytes(Literal("round trip по кругу"))).eval().toString ==
      "round trip по кругу", "zstd_store_bytes → zstd_text is the identity on UTF-8")
  }

  test("xxh64 matches the reference vectors") {
    // published XXH64 test vectors (seed 0)
    assert(Zstd.xxh64(Array.emptyByteArray, 0, 0) == 0xEF46DB3751D8E999L)
    val abc = "abc".getBytes
    assert(Zstd.xxh64(abc, 0, 3) == 0x44BC2CF5AD770999L)
    val longer = ("xxhash is a fast hash " * 10).getBytes // > 32 bytes
    assert(Zstd.xxh64(longer, 0, longer.length) ==
      Zstd.xxh64((new String(longer) + "!").getBytes, 0, longer.length))
  }

  test("malformed inputs yield null, never a throw") {
    assert(Zstd.decompress(null) == null)
    assert(Zstd.decompress(Array[Byte](1, 2, 3)) == null)
    assert(Zstd.decompress(Array.fill[Byte](64)(0x44)) == null)
    val good = res("prose_l3.zst")
    assert(Zstd.decompress(java.util.Arrays.copyOfRange(good, 0, good.length / 2)) == null)
    val midFlip = good.clone()
    midFlip(good.length / 2) = (midFlip(good.length / 2) ^ 0x2d).toByte
    // structure or (CLI-default) checksum catches the flip — null either way
    assert(Zstd.decompress(midFlip) == null)
  }

  test("dictionary frames are refused cleanly (declared unsupported)") {
    // hand-build a header with dictionary_id_flag = 1 and a nonzero id
    val f = new java.io.ByteArrayOutputStream()
    f.write(Array[Byte](0x28, (0xb5 - 256).toByte, 0x2f, (0xfd - 256).toByte))
    f.write(0x21) // single segment + dictIdFlag 1
    f.write(0x07) // dictionary id = 7
    f.write(0x00) // content size 0
    f.write(Array[Byte](1, 0, 0)) // last raw block, size 0
    assert(Zstd.decompress(f.toByteArray) == null)
  }

  test("the 64 MiB bomb cap nulls instead of dying") {
    // RLE blocks expand 1 byte -> up to 2^21-1; chain enough to cross the cap
    val f = new java.io.ByteArrayOutputStream()
    f.write(Array[Byte](0x28, (0xb5 - 256).toByte, 0x2f, (0xfd - 256).toByte))
    f.write(0x00) // no single segment, no checksum
    f.write(0x78) // window descriptor (large)
    val n = 70
    for (i <- 0 until n) {
      val size = (1 << 20)
      val last = i == n - 1
      val bh = (if (last) 1 else 0) | (1 << 1) | (size << 3)
      f.write(bh & 0xff); f.write((bh >> 8) & 0xff); f.write((bh >> 16) & 0xff)
      f.write(0x41)
    }
    assert(Zstd.decompress(f.toByteArray) == null)
  }
}
