package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q330/q331 laws: the structural and pixel layers split exactly on the
  * planted corruptions, the LZW surface is bit-exact against the
  * generator intent, and truncation anywhere voids — never mis-decodes,
  * never crashes the scan. */
class GifSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.path("gif"), name))

  test("layer split: rotten LZW passes the walk, voids the decode; " +
    "structural corruption voids both") {
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.gif")
      .load(graft.Fixtures.path("gif"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("gif_info(content)").as("info"),
        expr("gif_pixels(content)").as("px"))
      .collect()
      .map(r => (r.getString(0), (!r.isNullAt(1), !r.isNullAt(2)))).toMap
    assert(rows.size == 11)
    rows.foreach { case (name, (infoOk, pxOk)) =>
      name match {
        case "corrupt_code.gif" =>
          assert(infoOk && !pxOk, s"$name: structure valid, LZW rotten")
        case "gif_anim.gif" =>
          assert(infoOk && !pxOk,
            s"$name: the walk counts both frames, the decode profile is one")
        case "corrupt_trunc.gif" | "corrupt_trailer.gif" =>
          assert(!infoOk && !pxOk, s"$name must void both layers")
        case _ =>
          assert(infoOk && pxOk, s"$name must decode under both layers")
      }
    }
  }

  test("gif_reset.gif fills the dictionary: CLEAR resets observed") {
    val r = GifPixels.decode(fixture("gif_reset.gif"))
    assert(r != null)
    assert(r.getLong(4) >= 2L, // n_clears: initial + >=1 mid-stream reset
      s"reset fixture decoded with ${r.getLong(4)} clears")
  }

  test("truncation at every byte voids, never mis-decodes") {
    val good = fixture("gif_lct.gif")
    assert(GifPixels.decode(good) != null)
    var cut = 1
    while (cut < good.length) {
      assert(GifPixels.decode(java.util.Arrays.copyOf(good, cut)) == null,
        s"truncated at $cut must void")
      assert(GifInfo.decode(java.util.Arrays.copyOf(good, cut)) == null,
        s"walk truncated at $cut must void")
      cut += 1
    }
  }

  test("gif_frames: single-frame files agree with gif_pixels struct-for-struct") {
    Seq("gif_runs.gif", "gif_lct.gif", "gif_interlaced.gif", "gif_reset.gif")
      .foreach { n =>
        val one = GifPixels.decode(fixture(n))
        val fs = GifFrames.decode(fixture(n))
        assert(one != null && fs != null && fs.numElements() == 1)
        val f = fs.getStruct(0, 11)
        // frames struct = (frame, width, height, palette_size,
        // interlaced, n_clears, min, max, sum, sqsum, crc)
        assert(f.getLong(0) == 0L)
        assert(f.getLong(1) == one.getLong(0) && f.getLong(2) == one.getLong(1))
        assert(f.getLong(3) == one.getLong(2))
        assert(f.getBoolean(4) == one.getBoolean(3))
        (5 to 10).foreach(k => assert(f.getLong(k) == one.getLong(k - 1),
          s"$n frame field $k"))
      }
    // the 3-frame animation: per-frame palettes and interlace flags
    val anim = GifFrames.decode(fixture("gif_anim.gif"))
    assert(anim != null && anim.numElements() == 3)
    assert(!anim.getStruct(0, 11).getBoolean(4))
    assert(anim.getStruct(1, 11).getBoolean(4), "frame 1 is interlaced")
    assert(anim.getStruct(0, 11).getLong(3) == 8L)  // GCT
    assert(anim.getStruct(1, 11).getLong(3) == 16L) // own LCT
    assert(anim.getStruct(2, 11).getLong(3) == 4L)
    assert(GifFrames.decode(fixture("corrupt_code.gif")) == null)
    assert(GifFrames.decode(fixture("corrupt_trunc.gif")) == null)
  }

  test("interlace decodes to the LOGICAL surface; a frame offset voids") {
    // the interlaced fixture's CRC is the q331 oracle's job; here the
    // structural claim: its de-interlaced surface equals the same
    // image written sequentially (manifest rows share stats by
    // construction — assert the decoder agrees)
    val inter = GifPixels.decode(fixture("gif_interlaced.gif"))
    assert(inter != null && inter.getBoolean(3), "must decode as interlaced")
    // a non-zero frame offset is out of the full-frame profile
    val g = fixture("gif_small87.gif")
    var i = 13 + 3 * 4 // header + LSD + 4-entry GCT
    while ((g(i) & 0xFF) != 0x2C) i += 1
    val off = g.clone()
    off(i + 1) = 1 // image left = 1
    assert(GifInfo.decode(off) != null, "walk tolerates frame offsets")
    assert(GifPixels.decode(off) == null, "offset frame is out of decode profile")
  }
}
