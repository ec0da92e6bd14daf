package graft.functions

import graft.SparkSpec

/** q333's laws: the within-format layer split (q167's png_pixels keeps
  * its historical truecolor non-interlaced contract; the new profiles
  * decode only under png_full, though both run PngFull's decoder),
  * cross-function agreement on the shared profile, corruption voiding. */
class PngFullSpec extends SparkSpec {

  private def fx(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.path("png_full"), name))

  test("within-format split: new profiles void under png_pixels") {
    Seq("full_gray.png", "full_palette.png", "full_gray_i7.png",
      "full_rgb_i7.png", "full_palette_i7.png", "full_rgba_i7.png")
      .foreach { n =>
        assert(PngHeader.pixelStats(fx(n)) == null,
          s"$n must void under the historical png_pixels contract")
        assert(PngFull.decode(fx(n)) != null, s"$n must decode under png_full")
      }
  }

  test("shared truecolor profile: both decoders, one sample total") {
    val b = fx("full_rgb.png")
    val old = PngHeader.pixelStats(b)
    val full = PngFull.decode(b)
    assert(old != null && full != null)
    // q167: struct(n_samples, px_min, px_max, px_sum, px_sumsq);
    // q333: (..., px_min@6, px_max@7, px_sum@8, px_sqsum@9, crc@10)
    assert(old.getLong(3) == full.getLong(8), "px_sum must agree")
    assert(old.getLong(4) == full.getLong(9), "px_sqsum must agree")
    assert(old.getLong(1) == full.getLong(6) && old.getLong(2) == full.getLong(7))
  }

  test("corruptions void: palette overrun, truncation, surplus scanlines") {
    assert(PngFull.decode(fx("corrupt_palidx.png")) == null,
      "an index past the PLTE must void, never read garbage color")
    assert(PngFull.decode(fx("corrupt_trunc.png")) == null)
    assert(PngFull.decode(fx("corrupt_extra.png")) == null,
      "a valid zlib stream with surplus scanlines must void")
    val good = fx("full_palette_i7.png")
    var cut = 8
    while (cut < good.length) {
      assert(PngFull.decode(java.util.Arrays.copyOf(good, cut)) == null,
        s"truncated at $cut must void")
      cut += 7 // sample the cut space; every byte is slow on large files
    }
  }
}
