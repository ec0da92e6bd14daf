package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite

/** Exact output on corrupted input, for all eleven image functions. A
  * seeded corpus of 20,000 mutations of the committed JPEG/PNG fixtures
  * (1–3 random byte writes, a truncation, or a single bit flip) must
  * never make a decoder throw — a throw would fail the whole
  * `binaryFile` scan instead of voiding one row — and must reproduce
  * pinned order-sensitive digests of every output, so a refactor of a
  * codec cannot silently move its accept/void boundary. The truecolor PNG
  * functions share png_full's decoder: they may never accept bytes
  * png_full voids, and must agree with it on the pixel statistics. */
class CodecMutationSpec extends AnyFunSuite {
  import CodecMutationSpec._

  test("no decoder throws on the mutation corpus") {
    val thrown = outputs.zipWithIndex.flatMap { case (row, i) =>
      row.zip(Functions).collect {
        case (Thrown(t), (fn, _)) => s"$fn on mutant $i: $t"
      }
    }
    assert(thrown.isEmpty,
      s"${thrown.length} throws, first: ${thrown.take(5).mkString("; ")}")
  }

  test("outputs on the mutation corpus match the pinned digests") {
    assert(fixtures.size == 61, s"corpus seeds: ${fixtures.size} fixtures")
    val got = Pinned.keys.map(fn => fn -> digest(fn)).toMap
    assert(got == Pinned, s"digests moved: $got")
  }

  test("truecolor PNG functions accept only what png_full accepts") {
    val fullAt = Functions.indexWhere(_._1 == "png_full")
    val pixAt = Functions.indexWhere(_._1 == "png_pixels")
    outputs.zipWithIndex.foreach { case (row, i) =>
      val full = row(fullAt)
      Seq("png_pixels", "png_ahash", "png_box2").foreach { fn =>
        if (row(Functions.indexWhere(_._1 == fn)) != null)
          assert(full != null, s"mutant $i: $fn accepts bytes png_full voids")
      }
      row(pixAt) match {
        case px: InternalRow =>
          val f = full.asInstanceOf[InternalRow]
          (1 to 4).foreach { k =>
            assert(px.getLong(k) == f.getLong(k + 5),
              s"mutant $i: png_pixels field $k != png_full field ${k + 5}")
          }
        case _ => ()
      }
    }
  }
}

object CodecMutationSpec {

  final case class Thrown(t: Throwable)

  val Functions: Seq[(String, Array[Byte] => Any)] = Seq(
    "jpeg_info" -> JpegInfo.decode,
    "jpeg_exif" -> JpegExif.decode,
    "jpeg_pixels" -> JpegCodec.pixels,
    "jpeg_rgb" -> JpegCodec.rgb,
    "jpeg_prog_pixels" -> JpegCodec.progPixels,
    "jpeg_prog_rgb" -> JpegCodec.progRgb,
    "png_ihdr" -> PngHeader.ihdr,
    "png_pixels" -> PngHeader.pixelStats,
    "png_ahash" -> (b => PngHeader.ahash64(b)),
    "png_box2" -> PngHeader.box2Stats,
    "png_full" -> PngFull.decode)

  /** SHA-256 prefixes of each function's output stream over the corpus,
    * computed on the decoders as they stood before the JPEG and PNG
    * cores were merged (a throw counted as null). png_pixels, png_ahash
    * and png_box2 are left out: they now void truecolor files without
    * IEND or with surplus scanline data, which they used to accept. */
  val Pinned: Map[String, String] = Map(
    "jpeg_info" -> "237a14ceb1cc3283",
    "jpeg_exif" -> "07ae50ed87253c43",
    "jpeg_pixels" -> "c3e5f001e5bd07d3",
    "jpeg_rgb" -> "abbfe663fab88d45",
    "jpeg_prog_pixels" -> "cdc3f7d3d2a0f832",
    "jpeg_prog_rgb" -> "6c90206acb007323",
    "png_ihdr" -> "19b180420862cebe",
    "png_full" -> "2f346c4f751c7a56")

  val Size = 20000

  lazy val fixtures: IndexedSeq[Array[Byte]] =
    Seq("jpeg", "jpeg_color", "jpeg_decode", "jpeg_prog", "jpeg_prog_color",
      "png", "png_dedup", "png_full").flatMap { d =>
      new java.io.File(graft.Fixtures.path(d)).listFiles
        .filter(f => f.getName.endsWith(".jpg") || f.getName.endsWith(".png"))
        .sortBy(_.getName)
        .map(f => java.nio.file.Files.readAllBytes(f.toPath))
    }.toIndexedSeq

  /** Mutant `i`: fixture `i mod 61`, mutation kind `i mod 3`, every
    * position and value drawn from `Random(i)`. */
  def mutant(i: Int): Array[Byte] = {
    val src = fixtures(i % fixtures.size)
    val rnd = new java.util.Random(0x5EEDL * 1000003L + i)
    i % 3 match {
      case 0 => // 1-3 random byte writes
        val b = src.clone()
        (0 to rnd.nextInt(3)).foreach { _ =>
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        }
        b
      case 1 => java.util.Arrays.copyOf(src, rnd.nextInt(src.length))
      case _ => // one bit flip
        val b = src.clone()
        val at = rnd.nextInt(b.length)
        b(at) = (b(at) ^ (1 << rnd.nextInt(8))).toByte
        b
    }
  }

  /** outputs(i)(f): function f on mutant i, a [[Thrown]] if it threw. */
  lazy val outputs: IndexedSeq[IndexedSeq[Any]] = (0 until Size).map { i =>
    val b = mutant(i)
    Functions.map { case (_, f) =>
      try f(b) catch { case t: Exception => Thrown(t) }
    }.toIndexedSeq
  }

  def render(v: Any): String = v match {
    case null | Thrown(_) => "null"
    case r => r.toString
  }

  def digest(fn: String): String = {
    val at = Functions.indexWhere(_._1 == fn)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outputs.zipWithIndex.foreach { case (row, i) =>
      md.update(s"$i:${render(row(at))}\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"${b & 0xFF}%02x").mkString
  }
}
