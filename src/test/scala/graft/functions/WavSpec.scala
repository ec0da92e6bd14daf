package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** wav_fmt must walk the chunk list (not assume canonical offsets) and
  * refuse non-WAV bytes. */
class WavSpec extends SparkSpec {

  test("q146: fmt decode matches the generation manifest, null on junk") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("q146_wav_ingest")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val manifest = scala.io.Source
      .fromFile(graft.Fixtures.path("wav/manifest.csv")).getLines().drop(1)
      .map { l =>
        val f = l.split(",")
        (f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong, f(5).toLong)
      }.toArray.sortBy(_._1)
    assert(got.toSeq == manifest.toSeq,
      s"decode != manifest:\n got=${got.toSeq}\n exp=${manifest.toSeq}")
    // wav_e has a junk LIST chunk BEFORE fmt — if it decoded, the chunk
    // walk works; pin it explicitly so a fixture regen can't silently
    // drop the case
    assert(got.exists(_._1 == "wav_e.wav"), "chunk-walk fixture must exist")

    // adversarial bytes: truncated RIFF, PNG bytes, oversize chunk len
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.path("png/img_a.png")))
    val junk = Seq(
      "RIFF".getBytes("UTF-8"),
      png,
      "RIFF\u0000\u0000\u0000\u0000WAVEfmt \u00ff\u00ff\u00ff\u00ff"
        .getBytes("ISO-8859-1")
    ).toDF("content")
    val decoded = junk.select(expr("wav_fmt(content)").as("h")).collect()
    assert(decoded.forall(_.isNullAt(0)), "non-WAV bytes must decode to null")
  }

  test("q201: fingerprint matches the generator manifest; planted structure holds") {
    val dir = graft.Fixtures.path("wav_dedup")
    val manifest = scala.io.Source.fromFile(s"$dir/fingerprint.csv")
      .getLines().drop(1).map { l =>
        val f = l.split(","); f(0) -> f(1).toLong
      }.toMap
    manifest.foreach { case (n, expected) =>
      val bytes = java.nio.file.Files
        .readAllBytes(java.nio.file.Paths.get(s"$dir/$n"))
      val got = WavHeader.fingerprint64(bytes)
      assert(got != null && got.longValue == expected,
        s"$n: scala fingerprint $got != generator $expected")
    }
    def ham(a: String, b: String) =
      java.lang.Long.bitCount(manifest(a) ^ manifest(b))
    // the gain-changed re-master is bits-identical (envelope-relative)
    assert(ham("dup_a0.wav", "dup_a2.wav") == 0)
    assert(ham("dup_a0.wav", "dup_a1.wav") <= 3)
    assert(ham("dup_b0.wav", "dup_b1.wav") <= 3)
    assert(ham("dup_a0.wav", "dup_b0.wav") >= 10)
    // under 64 samples → null (an empty fingerprint window)
    val tiny = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("wav") + "/wav_f.wav")) // 33 frames
    assert(WavHeader.fingerprint64(tiny) == null)
  }

  test("q156: pcm stats match a brute-force decode of the fixture bytes") {
    import spark.implicits._
    // independent model: parse each fixture's data chunk in plain Scala
    // (sequential walk, no shared code with WavHeader.pcmStats' loop
    // beyond the wire format itself)
    def brute(b: Array[Byte]): (Long, Long, Long, Long, Long) = {
      def le16(o: Int) = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      def le32(o: Int) = (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
        ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
      var pos = 12; var bits = 0; var dp = -1; var dn = 0
      while (pos + 8 <= b.length) {
        val tag = new String(b.slice(pos, pos + 4), "ISO-8859-1")
        val size = le32(pos + 4).toInt
        if (tag == "fmt ") bits = le16(pos + 22)
        if (tag == "data") { dp = pos + 8; dn = size }
        pos += 8 + size + (size & 1)
      }
      val amps = (0 until dn / (bits / 8)).map { i =>
        if (bits == 8) (b(dp + i) & 0xFF).toLong - 128L
        else ((b(dp + 2 * i) & 0xFF) | (b(dp + 2 * i + 1) << 8)).toShort.toLong
      }
      (amps.length.toLong, amps.min, amps.max, amps.sum,
        amps.map(a => a * a).sum)
    }
    val dir = new java.io.File(graft.Fixtures.path("wav"))
    val fixtures = dir.listFiles.filter(_.getName.endsWith(".wav")).sortBy(_.getName)
    assert(fixtures.nonEmpty)
    val got = graft.SparkEntry.queries("q156_wav_pcm")(spark, sf0001).collect()
    assert(got.length == fixtures.length)
    fixtures.zip(got).foreach { case (f, r) =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val exp = brute(bytes)
      assert(r.getString(0) == f.getName)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) == exp, s"${f.getName}: got $r expected $exp")
    }
    // empty data chunk: n=0, null min/max, zero sums — not a decode error
    val empty = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ISO-8859-1")).putInt(36)
        .put("WAVE".getBytes("ISO-8859-1"))
        .put("fmt ".getBytes("ISO-8859-1")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(8000)
        .putShort(1).putShort(8)
        .put("data".getBytes("ISO-8859-1")).putInt(0)
      bb.array()
    }
    val er = Seq(empty).toDF("content")
      .select(expr("wav_pcm(content)").as("p")).selectExpr(
        "p.n_samples", "p.amp_min", "p.amp_max", "p.amp_sum", "p.amp_sumsq")
      .head
    assert(er.getLong(0) == 0L && er.isNullAt(1) && er.isNullAt(2) &&
      er.getLong(3) == 0L && er.getLong(4) == 0L)
    // non-WAV bytes are null, same contract as wav_fmt
    val junk = Seq("not a wav".getBytes("UTF-8")).toDF("content")
      .select(expr("wav_pcm(content)")).head
    assert(junk.isNullAt(0))
  }
}
