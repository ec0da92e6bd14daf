package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Multimodal-column plumbing (BASELINE.json north-star): image/audio/video
  * as opaque `binary` columns with typed metadata.
  *
  * The container has no media codecs, so the DECODE step is a deterministic
  * fake (clearly marked below); everything Spark-side — binary columns,
  * schema, partition-preserving mapPartitions batch shape, typed metadata
  * extraction — is real and tested. In production the fake decoder body is
  * the only thing that changes (swap in the codec call); the dataflow
  * around it is already the 100 TB shape: binary payloads never shuffle,
  * features are extracted in one partition-local pass.
  */
object Multimodal {

  /** A fake "asset": the document text encoded as bytes stands in for an
    * image payload; metadata derived with exact integer arithmetic. */
  def assets(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id").as("asset_id"),
      encode(col("text"), "UTF-8").as("payload"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  case class Asset(asset_id: Long, payload: Array[Byte])
  case class AssetFeatures(asset_id: Long, n_bytes: Long, mean_byte: Double,
      byte_entropy_q: Long, features: Array[Double])

  /** FAKE DECODER — stands in for image decode / feature extraction (the
    * real thing would call a codec here). Deterministic: an 8-bin byte
    * histogram normalized to a feature vector. */
  private def fakeDecode(a: Asset): AssetFeatures = {
    val hist = new Array[Long](8)
    var sum = 0L
    for (b <- a.payload) { hist((b & 0xff) / 32) += 1; sum += (b & 0xff) }
    val n = a.payload.length.max(1)
    AssetFeatures(a.asset_id, a.payload.length.toLong,
      sum.toDouble / n,
      hist.count(_ > 0).toLong,
      hist.map(_.toDouble / n))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- archive containers (round 11): the crawl wire formats ----------

    "q283_tar_ingest" -> ((s, d) => {
      // tar member walk — the simplest container a document dump ships
      // in: tar_entries walks 512-byte ustar blocks, VALIDATES each
      // header checksum (chksum field counted as spaces — a flipped
      // header byte voids the whole file, which is how broken.tar dies
      // here rather than emitting its intact leading entry), joins the
      // ustar prefix field, and reduces each member to (name, size,
      // typeflag, offset, payload_md5) inside the scan projection —
      // payload bytes never leave the task (the q209 contract). Oracle
      // = the generator's INDEPENDENT 512-block walk, itself
      // cross-checked against Python tarfile's listing
      // (tools/gen_archive_fixtures.py).
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(graft.Fixtures.path("tar"))
        .select(element_at(split(col("path"), "/"), -1).as("file"),
          expr("tar_entries(content)").as("es"))
        .where(col("es").isNotNull) // DROPMALFORMED: broken.tar
        .select(col("file"), explode(col("es")).as("e"))
        .select(col("file"), col("e.name").as("name"),
          col("e.size").as("size"), col("e.typeflag").as("typeflag"),
          col("e.offset").as("offset"),
          col("e.payload_md5").as("payload_md5"))
        .orderBy("file", "offset")
    }),

    "q284_zip_ingest" -> ((s, d) => {
      // zip central-directory walk: EOCD → central entries → local
      // headers, stored entries copied, deflate entries re-inflated
      // (the q167/q209 JDK-Inflater discipline, raw/nowrap for zip),
      // and EVERY payload re-verified against its stored CRC32 + usize.
      // The verdict split is the operator's point: STRUCTURAL damage
      // voids the file (null), DATA damage the container makes
      // per-entry detectable stays a row — corrupt.zip's flipped stored
      // byte surfaces as crc_ok = false with the md5 OF THE CORRUPTED
      // BYTES, exactly what a quarantine stage needs. Oracle = the
      // generator's independent EOCD/CD/local struct walk.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(graft.Fixtures.path("zip"))
        .select(element_at(split(col("path"), "/"), -1).as("file"),
          expr("zip_entries(content)").as("es"))
        .where(col("es").isNotNull)
        .select(col("file"), explode(col("es")).as("e"))
        .select(col("file"), col("e.idx").as("idx"),
          col("e.name").as("name"), col("e.method").as("method"),
          col("e.csize").as("csize"), col("e.usize").as("usize"),
          col("e.crc_ok").as("crc_ok"),
          col("e.payload_md5").as("payload_md5"))
        .orderBy("file", "idx")
    }),

    "q285_warc_extract" -> ((s, d) => {
      // WARC/1.0 record parse + in-scan HTML extraction — the crawl
      // pipeline run from the actual WIRE format instead of a documents
      // table: warc_records walks version line / headers / Content-
      // Length payload / CRLF-CRLF separators, splits response payloads
      // into HTTP status + body, and the body flows through the
      // IDENTICAL q204 cleaning (htmlCleanOf — scripts/styles dropped,
      // tags to spaces, five entities, whitespace collapse) INSIDE the
      // projection: corpus-sized text crosses the shuffle as md5 +
      // head40, never pages. Oracle = the generation manifest, whose
      // clean text is planted ground truth (the generator ASSERTS its
      // independent Python cleaner inverts the builder's encoding
      // exactly).
      val clean = TextAnalysis.htmlCleanOf(col("r.body"))
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(graft.Fixtures.path("warc"))
        .select(expr("warc_records(content)").as("rs"))
        .where(col("rs").isNotNull)
        .select(explode(col("rs")).as("r"))
        .select(col("r.seq").as("seq"), col("r.rec_type").as("rec_type"),
          col("r.target_uri").as("target_uri"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"),
          col("r.payload_md5").as("payload_md5"),
          when(col("r.rec_type") === "response", md5(clean))
            .otherwise(lit("")).as("clean_md5"),
          when(col("r.rec_type") === "response", substring(clean, 1, 40))
            .otherwise(lit("")).as("clean_head40"))
        .orderBy("seq")
    }),

    "q286_warcgz_members" -> ((s, d) => {
      // Multi-member gzip walk — the Common Crawl convention (one gzip
      // member per WARC record) that makes a 100 TB warc.gz SPLITTABLE
      // at member boundaries: gzip_members honors the header flag
      // fields, raw-inflates each member, and verifies BOTH trailer
      // fields (CRC32 and ISIZE mod 2^32) — a member that inflates but
      // lies about its payload voids the file. Each member reduces to
      // (seq, offset, csize, usize, payload_md5); ArchiveSpec pins the
      // wire identity end-to-end: concatenating the inflated members
      // reproduces crawl.warc byte-for-byte, so THIS query's members
      // and q285's records certify each other. Oracle = the generator's
      // independent member walk.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(graft.Fixtures.path("warc"))
        .select(expr("gzip_members(content)").as("ms"))
        .where(col("ms").isNotNull)
        .select(explode(col("ms")).as("m"))
        .select(col("m.seq").as("seq"), col("m.offset").as("offset"),
          col("m.csize").as("csize"), col("m.usize").as("usize"),
          col("m.payload_md5").as("payload_md5"))
        .orderBy("seq")
    }),

    "q306_utf8_repair" -> ((s, d) => {
      // UTF-8 validation + repair — the charset gate BEFORE every text
      // stage in a crawl ingest (a latin-1 page read as UTF-8 silently
      // mojibakes the whole downstream pipeline): utf8_stats classifies
      // every byte sequence in one pass with strict spec ranges
      // (overlongs, surrogates and >U+10FFFF all rejected) and repairs
      // invalid sequences to U+FFFD under the WHATWG maximal-subpart
      // policy. Three implementations pin each other: this decoder, the
      // generator's independent Python walker, and CPython's own
      // errors='replace' codec (asserted equal in the generator on
      // every fixture). The fixture set plants ASCII, 2/3/4-byte
      // sequences, stray continuation/lead bytes, latin-1-as-utf8 and
      // a truncated sequence at EOF.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(graft.Fixtures.path("utf8"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("utf8_stats(content)").as("u"))
        .select(col("name"), col("u.n_bytes").as("n_bytes"),
          col("u.n_chars").as("n_chars"), col("u.n_bad").as("n_bad"),
          col("u.text_md5").as("text_md5"))
        .orderBy("name")
    }),

    "q300_wire_card" -> ((s, d) => {
      // The suite's 300th query runs the whole ingest from WIRE BYTES
      // to a training-data card in one plan: crawl.warc → warc_records
      // (q285's decoder) → response bodies → the q204 cleaning inside
      // the projection → token statistics — the q205 funnel idea
      // started one level earlier, at the format a crawl actually
      // ships. Output is the one-row dataset card (records, responses,
      // 200s, content bytes, clean chars, token count, distinct
      // tokens), every number an exact integer from lazy 1-row frames.
      // Oracle = card_manifest.csv, computed by the generator from the
      // independent Python walk + mimic cleaner over the SAME planted
      // texts the per-record q285 manifest certifies — so the two
      // queries pin each other's decode at different granularities.
      val recs = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(graft.Fixtures.path("warc"))
        .select(explode(expr("warc_records(content)")).as("r"))
        .select(col("r.rec_type").as("rec_type"),
          col("r.content_length").as("cl"),
          col("r.http_status").as("st"), col("r.body").as("body"))
        .transform(graft.CacheRegistry.cached)
      val resp = recs.where(col("rec_type") === "response")
        .select(TextAnalysis.htmlCleanOf(col("body")).as("clean"))
        .transform(graft.CacheRegistry.cached)
      val toks = resp.select(explode(split(col("clean"), " ")).as("tok"))
      recs
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("rec_type") === "response", 1L).otherwise(0L))
            .as("n_responses"),
          sum(when(col("st") === 200, 1L).otherwise(0L)).as("n_ok"),
          sum(col("cl")).as("content_bytes"))
        .crossJoin(broadcast(resp.agg(
          sum(length(col("clean"))).cast("long").as("clean_chars"))))
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct"))))
    }),

    "q90_multimodal_meta" -> ((s, d) =>
      // typed metadata over binary columns — oracle-checked (exact ints)
      assets(s, d).select(
        col("asset_id"), col("n_bytes"),
        (lit(64L) + col("n_bytes") % 512).as("fake_width"),
        (lit(64L) + (col("n_bytes") * 7L) % 512).as("fake_height"),
        (col("n_bytes") % 3).as("codec_id"))
        .orderBy("asset_id")),

    "q91_multimodal_features" -> ((s, d) => {
      // partition-local batch decode via typed mapPartitions (the Scala
      // analog of mapInPandas: one iterator per partition = one batch).
      // Oracle-checked: the fake decoder's byte histogram is reproduced in
      // DuckDB via list comprehension over ascii codepoints (== UTF-8
      // bytes on this ASCII corpus). The 8-bin feature vector is projected
      // to scalar columns f0..f7 because the driver's check cannot
      // sort/hash an array<double> column (round-1 q91 failure).
      import s.implicits._
      val decoded = assets(s, d).select(col("asset_id"), col("payload")).as[Asset]
        .mapPartitions(_.map(fakeDecode))
        .toDF()
      decoded.select(
        Seq(col("asset_id"), col("n_bytes"),
          (round(col("mean_byte") * 1e6) / 1e6).as("mean_byte6"),
          col("byte_entropy_q")) ++
        (0 until 8).map(k =>
          (round(col("features").getItem(k) * 1e6) / 1e6).as(s"f$k")): _*)
        .orderBy("asset_id")
    }),

    "q92_frame_sample" -> ((s, d) => {
      // video frame sampling, the Spark-side shape: per asset, uniformly
      // pick up to 8 of its n_frames and emit one ROW per sampled frame
      // with the frame's timestamp and byte offset — the explode turns an
      // opaque video blob into a frame-level work list the q91-style
      // mapPartitions decoder consumes. Pure per-row expansion: no shuffle
      // until the final sort, so it scales linearly. Frame geometry is
      // exact integer arithmetic (fake 24 fps container) → hash oracle.
      val a = assets(s, d)
        .withColumn("n_frames", lit(1L) + col("n_bytes") % 240)
        .withColumn("n_sample", least(col("n_frames"), lit(8L)))
      a.select(col("asset_id"), col("n_bytes"), col("n_frames"),
          explode(sequence(lit(0L), col("n_sample") - 1)).as("i"),
          col("n_sample"))
        .select(col("asset_id"), col("n_frames"),
          expr("(i * n_frames) div n_sample").as("frame_idx"),
          expr("((i * n_frames) div n_sample) * 1000 div 24").as("ts_ms"),
          expr("((i * n_frames) div n_sample) * (n_bytes div n_frames)")
            .as("byte_offset"))
        .orderBy("asset_id", "frame_idx")
    }),

    "q93_resize_plan" -> ((s, d) => {
      // aspect-preserving resize + center-crop planning (short side → 224):
      // the metadata arithmetic every image pipeline runs BEFORE the codec
      // call (which stays in the q91 mapPartitions stub). Exact integers →
      // hash oracle; per-row, shuffle-free.
      val t224 = lit(224L)
      assets(s, d)
        .select(col("asset_id"),
          (lit(64L) + col("n_bytes") % 512).as("w"),
          (lit(64L) + (col("n_bytes") * 7L) % 512).as("h"))
        .withColumn("out_w",
          when(col("w") <= col("h"), t224)
            .otherwise(expr("w * 224 div h")))
        .withColumn("out_h",
          when(col("w") <= col("h"), expr("h * 224 div w"))
            .otherwise(t224))
        .withColumn("crop_x", expr("(out_w - 224) div 2"))
        .withColumn("crop_y", expr("(out_h - 224) div 2"))
        .orderBy("asset_id")
    }),

    "q200_image_dedup" -> ((s, d) => {
      // Perceptual image dedup — the multimodal twin of q68's SimHash
      // text dedup, on REAL pixels: png_ahash decodes each committed
      // PNG (chunk walk → inflate → unfilter, shared with q167) and
      // reduces it to a 64-bit average-hash (integer luma → 8×8 box
      // grid → above-mean bits), so near-identical images (re-encodes,
      // small edits, brightness touch-ups on a region) land within a
      // few bits. Candidate generation is the q68 banding: 4×16-bit
      // band keys equi-join — any pair within hamming ≤ 3 shares an
      // untouched band by pigeonhole, so recall is GUARANTEED, and at
      // corpus scale the join meets only same-band pairs, never all
      // pairs. The oracle reads ahash.csv — the fixture generator's
      // own hashes, computed with the same integer formula (ground
      // truth by construction) — and does the all-pairs form DuckDB
      // can afford at fixture size; banded and all-pairs answers are
      // provably equal at this threshold, which is exactly the
      // contract the banding claims. Payload bytes never shuffle: 8
      // bytes of hash per image cross the exchange.
      val hashed = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(graft.Fixtures.path("png_dedup"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("png_ahash(content)").as("h"))
        .transform(graft.CacheRegistry.cached)
      val banded = hashed.select(col("name"), col("h"),
        explode(expr("array(0, 1, 2, 3)")).as("band"))
        .withColumn("key",
          expr("shiftrightunsigned(h, CAST(band * 16 AS INT)) & 65535"))
      val a = banded.select(col("name").as("a"), col("h").as("ha"),
        col("band"), col("key"))
      val b = banded.select(col("name").as("b"), col("h").as("hb"),
        col("band"), col("key"))
      a.join(b, Seq("band", "key"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"),
          expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
        .distinct() // a pair can share several bands
        .where(col("hamming") <= 3)
        .orderBy("a", "b")
    }),

    "q201_audio_dedup" -> ((s, d) => {
      // q200's perceptual dedup on the AUDIO axis: wav_fingerprint
      // parses real PCM bytes (shared chunk walk with q156) into a
      // 64-bit loudness-envelope hash — 64 equal sample windows, mean
      // |amplitude| per window, above-global-mean bits — so additive
      // noise and uniform gain changes (a re-mastered copy) land
      // bits-identical while unrelated clips sit ~32 away (the fixture
      // generator asserts the planted structure). Candidates via the
      // same 4×16-bit banding, recall guaranteed for hamming ≤ 3 by
      // pigeonhole; 8 bytes per clip cross the shuffle, never audio.
      val hashed = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(graft.Fixtures.path("wav_dedup"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("wav_fingerprint(content)").as("h"))
        .transform(graft.CacheRegistry.cached)
      val banded = hashed.select(col("name"), col("h"),
        explode(expr("array(0, 1, 2, 3)")).as("band"))
        .withColumn("key",
          expr("shiftrightunsigned(h, CAST(band * 16 AS INT)) & 65535"))
      val a = banded.select(col("name").as("a"), col("h").as("ha"),
        col("band"), col("key"))
      val b = banded.select(col("name").as("b"), col("h").as("hb"),
        col("band"), col("key"))
      a.join(b, Seq("band", "key"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"),
          expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
        .distinct()
        .where(col("hamming") <= 3)
        .orderBy("a", "b")
    }),

    "q206_video_ingest" -> ((s, d) => {
      // The VIDEO leg of the real-bytes multimodal family (image q144,
      // audio q146): avi_hdr walks the RIFF/AVI chunk list — never a
      // fixed offset; fixtures plant JUNK before hdrl and padding
      // before avih — and decodes microseconds-per-frame, total
      // frames, width, height from actual header bytes. On top sits
      // the brief's FRAME-SAMPLE step as real Spark plumbing: a
      // uniform 8-sample plan per clip (stride = max(1, frames div
      // 8)), exploded to (sample_idx, ts_ms) rows with exact integer
      // timestamps — the schema/partitioning a production extractor
      // hands its (stubbed-here) codec call, per the SURVEY multimodal
      // stance. Payloads never shuffle; ~40 bytes of plan per sample.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(graft.Fixtures.path("avi"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("avi_hdr(content)").as("h"))
        .select(col("name"), col("h.us_per_frame").as("us_per_frame"),
          col("h.total_frames").as("total_frames"),
          col("h.width").as("width"), col("h.height").as("height"))
        .withColumn("stride",
          greatest(lit(1L), expr("total_frames div 8")))
        .select(col("name"), col("us_per_frame"), col("total_frames"),
          col("width"), col("height"),
          explode(expr("transform(" +
            "sequence(0, (total_frames - 1) div stride), " +
            "i -> i * stride)")).as("sample_idx"))
        .withColumn("ts_ms", expr("sample_idx * us_per_frame div 1000"))
        .orderBy("name", "sample_idx")
    }),

    "q207_video_dedup" -> ((s, d) => {
      // Video-level perceptual dedup — closes the multimodal dedup triad
      // (image q200, audio q201, video here): avi_sample_ahash consumes
      // q206's uniform-8 frame-sample plan INSIDE the scan projection —
      // one pass over the blob hashes only the planned frames' real luma
      // bytes (16x16 `00db` grids in LIST(movi)) with the shared q200
      // aHash formula — so a clip becomes a SEQUENCE of (sample_idx,
      // 64-bit hash) and payloads never shuffle (~16 bytes/sample).
      // Clip-level matching extends the q200/q201 banding contract to
      // sequences: candidates share a 16-bit band ON THE SAME sampled
      // frame (recall guaranteed for per-frame hamming <= 3 by
      // pigeonhole), verified per frame by exact hamming, then two clips
      // are near-dups when >= 3/4 of their aligned samples match — a
      // re-encode (same frames, few bits moved) matches 8/8, unrelated
      // clips match 0 (fixture generator asserts both). The oracle does
      // the all-pairs form over sample_hash.csv (the generator's own
      // hashes, ground truth by construction); banded and all-pairs
      // answers are provably equal at this threshold — exactly the
      // claim the banding makes at corpus scale, where the join meets
      // only same-(frame, band) pairs, never all clip pairs.
      val hashed = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(graft.Fixtures.path("avi_dedup"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          explode(expr("avi_sample_ahash(content)")).as("f"))
        .select(col("name"), col("f.sample_idx").as("sample_idx"),
          col("f.h").as("h"))
        .transform(graft.CacheRegistry.cached)
      val nSamples = hashed.groupBy(col("name"))
        .agg(count(lit(1)).as("n"))
      val banded = hashed.select(col("name"), col("sample_idx"), col("h"),
        explode(expr("array(0, 1, 2, 3)")).as("band"))
        .withColumn("key",
          expr("shiftrightunsigned(h, CAST(band * 16 AS INT)) & 65535"))
      val a = banded.select(col("name").as("a"), col("sample_idx"),
        col("h").as("ha"), col("band"), col("key"))
      val b = banded.select(col("name").as("b"), col("sample_idx"),
        col("h").as("hb"), col("band"), col("key"))
      val matchedFrames = a.join(b, Seq("sample_idx", "band", "key"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"), col("sample_idx"),
          expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
        .distinct() // a (pair, frame) can share several bands
        .where(col("hamming") <= 3)
      matchedFrames.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("matched_samples"))
        .join(nSamples.withColumnRenamed("name", "a")
          .withColumnRenamed("n", "na"), Seq("a"))
        .join(nSamples.withColumnRenamed("name", "b")
          .withColumnRenamed("n", "nb"), Seq("b"))
        .withColumn("n_samples", greatest(col("na"), col("nb")))
        .where(col("matched_samples") * 4 >= col("n_samples") * 3)
        .select(col("a"), col("b"), col("matched_samples"),
          col("n_samples"))
        .orderBy("a", "b")
    }),

    "q210_video_trim_dedup" -> ((s, d) => {
      // Temporal-offset-ROBUST video matching — closes q207's documented
      // design limit (alignment by sample ordinal ⇒ a trimmed/shifted
      // re-upload, the most common video dup in a real crawl, never
      // matches): the q63 MinHash discipline applied to each clip's
      // frame-hash SET. avi_frame_ahashes hashes EVERY frame inside the
      // scan projection (a production ingest uses a fixed temporal rate —
      // fixed, not q206-proportional, exactly so the set survives
      // trimming); the distinct 64-bit hashes are the set elements, 16
      // md5-slice minhashes (4 digests × 4 slices — q63's formula
      // verbatim) band into 4×4 LSH buckets, candidates equi-join on
      // (band, key), and the exact set-Jaccard verifies candidates with
      // an integer-exact threshold (c·10 ≥ union·7). The trim pair sits
      // at 20/24 = 0.833; re-encode pairs (q207's leg — exact hash
      // VALUES differ wherever a bit moved) max out at 0.5 and
      // cross-base pairs at an incidental single collision — margins
      // the fixture generator ASSERTS, along with the banded recall of
      // the planted trim pair under this exact minhash formula. Oracle =
      // the same sigs→bands→cand→verify chain in DuckDB over
      // frame_hash.csv (the generator's own hashes). At corpus scale:
      // ~8 bytes/frame cross the shuffle, candidates only from shared
      // band buckets, exact verify only on candidates — never all clip
      // pairs, never payloads.
      val el = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(graft.Fixtures.path("avi_dedup"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          explode(expr("avi_frame_ahashes(content)")).as("h"))
        .select(col("name"), col("h").cast("string").as("s"))
        .distinct()
      // not persisted: all four reads (signatures, both pair sides) share
      // the distinct's exchange, so the decode runs once (PlanSpec pin)
      // q63's split-digest signatures: 4 md5 calls, 4 8-hex slices each
      val sigAggs = (for (m <- 0 until 4; p <- 0 until 4) yield
        min(substring(md5(concat(lit(s"${m}_"), col("s"))), p * 8 + 1, 8))
          .as(s"m${m * 4 + p}")) :+ count(lit(1)).as("n")
      val sigs = el.groupBy(col("name")).agg(sigAggs.head, sigAggs.tail: _*)
      val bandKeys = (0 until 4).map(b =>
        concat_ws("|", (0 until 4).map(p => col(s"m${b * 4 + p}")): _*))
      val ex = sigs.withColumn("bands", array(bandKeys: _*))
        .select(col("name"), col("n"),
          posexplode(col("bands")).as(Seq("band", "key")))
      val cand = ex.select(col("band"), col("key"), col("name").as("a"),
          col("n").as("na"))
        .join(ex.select(col("band"), col("key"), col("name").as("b"),
          col("n").as("nb")), Seq("band", "key"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"), col("na"), col("nb")).distinct()
      val ea = el.select(col("name").as("a"), col("s"))
      val eb = el.select(col("name").as("b"), col("s"))
      ea.join(eb, "s").where(col("a") < col("b"))
        .join(cand, Seq("a", "b"), "left_semi")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .join(cand, Seq("a", "b"))
        .where(col("c") * 10 >= (col("na") + col("nb") - col("c")) * 7)
        .select(col("a"), col("b"), col("c").as("common_frames"),
          col("na"), col("nb"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c")))
            .as("jac"))
        .orderBy("a", "b")
    }),

    "q209_pdf_extract" -> ((s, d) => {
      // PDF text extraction — the last major crawl modality of the
      // real-bytes family (HTML q204, PNG q144/q167/q200, WAV
      // q146/q156/q201, AVI q206/q207): pdf_text walks every
      // `<< .. >> stream .. endstream` object in file order, inflates
      // /FlateDecode payloads with the q167 JDK-Inflater discipline,
      // skips /Image XObjects, and tokenizes BT..ET text objects —
      // `(..) Tj` / `[..] TJ` show strings (kern numbers ignored),
      // Td/TD/T* line moves to '\n', full §7.3.4.2 literal-string
      // escape decode. Malformed anywhere ⇒ the whole file decodes to
      // null and is DROPped (doc_broken.pdf is planted truncated
      // mid-stream to keep that path exercised in-query; PdfSpec pins
      // its null). Oracle = the generator's manifest, declared-text
      // ground truth INDEPENDENTLY re-validated by the generator's own
      // standalone mini-parser (tools/gen_pdf_fixtures.py), so builder,
      // Python parser and this decoder must all agree. At 100 TB the
      // decode runs inside the scan projection: ~100 bytes of
      // counts/digest per document cross the shuffle, never the PDF.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(graft.Fixtures.path("pdf"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("pdf_text(content)").as("p"))
        .where(col("p").isNotNull) // DROPMALFORMED: doc_broken.pdf
        .select(col("name"), col("p.n_streams").as("n_streams"),
          col("p.n_text_blocks").as("n_text_blocks"),
          length(col("p.text")).cast("long").as("n_chars"),
          md5(col("p.text")).as("text_md5"),
          substring(col("p.text"), 1, 40).as("head40"))
        .orderBy("name")
    }),

    "q315_jpeg_ingest" -> ((s, d) => {
      // JPEG segment-walk ingest — the missing crawl image format
      // (round-11 verdict #4): PNG (q144/q167/q200), WAV, AVI and PDF
      // are decoded by this family, but >70% of real crawl images are
      // JPEG. jpeg_info walks the exactly-specifiable SEGMENT layer
      // with the q283 wire-format discipline: SOI→EOI marker tiling
      // (truncation AND trailing garbage void the file), SOF0/SOF2
      // dimensions/precision/components with exact segment lengths,
      // DQT/DHT INTERNAL tiling into (Pq,Tq)+64/128 and (Tc,Th)+16+Σ
      // entries with per-kind CRC32s over the raw table bytes (the
      // oracle pins table BYTES, not just counts), DRI + stuffed/RST-
      // aware entropy walk, multi-scan progressive files, JFIF/EXIF
      // signature booleans. Reserved markers, other SOF types and a
      // second SOI void the file rather than mis-report it; the three
      // planted corruptions (mid-scan truncation, SOS marker flipped
      // to reserved 0x7A, bytes after EOI) DROP here and ONLY they do
      // (JpegSpec pins all three nulls; JpegLawsSpec round-trips an
      // independent Scala builder + corruption properties). Oracle =
      // the generator's manifest, re-validated by its own independent
      // Python segment parser (tools/gen_jpeg_fixtures.py) — builder,
      // Python parser and this decoder agree three ways. At 100 TB the
      // walk runs inside the scan projection over binaryFile: ~100
      // bytes of dimensions/counts/CRCs per image cross the shuffle,
      // never pixels.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_info(content)").as("j"),
          col("length").as("n_bytes"))
        .where(col("j").isNotNull) // DROPMALFORMED: the corrupt trio
        .select(col("name"), col("j.width").as("width"),
          col("j.height").as("height"),
          col("j.precision").as("precision"),
          col("j.n_components").as("n_components"),
          col("j.progressive").as("progressive"),
          col("j.n_segments").as("n_segments"),
          col("j.n_dqt").as("n_dqt"), col("j.dqt_crc32").as("dqt_crc32"),
          col("j.n_dht").as("n_dht"), col("j.dht_crc32").as("dht_crc32"),
          col("j.jfif").as("jfif"), col("j.exif").as("exif"),
          col("j.n_scans").as("n_scans"),
          col("j.scan_bytes").as("scan_bytes"),
          col("j.n_rst").as("n_rst"), col("n_bytes"))
        .orderBy("name")
    }),

    "q319_jpeg_exif" -> ((s, d) => {
      // EXIF IFD walk — the metadata crawl pipelines consult BEFORE
      // pixels (orientation decides whether width/height swap at
      // render): jpeg_exif locates the APP1 "Exif\0\0" segment and
      // parses the embedded TIFF — byte order II/MM (both committed as
      // fixtures; every multi-byte field swaps), magic 42, the IFD0
      // entry walk with the ≤4-bytes-inline-else-offset value rule —
      // extracting Orientation, ImageWidth/Length tags and the Make
      // string (offset-stored in the II fixture, inline in the MM one).
      // Offsets are TIFF-relative and bounds-checked against the
      // segment; missing tags are null FIELDS, files without EXIF drop.
      // Oracle = the generator's builder-intent manifest
      // (manifest_exif.csv). At 100 TB: same scan-projection shape as
      // q315 — a per-row bounded walk, ~50 bytes out per image.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_exif(content)").as("x"))
        .where(col("x").isNotNull)
        .select(col("name"), col("x.byte_order").as("byte_order"),
          col("x.n_entries").as("n_entries"),
          col("x.orientation").as("orientation"),
          col("x.width_tag").as("width_tag"),
          col("x.height_tag").as("height_tag"),
          col("x.make").as("make"))
        .orderBy("name")
    }),

    "q323_jpeg_render_dims" -> ((s, d) => {
      // Orientation-aware EFFECTIVE dimensions — the composition the
      // two decoders exist for: a crawl image's render size is the SOF
      // dimensions SWAPPED when EXIF orientation is transposed (5–8);
      // indexing the stored width/height for a rotated photo is the
      // classic thumbnail-pipeline bug. BOTH expressions run in ONE
      // scan projection (no join — the bytes are already in hand), so
      // at 100 TB this costs exactly one pass: jpeg_info for the frame,
      // jpeg_exif for the orientation, nulls where EXIF is absent (no
      // swap — orientation 1 semantics). Oracle = the two builder
      // manifests LEFT-joined in SQL, computing the same swap rule from
      // ground truth the decoders never saw.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_info(content)").as("j"),
          expr("jpeg_exif(content)").as("x"))
        .where(col("j").isNotNull)
        .select(col("name"),
          col("j.width").as("width"), col("j.height").as("height"),
          col("x.orientation").as("orientation"))
        .withColumn("transposed",
          coalesce(col("orientation").isin(5, 6, 7, 8), lit(false)))
        .select(col("name"), col("width"), col("height"),
          col("orientation"), col("transposed"),
          when(col("transposed"), col("height")).otherwise(col("width"))
            .as("render_w"),
          when(col("transposed"), col("width")).otherwise(col("height"))
            .as("render_h"))
        .orderBy("name")
    }),

    "q325_jpeg_color" -> ((s, d) => {
      // COLOR baseline decode — YCbCr 4:2:0, the profile covering the
      // vast majority of real photographic JPEGs, completing the
      // family's decode ladder (q315 segments → q316 grayscale pixels →
      // THIS): interleaved MCU decode (4 Y blocks in 2×2 raster + Cb +
      // Cr per 16×16 MCU), per-COMPONENT DC predictors (reset together
      // at restart markers — color_rst.jpg pins the triple reset),
      // per-component quant tables, nearest-neighbor chroma upsampling
      // (the spec leaves interpolation open, so decoder and generator
      // pin ONE rule), and integer JFIF color conversion with
      // 2^16-scaled constants shared as literals with the generator —
      // the RGB surface is bit-exact by construction, like q316's
      // grayscale. Out-of-profile files (including every grayscale
      // fixture) void rather than mis-decode; JpegColorSpec pins the
      // profile split both directions. Oracle = generation manifest
      // (RGB stats + CRC32 over row-major r,g,b bytes — every SUBPIXEL
      // pinned). At 100 TB: decode-at-ingest in the scan projection,
      // ~70 bytes per image across the shuffle.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg_color"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_rgb(content)").as("j"),
          col("length").as("n_bytes"))
        .where(col("j").isNotNull)
        .select(col("name"), col("j.width").as("width"),
          col("j.height").as("height"), col("j.n_mcus").as("n_mcus"),
          col("j.n_rst").as("n_rst"),
          col("j.px_min").as("px_min"), col("j.px_max").as("px_max"),
          col("j.px_sum").as("px_sum"), col("j.px_sqsum").as("px_sqsum"),
          col("j.px_crc32").as("px_crc32"), col("n_bytes"))
        .orderBy("name")
    }),

    "q324_jpeg_dedup" -> ((s, d) => {
      // EXACT image dedup by DECODED-PIXEL identity — the q200 aHash
      // leg works on perceptual similarity; THIS is the exact layer a
      // crawl dedup runs first, and it must key on the PIXEL SURFACE,
      // not the file bytes: the planted pair (gray_dup_a/b) carries
      // identical coefficients+quant but different metadata (one drops
      // the JFIF APP0), so file-level md5 dedup misses what pixel-level
      // dedup must catch. Key = (px_crc32, width, height) from q316's
      // full decode; keeper = min name (deterministic); the group's
      // member list rides along sorted so the oracle pins WHO matched,
      // not just how many. At 100 TB the CRC comes out of the same
      // scan-projection decode as q316 — the dedup groupBy shuffles
      // ~30 bytes per image, never pixels.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg_decode"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_pixels(content)").as("j"))
        .where(col("j").isNotNull)
        .groupBy(col("j.px_crc32").as("px_crc32"),
          col("j.width").as("width"), col("j.height").as("height"))
        .agg(count(lit(1)).as("n_copies"), min(col("name")).as("keeper"),
          concat_ws(",", sort_array(collect_list(col("name"))))
            .as("members"))
        .orderBy("px_crc32")
    }),

    "q334_gif_frames" -> ((s, d) => {
      // GIF ANIMATION frame census — the shape a crawl pipeline
      // actually samples animated GIFs with (mechanism on
      // GifPixels.decodeFrames): EVERY full-frame image decoded in
      // sequence, each owning its LZW stream, its palette (local over
      // global — the 3-frame fixture renders frame 0 through the GCT
      // and frames 1-2 through their own LCTs) and its interlace flag
      // (frame 1 is interlaced); per-frame q331 semantics, one output
      // row per frame via explode. Single-frame files contribute their
      // frame-0 row with stats IDENTICAL to q331's manifest by
      // construction — the two expressions certify each other on the
      // shared profile (GifSpec also pins it struct-for-struct).
      // Compositing/disposal is a rendering policy, not a wire format:
      // frames with offsets void (the honest-boundary rule). At
      // 100 TB: in-scan decode, ~70 bytes per FRAME across the shuffle.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.gif")
        .load(graft.Fixtures.path("gif"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("gif_frames(content)").as("fs"))
        .where(col("fs").isNotNull)
        .select(col("name"), explode(col("fs")).as("f"))
        .select(col("name"), col("f.frame").as("frame"),
          col("f.width").as("width"), col("f.height").as("height"),
          col("f.palette_size").as("palette_size"),
          col("f.interlaced").as("interlaced"),
          col("f.n_clears").as("n_clears"),
          col("f.px_min").as("px_min"), col("f.px_max").as("px_max"),
          col("f.px_sum").as("px_sum"), col("f.px_sqsum").as("px_sqsum"),
          col("f.px_crc32").as("px_crc32"))
        .orderBy("name", "frame")
    }),

    "q333_png_full" -> ((s, d) => {
      // FULL-PROFILE PNG decode — the rungs q167's truecolor png_pixels
      // left out, closed the way q326/q332 closed JPEG's (mechanism on
      // PngFull): grayscale, PALETTE (indexes through the PLTE chunk,
      // out-of-range index voids), RGBA, and ADAM7 INTERLACE — seven
      // independent sub-images, each with its own per-row filters and
      // filter neighborhood, scattered back so the CRC pins the
      // LOGICAL surface; odd-dimension fixtures exercise partial
      // passes. q167's png_pixels keeps its historical contract and
      // PngFullSpec pins the within-format layer split (new profiles
      // void under the old expression) plus px_sum equality between
      // the two functions on the shared truecolor profile. Oracle =
      // generator manifest, stats from the planted sample formulas —
      // never from a decoder. The three planted corruptions (palette
      // overrun, truncated IDAT, surplus scanlines in a valid zlib
      // stream) void. At 100 TB: the in-scan decode shape, ~80 bytes
      // of stats per image across the shuffle.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(graft.Fixtures.path("png_full"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("png_full(content)").as("g"),
          col("length").as("n_bytes"))
        .where(col("g").isNotNull)
        .select(col("name"), col("g.width").as("width"),
          col("g.height").as("height"),
          col("g.color_type").as("color_type"),
          col("g.palette_size").as("palette_size"),
          col("g.interlaced").as("interlaced"),
          col("g.n_passes").as("n_passes"),
          col("g.px_min").as("px_min"), col("g.px_max").as("px_max"),
          col("g.px_sum").as("px_sum"), col("g.px_sqsum").as("px_sqsum"),
          col("g.px_crc32").as("px_crc32"), col("n_bytes"))
        .orderBy("name")
    }),

    "q332_jpeg_prog_color" -> ((s, d) => {
      // PROGRESSIVE COLOR decode — the profile most large web photos
      // actually ship (SOF2 + YCbCr 4:2:0), completing the decode
      // ladder: q315 segments → q316 gray baseline → q325 color
      // baseline → q326 gray progressive → THIS. The structural rule
      // q326 couldn't show: DC scans interleave all three components
      // in MCU order (per-component predictors) while AC scans are
      // NON-interleaved — one component per scan, walked in the
      // COMPONENT'S OWN raster (Y full-resolution, chroma downsampled).
      // The dequant/IDCT/upsample/color tail shares q325's cosine and
      // 2^16 conversion literals; the fixture set carries a BASELINE
      // COLOR TWIN from identical coefficients, decoded by jpeg_rgb in
      // the SAME projection — exactly one decoder lands per file and
      // the hashed layer column pins the four-way profile split. The
      // planted mid-scan truncation voids. Ground truth three ways as
      // the whole family. At 100 TB: same in-scan decode shape, ~70
      // bytes of stats per image across the shuffle.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg_prog_color"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_prog_rgb(content)").as("p"),
          expr("jpeg_rgb(content)").as("b"),
          col("length").as("n_bytes"))
        .where(col("p").isNotNull || col("b").isNotNull)
        .select(col("name"),
          when(col("p").isNotNull, lit("progressive"))
            .otherwise(lit("baseline")).as("layer"),
          coalesce(col("p"), col("b")).as("j"), col("n_bytes"))
        .select(col("name"), col("layer"),
          col("j.width").as("width"), col("j.height").as("height"),
          col("j.n_mcus").as("n_mcus"), col("j.n_rst").as("n_rst"),
          col("j.px_min").as("px_min"), col("j.px_max").as("px_max"),
          col("j.px_sum").as("px_sum"), col("j.px_sqsum").as("px_sqsum"),
          col("j.px_crc32").as("px_crc32"), col("n_bytes"))
        .orderBy("name")
    }),

    "q330_gif_ingest" -> ((s, d) => {
      // GIF block walk — the remaining exactly-specifiable legacy crawl
      // image format (mechanism on GifInfo): GIF87a/89a header, Logical
      // Screen Descriptor, CRC'd global color table, extension
      // sub-block chains each consuming their payload EXACTLY, image
      // descriptors with local-color-table/interlace flags, and the
      // 0x3B trailer closing the file exactly — the q283/q315
      // wire-format discipline on a third format family. Planted
      // corruptions (mid-sub-block truncation, bytes after the
      // trailer) void themselves only; corrupt_code.gif carries VALID
      // structure with a rotten LZW stream, so it PASSES here and
      // voids under q331 — the exact q315/q316 layer split. Oracle =
      // the generator's manifest (structure cross-checked by its
      // independent LZW re-decoder). At 100 TB: in-scan walk, ~80
      // bytes of structure per image cross the shuffle.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.gif")
        .load(graft.Fixtures.path("gif"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("gif_info(content)").as("g"),
          col("length").as("n_bytes"))
        .where(col("g").isNotNull)
        .select(col("name"), col("g.width").as("width"),
          col("g.height").as("height"), col("g.gif89a").as("gif89a"),
          col("g.gct_size").as("gct_size"),
          col("g.gct_crc32").as("gct_crc32"),
          col("g.n_images").as("n_images"),
          col("g.n_extensions").as("n_extensions"),
          col("g.n_gce").as("n_gce"), col("g.n_lct").as("n_lct"),
          col("g.n_interlaced").as("n_interlaced"),
          col("g.data_bytes").as("data_bytes"),
          col("g.n_sub_blocks").as("n_sub_blocks"), col("n_bytes"))
        .orderBy("name")
    }),

    "q331_gif_decode" -> ((s, d) => {
      // Full GIF LZW decode to an exact RGB surface (mechanism on
      // GifPixels): variable-width LSB-first LZW — CLEAR/END codes,
      // the KwKwK self-reference case, dictionary growth to 4096 with
      // width bumps at every 2^w boundary, mid-stream CLEAR resets
      // (gif_reset.gif fills the dictionary three times), deferred-
      // clear tolerance — indexes mapped through the active palette
      // (local over global) to row-major (r,g,b) bytes, stats + CRC32
      // over every subpixel (the q325 contract). Interlaced images
      // de-interlace (the 4-pass row order undone, so the CRC pins the
      // LOGICAL surface); the decode profile is one full-frame image —
      // animation (gif_anim.gif) voids here while q330 walks both its
      // frames. All three planted corruptions void
      // (the rotten-LZW file exactly here). Oracle = the generator's
      // manifest; its independent Python re-decoder proves every LZW
      // stream round-trips before the manifest is written. At 100 TB:
      // decode-at-ingest inside the scan projection — ~70 bytes of
      // stats per image cross the shuffle, never pixels.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.gif")
        .load(graft.Fixtures.path("gif"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("gif_pixels(content)").as("g"),
          col("length").as("n_bytes"))
        .where(col("g").isNotNull)
        .select(col("name"), col("g.width").as("width"),
          col("g.height").as("height"),
          col("g.palette_size").as("palette_size"),
          col("g.interlaced").as("interlaced"),
          col("g.n_clears").as("n_clears"),
          col("g.px_min").as("px_min"), col("g.px_max").as("px_max"),
          col("g.px_sum").as("px_sum"), col("g.px_sqsum").as("px_sqsum"),
          col("g.px_crc32").as("px_crc32"), col("n_bytes"))
        .orderBy("name")
    }),

    "q326_jpeg_progressive" -> ((s, d) => {
      // PROGRESSIVE JPEG decode — the decode ladder's most-hit rung
      // (the majority of large web JPEGs are SOF2): ISO 10918-1 Annex G
      // spectral selection + successive approximation — DC first/refine
      // scans, AC first scans with End-Of-Band RUNS, AC refinement with
      // the correction-bit walk — assembling the coefficient matrix
      // across scans and rendering through the SAME fixed-point IDCT as
      // q316 (JpegCodec's render tail: one shared tail, two entropy layers).
      // The fixture set carries a baseline TWIN built from identical
      // coefficients: both decoders run in ONE projection and exactly
      // one is non-null per file — the q316/q326 profile split is
      // bidirectional and the coalesce proves it in the hashed result
      // (a decoder that accepted the other layer would double-decode
      // and break the layer column). The planted corrupt_truncated.jpg
      // (cut mid-final-scan) voids under both — DROPMALFORMED blast
      // radius stays one file. Ground truth three ways, as q316: the
      // generator chooses quantized coefficients by formula, an
      // INDEPENDENT Python re-decoder (decoder-side algorithm, not the
      // encoder's) proves every scan round-trips, and the manifest's
      // pixel stats + CRC32 come from the shared integer IDCT. At
      // 100 TB: same in-scan decode shape — ~70 bytes of stats per
      // image cross the shuffle, never pixels, never scan scripts.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg_prog"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_prog_pixels(content)").as("p"),
          expr("jpeg_pixels(content)").as("b"),
          col("length").as("n_bytes"))
        .where(col("p").isNotNull || col("b").isNotNull)
        .select(col("name"),
          when(col("p").isNotNull, lit("progressive"))
            .otherwise(lit("baseline")).as("layer"),
          coalesce(col("p"), col("b")).as("j"), col("n_bytes"))
        .select(col("name"), col("layer"),
          col("j.width").as("width"), col("j.height").as("height"),
          col("j.n_blocks").as("n_blocks"), col("j.n_rst").as("n_rst"),
          col("j.px_min").as("px_min"), col("j.px_max").as("px_max"),
          col("j.px_sum").as("px_sum"), col("j.px_sqsum").as("px_sqsum"),
          col("j.px_crc32").as("px_crc32"), col("n_bytes"))
        .orderBy("name")
    }),

    "q316_jpeg_decode" -> ((s, d) => {
      // Full BASELINE JPEG decode — the layer past q315's segment walk,
      // landed because the segment layer shipped early (the round-11
      // verdict's conditional scope): canonical Huffman tables built
      // from the file's own DHT, Annex-F DC-diff/AC-run-length entropy
      // decode with byte unstuffing and restart-sequence validation,
      // zigzag dequantization, and a FIXED-POINT integer IDCT whose
      // cosine matrix is the SAME 64 literals in the generator — the
      // q246 shared-constant discipline applied to a whole transform,
      // so the expected pixel surface is bit-exact by construction, not
      // by float luck. Supported profile: SOF0 grayscale 1×1, whole
      // 8×8-block dimensions, single full scan, optional DRI; anything
      // else (and any malformed entropy — the planted corrupt_acrun.jpg
      // AC run past 63, out-of-sequence RST, EOF mid-block) voids the
      // file. Ground truth three ways: the generator CHOOSES quantized
      // coefficients by formula, its independent Python re-decoder
      // proves the bitstream round-trips, and the manifest's pixel
      // stats + CRC32 come from the shared integer IDCT. Output is
      // stats + CRC over the row-major pixel surface — every pixel
      // pinned, no pixel shuffled. At 100 TB this is the decode-at-
      // ingest shape: entropy decode + IDCT run inside the scan
      // projection; ~70 bytes of stats per image cross the shuffle.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(graft.Fixtures.path("jpeg_decode"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("jpeg_pixels(content)").as("j"),
          col("length").as("n_bytes"))
        .where(col("j").isNotNull) // DROPMALFORMED: corrupt_acrun.jpg
        .select(col("name"), col("j.width").as("width"),
          col("j.height").as("height"),
          col("j.n_blocks").as("n_blocks"), col("j.n_rst").as("n_rst"),
          col("j.px_min").as("px_min"), col("j.px_max").as("px_max"),
          col("j.px_sum").as("px_sum"), col("j.px_sqsum").as("px_sqsum"),
          col("j.px_crc32").as("px_crc32"), col("n_bytes"))
        .orderBy("name")
    }),

    "q144_png_ingest" -> ((s, d) => {
      // REAL-bytes multimodal ingest — closes the "metadata-only" gap of
      // q90–q93: Spark's public binaryFile source reads the committed PNG
      // fixture set as (path, modificationTime, length, content) and the
      // png_ihdr codegen expression decodes actual header bytes (big-
      // endian IHDR width/height/depth/color) from the binary column. No
      // UDF, no imaging library — the same single-pass byte-parser
      // discipline as the 1BRC tokenizers, applied to a binary format.
      // The oracle is the fixtures' generation manifest (ground truth by
      // construction, tools/gen_png_fixtures.py) — the decoder is checked
      // against what the files were BUILT with, never its own output. At
      // 100 TB this is the ingest shape for image corpora: binary
      // payloads stay columnar, header metadata extracts in the scan
      // projection without shuffling a single payload byte; the codec
      // call (q91's mapPartitions stub) remains the only non-real step.
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(graft.Fixtures.path("png"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("png_ihdr(content)").as("h"),
          col("length").as("n_bytes"))
        .select(col("name"), col("h.width").as("width"),
          col("h.height").as("height"), col("h.bit_depth").as("bit_depth"),
          col("h.color_type").as("color_type"), col("n_bytes"))
        .orderBy("name")
    }),

    "q146_wav_ingest" -> ((s, d) => {
      // audio leg of the real-bytes ingest (q144's PNG twin): RIFF/WAVE
      // fmt+data chunks decoded by walking the chunk list — one fixture
      // deliberately leads with a junk LIST chunk, so this query fails
      // if the decoder ever regresses to assuming the canonical offset.
      // Oracle = generation manifest (tools/gen_wav_fixtures.py).
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(graft.Fixtures.path("wav"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("wav_fmt(content)").as("h"),
          col("length").as("n_bytes"))
        .select(col("name"), col("h.channels").as("channels"),
          col("h.sample_rate").as("sample_rate"),
          col("h.bits_per_sample").as("bits_per_sample"),
          col("h.n_frames").as("n_frames"), col("n_bytes"))
        .orderBy("name")
    }),

    "q266_thumbnail" -> ((s, d) => {
      // Thumbnail generation INSIDE the scan — the first transform
      // every image pipeline runs after decode, done the way 100 TB
      // wants it: png_box2 decodes (the q167 inflate+unfilter walk),
      // converts to q200's integer luma, 2×2 floor-mean downsamples,
      // and reduces the thumbnail to mergeable stats PLUS a
      // position-weighted checksum Σ v·(idx+1) — value AND position
      // of every output pixel pinned, so two thumbnails with permuted
      // pixels share sums but never hash equal — all in ONE codegen
      // expression: ~64 bytes per image cross the shuffle, never
      // pixels (the q200/q207/q262 payload contract). Odd edges
      // truncate (out = w/2 × h/2); under-2×2 images are null per the
      // no-fabricated-pixels contract (img_d, 1×1, drops on both
      // sides). Oracle = tools/gen_box2_manifest.py — an INDEPENDENT
      // from-scratch Python PNG decoder (zlib + all five filters incl.
      // Paeth; the img_g/img_h fixtures exercise every filter
      // schedule) + the same integer arithmetic, bit-identical (the
      // q262 cross-validation contract).
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(graft.Fixtures.path("png"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("png_box2(content)").as("t"))
        .where(col("t").isNotNull)
        .select(col("name"), col("t.out_w").as("out_w"),
          col("t.out_h").as("out_h"), col("t.n_px").as("n_px"),
          col("t.px_min").as("px_min"), col("t.px_max").as("px_max"),
          col("t.px_sum").as("px_sum"),
          col("t.px_sumsq").as("px_sumsq"),
          col("t.checksum").as("checksum"))
        .orderBy("name")
    }),

    "q262_haar_bands" -> ((s, d) => {
      // Haar wavelet BAND ENERGIES — frequency-band features from the
      // PCM stream with EXACT integer arithmetic (a DFT's sin/cos are
      // irrational — never cross-engine hashable; Haar's unnormalized
      // sum/difference pairs stay in BIGINT, which is what makes a
      // spectral feature oracle-exact at all). The decode step
      // (wav_samples, the q156 walker returning the first 64
      // channel-interleaved amplitudes) hands the payload to
      // DECLARATIVE array algebra: each level is one higher-order
      // transform (pairwise sums) + one aggregate (pairwise-difference
      // energy), 3 levels → detail energies ed1..ed3 (high→low band)
      // + the approximation energy ea3, all inside whole-stage codegen
      // — at 100 TB a clip becomes 5 BIGINTs inside the scan
      // projection and audio bytes never shuffle (the q200/q207
      // contract). Every row carries the in-query Parseval invariant
      // ea3 + ed3 + 2·ed2 + 4·ed1 = 8·e0 — the transform proves its
      // own energy conservation per file. Oracle =
      // tools/gen_haar_manifest.py, an INDEPENDENT Python RIFF parser
      // + integer Haar over the same committed fixtures (the
      // q156/q207 cross-validation contract); short files (wav_f, 33
      // samples) are null per wav_samples' no-zero-pad contract and
      // skipped by both sides.
      def pairA(arr: String, m: Int): String =
        s"transform(sequence(0, ${m - 1}), i -> " +
          s"element_at($arr, 2*i+1) + element_at($arr, 2*i+2))"
      def pairE(arr: String, m: Int): String =
        s"aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), (acc, i) " +
          s"-> acc + (element_at($arr, 2*i+1) - element_at($arr, 2*i+2)) " +
          s"* (element_at($arr, 2*i+1) - element_at($arr, 2*i+2)))"
      def sq(arr: String): String =
        s"aggregate($arr, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(graft.Fixtures.path("wav"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("wav_samples(content, 64)").as("s0"))
        .where(col("s0").isNotNull)
        .withColumn("e0", expr(sq("s0")))
        .withColumn("a1", expr(pairA("s0", 32)))
        .withColumn("ed1", expr(pairE("s0", 32)))
        .withColumn("a2", expr(pairA("a1", 16)))
        .withColumn("ed2", expr(pairE("a1", 16)))
        .withColumn("a3", expr(pairA("a2", 8)))
        .withColumn("ed3", expr(pairE("a2", 8)))
        .withColumn("ea3", expr(sq("a3")))
        .select(col("name"), col("e0"), col("ed1"), col("ed2"),
          col("ed3"), col("ea3"),
          expr("ea3 + ed3 + 2*ed2 + 4*ed1 = 8*e0").as("parseval_ok"))
        .orderBy("name")
    }),

    "q156_wav_pcm" -> ((s, d) => {
      // PCM feature extraction — the step PAST header decode: wav_pcm
      // walks to the data chunk and parses the actual amplitude stream
      // (8-bit unsigned-midpoint-128 / 16-bit signed LE), reducing it
      // in-expression to count/min/max/sum/sum-of-squares — the 1BRC
      // mergeable state, exact BIGINTs (sumsq ≤ 2^30 per sample). The
      // payload never leaves the scan as rows: one codegen expression
      // turns each blob into a 5-field struct, so at 100 TB the shuffle
      // carries ~40 bytes per asset, not the audio. Oracle = the
      // generation manifest's expected stats, computed from the same
      // sample formula the fixture writer used (ground truth by
      // construction — the q144/q146 contract).
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(graft.Fixtures.path("wav"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("wav_pcm(content)").as("p"))
        .select(col("name"), col("p.n_samples").as("n_samples"),
          col("p.amp_min").as("amp_min"), col("p.amp_max").as("amp_max"),
          col("p.amp_sum").as("amp_sum"), col("p.amp_sumsq").as("amp_sumsq"))
        .orderBy("name")
    }),

    "q167_png_pixels" -> ((s, d) => {
      // image feature extraction past the header (q156's PNG twin): the
      // png_pixels codegen expression walks the chunk list, concatenates
      // the IDAT stream, zlib-INFLATES it (JDK Inflater — a real
      // decompressor, not an imaging library), reverses the per-scanline
      // filter (all five PNG filter types; img_g/img_h in the fixture
      // set are WRITTEN with Sub/Up/Average/Paeth schedules so the
      // unfilter paths can't silently regress to passthrough) and
      // reduces the reconstructed channel samples in-expression to
      // count/min/max/sum/sum-of-squares — exact BIGINTs, the 1BRC
      // mergeable state. At 100 TB the decode runs inside the scan
      // projection: ~40 bytes per image cross the shuffle, never the
      // pixels. Oracle = pixels.csv, the generation manifest's expected
      // stats computed from the same pixel formula the fixture writer
      // used (ground truth by construction — the q144/q156 contract).
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(graft.Fixtures.path("png"))
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          expr("png_pixels(content)").as("p"))
        .select(col("name"), col("p.n_samples").as("n_samples"),
          col("p.px_min").as("px_min"), col("p.px_max").as("px_max"),
          col("p.px_sum").as("px_sum"), col("p.px_sumsq").as("px_sumsq"))
        .orderBy("name")
    })
  )

  val oracle: Map[String, String] = Map(
    "q306_utf8_repair" ->
      s"""SELECT name, CAST(n_bytes AS BIGINT) AS n_bytes,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(n_bad AS BIGINT) AS n_bad, text_md5
         |FROM read_csv('${graft.Fixtures.path("utf8")}/manifest.csv',
         |              header=true)
         |ORDER BY name""".stripMargin,
    "q300_wire_card" ->
      s"""SELECT CAST(n_records AS BIGINT) AS n_records,
         |  CAST(n_responses AS BIGINT) AS n_responses,
         |  CAST(n_ok AS BIGINT) AS n_ok,
         |  CAST(content_bytes AS BIGINT) AS content_bytes,
         |  CAST(clean_chars AS BIGINT) AS clean_chars,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_distinct AS BIGINT) AS n_distinct
         |FROM read_csv('${graft.Fixtures.path("warc")}/card_manifest.csv',
         |              header=true)""".stripMargin,
    "q283_tar_ingest" ->
      s"""SELECT file, name, CAST(size AS BIGINT) AS size,
         |  CAST(typeflag AS VARCHAR) AS typeflag,
         |  CAST("offset" AS BIGINT) AS "offset", payload_md5
         |FROM read_csv('${graft.Fixtures.path("tar")}/manifest.csv',
         |              header=true)
         |ORDER BY file, "offset"""".stripMargin,
    "q284_zip_ingest" ->
      s"""SELECT file, CAST(idx AS BIGINT) AS idx, name,
         |  CAST(method AS BIGINT) AS method,
         |  CAST(csize AS BIGINT) AS csize, CAST(usize AS BIGINT) AS usize,
         |  CAST(crc_ok AS BOOLEAN) AS crc_ok, payload_md5
         |FROM read_csv('${graft.Fixtures.path("zip")}/manifest.csv',
         |              header=true)
         |ORDER BY file, idx""".stripMargin,
    // coalesce('') per the read_csv empty-field-to-NULL rule: warcinfo/
    // request rows carry empty target_uri/clean fields
    "q285_warc_extract" ->
      s"""SELECT CAST(seq AS BIGINT) AS seq, rec_type,
         |  coalesce(target_uri, '') AS target_uri,
         |  CAST(content_length AS BIGINT) AS content_length,
         |  CAST(http_status AS BIGINT) AS http_status, payload_md5,
         |  coalesce(clean_md5, '') AS clean_md5,
         |  coalesce(clean_head40, '') AS clean_head40
         |FROM read_csv('${graft.Fixtures.path("warc")}/manifest.csv',
         |              header=true)
         |ORDER BY seq""".stripMargin,
    "q286_warcgz_members" ->
      s"""SELECT CAST(seq AS BIGINT) AS seq,
         |  CAST("offset" AS BIGINT) AS "offset",
         |  CAST(csize AS BIGINT) AS csize, CAST(usize AS BIGINT) AS usize,
         |  payload_md5
         |FROM read_csv('${graft.Fixtures.path("warc")}/gz_manifest.csv',
         |              header=true)
         |ORDER BY seq""".stripMargin,
    // the generation manifest IS the oracle (see q144's scaladoc); CASTs
    // pin every numeric to BIGINT for type parity with the Spark side
    "q206_video_ingest" ->
      s"""WITH m AS (
         |  SELECT name, CAST(us_per_frame AS BIGINT) AS us_per_frame,
         |    CAST(total_frames AS BIGINT) AS total_frames,
         |    CAST(width AS BIGINT) AS width,
         |    CAST(height AS BIGINT) AS height
         |  FROM read_csv('${graft.Fixtures.path("avi")}/manifest.csv',
         |                header=true)),
         |st AS (
         |  SELECT *, greatest(1, total_frames // 8) AS stride FROM m)
         |SELECT name, us_per_frame, total_frames, width, height,
         |  sample_idx, sample_idx * us_per_frame // 1000 AS ts_ms
         |FROM (
         |  SELECT name, us_per_frame, total_frames, width, height,
         |    CAST(unnest(list_transform(
         |      range(0, (total_frames - 1) // stride + 1),
         |      i -> i * stride)) AS BIGINT) AS sample_idx
         |  FROM st)
         |ORDER BY name, sample_idx""".stripMargin,
    "q200_image_dedup" ->
      s"""WITH h AS (
         |  SELECT name, CAST(ahash AS BIGINT) AS h
         |  FROM read_csv('${graft.Fixtures.path("png_dedup")}/ahash.csv',
         |                header=true))
         |SELECT a.name AS a, b.name AS b,
         |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.name < b.name
         |WHERE bit_count(xor(a.h, b.h)) <= 3
         |ORDER BY a, b""".stripMargin,
    "q207_video_dedup" ->
      s"""WITH h AS (
         |  SELECT name, CAST(sample_idx AS BIGINT) AS sample_idx,
         |    CAST(ahash AS BIGINT) AS h
         |  FROM read_csv('${graft.Fixtures.path("avi_dedup")}/sample_hash.csv',
         |                header=true)),
         |n AS (SELECT name, count(*) AS n FROM h GROUP BY name),
         |m AS (
         |  SELECT a.name AS a, b.name AS b,
         |    CAST(count(*) AS BIGINT) AS matched_samples
         |  FROM h a JOIN h b
         |    ON a.name < b.name AND a.sample_idx = b.sample_idx
         |    AND bit_count(xor(a.h, b.h)) <= 3
         |  GROUP BY 1, 2)
         |SELECT m.a, m.b, m.matched_samples,
         |  CAST(greatest(na.n, nb.n) AS BIGINT) AS n_samples
         |FROM m
         |JOIN n na ON na.name = m.a
         |JOIN n nb ON nb.name = m.b
         |WHERE m.matched_samples * 4 >= greatest(na.n, nb.n) * 3
         |ORDER BY a, b""".stripMargin,
    "q201_audio_dedup" ->
      s"""WITH h AS (
         |  SELECT name, CAST(fingerprint AS BIGINT) AS h
         |  FROM read_csv('${graft.Fixtures.path("wav_dedup")}/fingerprint.csv',
         |                header=true))
         |SELECT a.name AS a, b.name AS b,
         |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.name < b.name
         |WHERE bit_count(xor(a.h, b.h)) <= 3
         |ORDER BY a, b""".stripMargin,
    "q146_wav_ingest" ->
      s"""SELECT name, CAST(channels AS BIGINT) AS channels,
        |  CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(bits_per_sample AS BIGINT) AS bits_per_sample,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("wav")}/manifest.csv', header=true)
        |ORDER BY name""".stripMargin,
    "q266_thumbnail" ->
      s"""SELECT name, CAST(out_w AS BIGINT) AS out_w,
        |  CAST(out_h AS BIGINT) AS out_h, CAST(n_px AS BIGINT) AS n_px,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sumsq AS BIGINT) AS px_sumsq,
        |  CAST(checksum AS BIGINT) AS checksum
        |FROM read_csv('${graft.Fixtures.path("png")}/box2_manifest.csv',
        |  header=true)
        |ORDER BY name""".stripMargin,
    "q262_haar_bands" ->
      s"""SELECT name, CAST(e0 AS BIGINT) AS e0,
        |  CAST(ed1 AS BIGINT) AS ed1, CAST(ed2 AS BIGINT) AS ed2,
        |  CAST(ed3 AS BIGINT) AS ed3, CAST(ea3 AS BIGINT) AS ea3,
        |  CAST(parseval_ok AS BOOLEAN) AS parseval_ok
        |FROM read_csv('${graft.Fixtures.path("wav")}/haar_manifest.csv',
        |  header=true)
        |ORDER BY name""".stripMargin,
    "q156_wav_pcm" ->
      s"""SELECT name, CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(amp_min AS BIGINT) AS amp_min,
        |  CAST(amp_max AS BIGINT) AS amp_max,
        |  CAST(amp_sum AS BIGINT) AS amp_sum,
        |  CAST(amp_sumsq AS BIGINT) AS amp_sumsq
        |FROM read_csv('${graft.Fixtures.path("wav")}/manifest.csv', header=true)
        |ORDER BY name""".stripMargin,
    "q167_png_pixels" ->
      s"""SELECT name, CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sumsq AS BIGINT) AS px_sumsq
        |FROM read_csv('${graft.Fixtures.path("png")}/pixels.csv', header=true)
        |ORDER BY name""".stripMargin,
    "q210_video_trim_dedup" -> {
      val sigsSql = (for (m <- 0 until 4; p <- 0 until 4) yield
        s"min(substr(md5('${m}_' || s), ${p * 8 + 1}, 8)) AS m${m * 4 + p}")
        .mkString(", ")
      val bandBranches = (0 until 4).map { b =>
        val key = (0 until 4).map(p => s"m${b * 4 + p}").mkString(" || '|' || ")
        s"  SELECT name, n, $b AS band, $key AS key FROM sigs"
      }.mkString("\n  UNION ALL\n")
      s"""WITH el AS (
         |  SELECT DISTINCT name, CAST(ahash AS VARCHAR) AS s
         |  FROM read_csv('${graft.Fixtures.path("avi_dedup")}/frame_hash.csv',
         |                header=true)),
         |sigs AS (SELECT name, $sigsSql, count(*) AS n FROM el GROUP BY name),
         |bands AS (
         |$bandBranches),
         |cand AS (
         |  SELECT DISTINCT a.name AS a, b.name AS b, a.n AS na, b.n AS nb
         |  FROM bands a JOIN bands b USING (band, key)
         |  WHERE a.name < b.name),
         |common AS (
         |  SELECT a.name AS a, b.name AS b, count(*) AS c
         |  FROM el a JOIN el b USING (s) WHERE a.name < b.name
         |  GROUP BY 1, 2)
         |SELECT a, b, CAST(c AS BIGINT) AS common_frames,
         |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |  CAST(c AS DOUBLE) / (na + nb - c) AS jac
         |FROM common JOIN cand USING (a, b)
         |WHERE c * 10 >= (na + nb - c) * 7
         |ORDER BY a, b""".stripMargin
    },
    "q209_pdf_extract" ->
      // coalesce(head40, ''): DuckDB's read_csv yields NULL for the
      // empty field doc_imgonly.pdf writes; Spark's substring('') is ''
      s"""SELECT name, CAST(n_streams AS BIGINT) AS n_streams,
        |  CAST(n_text_blocks AS BIGINT) AS n_text_blocks,
        |  CAST(n_chars AS BIGINT) AS n_chars, text_md5,
        |  coalesce(head40, '') AS head40
        |FROM read_csv('${graft.Fixtures.path("pdf")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q323_jpeg_render_dims" ->
      s"""SELECT m.name, CAST(m.width AS BIGINT) AS width,
        |  CAST(m.height AS BIGINT) AS height,
        |  CAST(x.orientation AS BIGINT) AS orientation,
        |  coalesce(x.orientation IN (5, 6, 7, 8), false) AS transposed,
        |  CAST(CASE WHEN coalesce(x.orientation IN (5, 6, 7, 8), false)
        |    THEN m.height ELSE m.width END AS BIGINT) AS render_w,
        |  CAST(CASE WHEN coalesce(x.orientation IN (5, 6, 7, 8), false)
        |    THEN m.width ELSE m.height END AS BIGINT) AS render_h
        |FROM read_csv('${graft.Fixtures.path("jpeg")}/manifest.csv',
        |              header=true) m
        |LEFT JOIN read_csv('${graft.Fixtures.path("jpeg")}/manifest_exif.csv',
        |              header=true) x ON m.name = x.name
        |ORDER BY m.name""".stripMargin,
    "q319_jpeg_exif" ->
      s"""SELECT name, byte_order,
        |  CAST(n_entries AS BIGINT) AS n_entries,
        |  CAST(orientation AS BIGINT) AS orientation,
        |  CAST(width_tag AS BIGINT) AS width_tag,
        |  CAST(height_tag AS BIGINT) AS height_tag,
        |  make
        |FROM read_csv('${graft.Fixtures.path("jpeg")}/manifest_exif.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q325_jpeg_color" ->
      s"""SELECT name, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(n_mcus AS BIGINT) AS n_mcus,
        |  CAST(n_rst AS BIGINT) AS n_rst,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sqsum AS BIGINT) AS px_sqsum,
        |  CAST(px_crc32 AS BIGINT) AS px_crc32,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("jpeg_color")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q324_jpeg_dedup" ->
      s"""SELECT CAST(px_crc32 AS BIGINT) AS px_crc32,
        |  CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  min(name) AS keeper,
        |  string_agg(name, ',' ORDER BY name) AS members
        |FROM read_csv('${graft.Fixtures.path("jpeg_decode")}/manifest.csv',
        |              header=true)
        |GROUP BY 1, 2, 3
        |ORDER BY px_crc32""".stripMargin,
    "q334_gif_frames" ->
      s"""SELECT name, CAST(frame AS BIGINT) AS frame,
        |  CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(palette_size AS BIGINT) AS palette_size,
        |  interlaced,
        |  CAST(n_clears AS BIGINT) AS n_clears,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sqsum AS BIGINT) AS px_sqsum,
        |  CAST(px_crc32 AS BIGINT) AS px_crc32
        |FROM read_csv('${graft.Fixtures.path("gif")}/manifest_frames.csv',
        |              header=true)
        |ORDER BY name, frame""".stripMargin,
    "q333_png_full" ->
      s"""SELECT name, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(color_type AS BIGINT) AS color_type,
        |  CAST(palette_size AS BIGINT) AS palette_size,
        |  interlaced,
        |  CAST(n_passes AS BIGINT) AS n_passes,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sqsum AS BIGINT) AS px_sqsum,
        |  CAST(px_crc32 AS BIGINT) AS px_crc32,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("png_full")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q332_jpeg_prog_color" ->
      s"""SELECT name, layer, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(n_mcus AS BIGINT) AS n_mcus,
        |  CAST(n_rst AS BIGINT) AS n_rst,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sqsum AS BIGINT) AS px_sqsum,
        |  CAST(px_crc32 AS BIGINT) AS px_crc32,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("jpeg_prog_color")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q330_gif_ingest" ->
      s"""SELECT name, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height, gif89a,
        |  CAST(gct_size AS BIGINT) AS gct_size,
        |  CAST(gct_crc32 AS BIGINT) AS gct_crc32,
        |  CAST(n_images AS BIGINT) AS n_images,
        |  CAST(n_extensions AS BIGINT) AS n_extensions,
        |  CAST(n_gce AS BIGINT) AS n_gce,
        |  CAST(n_lct AS BIGINT) AS n_lct,
        |  CAST(n_interlaced AS BIGINT) AS n_interlaced,
        |  CAST(data_bytes AS BIGINT) AS data_bytes,
        |  CAST(n_sub_blocks AS BIGINT) AS n_sub_blocks,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("gif")}/manifest_info.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q331_gif_decode" ->
      s"""SELECT name, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(palette_size AS BIGINT) AS palette_size,
        |  interlaced,
        |  CAST(n_clears AS BIGINT) AS n_clears,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sqsum AS BIGINT) AS px_sqsum,
        |  CAST(px_crc32 AS BIGINT) AS px_crc32,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("gif")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q326_jpeg_progressive" ->
      s"""SELECT name, layer, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(n_blocks AS BIGINT) AS n_blocks,
        |  CAST(n_rst AS BIGINT) AS n_rst,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sqsum AS BIGINT) AS px_sqsum,
        |  CAST(px_crc32 AS BIGINT) AS px_crc32,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("jpeg_prog")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q316_jpeg_decode" ->
      s"""SELECT name, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(n_blocks AS BIGINT) AS n_blocks,
        |  CAST(n_rst AS BIGINT) AS n_rst,
        |  CAST(px_min AS BIGINT) AS px_min,
        |  CAST(px_max AS BIGINT) AS px_max,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  CAST(px_sqsum AS BIGINT) AS px_sqsum,
        |  CAST(px_crc32 AS BIGINT) AS px_crc32,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("jpeg_decode")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q315_jpeg_ingest" ->
      s"""SELECT name, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(precision AS BIGINT) AS precision,
        |  CAST(n_components AS BIGINT) AS n_components,
        |  progressive,
        |  CAST(n_segments AS BIGINT) AS n_segments,
        |  CAST(n_dqt AS BIGINT) AS n_dqt,
        |  CAST(dqt_crc32 AS BIGINT) AS dqt_crc32,
        |  CAST(n_dht AS BIGINT) AS n_dht,
        |  CAST(dht_crc32 AS BIGINT) AS dht_crc32,
        |  jfif, exif,
        |  CAST(n_scans AS BIGINT) AS n_scans,
        |  CAST(scan_bytes AS BIGINT) AS scan_bytes,
        |  CAST(n_rst AS BIGINT) AS n_rst,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("jpeg")}/manifest.csv',
        |              header=true)
        |ORDER BY name""".stripMargin,
    "q144_png_ingest" ->
      s"""SELECT name, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height,
        |  CAST(bit_depth AS BIGINT) AS bit_depth,
        |  CAST(color_type AS BIGINT) AS color_type,
        |  CAST(n_bytes AS BIGINT) AS n_bytes
        |FROM read_csv('${graft.Fixtures.path("png")}/manifest.csv', header=true)
        |ORDER BY name""".stripMargin,
    // the fake decoder's 8-bin byte histogram, rebuilt in SQL: per-char
    // ascii codepoints (== payload bytes on this ASCII corpus; verified
    // strlen == octet_length at every sf), binned by //32; same
    // round(x*1e6)/1e6 scaled-integer rounding as the Spark side
    "q91_multimodal_features" ->
      """WITH b AS (
        |  SELECT doc_id AS asset_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    list_transform(range(1, strlen(text)+1),
        |      i -> ascii(substr(text, i, 1))) AS vals
        |  FROM documents),
        |f AS (
        |  SELECT asset_id, n_bytes,
        |    -- coalesce: list_sum([]) is NULL in DuckDB, but the Spark
        |    -- side's fakeDecode yields mean 0.0 for an empty payload
        |    CAST(coalesce(list_sum(vals), 0) AS DOUBLE)
        |      / greatest(n_bytes, 1) AS mean_byte,
        |    CAST(len(list_distinct(list_transform(vals, v -> v // 32))) AS BIGINT)
        |      AS byte_entropy_q,
        |    list_transform(range(0, 8),
        |      k -> CAST(len(list_filter(vals, v -> v // 32 = k)) AS DOUBLE)
        |             / greatest(n_bytes, 1)) AS fs
        |  FROM b)
        |SELECT asset_id, n_bytes, round(mean_byte*1e6)/1e6 AS mean_byte6,
        |  byte_entropy_q,
        |  round(fs[1]*1e6)/1e6 AS f0, round(fs[2]*1e6)/1e6 AS f1,
        |  round(fs[3]*1e6)/1e6 AS f2, round(fs[4]*1e6)/1e6 AS f3,
        |  round(fs[5]*1e6)/1e6 AS f4, round(fs[6]*1e6)/1e6 AS f5,
        |  round(fs[7]*1e6)/1e6 AS f6, round(fs[8]*1e6)/1e6 AS f7
        |FROM f ORDER BY asset_id""".stripMargin,
    "q90_multimodal_meta" ->
      """SELECT doc_id AS asset_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  64 + CAST(strlen(text) AS BIGINT) % 512 AS fake_width,
        |  64 + (CAST(strlen(text) AS BIGINT) * 7) % 512 AS fake_height,
        |  CAST(strlen(text) AS BIGINT) % 3 AS codec_id
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q92_frame_sample" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    1 + CAST(strlen(text) AS BIGINT) % 240 AS n_frames
        |  FROM documents),
        |sam AS (SELECT *, least(n_frames, 8) AS n_sample FROM a),
        |f AS (SELECT asset_id, n_bytes, n_frames, n_sample,
        |        unnest(range(0, n_sample)) AS i FROM sam)
        |SELECT asset_id, n_frames,
        |  (i * n_frames) // n_sample AS frame_idx,
        |  ((i * n_frames) // n_sample) * 1000 // 24 AS ts_ms,
        |  ((i * n_frames) // n_sample) * (n_bytes // n_frames) AS byte_offset
        |FROM f ORDER BY asset_id, frame_idx""".stripMargin,
    "q93_resize_plan" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |    64 + CAST(strlen(text) AS BIGINT) % 512 AS w,
        |    64 + (CAST(strlen(text) AS BIGINT) * 7) % 512 AS h
        |  FROM documents),
        |p AS (SELECT asset_id, w, h,
        |    CASE WHEN w <= h THEN 224 ELSE w * 224 // h END AS out_w,
        |    CASE WHEN w <= h THEN h * 224 // w ELSE 224 END AS out_h
        |  FROM a)
        |SELECT asset_id, w, h, out_w, out_h,
        |  (out_w - 224) // 2 AS crop_x, (out_h - 224) // 2 AS crop_y
        |FROM p ORDER BY asset_id""".stripMargin
  )
}
