package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Deduplication suite over `documents` (BASELINE.json north-star).
  *
  * Every variant is shuffle-scale-aware:
  *  - exact + fingerprint dedup: one hash-groupBy — the partial aggregate
  *    collapses duplicates before the exchange;
  *  - n-gram Jaccard: the pair space is generated by a shingle equi-join,
  *    so only documents sharing at least one shingle ever meet — never an
  *    O(n²) cross join;
  *  - MinHash-LSH: banded signatures turn near-dup search into an equi-join
  *    on (band, key) — the standard shape that survives web-scale corpora;
  *  - SimHash: q68 is the production 64-bit variant whose 4×16-bit bands
  *    guarantee hamming ≤ 3 recall by pigeonhole (4 bands > 3 differing
  *    bits → some band is untouched) with 2¹⁶-value band keys that still
  *    block at corpus scale; q64 is the compact-signature variant — it
  *    reports a 16-bit hamming payload but generates candidates from the
  *    SAME 64-bit band keys (an earlier 2×8-bit hi/lo blocking degenerated
  *    to ~256 giant buckets at corpus scale and was retired for it).
  *
  * All hash functions are md5-based so the DuckDB oracle reproduces every
  * signature bit-for-bit — the same N-engines-one-answer structure the
  * reference uses for cross-validation (SURVEY §5).
  */
object Dedup {

  val ShingleLen = 5
  val NHashes = 16
  val MinhashBands = 4
  val JaccardThreshold = 0.8
  val HammingMax = 3

  /** Document-frequency cap on shingles. Every pair-generating self-join
    * below meets on shared shingles, so a single hot shingle shared by m
    * documents (a stopword 5-gram, boilerplate headers) contributes m²/2
    * pairs — the quadratic blowup that kills web-scale dedup. Dropping
    * shingles with df > cap BEFORE the self-join bounds any one shingle's
    * contribution to cap²/2 pairs and lands all of them on distinct keys.
    * Ultra-common shingles carry ~no discriminating signal, so this is the
    * standard web-dedup move (it is a no-op on the test corpus: max df = 3).
    * The capped set is the document representation: sizes, intersections
    * and MinHash signatures all use it, mirrored exactly in the oracle. */
  val ShingleDfCap = 64

  /** (doc_id, s): distinct word 5-gram shingles per document, df-capped,
    * carried as 64-bit md5-prefix keys. Key narrowing happens BEFORE the
    * first shuffle: every downstream self-join, size count and MinHash
    * aggregation needs only shingle IDENTITY, not its text, so hashing in
    * the explode projection narrows the distinct, the df count AND the
    * dominant pair-join shuffles (md5 is the cross-engine-exact hash;
    * collisions at 2^-64 are far below any near-dup threshold's noise
    * floor). */
  def shingles(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val raw = t(s, d, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= ShingleLen)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - (ShingleLen - 1)),
        i => substring(md5(concat_ws(" ", slice(col("toks"), i, lit(ShingleLen)))),
          1, 16))).as("s"))
      .distinct()
    // rows are distinct per (doc_id, s) so count(*) per s IS document
    // frequency; the hot set is tiny (≤ |shingles|/cap) → anti-join it
    // away (two-pass, not collect_set: no reducer ever buffers a hot
    // shingle's full posting list)
    val hot = raw.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select(col("s"))
    // persist: every consumer (pair self-join sides, size counts, MinHash
    // signatures) references this frame 3-4× per plan, and Spark re-executes
    // the whole scan→explode→md5→distinct→anti-join pipeline per use site.
    // Caching computes it once per session+sf — the in-session analog of the
    // staged-parquet materialization (minhashLshStaged) that a 100 TB run
    // would use — and the cache manager shares the one entry across
    // q62/q63/q66/q67 because their subtrees are plan-identical.
    graft.CacheRegistry.cached(raw.join(hot, Seq("s"), "left_anti"))
  }

  private val shinglesSql =
    s"""docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh_raw AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(toks) - ${ShingleLen - 2}),
       |      i -> substr(md5(array_to_string(toks[i:i+${ShingleLen - 1}], ' ')), 1, 16))) AS s
       |  FROM docs WHERE len(toks) >= $ShingleLen),
       |hot AS (SELECT s FROM sh_raw GROUP BY s HAVING count(*) > $ShingleDfCap),
       |sh AS (SELECT doc_id, s FROM sh_raw ANTI JOIN hot USING (s))""".stripMargin

  /** exact-Jaccard pair table from a candidate-pair frame (i, j), given a
    * per-document shingle-count frame (doc_id, n). Callers that already
    * aggregate per doc_id (the MinHash signature groupBy) pass their own
    * counts so the shingle pipeline isn't instantiated an extra time just
    * to count — one fewer scan + shuffle per query. */
  private def jaccardOf(sizes: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), "i")
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), "j")
      .withColumn("jac",
        col("c").cast("double") / (col("ni") + col("nj") - col("c")))

  /** (doc_id, n): shingles per document, for callers with no prior agg. */
  private def sizesOf(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** FastSS edit-distance-≤1 pair pipeline over an (id, str) frame —
    * ONE definition shared verbatim by q212 and the EditScale planted
    * gate (the TriScale discipline: the gate must run the exact query
    * pipeline, not a reimplementation). Deletion-neighborhood keys →
    * bucketed candidate join → exact levenshtein verify; recall for
    * ed ≤ 1 is guaranteed by construction (any such pair shares a key),
    * so the output is EXACT, never approximate. */
  def editDistPairs(corpus: DataFrame): DataFrame = {
    val keys = corpus.select(col("id"), col("str"),
      explode(expr("array_union(array(str), " +
        "transform(sequence(0, length(str) - 1), " +
        "i -> concat(substring(str, 1, i), substring(str, i + 2))))"))
        .as("key"))
    val ka = keys.select(col("id").as("a"), col("str").as("sa"), col("key"))
    val kb = keys.select(col("id").as("b"), col("str").as("sb"), col("key"))
    ka.join(kb, "key").where(col("a") < col("b"))
      .select(col("a"), col("b"), col("sa"), col("sb")).distinct()
      .withColumn("ed", expr("CAST(levenshtein(sa, sb) AS BIGINT)"))
      .where(col("ed") <= 1)
  }

  /** (i, j, c): exact shared-shingle counts for every co-shingled pair —
    * the UNRESTRICTED pair table q62/q66/q67 all consume verbatim
    * (persisted; plan-identical across the three, so one cache entry
    * serves them all). q63 deliberately does NOT use this: it
    * semi-join-restricts to LSH candidates BEFORE the aggregation, the
    * shape that wins when the candidate set is tiny relative to all
    * co-shingled pairs (i.e. at corpus scale). */
  private def commonPairs(sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("i"), col("s"))
    val b = sh.select(col("doc_id").as("j"), col("s"))
    graft.CacheRegistry.cached(a.join(b, "s").where(col("i") < col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c")))
  }

  private val jaccardSql = // shared CTE tail: common counts -> jaccard pairs
    s"""common AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |jac AS (
       |  SELECT i, j, CAST(c AS DOUBLE)/(si.n + sj.n - c) AS jac
       |  FROM common JOIN sizes si ON si.doc_id = i JOIN sizes sj ON sj.doc_id = j)""".stripMargin

  /** (doc_id, token, cnt, th): per-doc token counts + token digest — the
    * single tokenizer feeding the SimHash signature aggregation, so both
    * SimHash queries (q64, q68) can never desynchronize. The md5 is
    * hoisted to a column (`th`) computed once per token, not once per bit
    * expression. */
  private def tokCountsOf(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("th", md5(col("token")))

  /** (doc_id, b0..b3): the 64-bit SimHash signature as FOUR 16-bit band
    * values (bit j = bit j%4 of md5 hex nibble j/4, weighted by token
    * count). Carried as bands rather than one 64-bit word: that sidesteps
    * BIGINT sign/divmod asymmetries between engines AND the band values
    * ARE the LSH blocking keys — each drawing from 2¹⁶ values, real
    * blocking even at 10⁹ docs. ONE definition shared by q68 (64-bit
    * hamming) and q64 (16-bit payload = band 0): one aggregation, one
    * cache entry. */
  private def simhash64Bands(s: SparkSession, d: String): DataFrame = {
    // decode the 16 leading hex chars into TWO 32-bit integers once per
    // (doc, token); each of the 64 bit terms is then a shift+mask on a
    // long — no per-nibble substring/instr allocations in the hot loop.
    // Bit j lives in nibble q = j/4 (hex char q+1, the MSB-first side of
    // its conv word), at in-nibble weight 2^(j%4) — the same bit the
    // strpos-nibble oracle formula extracts, so values are unchanged.
    val nibs = tokCountsOf(s, d).select(col("doc_id"), col("cnt"),
      expr("cast(conv(substring(th, 1, 8), 16, 10) as bigint)").as("v0"),
      expr("cast(conv(substring(th, 9, 8), 16, 10) as bigint)").as("v1"))
    val sAggs = (0 until 64).map { j =>
      val q = j / 4
      val word = if (q < 8) "v0" else "v1"
      val shift = 4 * (7 - q % 8) + (j % 4)
      sum(col("cnt") *
        (expr(s"(shiftright($word, $shift) & 1)") * 2 - 1)).as(s"s$j")
    }
    val bands = (0 until 4).map(k =>
      (0 until 16)
        .map(p => when(col(s"s${16 * k + p}") > 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"b$k"))
    // the 64-sum aggregation is the expensive stage — compute it once;
    // plan identity shares the one cache entry between q64 and q68
    graft.CacheRegistry.cached(nibs.groupBy(col("doc_id")).agg(sAggs.head, sAggs.tail: _*)
      .select(col("doc_id") +: bands: _*))
  }

  /** (i, j, bas, bbs): band-collision candidate pairs over the band frame
    * — ONE (band, key) equi-join over posexploded band values (q63's
    * banding shape) instead of a union of 4 per-band joins, which would
    * instantiate the signature subplan once per branch per side. The full
    * band arrays ride along so hamming verification needs no join back.
    * Pigeonhole recall: hamming ≤ 3 over 4 bands leaves ≥ 1 band
    * identical, so the union of band collisions is complete at the
    * documented radius. */
  private def simhashCands(sims: DataFrame): DataFrame = {
    val ex = sims
      .select(col("doc_id"),
        array((0 until 4).map(k => col(s"b$k")): _*).as("bs"))
      .select(col("doc_id"), col("bs"),
        posexplode(col("bs")).as(Seq("band", "key")))
    ex.select(col("doc_id").as("i"), col("bs").as("bas"),
        col("band"), col("key"))
      .join(ex.select(col("doc_id").as("j"), col("bs").as("bbs"),
        col("band"), col("key")), Seq("band", "key"))
      .where(col("i") < col("j"))
  }

  /** MinHash-LSH near-dup pairs from a (doc_id, s) shingle frame.
    *
    * 16 minhash signatures from FOUR md5 calls: each 128-bit digest is
    * sliced into four 8-hex-char (32-bit) rows — hashing dominates MinHash
    * cost at corpus scale, and slicing cuts it 4x. Band b uses the four
    * slices of digest b (the standard split-digest banding). Candidates
    * come from a (band, key) equi-join; the verify step semi-join-restricts
    * the exact-jaccard work to the candidate set — the whole point of LSH
    * at scale. */
  def minhashLshFrom(sh: DataFrame): DataFrame = minhashLshRestricted(sh, None)

  /** As minhashLshFrom, but with an optional predicate over candidate
    * pairs (i, j) applied BEFORE the exact-verify join — the scale-correct
    * spot: an incremental run (q78) only pays verification for delta ×
    * corpus candidates, never for the corpus-internal ones it already
    * verified yesterday. */
  /** (doc_id, m0..m15, n): MinHash signatures + shingle count per doc.
    * ONE definition shared by the LSH pair generator and q67's estimator:
    * their cache sharing depends on plan-identical subtrees, so two
    * hand-maintained copies of the 16-expression aggregate would be one
    * silent drift away from double compute (and a skewed estimator).
    * The signature groupBy also counts shingles per doc — the Jaccard
    * denominator rides along for free instead of costing the verify step
    * its own scan + shuffle over the shingle table. */
  private def sigsOf(sh: DataFrame): DataFrame = {
    val sigAggs = (for (m <- 0 until NHashes / 4; p <- 0 until 4) yield
      min(substring(md5(concat(lit(s"${m}_"), col("s"))), p * 8 + 1, 8))
        .as(s"m${m * 4 + p}")) :+ count(lit(1)).as("n")
    // used by the band explode AND the Jaccard denominators — one compute
    graft.CacheRegistry.cached(sh.groupBy(col("doc_id"))
      .agg(sigAggs.head, sigAggs.tail: _*))
  }

  def minhashLshRestricted(sh: DataFrame,
                           candFilter: Option[Column]): DataFrame = {
    val sigs = sigsOf(sh)
    // band keys: concat of 4 consecutive signatures
    val bandKeys = (0 until MinhashBands).map { b =>
      concat_ws("|",
        (0 until NHashes / MinhashBands)
          .map(p => col(s"m${b * (NHashes / MinhashBands) + p}")): _*)
    }
    val ex = sigs.withColumn("bands", array(bandKeys: _*))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))
    val cand0 = ex.select(col("band"), col("key"), col("doc_id").as("i"))
      .join(ex.select(col("band"), col("key"), col("doc_id").as("j")),
        Seq("band", "key"))
      .where(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    val cand = candFilter.map(cand0.filter).getOrElse(cand0)
    val a = sh.select(col("doc_id").as("i"), col("s"))
    val b = sh.select(col("doc_id").as("j"), col("s"))
    val common = a.join(b, "s").where(col("i") < col("j"))
      .join(cand, Seq("i", "j"), "left_semi")
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
    jaccardOf(sigs.select(col("doc_id"), col("n")), common)
      .filter(col("jac") >= JaccardThreshold)
      .select(col("i"), col("j"), col("jac"))
      .orderBy("i", "j")
  }

  /** (doc_id, s): distinct n-gram keys WITHOUT the df cap — for the
    * operations where dropping hot grams would change semantics
    * (decontamination must not miss a benchmark passage just because it
    * is popular; boilerplate detection exists to FIND the hot spans). */
  private def grams(s: SparkSession, d: String, n: Int): DataFrame = {
    val toks = split(col("text"), " ")
    // both consumers (q79, q89) reference the gram frame twice per plan
    // (probe + build / df-agg + join-back); same rationale as the
    // shingles() persist — one scan+explode+distinct, not two
    graft.CacheRegistry.cached(t(s, d, "documents")
      .select(col("doc_id"), col("source"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("source"), explode(transform(
        sequence(lit(1), size(col("toks")) - (n - 1)),
        i => substring(md5(concat_ws(" ", slice(col("toks"), i, lit(n)))),
          1, 16))).as("s"))
      .distinct())
  }

  private def gramsSql(n: Int): String =
    s"""docs AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |          FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id, source,
       |    unnest(list_transform(range(1, len(toks) - ${n - 2}),
       |      i -> substr(md5(array_to_string(toks[i:i+${n - 1}], ' ')), 1, 16))) AS s
       |  FROM docs WHERE len(toks) >= $n)""".stripMargin

  /** q79's contaminated-doc frame (doc_id, n_grams_hit, n_eval_docs) —
    * factored so the per-source report (q193) shares the exact flags
    * the gate (q79) drops on. Distributed shape documented at q79. */
  private def decontamFlags(s: SparkSession, d: String): DataFrame = {
    val g = grams(s, d, DecontamGramLen)
    val evalG = g.filter(col("source").isin(EvalSources: _*))
      .select(col("s"), col("doc_id").as("eval_doc"))
    val trainG = g.filter(!col("source").isin(EvalSources: _*))
    trainG.join(broadcast(evalG), "s")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_grams_hit"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
  }

  /** Delta-batch membership for q78: ~20% of the corpus plays "today's
    * batch"; the rest is the staged corpus it must dedup against. */
  private val DeltaMod = 5
  private val DeltaRem = 4

  /** Delta-batch membership predicate (shared with the streaming
    * admission query q99). */
  def isDeltaDoc: Column = (col("doc_id") % DeltaMod) === DeltaRem

  /** Whitespace class for the normalized content fingerprint, spelled
    * EXPLICITLY: `\s` is Java's class on the Spark side but RE2's in
    * DuckDB, and they differ (Java includes U+000B vertical tab, RE2
    * does not) — a latent oracle break on \x0B text. This set reproduces
    * Java's \s in both engines. ONE definition serves q61/q78/q98/q99. */
  private val FpWsPattern = "[ \\t\\n\\x0B\\f\\r]+"

  /** Normalized content fingerprint: lowercase, collapse whitespace
    * runs, trim, md5 — the q61 representation reused by q78's exact gate
    * and the q98 streaming dedup. */
  def contentFp(c: Column): Column =
    md5(trim(regexp_replace(lower(c), FpWsPattern, " ")))

  /** DuckDB spelling of [[contentFp]] over a column named `text`. */
  def contentFpSql: String =
    s"md5(trim(regexp_replace(lower(text), '$FpWsPattern', ' ', 'g')))"

  /** doc_ids of delta documents REJECTED by q78 (exact or near dup) —
    * the staged reject list the streaming admission controller (q99)
    * anti-joins each arriving document against. */
  def deltaRejects(s: SparkSession, d: String): DataFrame =
    queries("q78_delta_dedup")(s, d)
      .filter(col("verdict") =!= "new").select(col("doc_id"))

  /** Verified near-dup pairs TOUCHING the delta batch (i or j is a delta
    * doc) — ONE candidate+verify pass per (session, corpus) feeding the
    * q78 batch-vs-corpus gate, q104's composed pipeline, and (through
    * q78) q99's staged reject list (r14, the r13 verdict's item 5).
    * Before, q78 verified the cross pairs and q104 separately verified
    * the delta-touching superset — two executions of the candidate join
    * + exact-Jaccard verify, plus a full Catalyst re-analysis of the
    * shingle→signature→band→verify lineage per consumer. Splitting ONE
    * verified delta-touching pass into cross (q78) and delta-internal
    * (q104) AFTER verification is result-identical to the per-gate
    * candidate filters: verification is per-pair, and each gate's
    * candidate set is a subset of this pass's. Staged once per corpus
    * through [[graft.Staging.frame]]; [[invalidateClusters]] drops the
    * stage with the corpus. Corpus-internal pairs still cost nothing —
    * the candidate filter runs BEFORE verification, unchanged. */
  private[operators] def deltaTouchingPairs(s: SparkSession,
      d: String): DataFrame = {
    val iDelta = (col("i") % DeltaMod) === DeltaRem
    val jDelta = (col("j") % DeltaMod) === DeltaRem
    graft.Staging.frame(s, "dedup-delta-pairs", d) {
      minhashLshRestricted(shingles(s, d), Some(iDelta || jDelta))
    }
  }
  /** Held-out eval sources for q79 (the benchmark suite stand-in). */
  private val EvalSources = Seq("src0", "src1", "src2")
  /** 8-gram overlap for decontamination (the long-n-gram rule: short
    * grams false-positive on common phrases; 13 is the published GPT-3
    * value, 8 fits this corpus's 10-99-token documents). */
  private val DecontamGramLen = 8
  /** A 5-gram in ≥ 3 distinct documents is boilerplate (q89). */
  private val BoilerDfMin = 3

  /** Window length (tokens) for exact-substring duplicate spans (q109).
    * The published suffix-array rule uses 50 BPE tokens; 10 fits this
    * corpus's 10-100-token documents the way DecontamGramLen=8 scales
    * down the GPT-3 13-gram rule. */
  val SpanWin = 10

  /** Shared tail of q109/q113: from a (doc_id, pos, h) window frame to
    * per-doc maximal duplicated spans — corpus-wide df >= 2 on the window
    * hash, semi-join the hits back, merge overlapping/adjacent positions
    * per document (gaps-and-islands), report span count / covered tokens /
    * fraction. Works for any hash type: the output never exposes `h`. */
  private def spansFromWindows(s: SparkSession, d: String,
                               wins: DataFrame): DataFrame = {
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val hits = wins.join(dup, Seq("h"), "left_semi")
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("brk", // island break: gap in consecutive positions
        when(col("pos") - lag(col("pos"), 1).over(wd) === 1, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("g", sum(col("brk")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("sp0"),
        (max(col("pos")) + (SpanWin - 1)).as("sp1"))
    val sizes = t(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    spans.join(sizes, "doc_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("sp1") - col("sp0") + 1).cast("long").as("dup_tokens"),
        first(col("n_tokens")).as("n_tokens"))
      .withColumn("dup_frac6",
        round(col("dup_tokens").cast("double") / col("n_tokens") * 1e6) / 1e6)
      .orderBy("doc_id")
  }

  /** The fused-Rabin-Karp (doc_id, pos, h) window frame shared by q113 and
    * q114: one O(bytes + windows) rolling-hash pass per document, cached
    * because every consumer references it from at least two plan sites
    * (df-count/canonical build side + join-back probe side). `pos` is
    * 1-based to match the oracle's `range(1, …)` spelling. */
  private def rollingWindows(s: SparkSession, d: String): DataFrame = {
    graft.CacheRegistry.cached(t(s, d, "documents")
      .filter(size(split(col("text"), " ")) >= SpanWin)
      .select(col("doc_id"),
        posexplode(expr(s"rolling_window_hashes(text, $SpanWin)"))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h")))
  }

  /** The 100 TB deployment shape of q63: STAGE the df-capped shingle table
    * as parquet once, then run the signature/verify phase against the
    * stage. The one-shot q63 plan re-derives the shingle pipeline (scan →
    * explode → distinct → df-cap) for every use site — 14 scans of
    * `documents` at plan level; at corpus scale materializing the stage is
    * the difference between one pass over the raw corpus and fourteen.
    * Same result, proven in StagedDedupSpec.
    *
    * NOTE: building this frame WRITES the stage as a side effect — an
    * eager parquet write, deliberate (the verify plan analyzes against the
    * staged files) but memoized per (JVM, workDir) with a single-flight
    * lock, so repeated plan construction (bench reps, q105 lookups,
    * plan-only inspection after the first) re-stages nothing and two
    * threads never interleave overwrite-and-read on the same dir.
    * [[invalidateClusters]] drops the memo entry for the corpus's default
    * stage so an in-session corpus rewrite re-stages. */
  def minhashLshStaged(s: SparkSession, d: String, workDir: String): DataFrame = {
    graft.Staging.once(workDir) {
      shingles(s, d).write.mode("overwrite").parquet(s"$workDir/shingles")
    }
    minhashLshFrom(s.read.parquet(s"$workDir/shingles"))
  }

  /** Stage directory for corpus `d` (shared [[graft.Staging]] root —
    * md5-of-canonical-path keyed, single-flight, deleted on JVM exit). */
  def stageDir(d: String): String = graft.Staging.dirFor("dedup", d)

  /** Near-dup CLUSTERS + survivor selection (q69) — the step a real dedup
    * pipeline runs after pair generation: pairs only say "i resembles j";
    * deletion needs connected components (A~B, B~C ⇒ {A,B,C} one cluster
    * even when A≁C directly) and one deterministic keeper per component.
    *
    * Distributed CC via iterative min-label propagation: every member
    * starts labeled with itself; each round takes the min label across
    * neighbors; fixpoint in O(component diameter) rounds (near-dup
    * components are shallow — at web scale this is a handful of rounds,
    * the same iterate-to-fixpoint shape GraphX/Pregel uses, each round one
    * join + one partial-agg groupBy). Labels only decrease, so the sum of
    * labels is a strictly-decreasing convergence witness — one cheap
    * scalar action per round, no self-join diffing. */
  /** The CC labels are staged once per corpus through
    * [[graft.Staging.frame]]: unlike the declarative shingle/signature
    * frames (shared through the cache manager by plan identity), the
    * fixpoint loop runs driver-side actions, so each caller would
    * re-execute it. One computation serves q69, q77 and the keeper
    * queries — the labels table a 100 TB pipeline persists between
    * stages. */
  def nearDupClusters(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "cc", d) {
      clustersFromPairs(
        minhashLshFrom(shingles(s, d)).select(col("i"), col("j")))
    }

  /** Invalidate everything the library has staged or memoized for
    * corpus `d` — required after rewriting the corpus under `d`
    * in-session, and the release hook a long-lived driver calls when done
    * with a corpus. Forgets EVERY parquet stage of the corpus whatever its
    * namespace (see [[graft.Staging.forgetCorpus]]), the memo frames (CC
    * labels, trained models, ranked lists, verified pairs) included, drops
    * the streaming schema probe, UNPERSISTS every frame the library
    * registered for the session (see [[graft.CacheRegistry]] — without
    * this the cache accumulates one entry per corpus per query family for
    * the session's lifetime), and refreshes the path-derived cache
    * entries. */
  def invalidateClusters(s: SparkSession, d: String): Unit = {
    graft.Staging.forgetCorpus(d)
    graft.streaming.Streaming.forgetTsField(d)
    graft.CacheRegistry.release(s)
    s.catalog.refreshByPath(d)
  }

  /** Connected components from any (i, j) pair frame (see q69 above).
    *
    * The loop's shuffle parallelism is sized to the EDGE count, not the
    * session default: every frame in the fixpoint iteration is O(near-dup
    * pairs) — orders of magnitude smaller than the corpus whose scans the
    * session partition count is sized for. At sf0.1 (24 pairs) dropping the
    * rounds from 32-task shuffles to 2 cuts the loop from 4.3 s to sub-
    * second; on a cluster the same rule gives one task per ~256k edges,
    * which is the right granularity there too (each round is a cheap
    * hash join + partial agg per task). The override lives in a session
    * clone and the returned frame is re-rooted in the caller's session,
    * so neither the caller's conf nor downstream plans ever see the
    * edge-sized parallelism. */
  def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val base = pairs.sparkSession
    // the loop's shuffle-partition override lives in a session CLONE
    // (shared SparkContext, cache and catalog state; PRIVATE conf,
    // seeded with the caller's runtime overrides): mutating the caller's
    // session conf — even set/finally-restored — races with concurrent
    // queries on the same session, which would then plan with edge-sized
    // parallelism (or restore the wrong prior). The clone makes the
    // override invisible outside the loop.
    val spark = graft.Tables.sessionClone(base)
    // localCheckpoint (eager) truncates the pair pipeline's lineage: without
    // it every round's action re-analyzes and re-optimizes the full
    // LSH plan tree under `edges` — driver-side planning, not execution,
    // dominated the loop (4.2 s warm at sf0.1 for a 48-row edge set).
    // Iterative algorithms checkpoint their loop-invariant inputs for
    // exactly this reason (GraphX/Pregel does the same).
    val edges0 = pairs
      .union(pairs.select(col("j").as("i"), col("i").as("j")))
      .localCheckpoint(true)
    val nEdges = edges0.count() // sizes the loop
    if (nEdges == 0) // clean corpus: no pairs → no clusters (and no loop:
      // the sum-of-labels witness below is NULL on an empty frame)
      return edges0.select(col("i").as("doc_id"), col("j").as("keeper"))
    // re-root the checkpointed edges in the clone: Dataset ops take the
    // LEFT operand's session, so every loop frame below plans under the
    // clone's conf (the RDD blocks are context-level — no data moves)
    val edges = spark.createDataFrame(edges0.rdd, edges0.schema)
    // deliberately left under AQE: the edges⋈labels join skews when the
    // graph has high-degree nodes (boilerplate/template pages), and AQE's
    // skew split is the defense there
    val key = "spark.sql.shuffle.partitions"
    val prior = base.conf.get(key)
    val parts = math.max(2L, math.min(prior.toLong, nEdges / 262144 + 1))
    spark.conf.set(key, parts.toString)
    locally {
      // every round ends in an EAGER localCheckpoint: it materializes the
      // round (so the convergence action below is a cheap scan) AND
      // truncates lineage — each round's plan references the previous
      // round 4× (edge join + identity + both hop sides), so without
      // truncation the plan TREE grows 4^rounds and the driver OOMs just
      // rendering it. Checkpoint blocks are reclaimed by the
      // ContextCleaner once unreferenced — nothing stays pinned.
      var labels = edges.select(col("i").as("v")).distinct()
        .select(col("v"), col("v").as("lbl"))
        .localCheckpoint(true)
      var prevSum = Option.empty[Long]
      var done = false
      var iter = 0
      val maxIter = 24
      while (iter < maxIter && !done) {
        // pointer-jumping shortcut: propagate each vertex's label's OWN
        // label (every label is a vertex id, so the self-join always
        // resolves). Neighbor-min alone needs O(component diameter)
        // rounds — a 25-deep near-dup chain would outrun a fixed cap;
        // with the lbl→lbl hop the fixpoint is O(log diameter), so 24
        // rounds cover diameters past 2^24 and `done` is guaranteed on
        // any real graph. One extra tiny self-join of the O(pairs)
        // labels frame per round.
        val hop = labels.select(col("lbl").as("k"), col("v"))
          .join(labels.select(col("v").as("k"), col("lbl").as("lbl2")), "k")
          .select(col("v"), col("lbl2").as("lbl"))
        val next = edges
          .join(labels.withColumnRenamed("v", "j"), "j")
          .select(col("i").as("v"), col("lbl"))
          .union(labels)
          .union(hop)
          .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
          .localCheckpoint(true)
        val sum = next.agg(org.apache.spark.sql.functions.sum(col("lbl")))
          .head().getLong(0)
        done = prevSum.contains(sum)
        prevSum = Some(sum)
        labels = next
        iter += 1
      }
      require(done, s"connected components did not converge in $maxIter rounds")
      // plan the final projection on the clone, then RE-ROOT the result
      // in the caller's session: a frame left on the clone would silently
      // plan every downstream op (as the left operand) with the loop's
      // edge-sized shuffle parallelism. Not checkpointed here: the one
      // staging caller (nearDupClusters → Staging.frame) materializes it
      // exactly once.
      val out = labels.select(col("v").as("doc_id"), col("lbl").as("keeper"))
        .orderBy("doc_id")
      base.createDataFrame(out.rdd, out.schema)
    }
  }

  // ───── q198: URL/domain-level dedup with per-domain caps ─────

  /** Per-registered-domain keeper cap (q198) — the Common-Crawl-lineage
    * gate: after exact canonical-URL dedup, no registered domain may
    * contribute more than this many documents to the corpus. 8 keeps the
    * cap BITING at every test SF (sf0.01 has ~10-11 keepers per derived
    * domain), so the oracle gate exercises the drop path, not just the
    * keep-everything path. */
  val DomainCap = 8

  /** Messy-URL surface form for a document, in dialect-shared SQL (the
    * only splits are integer division — Spark `div`, DuckDB `//` — and
    * the string type name). The canonical target is a function of the
    * URL GROUP g = doc_id div 3, so up to 3 surface forms share one
    * canonical URL; the surface noise is a function of doc_id — scheme
    * http/https, www/cdn subdomain, default :80/:443 port, trailing
    * slash, utm params in two orders, #fragment, uppercased host. The
    * corpus has no URL column, so q198 derives one deterministically —
    * pure modular arithmetic + concat, trivially engine-parity. */
  private def urlSurfaceSql(div: String, str: String): String = {
    val g = s"(doc_id $div 3)"
    val idv = s"CAST($g % 97 AS $str)"
    val host0 = s"(CASE $g % 3 WHEN 1 THEN 'www.' WHEN 2 THEN 'cdn.' " +
      s"ELSE '' END || 'site' || CAST($g % 16 AS $str) || '.com')"
    s"""(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END || '://' ||
       |(CASE WHEN doc_id % 7 = 3 THEN upper($host0) ELSE $host0 END) ||
       |(CASE WHEN doc_id % 5 = 0 THEN
       |   (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
       | ELSE '' END) ||
       |'/articles/p' || CAST($g AS $str) ||
       |(CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) ||
       |(CASE WHEN doc_id % 12 = 2 THEN '?utm_source=feed&id=' || $idv
       |      WHEN doc_id % 2 = 0 THEN '?id=' || $idv || '&utm_campaign=mix'
       |      ELSE '?id=' || $idv END) ||
       |(CASE WHEN doc_id % 6 = 5 THEN '#section2' ELSE '' END))""".stripMargin
  }

  /** Shared oracle CTEs: derived messy `urls` → canonical `canon`
    * (doc_id, url_canon, host, domain) — the DuckDB mirror of
    * [[urlCanonicalized]] over [[urlSurfaceSql]], one definition for
    * every URL-family oracle (q198 dedup, q202 blocklist). */
  private def urlCanonCtesSql: String =
    s"""urls AS (
       |  SELECT doc_id, ${urlSurfaceSql("//", "VARCHAR")} AS url
       |  FROM documents),
       |canon AS (
       |  SELECT doc_id,
       |    'https://' || host || rtrim(cpath, '/') || '?id=' || idv
       |      AS url_canon,
       |    host,
       |    regexp_extract(host, '([a-z0-9]+\\.[a-z]+)$$', 1) AS domain
       |  FROM (
       |    SELECT doc_id,
       |      regexp_extract(u, '^https://([^/]+)/', 1) AS host,
       |      regexp_extract(u, '^https://[^/]+(/[^?]*)', 1) AS cpath,
       |      regexp_extract(u, '[?&]id=([0-9]+)', 1) AS idv
       |    FROM (SELECT doc_id,
       |        regexp_replace(regexp_replace(regexp_replace(
       |          regexp_replace(lower(url), '#.*', ''),
       |          '^http://', 'https://'),
       |          ':(80|443)/', '/'),
       |          '^https://www\\.', 'https://') AS u
       |      FROM urls)))""".stripMargin

  /** URL canonicalization over a (doc_id, url) frame — the standard
    * crawl-lineage normalization, all single-pass string ops on the row
    * (scan-bound, no shuffle): lowercase; drop the #fragment; unify the
    * scheme to https; strip default ports :80/:443; strip a leading
    * `www.` (other subdomains are distinct hosts); drop tracking params,
    * keeping only `id`; strip the trailing slash. Emits `url_canon` and
    * the registered `domain` (last two host labels). */
  def urlCanonicalized(urls: DataFrame): DataFrame = {
    val u = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(col("url")),
      "#.*", ""), "^http://", "https://"),
      ":(80|443)/", "/"), "^https://www\\.", "https://")
    urls.withColumn("u", u)
      .withColumn("host", regexp_extract(col("u"), "^https://([^/]+)/", 1))
      .withColumn("cpath",
        rtrim(regexp_extract(col("u"), "^https://[^/]+(/[^?]*)", 1), "/"))
      .withColumn("idv", regexp_extract(col("u"), "[?&]id=([0-9]+)", 1))
      .withColumn("url_canon", concat(lit("https://"), col("host"),
        col("cpath"), lit("?id="), col("idv")))
      .withColumn("domain",
        regexp_extract(col("host"), "([a-z0-9]+\\.[a-z]+)$", 1))
  }

  /** Exact canonical-URL dedup + per-registered-domain cap over a
    * (doc_id, url) frame. Keeper per canonical URL = min(doc_id) (the
    * q60 deterministic-survivor rule, one hash groupBy). The cap ranks a
    * domain's keepers by a salted md5 of the keeper id (the q75/q76
    * content-hash-never-rand sampling idiom — deterministic across
    * engines, runs and cluster layouts) and keeps the first [[DomainCap]].
    * The ranking runs through the topk_rows bounded-state aggregate, NOT
    * a per-domain window: a pathological domain holding 10% of the crawl
    * would fill one WindowExec partition, while topk_rows state is O(cap)
    * per domain and combines map-side (the q157 move). The md5|doc_id
    * tiebreak string keeps the (score, tiebreak) pair unique, as the
    * aggregate's contract requires. */
  def urlDedupCapped(s: SparkSession, urls: DataFrame): DataFrame =
    urlDedupCappedFromCanon(s, urlCanonicalized(urls))

  /** [[urlDedupCapped]] over an ALREADY-canonicalized frame (doc_id,
    * url_canon, domain) — q205 canonicalizes once and feeds both the
    * blocklist and this dedup from the same cached frame. */
  def urlDedupCappedFromCanon(s: SparkSession, canon: DataFrame): DataFrame = {
    val keepers = canon
      .groupBy(col("url_canon"), col("domain"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .withColumn("hk", concat(
        md5(concat(lit("cap_"), col("doc_id").cast("string"))),
        lit("|"), lpad(col("doc_id").cast("string"), 12, "0")))
    keepers.groupBy(col("domain"))
      .agg(expr("topk_rows(struct(CAST(0.0 AS DOUBLE) AS s0, hk, " +
        s"doc_id, url_canon, n_dups), $DomainCap)").as("top"))
      .select(col("domain"), posexplode(col("top")).as(Seq("i", "r")))
      .select(col("r.doc_id").as("doc_id"),
        col("r.url_canon").as("url_canon"), col("domain"),
        col("r.n_dups").as("n_dups"),
        (col("i") + 1).cast("long").as("rk"))
      .orderBy("domain", "rk")
  }

  /** q199's line width (tokens per pseudo-sentence). */
  val LineLen = 10

  /** q199's global keep-first line dedup over a (doc_id, text) frame —
    * factored out so DedupScale runs the identical pipeline against the
    * 1M-doc planted corpus (whose per-doc kept-line counts are pure
    * doc_id arithmetic). See the q199 query comment for the shape. */
  def lineDedup(docs: DataFrame): DataFrame = {
    val nl = LineLen
    val lines = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0),
          ceil(size(col("toks")).cast("double") / nl).cast("int") - 1),
          i => concat_ws(" ", slice(col("toks"), i * nl + 1, lit(nl))))))
      .toDF("doc_id", "li", "line")
      .withColumn("li", col("li").cast("long"))
      .withColumn("fp", md5(col("line")))
      .transform(graft.CacheRegistry.cached)
    val f1 = lines.groupBy(col("fp")).agg(min(col("doc_id")).as("fd"))
      .withColumnRenamed("fp", "fp1") // self-join: disambiguate lineage
    val f2 = lines
      .join(f1, col("fp") === col("fp1") && col("doc_id") === col("fd"))
      .groupBy(col("fp1"), col("fd")).agg(min(col("li")).as("fl"))
      .withColumnRenamed("fp1", "fp2")
    lines.join(f2, col("fp") === col("fp2"))
      .where(col("doc_id") === col("fd") && col("li") === col("fl"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("li"), col("line")))),
          x => x.getField("line"))).as("text_kept"))
      .orderBy("doc_id")
  }

  /** q202's blocklist: domain rules block the registered domain AND
    * every subdomain (the robots/abuse-list semantic); host rules block
    * one exact canonical host. */
  val BlockRules: Seq[(String, String)] = Seq(
    ("site3.com", "domain"), ("site7.com", "domain"),
    ("cdn.site5.com", "host"))

  /** q202's best-match blocklist decision over a (doc_id, host) frame —
    * factored so the q205 pipeline reuses the identical gate. */
  def blocklistMatches(s: SparkSession,
      hosts: org.apache.spark.sql.DataFrame): DataFrame = {
    import s.implicits._
    val rules = BlockRules.toDF("rule", "rule_type")
    val domRules = rules.filter(col("rule_type") === "domain")
      .select(col("rule"))
    val hostRules = rules.filter(col("rule_type") === "host")
      .select(col("rule"))
    val suff = hosts
      .withColumn("parts", split(col("host"), "\\."))
      .select(col("doc_id"), col("host"), explode(expr(
        "transform(sequence(1, size(parts)), " +
          "i -> array_join(slice(parts, i, size(parts) - i + 1), '.'))"))
        .as("suffix"))
    val m = suff.join(broadcast(domRules), col("suffix") === col("rule"))
      .select(col("doc_id"), col("host"), col("rule"),
        lit("domain").as("rule_type"))
      .union(hosts.join(broadcast(hostRules), col("host") === col("rule"))
        .select(col("doc_id"), col("host"), col("rule"),
          lit("host").as("rule_type")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(length(col("rule")).desc, col("rule"))
    m.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("doc_id"), col("host"), col("rule"), col("rule_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q245_split_leakage" -> ((s, d) => {
      // Train/val/test split-LEAKAGE audit — the check that must run
      // AFTER any split assignment and BEFORE training, because a
      // near-duplicate with copies on both sides of a split boundary
      // silently turns held-out evaluation into memorization
      // measurement (q120's cluster-aware splitter exists precisely to
      // prevent what this query measures). Splits are the
      // deterministic md5-nibble 81/12.5/6.25 assignment; the pair
      // frame is q63's verified MinHash-LSH output via the SAME
      // `minhashLshFrom` call (the shared-definition gate discipline:
      // the audit can never drift from the dedup pipeline it audits).
      // Each pair maps to its (least, greatest) split combination;
      // any leak = true row is the finding. The pair frame is already
      // candidate-bounded, so the audit adds two projections and one
      // tiny groupBy to the dedup pass it rides.
      def splitOf(idCol: String) = {
        val nib = expr(
          s"CAST(conv(substring(md5(concat('split_', CAST($idCol AS " +
            "STRING))), 1, 1), 16, 10) AS INT)")
        when(nib <= 12, "train").when(nib <= 14, "val").otherwise("test")
      }
      minhashLshFrom(shingles(s, d))
        .select(splitOf("i").as("sa"), splitOf("j").as("sb"))
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_dup_pairs"))
        .withColumn("leak", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    }),

    "q246_lsh_band_sweep" -> ((s, d) => {
      // LSH band-configuration TUNING sweep — the S-curve made
      // empirical, over the SAME 16 minhashes q63 ships: for each
      // (bands b × rows-per-band r) partition of the signature —
      // 16×1, 8×2, 4×4 (q63's production config), 2×8 — the measured
      // candidate count, truth pairs found, recall and precision in
      // basis points, next to the THEORY column 1−(1−J^r)^b at the
      // J = 0.8 threshold (nanounit-quantized, the q154 idiom). Truth
      // is the exact-Jaccard ≥ 0.8 pair set from the shared-shingle
      // frame — the fixture-scale harness discipline (q218): recall
      // certification at size is DedupScale's planted 1M gate; THIS
      // query is how an engineer picks b×r before paying for that run.
      // All four configs re-band the one cached signature frame — the
      // sweep costs four tiny band self-joins, not four MinHash passes.
      val sh = shingles(s, d)
      val sigs = sigsOf(sh)
      val common = sh.select(col("doc_id").as("i"), col("s"))
        .join(sh.select(col("doc_id").as("j"), col("s")), "s")
        .where(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
      val truth = graft.CacheRegistry.cached(jaccardOf(sigs.select(col("doc_id"), col("n")),
          common)
        .filter(col("jac") >= JaccardThreshold)
        .select(col("i"), col("j")))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val configs = Seq(16 -> 1, 8 -> 2, 4 -> 4, 2 -> 8)
      configs.map { case (nb, rpb) =>
        val bandKeys = (0 until nb).map(b => concat_ws("|",
          (0 until rpb).map(p => col(s"m${b * rpb + p}")): _*))
        val ex = sigs.withColumn("bands", array(bandKeys: _*))
          .select(col("doc_id"), posexplode(col("bands"))
            .as(Seq("band", "key")))
        val cand = ex.select(col("band"), col("key"), col("doc_id").as("i"))
          .join(ex.select(col("band"), col("key"), col("doc_id").as("j")),
            Seq("band", "key"))
          .where(col("i") < col("j"))
          .select(col("i"), col("j")).distinct()
        val nCand = cand.agg(count(lit(1)).as("n_candidates"))
        val nFound = cand.join(truth, Seq("i", "j"), "left_semi")
          .agg(count(lit(1)).as("n_found"))
        nCand.crossJoin(nFound).crossJoin(nTruth)
          .select(lit(nb.toLong).as("bands"),
            lit(rpb.toLong).as("rows_per_band"),
            col("n_candidates"), col("n_found"), col("n_truth"),
            expr("CASE WHEN n_truth = 0 THEN 0 " +
              "ELSE (n_found * 10000) div n_truth END").as("recall_bp"),
            expr("CASE WHEN n_candidates = 0 THEN 0 " +
              "ELSE (n_found * 10000) div n_candidates END")
              .as("precision_bp"),
            // theory constant computed ONCE in Scala and embedded as the
            // same literal in both engines — pow is not guaranteed
            // bit-identical across libms, a closed-form constant is
            lit(math.round((1.0 - math.pow(1.0 - math.pow(
              JaccardThreshold, rpb), nb)) * 1e9)).as("theory_match_nano"))
      }.reduce(_ unionByName _)
        .orderBy(col("bands").desc)
    }),

    "q205_crawl_pipeline" -> ((s, d) => {
      // The composed crawl-ingest funnel — q77's pipeline idea applied
      // to the ACQUISITION side: blocklist (q202) → exact canonical-URL
      // dedup with per-domain caps (q198) → HTML → text extraction
      // (q204) → global line dedup (q199), every stage the SHARED
      // function/fragment its standalone query runs, so the composition
      // can never drift from the parts. Output is the one-row
      // dataset-card funnel (counts + extracted chars + kept lines),
      // all exact BIGINTs; each count is a lazy aggregate frame
      // crossJoined (the q85 idiom — no driver-side actions). Stage
      // order is the production order: the blocklist is the cheapest
      // gate and runs first; dedup runs on the surviving URL space;
      // extraction and line dedup touch only capped keepers.
      val docs = t(s, d, "documents")
      val canon = urlCanonicalized(docs
        .selectExpr("doc_id", urlSurfaceSql("div", "STRING") + " AS url"))
        .transform(graft.CacheRegistry.cached) // ONE canonicalization pass
      val blockedIds = blocklistMatches(s,
          canon.select(col("doc_id"), col("host")))
        .select(col("doc_id")).distinct()
        .transform(graft.CacheRegistry.cached)
      val survivors = canon.join(blockedIds, Seq("doc_id"), "left_anti")
      val keepers = urlDedupCappedFromCanon(s, survivors)
        .select(col("doc_id")).transform(graft.CacheRegistry.cached)
      val keptDocs = docs.join(keepers, "doc_id")
        .select(col("doc_id"), col("text"))
      val ld = lineDedup(keptDocs)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val nBlocked = blockedIds.agg(count(lit(1)).as("n_blocked"))
      val nKeepers = keepers.agg(count(lit(1)).as("n_url_keepers"))
      val chars = keptDocs.agg(sum(length(
        TextAnalysis.htmlCleanText).cast("long")).as("extracted_chars"))
      val lined = ld.agg(count(lit(1)).as("n_docs_after_line_dedup"),
        sum(col("n_lines_kept")).as("kept_lines"))
      nDocs.crossJoin(nBlocked).crossJoin(nKeepers)
        .crossJoin(chars).crossJoin(lined)
    }),

    "q202_blocklist" -> ((s, d) => {
      // Domain-blocklist gate — the crawl pipeline's first filter, with
      // the semantics a naive equi-join can't express: a `domain` rule
      // must block every SUBDOMAIN of the listed registered domain
      // (cdn.site3.com under rule site3.com). Scalable shape: each
      // canonical host explodes into its SUFFIX CHAIN
      // (cdn.site3.com → [cdn.site3.com, site3.com, com], O(labels) ≈ 3
      // rows/host — never a LIKE/regex theta-join) and equi-joins the
      // broadcast rule table on the suffix; exact-host rules equi-join
      // on the host directly. A doc matching several rules reports its
      // MOST SPECIFIC match (longest rule, then lexicographic — a
      // deterministic total order) via a window over the matched rows
      // only (≤ |rules| per doc, bounded). Composes with q198: same
      // canonicalization, one shared definition on both engines.
      val urls = t(s, d, "documents")
        .selectExpr("doc_id", urlSurfaceSql("div", "STRING") + " AS url")
      blocklistMatches(s,
        urlCanonicalized(urls).select(col("doc_id"), col("host")))
        .orderBy("doc_id")
    }),

    "q199_line_dedup" -> ((s, d) => {
      // C4-style GLOBAL line-level dedup — the boilerplate cure between
      // q60 (whole-doc) and q109/q114 (substring spans, which REMOVE a
      // span from every doc): each distinct line keeps exactly its
      // FIRST occurrence in corpus order (doc_id, position) and every
      // later copy — including repeats inside one document — is
      // dropped, then documents are REBUILT from their surviving lines
      // (docs losing every line drop out). The corpus has no newlines,
      // so "lines" are fixed 10-token sentences (documented stand-in;
      // the operator is boundary-agnostic). Scale shape: lines carry an
      // md5 fingerprint and BOTH passes shuffle on that narrow key —
      // first-occurrence via the explicit (min doc, then min pos)
      // two-step (mirrored verbatim in the oracle, no struct-min parity
      // bets); reconstruction is a per-doc sort of O(doc lines), never
      // a global sort. One corpus scan, three narrow shuffles.
      lineDedup(t(s, d, "documents"))
    }),

    "q198_url_dedup" -> ((s, d) => {
      // URL/domain-level dedup — the Common-Crawl-lineage gate the
      // content-dedup family (q60..q69) doesn't cover: canonicalize the
      // document URL, exact-dedup on the canonical form with a
      // deterministic keeper, then cap per-registered-domain
      // contributions by hash ranking. Composes with q77's pipeline
      // upstream of content dedup (URL gate first: it's the cheapest).
      val urls = t(s, d, "documents")
        .selectExpr("doc_id", urlSurfaceSql("div", "STRING") + " AS url")
      urlDedupCapped(s, urls)
    }),

    "q60_dedup_exact" -> ((s, d) =>
      // exact dedup = hash groupBy on content; keeper = min(doc_id) is the
      // deterministic survivor rule (dropDuplicates keeps an arbitrary row)
      t(s, d, "documents").groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies"))
        .orderBy("keeper")),

    "q61_dedup_fingerprint" -> ((s, d) =>
      // whitespace/case-normalized md5 fingerprint per document
      t(s, d, "documents").select(col("doc_id"), contentFp(col("text")).as("fp"))
        .orderBy("doc_id")),

    "q65_nfc_dedup" -> ((s, d) => {
      // Unicode-normalized fingerprinting: composed ("Zürich") and
      // decomposed ("Zürich") forms are different byte strings —
      // without NFC they hash to different fingerprints and dedup misses
      // them. A decomposed prefix is injected to prove the normalization
      // actually fires (the corpus itself is ASCII).
      t(s, d, "documents")
        .select(col("doc_id"), // "Zu" + U+0308 combining diaeresis + "rich"
          concat(lit("Zu\u0308rich "), col("text")).as("raw"))
        .select(col("doc_id"), expr("nfc_normalize(raw)").as("norm_text"))
        .select(col("doc_id"), md5(col("norm_text")).as("nfc_fp"),
          substring(col("norm_text"), 1, 7).as("prefix"))
        .orderBy("doc_id")
    }),

    "q66_containment" -> ((s, d) => {
      // containment C(i in j) = |shingles_i ∩ shingles_j| / |shingles_i| —
      // the asymmetric near-dup measure: detects documents that are
      // near-SUBSETS of others (dataset contamination / quote inclusion),
      // which symmetric Jaccard misses when sizes differ a lot. Same
      // shingle equi-join machinery; emits both directions ≥ 0.8.
      val sh = shingles(s, d)
      jaccardOf(sizesOf(sh), commonPairs(sh))
        .withColumn("cont_i_in_j", col("c").cast("double") / col("ni"))
        .withColumn("cont_j_in_i", col("c").cast("double") / col("nj"))
        .filter(col("cont_i_in_j") >= 0.8 || col("cont_j_in_i") >= 0.8)
        .select(col("i"), col("j"), col("cont_i_in_j"), col("cont_j_in_i"))
        .orderBy("i", "j")
    }),

    "q62_ngram_jaccard" -> ((s, d) => {
      val sh = shingles(s, d)
      jaccardOf(sizesOf(sh), commonPairs(sh))
        .filter(col("jac") >= JaccardThreshold)
        .select(col("i"), col("j"), col("jac"))
        .orderBy("i", "j")
    }),

    "q63_minhash_lsh" -> ((s, d) => minhashLshFrom(shingles(s, d))),

    "q230_dup_matrix" -> ((s, d) => {
      // Cross-source duplicate overlap MATRIX — the dataset-card view
      // of exact duplication ("how much does source A re-host source
      // B"): for every unordered source pair, the number of exact-dup
      // document pairs spanning it. NEVER materialized as a pair join —
      // a hot content hash would go quadratic — the counts come from
      // per-(hash, source) group sizes: cross-source pairs are
      // c_i · c_j per shared hash, same-source pairs are C(c, 2), both
      // pure arithmetic over a frame whose width is bounded by
      // (#sources per hash ≤ #sources). The q60 exact-dup key (md5 of
      // the full text) is the grouping hash. At 100 TB: one dedup-sized
      // groupBy plus a per-hash join bounded by the source count — the
      // card costs no more than the dedup pass it annotates.
      val c = t(s, d, "documents")
        .select(md5(col("text")).as("h"), col("source"))
        .groupBy(col("h"), col("source")).agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheRegistry.cached)
      val cross = c.select(col("h"), col("source").as("src_a"),
          col("cnt").as("ca"))
        .join(c.select(col("h"), col("source").as("src_b"),
          col("cnt").as("cb")), "h")
        .where(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          (col("ca") * col("cb")).as("pairs"))
      val same = c.select(col("source").as("src_a"),
        col("source").as("src_b"),
        expr("cnt * (cnt - 1) div 2").as("pairs"))
      cross.unionByName(same)
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("pairs")).as("n_dup_pairs"))
        .where(col("n_dup_pairs") > 0)
        .orderBy("src_a", "src_b")
    }),

    "q212_editdist_dedup" -> ((s, d) => {
      // Edit-distance near-dup join — the fuzzy-STRING family member the
      // dedup suite lacked (MinHash/SimHash catch token-level overlap;
      // a one-keystroke typo'd title/URL shares no shingle band yet is
      // the classic crawl-metadata dup): the FastSS / SymSpell
      // deletion-neighborhood discipline. Every string emits itself plus
      // its |s| single-character deletions as join keys — two strings at
      // edit distance ≤ 1 ALWAYS share a key (b = del(a,i) shares b
      // itself; a substitution at i shares del(a,i) = del(b,i)), so
      // recall is guaranteed by construction — candidates meet only
      // inside a key bucket (never all pairs) and the exact levenshtein
      // verify runs on candidates alone. Inputs are the corpus
      // vocabulary (≥ 5 chars) with deterministically planted typos (the
      // q65 injected-input discipline): words whose salted-md5 digit ≡ 0
      // (mod 7) get a one-char deletion at a hash-chosen position, id'd
      // `word~`. At 100 TB: keys are O(total string length), the join is
      // bucketed by 64-bit-narrow key hash, verify is O(candidates) —
      // the same never-quadratic shape as q63/q200; deeper thresholds
      // (ed ≤ k) grow the neighborhood to |s| choose k, the documented
      // FastSS trade.
      val vocab = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 5)
        .distinct()
      val base = vocab.select(col("w").as("id"), col("w").as("str"))
      val typo = vocab
        .where(expr(
          "CAST(conv(substring(md5(concat('typo_', w)), 1, 1), 16, 10) AS INT) % 7 = 0"))
        .withColumn("k", expr(
          "CAST(conv(substring(md5(concat('typo_', w)), 2, 1), 16, 10) AS INT) % length(w)"))
        .select(concat(col("w"), lit("~")).as("id"),
          expr("concat(substring(w, 1, k), substring(w, k + 2))").as("str"))
      val corpus = graft.CacheRegistry.cached(base.unionByName(typo))
      editDistPairs(corpus).orderBy("a", "b")
    }),

    "q69_dedup_clusters" -> ((s, d) =>
      // the staged labels scan back in file order, not doc_id order
      nearDupClusters(s, d).orderBy("doc_id")),

    "q304_quality_keeper" -> ((s, d) => {
      // Quality-aware dedup KEEPER selection — production near-dup
      // pipelines keep the BEST cluster member, not the first: q69's
      // connected-component roots define the clusters, q233's scores
      // define "best", and the keeper is a per-cluster struct argmax
      // (p_nano desc, doc_id asc via the negated-id trick — q211's
      // lexicographic discipline). The min-id keeper (q60's choice)
      // rides the same pass, so the output SHOWS where quality-aware
      // selection disagrees with arrival-order selection — the
      // difference is the operator's value. Only ≥2-member clusters
      // emit (singletons have no choice to make). One labels join +
      // one aggregate over the near-dup subset; scores and labels are
      // both memoized frames shared with their own queries.
      val roots = nearDupClusters(s, d)
      val scores = TextAnalysis
        .qualityScoresOn(s, graft.Tables.t(s, d, "documents"))
        .select(col("doc_id"), col("p_nano"))
      scores.join(roots, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("keeper"), col("doc_id")).as("cluster_id"),
          col("p_nano"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("p_nano").as("p"), (-col("doc_id")).as("nd")))
            .as("mx"),
          min(col("doc_id")).as("minid_keeper"))
        .where(col("n_members") >= 2)
        .select(col("cluster_id"), col("n_members"),
          (-col("mx.nd")).as("keeper_doc"),
          col("mx.p").as("keeper_p_nano"), col("minid_keeper"),
          ((-col("mx.nd")) === col("minid_keeper")).as("same_as_minid"))
        .orderBy("cluster_id")
    }),

    "q120_cluster_split" -> ((s, d) => {
      // leakage-free train/eval split: hash the near-dup CLUSTER
      // representative, not the document — every member of a near-dup
      // cluster lands on the same side by construction, so no eval doc has
      // a near-duplicate in train (the contamination mode a doc-level
      // random split cannot prevent; see also q79/q111, which gate on
      // n-gram overlap after the fact — this prevents it structurally).
      // The roots frame is O(near-dup docs) and memoized (q69's CC labels),
      // so the split costs one tiny left join + a hash — the corpus side
      // never shuffles. The 64/256 cutoff on md5(root) gives a deterministic
      // 25% eval fraction that is reproducible across engines, runs and
      // cluster layouts, and composes with incremental reprocessing (the
      // q75 idiom applied to cluster ids).
      val roots = nearDupClusters(s, d)
        .select(col("doc_id").as("r_doc"), col("keeper").as("root0"))
      t(s, d, "documents").select(col("doc_id"))
        .join(broadcast(roots), col("doc_id") === col("r_doc"), "left")
        .withColumn("root", coalesce(col("root0"), col("doc_id")))
        .withColumn("split",
          when(substring(md5(col("root").cast("string")), 1, 2) <= "3f",
            lit("eval")).otherwise(lit("train")))
        .select(col("doc_id"), col("root"), col("split"))
        .orderBy("doc_id")
    }),

    "q102_dataset_card" -> ((s, d) => {
      // The curator's dataset card: one panel row per (source, lang) —
      // corpus size, token mass, mean quality (q82's formula, per-doc
      // quantized to integer nano-units so the group mean is an exact
      // sum/count in any aggregation order), and how many docs the
      // near-dup clustering (q69) would delete. This is the report a
      // 100 TB curation run ships with its output; every ingredient is
      // an already-oracled building block, and the loser join broadcasts
      // (near-dup losers are a sliver of the corpus).
      val toks = split(col("text"), " ")
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          size(filter(toks, x => x.isin("the", "a"))).cast("long").as("n_stop"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .withColumn("qn", round(
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) *
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
            (col("n_distinct").cast("double") / col("n_tokens")) * 1e9)
          .cast("long"))
      val losers = nearDupClusters(s, d)
        .filter(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"), lit(1L).as("dup"))
      docs.join(losers, Seq("doc_id"), "left")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens"),
          (round(sum(col("qn")).cast("double") / (count(lit(1)) * 1000.0)) / 1e6)
            .as("mean_quality6"),
          sum(coalesce(col("dup"), lit(0L))).as("dup_docs"))
        .orderBy("source", "lang")
    }),

    "q77_training_pipeline" -> ((s, d) => {
      // The whole training-data prep flow as ONE declarative plan — the
      // composition a user of this library actually runs: near-dup
      // removal (exact dups have Jaccard 1.0, so MinHash clustering
      // subsumes exact dedup; survivors = cluster keepers + unclustered),
      // then quality gate (min token count), language allowlist,
      // stratified rebalancing (the q75 hash cutoffs), and token-budget
      // batch packing (the q88 per-source shards). Every stage is an
      // already-oracled building block; composing them costs no new
      // shuffle beyond their own (the anti-join on losers broadcasts —
      // near-dup losers are a sliver of the corpus).
      val losers = nearDupClusters(s, d)
        .filter(col("doc_id") =!= col("keeper")).select(col("doc_id"))
      val clean = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(losers, Seq("doc_id"), "left_anti")
        .filter(col("n_tokens") >= 20 &&
          col("lang").isin("en", "de", "es", "fr") &&
          TextAnalysis.stratAccept) // q75's cutoffs, one definition
      TextAnalysis.packBatches(clean) // q88's packing, one definition
    }),

    "q78_delta_dedup" -> ((s, d) => {
      // Incremental dedup — the production shape at 100 TB: the corpus is
      // staged (signatures + fingerprints materialized once); each day's
      // DELTA batch (stand-in: doc_id ≡ 4 mod 5) is admitted only if it
      // duplicates nothing already staged. Two gates in cost order:
      //  (1) exact — the delta doc's normalized fingerprint (q61's
      //      representation) already exists corpus-side: a semi-join on a
      //      hash, the cheapest possible test;
      //  (2) near-dup — an LSH band collision links the delta doc to a
      //      CORPUS doc and exact Jaccard confirms ≥ 0.8. The candidate
      //      restriction happens BEFORE verification, so corpus-internal
      //      pairs (already verified when they were staged) cost nothing.
      // Delta-internal dups are out of scope HERE — this query is the
      // batch-vs-stage gate; q104 composes it with the within-batch stage
      // (the full admission pipeline).
      val isDelta = (col("doc_id") % DeltaMod) === DeltaRem
      val fps = t(s, d, "documents")
        .select(col("doc_id"), contentFp(col("text")).as("fp"))
      val exact = fps.filter(isDelta)
        .join(fps.filter(!isDelta).select(col("fp")), Seq("fp"), "left_semi")
        .select(col("doc_id"))
      // r14: the cross pairs are the shared delta-touching verified pass
      // (deltaTouchingPairs — one candidate+verify execution serves q78,
      // q104 and q99's reject list) filtered to exactly-one-side-delta;
      // identical rows to verifying the cross candidates alone.
      val cross = ((col("i") % DeltaMod) === DeltaRem) =!=
        ((col("j") % DeltaMod) === DeltaRem)
      val near = deltaTouchingPairs(s, d).filter(cross)
        .select(when((col("i") % DeltaMod) === DeltaRem, col("i"))
          .otherwise(col("j")).as("doc_id"))
        .distinct()
      t(s, d, "documents").filter(isDelta)
        .join(exact.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
        .join(near.withColumn("is_near", lit(1L)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact").isNotNull, lit("exact_dup"))
            .when(col("is_near").isNotNull, lit("near_dup"))
            .otherwise(lit("new")).as("verdict"))
        .orderBy("doc_id")
    }),

    "q104_delta_dedup_full" -> ((s, d) => {
      // The COMPLETE incremental-admission pipeline — q78's two
      // batch-vs-corpus gates followed by the within-batch stage a real
      // pipeline runs next: the surviving delta docs are deduped against
      // EACH OTHER, first exact (normalized fingerprint, min-id keeper),
      // then near (verified LSH pairs restricted to delta-internal
      // candidates, the q74 single-pass min-id keeper: smallest doc_id of
      // any within-delta cluster never has a smaller partner, so keepers
      // are well-defined without iteration). ONE LSH candidate pass
      // serves all near gates: the filter admits any candidate pair
      // TOUCHING the delta, and the verified pairs split into cross
      // (corpus gate) and delta-internal (within-batch gate) afterwards —
      // corpus-internal pairs still cost nothing.
      val fps = t(s, d, "documents")
        .select(col("doc_id"), contentFp(col("text")).as("fp"))
      val exact = fps.filter(isDeltaDoc)
        .join(fps.filter(!isDeltaDoc).select(col("fp")), Seq("fp"), "left_semi")
        .select(col("doc_id"))
      val iDelta = (col("i") % DeltaMod) === DeltaRem
      val jDelta = (col("j") % DeltaMod) === DeltaRem
      // verified near-dup pairs touching the delta; consumed by TWO gates
      // below and shared with q78/q99 (r14: one memoized candidate+verify
      // pass per session — see deltaTouchingPairs)
      val pairs = deltaTouchingPairs(s, d)
      val near = pairs.filter(iDelta =!= jDelta)
        .select(when(iDelta, col("i")).otherwise(col("j")).as("doc_id"))
        .distinct()
      // s0: delta docs surviving both corpus gates
      val s0 = t(s, d, "documents").filter(isDeltaDoc).select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left_anti")
        .join(near, Seq("doc_id"), "left_anti")
      // within-delta exact: fp collides with a SMALLER-id survivor
      val s0fps = fps.join(s0, Seq("doc_id"), "left_semi")
      val exd = s0fps.select(col("fp"), col("doc_id"))
        .join(s0fps.select(col("fp"), col("doc_id").as("smaller")), Seq("fp"))
        .where(col("smaller") < col("doc_id"))
        .select(col("doc_id")).distinct()
      val s1 = s0.join(exd, Seq("doc_id"), "left_anti")
      // within-delta near: verified pair whose smaller side is a keeper
      // (survived the corpus gates AND the within-delta exact gate)
      val neard = pairs.filter(iDelta && jDelta)
        .join(s1.select(col("doc_id").as("i")), Seq("i"), "left_semi")
        .select(col("j").as("doc_id")).distinct()
      t(s, d, "documents").filter(isDeltaDoc)
        .join(exact.withColumn("g1", lit(1L)), Seq("doc_id"), "left")
        .join(near.withColumn("g2", lit(1L)), Seq("doc_id"), "left")
        .join(exd.withColumn("g3", lit(1L)), Seq("doc_id"), "left")
        .join(neard.withColumn("g4", lit(1L)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("g1").isNotNull, lit("exact_dup"))
            .when(col("g2").isNotNull, lit("near_dup"))
            .when(col("g3").isNotNull, lit("exact_dup_in_delta"))
            .when(col("g4").isNotNull, lit("near_dup_in_delta"))
            .otherwise(lit("new")).as("verdict"))
        .orderBy("doc_id")
    }),

    "q109_substring_spans" -> ((s, d) => {
      // Exact-substring span detection — the suffix-array dedup from
      // "Deduplicating Training Data Makes Language Models Better"
      // (Lee et al., 2022) re-expressed relationally. Document-level
      // dedup (q60-q69) misses PARTIAL overlap: a page quoting 60 tokens
      // of another page is untouched by fingerprints and barely moves
      // Jaccard. Slide a W-token window (stride 1) over every document
      // and hash it (md5 prefix, the cross-engine key idiom); any window
      // hash occurring >= 2 times corpus-wide — across documents OR
      // repeated inside one — marks a duplicated substring. Merging
      // overlapping/adjacent hits per document (gaps-and-islands over
      // window positions) recovers the MAXIMAL duplicated spans the
      // suffix-array approach reports, without ever building one: every
      // stage is an off-the-shelf shuffle. Scale shape: the explode is
      // O(total tokens) narrow (hash, pos) rows — never pairs; the
      // df >= 2 aggregate collapses map-side; the join back is a
      // semi-join on the hash; the islands window partitions by doc_id,
      // so its state is bounded by document length, not corpus size.
      val toks = split(col("text"), " ")
      // referenced twice (df-count build side + join-back probe side);
      // same rationale as grams(): one scan+explode, not two
      val wins = graft.CacheRegistry.cached(t(s, d, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= SpanWin)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("toks")) - (SpanWin - 1)),
          i => substring(md5(concat_ws(" ", slice(col("toks"), i, lit(SpanWin)))),
            1, 16))).as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h")))
      spansFromWindows(s, d, wins)
    }),

    "q113_spans_rolling" -> ((s, d) => {
      // q109 with the hash stage done RIGHT asymptotically — the physical-
      // strategy twin (the q88/q108 move): identical span output, but the
      // window hashes come from the fused rolling_window_hashes codegen
      // expression (one O(bytes + windows) Rabin-Karp pass per document)
      // instead of transform+md5(concat_ws(slice)), which re-reads every
      // token W times — O(tokens × W) hash work, a 10× constant at W=10.
      // The span output never exposes hash values, so q113 shares q109's
      // oracle VERBATIM (window keys differ — 64-bit polynomial vs md5
      // prefix — but both identify window content up to a 2^-64 birthday
      // floor). Same island merge, same scale shape.
      spansFromWindows(s, d, rollingWindows(s, d))
    }),

    "q114_span_removal" -> ((s, d) => {
      // The REMOVAL step that completes the Lee-et-al pipeline: q109/q113
      // FIND duplicated spans; a curation run then CUTS every occurrence
      // of a duplicated substring except one and ships the cleaned text.
      // Keeper rule: for each duplicated window (hash class with >= 2
      // occurrences) the CANONICAL occurrence is the lexicographically
      // smallest (doc_id, pos); every other occurrence is cut. A token is
      // removed iff some non-canonical duplicated window covers it, so
      // the canonical copy of a run survives verbatim, within-doc repeats
      // keep their first occurrence, and a doc made entirely of borrowed
      // text cleans to the empty string (md5('') — both engines agree).
      // Scale shape: the rn>1 window partitions by hash — state bounded
      // by a hash's df, never corpus size (and rn>1 subsumes the df>=2
      // test: singletons are rn=1 by definition). Covered-index expansion
      // is a bounded W× blowup of the REMOVED windows only, collapsed by
      // a (doc_id, idx) distinct. Reconstruction never shuffles tokens:
      // the removed-index list (bounded by doc length, same order as the
      // toks array itself) joins back doc-level, and the cut is a per-row
      // codegen'd higher-order filter over the token array.
      val wins = rollingWindows(s, d)
      val removed = wins
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
        .filter(col("rn") > 1)
      val covered = removed.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanWin - 1))).as("idx"))
        .distinct()
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
      val stats = covered
        .withColumn("brk",
          when(col("idx") - lag(col("idx"), 1).over(wd) === 1, lit(0L))
            .otherwise(lit(1L)))
        .withColumn("g", sum(col("brk")).over(
          wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"))
        .agg(max(col("g")).as("n_spans_removed"),
          count(lit(1)).as("removed_tokens"))
      val remList = covered.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("idx"))).as("idxs"))
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .join(remList, Seq("doc_id"), "left")
        .join(stats, Seq("doc_id"), "left")
        .withColumn("ridx",
          coalesce(col("idxs"), array().cast("array<int>")))
        .withColumn("kept", filter(col("toks"),
          (_, i) => !array_contains(col("ridx"), i + 1)))
        .select(col("doc_id"),
          coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"),
          coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
          size(col("kept")).cast("long").as("kept_tokens"),
          md5(concat_ws(" ", col("kept"))).as("clean_fp"))
        .orderBy("doc_id")
    }),

    "q105_staged_dedup" -> ((s, d) =>
      // The 100 TB deployment form of q63 as a first-class query: STAGE
      // the df-capped shingle table to parquet once, then run the
      // signature/verify phase against the stage — one pass over the raw
      // corpus instead of the one-shot plan's fourteen (see
      // minhashLshStaged). Same pairs, same oracle as q63. The stage
      // lives under java.io.tmpdir keyed by corpus dir (concurrent
      // sessions on different corpora never collide) and is removed on
      // JVM exit.
      minhashLshStaged(s, d, stageDir(d))),

    "q79_decontaminate" -> ((s, d) => {
      // Train/eval decontamination (the GPT-3 rule): a training document
      // sharing any long n-gram with a held-out eval document is
      // contaminated and must be dropped before training. Long grams
      // (8 here, 13 in the paper) keep precision: no df cap — a popular
      // benchmark passage is exactly what must NOT be missed. Scale
      // shape: eval suites are tiny (≤ 1e6 grams) → the eval gram set
      // broadcasts, and the probe is a map-side join over the train
      // grams — one pass over the corpus, no shuffle of the big side.
      decontamFlags(s, d).orderBy("doc_id")
    }),

    "q193_source_contamination" -> ((s, d) => {
      // Per-SOURCE contamination report — the dataset-card row a
      // pipeline emits before training ("crawl X is 3.1% eval-
      // contaminated, drop or re-filter"): q79's exact-gram flags
      // (same frame, shared definition) left-joined onto the train
      // corpus and rolled up per source with the rate in integer basis
      // points. The expensive stage is q79's one corpus pass; this
      // report adds one KB-sized aggregation — which is why real
      // pipelines always emit it: the marginal cost over the gate they
      // already run is nothing.
      val train = t(s, d, "documents")
        .filter(!col("source").isin(EvalSources: _*))
        .select(col("doc_id"), col("source"))
      val flags = decontamFlags(s, d)
        .select(col("doc_id"), lit(1L).as("hit"))
      train.join(flags, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("rate_bp", expr("10000 * n_contaminated div n_docs"))
        .orderBy("source")
    }),

    "q147_fuzzy_decontaminate" -> ((s, d) => {
      // FUZZY train/eval decontamination — the near-dup complement of
      // q79/q111's exact-gram rule (the Llama-class pipeline runs both):
      // a paraphrased or partially-edited copy of an eval document
      // shares few long exact grams but still collides as a MinHash
      // near-dup. Reuses the q63 banded pair frame VERBATIM (plan-
      // identical subtree → one compute serves both queries in-session),
      // then keeps only cross-membership pairs (exactly one side in the
      // eval sources) and reports, per contaminated TRAIN doc, its match
      // count and best (jac, eval_doc) — lexicographic argmax, no window
      // over the pair set. Scale shape: the expensive stage is the
      // banded self-join already bounded by q63's analysis; the
      // membership join adds two broadcast-size probes of the documents
      // projection and the final agg is map-side-combinable.
      val pairs = minhashLshFrom(shingles(s, d))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source").isin(EvalSources: _*).as("ev"))
      val cx = pairs
        .join(docs.select(col("doc_id").as("i"), col("ev").as("ei")), "i")
        .join(docs.select(col("doc_id").as("j"), col("ev").as("ej")), "j")
        .filter(col("ei") =!= col("ej"))
        .select(when(col("ei"), col("j")).otherwise(col("i")).as("doc_id"),
          when(col("ei"), col("i")).otherwise(col("j")).as("eval_doc"),
          col("jac"))
      cx.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_eval_matches"),
          max(struct(col("jac"), col("eval_doc"))).as("best"))
        .select(col("doc_id"), col("n_eval_matches"),
          col("best.jac").as("best_jac"),
          col("best.eval_doc").as("best_eval_doc"))
        .orderBy("doc_id")
    }),

    "q111_bloom_decontaminate" -> ((s, d) => {
      // q79's decontamination with an EXPLICIT sketch prefilter — the
      // shape that changes the 100 TB economics. q79 relies on the eval
      // gram set being broadcast-joinable; when the eval suite grows past
      // the broadcast threshold, the join shuffles the ENTIRE train gram
      // table (O(corpus tokens) rows) just to discard ~all of them. Here
      // a ~1 MB bloom bitset over the eval grams is built once (scalar
      // subquery; Spark's own BloomFilterAggregate, registered as SQL by
      // the GraftExtensions catalog), evaluated MAP-SIDE on the train gram scan — only
      // might-match rows (true hits + the bounded false-positive sliver)
      // ever reach the exact join that removes FPs. Same rows as q79 by
      // construction (bloom has no false negatives; the exact join keeps
      // correctness), so it shares q79's oracle verbatim.
      val g = grams(s, d, DecontamGramLen)
      g.filter(col("source").isin(EvalSources: _*))
        .select(col("s"), col("doc_id").as("eval_doc"))
        .createOrReplaceTempView("q111_eval_grams")
      g.filter(!col("source").isin(EvalSources: _*))
        .select(col("doc_id"), col("s"))
        .createOrReplaceTempView("q111_train_grams")
      s.sql("""
        |WITH pre AS (
        |  SELECT doc_id, s FROM q111_train_grams
        |  WHERE might_contain(
        |    (SELECT bloom_agg(xxhash64(s)) FROM q111_eval_grams),
        |    xxhash64(s)))
        |SELECT /*+ BROADCAST(e) */ pre.doc_id,
        |  count(DISTINCT pre.s) AS n_grams_hit,
        |  count(DISTINCT e.eval_doc) AS n_eval_docs
        |FROM pre JOIN q111_eval_grams e ON pre.s = e.s
        |GROUP BY pre.doc_id
        |ORDER BY pre.doc_id""".stripMargin)
    }),

    "q89_boilerplate_ngrams" -> ((s, d) => {
      // Repeated-span (boilerplate) detection — the C4 move: a 5-gram
      // present in ≥ 3 distinct documents is template text (headers,
      // navigation, license blurbs); report each document's boilerplate
      // fraction so a filter stage can gate on it. Uncapped grams: the
      // hot spans ARE the signal. The df aggregation collapses map-side;
      // the flagged set (grams above the threshold) is the only thing
      // joined back — at corpus scale it is a sliver of the gram space.
      val g = grams(s, d, ShingleLen)
      val boiler = g.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= BoilerDfMin)
        .select(col("s"), lit(1L).as("is_b"))
      g.join(boiler, Seq("s"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), count(col("is_b")).as("n_boiler"))
        .withColumn("boiler_frac",
          col("n_boiler").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    }),

    "q67_minhash_estimate" -> ((s, d) => {
      // estimator quality: the fraction of agreeing minhash signatures IS
      // the Jaccard estimate (E[match] = J per row). Reported against the
      // exact value for every LSH candidate pair — the measurement that
      // justifies choosing 16 hashes / 4 bands.
      val sh = shingles(s, d)
      // same plan as q63's signature frame → shares its cache entry
      val sigs = sigsOf(sh)
      val l = sigs.select(col("doc_id").as("i") +:
        (0 until NHashes).map(k => col(s"m$k").as(s"la$k")): _*)
      val r = sigs.select(col("doc_id").as("j") +:
        (0 until NHashes).map(k => col(s"m$k").as(s"rb$k")): _*)
      jaccardOf(sigs.select(col("doc_id"), col("n")), commonPairs(sh))
        .filter(col("jac") >= 0.5) // the interesting candidate band
        .join(l, "i").join(r, "j")
        .withColumn("n_match",
          (0 until NHashes)
            .map(k => when(col(s"la$k") === col(s"rb$k"), 1L).otherwise(0L))
            .reduce(_ + _))
        .select(col("i"), col("j"), col("jac"),
          (col("n_match").cast("double") / NHashes).as("jac_est"),
          col("n_match"))
        .orderBy("i", "j")
    }),

    "q64_simhash" -> ((s, d) =>
      // Compact-signature SimHash: the 16-bit signature (= band 0 of the
      // 64-bit SimHash — identical bit formula) is the hamming PAYLOAD,
      // the cheap store-and-compare representation; candidate generation
      // reuses the full 64-bit 4×16-bit band keys, so blocking draws from
      // 2¹⁶ values per band even at 10⁹ docs. (An earlier 2×8-bit hi/lo
      // blocking on the 16-bit word itself degenerated to ~256 giant
      // buckets → quadratic within bucket at corpus scale, and was
      // retired: a compact signature is for storage, never for blocking.)
      simhashCands(simhash64Bands(s, d))
        .select(col("i"), col("j"),
          expr("bit_count(bas[0] ^ bbs[0])").cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= HammingMax)
        .orderBy("i", "j")),

    "q68_simhash64" -> ((s, d) =>
      // Production-scale SimHash: the full 64-bit hamming distance over
      // the same banded candidates — pigeonhole-complete at the
      // documented radius (see simhashCands). Verify = bit_count per
      // band, summed.
      simhashCands(simhash64Bands(s, d))
        .select(col("i"), col("j"),
          (0 until 4).map(k => expr(s"bit_count(bas[$k] ^ bbs[$k])").cast("long"))
            .reduce(_ + _).as("hamming"))
        .distinct()
        .filter(col("hamming") <= HammingMax)
        .orderBy("i", "j"))
  )

  private def sigsSql: String =
    (for (m <- 0 until NHashes / 4; p <- 0 until 4) yield
      s"min(substr(md5('${m}_' || s), ${p * 8 + 1}, 8)) AS m${m * 4 + p}")
      .mkString(", ")
  private def bandKeySql(b: Int): String =
    (0 until NHashes / MinhashBands)
      .map(p => s"m${b * (NHashes / MinhashBands) + p}")
      .mkString(" || '|' || ")

  /** shingles → signatures → LSH candidates → verified Jaccard pairs: the
    * shared CTE chain of q63 (threshold pairs) and q69 (clusters). */
  private def lshJacCtes: String =
    s"""$shinglesSql,
       |sigs AS (SELECT doc_id, $sigsSql FROM sh GROUP BY doc_id),
       |bands AS (
       |${(0 until MinhashBands).map(b =>
           s"  SELECT doc_id, $b AS band, ${bandKeySql(b)} AS key FROM sigs")
           .mkString("\n  UNION ALL\n")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bands a JOIN bands b USING (band, key)
       |  WHERE a.doc_id < b.doc_id),
       |common AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |jac AS (
       |  SELECT i, j, CAST(c AS DOUBLE)/(si.n + sj.n - c) AS jac
       |  FROM common
       |  JOIN cand USING (i, j)
       |  JOIN sizes si ON si.doc_id = i JOIN sizes sj ON sj.doc_id = j)""".stripMargin

  /** tok → nibs → sums → bands → band-collision pairs (both docs' band
    * values carried): the shared CTE chain of the two SimHash oracles —
    * the DuckDB twin of [[simhash64Bands]] + [[simhashCands]]. */
  private def simhash64Ctes: String = {
    val nibCols = (0 until 16).map(q =>
      s"(strpos('0123456789abcdef', substr(th, ${q + 1}, 1)) - 1) AS nib$q")
      .mkString(", ")
    val sumCols = (0 until 64).map(j =>
      s"sum(cnt * (2*((nib${j / 4} // ${1 << (j % 4)}) % 2) - 1)) AS s$j")
      .mkString(", ")
    val bandCols = (0 until 4).map(k =>
      "(" + (0 until 16).map(p =>
        s"(CASE WHEN s${16 * k + p} > 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ") + s") AS b$k").mkString(", ")
    val carry = "a.b0 AS ba0, a.b1 AS ba1, a.b2 AS ba2, a.b3 AS ba3, " +
      "b.b0 AS bb0, b.b1 AS bb1, b.b2 AS bb2, b.b3 AS bb3"
    val branches = (0 until 4).map(k =>
      s"""  SELECT a.doc_id AS i, b.doc_id AS j, $carry
         |  FROM bands a JOIN bands b ON a.b$k = b.b$k AND a.doc_id < b.doc_id"""
        .stripMargin).mkString("\n  UNION\n")
    s"""tok AS (
       |  SELECT doc_id, token, count(*) AS cnt, md5(token) AS th FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents) GROUP BY 1, 2),
       |nibs AS (SELECT doc_id, cnt, $nibCols FROM tok),
       |sums AS (SELECT doc_id, $sumCols FROM nibs GROUP BY doc_id),
       |bands AS (SELECT doc_id, $bandCols FROM sums),
       |spairs AS (
       |$branches)""".stripMargin
  }

  /** Shared CTE chain for the q78 delta gates: verified LSH pairs plus
    * the exact-fingerprint and cross-split near-dup reject sets. */
  private def deltaGatesCtes: String =
    s"""$lshJacCtes,
       |fps AS (
       |  SELECT doc_id, $contentFpSql AS fp
       |  FROM documents),
       |exact AS (
       |  SELECT DISTINCT d.doc_id FROM fps d JOIN fps c ON d.fp = c.fp
       |  WHERE d.doc_id % $DeltaMod = $DeltaRem
       |    AND c.doc_id % $DeltaMod <> $DeltaRem),
       |near AS (
       |  SELECT DISTINCT
       |    CASE WHEN i % $DeltaMod = $DeltaRem THEN i ELSE j END AS doc_id
       |  FROM jac WHERE jac >= $JaccardThreshold
       |    AND (i % $DeltaMod = $DeltaRem) <> (j % $DeltaMod = $DeltaRem))""".stripMargin

  /** DuckDB oracle for the streaming admission controller (q99, defined
    * in graft.streaming.Streaming): the delta documents that survive both
    * q78 gates. */
  def deltaAdmitOracleSql: String =
    s"""WITH $deltaGatesCtes
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id % $DeltaMod = $DeltaRem
       |  AND doc_id NOT IN (SELECT doc_id FROM exact)
       |  AND doc_id NOT IN (SELECT doc_id FROM near)
       |ORDER BY doc_id""".stripMargin

  /** windows -> df>=2 -> per-doc gaps-and-islands span merge: ONE oracle
    * text shared verbatim by q109 and its rolling-hash physical twin q113
    * (the output exposes no hash values, so both must hash-match it). */
  private lazy val SpansOracleSql: String =
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks
       |              FROM documents),
       |w AS (
       |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${SpanWin - 2}),
       |      i -> struct_pack(pos := i,
       |        h := substr(md5(array_to_string(toks[i:i+${SpanWin - 1}], ' ')), 1, 16)))) AS u
       |    FROM docs WHERE len(toks) >= $SpanWin)),
       |dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, pos FROM w SEMI JOIN dup USING (h)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
       |         THEN 0 ELSE 1 END AS brk
       |  FROM hits),
       |grp AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS UNBOUNDED PRECEDING) AS g
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, g, min(pos) AS sp0, max(pos) + ${SpanWin - 1} AS sp1
       |  FROM grp GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |          FROM documents)
       |SELECT s.doc_id, count(*) AS n_spans,
       |  CAST(sum(sp1 - sp0 + 1) AS BIGINT) AS dup_tokens,
       |  any_value(n_tokens) AS n_tokens,
       |  round(CAST(sum(sp1 - sp0 + 1) AS DOUBLE) / any_value(n_tokens) * 1e6) / 1e6
       |    AS dup_frac6
       |FROM spans s JOIN sizes USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle CTEs: `canon` → best-match `blocked` (doc_id, host, rule,
    * rule_type) — the q202 gate, shared with q205's pipeline. */
  private def blocklistCtesSql: String =
    s"""bparts AS (SELECT doc_id, host, string_split(host, '.') AS p
       |           FROM canon),
       |bsuff AS (
       |  SELECT doc_id, host,
       |    unnest(list_transform(range(1, len(p) + 1),
       |      i -> array_to_string(p[i:len(p)], '.'))) AS suffix
       |  FROM bparts),
       |brules(rule, rule_type) AS (VALUES
       |  ${BlockRules.map { case (r, t) => s"('$r', '$t')" }
              .mkString(", ")}),
       |bm AS (
       |  SELECT s.doc_id, s.host, r.rule, r.rule_type
       |  FROM bsuff s JOIN brules r
       |    ON r.rule_type = 'domain' AND s.suffix = r.rule
       |  UNION ALL
       |  SELECT c.doc_id, c.host, r.rule, r.rule_type
       |  FROM canon c JOIN brules r
       |    ON r.rule_type = 'host' AND c.host = r.rule),
       |branked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY length(rule) DESC, rule) AS rn
       |  FROM bm),
       |blocked AS (
       |  SELECT doc_id, host, rule, rule_type FROM branked WHERE rn = 1)"""
      .stripMargin

  /** Oracle CTEs: exact canonical-URL dedup + per-domain cap over
    * `fromRel` (a relation with doc_id, url_canon, domain) → `capped`
    * (doc_id, url_canon, domain, n_dups, rk) — q198's tail, shared with
    * q205's pipeline. */
  private def urlCapCtesSql(fromRel: String): String =
    s"""ukeep AS (
       |  SELECT url_canon, domain, min(doc_id) AS doc_id,
       |    CAST(count(*) AS BIGINT) AS n_dups
       |  FROM $fromRel GROUP BY 1, 2),
       |uranked AS (
       |  SELECT doc_id, url_canon, domain, n_dups,
       |    CAST(row_number() OVER (PARTITION BY domain
       |      ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)) || '|' ||
       |               lpad(CAST(doc_id AS VARCHAR), 12, '0'))
       |      AS BIGINT) AS rk
       |  FROM ukeep),
       |capped AS (
       |  SELECT doc_id, url_canon, domain, n_dups, rk
       |  FROM uranked WHERE rk <= $DomainCap)""".stripMargin

  /** Oracle CTEs: q199's keep-first line dedup over `fromRel` (doc_id,
    * text) → `lkept` (doc_id, li, line) — shared with q205. */
  private def lineDedupCtesSql(fromRel: String): String =
    s"""ltoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $fromRel),
       |llines AS (
       |  SELECT doc_id,
       |    CAST(unnest(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT)))
       |      AS BIGINT) AS li,
       |    unnest(list_transform(range(0, CAST(ceil(len(t) / 10.0)
       |        AS BIGINT)),
       |      i -> array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' ')))
       |      AS line
       |  FROM ltoks),
       |lfp AS (SELECT doc_id, li, line, md5(line) AS fp FROM llines),
       |lf1 AS (SELECT fp, min(doc_id) AS fd FROM lfp GROUP BY 1),
       |lf2 AS (
       |  SELECT l.fp, lf1.fd, min(l.li) AS fl
       |  FROM lfp l JOIN lf1 ON l.fp = lf1.fp AND l.doc_id = lf1.fd
       |  GROUP BY 1, 2),
       |lkept AS (
       |  SELECT l.doc_id, l.li, l.line
       |  FROM lfp l JOIN lf2 ON l.fp = lf2.fp
       |  WHERE l.doc_id = lf2.fd AND l.li = lf2.fl)""".stripMargin

  // q204's page/extraction fragments (TextAnalysis) re-exported for the
  // pipeline oracle — one definition per operator across the suite
  private def htmlPageSqlForPipeline: String = TextAnalysis.htmlPageSql
  private def htmlCleanSqlForPipeline: String = TextAnalysis.htmlCleanSql

  val oracle: Map[String, String] = Map(
    "q245_split_leakage" ->
      s"""WITH $lshJacCtes,
         |pr AS (SELECT i, j FROM jac WHERE jac >= $JaccardThreshold),
         |sp AS (
         |  SELECT i, j,
         |    CASE WHEN na <= 12 THEN 'train'
         |         WHEN na <= 14 THEN 'val' ELSE 'test' END AS sa,
         |    CASE WHEN nb <= 12 THEN 'train'
         |         WHEN nb <= 14 THEN 'val' ELSE 'test' END AS sb
         |  FROM (
         |    SELECT i, j,
         |      strpos('0123456789abcdef',
         |        substr(md5('split_' || CAST(i AS VARCHAR)), 1, 1)) - 1
         |        AS na,
         |      strpos('0123456789abcdef',
         |        substr(md5('split_' || CAST(j AS VARCHAR)), 1, 1)) - 1
         |        AS nb
         |    FROM pr))
         |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_dup_pairs,
         |  least(sa, sb) <> greatest(sa, sb) AS leak
         |FROM sp GROUP BY 1, 2
         |ORDER BY split_a, split_b""".stripMargin,
    "q246_lsh_band_sweep" -> {
      val configs = Seq(16 -> 1, 8 -> 2, 4 -> 4, 2 -> 8)
      val cfgCtes = configs.map { case (nb, rpb) =>
        val branches = (0 until nb).map { b =>
          val key = (0 until rpb).map(p => s"m${b * rpb + p}")
            .mkString(" || '|' || ")
          s"  SELECT doc_id, $b AS band, $key AS key FROM sigs"
        }.mkString("\n  UNION ALL\n")
        val theory = math.round((1.0 - math.pow(1.0 - math.pow(
          JaccardThreshold, rpb), nb)) * 1e9)
        s"""bands_${nb}_$rpb AS (
           |$branches),
           |cand_${nb}_$rpb AS (
           |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           |  FROM bands_${nb}_$rpb a JOIN bands_${nb}_$rpb b
           |    USING (band, key)
           |  WHERE a.doc_id < b.doc_id),
           |row_${nb}_$rpb AS (
           |  SELECT CAST($nb AS BIGINT) AS bands,
           |    CAST($rpb AS BIGINT) AS rows_per_band,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cand_${nb}_$rpb)
           |      AS n_candidates,
           |    (SELECT CAST(count(*) AS BIGINT)
           |     FROM cand_${nb}_$rpb JOIN truth USING (i, j)) AS n_found,
           |    (SELECT CAST(n_truth AS BIGINT) FROM tt) AS n_truth,
           |    CAST($theory AS BIGINT) AS theory_match_nano)""".stripMargin
      }.mkString(",\n")
      val unionRows = configs
        .map { case (nb, rpb) => s"SELECT * FROM row_${nb}_$rpb" }
        .mkString("\n  UNION ALL ")
      s"""WITH $shinglesSql,
         |sigs AS (SELECT doc_id, $sigsSql FROM sh GROUP BY doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
         |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT i, j FROM common
         |  JOIN sizes si ON si.doc_id = i JOIN sizes sj ON sj.doc_id = j
         |  WHERE CAST(c AS DOUBLE)/(si.n + sj.n - c)
         |    >= $JaccardThreshold),
         |tt AS (SELECT count(*) AS n_truth FROM truth),
         |$cfgCtes
         |SELECT bands, rows_per_band, n_candidates, n_found, n_truth,
         |  CASE WHEN n_truth = 0 THEN 0
         |    ELSE (n_found * 10000) // n_truth END AS recall_bp,
         |  CASE WHEN n_candidates = 0 THEN 0
         |    ELSE (n_found * 10000) // n_candidates END AS precision_bp,
         |  theory_match_nano
         |FROM (  $unionRows)
         |ORDER BY bands DESC""".stripMargin
    },
    "q205_crawl_pipeline" ->
      s"""WITH $urlCanonCtesSql,
         |$blocklistCtesSql,
         |survivors AS (
         |  SELECT c.* FROM canon c
         |  LEFT JOIN (SELECT DISTINCT doc_id FROM blocked) b
         |    USING (doc_id)
         |  WHERE b.doc_id IS NULL),
         |${urlCapCtesSql("survivors")},
         |kept_docs AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d JOIN capped USING (doc_id)),
         |page AS (
         |  SELECT doc_id, $htmlPageSqlForPipeline AS html FROM kept_docs),
         |${lineDedupCtesSql("kept_docs")},
         |lcounts AS (
         |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
         |      AS n_docs_after_line_dedup,
         |    CAST(count(*) AS BIGINT) AS kept_lines
         |  FROM lkept)
         |SELECT
         |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
         |  CAST((SELECT count(DISTINCT doc_id) FROM blocked) AS BIGINT)
         |    AS n_blocked,
         |  CAST((SELECT count(*) FROM capped) AS BIGINT) AS n_url_keepers,
         |  CAST((SELECT sum(length($htmlCleanSqlForPipeline)) FROM page)
         |    AS BIGINT) AS extracted_chars,
         |  lcounts.n_docs_after_line_dedup,
         |  lcounts.kept_lines
         |FROM lcounts""".stripMargin,
    "q202_blocklist" ->
      s"""WITH $urlCanonCtesSql,
         |$blocklistCtesSql
         |SELECT doc_id, host, rule, rule_type
         |FROM blocked ORDER BY doc_id""".stripMargin,
    "q199_line_dedup" ->
      s"""WITH ${lineDedupCtesSql("documents")}
         |SELECT doc_id, count(*) AS n_lines_kept,
         |  string_agg(line, ' ' ORDER BY li) AS text_kept
         |FROM lkept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q198_url_dedup" ->
      s"""WITH $urlCanonCtesSql,
         |${urlCapCtesSql("canon")}
         |SELECT doc_id, url_canon, domain, n_dups, rk
         |FROM capped ORDER BY domain, rk""".stripMargin,
    "q60_dedup_exact" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper""".stripMargin,
    "q61_dedup_fingerprint" ->
      s"""SELECT doc_id, $contentFpSql AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q65_nfc_dedup" ->
      """SELECT doc_id,
        |  md5(nfc_normalize('Zu' || chr(776) || 'rich ' || text)) AS nfc_fp,
        |  substr(nfc_normalize('Zu' || chr(776) || 'rich ' || text), 1, 7) AS prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q62_ngram_jaccard" ->
      s"""WITH $shinglesSql,
         |$jaccardSql
         |SELECT i, j, jac FROM jac WHERE jac >= $JaccardThreshold
         |ORDER BY i, j""".stripMargin,
    "q66_containment" ->
      s"""WITH $shinglesSql,
         |common AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
         |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         |SELECT i, j,
         |  CAST(c AS DOUBLE)/si.n AS cont_i_in_j,
         |  CAST(c AS DOUBLE)/sj.n AS cont_j_in_i
         |FROM common JOIN sizes si ON si.doc_id = i JOIN sizes sj ON sj.doc_id = j
         |WHERE CAST(c AS DOUBLE)/si.n >= 0.8 OR CAST(c AS DOUBLE)/sj.n >= 0.8
         |ORDER BY i, j""".stripMargin,
    "q63_minhash_lsh" ->
      s"""WITH $lshJacCtes
         |SELECT i, j, jac FROM jac WHERE jac >= $JaccardThreshold
         |ORDER BY i, j""".stripMargin,
    "q230_dup_matrix" ->
      """WITH c AS (
        |  SELECT md5(text) AS h, source, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |cross_pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    a.cnt * b.cnt AS pairs
        |  FROM c a JOIN c b USING (h) WHERE a.source < b.source),
        |same_pairs AS (
        |  SELECT source AS src_a, source AS src_b,
        |    cnt * (cnt - 1) // 2 AS pairs
        |  FROM c)
        |SELECT src_a, src_b, CAST(sum(pairs) AS BIGINT) AS n_dup_pairs
        |FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs)
        |GROUP BY 1, 2 HAVING sum(pairs) > 0
        |ORDER BY src_a, src_b""".stripMargin,
    "q212_editdist_dedup" ->
      """WITH words AS (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
        |vocab AS (SELECT w FROM words WHERE strlen(w) >= 5),
        |base AS (SELECT w AS id, w AS str FROM vocab),
        |typo AS (
        |  SELECT w || '~' AS id, substr(w, 1, k) || substr(w, k + 2) AS str
        |  FROM (
        |    SELECT w,
        |      (strpos('0123456789abcdef', substr(md5('typo_' || w), 2, 1)) - 1)
        |        % strlen(w) AS k
        |    FROM vocab
        |    WHERE (strpos('0123456789abcdef',
        |             substr(md5('typo_' || w), 1, 1)) - 1) % 7 = 0)),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM typo),
        |keys AS (
        |  SELECT DISTINCT id, str, key FROM (
        |    SELECT id, str, unnest(list_prepend(str,
        |      list_transform(range(0, strlen(str)),
        |        i -> substr(str, 1, i) || substr(str, i + 2)))) AS key
        |    FROM corpus)),
        |cand AS (
        |  SELECT DISTINCT a.id AS a, b.id AS b, a.str AS sa, b.str AS sb
        |  FROM keys a JOIN keys b USING (key) WHERE a.id < b.id)
        |SELECT a, b, sa, sb, CAST(levenshtein(sa, sb) AS BIGINT) AS ed
        |FROM cand WHERE levenshtein(sa, sb) <= 1
        |ORDER BY a, b""".stripMargin,
    // Spark's max(struct(jac, eval_doc)) argmax = ORDER BY jac DESC,
    // eval_doc DESC rn=1 here; jac doubles are bit-equal across engines
    // (q63's hash-green pair frame), so the tie-break is exact.
    "q147_fuzzy_decontaminate" ->
      s"""WITH $lshJacCtes,
         |pairs AS (SELECT i, j, jac FROM jac WHERE jac >= $JaccardThreshold),
         |mem AS (SELECT doc_id,
         |          source IN (${EvalSources.map("'" + _ + "'").mkString(",")})
         |            AS ev FROM documents),
         |cx AS (
         |  SELECT CASE WHEN mi.ev THEN p.j ELSE p.i END AS doc_id,
         |         CASE WHEN mi.ev THEN p.i ELSE p.j END AS eval_doc, jac
         |  FROM pairs p
         |  JOIN mem mi ON mi.doc_id = p.i
         |  JOIN mem mj ON mj.doc_id = p.j
         |  WHERE mi.ev != mj.ev),
         |rk AS (
         |  SELECT doc_id, eval_doc, jac,
         |    row_number() OVER
         |      (PARTITION BY doc_id ORDER BY jac DESC, eval_doc DESC) AS rn,
         |    count(*) OVER (PARTITION BY doc_id) AS n
         |  FROM cx)
         |SELECT doc_id, n AS n_eval_matches, jac AS best_jac,
         |  eval_doc AS best_eval_doc
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // connected components of the near-dup pair graph: transitive closure
    // via a recursive CTE (the declarative twin of the Spark side's
    // min-label propagation loop); keeper = least(v, min reachable)
    "q304_quality_keeper" ->
      s"""WITH RECURSIVE $lshJacCtes,
         |pairs AS (SELECT i, j FROM jac WHERE jac >= $JaccardThreshold),
         |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
         |reach(v, w2) AS (
         |  SELECT i, j FROM edges
         |  UNION
         |  SELECT r.v, e.j FROM reach r JOIN edges e ON r.w2 = e.i),
         |roots AS (SELECT v AS doc_id, least(v, min(w2)) AS keeper
         |          FROM reach GROUP BY v),
         |${TextAnalysis.QualityPSql},
         |members AS (
         |  SELECT p.doc_id, COALESCE(r.keeper, p.doc_id) AS cluster_id,
         |    p.p_nano
         |  FROM p LEFT JOIN roots r ON p.doc_id = r.doc_id),
         |ag AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |    max(struct_pack(p := p_nano, nd := -doc_id)) AS mx,
         |    CAST(min(doc_id) AS BIGINT) AS minid_keeper
         |  FROM members GROUP BY 1 HAVING count(*) >= 2)
         |SELECT cluster_id, n_members,
         |  CAST(-struct_extract(mx, 'nd') AS BIGINT) AS keeper_doc,
         |  CAST(struct_extract(mx, 'p') AS BIGINT) AS keeper_p_nano,
         |  minid_keeper,
         |  -struct_extract(mx, 'nd') = minid_keeper AS same_as_minid
         |FROM ag ORDER BY cluster_id""".stripMargin,
    "q69_dedup_clusters" ->
      s"""WITH RECURSIVE $lshJacCtes,
         |pairs AS (SELECT i, j FROM jac WHERE jac >= $JaccardThreshold),
         |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
         |reach(v, w) AS (
         |  SELECT i, j FROM edges
         |  UNION
         |  SELECT r.v, e.j FROM reach r JOIN edges e ON r.w = e.i)
         |SELECT v AS doc_id, least(v, min(w)) AS keeper
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,
    "q120_cluster_split" ->
      s"""WITH RECURSIVE $lshJacCtes,
         |pairs AS (SELECT i, j FROM jac WHERE jac >= $JaccardThreshold),
         |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
         |reach(v, w) AS (
         |  SELECT i, j FROM edges
         |  UNION
         |  SELECT r.v, e.j FROM reach r JOIN edges e ON r.w = e.i),
         |roots AS (SELECT v AS doc_id, least(v, min(w)) AS root
         |          FROM reach GROUP BY v),
         |split_docs AS (
         |  SELECT d.doc_id, COALESCE(r.root, d.doc_id) AS root
         |  FROM documents d LEFT JOIN roots r ON d.doc_id = r.doc_id)
         |SELECT doc_id, root,
         |  CASE WHEN substr(md5(CAST(root AS VARCHAR)), 1, 2) <= '3f'
         |       THEN 'eval' ELSE 'train' END AS split
         |FROM split_docs ORDER BY doc_id""".stripMargin,
    "q102_dataset_card" ->
      s"""WITH RECURSIVE $lshJacCtes,
         |pairs AS (SELECT i, j FROM jac WHERE jac >= $JaccardThreshold),
         |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
         |reach(v, w) AS (
         |  SELECT i, j FROM edges
         |  UNION
         |  SELECT r.v, e.j FROM reach r JOIN edges e ON r.w = e.i),
         |losers AS (
         |  SELECT v FROM reach GROUP BY v HAVING least(v, min(w)) <> v),
         |card_docs AS (
         |  SELECT doc_id, source, lang,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS toks
         |        FROM documents)),
         |card_q AS (
         |  SELECT doc_id, source, lang, n_tokens,
         |    CAST(round(least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)
         |      * (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)
         |      * (CAST(n_distinct AS DOUBLE)/n_tokens) * 1e9) AS BIGINT) AS qn
         |  FROM card_docs),
         |card_j AS (SELECT card_q.*, CASE WHEN v IS NULL THEN 0 ELSE 1 END AS dup
         |      FROM card_q LEFT JOIN losers ON card_q.doc_id = losers.v)
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  round(CAST(sum(qn) AS DOUBLE) / (count(*) * 1000.0)) / 1e6 AS mean_quality6,
         |  CAST(sum(dup) AS BIGINT) AS dup_docs
         |FROM card_j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q77_training_pipeline" ->
      s"""WITH RECURSIVE $lshJacCtes,
         |pairs AS (SELECT i, j FROM jac WHERE jac >= $JaccardThreshold),
         |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
         |reach(v, w) AS (
         |  SELECT i, j FROM edges
         |  UNION
         |  SELECT r.v, e.j FROM reach r JOIN edges e ON r.w = e.i),
         |losers AS (
         |  SELECT v FROM reach GROUP BY v HAVING least(v, min(w)) <> v),
         |clean AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents ANTI JOIN losers ON doc_id = v
         |  WHERE CAST(len(string_split(text, ' ')) AS BIGINT) >= 20
         |    AND lang IN ('en', 'de', 'es', 'fr')
         |    AND ${TextAnalysis.StratAcceptSql}),
         |${TextAnalysis.packSql("clean")}""".stripMargin,
    "q78_delta_dedup" ->
      s"""WITH $deltaGatesCtes
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM exact) THEN 'exact_dup'
         |       WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
         |       ELSE 'new' END AS verdict
         |FROM documents WHERE doc_id % $DeltaMod = $DeltaRem
         |ORDER BY doc_id""".stripMargin,
    // q104: q78's gates + the within-batch stage. s0/exd/s1/neard mirror
    // the Spark-side survivor chain verbatim; jac already holds ALL
    // verified LSH pairs, so the delta-internal gate is one more filter.
    "q104_delta_dedup_full" ->
      s"""WITH $deltaGatesCtes,
         |s0 AS (
         |  SELECT doc_id FROM documents
         |  WHERE doc_id % $DeltaMod = $DeltaRem
         |    AND doc_id NOT IN (SELECT doc_id FROM exact)
         |    AND doc_id NOT IN (SELECT doc_id FROM near)),
         |exd AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM fps a JOIN fps b ON a.fp = b.fp AND b.doc_id < a.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM s0)
         |    AND b.doc_id IN (SELECT doc_id FROM s0)),
         |s1 AS (SELECT doc_id FROM s0
         |       WHERE doc_id NOT IN (SELECT doc_id FROM exd)),
         |neard AS (
         |  SELECT DISTINCT j AS doc_id FROM jac
         |  WHERE jac >= $JaccardThreshold
         |    AND i % $DeltaMod = $DeltaRem AND j % $DeltaMod = $DeltaRem
         |    AND i IN (SELECT doc_id FROM s1))
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM exact) THEN 'exact_dup'
         |       WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
         |       WHEN doc_id IN (SELECT doc_id FROM exd) THEN 'exact_dup_in_delta'
         |       WHEN doc_id IN (SELECT doc_id FROM neard) THEN 'near_dup_in_delta'
         |       ELSE 'new' END AS verdict
         |FROM documents WHERE doc_id % $DeltaMod = $DeltaRem
         |ORDER BY doc_id""".stripMargin,
    // q109: windows -> df>=2 -> per-doc gaps-and-islands span merge.
    // q113 shares it VERBATIM: the rolling-hash twin must produce the
    // identical span output (hash keys never appear in the result).
    "q109_substring_spans" -> SpansOracleSql,
    "q113_spans_rolling" -> SpansOracleSql,
    // q114: same window frame, canonical-occurrence keeper (rn = 1 per
    // hash class, (doc_id, pos) order), union of covered indices, island
    // count, and the cleaned text rebuilt by index filtering. The hash
    // values never surface, so md5-prefix keys here and 64-bit rolling
    // keys on the Spark side must produce identical output.
    "q114_span_removal" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks
         |              FROM documents),
         |w AS (
         |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${SpanWin - 2}),
         |      i -> struct_pack(pos := i,
         |        h := substr(md5(array_to_string(toks[i:i+${SpanWin - 1}], ' ')), 1, 16)))) AS u
         |    FROM docs WHERE len(toks) >= $SpanWin)),
         |rem AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |    FROM w) WHERE rn > 1),
         |cov AS (
         |  SELECT DISTINCT doc_id, unnest(range(pos, pos + $SpanWin)) AS idx
         |  FROM rem),
         |isl AS (
         |  SELECT doc_id, idx,
         |    CASE WHEN idx - lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) = 1
         |         THEN 0 ELSE 1 END AS brk
         |  FROM cov),
         |grp AS (
         |  SELECT doc_id,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY idx
         |                   ROWS UNBOUNDED PRECEDING) AS g
         |  FROM isl),
         |stats AS (
         |  SELECT doc_id, CAST(max(g) AS BIGINT) AS n_spans_removed,
         |    count(*) AS removed_tokens
         |  FROM grp GROUP BY 1),
         |rlist AS (SELECT doc_id, list(idx ORDER BY idx) AS idxs
         |          FROM cov GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_spans_removed, 0) AS n_spans_removed,
         |  coalesce(removed_tokens, 0) AS removed_tokens,
         |  CAST(len(toks) - coalesce(removed_tokens, 0) AS BIGINT) AS kept_tokens,
         |  md5(coalesce(array_to_string(list_transform(
         |    list_filter(range(1, len(toks) + 1),
         |      i -> r.idxs IS NULL OR NOT list_contains(r.idxs, i)),
         |    i -> toks[i]), ' '), '')) AS clean_fp
         |FROM docs d
         |LEFT JOIN rlist r USING (doc_id)
         |LEFT JOIN stats s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // q105 shares q63's oracle verbatim: staging must not change a bit
    "q105_staged_dedup" ->
      s"""WITH $lshJacCtes
         |SELECT i, j, jac FROM jac WHERE jac >= $JaccardThreshold
         |ORDER BY i, j""".stripMargin,
    "q79_decontaminate" ->
      s"""WITH ${gramsSql(DecontamGramLen)}
         |SELECT t.doc_id, count(DISTINCT t.s) AS n_grams_hit,
         |       count(DISTINCT e.doc_id) AS n_eval_docs
         |FROM g t JOIN g e ON t.s = e.s
         |WHERE t.source NOT IN (${EvalSources.map(x => s"'$x'").mkString(", ")})
         |  AND e.source IN (${EvalSources.map(x => s"'$x'").mkString(", ")})
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q193_source_contamination" ->
      s"""WITH ${gramsSql(DecontamGramLen)},
         |contaminated AS (
         |  SELECT DISTINCT t.doc_id FROM g t JOIN g e ON t.s = e.s
         |  WHERE t.source NOT IN (${EvalSources.map(x => s"'$x'").mkString(", ")})
         |    AND e.source IN (${EvalSources.map(x => s"'$x'").mkString(", ")})),
         |tr AS (SELECT doc_id, source FROM documents
         |  WHERE source NOT IN (${EvalSources.map(x => s"'$x'").mkString(", ")}))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  10000 * CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) // count(*) AS rate_bp
         |FROM tr LEFT JOIN contaminated c ON tr.doc_id = c.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q111 shares q79's oracle verbatim: the bloom is a prefilter with no
    // false negatives and the exact join removes its false positives, so
    // the result set must be bit-identical to the unsketched query
    "q111_bloom_decontaminate" ->
      s"""WITH ${gramsSql(DecontamGramLen)}
         |SELECT t.doc_id, count(DISTINCT t.s) AS n_grams_hit,
         |       count(DISTINCT e.doc_id) AS n_eval_docs
         |FROM g t JOIN g e ON t.s = e.s
         |WHERE t.source NOT IN (${EvalSources.map(x => s"'$x'").mkString(", ")})
         |  AND e.source IN (${EvalSources.map(x => s"'$x'").mkString(", ")})
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q89_boilerplate_ngrams" ->
      s"""WITH ${gramsSql(ShingleLen)},
         |boiler AS (
         |  SELECT s FROM g GROUP BY s HAVING count(*) >= $BoilerDfMin)
         |SELECT g.doc_id, count(*) AS n_grams, count(b.s) AS n_boiler,
         |  CAST(count(b.s) AS DOUBLE) / count(*) AS boiler_frac
         |FROM g LEFT JOIN boiler b ON g.s = b.s
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q67_minhash_estimate" ->
      s"""WITH $shinglesSql,
         |sigs AS (SELECT doc_id, $sigsSql FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
         |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |jac AS (
         |  SELECT i, j, CAST(c AS DOUBLE)/(si.n + sj.n - c) AS jac
         |  FROM common JOIN sizes si ON si.doc_id = i JOIN sizes sj ON sj.doc_id = j
         |  WHERE CAST(c AS DOUBLE)/(si.n + sj.n - c) >= 0.5),
         |m AS (
         |  SELECT i, j, jac,
         |    ${(0 until NHashes).map(k =>
              s"(CASE WHEN la.m$k = rb.m$k THEN 1 ELSE 0 END)").mkString(" + ")} AS n_match
         |  FROM jac JOIN sigs la ON la.doc_id = i JOIN sigs rb ON rb.doc_id = j)
         |SELECT i, j, jac, CAST(n_match AS DOUBLE)/$NHashes AS jac_est,
         |  CAST(n_match AS BIGINT) AS n_match
         |FROM m ORDER BY i, j""".stripMargin,
    "q64_simhash" ->
      s"""WITH $simhash64Ctes
         |SELECT i, j, CAST(bit_count(xor(ba0, bb0)) AS BIGINT) AS hamming
         |FROM spairs WHERE bit_count(xor(ba0, bb0)) <= $HammingMax
         |ORDER BY i, j""".stripMargin,
    "q68_simhash64" -> {
      val ham = (0 until 4).map(k => s"bit_count(xor(ba$k, bb$k))").mkString(" + ")
      s"""WITH $simhash64Ctes
         |SELECT i, j, CAST($ham AS BIGINT) AS hamming
         |FROM spairs WHERE $ham <= $HammingMax
         |ORDER BY i, j""".stripMargin
    }
  )
}
