package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Similarity search over the `embeddings` table (BASELINE.json north-star:
  * ANN over an embedding column).
  *
  * Two paths, mirroring how a 100 TB pipeline would do it:
  *  - q70: brute-force cosine top-k for a small query set — the correctness
  *    baseline. The query side is tiny so Spark broadcasts it and the scan
  *    over the big side stays a single pass, no shuffle of candidates.
  *  - q71: sign-random-projection LSH (4 bands × 4 hyperplane bits): bucket
  *    join prunes the O(n²) pair space to within-bucket pairs — the only
  *    formulation that survives when n² pairs stop fitting anywhere.
  *
  * Hyperplanes are derived from md5(k_i) nibbles — a formula both Spark
  * and the DuckDB oracle can evaluate exactly, so the LSH bucketing (and
  * therefore the candidate set) is bit-identical across engines with no
  * giant literal arrays in the SQL.
  */
object Similarity {

  val Dim = 64
  val NBands = 4
  val BitsPerBand = 4
  val NPlanes: Int = NBands * BitsPerBand // 16
  val CosThreshold = 0.45
  /** Number of coarse cells for q110's SemDeDup clustering (the first K
    * vectors as an externally-trained codebook stand-in, the q73/q100
    * move). At production scale K grows with the corpus (the paper uses
    * ~√n) so expected cell size — and with it the within-cell pair
    * count — stays bounded. */
  val SemK = 32

  /** Probes per vector for q115's multi-probe variant of q110: each
    * vector joins its top-2 nearest cells, so a near-dup pair split by a
    * cell boundary still meets wherever their probe sets intersect. */
  val SemProbes = 2

  /** plane[k][i] = (strpos('0123456789abcdef', first_hex_char(md5("k_i"))) - 8.5)/8
    * — matches the SQL formula in `planesSql` exactly. */
  lazy val planes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NPlanes) { k =>
      Array.tabulate(Dim) { i0 =>
        val i = i0 + 1
        val hex = md.digest(s"${k}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val v = "0123456789abcdef".indexOf(hex.charAt(0)) + 1 // = strpos, 1-based
        (v.toDouble - 8.5) / 8.0
      }
    }
  }

  private val planesSql =
    s"""planes AS (
       |  SELECT k, list_transform(range(1, ${Dim + 1}), i ->
       |    (CAST(strpos('0123456789abcdef',
       |       substr(md5(CAST(k AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) AS DOUBLE)
       |     - 8.5) / 8.0) AS plane
       |  FROM range(0, $NPlanes) t(k))""".stripMargin

  private def r6(c: Column): Column = round(c * 1e6) / 1e6

  /** embeddings exploded to (vec_id, band, key): one fused codegen pass
    * (LshBands) computes all 16 plane dots per vector — no per-plane
    * interpreted lambdas, no embedding payload carried into the join. */
  private def bandedVectors(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"),
        posexplode(expr("lsh_bands(embedding)")).as(Seq("band", "key")))

  /** LSH candidate pairs verified with exact cosine ≥ CosThreshold —
    * shared by q71 (pair search) and q74 (near-dup dedup). Candidate pairs
    * carry only ids through the join + dedupe; the 64-float payloads are
    * joined back once per verified candidate. */
  private def lshScoredPairs(s: SparkSession, d: String): DataFrame = {
    val banded = bandedVectors(s, d)
    val cand = banded.select(col("band"), col("key"), col("vec_id").as("i"))
      .join(banded.select(col("band"), col("key"), col("vec_id").as("j")),
        Seq("band", "key"))
      .where(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    val e = t(s, d, "embeddings")
    cand
      .join(e.select(col("vec_id").as("i"), col("embedding").as("ea")), "i")
      .join(e.select(col("vec_id").as("j"), col("embedding").as("eb")), "j")
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .filter(col("cos") >= CosThreshold)
  }

  /** DuckDB mirror of CosineSimilarity's fused pass over `n`-dim lists
    * (q170's late interaction runs it over 8-dim sub-vectors). */
  private def cosSqlN(a: String, b: String, n: Int): String =
    s"""(list_sum(list_transform(range(1, ${n + 1}), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform(range(1, ${n + 1}), i -> CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform(range(1, ${n + 1}), i -> CAST($b[i] AS DOUBLE)*CAST($b[i] AS DOUBLE))))))""".stripMargin

  private val cosSql = // DuckDB mirror of CosineSimilarity's fused pass
    (a: String, b: String) => cosSqlN(a, b, Dim)

  /** Top-`probes` nearest-coarse-centroid cell assignment over the
    * broadcast `k`-seed codebook — the shared candidate generator of
    * q110 (probes=1, SemDeDup proper) and q115 (probes=2, multi-probe).
    * Persisted because both self-join sides reference it. `k` is SemK for
    * the test-table queries; DedupScale passes ~√n (the paper's sizing —
    * expected within-cell pair count stays near-linear). */
  private def semAssign(s: SparkSession, d: String, probes: Int,
                        k: Int): DataFrame = {
    val e = t(s, d, "embeddings")
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("k"), col("embedding").as("se"))
    e.crossJoin(broadcast(seeds))
      .withColumn("ck", expr("cosine_sim(embedding, se)"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("ck").desc, col("k"))))
      .filter(col("rk") <= probes)
      .select(col("vec_id"), col("k").as("cell"))
      // referenced as both self-join sides — persist (via the session-
      // keyed CacheRegistry, so release() drains it) or the assignment
      // (scan + broadcast score + window) computes twice
      .transform(graft.CacheRegistry.cached)
  }

  /** Verified within-probed-cell near-dup pairs (i < j, exact cosine ≥
    * CosThreshold) — the pair stage both semantic-dedup queries and the
    * DedupScale gate share. Candidates are ids-only and distinct'd before
    * the payload join. */
  def semanticPairs(s: SparkSession, d: String, probes: Int,
                    k: Int = SemK): DataFrame = {
    val e = t(s, d, "embeddings")
    val asg = semAssign(s, d, probes, k)
    val cand = asg.select(col("cell"), col("vec_id").as("i"))
      .join(asg.select(col("cell"), col("vec_id").as("j")), Seq("cell"))
      .where(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    cand
      .join(e.select(col("vec_id").as("i"), col("embedding").as("ea")), "i")
      .join(e.select(col("vec_id").as("j"), col("embedding").as("eb")), "j")
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .filter(col("cos") >= CosThreshold)
      .select(col("i"), col("j"), col("cos"))
  }

  /** PQ index artifacts: (codes, adc) — `codes` is the whole corpus
    * encoded to M=4 sub-codes (the one-time index build), `adc` the
    * per-query 4×16 integer lookup tables. Shared by q100/q127 (which
    * ADC-score the full corpus) and q143 (which ADC-scores only IVF-probed
    * cells). Codebook = first K vectors (externally-trained stand-in);
    * distances are exact integer nano-units end to end (the q35 idiom),
    * so every downstream shortlist is bit-identical across partitionings
    * and engines. */
  private def pqCodesAndAdc(s: SparkSession, d: String): (DataFrame, DataFrame) =
    pqCodesAndAdcOn(s, d, None, col("vec_id") < 16)

  /** pqCodesAndAdc generalized for the incremental index (q151): `enc`
    * restricts WHICH vectors get encoded (None = all; the delta admission
    * passes the delta predicate so per-vector encode work — explode, join,
    * agg — runs over the delta alone), `cbPred` selects the codebook
    * vectors (q151 trains on BASE vectors only, so a later delta can
    * never have shifted the codes of what is already staged). */
  private def pqCodesAndAdcOn(s: SparkSession, d: String, enc: Option[Column],
      cbPred: Column): (DataFrame, DataFrame) = {
    val M = 4; val SubDim = Dim / M; val NQueries = 3
    val encSrc = enc.map(t(s, d, "embeddings").filter)
      .getOrElse(t(s, d, "embeddings"))
    val ex = encSrc
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / SubDim).cast("int").as("m"),
        pmod(col("i"), lit(SubDim)).as("im"), col("x").cast("double").as("xd"))
    // codebook from its own pruned scan (vec_id < K pushes down to
    // parquet) — broadcast: M*SubDim*K = 1024 rows
    val cb = t(s, d, "embeddings").filter(cbPred)
      .select(col("vec_id").cast("int").as("k"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("k"), (col("i") / SubDim).cast("int").as("m"),
        pmod(col("i"), lit(SubDim)).as("im"), col("x").cast("double").as("c"))
    val dist = ex.join(broadcast(cb), Seq("m", "im"))
      .withColumn("en",
        round((col("xd") - col("c")) * (col("xd") - col("c")) * 1e9)
          .cast("long"))
      .groupBy(col("vec_id"), col("m"), col("k"))
      .agg(sum(col("en")).as("dn"))
      // referenced twice (encode argmin + ADC tables) with different
      // downstream shapes — persist (registry-routed) or the
      // explode+join runs twice
      .transform(graft.CacheRegistry.cached)
    // encode: argmin_k over exact integer distances, ties -> smallest k
    // (min over (dn, k) structs = lexicographic argmin, no window pass)
    val codes = dist.groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dn"), col("k"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.k").as("k"))
    // ADC: the query's own per-(m, k) distances ARE its lookup table
    val adc = dist.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("k"), col("dn"))
    (codes, adc)
  }

  /** Lloyd-training constants shared by q129 (the trainer) and q143 (the
    * serving pipeline that probes the trained cells). */
  val LloydK = 8
  val LloydIters = 3

  /** PQ codebook training constants (q327): M=4 subspaces × K=16 entries,
    * trained with q129's integer-exact Lloyd arithmetic PER SUBSPACE,
    * initialized from the first-16-vectors stand-in — so the trained
    * codebook provably starts where q100/q127/q143 stand and each Lloyd
    * step monotonically reduces the within-cell quantization error the
    * ADC approximation inherits. */
  val PqK = 16
  val PqIters = 3

  /** TRAINED per-subspace PQ codebook: (m, k, im, cn) nano-unit centroid
    * components after [[PqIters]] Lloyd steps over each subspace's
    * subvectors (q129's arithmetic-parity rules verbatim: exact integer
    * distances, trunc division, empty-cell carry). Driver loop builds
    * plan only; each round's frame is checkpointed because the next
    * iteration references it twice (distance join + empty-cell carry),
    * and so is the exploded training set every round reads;
    * `Staging.checkpoint` frees them all once the stage has committed.
    * Staged once per corpus ([[graft.Staging.frame]], like every trained
    * model frame here): training loops grow the plan per iteration, and a
    * consumer re-analyzing that lineage on every construction cost 1.3 s
    * of q143's 2.5 s run at sf0.1, caches hot. */
  private[operators] def pqTrainedCodebook(s: SparkSession, d: String): DataFrame =
      graft.Staging.frame(s, "ann-pq-codebook", d) {
    val M = 4; val SubDim = Dim / M
    val exm = t(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / SubDim).cast("int").as("m"),
        pmod(col("i"), lit(SubDim)).as("im"),
        col("x").cast("double").as("xd"),
        round(col("x").cast("double") * 1e9).cast("long").as("xn"))
      .transform(graft.Staging.checkpoint)
    var cent = exm.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("k"), col("im"),
        col("xn").as("cn"))
    for (_ <- 1 to PqIters) {
      val dist = exm
        .join(broadcast(cent.select(col("m"), col("k"), col("im"), col("cn"))),
          Seq("m", "im"))
        .withColumn("en", round((col("xd") - col("cn") / 1e9)
          * (col("xd") - col("cn") / 1e9) * 1e9).cast("long"))
        .groupBy(col("vec_id"), col("m"), col("k"))
        .agg(sum(col("en")).as("dn"))
      val asg = dist.groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dn"), col("k"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.k").as("k"))
      val sums = exm.join(asg, Seq("vec_id", "m"))
        .groupBy(col("m"), col("k"), col("im"))
        .agg(sum(col("xn")).as("sn"), count(lit(1)).as("n"))
      cent = cent.select(col("m"), col("k"), col("im"), col("cn").as("cn_prev"))
        .join(sums, Seq("m", "k", "im"), "left")
        .select(col("m"), col("k"), col("im"),
          when(col("n").isNull, col("cn_prev"))
            .otherwise(expr("sn div n")).as("cn"))
        .transform(graft.Staging.checkpoint)
    }
    cent
  }

  /** IvfPqSpec probe: (stand-in MSE, stand-in codes used, trained MSE,
    * trained codes used) — total quantization error in exact nanounits
    * plus code-usage counts for both codebooks; the Lloyd monotonicity
    * pin and the collapse guard. */
  private[operators] def pqMse(s: SparkSession, d: String)
      : (Long, Long, Long, Long) = {
    val M = 4; val SubDim = Dim / M
    val ex = t(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / SubDim).cast("int").as("m"),
        pmod(col("i"), lit(SubDim)).as("im"), col("x").cast("double").as("xd"))
    def mseOf(cb: DataFrame): (Long, Long) = {
      val dist = ex.join(broadcast(cb), Seq("m", "im"))
        .withColumn("en",
          round((col("xd") - col("c")) * (col("xd") - col("c")) * 1e9)
            .cast("long"))
        .groupBy(col("vec_id"), col("m"), col("k"))
        .agg(sum(col("en")).as("dn"))
      val best = dist.groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dn"), col("k"))).as("b"))
        .select(col("vec_id"), col("m"), col("b.dn").as("dn"), col("b.k").as("k"))
      val r = best.agg(sum(col("dn")).as("mse"),
        countDistinct(col("m"), col("k")).as("used")).collect()(0)
      (r.getAs[Long]("mse"), r.getAs[Long]("used"))
    }
    val standCb = t(s, d, "embeddings").filter(col("vec_id") < PqK)
      .select(col("vec_id").cast("int").as("k"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("k"), (col("i") / SubDim).cast("int").as("m"),
        pmod(col("i"), lit(SubDim)).as("im"), col("x").cast("double").as("c"))
    val trainCb = pqTrainedCodebook(s, d)
      .select(col("m"), col("k"), col("im"), (col("cn") / 1e9).as("c"))
    val (sm, su) = mseOf(standCb)
    val (tm, tu) = mseOf(trainCb)
    (sm, su, tm, tu)
  }

  /** Codes + per-query ADC tables against the TRAINED codebook — the
    * q100 shapes with the stand-in swapped for [[pqTrainedCodebook]];
    * shared by q327 and IvfPqSpec's recall comparison. */
  private[operators] def pqTrainedApprox(s: SparkSession, d: String): DataFrame = {
    val M = 4; val SubDim = Dim / M; val NQueries = 3
    val cb = pqTrainedCodebook(s, d)
      .select(col("m"), col("k"), col("im"), (col("cn") / 1e9).as("c"))
    val ex = t(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / SubDim).cast("int").as("m"),
        pmod(col("i"), lit(SubDim)).as("im"), col("x").cast("double").as("xd"))
    val dist = ex.join(broadcast(cb), Seq("m", "im"))
      .withColumn("en",
        round((col("xd") - col("c")) * (col("xd") - col("c")) * 1e9)
          .cast("long"))
      .groupBy(col("vec_id"), col("m"), col("k"))
      .agg(sum(col("en")).as("dn"))
      .transform(graft.CacheRegistry.cached)
    val codes = dist.groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dn"), col("k"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.k").as("k"))
    val adc = dist.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("k"), col("dn"))
    codes.join(broadcast(adc), Seq("m", "k"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dn")).as("ad_nano"))
      .where(col("vec_id") =!= col("q_id"))
  }

  /** Exploded nano-unit components (vec_id, i(0-based), xd, xn) — the
    * Lloyd training set and the input of q143's cell assignment. */
  private def exnFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), col("x").cast("double").as("xd"),
        round(col("x").cast("double") * 1e9).cast("long").as("xn"))

  /** The trained codebook: (k, i, cn, n) after LloydIters integer-exact
    * Lloyd steps (see q129's scaladoc for the arithmetic-parity rules).
    * Driver loop builds plan only — no action inside. */
  private def lloydCentroids(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "ann-lloyd", d) {
      lloydCentroidsOn(s, d, None, col("vec_id") < LloydK)
    }

  /** lloydCentroids generalized for the incremental index (q151): `train`
    * restricts the training set (None = all vectors; q151 trains on the
    * BASE corpus only, so admitting a delta later never moves the cells),
    * `seedPred` picks the LloydK seed vectors from that training set. */
  private def lloydCentroidsOn(s: SparkSession, d: String,
      train: Option[Column], seedPred: Column): DataFrame = {
    // read by every iteration's distance join AND mean update, inside a
    // Staging build: checkpointed, so nothing outlives the build
    val exn0 = exnFrame(s, d)
    val exn = graft.Staging.checkpoint(train.map(exn0.filter).getOrElse(exn0))
    var cent = exn.filter(seedPred)
      .select(col("vec_id").as("k"), col("i"), col("xn").as("cn"),
        lit(0L).as("n"))
    for (_ <- 1 to LloydIters) {
      val dist = exn.join(broadcast(cent.select("k", "i", "cn")), Seq("i"))
        .withColumn("en", round((col("xd") - col("cn") / 1e9)
          * (col("xd") - col("cn") / 1e9) * 1e9).cast("long"))
        .groupBy(col("vec_id"), col("k"))
        .agg(sum(col("en")).as("dn"))
      val asg = dist.groupBy(col("vec_id"))
        .agg(min(struct(col("dn"), col("k"))).as("best"))
        .select(col("vec_id"), col("best.k").as("k"))
      val sums = exn.join(asg, "vec_id")
        .groupBy(col("k"), col("i"))
        .agg(sum(col("xn")).as("sn"), count(lit(1)).as("n"))
      cent = cent.select(col("k"), col("i"), col("cn").as("cn_prev"))
        .join(sums, Seq("k", "i"), "left")
        .select(col("k"), col("i"),
          // sn div n: Spark `div` TRUNCATES toward zero (Java long
          // division); components go negative, so the oracle must spell
          // trunc explicitly (DuckDB `//` floors): -((-sn) // n)
          when(col("n").isNull, col("cn_prev"))
            .otherwise(expr("sn div n")).as("cn"),
          coalesce(col("n"), lit(0L)).as("n"))
        // referenced twice next iteration (distance join + fallback) —
        // checkpoint or the whole preceding chain recomputes per reference
        .transform(graft.Staging.checkpoint)
    }
    cent
  }

  /** q143's IVF candidate stage: (q_id, vec_id) pairs the composed
    * pipeline ADC-scores — each of the 3 queries probes its NProbe=2
    * nearest coarse cells and meets only vectors ASSIGNED (rk=1) to
    * those cells. The coarse quantizer is q129's Lloyd-TRAINED codebook
    * (not the per-label centroids: labels don't track cosine geometry in
    * this corpus — measured cell-recall 0.07 label-cells vs 0.90
    * trained-cells at nprobe=2). Vectors are unit-norm so the trainer's
    * integer L2 ordering IS cosine ordering. Public so IvfPqSpec can
    * assert the measured scan fraction vs the full corpus. Unique per
    * (q_id, vec_id) by construction: assignment is rk=1-unique and a
    * query's probe cells are distinct. */
  val AnnQueries = 3
  val AnnProbes = 2

  /** (vec_id, k, rk): every vector's integer-L2 rank over the trained
    * cells — rk=1 is the IVF assignment, rk<=nprobe a query's probe set.
    * One ranked pass serves corpus assignment, query probes, AND q150's
    * staged index build; registry-cached. */
  def cellRanked(s: SparkSession, d: String): DataFrame =
    cellRankedOn(s, d, lloydCentroids(s, d), None)

  /** cellRanked against an explicit centroid frame, optionally ranking
    * only a subset of vectors (q151 ranks the delta alone at admission
    * time — assignment work proportional to the delta, not the corpus). */
  private def cellRankedOn(s: SparkSession, d: String, cent: DataFrame,
      only: Option[Column]): DataFrame = {
    // a subset ranking (q151 delta admission / query probes) explodes its
    // OWN filtered scan — vec_id filter below the explode, so per-vector
    // assignment work is proportional to the subset, not the corpus; the
    // full ranking explodes the whole corpus
    val exn = only match {
      case None => exnFrame(s, d)
      case Some(p) => t(s, d, "embeddings").filter(p)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"), col("x").cast("double").as("xd"),
          round(col("x").cast("double") * 1e9).cast("long").as("xn"))
    }
    exn.join(broadcast(cent.select("k", "i", "cn")), Seq("i"))
      .withColumn("en", round((col("xd") - col("cn") / 1e9)
        * (col("xd") - col("cn") / 1e9) * 1e9).cast("long"))
      .groupBy(col("vec_id"), col("k"))
      .agg(sum(col("en")).as("dn"))
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(col("dn"), col("k"))))
      .select(col("vec_id"), col("k"), col("rk"))
      .transform(graft.CacheRegistry.cached)
  }

  /** A query's probe set: its AnnProbes nearest trained cells. */
  private def probeCells(s: SparkSession, d: String): DataFrame =
    cellRanked(s, d)
      .filter(col("vec_id") < AnnQueries && col("rk") <= AnnProbes)
      .select(col("vec_id").as("q_id"), col("k").as("cell"))

  def ivfCandidates(s: SparkSession, d: String): DataFrame = {
    val assigned = cellRanked(s, d).filter(col("rk") === 1)
      .select(col("vec_id"), col("k").as("cell"))
    probeCells(s, d).join(assigned, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
  }

  /** The shared tail of q143/q150: per-query PQ shortlist of 25 by exact
    * integer ADC distance, float payloads joined back for only those
    * rows, exact-cosine rerank to the top-10. */
  private def shortlistRerank(e: DataFrame, approx: DataFrame): DataFrame = {
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("ad_nano"), col("vec_id"))
    val shortl = approx
      .withColumn("ad_rn", row_number().over(wShort).cast("long"))
      .filter(col("ad_rn") <= 25)
    val rer = shortl
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")),
        "q_id")
      .join(e.select(col("vec_id"), col("embedding").as("ve")), "vec_id")
      .withColumn("cos", expr("cosine_sim(qe, ve)"))
    val wFin = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    rer.withColumn("rn", row_number().over(wFin).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id"), col("ad_rn"),
        r6(col("cos")).as("cos6"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** q150's stage root for corpus `d` (shared Staging discipline). */
  def annStageDir(d: String): String = graft.Staging.dirFor("ann", d)

  /** q151's stage root — separate namespace from q150: the incremental
    * index is trained on the BASE corpus only, so its cells/codes differ
    * from the full-corpus index and the two must never share files. */
  def annIncStageDir(d: String): String = graft.Staging.dirFor("ann-inc", d)

  /** q151's delta split of the embeddings corpus — vec_id ≡ 4 (mod 5) is
    * the arriving batch, everything else the already-indexed base (the
    * q78 DeltaMod/DeltaRem convention applied to vectors). */
  val AnnDeltaMod = 5
  val AnnDeltaRem = 4
  def isBaseVec: Column = (col("vec_id") % AnnDeltaMod) =!= AnnDeltaRem

  /** Seed/codebook id bounds for the base-trained index: {0..9} minus the
    * delta ids is exactly LloydK=8 seeds, {0..19} minus the delta ids
    * exactly the 16 PQ codebook vectors — closed forms both engines
    * express as `vec_id < bound AND vec_id % 5 != 4`. */
  val AnnIncSeedBound = 10
  val AnnIncCbBound = 20

  /** q151's base-trained centroid frame (Lloyd over base vectors only). */
  private def annIncCentroids(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "ann-lloyd-inc", d) {
      lloydCentroidsOn(s, d, Some(isBaseVec),
        col("vec_id") < AnnIncSeedBound)
    }

  private def annIncCbPred: Column =
    col("vec_id") < AnnIncCbBound && isBaseVec

  /** (vec_id, m, k, cell) for the subset of the corpus `pred` selects,
    * assigned/encoded against the base-trained cells and codebook — the
    * shared frame of the q151 build (pred = base) and admission (pred =
    * delta). Package-private so AnnDeltaSpec can pin the admission plan
    * shape (vec_id filter BELOW the explode: per-vector work touches
    * only the selected subset). */
  private[operators] def annIncCodesWithCells(s: SparkSession, d: String,
      pred: Column): DataFrame = {
    val (codes, _) = pqCodesAndAdcOn(s, d, Some(pred), annIncCbPred)
    val asg = cellRankedOn(s, d, annIncCentroids(s, d), Some(pred))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("k").as("cell"))
    codes.join(asg, "vec_id")
  }

  /** q151 step 1: materialize the BASE index (codes + cell assignment,
    * parquet partitioned by cell), single-flight; overwrite on rebuild so
    * an invalidated index can never double-admit its old delta files. */
  def annIncBuild(s: SparkSession, d: String): Unit = {
    val stage = annIncStageDir(d)
    graft.Staging.once(s"$stage/codes@base") {
      annIncCodesWithCells(s, d, isBaseVec)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$stage/codes")
    }
  }

  /** q151 step 2: admit the DELTA — assign to the existing trained cells,
    * encode with the existing codebook, APPEND into the matching cell=
    * partitions. No retrain, no rewrite of base files. `onceAppend`, not
    * `once`: an append step needs the pre-append manifest so a writer
    * crash between append and marker rolls back instead of double-
    * admitting on retry (StageCrashSpec). */
  def annIncAdmit(s: SparkSession, d: String): Unit = {
    val stage = annIncStageDir(d)
    graft.Staging.onceAppend(s"$stage/codes@delta", Seq(s"$stage/codes")) {
      annIncCodesWithCells(s, d, !isBaseVec)
        .write.mode("append").partitionBy("cell")
        .parquet(s"$stage/codes")
    }
  }

  /** Full-corpus PQ ADC distances (q_id, vec_id, ad_nano) — q100/q127's
    * stage 1: every query scores every encoded vector. */
  private def pqApproxDistances(s: SparkSession, d: String): DataFrame = {
    val (codes, adc) = pqCodesAndAdc(s, d)
    codes.join(broadcast(adc), Seq("m", "k"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dn")).as("ad_nano")) // 4 longs per pair — exact
      .where(col("vec_id") =!= col("q_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q255_rbo_agreement" -> ((s, d) => {
      // Rank-Biased Overlap (Webber et al.) between the suite's two
      // retrieval legs — the DIAGNOSTIC beside q165's fusion: RRF
      // combines the lexical and dense lists, RBO measures how much
      // they agree, which is what decides whether hybrid search is
      // worth its cost (two highly-correlated rankers fuse to nothing).
      // Both legs are the SAME shared definitions q165 consumes
      // (bm25Ranked / the q70 cosine shape at bm25QueryIds — agreement
      // can never drift from the fusion it explains). Truncated RBO at
      // depth 10, p = 0.9, regrouped per matched doc: a doc at ranks
      // (ra, rb) in the two lists contributes the weight TAIL
      // W(max(ra,rb)), W(m) = Σ_{d=m}^{10} (1−p)·p^(d−1)/d — computed
      // once in Scala and embedded as identical nanounit literals in
      // both engines (the q246/q247 constant discipline: pow on data is
      // never cross-engine-safe, a closed-form literal is), so
      // rbo_nano is an exact BIGINT over ≤10 matched docs per query.
      // The fixture verdict is the honest extreme: RBO = 0 on every
      // query — the synthetic embeddings carry no relation to the
      // text, the rankers are independent, and the diagnostic reads
      // "maximum diversity: fusion changes everything" — the exact
      // complement of q165's rationale.
      val p = 0.9
      val wTail = (1 to 10).map(m => math.round(
        (m to 10).map(dd => (1 - p) * math.pow(p, dd - 1) / dd).sum * 1e9))
      val lex = TextAnalysis.bm25RankedServed(s, d)
        .select(col("query_id").cast("long").as("query_id"),
          col("doc_id"), col("rk").as("lex_rk"))
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id").isin(TextAnalysis.bm25QueryIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val wd = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("doc_id"))
      val dense = broadcast(qv).crossJoin(e)
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("doc_id", col("vec_id"))
        .withColumn("dense_rk", row_number().over(wd).cast("long"))
        .filter(col("dense_rk") <= 10)
        .select(col("query_id"), col("doc_id"), col("dense_rk"))
      val matched = lex.join(dense, Seq("query_id", "doc_id"))
        .withColumn("m", greatest(col("lex_rk"), col("dense_rk")))
        .withColumn("w_nano",
          element_at(array(wTail.map(lit): _*), col("m").cast("int")))
      val per = matched.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_common"), sum(col("w_nano")).as("rbo_nano"))
      lex.select(col("query_id")).distinct()
        .join(per, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          coalesce(col("rbo_nano"), lit(0L)).as("rbo_nano"))
        .orderBy("query_id")
    }),

    "q239_int8_norm_recall" -> ((s, d) => {
      // q238's FIX, shipped as its didactic twin (the q211 discipline):
      // L2-normalize BEFORE quantizing. q238 measures 0.5–0.9 recall@10
      // because per-vector absmax quantization preserves DOT rank while
      // the ground truth ranks by COSINE — magnitude leaks into the
      // score. On unit vectors dot IS cosine, so after dividing by the
      // exact double L2 norm (the same sequential-fold sum the q70
      // cosine pair already proves engine-identical) the only rank
      // error left is 8-bit quantization noise. Same skeleton as q238
      // — broadcast queries, one corpus pass, exact BIGINT dots —
      // and Int8RecallSpec pins the claim: q239's total overlap ≥
      // q238's on the fixture corpus.
      val e = t(s, d, "embeddings")
        .withColumn("nrm", expr(
          "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) " +
            "* CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), " +
            "(acc, x) -> acc + x))"))
        .withColumn("q8", expr(
          "CASE WHEN nrm = 0 THEN transform(embedding, x -> 0L) " +
            "ELSE transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            "/ nrm * 127.0 + 0.5) AS BIGINT)) END"))
        .select(col("vec_id"), col("embedding"), col("q8"))
        .transform(graft.CacheRegistry.cached)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("q8").as("qq8"))
      val joined = broadcast(q).crossJoin(e)
        .where(col("vec_id") =!= col("q_id"))
      val w = Window.partitionBy(col("q_id"))
      val fl = joined
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"))
      val i8 = joined
        .withColumn("dot8", expr(
          "aggregate(zip_with(qq8, q8, (x, y) -> x * y), 0L, " +
            "(acc, x) -> acc + x)"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("dot8").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select(col("q_id").as("k_q"), col("vec_id").as("k_v"))
      val ov = fl.join(i8,
          col("q_id") === col("k_q") && col("vec_id") === col("k_v"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("ov"))
      q.select(col("q_id"))
        .join(ov, Seq("q_id"), "left_outer")
        .withColumn("n_overlap", coalesce(col("ov"), lit(0L)))
        .select(col("q_id"), col("n_overlap"),
          (col("n_overlap") * 1000).as("recall_bp"))
        .orderBy("q_id")
    }),

    "q238_int8_recall" -> ((s, d) => {
      // int8 quantization RECALL harness — the evaluation that decides
      // whether q35's 4× compression is deployable: for each query,
      // exact float-cosine top-10 (the q70 ground truth, same
      // cosine_sim expression) vs top-10 by INTEGER int8 dot product
      // over the quantized vectors, and the overlap is the measured
      // recall@10. The int8 path is the production scorer being
      // certified: per-vector absmax scale (q35's exact floor(x/s+0.5)
      // spelling), zip_with products and an aggregate fold — all
      // BIGINT, so the candidate ranking is exact in any layout and
      // at most 64·127² per dot (no overflow, no float drift). Both
      // rankings share the broadcast-query one-pass corpus scan and
      // bounded per-query windows; the final join of two 10-row-per-
      // query frames is trivial. At 100 TB this harness rides a
      // sampled query set — the corpus side still never shuffles.
      val e = t(s, d, "embeddings")
        .withColumn("amax", expr(
          "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("q8", expr(
          "CASE WHEN amax = 0 THEN transform(embedding, x -> 0L) " +
            "ELSE transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            "/ (amax / 127.0) + 0.5) AS BIGINT)) END"))
        .select(col("vec_id"), col("embedding"), col("q8"))
        .transform(graft.CacheRegistry.cached)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("q8").as("qq8"))
      val joined = broadcast(q).crossJoin(e)
        .where(col("vec_id") =!= col("q_id"))
      val w = Window.partitionBy(col("q_id"))
      val fl = joined
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"))
      val i8 = joined
        .withColumn("dot8", expr(
          "aggregate(zip_with(qq8, q8, (x, y) -> x * y), 0L, " +
            "(acc, x) -> acc + x)"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("dot8").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select(col("q_id").as("k_q"), col("vec_id").as("k_v"))
      val ov = fl.join(i8,
          col("q_id") === col("k_q") && col("vec_id") === col("k_v"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("ov"))
      q.select(col("q_id"))
        .join(ov, Seq("q_id"), "left_outer")
        .withColumn("n_overlap", coalesce(col("ov"), lit(0L)))
        .select(col("q_id"), col("n_overlap"),
          (col("n_overlap") * 1000).as("recall_bp"))
        .orderBy("q_id")
    }),

    "q228_embedding_pool" -> ((s, d) => {
      // Chunk→document embedding POOLING — the aggregation step between
      // per-chunk encoding (q214/q215's chunk tables) and doc-level
      // retrieval: vectors pool in groups of 4 (vec_id div 4 stands in
      // for the chunk→doc mapping) by element-wise mean. Float sums are
      // NOT associative, so the mean would be cluster-layout-dependent
      // — instead each float element quantizes to integer MICROunits
      // first (float→double widening is exact; one deterministic round
      // per element), integer sums are exact in any order, and the mean
      // divides with the q140 sign-split (Spark div truncates toward
      // zero, DuckDB // floors — they disagree exactly on the negative
      // components embeddings carry). Emitted long-form (pool, dim)
      // rows; the L2-normalize a serving stack would fuse on top is one
      // more quantized map (the q35 int8 discipline). One explode + one
      // map-side-combinable groupBy; ~24 bytes per (pool, dim) cross
      // the exchange, never vectors.
      t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim0", "v")))
        .select(expr("vec_id div 4").as("pool_id"),
          (col("dim0") + 1).cast("long").as("dim"),
          expr("CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)")
            .as("micro"))
        .groupBy(col("pool_id"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("micro")).as("sum_micro"))
        .withColumn("mean_nano", expr(
          """CAST(CASE WHEN sum_micro >= 0
            |     THEN (sum_micro * 1000) div n
            |     ELSE -((-sum_micro * 1000) div n) END AS BIGINT)"""
            .stripMargin))
        .select(col("pool_id"), col("dim"), col("n"), col("sum_micro"),
          col("mean_nano"))
        .orderBy("pool_id", "dim")
    }),

    "q35_embed_quantize" -> ((s, d) => {
      // int8 symmetric quantization — the storage-compression step before
      // ANN indexing (4x smaller vectors, SIMD-friendly int8 dot
      // products): per-vector absmax scale, q = round(x/scale) in
      // [-127,127], spelled floor(x/scale + 0.5) so both engines round
      // identically. The reconstruction-error metric is the repo's
      // scaled-integer idiom end to end: per-element error quantized to
      // nano-units BEFORE summing, so the per-vector SSE is an exact
      // BIGINT (order-independent — a double sum would differ in the
      // last ulp between partial-sum orders, i.e. between cluster
      // layouts). posexplode + groupBy keeps every step codegen-friendly;
      // no per-element lambda in the hot path.
      val ex = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("x").cast("double").as("xd"))
        // referenced under the amax aggregate AND as the join probe —
        // different exchange shapes, so ReuseExchange can't deduplicate
        // the scan+explode; persist or it computes twice
        .transform(graft.CacheRegistry.cached)
      val am = ex.groupBy(col("vec_id"))
        .agg(max(abs(col("xd"))).as("amax"), count(lit(1)).as("n_dims"))
      ex.join(am, "vec_id")
        .withColumn("qv", when(col("amax") === 0, lit(0L))
          .otherwise(floor(col("xd") / (col("amax") / lit(127.0)) + lit(0.5))
            .cast("long")))
        .withColumn("en",
          round((col("xd") - col("qv") * (col("amax") / lit(127.0))) * 1e9)
            .cast("long"))
        .groupBy(col("vec_id"))
        .agg(first(col("n_dims")).as("n_dims"),
          (round(first(col("amax")) * 1e6) / 1e6).as("amax6"),
          sum(col("en") * col("en")).as("sse_nano2"))
        .orderBy("vec_id")
    }),

    "q70_knn_brute" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val scored = broadcast(q).crossJoin(e)
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"), r6(col("cos")).as("cos6"), col("rn"))
        .orderBy("q_id", "rn")
    }),

    "q71_ann_lsh" -> ((s, d) =>
      lshScoredPairs(s, d)
        .select(col("i"), col("j"), r6(col("cos")).as("cos6"))
        .orderBy("i", "j")),

    "q119_hard_negatives" -> ((s, d) => {
      // hard-negative mining — the batch-construction step of contrastive
      // embedding training: for each anchor, the top-k most-similar vectors
      // with a DIFFERENT label (the negatives nearest the decision boundary,
      // where the gradient signal lives). Same distributed shape as q70's
      // kNN: tiny anchor side broadcast, one pruned scan of the corpus side,
      // per-anchor top-k as a bounded window. The label-inequality predicate
      // rides the broadcast join, so mining costs exactly one kNN pass — at
      // 100 TB the corpus side never shuffles and the anchor batch scales to
      // thousands of rows before the broadcast stops fitting.
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("q_label"))
      val scored = broadcast(q).crossJoin(e)
        .where(col("label") =!= col("q_label"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("q_label").cast("long").as("q_label"),
          col("vec_id"), col("label").cast("long").as("neg_label"),
          r6(col("cos")).as("cos6"), col("rn"))
        .orderBy("q_id", "rn")
    }),

    "q74_embed_dedup" -> ((s, d) => {
      // embedding-cosine near-dup DEDUP (vs q71's pair search): the
      // standard min-id-representative rule — a vector is a duplicate iff
      // it has a smaller-id near-neighbor; its keeper is the smallest such
      // neighbor. Same LSH-bucketed candidate generation (never n²), one
      // extra window over the verified pairs. Transitive-closure dedup
      // (connected components) needs iteration; min-id-greedy is the
      // single-pass rule web-scale pipelines actually run.
      val w = Window.partitionBy(col("j")).orderBy(col("i"))
      lshScoredPairs(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("j").as("dup_id"), col("i").as("keeper_id"),
          r6(col("cos")).as("cos6"))
        .orderBy("dup_id")
    }),

    "q110_semantic_dedup" -> ((s, d) => {
      // SemDeDup (Abbas et al., 2023): semantic dedup via CLUSTER-
      // restricted pairwise cosine — the embedding-space answer to "these
      // two documents say the same thing in different words", which no
      // lexical gate (q60-q69, q109) can see. Assign every vector to its
      // nearest coarse centroid (broadcast codebook — the first SemK
      // vectors, the externally-trained stand-in q73/q100 use), then
      // verify pairs ONLY within a cell and keep the min-id survivor
      // (q74's single-pass rule standing in for the paper's random-keep:
      // deterministic, so oracle-checkable). vs q74: LSH buckets catch
      // pairs by random-hyperplane agreement; SemDeDup's cells make the
      // complementary trade — candidates follow the data's own cluster
      // structure, and pairs split across cells are deliberately out of
      // scope (the paper's documented recall trade-off). Scale shape: the
      // codebook broadcasts (KB), assignment is one map-side pass + one
      // tiny row_number window per vector, and the self-join meets on
      // `cell` — with K ~ √n cells the expected within-cell pair count
      // stays near-linear, and ids-only candidates keep the 64-float
      // payloads out of the shuffle (joined back once per candidate).
      val e = t(s, d, "embeddings")
      val asg = semAssign(s, d, probes = 1, k = SemK)
      val cand = asg.select(col("cell"), col("vec_id").as("i"))
        .join(asg.select(col("cell"), col("vec_id").as("j")), Seq("cell"))
        .where(col("i") < col("j"))
      val pairs = cand
        .join(e.select(col("vec_id").as("i"), col("embedding").as("ea")), "i")
        .join(e.select(col("vec_id").as("j"), col("embedding").as("eb")), "j")
        .withColumn("cos", expr("cosine_sim(ea, eb)"))
        .filter(col("cos") >= CosThreshold)
      pairs
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("j")).orderBy(col("i"))))
        .filter(col("rn") === 1)
        .select(col("j").as("dup_id"), col("i").as("keeper_id"),
          col("cell"), r6(col("cos")).as("cos6"))
        .orderBy("dup_id")
    }),

    "q115_semantic_multiprobe" -> ((s, d) => {
      // q110's documented recall gap, closed: SemDeDup misses a near-dup
      // pair whose members straddle a cell boundary (the spec pins one).
      // Multi-probe assignment — each vector joins its top-SemProbes
      // nearest cells, the standard IVF/LSH multi-probe move — catches
      // any pair whose probe sets intersect, at a bounded cost multiple:
      // candidate volume grows by at most probes² per cell pair, and the
      // exact-cosine verify is unchanged. Candidates stay ids-only and
      // are distinct'd BEFORE the payload join, so a pair meeting in two
      // shared cells is verified once, not twice. Cell ids are dropped
      // from the output (a pair no longer belongs to one cell); keeper
      // rule and threshold are q110's. Invariant vs q110: the candidate
      // set is a strict superset (rk=1 cells are probed too), so q115's
      // dup_id set contains q110's and, per shared dup_id, its keeper_id
      // is <= q110's (more verified neighbors can only lower the min).
      semanticPairs(s, d, probes = SemProbes)
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("j")).orderBy(col("i"))))
        .filter(col("rn") === 1)
        .select(col("j").as("dup_id"), col("i").as("keeper_id"),
          r6(col("cos")).as("cos6"))
        .orderBy("dup_id")
    }),

    "q73_ivf_knn" -> ((s, d) => {
      // IVF-style ANN: coarse quantizer = per-label centroids (an
      // externally-trained partition, like a trained IVF codebook), search
      // only within the query's cell (nprobe=1). At corpus scale the cell
      // assignment shards the index so a query touches 1/k of the vectors.
      // Centroids are cast to float so both engines see identical codebook
      // values (double avg noise is far below float resolution).
      val e = t(s, d, "embeddings")
      val cents = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          p => p.getField("m").cast("float")).as("centroid"))
        .select(col("label").as("clabel"), col("centroid"))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("ccos", expr("cosine_sim(embedding, centroid)"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("clabel"))))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("embedding"), col("clabel").as("cell"))
        // referenced as BOTH join sides (broadcast query + probe), which
        // defeats exchange reuse — persist or the centroid scoring and
        // rank window compute twice
        .transform(graft.CacheRegistry.cached)
      val q = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("cell"))
      val scored = broadcast(q).join(assigned, "cell")
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      scored.withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("cell"), col("vec_id"),
          r6(col("cos")).as("cos6"), col("rn"))
        .orderBy("q_id", "rn")
    }),

    "q100_pq_ann" -> ((s, d) => {
      // Product quantization ANN — the third quantized-ANN leg after int8
      // (q35) and IVF (q73): vectors split into M=4 subspaces of 16 dims;
      // each subvector encoded as the nearest of K=16 codebook entries, so
      // a 64-float vector compresses to 4 bytes and query scoring is ADC
      // (asymmetric distance computation): a per-query 4×16 lookup table,
      // approx_dist = Σ_m table[m][code_m]. At corpus scale the encoded
      // table is ~64× smaller than the vectors and scoring never touches
      // floats — the memory-bound scan PQ exists for. The codebook here is
      // the first K vectors (externally-trained stand-in, the q73 move);
      // every distance is quantized to integer nano-units per element
      // BEFORE summing (the q35 idiom), so encode and scoring are exact
      // longs — bit-identical across any partitioning and vs the oracle.
      val approx = pqApproxDistances(s, d)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("ad_nano"), col("vec_id"))
      approx.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"), col("ad_nano"), col("rn"))
        .orderBy("q_id", "rn")
    }),

    "q327_pq_trained" -> ((s, d) => {
      // TRAINED PQ codebooks — closing q100/q127/q143's documented
      // first-K-vectors stand-in (round-12 verdict #4): per-subspace
      // Lloyd (M=4 × K=16, q129's integer-exact arithmetic verbatim —
      // exact nano-unit distances, trunc division, empty-cell carry),
      // INITIALIZED from the stand-in itself, so every Lloyd step
      // monotonically reduces the subspace quantization MSE the ADC
      // approximation inherits — IvfPqSpec pins that strictly (31%
      // lower at sf0.01, all 64 codes in use, no collapse). HONEST
      // VERDICT on recall, measured on BOTH corpus shapes: on the
      // fixture embeddings (isotropic md5-derived unit vectors — no
      // structure to learn) recall@10 is 0.333 stand-in vs 0.233
      // trained: data-point anchors act as a locality-sensitive net
      // where a lower-MSE codebook has nothing to spend precision on.
      // On a PLANTED-cluster corpus (400×10, IvfPqSpec) both tie at
      // 0.9 — coarse cluster geometry is preserved by either, so
      // training never loses once structure exists. The spec pins the
      // trainable guarantee (strict MSE), the never-loses-on-structure
      // result, and reports every number. Output is the
      // q100 shape (top-10 per query by trained-ADC integer distance) —
      // the oracle unrolls all three per-subspace Lloyd steps as CTEs
      // (the q129 discipline with an m dimension). At 100 TB training
      // cost is one-time and amortized (the q150 staging story);
      // serving stays 4-byte codes + a broadcast 4×16 table per query.
      pqTrainedApprox(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("ad_nano"), col("vec_id"))).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"), col("ad_nano"), col("rn"))
        .orderBy("q_id", "rn")
    }),

    "q127_ann_rerank" -> ((s, d) => {
      // Two-stage retrieval — the production ANN deployment shape (IVF/PQ
      // papers' "search then rerank", every vector DB's default): stage 1
      // scores the WHOLE corpus with q100's 4-byte PQ codes and integer
      // ADC (memory-bound, never touches floats), keeps a per-query
      // shortlist of 25; stage 2 joins the full 64-float payloads back
      // for ONLY those 25 and reranks by exact cosine to the final 10.
      // At 100 TB the exact-distance work is O(queries × shortlist), not
      // O(queries × corpus) — the float vectors stay in cold storage and
      // only shortlist rows are ever fetched. ad_rn (the PQ rank) rides
      // along so the output shows the reorder the rerank exists for.
      val Shortlist = 25
      val wShort = Window.partitionBy(col("q_id"))
        .orderBy(col("ad_nano"), col("vec_id"))
      val shortl = pqApproxDistances(s, d)
        .withColumn("ad_rn", row_number().over(wShort).cast("long"))
        .filter(col("ad_rn") <= Shortlist)
      val e = t(s, d, "embeddings")
      val rer = shortl
        .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")),
          "q_id")
        .join(e.select(col("vec_id"), col("embedding").as("ve")), "vec_id")
        .withColumn("cos", expr("cosine_sim(qe, ve)"))
      val wFin = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      rer.withColumn("rn", row_number().over(wFin).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"), col("ad_rn"),
          r6(col("cos")).as("cos6"), col("rn"))
        .orderBy("q_id", "rn")
    }),

    "q143_ivf_pq_rerank" -> ((s, d) => {
      // The COMPOSED ANN serving pipeline — q129's TRAINED coarse cells
      // + q100's PQ codes + q127's exact rerank chained into the actual
      // 100 TB shape (IVF-PQ proper). q127 fixed the exact-distance cost
      // at O(queries×shortlist) but still ADC-scanned the WHOLE corpus
      // per query; here the coarse quantizer bounds the ADC stage too:
      // each query probes its nprobe=2 nearest of the 8 Lloyd-trained
      // cells and ADC-scores only vectors ASSIGNED to those cells —
      // measured ~25% of the corpus, with measured recall vs brute force
      // BETTER than q127's full ADC scan (0.50 vs 0.40 at sf0.001: the
      // shortlist competes against 4× fewer PQ-noise candidates), both
      // pinned by IvfPqSpec. At 10⁹ vectors this is the difference
      // between a linear scan per query and touching only probed shards:
      // the PQ codes live partitioned BY CELL (q130's layout), so a
      // query reads nprobe partitions of 4-byte codes and exactly
      // `shortlist` full vectors. Index build (train + encode) stays
      // one-time and amortized. Everything stays integer-exact: cell
      // assignment rides the trainer's integer L2 distances (unit-norm
      // vectors make that cosine ordering), ADC is the q35 nano-unit
      // idiom — so shortlist AND result are bit-identical vs the
      // oracle's unrolled SQL.
      val cand = ivfCandidates(s, d)
      val (codes, adc) = pqCodesAndAdc(s, d)
      // ADC restricted to candidates: the join on vec_id fans each
      // candidate out to its M=4 codes; the broadcast 4×16-per-query
      // table turns them into an exact integer distance.
      val approx = cand.join(codes, "vec_id")
        .join(broadcast(adc), Seq("q_id", "m", "k"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("dn")).as("ad_nano"))
      shortlistRerank(t(s, d, "embeddings"), approx)
    }),

    "q150_staged_ann" -> ((s, d) => {
      // The DEPLOYMENT form of q143 — the q105 staging discipline applied
      // to ANN serving: the index (4-byte PQ codes + cell assignment) is
      // MATERIALIZED once per corpus, parquet partitioned BY CELL, and
      // queries are served from the staged files — probe cells join
      // against the cell-partitioned read, so at cluster scale a query
      // touches only its nprobe cell partitions of codes (the layout
      // q143's scaladoc promises; here it physically exists). Build is
      // single-flight memoized (Staging.once): bench reps, repeated
      // lookups and plan inspections re-stage nothing. Results are
      // bit-identical to q143 by construction (same assignment, same ADC
      // sums, same rerank) — it shares q143's oracle verbatim, and
      // IvfPqSpec pins the equality plus the staged-serving plan shape.
      val stage = annStageDir(d)
      graft.Staging.once(stage) {
        val (codes, _) = pqCodesAndAdc(s, d)
        val asg = cellRanked(s, d).filter(col("rk") === 1)
          .select(col("vec_id"), col("k").as("cell"))
        codes.join(asg, "vec_id")
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$stage/codes")
      }
      val staged = s.read.parquet(s"$stage/codes")
      val (_, adc) = pqCodesAndAdc(s, d)
      val approx = broadcast(probeCells(s, d)).join(staged, "cell")
        .where(col("vec_id") =!= col("q_id"))
        .join(broadcast(adc), Seq("q_id", "m", "k"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("dn")).as("ad_nano"))
      shortlistRerank(t(s, d, "embeddings"), approx)
    }),

    "q151_ann_delta" -> ((s, d) => {
      // Incrementally-MAINTAINED ANN index — the q78 admission discipline
      // applied to q150's staged serving. The index is trained on the
      // BASE corpus alone (Lloyd cells from base seeds, PQ codebook from
      // the first 16 base vectors) and staged cell-partitioned; when the
      // delta batch (vec_id ≡ 4 mod 5) arrives it is assigned to the
      // EXISTING trained cells and encoded with the EXISTING codebook —
      // no retrain, no rewrite — and its codes are APPENDED into the
      // matching cell= partitions. Queries then see old+new from one
      // cell-partitioned read. Admission cost is proportional to the
      // DELTA: the encode/assign subtrees filter vec_id before the
      // explode, so per-vector work never touches the base (AnnDeltaSpec
      // pins the plan shape and that delta files append without
      // rewriting a single base file). Under a durable stage root
      // (-Dgraft.stage.dir) both steps survive JVM restarts via
      // Staging's marker files — the 100 TB contract: an index is built
      // once, maintained by deltas, and outlives every driver.
      annIncBuild(s, d)
      annIncAdmit(s, d)
      // serving = q150's tail: probes and ADC tables are per-QUERY work
      // (3 vectors), the staged read is the only corpus-sized input
      val staged = s.read.parquet(s"${annIncStageDir(d)}/codes")
      val cent = annIncCentroids(s, d)
      val queriesOnly = Some(col("vec_id") < AnnQueries)
      val probes = cellRankedOn(s, d, cent, queriesOnly)
        .filter(col("rk") <= AnnProbes)
        .select(col("vec_id").as("q_id"), col("k").as("cell"))
      val (_, adc) = pqCodesAndAdcOn(s, d, queriesOnly, annIncCbPred)
      val approx = broadcast(probes).join(staged, "cell")
        .where(col("vec_id") =!= col("q_id"))
        .join(broadcast(adc), Seq("q_id", "m", "k"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("dn")).as("ad_nano"))
      shortlistRerank(t(s, d, "embeddings"), approx)
    }),

    "q165_rrf_fusion" -> ((s, d) => {
      // Hybrid retrieval fusion — the step that joins the suite's two
      // retrieval halves into the shape RAG / search stacks actually
      // serve: q153's lexical BM25 ranking and a dense cosine ranking
      // (q70's brute-kNN shape, query vector = the embedding with
      // vec_id == query_id) fused with Reciprocal Rank Fusion
      // (Cormack et al., 2009): score(d) = Σ_lists 1/(60 + rank_list(d)).
      // Arithmetic parity: each contribution is the exact integer
      // div(1e9, 60 + rk) — no doubles anywhere in the fusion, so the
      // fused score is an exact BIGINT in any join/aggregation order and
      // the final ordering (rrf desc, doc_id) is deterministic in both
      // engines. Distributed shape: both legs end at 10 rows per query,
      // so the fusion's full-outer join and final rank run on
      // O(queries × k) rows — driver-free, broadcast-sized, while each
      // leg keeps its own scale story (posting-bounded candidates /
      // one broadcast-kNN corpus pass). A missing rank contributes 0 —
      // the standard RRF treatment of a doc absent from one list.
      // the lexical leg is the staged served list (one scoring pass for
      // q153/q165/q255 — the bm25-ranked frame at bm25RankedServed)
      val lex = TextAnalysis.bm25RankedServed(s, d)
        .select(col("query_id"), col("doc_id"), col("rk").as("lex_rk"))
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id").isin(TextAnalysis.bm25QueryIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val wd = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("doc_id"))
      val dense = broadcast(qv).crossJoin(e)
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("doc_id", col("vec_id"))
        .withColumn("dense_rk", row_number().over(wd).cast("long"))
        .filter(col("dense_rk") <= 10)
        .select(col("query_id"), col("doc_id"), col("dense_rk"))
      val wf = Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("doc_id"))
      lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(expr("1000000000L div (60 + lex_rk)"), lit(0L)) +
            coalesce(expr("1000000000L div (60 + dense_rk)"), lit(0L)))
        .withColumn("rk", row_number().over(wf).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("doc_id"), col("rrf"),
          col("lex_rk"), col("dense_rk"), col("rk"))
        .orderBy("query_id", "rk")
    }),

    "q170_late_interaction" -> ((s, d) => {
      // ColBERT-style late-interaction retrieval (Khattab & Zaharia,
      // 2020) — the third retrieval paradigm next to single-vector ANN
      // (q70/q143) and sparse BM25 (q153): query and document are BAGS
      // of token vectors, scored sum_{q-token} max_{d-token} sim. The
      // max-sim lets one query token match its best-aligned document
      // token — phrase/term alignment single-vector cosine averages
      // away. Token vectors here are the 8 8-dim sub-vector slices of
      // each embedding (the q100 PQ sub-space split re-used as a token
      // decomposition — deterministic, library-data-only). Shape: the
      // 24-row query token set BROADCASTS onto one corpus scan; pairs
      // for a (query, q-token, doc) group are generated inside one task,
      // so BOTH aggregations (max over d-tokens, then sum over q-tokens)
      // collapse map-side before any exchange — the shuffle carries
      // O(queries × tokens) rows per doc, never the pair explosion. The
      // per-(q-token, doc) max is quantized to integer nano-units AFTER
      // the max (identical doubles both engines), so the late-
      // interaction score is an exact BIGINT. At 100 TB this exact form
      // runs over an ANN SHORTLIST (q143's serving tail), not the
      // corpus; the operator shape — slice, broadcast, two-stage
      // max/sum — is identical either way.
      val e = t(s, d, "embeddings")
      def tokens(df: org.apache.spark.sql.DataFrame, idCol: String,
          t: String, v: String) = df
        .select(col("vec_id").as(idCol), explode(expr(
          "transform(sequence(0, 7), t -> " +
            s"named_struct('$t', CAST(t AS BIGINT), " +
            s"'$v', slice(embedding, t * 8 + 1, 8)))")).as("x"))
        .select(col(idCol), col(s"x.$t"), col(s"x.$v"))
      val qt = tokens(e.filter(
        col("vec_id").isin(TextAnalysis.bm25QueryIds: _*)), "query_id", "qt", "qv")
      val dt = tokens(e, "doc_id", "dt", "dv")
      val w = Window.partitionBy("query_id")
        .orderBy(col("li_nano").desc, col("doc_id"))
      broadcast(qt).crossJoin(dt)
        .where(col("doc_id") =!= col("query_id"))
        .withColumn("cos", expr("cosine_sim(qv, dv)"))
        .groupBy(col("query_id"), col("qt"), col("doc_id"))
        .agg(max(col("cos")).as("mx"))
        .withColumn("mxn", round(col("mx") * lit(1e9)).cast("long"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("mxn")).as("li_nano"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("doc_id"), col("li_nano"), col("rk"))
        .orderBy("query_id", "rk")
    }),

    "q129_kmeans_train" -> ((s, d) => {
      // k-means codebook TRAINING — closes the loop the quantized-ANN
      // suite leaves open: q73/q100/q110 all take their codebook as an
      // "externally-trained stand-in"; this is the trainer. Three Lloyd
      // iterations: assign every vector to its nearest centroid, recompute
      // centroids as member means, repeat. Same driver-loop-builds-plan
      // shape as q128 (no action inside); per iteration one broadcast of
      // the KB-sized codebook + one map-side-combinable sum — the corpus
      // never shuffles on anything but (vec_id) and (k, i) aggregates.
      // Arithmetic parity: components live as integer nano-units
      // (xn = round(x·1e9)); distances are the q100 idiom (per-element
      // round((xd − cn/1e9)²·1e9), exact BIGINT sums); new centroids are
      // sn div n (integer division). Every iteration is bit-exact across
      // partitionings and engines; the oracle unrolls the same 3 steps.
      // Empty clusters keep their previous centroid (the LEFT JOIN
      // fallback) — deterministic, no reseeding randomness.
      // The loop lives in lloydCentroids — shared with q143, whose coarse
      // cells are exactly this trained codebook.
      lloydCentroids(s, d)
        .select(col("k").cast("long").as("k"), col("i").cast("long").as("i"),
          col("cn"), col("n").as("n_members"))
        .orderBy("k", "i")
    }),

    "q72_centroids" -> ((s, d) =>
      // per-label centroid components — the aggregation shape of k-means /
      // class-prototype computation (long form: one row per (label, dim))
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("i"))
        .agg(r6(avg(col("x").cast("double"))).as("mean6"), count(lit(1)).as("n"))
        .orderBy("label", "i"))
  )

  /** Shared Lloyd-training CTE chain (`exn`, `cent0`..`cent{Iters}`) —
    * the oracle twin of [[lloydCentroids]], spliced into both q129 (which
    * SELECTs the codebook) and q143 (which assigns cells from it). One
    * SQL text, two consumers: the training arithmetic can never drift
    * between trainer and server. */
  private def lloydCtes: String =
    lloydCtesOn("exn", s"vec_id < $LloydK", "")

  /** q327's per-subspace Lloyd training unrolled as CTEs — the lloydCtes
    * discipline with an `m` dimension (seeds = the first-K stand-in, the
    * same trunc-division + nano-unit arithmetic both engines). */
  private def pqLloydCtes: String = {
    val step = (t: Int) => {
      val prev = s"pcent${t - 1}"
      s"""pdist$t AS (
         |  SELECT e.vec_id, e.m, c.k,
         |    CAST(sum(CAST(round((e.xd - c.cn/1e9)*(e.xd - c.cn/1e9)*1e9)
         |      AS BIGINT)) AS BIGINT) AS dn
         |  FROM exm e JOIN $prev c ON e.m = c.m AND e.im = c.im
         |  GROUP BY 1, 2, 3),
         |pasg$t AS (
         |  SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dn, k) AS rn
         |    FROM pdist$t) WHERE rn = 1),
         |psums$t AS (
         |  SELECT a.m, a.k, e.im, CAST(sum(e.xn) AS BIGINT) AS sn,
         |    count(*) AS n
         |  FROM exm e JOIN pasg$t a ON e.vec_id = a.vec_id AND e.m = a.m
         |  GROUP BY 1, 2, 3),
         |pcent$t AS (
         |  SELECT c.m, c.k, c.im,
         |    CASE WHEN s.n IS NULL THEN c.cn
         |         WHEN s.sn >= 0 THEN s.sn // s.n
         |         ELSE -((-s.sn) // s.n) END AS cn
         |  FROM $prev c LEFT JOIN psums$t s
         |    ON c.m = s.m AND c.k = s.k AND c.im = s.im)""".stripMargin
    }
    s"""exm AS (
       |  SELECT vec_id, (i-1) // 16 AS m, (i-1) % 16 AS im,
       |    CAST(embedding[i] AS DOUBLE) AS xd,
       |    CAST(round(CAST(embedding[i] AS DOUBLE)*1e9) AS BIGINT) AS xn
       |  FROM (SELECT vec_id, embedding, unnest(range(1, ${Dim + 1})) AS i
       |        FROM embeddings)),
       |pcent0 AS (
       |  SELECT m, vec_id AS k, im, xn AS cn FROM exm WHERE vec_id < $PqK),
       |${(1 to PqIters).map(step).mkString(",\n")}""".stripMargin
  }

  /** Lloyd CTE chain generalized for q151: `trainSrc` is the CTE the
    * training iterations read (q151 inserts an `exnb` base-only view via
    * `extra` and trains on it), `seedWhere` picks the cent0 seeds. The
    * final assignment/probe CTEs downstream still read the full `exn` —
    * training restriction and assignment coverage are independent, same
    * as the Spark side's lloydCentroidsOn/cellRankedOn split. */
  private def lloydCtesOn(trainSrc: String, seedWhere: String,
      extra: String): String = {
    val step = (t: Int) => {
      val prev = s"cent${t - 1}"
      s"""dist$t AS (
         |  SELECT e.vec_id, c.k,
         |    CAST(sum(CAST(round((e.xd - c.cn/1e9)*(e.xd - c.cn/1e9)*1e9)
         |      AS BIGINT)) AS BIGINT) AS dn
         |  FROM $trainSrc e JOIN $prev c ON e.i = c.i
         |  GROUP BY 1, 2),
         |asg$t AS (
         |  SELECT vec_id, k FROM (
         |    SELECT vec_id, k,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dn, k) AS rn
         |    FROM dist$t) WHERE rn = 1),
         |sums$t AS (
         |  SELECT a.k, e.i, CAST(sum(e.xn) AS BIGINT) AS sn, count(*) AS n
         |  FROM $trainSrc e JOIN asg$t a USING (vec_id) GROUP BY 1, 2),
         |cent$t AS (
         |  SELECT c.k, c.i,
         |    CASE WHEN s.n IS NULL THEN c.cn
         |         WHEN s.sn >= 0 THEN s.sn // s.n
         |         ELSE -((-s.sn) // s.n) END AS cn,
         |    coalesce(s.n, 0) AS n
         |  FROM $prev c LEFT JOIN sums$t s ON c.k = s.k AND c.i = s.i)"""
        .stripMargin
    }
    s"""exn AS (
       |  SELECT vec_id, i-1 AS i, CAST(embedding[i] AS DOUBLE) AS xd,
       |    CAST(round(CAST(embedding[i] AS DOUBLE)*1e9) AS BIGINT) AS xn
       |  FROM (SELECT vec_id, embedding, unnest(range(1, ${Dim + 1})) AS i
       |        FROM embeddings))$extra,
       |cent0 AS (
       |  SELECT vec_id AS k, i, xn AS cn FROM $trainSrc WHERE $seedWhere),
       |${(1 to LloydIters).map(step).mkString(",\n")}""".stripMargin
  }

  /** The composed IVF-PQ-rerank pipeline as unrolled SQL — one oracle
    * text shared by q143 (plan-composed form) and q150 (staged serving
    * form), which are bit-identical by construction. */
  private def ivfPqOracle: String =
    ivfPqOracleOn(lloydCtes, "vec_id < 16")

  /** q151's oracle: the SAME unrolled pipeline, with training and the PQ
    * codebook restricted to the base corpus. Encoding all vectors against
    * the base codebook in one pass is definitionally equal to the staged
    * base-encode + delta-append union the Spark side serves from. */
  private def annIncOracle: String = ivfPqOracleOn(
    lloydCtesOn("exnb", s"vec_id < $AnnIncSeedBound",
      s""",
         |exnb AS (
         |  SELECT * FROM exn
         |  WHERE vec_id % $AnnDeltaMod != $AnnDeltaRem)""".stripMargin),
    s"vec_id < $AnnIncCbBound AND vec_id % $AnnDeltaMod != $AnnDeltaRem")

  private def ivfPqOracleOn(lloyd: String, cbWhere: String): String =
    s"""WITH $lloyd,
       |celldist AS (
       |  SELECT e.vec_id, c.k,
       |    CAST(sum(CAST(round((e.xd - c.cn/1e9)*(e.xd - c.cn/1e9)*1e9)
       |      AS BIGINT)) AS BIGINT) AS dn
       |  FROM exn e JOIN cent$LloydIters c ON e.i = c.i
       |  GROUP BY 1, 2),
       |cellrk AS (
       |  SELECT vec_id, k,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dn, k) AS rk
       |  FROM celldist),
       |assigned AS (SELECT vec_id, k AS cell FROM cellrk WHERE rk = 1),
       |probes AS (SELECT vec_id AS q_id, k AS cell FROM cellrk
       |           WHERE vec_id < $AnnQueries AND rk <= $AnnProbes),
       |cand AS (
       |  SELECT p.q_id, a.vec_id FROM probes p JOIN assigned a USING (cell)
       |  WHERE a.vec_id != p.q_id),
       |ex AS (
       |  SELECT vec_id, (i-1) // 16 AS m, (i-1) % 16 AS im,
       |    CAST(embedding[i] AS DOUBLE) AS xd
       |  FROM (SELECT vec_id, embedding, unnest(range(1, ${Dim + 1})) AS i
       |        FROM embeddings)),
       |cb AS (SELECT vec_id AS k, m, im, xd AS c FROM ex WHERE $cbWhere),
       |dist AS (
       |  SELECT e.vec_id, e.m, c.k,
       |    CAST(sum(CAST(round((e.xd - c.c)*(e.xd - c.c)*1e9) AS BIGINT))
       |      AS BIGINT) AS dn
       |  FROM ex e JOIN cb c ON e.m = c.m AND e.im = c.im
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dn, k) AS rn
       |    FROM dist) WHERE rn = 1),
       |adc AS (SELECT vec_id AS q_id, m, k, dn FROM dist
       |        WHERE vec_id < $AnnQueries),
       |approx AS (
       |  SELECT cd.q_id, cd.vec_id, CAST(sum(a.dn) AS BIGINT) AS ad_nano
       |  FROM cand cd
       |  JOIN codes c ON c.vec_id = cd.vec_id
       |  JOIN adc a ON a.q_id = cd.q_id AND a.m = c.m AND a.k = c.k
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT q_id, vec_id, ad_rn FROM (
       |    SELECT q_id, vec_id,
       |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY ad_nano, vec_id)
       |        AS BIGINT) AS ad_rn
       |    FROM approx) WHERE ad_rn <= 25),
       |rer AS (
       |  SELECT q_id, s.vec_id, ad_rn,
       |    ${cosSql("eq.embedding", "ev.embedding")} AS cos
       |  FROM short s
       |  JOIN embeddings eq ON eq.vec_id = s.q_id
       |  JOIN embeddings ev ON ev.vec_id = s.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, ad_rn, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
       |      AS BIGINT) AS rn
       |  FROM rer)
       |SELECT q_id, vec_id, ad_rn, round(cos*1e6)/1e6 AS cos6, rn
       |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  val oracle: Map[String, String] = Map(

    "q255_rbo_agreement" -> {
      val p = 0.9
      val wTail = (1 to 10).map(m => math.round(
        (m to 10).map(dd => (1 - p) * math.pow(p, dd - 1) / dd).sum * 1e9))
        .mkString(", ")
      s"""WITH ${TextAnalysis.bm25CtesSql},
         |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |               rk AS lex_rk FROM ranked WHERE rk <= 10),
         |eq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |       WHERE vec_id IN (${TextAnalysis.bm25QueryIds
                  .mkString(", ")})),
         |dscored AS (
         |  SELECT query_id, vec_id AS doc_id,
         |    ${cosSql("qe", "embedding")} AS cos
         |  FROM eq CROSS JOIN embeddings WHERE vec_id != query_id),
         |dense AS (SELECT query_id, doc_id, dense_rk FROM (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, doc_id) AS BIGINT) AS dense_rk
         |  FROM dscored) WHERE dense_rk <= 10),
         |j AS (
         |  SELECT query_id, greatest(lex_rk, dense_rk) AS m
         |  FROM lex JOIN dense USING (query_id, doc_id)),
         |per AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum([$wTail][CAST(m AS INT)]) AS BIGINT) AS rbo_nano
         |  FROM j GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM lex)
         |SELECT qs.query_id,
         |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
         |  CAST(coalesce(rbo_nano, 0) AS BIGINT) AS rbo_nano
         |FROM qs LEFT JOIN per ON per.query_id = qs.query_id
         |ORDER BY qs.query_id""".stripMargin
    },
    "q239_int8_norm_recall" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN nrm = 0
         |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
         |      ELSE list_transform(embedding, x -> CAST(floor(
         |        CAST(x AS DOUBLE) / nrm * 127.0 + 0.5) AS BIGINT))
         |    END AS q8
         |  FROM e0),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, q8 AS qq8
         |      FROM e WHERE vec_id < 5),
         |j AS (SELECT q_id, vec_id, qe, embedding, qq8, q8
         |      FROM q CROSS JOIN e WHERE vec_id <> q_id),
         |fl AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${cosSql("qe", "embedding")} DESC, vec_id) AS rn
         |  FROM j) WHERE rn <= 10),
         |i8 AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY list_sum(list_transform(range(1, ${Dim + 1}),
         |      i -> qq8[i] * q8[i])) DESC, vec_id) AS rn
         |  FROM j) WHERE rn <= 10),
         |ov AS (SELECT q_id, count(*) AS n_ov
         |       FROM fl JOIN i8 USING (q_id, vec_id) GROUP BY 1)
         |SELECT q.q_id, CAST(coalesce(n_ov, 0) AS BIGINT) AS n_overlap,
         |  CAST(coalesce(n_ov, 0) * 1000 AS BIGINT) AS recall_bp
         |FROM (SELECT DISTINCT q_id FROM q) q
         |LEFT JOIN ov ON ov.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin,

    "q238_int8_recall" ->
      s"""WITH e0 AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN amax = 0
         |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
         |      ELSE list_transform(embedding, x -> CAST(floor(
         |        CAST(x AS DOUBLE) / (amax / 127.0) + 0.5) AS BIGINT))
         |    END AS q8
         |  FROM e0),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, q8 AS qq8
         |      FROM e WHERE vec_id < 5),
         |j AS (SELECT q_id, vec_id, qe, embedding, qq8, q8
         |      FROM q CROSS JOIN e WHERE vec_id <> q_id),
         |fl AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${cosSql("qe", "embedding")} DESC, vec_id) AS rn
         |  FROM j) WHERE rn <= 10),
         |i8 AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY list_sum(list_transform(range(1, ${Dim + 1}),
         |      i -> qq8[i] * q8[i])) DESC, vec_id) AS rn
         |  FROM j) WHERE rn <= 10),
         |ov AS (SELECT q_id, count(*) AS n_ov
         |       FROM fl JOIN i8 USING (q_id, vec_id) GROUP BY 1)
         |SELECT q.q_id, CAST(coalesce(n_ov, 0) AS BIGINT) AS n_overlap,
         |  CAST(coalesce(n_ov, 0) * 1000 AS BIGINT) AS recall_bp
         |FROM (SELECT DISTINCT q_id FROM q) q
         |LEFT JOIN ov ON ov.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin,

    "q228_embedding_pool" ->
      """WITH ex AS (
        |  SELECT vec_id // 4 AS pool_id,
        |    struct_extract(u, 'dim') AS dim,
        |    CAST(round(CAST(struct_extract(u, 'v') AS DOUBLE) * 1e6)
        |      AS BIGINT) AS micro
        |  FROM (
        |    SELECT vec_id, unnest(list_transform(
        |      range(1, len(embedding) + 1),
        |      i -> struct_pack(dim := i, v := embedding[i]))) AS u
        |    FROM embeddings))
        |SELECT pool_id, CAST(dim AS BIGINT) AS dim,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(micro) AS BIGINT) AS sum_micro,
        |  CAST(CASE WHEN sum(micro) >= 0
        |    THEN (sum(micro) * 1000) // count(*)
        |    ELSE -((-sum(micro) * 1000) // count(*)) END AS BIGINT)
        |    AS mean_nano
        |FROM ex GROUP BY 1, 2
        |ORDER BY pool_id, dim""".stripMargin,

    "q35_embed_quantize" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS xd
        |  FROM embeddings),
        |am AS (
        |  SELECT vec_id, max(abs(xd)) AS amax, count(*) AS n_dims
        |  FROM ex GROUP BY 1),
        |qe AS (
        |  SELECT e.vec_id, n_dims, amax,
        |    CAST(round((xd - (CASE WHEN amax = 0 THEN 0
        |                           ELSE CAST(floor(xd / (amax/127.0) + 0.5) AS BIGINT)
        |                      END) * (amax/127.0)) * 1e9) AS BIGINT) AS en
        |  FROM ex e JOIN am USING (vec_id))
        |SELECT vec_id, n_dims, round(amax*1e6)/1e6 AS amax6,
        |  CAST(sum(en*en) AS BIGINT) AS sse_nano2
        |FROM qe GROUP BY vec_id, n_dims, amax
        |ORDER BY vec_id""".stripMargin,
    "q70_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qe FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q_id, vec_id, ${cosSql("qe", "embedding")} AS cos
         |  FROM q CROSS JOIN e WHERE vec_id != q_id),
         |ranked AS (SELECT q_id, vec_id, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT q_id, vec_id, round(cos*1e6)/1e6 AS cos6, rn
         |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    "q71_ann_lsh" ->
      s"""WITH $planesSql,
         |bits AS (
         |  SELECT vec_id, k // $BitsPerBand AS band, k % $BitsPerBand AS pos,
         |    CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}),
         |      i -> CAST(embedding[i] AS DOUBLE) * plane[i])) > 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings CROSS JOIN planes),
         |keys AS (
         |  SELECT vec_id, band,
         |    sum(bit * CASE pos WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) AS key
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
         |  FROM keys a JOIN keys b USING (band, key) WHERE a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT i, j, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = i
         |  JOIN embeddings eb ON eb.vec_id = j)
         |SELECT i, j, round(cos*1e6)/1e6 AS cos6 FROM scored
         |WHERE cos >= $CosThreshold ORDER BY i, j""".stripMargin,
    "q74_embed_dedup" ->
      s"""WITH $planesSql,
         |bits AS (
         |  SELECT vec_id, k // $BitsPerBand AS band, k % $BitsPerBand AS pos,
         |    CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}),
         |      i -> CAST(embedding[i] AS DOUBLE) * plane[i])) > 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings CROSS JOIN planes),
         |keys AS (
         |  SELECT vec_id, band,
         |    sum(bit * CASE pos WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END) AS key
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
         |  FROM keys a JOIN keys b USING (band, key) WHERE a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT i, j, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = i
         |  JOIN embeddings eb ON eb.vec_id = j),
         |ranked AS (
         |  SELECT i, j, cos, row_number() OVER (PARTITION BY j ORDER BY i) AS rn
         |  FROM scored WHERE cos >= $CosThreshold)
         |SELECT j AS dup_id, i AS keeper_id, round(cos*1e6)/1e6 AS cos6
         |FROM ranked WHERE rn = 1 ORDER BY dup_id""".stripMargin,
    "q110_semantic_dedup" ->
      s"""WITH seeds AS (
         |  SELECT vec_id AS k, embedding AS se FROM embeddings
         |  WHERE vec_id < $SemK),
         |cellscore AS (
         |  SELECT vec_id, k, ${cosSql("embedding", "se")} AS ck
         |  FROM embeddings CROSS JOIN seeds),
         |asg AS (
         |  SELECT vec_id, k AS cell FROM (
         |    SELECT vec_id, k,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY ck DESC, k) AS rk
         |    FROM cellscore) WHERE rk = 1),
         |cand AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j, a.cell
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |spairs AS (
         |  SELECT i, j, cell, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = i
         |  JOIN embeddings eb ON eb.vec_id = j),
         |ranked AS (
         |  SELECT i, j, cell, cos,
         |    row_number() OVER (PARTITION BY j ORDER BY i) AS rn
         |  FROM spairs WHERE cos >= $CosThreshold)
         |SELECT j AS dup_id, i AS keeper_id, cell, round(cos*1e6)/1e6 AS cos6
         |FROM ranked WHERE rn = 1 ORDER BY dup_id""".stripMargin,
    "q115_semantic_multiprobe" ->
      s"""WITH seeds AS (
         |  SELECT vec_id AS k, embedding AS se FROM embeddings
         |  WHERE vec_id < $SemK),
         |cellscore AS (
         |  SELECT vec_id, k, ${cosSql("embedding", "se")} AS ck
         |  FROM embeddings CROSS JOIN seeds),
         |asg AS (
         |  SELECT vec_id, k AS cell FROM (
         |    SELECT vec_id, k,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY ck DESC, k) AS rk
         |    FROM cellscore) WHERE rk <= $SemProbes),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |spairs AS (
         |  SELECT i, j, ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = i
         |  JOIN embeddings eb ON eb.vec_id = j),
         |ranked AS (
         |  SELECT i, j, cos,
         |    row_number() OVER (PARTITION BY j ORDER BY i) AS rn
         |  FROM spairs WHERE cos >= $CosThreshold)
         |SELECT j AS dup_id, i AS keeper_id, round(cos*1e6)/1e6 AS cos6
         |FROM ranked WHERE rn = 1 ORDER BY dup_id""".stripMargin,
    "q73_ivf_knn" ->
      s"""WITH cents AS (
         |  SELECT label, list(CAST(m AS FLOAT) ORDER BY i) AS centroid FROM (
         |    SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
         |    FROM (SELECT label, embedding, unnest(range(1, ${Dim + 1})) AS i
         |          FROM embeddings)
         |    GROUP BY 1, 2) GROUP BY label),
         |assigned AS (
         |  SELECT vec_id, embedding, label AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.label,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e.embedding", "c.centroid")} DESC, c.label) AS rk
         |    FROM embeddings e CROSS JOIN cents c) WHERE rk = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, cell
         |      FROM assigned WHERE vec_id < 5),
         |scored AS (
         |  SELECT q_id, a.cell, a.vec_id, ${cosSql("qe", "a.embedding")} AS cos
         |  FROM q JOIN assigned a USING (cell) WHERE a.vec_id != q_id),
         |ranked AS (SELECT q_id, cell, vec_id, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT q_id, cell, vec_id, round(cos*1e6)/1e6 AS cos6, rn
         |FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "q100_pq_ann" ->
      s"""WITH ex AS (
         |  SELECT vec_id, (i-1) // 16 AS m, (i-1) % 16 AS im,
         |    CAST(embedding[i] AS DOUBLE) AS xd
         |  FROM (SELECT vec_id, embedding, unnest(range(1, ${Dim + 1})) AS i
         |        FROM embeddings)),
         |cb AS (SELECT vec_id AS k, m, im, xd AS c FROM ex WHERE vec_id < 16),
         |dist AS (
         |  SELECT e.vec_id, e.m, c.k,
         |    CAST(sum(CAST(round((e.xd - c.c)*(e.xd - c.c)*1e9) AS BIGINT))
         |      AS BIGINT) AS dn
         |  FROM ex e JOIN cb c ON e.m = c.m AND e.im = c.im
         |  GROUP BY 1, 2, 3),
         |codes AS (
         |  SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dn, k) AS rn
         |    FROM dist) WHERE rn = 1),
         |adc AS (SELECT vec_id AS q_id, m, k, dn FROM dist WHERE vec_id < 3),
         |approx AS (
         |  SELECT q_id, c.vec_id, CAST(sum(a.dn) AS BIGINT) AS ad_nano
         |  FROM codes c JOIN adc a USING (m, k)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT q_id, vec_id, ad_nano,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY ad_nano, vec_id)
         |      AS BIGINT) AS rn
         |  FROM approx WHERE vec_id != q_id)
         |SELECT q_id, vec_id, ad_nano, rn FROM ranked
         |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    "q129_kmeans_train" ->
      s"""WITH $lloydCtes
         |SELECT CAST(k AS BIGINT) AS k, CAST(i AS BIGINT) AS i, cn,
         |  n AS n_members
         |FROM cent$LloydIters ORDER BY k, i""".stripMargin,
    "q327_pq_trained" ->
      s"""WITH $pqLloydCtes,
         |fdist AS (
         |  SELECT e.vec_id, e.m, c.k,
         |    CAST(sum(CAST(round((e.xd - c.cn/1e9)*(e.xd - c.cn/1e9)*1e9)
         |      AS BIGINT)) AS BIGINT) AS dn
         |  FROM exm e JOIN pcent$PqIters c ON e.m = c.m AND e.im = c.im
         |  GROUP BY 1, 2, 3),
         |fcodes AS (
         |  SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dn, k) AS rn
         |    FROM fdist) WHERE rn = 1),
         |fadc AS (SELECT vec_id AS q_id, m, k, dn FROM fdist WHERE vec_id < 3),
         |fapprox AS (
         |  SELECT q_id, c.vec_id, CAST(sum(a.dn) AS BIGINT) AS ad_nano
         |  FROM fcodes c JOIN fadc a USING (m, k)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT q_id, vec_id, ad_nano,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY ad_nano, vec_id)
         |      AS BIGINT) AS rn
         |  FROM fapprox WHERE vec_id != q_id)
         |SELECT q_id, vec_id, ad_nano, rn FROM ranked WHERE rn <= 10
         |ORDER BY q_id, rn""".stripMargin,
    "q127_ann_rerank" ->
      s"""WITH ex AS (
         |  SELECT vec_id, (i-1) // 16 AS m, (i-1) % 16 AS im,
         |    CAST(embedding[i] AS DOUBLE) AS xd
         |  FROM (SELECT vec_id, embedding, unnest(range(1, ${Dim + 1})) AS i
         |        FROM embeddings)),
         |cb AS (SELECT vec_id AS k, m, im, xd AS c FROM ex WHERE vec_id < 16),
         |dist AS (
         |  SELECT e.vec_id, e.m, c.k,
         |    CAST(sum(CAST(round((e.xd - c.c)*(e.xd - c.c)*1e9) AS BIGINT))
         |      AS BIGINT) AS dn
         |  FROM ex e JOIN cb c ON e.m = c.m AND e.im = c.im
         |  GROUP BY 1, 2, 3),
         |codes AS (
         |  SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dn, k) AS rn
         |    FROM dist) WHERE rn = 1),
         |adc AS (SELECT vec_id AS q_id, m, k, dn FROM dist WHERE vec_id < 3),
         |approx AS (
         |  SELECT q_id, c.vec_id, CAST(sum(a.dn) AS BIGINT) AS ad_nano
         |  FROM codes c JOIN adc a USING (m, k)
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT q_id, vec_id, ad_rn FROM (
         |    SELECT q_id, vec_id,
         |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY ad_nano, vec_id)
         |        AS BIGINT) AS ad_rn
         |    FROM approx WHERE vec_id != q_id) WHERE ad_rn <= 25),
         |rer AS (
         |  SELECT q_id, s.vec_id, ad_rn,
         |    ${cosSql("eq.embedding", "ev.embedding")} AS cos
         |  FROM short s
         |  JOIN embeddings eq ON eq.vec_id = s.q_id
         |  JOIN embeddings ev ON ev.vec_id = s.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, ad_rn, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
         |      AS BIGINT) AS rn
         |  FROM rer)
         |SELECT q_id, vec_id, ad_rn, round(cos*1e6)/1e6 AS cos6, rn
         |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    "q143_ivf_pq_rerank" -> ivfPqOracle,
    // bit-identical by construction (same assignment, ADC sums, rerank) —
    // the staged form shares the composed pipeline's oracle verbatim,
    // exactly as q105 shares q63's
    "q150_staged_ann" -> ivfPqOracle,
    "q151_ann_delta" -> annIncOracle,
    "q165_rrf_fusion" ->
      s"""WITH ${TextAnalysis.bm25CtesSql},
         |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |               rk AS lex_rk FROM ranked WHERE rk <= 10),
         |eq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |       WHERE vec_id IN (${TextAnalysis.bm25QueryIds.mkString(", ")})),
         |dscored AS (
         |  SELECT query_id, vec_id AS doc_id, ${cosSql("qe", "embedding")} AS cos
         |  FROM eq CROSS JOIN embeddings WHERE vec_id != query_id),
         |dranked AS (SELECT query_id, doc_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, doc_id) AS BIGINT) AS dense_rk FROM dscored),
         |dense AS (SELECT * FROM dranked WHERE dense_rk <= 10),
         |fused AS (
         |  SELECT COALESCE(l.query_id, dn.query_id) AS query_id,
         |         COALESCE(l.doc_id, dn.doc_id) AS doc_id,
         |         CAST(COALESCE(1000000000 // (60 + l.lex_rk), 0)
         |            + COALESCE(1000000000 // (60 + dn.dense_rk), 0) AS BIGINT) AS rrf,
         |         l.lex_rk, dn.dense_rk
         |  FROM lex l FULL OUTER JOIN dense dn
         |    ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id),
         |final AS (SELECT query_id, doc_id, rrf, lex_rk, dense_rk,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk FROM fused)
         |SELECT query_id, doc_id, rrf, lex_rk, dense_rk, rk
         |FROM final WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    "q170_late_interaction" ->
      s"""WITH qt AS (
         |  SELECT vec_id AS query_id, CAST(t AS BIGINT) AS qt,
         |    list_slice(embedding, t*8 + 1, t*8 + 8) AS qv
         |  FROM embeddings, unnest(generate_series(0, 7)) AS tt(t)
         |  WHERE vec_id IN (${TextAnalysis.bm25QueryIds.mkString(", ")})),
         |dt AS (
         |  SELECT vec_id AS doc_id, CAST(t AS BIGINT) AS dt,
         |    list_slice(embedding, t*8 + 1, t*8 + 8) AS dv
         |  FROM embeddings, unnest(generate_series(0, 7)) AS tt(t)),
         |mx AS (
         |  SELECT query_id, qt, doc_id,
         |    CAST(round(max(${cosSqlN("qv", "dv", 8)}) * 1e9) AS BIGINT) AS mxn
         |  FROM qt CROSS JOIN dt WHERE doc_id != query_id
         |  GROUP BY 1, 2, 3),
         |sc AS (SELECT query_id, doc_id, CAST(sum(mxn) AS BIGINT) AS li_nano
         |       FROM mx GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, li_nano,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY li_nano DESC, doc_id) AS BIGINT) AS rk FROM sc)
         |SELECT query_id, doc_id, li_nano, rk
         |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    "q72_centroids" ->
      s"""SELECT label, CAST(i AS BIGINT) AS i,
         |  round(avg(CAST(embedding[i] AS DOUBLE))*1e6)/1e6 AS mean6,
         |  count(*) AS n
         |FROM (SELECT label, embedding, unnest(range(1, ${Dim + 1})) AS i
         |      FROM embeddings)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q119_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, label AS q_label
         |      FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q_id, q_label, vec_id, label AS neg_label,
         |    ${cosSql("qe", "embedding")} AS cos
         |  FROM q CROSS JOIN e WHERE label != q_label),
         |ranked AS (SELECT q_id, q_label, vec_id, neg_label, cos,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT q_id, CAST(q_label AS BIGINT) AS q_label, vec_id,
         |  CAST(neg_label AS BIGINT) AS neg_label,
         |  round(cos*1e6)/1e6 AS cos6, rn
         |FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  )
}
