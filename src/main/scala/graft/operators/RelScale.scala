package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational 10× scale gate — the DedupScale/TriScale/EditScale/
  * ArchiveScale analog for the heavy RELATIONAL/graph/IR/ANN queries
  * (round-11 verdict #3). The round-10 lesson (q256 quadratic, q257
  * plan-size explosion — both fast AND hash-exact at sf0.01, caught only
  * at sf0.1) says the next trap class sits one data decade up, and the
  * driver fixtures stop at sf0.1: this gate generates a seeded corpus a
  * decade past sf0.1 (default mult=10: 6M-row lineitem, 1.5M orders, 1M
  * events, 50k documents, 20k embeddings — the same five schemas), runs
  * the ten heaviest non-streaming queries through the IDENTICAL
  * `SparkEntry.queries` bodies (never a reimplementation), and gates:
  *
  *  (a) PLANTED EXACTNESS where the generated structure makes the answer
  *      closed-form: q309's grouped quartiles (per-flag cents values are
  *      an arithmetic sequence ⇒ every quartile is 100+(r−1) exactly),
  *      q103's percentiles (same sequence, interpolated — plus its own
  *      within_tol sketch-accuracy booleans must all be true), q51's
  *      row count and Σ days_since (orderdate cycles a fixed 1461-day
  *      wheel), q246's LSH sweep (background docs carry globally-unique
  *      tokens, planted id≡2 (mod 26) docs duplicate their predecessor ⇒
  *      n_truth == planted pairs and every band config recalls 100%),
  *      q218/q258 (unique-vocabulary corpus ⇒ every known-item query
  *      retrieves its source at rank 1 and every NDCG is exactly 1e6),
  *      q143 (query vectors 0–2 have exact twins planted at 10000+q ⇒
  *      the exact rerank's rank-1 hit IS the twin at cos 1.0).
  *  (b) STRUCTURAL INVARIANTS where the algorithm's output is not
  *      closed-form but the planted topology bounds it: lineitem's
  *      part↔supplier bipartite graph is built in 100 disjoint residue
  *      blocks (edge exists only when partkey ≡ suppkey (mod 100)), so
  *      q299's personalized PageRank mass from the seed (part 1, block
  *      1) must stay ENTIRELY inside block 1; events are generated as
  *      32-user buckets each owned by one of 1000 disjoint user groups,
  *      so every q292 LPA community must sit inside one group (label,
  *      min_node and sum_node all consistent with a single 32-id range).
  *      q128's global PageRank is gated on shape (top-20, positive mass,
  *      descending) — its per-node values have no closed form.
  *  (c) WALL CEILINGS — each query must finish its full materialization
  *      under PerQueryCeiling and the ten together under TotalCeiling;
  *      a q256-class quadratic or q257-class plan explosion at this
  *      scale blows past both long before it finishes.
  *
  * Usage: runMain graft.operators.RelScale [mult] [workDir] [--skip-gen]
  *   (defaults 10 × /tmp/graft_rel_10x; generation ~1 min, run ~3-5 min
  *   at local[32]).
  *
  * SECOND DECADE (`--big3`, round-13 verdict #8): the q256/q257 lesson
  * says traps live one decade up from wherever you stopped, so
  * `runMain graft.operators.RelScale 100 /tmp/graft_rel_100x --big3`
  * re-gates the three heaviest survivors at 100× sf0.1 (60M-row
  * lineitem, 500k documents): q128's full PageRank, q246's LSH band
  * sweep (planted recall must stay 10000 bp), and q103's APPROX leg
  * alone — the exact-percentile rider is deliberately skipped at this
  * scale because its cost is the documented buffer-every-value state
  * (q103's scaladoc: "the production form at scale runs the approx
  * aggregate alone"); the sketch's quartiles must land within 1% of the
  * CLOSED-FORM exact values instead, which the arithmetic-sequence
  * corpus provides without materializing them. */
object RelScale {

  /** Queries under gate — the twelve heaviest non-streaming plans: the
    * ten from the round-11 bench audit plus the round-12 joiners below. */
  val Gated: Seq[String] = Seq(
    "q103_approx_percentile", "q309_grouped_quartiles", "q51_date_funcs",
    "q246_lsh_band_sweep", "q218_retrieval_eval", "q258_ndcg",
    "q143_ivf_pq_rerank", "q128_pagerank", "q299_ppr", "q292_label_prop",
    // round-12 joiners: the big-window family (SCD2 versioning over 1M
    // events) and the retraction-IVM algebra over 1.5M orders
    "q318_scd2_build", "q320_ivm_retract")

  val PerQueryCeiling = 240.0 // seconds
  val TotalCeiling = 1200.0
  // --big3 at 100×: 10× the data of the standard gate → looser walls,
  // still far under what a quadratic or plan explosion could meet
  val Big3QueryCeiling = 900.0
  val Big3TotalCeiling = 2400.0

  // planted-structure constants (referenced by both generator and checks)
  private val Blocks = 100L // part↔supp residue blocks (q299 isolation)
  private val NParts = 20000L
  private val GroupSize = 32L // events co-occurrence group (≤ TriBucketCap)
  private val NGroups = 1000L
  private val EmbDim = 64

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val mult = pos.headOption.map(_.toLong).getOrElse(10L)
    val big3 = args.contains("--big3")
    val work = pos.drop(1).headOption.getOrElse(
      if (big3) "/tmp/graft_rel_100x" else "/tmp/graft_rel_10x")
    val skipGen = args.contains("--skip-gen")
    val spark = graft.GraftSession()

    val nL = 600000L * mult // lineitem
    val nO = 150000L * mult // orders
    val nE = 100000L * mult // events
    val nD = 5000L * mult   // documents
    val nV = 2000L * mult   // embeddings
    require(nL % 12 == 0, "lineitem count must be divisible by 12")
    // q143 twins: query vector q (0..2) duplicated at twinBase+q — mid-
    // corpus so the twin is never a query and always exists at any mult
    val twinBase = nV / 2

    def timed[T](phase: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"phase":"$phase","sec":$sec%.2f,"mult":$mult}""")
      (r, sec)
    }

    if (!skipGen) timed("gen") {
      // every column is integer arithmetic on the row id — closed-form,
      // seed-free, layout-independent
      spark.range(nL).selectExpr(
        "id div 4 + 1 AS l_orderkey",
        s"1 + id % $NParts AS l_partkey",
        // suppkey ≡ partkey (mod Blocks): the bipartite graph decomposes
        // into Blocks disjoint components — q299's isolation invariant
        s"$Blocks + (1 + id % $NParts) % $Blocks + $Blocks * ((id div 7) % 20) AS l_suppkey",
        "CAST(id % 4 + 1 AS INT) AS l_linenumber",
        "CAST(1 + id % 50 AS DOUBLE) AS l_quantity",
        // per-flag cents are the arithmetic sequence 100 + (id div 3):
        // quartiles/percentiles closed-form (checks below)
        "CAST(100 + id div 3 AS DOUBLE) / 100.0 AS l_extendedprice",
        "CAST(id % 11 AS DOUBLE) / 100.0 AS l_discount",
        "CAST(id % 9 AS DOUBLE) / 100.0 AS l_tax",
        "element_at(array('A','N','R'), CAST(id % 3 AS INT) + 1) AS l_returnflag",
        "CASE WHEN id % 2 = 0 THEN 'O' ELSE 'F' END AS l_linestatus",
        "timestamp(date_add(DATE'1995-01-01', CAST(id % 2500 AS INT))) AS l_shipdate")
        .write.mode("overwrite").parquet(s"$work/lineitem.parquet")

      spark.range(nO).selectExpr(
        "id + 1 AS o_orderkey",
        "1 + id % 100000 AS o_custkey",
        "element_at(array('O','F','P'), CAST(id % 3 AS INT) + 1) AS o_orderstatus",
        "CAST(10000 + id % 90000 AS DOUBLE) / 100.0 AS o_totalprice",
        // 1461-day wheel: Σ datediff(o_orderdate, 1995-01-01) closed-form
        "timestamp(date_add(DATE'1995-01-01', CAST(id % 1461 AS INT))) AS o_orderdate",
        "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
          "CAST(id % 5 AS INT) + 1) AS o_orderpriority")
        .write.mode("overwrite").parquet(s"$work/orders.parquet")

      // bucket j = id div GroupSize holds GroupSize distinct users, all
      // from group j % NGroups — co-occurrence edges can never cross a
      // group boundary (q292's invariant). Bucket keys stay unique per
      // j because the HOUR is unique per bucket (ts = epoch + j hours);
      // the event type cycles with the group's APPEARANCE index
      // ((j div NGroups) % 5), so a user's successive events always
      // change type — every event opens an SCD2 version, q318's planted
      // closed form (versions == events, round 12).
      spark.range(nE).selectExpr(
        "id AS event_id",
        s"timestamp(DATE'2024-01-01') + make_interval(0, 0, 0, 0, " +
          s"CAST(id div $GroupSize AS INT), 0, 0) AS ts",
        s"((id div $GroupSize) % $NGroups) * $GroupSize + id % $GroupSize AS user_id",
        s"concat('t', CAST(((id div $GroupSize) div $NGroups) % 5 AS STRING)) AS event_type",
        "CAST(id % 1000 AS DOUBLE) / 10.0 AS value",
        "'{}' AS props")
        .write.mode("overwrite").parquet(s"$work/events.parquet")

      // background docs carry 12 globally-unique tokens; ids ≡ 2 (mod 26)
      // duplicate their predecessor's text EXACTLY (Jaccard 1.0 — the
      // only pairs above any threshold). Neither member of a pair is
      // ≡ 0 (mod 13), so q218's query docs always have unique terms.
      spark.range(nD).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 11), " +
          "k -> concat('w', CASE WHEN id % 26 = 2 THEN id - 1 ELSE id END, " +
          "'_', k))) AS text",
        "element_at(array('en','de','fr'), CAST(id % 3 AS INT) + 1) AS lang",
        "concat('s', CAST(id % 7 AS STRING)) AS source")
        .selectExpr("doc_id", "text", "lang", "source",
          "CAST(length(text) AS BIGINT) AS n_chars")
        .write.mode("overwrite").parquet(s"$work/documents.parquet")

      // deterministic unit vectors from md5(effective id): vectors
      // TwinBase+q (q = 0..2) are EXACT copies of the query vectors q
      spark.range(nV).selectExpr(
        "id AS vec_id",
        s"CASE WHEN id >= $twinBase AND id <= ${twinBase + 2} " +
          s"THEN id - $twinBase ELSE id END AS eid",
        "CAST(id % 10 AS INT) AS label")
        .selectExpr("vec_id", "label",
          s"transform(sequence(0, ${EmbDim - 1}), j -> " +
            "CAST(conv(substring(md5(concat('emb_', CAST(eid AS STRING), " +
            "'_', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000" +
            ") AS raw")
        .selectExpr("vec_id", "label",
          "sqrt(aggregate(raw, 0.0D, (a, x) -> a + CAST(x AS DOUBLE) * x)) AS nrm",
          "raw")
        .selectExpr("vec_id",
          "transform(raw, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT)) AS embedding",
          "label")
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
      ()
    }

    // ---- closed-form expectations --------------------------------------
    val nG = nL / 3 // per-returnflag lineitem rows
    def rank(q: Int): Long = q match {
      case 1 => (nG + 3) / 4
      case 2 => (nG + 1) / 2
      case 3 => (3 * nG + 3) / 4
    }
    val expQuart: Map[Int, Long] = (1 to 3).map(q => q -> (100 + rank(q) - 1)).toMap
    // Spark `percentile` with linear interpolation over the same sequence
    def expPct(p: Double): Double = {
      val pos = p * (nG - 1)
      val lo = math.floor(pos).toLong
      val frac = pos - lo
      val vLo = (100.0 + lo) / 100.0
      val vHi = (100.0 + (lo + 1).min(nG - 1)) / 100.0
      val v = vLo + frac * (vHi - vLo)
      math.round(v * 1e4) / 1e4 // the query's r4()
    }
    val ordersCycles = nO / 1461
    val ordersRem = nO % 1461
    val expDaysSum = ordersCycles * (1461L * 1460L / 2) +
      ordersRem * (ordersRem - 1) / 2
    val expDupPairs = if (nD > 2) (nD - 1 - 2) / 26 + 1 else 0L
    val expQueries = if (nD > 0) (nD - 1) / 13 + 1 else 0L

    def run(name: String)(check: DataFrame => Unit): Double = {
      val ceiling = if (big3) Big3QueryCeiling else PerQueryCeiling
      val (_, sec) = timed(name) {
        check(graft.SparkEntry.queries(name)(spark, work))
      }
      require(sec <= ceiling,
        f"$name took $sec%.1f s > per-query ceiling $ceiling%.0f s " +
          "— a scale trap (quadratic re-execution or plan explosion?)")
      sec
    }

    // shared between the standard chain and --big3 (same planted checks)
    val q246Check: DataFrame => Unit = { df =>
      val rows = df.collect()
      require(rows.length == 4, s"q246: ${rows.length} configs, expected 4")
      rows.foreach { r =>
        require(r.getAs[Long]("n_truth") == expDupPairs,
          s"q246: n_truth=${r.getAs[Long]("n_truth")} != planted $expDupPairs")
        require(r.getAs[Long]("n_found") == expDupPairs &&
          r.getAs[Long]("recall_bp") == 10000L,
          s"q246: config ${r.getAs[Long]("bands")}x${r.getAs[Long]("rows_per_band")} " +
            s"missed planted exact-dups: $r")
      }
      println(s"""{"check":"q246_lsh_sweep","planted_pairs":$expDupPairs,"recall_bp":10000}""")
    }
    val q128Check: DataFrame => Unit = { df =>
      val rows = df.collect()
      require(rows.length == 20, s"q128: ${rows.length} rows, expected 20")
      val masses = rows.map(_.getAs[Long]("rank_mass"))
      require(masses.forall(_ > 0) && masses.sameElements(masses.sorted.reverse),
        "q128: top-20 must be positive and descending")
      println(s"""{"check":"q128_pagerank","rows":20,"top_mass":${masses.head}}""")
    }

    if (big3) {
      // second decade for the three heaviest survivors; the exact-
      // percentile rider is skipped BY DESIGN (buffer-every-value) —
      // the approx sketch is judged against the closed forms instead
      var btotal = 0.0
      btotal += run("q128_pagerank")(q128Check)
      btotal += run("q246_lsh_band_sweep")(q246Check)
      btotal += timed("q103_approx_leg") {
        val rows = spark.read.parquet(s"$work/lineitem.parquet")
          .groupBy(col("l_returnflag"))
          .agg(expr("approx_percentile(l_extendedprice, " +
            "array(0.25, 0.5, 0.75), 10000)").as("aps"))
          .collect()
        require(rows.length == 3, s"q103 approx: ${rows.length} groups")
        rows.foreach { r =>
          val aps = r.getSeq[Double](1)
          Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (p, k) =>
            val exp = expPct(p)
            require(math.abs(aps(k) - exp) <= 0.01 * exp,
              s"q103 approx p$p: ${aps(k)} vs closed-form $exp (>1%)")
          }
        }
        println(s"""{"check":"q103_approx_100x","groups":3,"within_1pct":true}""")
      }._2
      require(btotal <= Big3TotalCeiling,
        f"RelScale --big3 total $btotal%.1f s > ceiling $Big3TotalCeiling%.0f s")
      println(f"""{"check":"rel_scale_big3_total","sec":$btotal%.1f,"ceiling":$Big3TotalCeiling%.0f,"mult":$mult}""")
      spark.stop()
      return
    }

    var total = 0.0

    total += run("q103_approx_percentile") { df =>
      val rows = df.collect()
      require(rows.length == 3, s"q103: ${rows.length} groups, expected 3")
      rows.foreach { r =>
        require(r.getAs[Boolean]("within_tol"),
          s"q103: approx quartile off >1% for ${r.getAs[String]("l_returnflag")}")
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75).foreach { case (c, p) =>
          val got = r.getAs[Double](c)
          val exp = expPct(p)
          require(math.abs(got - exp) < 1e-6 * exp,
            s"q103 $c: got $got, closed-form $exp")
        }
      }
      println(s"""{"check":"q103_percentiles","groups":3,"exact":true}""")
    }

    total += run("q309_grouped_quartiles") { df =>
      val rows = df.collect()
      require(rows.length == 3, s"q309: ${rows.length} groups, expected 3")
      rows.foreach { r =>
        require(r.getAs[Long]("n") == nG, s"q309: n=${r.getAs[Long]("n")} != $nG")
        require(r.getAs[Long]("p25_cents") == expQuart(1) &&
          r.getAs[Long]("p50_cents") == expQuart(2) &&
          r.getAs[Long]("p75_cents") == expQuart(3) &&
          r.getAs[Long]("iqr_cents") == expQuart(3) - expQuart(1),
          s"q309 quartiles mismatch for ${r.getAs[String]("g")}: $r vs $expQuart")
      }
      println(s"""{"check":"q309_quartiles","groups":3,"p25":${expQuart(1)},"p50":${expQuart(2)},"p75":${expQuart(3)}}""")
    }

    total += run("q51_date_funcs") { df =>
      val agg = df.agg(count(lit(1)).as("n"), sum(col("days_since")).as("sd"))
        .collect()(0)
      require(agg.getAs[Long]("n") == nO,
        s"q51: ${agg.getAs[Long]("n")} rows, expected $nO")
      require(agg.getAs[Long]("sd") == expDaysSum,
        s"q51: sum(days_since)=${agg.getAs[Long]("sd")}, closed-form $expDaysSum")
      println(s"""{"check":"q51_fullscan","rows":$nO,"days_sum":$expDaysSum}""")
    }

    total += run("q246_lsh_band_sweep")(q246Check)

    total += run("q218_retrieval_eval") { df =>
      val agg = df.agg(count(lit(1)).as("n"),
        min(col("target_rank")).as("mn"), max(col("target_rank")).as("mx"))
        .collect()(0)
      require(agg.getAs[Long]("n") == expQueries,
        s"q218: ${agg.getAs[Long]("n")} queries, expected $expQueries")
      require(agg.getAs[Long]("mn") == 1L && agg.getAs[Long]("mx") == 1L,
        s"q218: ranks span [${agg.getAs[Long]("mn")}, ${agg.getAs[Long]("mx")}] " +
          "— unique-vocab corpus must hit rank 1 everywhere")
      println(s"""{"check":"q218_known_item","queries":$expQueries,"all_rank1":true}""")
    }

    total += run("q258_ndcg") { df =>
      val agg = df.agg(count(lit(1)).as("n"),
        min(col("ndcg_micro")).as("mn"), max(col("ndcg_micro")).as("mx"))
        .collect()(0)
      require(agg.getAs[Long]("n") == expQueries,
        s"q258: ${agg.getAs[Long]("n")} queries, expected $expQueries")
      require(agg.getAs[Long]("mn") == 1000000L && agg.getAs[Long]("mx") == 1000000L,
        s"q258: ndcg span [${agg.getAs[Long]("mn")}, ${agg.getAs[Long]("mx")}], expected 1e6 exactly")
      println(s"""{"check":"q258_ndcg","queries":$expQueries,"all_1e6":true}""")
    }

    total += run("q143_ivf_pq_rerank") { df =>
      val top = df.filter(col("rn") === 1).collect()
      require(top.length == 3, s"q143: ${top.length} rank-1 rows, expected 3")
      top.foreach { r =>
        val q = r.getAs[Long]("q_id")
        val got = r.getAs[Long]("vec_id")
        require(got == twinBase + q,
          s"q143: query $q rank-1 is $got, planted twin ${twinBase + q}")
        require(r.getAs[Double]("cos6") >= 0.999999,
          s"q143: twin cos ${r.getAs[Double]("cos6")} < 1.0")
      }
      println(s"""{"check":"q143_planted_twins","queries":3,"all_rank1_twin":true}""")
    }

    total += run("q128_pagerank")(q128Check)

    total += run("q299_ppr") { df =>
      val rows = df.collect()
      require(rows.length == 20, s"q299: ${rows.length} rows, expected 20")
      // seed = part 1 → node 2 → block 1: every node with positive mass
      // must sit in residue block 1 (the graph has no cross-block edge)
      rows.foreach { r =>
        val node = r.getAs[Long]("node")
        require((node / 2) % Blocks == 1L,
          s"q299: node $node (block ${(node / 2) % Blocks}) escaped seed block 1 " +
            "— PPR mass crossed a disconnected component!")
        require(r.getAs[Long]("ppr_mass") > 0, s"q299: non-positive mass in $r")
      }
      println(s"""{"check":"q299_ppr_block_isolation","rows":20,"block":1}""")
    }

    total += run("q292_label_prop") { df =>
      val rows = df.collect()
      require(rows.nonEmpty && rows.length <= 30, s"q292: ${rows.length} rows")
      rows.foreach { r =>
        val label = r.getAs[Long]("label")
        val n = r.getAs[Long]("n_nodes")
        val mn = r.getAs[Long]("min_node")
        val sm = r.getAs[Long]("sum_node")
        val g = label / GroupSize
        require(mn / GroupSize == g && n <= GroupSize &&
          sm >= n * (g * GroupSize) && sm <= n * (g * GroupSize + GroupSize - 1),
          s"q292: community $r not contained in user group $g " +
            "— LPA crossed a disconnected group boundary!")
      }
      println(s"""{"check":"q292_lpa_group_isolation","communities":${rows.length}}""")
    }

    total += run("q318_scd2_build") { df =>
      // planted: a user's successive events always change type (the
      // appearance-cycled generator), so EVERY event opens a version —
      // rows == nE, every n_events == 1, and Σ version has the closed
      // form Σ_groups users·A(A+1)/2 with A the group's appearance count
      val buckets = nE / GroupSize
      var expVerSum = 0L
      var g = 0L
      while (g < NGroups) {
        val a = (buckets - g + NGroups - 1) / NGroups // appearances
        expVerSum += GroupSize * (a * (a + 1) / 2)
        g += 1
      }
      val agg = df.agg(count(lit(1)).as("n"),
        max(col("n_events")).as("mx"), sum(col("version")).as("vs"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"))
        .collect()(0)
      require(agg.getAs[Long]("n") == nE,
        s"q318: ${agg.getAs[Long]("n")} versions, planted $nE (every event opens one)")
      require(agg.getAs[Long]("mx") == 1L, "q318: some version collapsed >1 event")
      require(agg.getAs[Long]("vs") == expVerSum,
        s"q318: Σ version ${agg.getAs[Long]("vs")} != closed form $expVerSum")
      require(agg.getAs[Long]("cur") == GroupSize * NGroups,
        s"q318: ${agg.getAs[Long]("cur")} current rows, expected one per user")
      println(s"""{"check":"q318_scd2","versions":$nE,"version_sum":$expVerSum,"current":${GroupSize * NGroups}}""")
    }

    total += run("q320_ivm_retract") { df =>
      // closed form by replaying the generator's integer formulas
      val base = new Array[Long](5)
      val adj = new Array[Long](5)
      var id = 0L
      while (id < nO) {
        val pri = (id % 5).toInt
        val c = 10000L + id % 90000
        base(pri) += c
        val m = (id + 1) % 11
        if (m == 3) adj(pri) += c / 10
        else if (m == 7) adj(pri) -= c
        id += 1
      }
      val rows = df.collect()
      require(rows.length == 5, s"q320: ${rows.length} priorities")
      rows.foreach { r =>
        val pri = r.getAs[String]("o_orderpriority").charAt(0) - '1'
        require(r.getAs[Long]("base_cents") == base(pri) &&
          r.getAs[Long]("adj_cents") == adj(pri) &&
          r.getAs[Long]("maintained_cents") == base(pri) + adj(pri),
          s"q320: decomposition mismatch for priority ${pri + 1}: $r")
      }
      println(s"""{"check":"q320_ivm","priorities":5,"exact":true}""")
    }

    println(f"""{"check":"rel_scale_total","sec":$total%.1f,"ceiling":$TotalCeiling%.0f,"queries":${Gated.size}}""")
    require(total <= TotalCeiling,
      f"RelScale total $total%.1f s > ceiling $TotalCeiling%.0f s")
    spark.stop()
  }
}
