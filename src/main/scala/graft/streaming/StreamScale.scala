package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming decade-scale gate — the RelScale analog for the STATEFUL
  * streaming family (round-12 verdict #1: streaming was the only family
  * whose heavy queries had no planted-ground-truth scale gate; every
  * stateful stream was proven at fixture scale ≤10⁴ events only). This
  * gate generates a seeded ~10⁷-event corpus (default mult=100: 10M
  * events, 500k documents — two data decades past sf0.1's events table),
  * runs the heaviest stateful bodies through the IDENTICAL
  * `SparkEntry.queries` / `Streaming` bodies (never a reimplementation),
  * and gates three things:
  *
  *  (a) PLANTED CLOSED-FORM EXACTNESS. Every column is integer
  *      arithmetic on the row id, so each query's answer is a formula.
  *      The corpus is PAIR-shaped (full rationale on the constants
  *      below): pair j = a lead event (click for even j, view for odd)
  *      at Base + j·400 ms plus a purchase 120 s later, user j % 500k —
  *      so even-j purchases match EXACTLY their own click (q97), odd-j
  *      purchases are the watermark-emitted outer rows (q317), every
  *      pair is one 2-event session (q159), every event opens an SCD2
  *      version (q321), and per-type arrival ranks are the j-order
  *      index (q295, cap 1000 binds at every mult). The ~23-day span
  *      stays inside January 2024, before q159's staged February
  *      sentinels.
  *      - documents: 16 planted hex-pair tokens with strictly-decreasing
  *        closed-form counts ≫ any base-20 noise pair (disjoint
  *        alphabets), so q107's exact top-16 IS the planted list and
  *        every Misra-Gries guarantee boolean must hold.
  *  (b) STATE PLATEAUS / DRAINS, measured from StreamingQueryProgress
  *      (the JoinStateBoundSpec probe generalized a decade up): the
  *      q97 join body over the 6-slab staged arrival must hold per-batch
  *      state FLAT (≤2.5 slabs, no monotone growth, final ≪ cumulative
  *      input), and its multi-batch output must equal the single-batch
  *      q97 answer as a multiset; q159's timer state must DRAIN — max
  *      state covers every user, final state is the sentinel key alone.
  *  (c) WALL CEILINGS — each body under PerQueryCeiling, everything
  *      under TotalCeiling: a quadratic or a state leak at 10⁷ events
  *      blows past both long before finishing.
  *
  * Usage: runMain graft.streaming.StreamScale [mult] [workDir] [--skip-gen]
  *   (defaults 100 × /tmp/graft_stream_scale; generation ~1 min, run
  *   ~10-15 min at local[32]. Peak driver heap is the 10M-row memory
  *   sinks of q295/q321 — runs inside the default 8g, sequentially.)
  */
object StreamScale {

  val PerQueryCeiling = 600.0 // seconds
  val TotalCeiling = 2700.0

  // planted-structure constants (generator AND checks).
  //
  // The corpus is PAIR-shaped: pair j holds a lead event (click when
  // j is even, view when j is odd) at T_j = Base + j·PairStep and a
  // purchase at T_j + PurchLag. Why pairs and half a million users: a
  // streaming symmetric-hash join matches by the EQUALITY key (user_id)
  // and filters the time bound row by row, so per-key work is
  // clicks_u × purchases_u — a first cut with 1,250 users × 8,000
  // events went quadratic (6.4e9 pair evaluations; batch 0 alone ran
  // >20 min). With 500k users a user owns ≤ ⌈nP/U⌉ pairs and the whole
  // join is linear in the corpus — the same shape reason q203 caps
  // bucket sizes. The closed forms survive intact:
  //  - even-j purchases match EXACTLY their own click 120 s back (other
  //    same-user clicks sit U·PairStep = 2×10⁵ s away, far outside the
  //    10-min window); odd-j purchases follow a VIEW — never matched.
  //  - a user's events alternate (click|view, purchase, …) — U is EVEN
  //    so j%2 is constant per user and consecutive types always differ:
  //    every event opens an SCD2 version.
  //  - pairs of one user are 2×10⁵ s apart ≫ the 30-min session gap,
  //    and the two pair events are 120 s apart: exactly ONE session of
  //    exactly TWO events per pair.
  //  - within each type, ts is strictly increasing in j: per-type
  //    arrival ranks are the j-order index (q295's closed form).
  private val U = 500000L          // users (even — keeps j%2 per-user constant)
  private val PairStepUs = 400000L // 400 ms between pair starts
  private val PurchLagUs = 120000000L // 120 s click→purchase (inside 10 min)
  private val BaseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC, micros
  private val NTok = 16            // planted heavy-hitter tokens

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val mult = pos.headOption.map(_.toLong).getOrElse(100L)
    val work = pos.drop(1).headOption.getOrElse("/tmp/graft_stream_scale")
    val skipGen = args.contains("--skip-gen")
    val spark = graft.GraftSession()

    val nE = 100000L * mult
    val nD = 5000L * mult
    val nP = nE / 2 // pairs
    require(nE % 2 == 0, "pair-shaped corpus needs an even event count")
    require(nP * PairStepUs + PurchLagUs < 26L * 86400L * 1000000L,
      "corpus must end before q159's staged February sentinels")

    def timed[T](phase: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"phase":"$phase","sec":$sec%.2f,"mult":$mult}""")
      (r, sec)
    }

    // The driver fixtures are single FILES named <table>.parquet, and
    // eventsStream's pathGlobFilter matches leaf file names — a directory
    // table would stream zero rows. Write the same single-file layout.
    def writeSingle(df: DataFrame, path: String): Unit = {
      val tmp = path + ".tmpdir"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
      val dst = new java.io.File(path)
      FileUtils.deleteQuietly(dst)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      FileUtils.deleteQuietly(new java.io.File(tmp))
    }

    if (!skipGen) timed("gen") {
      writeSingle(spark.range(nE).selectExpr(
        "id AS event_id",
        "id div 2 AS j",
        "id % 2 AS lead") // 0 = pair lead (click/view), 1 = purchase
        .selectExpr(
          "event_id",
          s"timestamp_micros($BaseUs + j * $PairStepUs + lead * $PurchLagUs) AS ts",
          s"j % $U AS user_id",
          "CASE WHEN lead = 1 THEN 'purchase' " +
            "WHEN j % 2 = 0 THEN 'click' ELSE 'view' END AS event_type",
          "CAST(event_id % 1000 AS DOUBLE) / 10.0 AS value",
          "'{}' AS props"), s"$work/events.parquet")

      // 16 planted letter-pair tokens ("GG".."VV") with counts
      // (32−j)·|docs ≡ j (mod 16)| — strictly decreasing, so the exact
      // top-16 is the planted list in order. The 5-char noise word is an
      // md5 prefix (lowercase hex — DISJOINT from the uppercase planted
      // alphabet, so no collision is possible), uniform over 16 chars:
      // any single noise pair's count is ~4·nD/256, a 60× margin under
      // the smallest planted count 17·nD/16 at every mult.
      writeSingle(spark.range(nD)
        .selectExpr("id AS doc_id", "CAST(id % 16 AS INT) AS j")
        .selectExpr("doc_id", "j",
          "substring('GHIJKLMNOPQRSTUV', j + 1, 1) AS c")
        .selectExpr("doc_id",
          "concat(substring(md5(CAST(doc_id AS STRING)), 1, 5), ' ', " +
            "concat_ws(' ', array_repeat(concat(c, c), 32 - j))) AS text")
        .selectExpr("doc_id", "text", "'en' AS lang", "'s0' AS source",
          "CAST(length(text) AS BIGINT) AS n_chars"),
        s"$work/documents.parquet")
      ()
    }

    // ---- closed forms ---------------------------------------------------
    // pairs of user u: j = u, u+U, u+2U, …; each pair = 2 events
    def pairsOf(u: Long): Long = nP / U + (if (u < nP % U) 1L else 0L)
    val clicks = (nP + 1) / 2  // even j
    val views = nP / 2         // odd j
    val purchases = nP
    val p1 = clicks // matched purchases (their own click 120 s back)
    val p3 = views  // unmatched purchases (lead was a view)
    var verSum = 0L
    var maxE = 0L
    var u = 0L
    while (u < U) {
      val e = 2 * pairsOf(u)
      verSum += e * (e + 1) / 2
      if (e > maxE) maxE = e
      u += 1
    }
    val typeCounts = Map("click" -> clicks, "purchase" -> purchases,
      "view" -> views)
    val GapUs = PurchLagUs // every matched pair's click→purchase gap
    // Σ cents over all events: cents(id) = (id % 1000) * 10
    val centsCycles = nE / 1000
    val centsRem = nE % 1000
    val totCents = 10L * (centsCycles * 499500L + centsRem * (centsRem - 1) / 2)
    // q107: docCnt(j) docs carry token j repeated (32−j) times
    def docCnt(j: Int): Long = nD / NTok + (if (j < nD % NTok) 1L else 0L)
    val pairN = (0 until NTok).map(j => (32L - j) * docCnt(j))
    val totalPairs = 4L * nD + pairN.sum // 5-char noise word = 4 pairs
    val K = graft.functions.FreqSketchAgg.K

    def run(name: String)(check: DataFrame => Unit): Double = {
      val (_, sec) = timed(name) {
        check(graft.SparkEntry.queries(name)(spark, work))
      }
      require(sec <= PerQueryCeiling,
        f"$name took $sec%.1f s > per-query ceiling $PerQueryCeiling%.0f s " +
          "— a streaming scale trap (state leak or per-key quadratic?)")
      sec
    }

    var total = 0.0

    // -- q295: per-source admission quota, 10M events through ONE
    //    ValueState counter per type; ranks are the id-order index
    total += run("q295_stream_quota") { df =>
      val agg = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("k")).as("mxk"),
          sum(col("k")).as("sk"),
          sum(when(col("admitted"), 1L).otherwise(0L)).as("adm"))
        .collect()
      require(agg.length == 3, s"q295: ${agg.length} types, expected 3")
      agg.foreach { r =>
        val t = r.getAs[String]("event_type")
        val n = typeCounts(t)
        require(r.getAs[Long]("n") == n,
          s"q295 $t: ${r.getAs[Long]("n")} rows, closed form $n")
        require(r.getAs[Long]("mxk") == n,
          s"q295 $t: max rank ${r.getAs[Long]("mxk")} != $n")
        require(r.getAs[Long]("sk") == n * (n + 1) / 2,
          s"q295 $t: Σk ${r.getAs[Long]("sk")} != ${n * (n + 1) / 2}")
        require(r.getAs[Long]("adm") == 1000L,
          s"q295 $t: ${r.getAs[Long]("adm")} admitted, cap 1000 must bind")
      }
      println(s"""{"check":"q295_quota","rows":$nE,"types":3,"admitted":3000}""")
    }

    // -- q321: streaming SCD2 — consecutive types always differ, so EVERY
    //    event opens a version; Σ version and Σ valid_from are formulas
    total += run("q321_stream_scd2") { df =>
      // (valid_from − Base) div PairStep = j for lead events and j + 300
      // for purchases (PurchLag is exactly 300 pair steps)
      val lagSteps = PurchLagUs / PairStepUs
      val expVf = nP * (nP - 1) + lagSteps * nP
      val agg = df.agg(count(lit(1)).as("n"), sum(col("version")).as("vs"),
        max(col("version")).as("mv"),
        sum(expr(s"(valid_from_us - $BaseUs) div $PairStepUs")).as("ids"))
        .collect()(0)
      require(agg.getAs[Long]("n") == nE,
        s"q321: ${agg.getAs[Long]("n")} versions, planted $nE")
      require(agg.getAs[Long]("vs") == verSum,
        s"q321: Σ version ${agg.getAs[Long]("vs")} != closed form $verSum")
      require(agg.getAs[Long]("mv") == maxE,
        s"q321: max version ${agg.getAs[Long]("mv")} != $maxE")
      require(agg.getAs[Long]("ids") == expVf,
        s"q321: Σ pair-steps ${agg.getAs[Long]("ids")} != closed form $expVf")
      println(s"""{"check":"q321_scd2","versions":$nE,"version_sum":$verSum}""")
    }

    // -- q97: stream-stream inner join, single-batch body — every slot-1
    //    purchase matches EXACTLY its 250-s-back click, slot-3 never.
    //    The frame is kept persisted for the multiset compare below.
    var q97df: DataFrame = null
    total += run("q97_stream_stream_join") { df =>
      q97df = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val agg = q97df.agg(count(lit(1)).as("n"),
        countDistinct(col("p_id")).as("dp"), sum(col("gap_us")).as("g"))
        .collect()(0)
      require(agg.getAs[Long]("n") == p1,
        s"q97: ${agg.getAs[Long]("n")} matches, closed form $p1")
      require(agg.getAs[Long]("dp") == p1,
        s"q97: ${agg.getAs[Long]("dp")} distinct purchases — not 1:1")
      require(agg.getAs[Long]("g") == p1 * GapUs,
        s"q97: Σ gap ${agg.getAs[Long]("g")} != ${p1 * GapUs}")
      println(s"""{"check":"q97_inner_join","matches":$p1,"gap_us":$GapUs}""")
    }

    // -- q317: LEFT OUTER variant — matched = slot-1, unmatched = slot-3,
    //    every unmatched purchase emits exactly once (watermark-driven)
    total += run("q317_stream_outer_join") { df =>
      val agg = df.agg(count(lit(1)).as("n"),
        countDistinct(col("p_id")).as("dp"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("m"),
        sum(col("gap_us")).as("g"))
        .collect()(0)
      require(agg.getAs[Long]("n") == p1 + p3,
        s"q317: ${agg.getAs[Long]("n")} rows, closed form ${p1 + p3}")
      require(agg.getAs[Long]("dp") == p1 + p3,
        s"q317: ${agg.getAs[Long]("dp")} distinct purchases — dup emission")
      require(agg.getAs[Long]("m") == p1,
        s"q317: ${agg.getAs[Long]("m")} matched, closed form $p1")
      require(agg.getAs[Long]("g") == p1 * GapUs,
        s"q317: Σ gap ${agg.getAs[Long]("g")} != ${p1 * GapUs}")
      println(s"""{"check":"q317_outer_join","matched":$p1,"unmatched":$p3}""")
    }

    // -- q97 state plateau: the SAME ssJoin body over the 6-slab staged
    //    arrival; per-batch state must stay flat and the multi-batch
    //    output must equal the single-batch answer as a multiset
    total += timed("q97_state_probe") {
      val (multi, progs) = Streaming.ssJoinStateWithProgress(spark, work)
      val dataBatches = progs.filter(_.numInputRows > 0)
      val states = dataBatches.map(_.stateOperators.map(_.numRowsTotal).sum)
      require(states.nonEmpty, "probe produced no data batches")
      // retained state ≈ (one slab of watermark lag + the 1 h 10 min
      // horizon) × the click+purchase arrival rate — measured 22,500 at
      // mult=1 against a predicted 22,599; ×1.8 safety. A no-eviction
      // leak holds the FULL cumulative input and blows through this by
      // batch 3 at any mult.
      val cpRows = clicks + purchases
      val spanSec = (nP * PairStepUs + PurchLagUs) / 1000000L
      val slabSec = spanSec / 6
      val horizonSec = 4200L // 1 h watermark + 10 min join window
      val rate = cpRows.toDouble / spanSec
      val stateBound = (((slabSec + horizonSec) * rate) * 1.8).toLong + 100
      val slabRows = cpRows / 6
      val tail = states.drop(1) // batch 1 has no enforced watermark yet
      require(tail.nonEmpty && tail.max <= stateBound,
        s"q97 probe: state ${tail.max} > bound $stateBound — eviction broken?")
      require(tail.last <= tail.head * 3 / 2 + 10,
        s"q97 probe: state grew ${tail.head} → ${tail.last} across batches — leak")
      val m = multi.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      require(m.count() == p1, s"q97 probe: multi-batch count != $p1")
      require(m.exceptAll(q97df).isEmpty,
        "q97 probe: multi-batch output is not the single-batch multiset")
      m.unpersist(); q97df.unpersist()
      println(s"""{"check":"q97_state_plateau","batches":${states.length},""" +
        s""""states":[${states.mkString(",")}],"slab":$slabRows}""")
    }._2

    // -- q159: timer-driven sessions — exactly ONE 2-event session per
    //    pair (120 s inside, 2×10⁵ s between a user's pairs), state
    //    drains once the timers fire
    total += timed("q159_stream_session_timers") {
      val (out, progs) = Streaming.sessionTimersWithProgress(spark, work)
      val agg = out.agg(count(lit(1)).as("n"), sum(col("n_events")).as("ne"),
        max(col("n_events")).as("mxe"),
        sum(round(col("total") * 100).cast("long")).as("cents"),
        sum(expr(s"(unix_micros(session_start) - $BaseUs) div $PairStepUs"))
          .as("su"))
        .collect()(0)
      require(agg.getAs[Long]("n") == nP,
        s"q159: ${agg.getAs[Long]("n")} sessions, planted one per pair ($nP)")
      require(agg.getAs[Long]("ne") == nE && agg.getAs[Long]("mxe") == 2L,
        s"q159: Σ n_events ${agg.getAs[Long]("ne")} != $nE or a session merged pairs")
      require(agg.getAs[Long]("cents") == totCents,
        s"q159: Σ cents ${agg.getAs[Long]("cents")} != $totCents")
      require(agg.getAs[Long]("su") == nP * (nP - 1) / 2,
        s"q159: Σ session starts ${agg.getAs[Long]("su")} != Σ 0..${nP - 1}")
      val states = progs.map(_.stateOperators.map(_.numRowsTotal).sum)
      val activeUsers = math.min(U, nP)
      require(states.nonEmpty && states.max >= activeUsers,
        s"q159: max state ${if (states.isEmpty) -1 else states.max} never covered all $activeUsers active users")
      require(states.last <= 4,
        s"q159: final state ${states.last} — timers must clear every real key " +
          "(only the staged sentinel key may remain)")
      println(s"""{"check":"q159_sessions","sessions":$nP,"drained":true,""" +
        s""""states":[${states.mkString(",")}]}""")
    }._2

    // -- q107: streamed Misra-Gries over 10M+ planted pairs — exact
    //    top-16 is the planted token list, every guarantee boolean holds
    total += run("q107_stream_heavy_hitters") { df =>
      val rows = df.collect()
      require(rows.length == NTok, s"q107: ${rows.length} rows, expected $NTok")
      rows.zipWithIndex.foreach { case (r, j) =>
        val tok = "GHIJKLMNOPQRSTUV".charAt(j).toString * 2
        require(r.getAs[String]("pair") == tok,
          s"q107 row $j: pair ${r.getAs[String]("pair")} != planted $tok")
        require(r.getAs[Long]("n") == pairN(j),
          s"q107 $tok: n ${r.getAs[Long]("n")} != closed form ${pairN(j)}")
        require(r.getAs[Boolean]("is_heavy") == (pairN(j) * K > totalPairs),
          s"q107 $tok: is_heavy disagrees with closed form")
        require(r.getAs[Boolean]("sketch_ok"),
          s"q107 $tok: Misra-Gries guarantee violated at scale")
      }
      println(s"""{"check":"q107_heavy_hitters","pairs":$NTok,"total_pairs":$totalPairs}""")
    }

    println(f"""{"check":"stream_scale_total","sec":$total%.1f,"ceiling":$TotalCeiling%.0f,"events":$nE}""")
    require(total <= TotalCeiling,
      f"StreamScale total $total%.1f s > ceiling $TotalCeiling%.0f s")
    spark.stop()
  }
}
