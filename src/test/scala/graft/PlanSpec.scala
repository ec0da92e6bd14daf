package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Plan-shape assertions: the properties that make these queries scale are
  * not "it returned the right rows" but "Catalyst produced the plan that
  * still works at 1000 executors" — broadcast where intended, filters and
  * projections pushed into the parquet scan, partial aggregation before the
  * exchange. Locking them in as tests so a refactor can't silently turn a
  * broadcast into a shuffle or unprune a scan.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q10: dimension joins are broadcast, no sort-merge exchange") {
    val p = plan("q10_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q11: merge hint forces sort-merge join") {
    assert(plan("q11_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q20: shipdate filter is pushed to the parquet scan") {
    val p = plan("q20_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q29: filtered dims broadcast, date filters pushed, no cartesian") {
    val p = plan("q29_tpch_q3")
    assert(p.contains("BroadcastHashJoin"),
      "the BUILDING-segment customer side must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      "order-date filter must reach the orders scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      "ship-date filter must reach the lineitem scan")
  }

  test("q57: kmv_sketch aggregates partial-before-exchange (ObjectHashAggregate pair)") {
    val p = plan("q57_kmv_agg")
    assert(p.contains("ObjectHashAggregate"),
      "a TypedImperativeAggregate must plan as ObjectHashAggregate")
    assert(p.contains("partial_kmv_sketch"),
      "the sketch must combine map-side: each task ships one O(k) buffer " +
        "per group across the exchange, not its rows")
  }

  test("q79: the eval gram set broadcasts; the train side never shuffles pre-join") {
    val p = plan("q79_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the tiny eval-suite gram set must broadcast so the train-corpus " +
        "probe stays a map-side join")
  }

  test("q01: scan is pruned to the two needed columns") {
    val p = plan("q01_onebrc_events")
    assert(p.contains("ReadSchema: struct<event_type:string,value:double>"))
    assert(!p.contains("props")) // untouched columns never leave the scan
  }

  test("q01: partial+final aggregation pair around the exchange") {
    val p = plan("q01_onebrc_events")
    // two HashAggregates (partial on the scan side, final after shuffle) —
    // the structure the reference hand-rolls with thread-local maps + a
    // mutex merge (SURVEY §3.2)
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("Exchange hashpartitioning(station"))
    // the ≤413-row answer sorts in its one reducer task: no range
    // sampling job and no range exchange
    assert(!p.contains("rangepartitioning"), s"no range exchange:\n$p")
  }

  test("q70: the tiny query side broadcasts; candidates never shuffle") {
    val p = plan("q70_knn_brute")
    assert(p.contains("Broadcast")) // BroadcastNestedLoopJoin for the cross
  }

  test("q19: the custom connector appears as a V2 BatchScan feeding the agg") {
    val p = plan("q19_scan_dsv2")
    assert(p.contains("BatchScan"), "DataSource V2 scan node expected")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "partial+final aggregation must sit directly on the connector scan")
    // the partial aggregate folds into the scan; Spark keeps the merge
    assert(p.contains("BatchScan") && p.contains(
      "PushedAggregation: [MIN(t), SUM(t), COUNT(*), MAX(t)] PushedGroupBy: [station]"),
      s"the brc scan must fold the partials:\n$p")
    assert(!p.contains("rangepartitioning"), s"no range exchange:\n$p")
    // the golden file is under spark.sql.files.openCostInBytes: one task
    val tasks = SparkEntry.queries("q19_scan_dsv2")(spark, sf0001)
      .queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }
    assert(tasks == Seq(1), s"q19 scans its golden file in one task: $tasks")
  }

  test("q45: SQL-text predicates reach the parquet scan") {
    // the SQL front-end must optimize identically to the DataFrame path:
    // all three WHERE conjuncts push into the lineitem scan
    // toString truncates PushedFilters at 100 chars; the formatted explain
    // prints the full list
    val p = SparkEntry.queries("q45_sql_scan_agg")(spark, sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("IsNotNull(l_shipdate), IsNotNull(l_quantity), " +
      "GreaterThanOrEqual(l_shipdate"),
      s"Q6-shape filters must reach the scan:\n$p")
    assert(p.contains("LessThan(l_quantity,24.0)"),
      s"quantity filter must reach the scan:\n$p")
  }

  test("q47: subqueries decorrelate to joins, no per-row execution") {
    // IN → semi-join on the customer dim; correlated EXISTS → semi-join on
    // lineitem. Nothing nested-loops and no subquery survives per-row.
    val p = plan("q47_sql_subqueries")
    assert(p.contains("LeftSemi"), s"IN/EXISTS must become semi-joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no nested-loop fallback:\n$p")
  }

  test("q103: both percentile sketches ride ONE scan and ONE aggregate pair") {
    // the exact and approx percentile aggregates must share a single
    // lineitem scan and a single partial/final ObjectHashAggregate pair —
    // if the two sketches ever split into separate aggregations the query
    // pays a second corpus pass for its own error assertion
    val p = plan("q103_approx_percentile")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"exact+approx must share one scan:\n$p")
    assert(p.contains("ObjectHashAggregate"))
    assert("partial_percentile".r.findAllIn(p).nonEmpty &&
      "partial_approx_percentile".r.findAllIn(p).nonEmpty,
      s"both sketches must combine map-side before the exchange:\n$p")
  }

  test("q22: HLL and exact distinct share one scan; HLL state merges map-side") {
    val p = plan("q22_approx_distinct")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"contract check must not pay a second corpus pass:\n$p")
    assert(p.contains("partial_approx_count_distinct"),
      s"HLL sketch must combine map-side before the exchange:\n$p")
  }

  test("q106: freq_sketch combines map-side; exact side stays a hash aggregate") {
    val p = plan("q106_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"),
      "a TypedImperativeAggregate must plan as ObjectHashAggregate")
    assert(p.contains("partial_freq_sketch"),
      "each task must ship ONE O(K) sketch buffer across the exchange, " +
        "not its rows")
  }

  test("q104: the composed delta pipeline never falls back to a nested loop") {
    // six gate joins over the LSH machinery — all must stay hash/broadcast
    // joins on keys; one accidental non-equi condition would plan a
    // BroadcastNestedLoop that scans delta×corpus at 100 TB
    val p = plan("q104_delta_dedup_full")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no nested-loop fallback in the delta pipeline:\n$p")
  }

  test("q76: weighted-sample top-k is TakeOrdered, not a full sort") {
    // orderBy+limit must plan as TakeOrderedAndProject: each partition
    // keeps k rows, the driver merges — no global sort exchange at scale
    val p = plan("q76_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
  }

  test("q125: WITH RECURSIVE plans as UnionLoop; spine is contiguous") {
    val df = SparkEntry.queries("q125_sql_recursive")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("UnionLoop"),
      s"recursive CTE must plan as Spark 4's UnionLoopExec:\n$p")
    // semantics the recursion exists for: one row per month between the
    // corpus min and max, with zero-order gap months filled (plain GROUP
    // BY cannot produce a group that has no rows)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    val idx = rows.map { case (yr, mon) => yr * 12 + mon - 1 }
    assert(idx.length == idx.max - idx.min + 1,
      "month spine must cover the full [min,max] range with no holes")
    assert(idx.sameElements(idx.min to idx.max),
      "spine must be sorted and contiguous")
  }

  test("q135: funnel stages are monotone and rates are exact basis points") {
    val r = SparkEntry.queries("q135_funnel")(spark, sf0001).collect().head
    val (n1, n2, n3) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n1 >= n2 && n2 >= n3, "each funnel stage can only shrink")
    assert(n2 > 0, "sf0.001 contains at least one view→click user")
    assert(r.getLong(3) == n2 * 10000 / n1)
    assert(r.getLong(4) == n3 * 10000 / n2)
    assert(r.getLong(5) == n3 * 10000 / n1)
  }

  test("q145: both SCD2 windows share one hash exchange") {
    // change detection (lag) and interval close-off (lead) both sort by
    // (user_id; ts, event_id) — a second hashpartitioning exchange would
    // mean the shared-partitioning design regressed
    val p = plan("q145_scd2_history")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"SCD2 must shuffle user_id exactly once:\n$p")
  }

  test("q164: cogroup executes as CoGroup over co-partitioned sides, no join") {
    val p = plan("q164_cogroup")
    assert(p.contains("CoGroup"), s"expected CoGroupExec:\n$p")
    assert(!p.contains("Join"), s"the alignment must not plan a join:\n$p")
    // both sides shuffle on the SAME key expression — co-partitioned
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"expected exactly the two co-partitioning exchanges:\n$p")
  }

  test("q161: salted join partitions on (key, salt) and equals the unsalted join") {
    val p = plan("q161_salted_join")
    // the exchanges feeding the join must carry BOTH the key and the salt
    // — a salt that fell out of the partitioning would rebuild the very
    // hot partition the rewrite exists to break up
    val parts = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(parts.exists(c => c.contains("orderkey") && c.contains("salt")),
      s"no exchange partitions on (key, salt):\n$p")
    val salted = SparkEntry.queries("q161_salted_join")(spark, sf0001)
      .collect().toSeq
    val plain = SparkEntry.queries("q11_join_sortmerge")(spark, sf0001)
      .collect().toSeq
    assert(salted == plain, "salting changed the join result")
  }

  test("q143: composed ANN plan has no cartesian and broadcasts codebooks") {
    val p = plan("q143_ivf_pq_rerank")
    assert(!p.contains("CartesianProduct"),
      s"cell/PQ joins must stay equi or broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "codebook/ADC sides must broadcast")
  }

  test("q137: retention matrix is multi-cohort and offset-0 dominates") {
    // the round-5 fixture was degenerate (weekly cohorts → 1 cohort at
    // the oracle SF, so the cohort join was structurally untested);
    // hourly cohorting must yield several cohorts even at sf0.001
    val rows = SparkEntry.queries("q137_retention_cohorts")(spark, sf0001)
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
    val cohorts = rows.map(_._1).distinct
    assert(cohorts.length >= 3,
      s"retention must exercise >1 cohort; got ${cohorts.length}")
    assert(rows.forall { case (_, k, _) => k >= 0 && k <= 48 })
    // offset 0 counts every cohort member (their first event defines the
    // cohort hour), so it bounds every later offset's distinct-user count
    rows.groupBy(_._1).foreach { case (c, rs) =>
      val byOff = rs.map { case (_, k, n) => k -> n }.toMap
      assert(byOff.contains(0L), s"cohort $c must have an offset-0 cell")
      assert(rs.forall { case (_, _, n) => n <= byOff(0L) },
        s"cohort $c: retention can never exceed cohort size")
    }
  }

  test("q134: pipe-syntax SQL compiles to the same pushed-down shape as ANSI") {
    val p = SparkEntry.queries("q134_sql_pipe")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains(
      "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"),
      s"the |> WHERE step must reach the parquet scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "|> AGGREGATE must plan the partial+final pair")
  }

  test("q131: hourly spine is contiguous per user; LOCF fills exactly the gaps") {
    val rows = SparkEntry.queries("q131_locf_resample")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val hours = rs.map(_._2).sorted
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600000L },
        s"user $u: spine must step by exactly one hour")
      // LOCF law: on an empty hour the carried value equals the previous
      // row's carried value; on a non-empty hour it equals that hour's own
      var prev = Double.NaN
      rs.sortBy(_._2).foreach { case (_, _, n, total, locf) =>
        if (n == 0L) assert(locf == prev, s"user $u: gap must carry forward")
        else assert(locf == total, s"user $u: observed hour must reset LOCF")
        prev = locf
      }
    }
  }

  test("q92: frame sampling is shuffle-free until the final sort") {
    // per-row explode: the only exchange allowed is the sort's range
    // partitioning (plus AQE read nodes) — no hash shuffle anywhere
    val p = plan("q92_frame_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      s"frame sampling must not hash-shuffle:\n$p")
  }

  test("q165: fusion plan — both legs broadcast their query sides, no cartesian") {
    val p = plan("q165_rrf_fusion")
    assert(!p.contains("CartesianProduct"),
      s"fusion must not plan a cartesian:\n$p")
    // the dense leg's query vectors arrive as a broadcast — the corpus
    // side never shuffles toward them
    assert("BroadcastExchange".r.findAllIn(p).length >= 1,
      s"the dense leg should broadcast its query side:\n$p")
    // the lexical leg is the staged served list (ONE BM25 scoring pass
    // for q153/q165/q255 — bm25RankedServed), so it must enter the
    // fusion as a scan of the bm25-ranked stage, not as a re-derivation
    // of the whole scoring pipeline from documents.parquet (whose own
    // broadcast shape is pinned via q153's oracle + the r13 plan dumps)
    val scanned = SparkEntry.queries("q165_rrf_fusion")(spark, sf0001)
      .queryExecution.analyzed
      .collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
      .map(r => java.nio.file.Paths.get(r.toUri).normalize.toString)
    val stage = java.nio.file.Paths.get(Staging.dirFor("bm25-ranked", sf0001))
      .toAbsolutePath.normalize.toString
    assert(scanned.contains(stage),
      s"the lexical leg should scan the bm25-ranked stage $stage: $scanned")
    assert(!scanned.exists(_.endsWith("documents.parquet")),
      s"the lexical leg must not re-derive the ranked lists: $scanned")
  }

  test("q170: late interaction — query tokens broadcast, aggregations partial-before-exchange") {
    val p = plan("q170_late_interaction")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 24-row query-token side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast cartesian over the corpus:\n$p")
    // two-stage max/sum: partial aggregates appear before their exchanges
    assert("partial_max|partial\\s|HashAggregate".r.findAllIn(p).nonEmpty)
  }

  test("q190: anchor side broadcasts — edit distance is one corpus pass") {
    val p = plan("q190_edit_distance")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"per-language anchors must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the anchor join must not shuffle the corpus:\n$p")
  }

  test("q198: hot canonical URLs and hot domains collapse BEFORE the exchange") {
    val p = plan("q198_url_dedup")
    // duplicate canonical URLs partial-aggregate map-side (a viral URL
    // with millions of copies sends one partial per input partition,
    // not millions of rows), and the per-domain cap is the bounded-state
    // ObjectHashAggregate (topk_rows), also partial-before-exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"canonical-URL dedup must be a partial+final pair:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"the domain cap must run topk_rows partial-before-exchange:\n$p")
    assert(!p.contains("Window"),
      s"no per-domain window may hold a domain's keepers:\n$p")
  }

  test("q199: a hot line collapses map-side; rule table of q202 broadcasts") {
    val p = plan("q199_line_dedup")
    // f1 (first-doc per line fingerprint) is min-aggregated: a
    // boilerplate line in millions of docs collapses to one partial per
    // input partition before the fp shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"first-occurrence must partial-aggregate before the exchange:\n$p")
    val p2 = plan("q202_blocklist")
    assert(p2.contains("BroadcastHashJoin"),
      s"the blocklist rule table must broadcast:\n$p2")
    assert(!p2.contains("SortMergeJoin"),
      s"the suffix join must never shuffle the corpus:\n$p2")
  }

  test("q232: Q5 broadcasts dims, pushes the date range, no cartesian") {
    val p = plan("q232_tpch_q5")
    assert(p.contains("BroadcastHashJoin"),
      s"nation/region (and at this SF customer/supplier) must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // upper bound checked via the Filter node text — the scan's
    // PushedFilters list is truncated ("LessThan(o_orderd...") in
    // toString before the second predicate finishes rendering
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("< 1996-01-01"),
      s"the order-date range must reach the orders scan:\n$p")
  }

  test("q233: the 1024-row weight model broadcasts; corpus never sorts") {
    val p = plan("q233_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"the weight table is the model artifact — it must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a shuffled model join would move the corpus for a 1024-row dim:\n$p")
  }

  test("q234: Q13's exclusion filter reaches the orders scan; join stays outer") {
    val p = plan("q234_tpch_q13")
    assert(p.contains("LeftOuter"),
      s"zero-order customers must survive — the join must be left outer:\n$p")
    assert(p.contains("o_orderpriority"),
      s"the exclusion predicate must prune the orders side pre-join:\n$p")
  }

  test("q235: Q21 plans semi + anti probes, never a cartesian") {
    val p = plan("q235_tpch_q21")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as left-semi:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as left-anti:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q238/q239: the query side broadcasts — the corpus never shuffles") {
    for (q <- Seq("q238_int8_recall", "q239_int8_norm_recall")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
        s"$q: the sampled query set must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: a cartesian would shuffle the corpus against itself:\n$p")
    }
  }

  test("q240: the zone-map stats scan is pruned to (event_id, ts)") {
    val p = plan("q240_zonemap_skip")
    assert(!p.contains("props") && !p.contains("event_type"),
      s"untouched event columns must never leave the scan:\n$p")
  }

  test("q243: Q18's top-100 fuses sort+limit — never a global sort") {
    val p = plan("q243_tpch_q18")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject (per-partition " +
        s"top-k + driver merge), not a global Sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"the HAVING quantity rollup must partial-aggregate:\n$p")
  }

  test("q244: Q22's anti-join and 1-row scalar broadcast") {
    val p = plan("q244_tpch_q22")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS urgent-orders must plan as left-anti:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the scalar threshold must ride a broadcast, not a cartesian:\n$p")
  }

  test("q246: all four band configs re-band ONE cached signature frame") {
    val p = plan("q246_lsh_band_sweep")
    assert(p.contains("InMemoryTableScan"),
      s"the signature frame must come from the shared cache, not four " +
        s"recomputed MinHash passes:\n$p")
  }

  test("q256: the linearized CUSUM carries no recursion node") {
    // the WITH RECURSIVE first cut planned a UnionLoop that re-evaluated
    // its CTE chain per day — quadratic in the span (41.8 s at sf0.1);
    // the prefix-min identity must plan as plain windows over the day
    // frame with zero loop operators
    val p = plan("q256_sql_cusum")
    assert(!p.contains("UnionLoop"),
      s"CUSUM must be the windowed identity, not recursion:\n$p")
    assert(p.contains("Window"), s"expected the two day-frame windows:\n$p")
  }

  test("q257: BFS hop plans are lineage-truncated leaves") {
    // each frontier must enter the census as a scanned RDD leaf
    // (localCheckpoint), never as re-inlined join lineage — the
    // visited-union otherwise doubles plan size per hop
    val p = plan("q257_bfs_hops")
    assert(p.contains("Scan ExistingRDD"),
      s"frontiers must be checkpointed leaves:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q259/q264: the bucketed prefix never plans a global window") {
    // the whole point of the 1024-bucket decomposition: every Window
    // operator in the plan carries a partition spec
    Seq("q259_auc", "q264_pareto_frontier").foreach { n =>
      val lp = SparkEntry.queries(n)(spark, sf0001)
        .queryExecution.optimizedPlan
      lp.foreach {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          assert(w.partitionSpec.nonEmpty,
            s"$n: empty-partition window in the AUC/frontier path")
        case _ => ()
      }
    }
  }

  test("q265: both aggregates are map-side combinable, policy is in-row") {
    // the replay eval must be two hash aggregates over one scan — no
    // join for the policy (it is a per-row expression), no sort
    val p = plan("q265_bandit_replay")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin"),
      s"the policy must not join — it is per-row arithmetic:\n$p")
  }

  test("q270: Q6 is a pure pushed scan — no join, all predicates reach parquet") {
    val p = plan("q270_tpch_q6")
    assert(!p.contains("Join"), s"Q6 must not plan any join:\n$p")
    // first pushed predicate + Filter-node text for the rest (the
    // q232 truncation discipline)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"the ship-date bound must reach the lineitem scan:\n$p")
    assert(p.contains("LessThan(l_quantity,24.0)") ||
      p.contains("l_quantity#") && p.contains("< 24.0"),
      s"the quantity cap must be in the scan or the filter:\n$p")
  }

  test("q281: Q19's quantity range is liftable out of the OR for pushdown") {
    val p = plan("q281_tpch_q19")
    // the three OR arms bound l_quantity to [1, 30]; Catalyst can
    // push at least the IsNotNull guards, and the disjunction must
    // evaluate post-join without a cartesian
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      s"part is a broadcast dim in Q19:\n$p")
  }

  test("q311: true Q2 broadcasts the region-supplier dim and the filtered part") {
    val p = plan("q311_tpch_q2_ps")
    assert(p.contains("BroadcastHashJoin"),
      s"supplier⋈nation⋈region collapses to a broadcast before partsupp:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q210: the decoded frame-hash set computes once through exchange reuse, no cache") {
    // the distinct (clip, frame-hash) set feeds the signatures and both
    // sides of the pair join; without a persist, the executed AQE plan
    // must reuse the distinct's exchange, so the AVI files are read and
    // decoded once
    val df = SparkEntry.queries("q210_video_trim_dedup")(spark, sf0001)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val p = full.substring(full.indexOf("== Final Plan =="),
      full.indexOf("== Initial Plan =="))
    assert(p.contains("ReusedExchange"),
      s"the pair sides must reuse the frame-hash exchange:\n$p")
    assert(!p.contains("InMemoryTableScan"), s"no cache on this plan:\n$p")
    val fileScans = p.linesIterator.count(_.contains("Scan binaryFile"))
    assert(fileScans == 1, s"the clips must be read once, found $fileScans:\n$p")
  }

  test("q312: true Q11's per-part value frame computes once (cache), nation broadcasts") {
    val p = plan("q312_tpch_q11_ps")
    assert(p.contains("InMemoryTableScan"),
      s"pv must feed both the scalar total and the filter from ONE cache:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the nation-filtered supplier key set must broadcast:\n$p")
  }

  test("q313: true Q16's NOT-IN is a broadcast left-anti") {
    val p = plan("q313_tpch_q16_ps")
    assert(p.contains("LeftAnti"),
      s"flagged suppliers must exclude via anti-join, never a NOT IN scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"every dim here is broadcast-sized — a shuffle join is a regression:\n$p")
  }

  test("q314: true Q20's correlated gate decorrelates without a cartesian") {
    val p = plan("q314_tpch_q20_ps")
    assert(p.contains("LeftSemi"),
      s"the qualified-supplier set gates the nation dim via semi-join:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the 1997 ship-date range must reach the lineitem scan:\n$p")
  }

  test("q318: the whole SCD2 build rides ONE user_id exchange") {
    // versioning windows (ts order), the (user, version) aggregate and
    // the valid_to lead window all accept hashpartitioning(user_id) —
    // a second exchange anywhere means a requirement regressed
    val p = plan("q318_scd2_build")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected exactly 1 hash exchange (user_id reused end-to-end), got $exchanges:\n$p")
  }

  test("q322: the PIT join is the as-of union+window — no join operator at all") {
    val p = plan("q322_pit_join")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"the as-of reduction must replace the interval join entirely:\n$p")
    assert(p.contains("Window"), s"the last-open-before window is the operator:\n$p")
  }

  test("q299: PPR reuses q128's cached pre-partitioned edge frame") {
    graft.CacheRegistry.release(spark)
    SparkEntry.queries("q128_pagerank")(spark, sf0001).collect()
    val frames128 = graft.CacheRegistry.frames(spark)
    val after128 = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("q299_ppr")(spark, sf0001).collect()
    // ids, not a count: getPersistentRDDs reads a weak-valued map, so a
    // GC between the two reads drops persisted RDDs nothing references
    // any more (another suite's checkpoints on this shared session)
    val fresh = spark.sparkContext.getPersistentRDDs.keySet -- after128
    assert(fresh.isEmpty,
      s"q299 must materialize NO new persisted RDDs (got $fresh) — its " +
        "edges/deg plans are identical to q128's, so CacheManager " +
        "dedupes them onto one exchange")
    assert(frames128.nonEmpty && frames128.forall(_.storageLevel.isValid),
      "q128's registered frames must still be cached after q299")
    assert(graft.CacheRegistry.frames(spark).size == frames128.size,
      "q299 must register no cache entry of its own")
    val p = plan("q299_ppr")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"),
      s"the iteration must read the cached edge frame:\n$p")
  }

  // ---- r13 optimization pins: the iteration joins must keep the O(V)
  // side as the build side. Before the fix the planner BROADCAST the
  // O(E) edge relation into every iteration (5 independent
  // BroadcastExchange of the largest frame in the query, rebuilt per
  // step — plans/r13/q128_pagerank_before.txt); a regression here is
  // invisible to the oracle (same rows) and to fixture-scale timing,
  // so the plan shape is the thing to pin.

  test("q128: iteration joins are shuffled-hash on the rank side, edges never broadcast") {
    val p = plan("q128_pagerank")
    assert(p.contains("ShuffledHashJoin"),
      s"contribution joins must be shuffled-hash (rank vector builds):\n$p")
    val bhjEdges = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhjEdges == 0,
      s"no iteration may broadcast the O(E) edge relation (got $bhjEdges BroadcastHashJoin):\n$p")
    // r14 pin: the per-iteration rank-update left join (deg ⋈ sums) must
    // not fall back to SortMergeJoin — that shape sorted two O(V) frames
    // per iteration (plans/r14/q128_pagerank_before.txt: 5 SMJ + 10 Sort;
    // after: 0 and 0, isolated A/B −24%)
    assert(!p.contains("SortMergeJoin"),
      s"rank-update joins must be shuffled-hash, not sort-merge:\n$p")
  }

  test("q299: zero-mass rank rows are filtered before the contribution join") {
    val p = plan("q299_ppr")
    // discriminating count, not substring presence (r13 ADVICE): the
    // UNFILTERED form carries exactly ONE "> 0" predicate (the final
    // output filter — plans/r13/q299_ppr_before.txt); the per-iteration
    // prefilter lands as one rank-expression "> 0" predicate per
    // iteration (Catalyst folds Filter(r > 0) into the contribution
    // join's condition), so its presence is >= Iters occurrences.
    val rGtZero = "> 0".r.findAllIn(p).size
    assert(rGtZero >= graft.operators.Graph.Iters,
      s"the sparse-PPR prefilter (r > 0 per iteration) is gone — " +
        s"found $rGtZero '> 0' predicates, need >= ${graft.operators.Graph.Iters}:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"contribution joins must be shuffled-hash (rank vector builds):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rank-update joins must be shuffled-hash, not sort-merge:\n$p")
  }
}
