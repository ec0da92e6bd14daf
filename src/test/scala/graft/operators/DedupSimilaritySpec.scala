package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {

  test("q62 n-gram jaccard finds the planted near-dup pairs") {
    val pairs = Dedup.queries("q62_ngram_jaccard")(spark, sf0001).collect()
    assert(pairs.nonEmpty, "testdata contains jaccard>=0.8 near-dups")
    assert(pairs.forall(r => r.getDouble(2) >= Dedup.JaccardThreshold))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("q63 minhash-LSH candidates are a subset of exact-jaccard pairs") {
    val exact = Dedup.queries("q62_ngram_jaccard")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.queries("q63_minhash_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    // 16 hashes / 4 bands at J>=0.8: expected recall ~88%+; require some hit
    assert(lsh.nonEmpty, "LSH should recover at least one near-dup pair")
  }

  test("q147 fuzzy decontamination: cross-membership only, best is argmax") {
    val evalSrc = Set("src0", "src1", "src2")
    val srcOf = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.queries("q63_minhash_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = Dedup.queries("q147_fuzzy_decontaminate")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty, "testdata plants cross-source near-dups")
    got.foreach { case (doc, _, jac, evalDoc) =>
      assert(!evalSrc(srcOf(doc)), s"$doc must be a TRAIN doc")
      assert(evalSrc(srcOf(evalDoc)), s"$evalDoc must be an EVAL doc")
      assert(jac >= Dedup.JaccardThreshold)
    }
    // independent model from the q63 pair frame
    val expect = pairs.flatMap { case (i, j, jac) =>
      (evalSrc(srcOf(i)), evalSrc(srcOf(j))) match {
        case (true, false) => Some((j, i, jac))
        case (false, true) => Some((i, j, jac))
        case _             => None
      }
    }.groupBy(_._1).map { case (doc, ms) =>
      val best = ms.map { case (_, e, jc) => (jc, e) }.max
      (doc, ms.length.toLong, best._1, best._2)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expect,
      s"fuzzy decontamination != pair-frame model:\n got=${got.toSeq}\n exp=$expect")
  }

  test("q69 clustering closes chains: A~B, B~C => one cluster, min-id keeper") {
    import spark.implicits._
    // a 4-link chain, a 2-cycle-plus-tail, and an isolated pair — the
    // shapes pairwise thresholds alone cannot resolve into delete lists
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain: all -> 1
      (20L, 21L), (21L, 22L), (20L, 22L),     // triangle: all -> 20
      (30L, 31L)                              // pair: both -> 30
    ).toDF("i", "j")
    val got = Dedup.clustersFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("q69 on the corpus: keepers are cluster minima and cover all pair members") {
    val labels = Dedup.queries("q69_dedup_clusters")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.queries("q63_minhash_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && labels.nonEmpty)
    // every pair member is labeled, both ends agree, keeper <= member
    pairs.foreach { case (i, j) =>
      assert(labels(i) == labels(j), s"pair ($i,$j) split across clusters")
      assert(labels(i) <= i && labels(j) <= j)
    }
    // each keeper is a member of its own cluster
    labels.values.toSet.foreach((k: Long) => assert(labels(k) == k))
  }

  test("q69 edge cases: empty pair set and a chain deeper than the old round cap") {
    import spark.implicits._
    // empty pairs (clean corpus): empty cluster frame, not an NPE from the
    // NULL sum-of-labels convergence witness
    val none = Dedup.clustersFromPairs(
      Seq.empty[(Long, Long)].toDF("i", "j")).collect()
    assert(none.isEmpty)
    // a 40-link chain needs 40 neighbor-min rounds but only ~6 with the
    // pointer-jumping hop — must fully converge, not silently truncate
    val chain = (0L until 40L).map(k => (k, k + 1)).toDF("i", "j")
    val got = Dedup.clustersFromPairs(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 40L).map(_ -> 0L).toMap)
  }

  test("property: clustersFromPairs matches union-find on random graphs") {
    import spark.implicits._
    // the distributed min-label fixpoint vs a local union-find reference,
    // on seeded random edge sets (self-loop-free, with duplicates and
    // multi-component shapes)
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 4) {
      val n = 30 + rnd.nextInt(60)
      val edges = Seq.fill(n + rnd.nextInt(n)) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = touched.groupBy(v => find(v.toInt))
        .values.flatMap { comp =>
          val keeper = comp.min
          comp.map(v => v -> keeper)
        }.toMap
      val got = Dedup.clustersFromPairs(edges.toDF("i", "j")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial=$trial n=$n edges=${edges.size}")
    }
  }

  test("invalidateClusters picks up an in-session corpus rewrite") {
    // the staged frames (shingles/pairs/labels) reflect the corpus at
    // first materialization — after overwriting the files in-session,
    // invalidateClusters must drop the memo AND refresh the path-derived
    // cache entries so the next run sees the new data
    val dir = tempDir("graft_inval").toString
    val full = spark.read.parquet(s"$sf0001/documents.parquet")
    full.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the staged source queries (ORC q121, partitioned q130) must follow
    // the rewrite too — every stage of the corpus, whatever its namespace
    val staged = Seq(graft.sources.OrcStage.queries("q121_orc_ingest"),
      graft.sources.PartitionedStage.queries("q130_partitioned_scan"))
    def rows(d: String) = staged.map(_(spark, d).collect().toSeq)
    val stagedBefore = rows(dir)
    val before = Dedup.nearDupClusters(spark, dir).count()
    assert(before > 0)
    // rewrite: keep every doc that is NOT a near-dup pair member, so the
    // new corpus has strictly fewer clusterable docs, and drop one source
    val members = Dedup.nearDupClusters(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rewritten = full.filter(!col("doc_id").isin(members.toSeq: _*) &&
      col("source") =!= "src0")
    rewritten.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fresh = tempDir("graft_inval_fresh").toString
    rewritten.write.parquet(s"$fresh/documents.parquet")
    Dedup.invalidateClusters(spark, dir)
    val after = Dedup.nearDupClusters(spark, dir).count()
    assert(after < before,
      s"rewrite removed all $before pair members but recompute saw $after")
    // booleans, not row dumps, in the failure messages
    val stagedAfter = rows(dir)
    val changed = stagedAfter != stagedBefore
    assert(changed, "dropping a source must change q121/q130")
    val matchesFresh = stagedAfter == rows(fresh)
    assert(matchesFresh,
      "staged queries after invalidation must equal a fresh copy's answers")
  }

  test("q64 simhash near-dup pairs overlap jaccard near-dups") {
    val sim = Dedup.queries("q64_simhash")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.queries("q62_ngram_jaccard")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty && exact.nonEmpty)
    assert(sim.intersect(exact).nonEmpty,
      "16-bit simhash at hamming<=3 should catch some jaccard near-dups")
  }

  test("q64 pairs are a superset of q68: shared banding, looser 16-bit payload") {
    // q64's candidate generation reuses q68's 4×16-bit band keys; its
    // hamming payload is band 0 alone, and bit_count(b0⊕b0') ≤ total
    // 64-bit hamming — so every q68 pair must also be a q64 pair. This
    // pins the re-keyed blocking (the retired 2×8-bit hi/lo scheme did
    // NOT have this property: it missed band-straddling pairs).
    val p64 = Dedup.queries("q64_simhash")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p68 = Dedup.queries("q68_simhash64")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p68.nonEmpty && p64.nonEmpty)
    assert(p68.subsetOf(p64),
      s"q68 pairs missing from q64: ${p68.diff(p64).take(5)}")
  }

  test("q104 refines q78: corpus-gate verdicts agree, only 'new' docs get re-classified") {
    // q104 = q78 + the within-batch stage, so the two must agree on the
    // corpus gates: any doc q78 rejects keeps the same verdict in q104,
    // and q104 may only move docs q78 admitted ('new') into the
    // *_in_delta categories. Drift here would mean the composed pipeline
    // silently re-ordered its gates.
    val v78 = Dedup.queries("q78_delta_dedup")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val v104 = Dedup.queries("q104_delta_dedup_full")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v78.keySet == v104.keySet)
    v78.foreach { case (id, v) =>
      if (v == "new")
        assert(Set("new", "exact_dup_in_delta", "near_dup_in_delta")(v104(id)),
          s"doc $id: q78=new but q104=${v104(id)}")
      else assert(v104(id) == v, s"doc $id: q78=$v but q104=${v104(id)}")
    }
  }

  test("q104 delta-dedup verdicts: every branch fires on an engineered corpus") {
    // sf0.01 (the driver's verify SF) happens to contain no delta-internal
    // dups, so the within-batch branches are pinned here on a corpus built
    // to exercise all five verdicts. Delta membership is doc_id % 5 == 4.
    import spark.implicits._
    val dir = tempDir("graft_q104").toString
    def words(seed: String, n: Int): Seq[String] =
      (0 until n).map(k => s"$seed$k")
    val base = words("w", 60).mkString(" ") // 60 tokens -> 56 shingles
    // swap the last token: only the final shingle (p=56) differs per
    // side, so J = 55/57 ≈ 0.965 — comfortably above the 0.8 threshold
    // (the at-threshold regime is exercised in DedupScale)
    val nearOfBase = (words("w", 59) :+ "zz").mkString(" ")
    val docs = Seq(
      (1L, base),                          // corpus
      (2L, words("x", 60).mkString(" ")),  // corpus
      (4L, base.toUpperCase),              // delta: exact_dup (normalized fp)
      (9L, nearOfBase),                    // delta: near_dup (vs corpus doc 1)
      (14L, words("y", 60).mkString(" ")), // delta: keeper of the fp pair
      (19L, words("y", 60).mkString(" ")), // delta: exact_dup_in_delta (vs 14)
      (24L, words("v", 60).mkString(" ")), // delta: keeper of the near pair
      (29L, (words("v", 59) :+ "kk").mkString(" ")), // delta: near_dup_in_delta
      (34L, words("z", 60).mkString(" "))  // delta: new
    ).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.queries("q104_delta_dedup_full")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      4L -> "exact_dup", 9L -> "near_dup",
      14L -> "new", 19L -> "exact_dup_in_delta",
      24L -> "new", 29L -> "near_dup_in_delta",
      34L -> "new"), s"got $got")
  }

  test("q68 64-bit simhash banding has perfect recall at hamming<=3") {
    // the pigeonhole claim, checked against brute force: every pair whose
    // TRUE 64-bit hamming distance is <=3 must be found by the 4-band
    // blocking (one band must be untouched when at most 3 bits differ)
    val out = Dedup.queries("q68_simhash64")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute force: rebuild the per-doc band values, cross all pairs
    val tok = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("th", md5(col("token")))
    val sAggs = (0 until 64).map(j => sum(col("cnt") * (expr(
      s"((instr('0123456789abcdef', substring(th, ${j / 4 + 1}, 1)) - 1) div ${1 << (j % 4)}) % 2")
      * 2 - 1)).as(s"s$j"))
    val sims = tok.groupBy(col("doc_id")).agg(sAggs.head, sAggs.tail: _*)
      .select(col("doc_id") +: (0 until 4).map(k =>
        (0 until 16).map(p =>
          when(col(s"s${16 * k + p}") > 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).as(s"b$k")): _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getLong).toArray).toMap
    val bruteClose = for {
      (i, ba) <- sims.toSeq; (j, bb) <- sims.toSeq if i < j
      h = (0 until 4).map(k => java.lang.Long.bitCount(ba(k) ^ bb(k))).sum
      if h <= Dedup.HammingMax
    } yield (i, j, h.toLong)
    assert(out.toSet == bruteClose.toSet,
      "banded blocking must find exactly the brute-force hamming<=3 pairs")
  }

  test("cosine_sim expression matches higher-order-function formulation") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
    val a = e.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val hof = (ea: org.apache.spark.sql.Column, eb: org.apache.spark.sql.Column) => {
      val dot = aggregate(zip_with(ea, eb,
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, v) => s + v)
      val na = aggregate(transform(ea, x => x.cast("double") * x.cast("double")),
        lit(0.0), (s, v) => s + v)
      val nb = aggregate(transform(eb, x => x.cast("double") * x.cast("double")),
        lit(0.0), (s, v) => s + v)
      dot / (sqrt(na) * sqrt(nb))
    }
    val diffs = a.crossJoin(b).where(col("i") < col("j"))
      .select((expr("cosine_sim(ea, eb)") - hof(col("ea"), col("eb"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diffs < 1e-12, s"codegen vs HOF cosine diff $diffs")
  }

  test("q70 brute-force knn: 10 neighbors per query, ranked by cosine") {
    val knn = Similarity.queries("q70_knn_brute")(spark, sf0001).collect()
    assert(knn.length == 50) // 5 queries x 10 neighbors
    knn.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "descending cos")
    }
  }

  test("q71 LSH pairs all meet the cosine threshold and are deterministic") {
    val r1 = Similarity.queries("q71_ann_lsh")(spark, sf0001).collect()
    val r2 = Similarity.queries("q71_ann_lsh")(spark, sf0001).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    assert(r1.forall(_.getDouble(2) >= Similarity.CosThreshold))
  }

  test("q111 bloom prefilter: identical rows to q79, might_contain below the join") {
    val q79 = Dedup.queries("q79_decontaminate")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val df = Dedup.queries("q111_bloom_decontaminate")(spark, sf0001)
    assert(df.collect().map(_.toString).toSeq == q79,
      "bloom is a prefilter: no false negatives, FPs removed by the join")
    val p = df.queryExecution.executedPlan.toString
    val filterAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("Join")
    assert(filterAt >= 0, "the bloom prefilter must survive optimization")
    assert(joinAt >= 0 && filterAt > joinAt,
      "might_contain must sit BELOW the exact join (map-side prefilter)")
  }

  test("q110 semantic dedup: in-cell min-id keepers, cross-cell pairs out of scope") {
    import spark.implicits._
    // engineered embedding corpus: seeds 0..31 are one-hot basis vectors
    // over dims 0..31 (so cell assignment is exact); 100/101 duplicate
    // seed 0's direction, 102 duplicates seed 1's; 104/105 share a strong
    // common component in dims 32+ (cos = 0.9 with EACH OTHER) but their
    // weak seed components land them in DIFFERENT cells — SemDeDup's
    // documented recall trade-off says that pair must NOT be emitted.
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(Similarity.Dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val w = (32 until 64).map(i => i -> 3.0f / math.sqrt(32).toFloat)
    val rows =
      (0 until Similarity.SemK).map(k => k.toLong -> vec(k -> 1.0f)) ++
        Seq(100L -> vec(0 -> 1.0f), 101L -> vec(0 -> 1.0f),
          102L -> vec(1 -> 1.0f),
          104L -> vec((w :+ (2 -> 1.0f)): _*),
          105L -> vec((w :+ (3 -> 1.0f)): _*))
    val dir = tempDir("graft_semdedup").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.queries("q110_semantic_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((100L, 0L, 0L, 1.0), (101L, 0L, 0L, 1.0),
      (102L, 1L, 1L, 1.0)), got.mkString(", "))
    // the cross-cell near-identical pair is absent by design
    assert(!got.exists(r => r._1 == 105L || r._2 == 104L))
  }

  test("q115 multi-probe: catches the cross-cell pair q110 misses, keepers only shrink") {
    import spark.implicits._
    // q110's engineered corpus, with 104/105 given a COMMON weak second
    // component on seed-dim 4: their strong shared direction (dims 32+,
    // cos ≈ 0.902 with each other) still lands their NEAREST cells apart
    // (2 vs 3), but both probe cell 4 second — the multi-probe rendezvous.
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(Similarity.Dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val w = (32 until 64).map(i => i -> 3.0f / math.sqrt(32).toFloat)
    val rows =
      (0 until Similarity.SemK).map(k => k.toLong -> vec(k -> 1.0f)) ++
        Seq(100L -> vec(0 -> 1.0f), 101L -> vec(0 -> 1.0f),
          102L -> vec(1 -> 1.0f),
          104L -> vec((w ++ Seq(2 -> 1.0f, 4 -> 0.5f)): _*),
          105L -> vec((w ++ Seq(3 -> 1.0f, 4 -> 0.5f)): _*))
    val dir = tempDir("graft_semprobe").toString
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.queries("q115_semantic_multiprobe")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(r => (r._1, r._2)).toSeq ==
      Seq((100L, 0L), (101L, 0L), (102L, 1L), (105L, 104L)),
      got.mkString(", "))
    // the rendezvous pair scores its true (cross-cell) cosine
    val cross = got.find(_._1 == 105L).get
    assert(cross._3 > 0.9 && cross._3 < 0.91, cross.toString)
    // and single-probe q110 indeed cannot see it (regression-pins the gap)
    val q110 = Similarity.queries("q110_semantic_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(!q110.contains(105L), "q110 must still miss the cross-cell pair")
  }

  test("q115 vs q110 on the corpus: dup superset, per-dup keeper never grows") {
    val q110 = Similarity.queries("q110_semantic_dedup")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q115 = Similarity.queries("q115_semantic_multiprobe")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q110.keySet.subsetOf(q115.keySet),
      s"multi-probe must not lose dups: ${q110.keySet -- q115.keySet}")
    q110.foreach { case (dup, keeper) =>
      assert(q115(dup) <= keeper, s"dup $dup: keeper grew ${q115(dup)} > $keeper")
    }
  }

  test("q110 plan: codebook broadcasts; candidates meet on cell, never n²") {
    val df = Similarity.queries("q110_semantic_dedup")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), "seed codebook must broadcast")
    assert(!p.contains("CartesianProduct"),
      "within-cell self-join must be an equi-join on cell")
    assert(df.collect().nonEmpty, "sf0.001 contains at least one semantic dup")
  }

  test("q100 PQ: top-k complete per query, ADC distances exact and ordered") {
    val rows = Similarity.queries("q100_pq_ann")(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q must return 10 neighbors")
      val ds = rs.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, "ascending dist")
      assert(ds.forall(_ >= 0L))
      // ties on ad_nano must break by ascending vec_id (the rn order)
      val tied = rs.filter(r => r.getLong(2) == ds.head).map(_.getLong(1))
      assert(tied.sorted.sameElements(tied), "tie-break by vec_id")
    }
  }

  test("q127 rerank: results drawn from the PQ shortlist, recall >= PQ-only") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.t(spark, sf0001, "embeddings")
    // exact ground truth: brute-force cosine top-10 per query (q70's shape)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val exact = broadcast(q).crossJoin(e)
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rer = Similarity.queries("q127_ann_rerank")(spark, sf0001).collect()
    val pq = Similarity.queries("q100_pq_ann")(spark, sf0001).collect()
    val rerByQ = rer.groupBy(_.getLong(0))
    assert(rerByQ.keySet == Set(0L, 1L, 2L))
    rerByQ.foreach { case (qid, rs) =>
      assert(rs.length == 10, s"query $qid must return 10 reranked rows")
      // structural: every reranked row came from the 25-deep PQ shortlist
      assert(rs.forall(_.getLong(2) <= 25L), "ad_rn must be a shortlist rank")
      // exact cosine strictly descending in rn (ties broken by vec_id)
      val cs = rs.sortBy(_.getLong(4)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // the rerank's reason to exist: against exact ground truth it can only
    // match or beat the PQ-only top-10 (it reorders a superset by the true
    // metric); measured at sf0.001 it strictly beats it for >= 1 query
    val recall = (res: Map[Long, Set[Long]]) =>
      exact.map { case (qid, g) => (res(qid) & g).size }.sum
    val rerSets = rerByQ.view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val pqSets = pq.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(recall(rerSets) >= recall(pqSets),
      s"rerank recall ${recall(rerSets)} < PQ recall ${recall(pqSets)}")
  }

  test("q129 k-means training equals an in-memory integer Lloyd model") {
    import org.apache.spark.sql.functions._
    val K = 8; val Iters = 3
    val vecs = graft.Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .sortBy(_._1)
    val n = vecs.length
    val dim = vecs.head._2.length
    def nano(x: Double): Long = math.round(x * 1e9)
    var cent: Array[Array[Long]] =
      vecs.take(K).map(_._2.map(nano)) // seeds = first K vectors
    var members: Array[Long] = Array.fill(K)(0L)
    for (_ <- 1 to Iters) {
      val asg = vecs.map { case (_, x) =>
        val dists = cent.map { c =>
          var s = 0L
          var i = 0
          while (i < dim) {
            val dxy = x(i) - c(i) / 1e9
            s += math.round(dxy * dxy * 1e9); i += 1
          }
          s
        }
        dists.zipWithIndex.minBy { case (dn, k) => (dn, k) }._2
      }
      val sums = Array.fill(K, dim)(0L)
      val cnt = Array.fill(K)(0L)
      vecs.zip(asg).foreach { case ((_, x), k) =>
        cnt(k) += 1
        var i = 0
        while (i < dim) { sums(k)(i) += nano(x(i)); i += 1 }
      }
      cent = Array.tabulate(K, dim) { (k, i) =>
        if (cnt(k) == 0) cent(k)(i) else sums(k)(i) / cnt(k) // Java / = div
      }
      members = cnt
    }
    val got = Similarity.queries("q129_kmeans_train")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == K * dim)
    val exp = for (k <- 0 until K; i <- 0 until dim)
      yield (k.toLong, i.toLong, cent(k)(i), members(k))
    assert(got.toSeq == exp,
      "distributed k-means != in-memory integer Lloyd model")
    // every vector is assigned somewhere on the final step
    assert(members.sum == n.toLong)
  }
}
