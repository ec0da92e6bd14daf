package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-scale proof for q203's triangle pipeline (the DedupScale analog
  * for the graph family): generate a ~1M-edge co-occurrence graph with a
  * PLANTED exact triangle count, run the IDENTICAL q203 query end to end,
  * and gate its two 100 TB claims against the planted truth:
  *
  *  (a) the hot-bucket cap BINDS — the generator plants one bucket of
  *      [[HotSize]] users (> TriBucketCap); if the cap ever stopped
  *      filtering, the exact n_edges gate would see that bucket's
  *      C(60,2) = 1770 extra edges (and its C(60,3) = 34,220 extra
  *      triangles would blow the estimate gate too);
  *  (b) the DOULION 1/32-sampled estimate lands within a documented
  *      relative error of the true count: with T ≈ 12.7M planted
  *      triangles the estimator's relative σ is √(p⁻³/T) ≈ 5%, so the
  *      gate allows 15% (≈3σ). The md5 sampling is deterministic, so a
  *      pass is stable run-to-run — the gate can be tight without flaking.
  *
  * Planted structure (all pure id arithmetic, like DedupScale's corpus):
  * [[CliqueSize]]-user buckets sit EXACTLY at the cap (the boundary the
  * cap must keep), each an independent clique of C(40,2) = 780 edges and
  * C(40,3) = 9880 triangles on a disjoint user range; 2-user NOISE
  * buckets add one cross-clique edge each, with every user in at most
  * one noise edge — so a noise edge's endpoints share no neighbor and
  * noise adds ZERO triangles (truth stays Σ C(40,3)); one HOT bucket of
  * 60 disjoint users must be dropped whole.
  *
  * Usage: runMain graft.operators.TriScale [nCliques] [workDir] [--skip-gen]
  * (default 1282 cliques ⇒ 1,000,601 kept edges).
  */
object TriScale {

  val CliqueSize = 40L // == Graph.TriBucketCap — kept, at the boundary
  val HotSize = 60L    // > cap — must be dropped whole

  /** Deterministic events-shaped table: one (event_type, hour) bucket per
    * clique (hours 0..nCliques-1), the hot bucket at hour nCliques, noise
    * buckets at hours nCliques+1+j. User ranges per clique are disjoint
    * (clique k owns k*100000 + 0..39; the hot bucket owns its own range). */
  def generate(spark: SparkSession, nCliques: Long): DataFrame = {
    require(CliqueSize == Graph.TriBucketCap,
      "planted cliques must sit exactly at the q203 cap boundary")
    val hourTs = (h: org.apache.spark.sql.Column) =>
      timestamp_micros(h * 3600L * 1000000L)
    val cliques = spark.range(nCliques)
      .select(col("id").as("k"),
        explode(sequence(lit(0L), lit(CliqueSize - 1))).as("u"))
      .select((col("k") * 100000L + col("u")).as("user_id"),
        lit("e").as("event_type"), hourTs(col("k")).as("ts"))
    val hot = spark.range(HotSize)
      .select((lit(nCliques) * 100000L + col("id")).as("user_id"),
        lit("e").as("event_type"), hourTs(lit(nCliques)).as("ts"))
    val nNoise = nCliques / 2
    val noise = spark.range(nNoise).select(col("id").as("j"))
      .select(explode(array(
        (col("j") * 2) * 100000L + pmod(col("j"), lit(CliqueSize)),
        (col("j") * 2 + 1) * 100000L
          + pmod(col("j") * 7 + 3, lit(CliqueSize)))).as("user_id"),
        lit("e").as("event_type"),
        hourTs(lit(nCliques) + 1 + col("j")).as("ts"))
    cliques.unionByName(hot).unionByName(noise)
  }

  def main(args: Array[String]): Unit = {
    val nCliques = args.headOption.map(_.toLong).getOrElse(1282L)
    val work = args.drop(1).headOption.filterNot(_.startsWith("--"))
      .getOrElse("/tmp/graft_tri_scale")
    val skipGen = args.contains("--skip-gen")
    val spark = graft.GraftSession()
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"phase":"$phase","sec":$sec%.2f,"n_cliques":$nCliques}""")
      r
    }

    if (!skipGen) timed("gen") {
      generate(spark, nCliques).repartition(32)
        .write.mode("overwrite").parquet(s"$work/events.parquet")
    }

    // the IDENTICAL q203 pipeline, pointed at the planted graph
    val row = timed("q203") {
      Graph.queries("q203_triangles")(spark, work).collect()(0)
    }
    val (nEdges, nSampled, triSampled, est) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))

    // planted ground truth, pure arithmetic
    val cliqueEdges = CliqueSize * (CliqueSize - 1) / 2
    val expectedEdges = nCliques * cliqueEdges + nCliques / 2
    val hotEdges = HotSize * (HotSize - 1) / 2
    val truth = nCliques * (CliqueSize * (CliqueSize - 1) * (CliqueSize - 2) / 6)

    // (a) cap binding: the exact edge count EXCLUDES the hot bucket; a
    // broken cap shows up as exactly +1770 edges (and the estimate gate
    // explodes). Also prove the trap exists: the raw data really does
    // contain a bucket past the cap.
    val maxBucket = graft.Tables.events(spark, work)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("h"))
      .distinct()
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("m"))
      .agg(max(col("m"))).collect()(0).getLong(0)
    println(s"""{"check":"cap_binding","n_edges":$nEdges,"expected":$expectedEdges,"hot_bucket_users":$maxBucket,"hot_edges_excluded":$hotEdges}""")
    require(maxBucket == HotSize,
      s"planted hot bucket missing from the data: max bucket $maxBucket")
    require(nEdges == expectedEdges,
      s"edge count $nEdges != planted $expectedEdges — the hot-bucket " +
        s"cap did not bind (a broken cap adds exactly $hotEdges edges)")

    // (b) DOULION estimate accuracy vs the planted truth
    val relErr = math.abs(est - truth).toDouble / truth
    val sigma = math.sqrt(
      math.pow(Graph.TriSampleDenom.toDouble, 3) / truth)
    println(f"""{"check":"doulion_estimate","truth":$truth,"estimate":$est,"sampled_triangles":$triSampled,"sampled_edges":$nSampled,"rel_err":$relErr%.4f,"rel_sigma":$sigma%.4f}""")
    require(triSampled > 0, "no sampled triangles — estimator degenerate")
    require(relErr <= 3 * sigma,
      f"estimate $est is $relErr%.3f away from planted truth $truth " +
        f"(gate: 3 sigma = ${3 * sigma}%.3f)")

    spark.stop()
  }
}
