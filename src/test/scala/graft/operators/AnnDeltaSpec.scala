package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
import org.apache.spark.sql.functions._

/** q151 — the incrementally-maintained ANN index. The contract has four
  * legs: admission work is proportional to the delta (plan-pinned);
  * appended files land inside the existing cell= partitions without
  * touching one base file (file-list-pinned); queries see old+new; and
  * an invalidated index rebuilds cleanly (no double-admit).
  */
class AnnDeltaSpec extends SparkSpec {

  private def files(dir: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("q151: delta admission appends into cell= dirs, base files untouched") {
    graft.Staging.forgetCorpus(sf0001)
    val codesDir = new java.io.File(Similarity.annIncStageDir(sf0001) + "/codes")

    Similarity.annIncBuild(spark, sf0001)
    val baseFiles = files(codesDir)
    assert(baseFiles.nonEmpty, "base build must materialize the index")

    Similarity.annIncAdmit(spark, sf0001)
    val afterFiles = files(codesDir)
    // every base file survives admission byte-identical in place
    assert(baseFiles.forall { case (p, len) => afterFiles.get(p).contains(len) },
      "admission must not rewrite or resize any base file")
    val appended = afterFiles.keySet -- baseFiles.keySet
    assert(appended.nonEmpty, "admission must append delta files")
    assert(appended.forall(_.matches(".*/cell=[0-9]+/[^/]+\\.parquet")),
      s"delta files must land inside cell= partitions: $appended")

    // the staged index now covers old+new: every corpus vector has its
    // M=4 codes exactly once
    val n = graft.Tables.t(spark, sf0001, "embeddings").count()
    val staged = spark.read.parquet(codesDir.getAbsolutePath)
    assert(staged.count() == 4 * n, "base+delta codes, one row per (vec, m)")
    assert(staged.select("vec_id").distinct().count() == n)
    val deltaStaged = staged
      .filter(col("vec_id") % Similarity.AnnDeltaMod === Similarity.AnnDeltaRem)
      .select("vec_id").distinct().count()
    assert(deltaStaged > 0, "delta vectors must be queryable after admission")
  }

  test("q151: admission work is delta-proportional (filter below explode)") {
    val deltaPred =
      (col("vec_id") % Similarity.AnnDeltaMod) === Similarity.AnnDeltaRem
    // analyzed plan, not optimized: the encode/assign subtrees are
    // registry-cached, so the optimized tree collapses them into
    // InMemoryRelation leaves and the Generate nodes vanish from view
    val plan = Similarity.annIncCodesWithCells(spark, sf0001, deltaPred)
      .queryExecution.analyzed
    val generates = plan.collect { case g: Generate => g }
    assert(generates.nonEmpty, "encode path explodes the embedding")
    // the three ADMISSION-side explodes (PQ encode, codebook, cell
    // assignment) must each sit ABOVE a vec_id filter: per-vector
    // encode/assign work never touches a base vector. The remaining
    // unfiltered explodes belong to the base-TRAINED centroid chain —
    // training, which is registry-cached and amortized, not admission.
    val filteredExplodes = generates.count { g =>
      g.child.collectFirst {
        case f: Filter if f.condition.toString.contains("vec_id") => f
      }.isDefined
    }
    assert(filteredExplodes >= 3,
      s"encode/codebook/assignment explodes must be vec_id-filtered " +
        s"below the Generate (found $filteredExplodes):\n$plan")
  }

  test("q151: serves old+new; rebuild after invalidation never double-admits") {
    val first = graft.SparkEntry.queries("q151_ann_delta")(spark, sf0001)
      .collect().toSeq
    assert(first.nonEmpty)
    // results genuinely mix the two populations at this corpus size
    val resultIds = first.map(_.getLong(1)).toSet
    assert(resultIds.exists(_ % Similarity.AnnDeltaMod == Similarity.AnnDeltaRem),
      s"top-10s should surface some delta vectors here: $resultIds")
    assert(resultIds.exists(_ % Similarity.AnnDeltaMod != Similarity.AnnDeltaRem),
      s"top-10s should surface some base vectors here: $resultIds")

    val codesDir = new java.io.File(Similarity.annIncStageDir(sf0001) + "/codes")
    val staged = spark.read.parquet(codesDir.getAbsolutePath).count()
    graft.Staging.forgetCorpus(sf0001)
    val second = graft.SparkEntry.queries("q151_ann_delta")(spark, sf0001)
      .collect().toSeq
    assert(second == first, "rebuild must reproduce the served answer")
    spark.catalog.refreshByPath(codesDir.getAbsolutePath)
    val restaged = spark.read.parquet(codesDir.getAbsolutePath).count()
    assert(restaged == staged,
      "overwrite-on-rebuild must clear old delta files (no double-admit)")
  }

  test("staging: durable marker survives a simulated restart; forget rebuilds") {
    val key = graft.Staging.dirFor("spec-durable", sf0001) + "/x"
    graft.Staging.forget(key)
    var builds = 0
    // the write must leave data at the key path, like every real stage —
    // a marker with no data behind it is treated as STALE and rebuilt
    // (StageCrashSpec pins that path)
    def build(): Unit = graft.Staging.once(key) {
      builds += 1
      val f = new java.io.File(key)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, "data")
    }
    build(); build()
    assert(builds == 1, "single-flight within a JVM")
    graft.Staging.dropMemoForTest(key)
    build()
    assert(builds == 1,
      "the on-disk marker must carry 'already staged' across JVMs")
    graft.Staging.forget(key)
    build()
    assert(builds == 2, "forget must force a rebuild")
  }
}
