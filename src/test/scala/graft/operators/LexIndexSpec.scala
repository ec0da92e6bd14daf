package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
import org.apache.spark.sql.functions._

/** q168 (staged inverted index) and q169 (incrementally-maintained
  * postings): physical layout, pruning, delta admission and equality
  * with the in-plan q153 pipeline.
  */
class LexIndexSpec extends SparkSpec {

  private def q153(d: String) =
    graft.SparkEntry.queries("q153_bm25")(spark, d).collect().toSeq

  test("q168: staged serving is bit-identical to q153 and prunes to the query buckets") {
    val expected = q153(sf0001)
    val got = graft.SparkEntry.queries("q168_staged_bm25")(spark, sf0001)
      .collect().toSeq
    assert(got == expected, "staged index must serve the in-plan answer")

    // physical layout: bucket= partition dirs exist on disk
    val postDir = new java.io.File(TextAnalysis.lexStageDir(sf0001) + "/postings")
    val bucketDirs = postDir.listFiles.filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.length > 1, s"expected bucket= dirs in $postDir")

    // the pruned read touches ONLY the query terms' buckets — partition
    // pruning proven on the actual files the scan reads
    val allowed = Seq("spark", "join", "fast", "customer", "order", "line",
      "vector", "window").map(TextAnalysis.lexBucketOf).toSet
    assert(allowed.size < bucketDirs.length,
      "fixture query terms must not cover every bucket or the test is vacuous")
    val touched = TextAnalysis.lexServePruned(spark, TextAnalysis.lexStageDir(sf0001))
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty)
    val touchedBuckets = touched.map { f =>
      "bucket=([0-9]+)".r.findFirstMatchIn(f).get.group(1).toInt
    }.toSet
    assert(touchedBuckets.subsetOf(allowed),
      s"scan read buckets $touchedBuckets outside the query-term set $allowed")
  }

  test("q169: delta admission appends into bucket dirs without touching a base file") {
    graft.Staging.forgetCorpus(sf0001)
    TextAnalysis.lexIncBuild(spark, sf0001)
    val postDir = new java.io.File(TextAnalysis.lexIncStageDir(sf0001) + "/postings")
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(postDir).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val base = files()
    assert(base.nonEmpty)
    TextAnalysis.lexIncAdmit(spark, sf0001)
    val after = files()
    val appended = after.keySet.diff(base.keySet)
    assert(appended.nonEmpty, "admission must add delta files")
    assert(appended.forall(_.matches(".*/bucket=[0-9]+/[^/]+\\.parquet")),
      s"delta files must land inside bucket= partitions: $appended")
    base.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"base file $p was rewritten")
    }

    // serving old+new equals the full-corpus q153 answer (fresh stats)
    val got = graft.SparkEntry.queries("q169_lex_delta")(spark, sf0001)
      .collect().toSeq
    assert(got == q153(sf0001))

    // rebuild after invalidation never double-admits
    spark.catalog.refreshByPath(postDir.getAbsolutePath)
    val staged = spark.read.parquet(postDir.getAbsolutePath).count()
    graft.Staging.forgetCorpus(sf0001)
    val second = graft.SparkEntry.queries("q169_lex_delta")(spark, sf0001)
      .collect().toSeq
    assert(second == got, "rebuild must reproduce the served answer")
    spark.catalog.refreshByPath(postDir.getAbsolutePath)
    assert(spark.read.parquet(postDir.getAbsolutePath).count() == staged,
      "overwrite-on-rebuild must clear old delta files (no double-admit)")
  }

  test("q169: admission work is delta-proportional (doc filter below the explode)") {
    val plan = TextAnalysis
      .lexPostingsOn(spark, sf0001, Some(!TextAnalysis.isBaseDoc))
      .queryExecution.analyzed
    val generates = plan.collect { case g: Generate => g }
    assert(generates.nonEmpty, "postings build explodes the token stream")
    generates.foreach { g =>
      assert(g.child.collectFirst {
        case f: Filter if f.condition.toString.contains("doc_id") => f
      }.isDefined,
        s"the tokenize explode must sit above a doc_id filter:\n$plan")
    }
  }
}
