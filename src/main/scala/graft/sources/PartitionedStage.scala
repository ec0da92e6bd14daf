package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-partitioned corpus layout — THE deployment shape for a 100 TB
  * document store: data written once under `lang=<v>/` directories so
  * every downstream query that filters on the partition key reads only
  * its directories (partition PRUNING — the scan never opens, lists, or
  * deserializes the other partitions' files; at 1000 executors the
  * pruned partitions cost zero tasks, zero bytes). Static pruning here;
  * the runtime twin (dynamic partition pruning off a dimension join) is
  * asserted live in ScaleTechniquesSpec.
  *
  * q130 re-serializes the corpus `partitionBy(lang)`, scans it back with
  * a partition-key filter, and must reproduce the parquet originals'
  * answer EXACTLY (same content-signature discipline as the ORC
  * roundtrip, q121) — so the oracle equality binds writer layout, hive
  * partition discovery, partition-value decoding, and the pruned read.
  * PartitionedStageSpec pins `PartitionFilters` in the executed plan and
  * that exactly one of the five lang directories is read.
  *
  * Stage lifecycle = a [[graft.Staging]] stage: written once per corpus
  * (single-flight, keyed by md5 of the canonical corpus path), durable
  * across restarts under `-Dgraft.stage.dir`, forgotten with the corpus.
  */
object PartitionedStage {

  /** Partitioned stage for corpus `d`: documents re-written under
    * `lang=<v>/` hive directories. */
  def stage(s: SparkSession, d: String): String = {
    val dir = graft.Staging.dirFor("part", d)
    graft.Staging.once(dir) {
      graft.Tables.t(s, d, "documents")
        .write.mode("overwrite").partitionBy("lang")
        .parquet(s"$dir/docs")
    }
    dir
  }

  def readPartitioned(s: SparkSession, dir: String): DataFrame =
    // hive partition discovery infers `lang` from the directory names;
    // the data columns keep their explicit parquet schema
    s.read.parquet(s"$dir/docs")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_partitioned_scan" -> ((s, d) => {
      val dir = stage(s, d)
      readPartitioned(s, dir)
        .filter(col("lang") === "en") // partition-key filter → pruning
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
            .as("content_sig"))
        .orderBy("source")
    })
  )

  /** Oracle reads the parquet ORIGINALS with the same predicate —
    * equality binds the whole partitioned write→discover→prune→read
    * cycle against the unpartitioned truth. */
  val oracle: Map[String, String] = Map(
    "q130_partitioned_scan" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(
        |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096 +
        |    (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1)
        |  ) AS BIGINT) AS content_sig
        |FROM documents WHERE lang = 'en'
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
