package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each module contributes a `queries` map (operator demonstrations over the
  * /root/testdata tables) and an `oracle` map (DuckDB-equivalent ANSI SQL
  * the driver hash-compares against at sf0.01). Queries without an oracle
  * entry get the weaker rows-only check and say why in their module.
  */
object SparkEntry {
  /** Flagship 1BRC query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    onebrc.OneBrc.brcAgg(
      onebrc.OneBrc.stationsFromEvents(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs the graft function catalog on the session it is given, so
    * a caller's own session needs no setup. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (onebrc.OneBrc.queries ++
      operators.Relational.queries ++
      operators.SqlEntry.queries ++
      operators.Dedup.queries ++
      operators.Graph.queries ++
      operators.Layout.queries ++
      operators.Similarity.queries ++
      operators.TextAnalysis.queries ++
      operators.Multimodal.queries ++
      sources.JsonlIngest.queries ++
      sources.OrcStage.queries ++
      sources.XmlStage.queries ++
      sources.PartitionedStage.queries ++
      sources.BucketedStage.queries ++
      sources.CompactionStage.queries ++
      sources.SchemaEvolutionStage.queries ++
      streaming.Streaming.queries).map { case (name, q) =>
        name -> ((s: SparkSession, d: String) => { GraftExtensions.install(s); q(s, d) })
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys => rows-only check. */
  def oracleSql: Map[String, String] =
    onebrc.OneBrc.oracle ++
      operators.Relational.oracle ++
      operators.SqlEntry.oracle ++
      operators.Dedup.oracle ++
      operators.Graph.oracle ++
      operators.Layout.oracle ++
      operators.Similarity.oracle ++
      operators.TextAnalysis.oracle ++
      operators.Multimodal.oracle ++
      sources.JsonlIngest.oracle ++
      sources.OrcStage.oracle ++
      sources.XmlStage.oracle ++
      sources.PartitionedStage.oracle ++
      sources.BucketedStage.oracle ++
      sources.CompactionStage.oracle ++
      sources.SchemaEvolutionStage.oracle ++
      streaming.Streaming.oracle
}
