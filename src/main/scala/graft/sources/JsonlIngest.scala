package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JSONL ingest with explicit-schema + corrupt-record discipline — the
  * format training corpora actually arrive in (one JSON object per line,
  * compressed shards). The reference's ingest surface is text/CSV
  * (`rust_1brc/src/main.rs:79-122` reads the `;`-separated line format);
  * this module extends the same lazy, schema-first scan contract to JSONL
  * the way a 100 TB pipeline needs it:
  *
  *  - EXPLICIT schema, never inference: schema inference is a full extra
  *    pass over the corpus before the first real one. At scale you declare
  *    the contract and let malformed data surface as data, not a crash.
  *  - PERMISSIVE + `_corrupt_record`: a broken line becomes a row with
  *    null fields and the raw line preserved in the corrupt column, so
  *    ingest quantifies its losses instead of dying mid-job (FAILFAST) or
  *    silently shrinking (DROPMALFORMED). The spec pins all three modes.
  *  - The corrupt accounting and the per-source stats come from ONE
  *    aggregation pass: grouping on `when(_corrupt_record isNotNull,
  *    '_corrupt') otherwise source` references data columns alongside the
  *    corrupt column, which also sidesteps Spark's restriction on queries
  *    that project ONLY the internal corrupt column (those require
  *    caching the parsed frame — this shape doesn't).
  *
  * The stage (documents re-serialized as JSONL plus a shard with exactly
  * [[NBadLines]] planted malformed lines) is a [[graft.Staging]] stage:
  * written once per corpus (single-flight, keyed by md5 of the canonical
  * corpus path), durable across restarts under `-Dgraft.stage.dir`,
  * forgotten with the corpus. The oracle then binds the full contract:
  * every real line must parse (per-source counts/token sums/id ranges
  * match the parquet truth) and exactly the planted lines must land in
  * `_corrupt`.
  */
object JsonlIngest {

  /** Planted malformed lines — deliberately broken at the JSON level
    * (truncated object, bare text, mismatched bracket) so PERMISSIVE
    * classifies the LINE as corrupt rather than null-filling fields. */
  val BadLines: Seq[String] = Seq(
    """{"doc_id": 999999999, "text": "truncated""",
    "not json at all",
    "[}")
  val NBadLines: Int = BadLines.length

  /** JSONL stage for corpus `d`: docs as JSON lines + the planted-bad
    * shard. */
  def stage(s: SparkSession, d: String): String = {
    val dir = graft.Staging.dirFor("jsonl", d)
    graft.Staging.once(dir) {
      graft.Tables.t(s, d, "documents")
        .write.mode("overwrite").json(s"$dir/docs")
      import s.implicits._
      BadLines.toDF("value").coalesce(1)
        .write.mode("overwrite").text(s"$dir/docs_bad")
    }
    dir
  }

  /** The documents contract, declared — plus the corrupt-record column. */
  val DocSchema =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  /** Parsed JSONL frame over the stage, PERMISSIVE with corrupt capture. */
  def readJsonl(s: SparkSession, dir: String): DataFrame =
    s.read.schema(s"$DocSchema, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/docs", s"$dir/docs_bad")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q117_jsonl_ingest" -> ((s, d) => {
      val dir = stage(s, d)
      readJsonl(s, dir)
        .groupBy(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("source")).as("source"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
            .as("tokens"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars"),
          min(col("doc_id")).as("id_min"),
          max(col("doc_id")).as("id_max"))
        .orderBy("source")
    })
  )

  /** The parsed rows must reproduce the parquet truth EXACTLY (any real
    * line misread as corrupt shrinks a source group AND inflates the
    * corrupt row — both hash-visible), and the corrupt row must hold
    * exactly the planted lines with null-propagated stats. */
  val oracle: Map[String, String] = Map(
    "q117_jsonl_ingest" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS chars,
         |  min(doc_id) AS id_min, max(doc_id) AS id_max
         |FROM documents GROUP BY source
         |UNION ALL
         |SELECT '_corrupt', $NBadLines, 0, 0, NULL, NULL
         |ORDER BY source""".stripMargin
  )
}
