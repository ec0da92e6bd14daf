package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** XML sink+scan parity — the third interchange format after parquet/ORC
  * (q121) and JSONL (q117). Feed corpora still arrive as XML dumps
  * (Wikipedia, PubMed, arXiv metadata); Spark 4 folds the former
  * spark-xml package into core as a first-class `format("xml")` source,
  * so the engine speaks it with the same FileScan machinery — no new
  * operator, just a new container. The reference has no XML surface
  * (its only ingest is the `;`-text and parquet paths,
  * `python_1brc/main.py:11-24`); this is capability-envelope coverage.
  *
  * The query re-serializes the corpus through the XML writer (one `<doc>`
  * row element per document), scans it back through the XML reader with
  * an EXPLICIT schema (the q117/q121 schema-first contract — inference is
  * a wasted corpus pass), and must reproduce the parquet truth exactly:
  * group stats AND the q121 16-bit-per-doc md5 content signature, so a
  * single text byte lost to escaping/trimming anywhere in the
  * write→escape→parse cycle is hash-visible against the oracle, which
  * reads the parquet ORIGINALS.
  *
  * Honest domain note: XML 1.0 cannot carry control characters
  * (0x00–0x08, 0x0b, 0x0c, 0x0e–0x1f), and the reader's default
  * `ignoreSurroundingSpaces=true` trims value-edge whitespace. The
  * corpus is verified clean on both (no control bytes, no edge
  * whitespace — XmlIngestSpec pins the markup-escaping path with `&<>"`
  * fixtures instead). A production feed with control bytes would stage
  * through base64 (`unbase64(base64(text))`), documented here rather
  * than silently applied.
  *
  * Stage lifecycle = a [[graft.Staging]] stage: written once per corpus
  * (single-flight, keyed by md5 of the canonical corpus path), durable
  * across restarts under `-Dgraft.stage.dir`, forgotten with the corpus.
  *
  * Scale notes: XML is a ROW format like JSONL — no column pruning, no
  * predicate pushdown into the scan (XmlIngestSpec shows the scan reads
  * every field; the same spec shows ORC pruning on identical data), so
  * the 100 TB posture is "ingest once, convert to columnar": q138 IS that
  * conversion pass, XML in → columnar truth out. Reads still parallelize
  * by file split (multiple part files from the staged write), and rowTag
  * framing lets the parser find record boundaries mid-split.
  */
object XmlStage {

  /** XML stage for corpus `d`: documents re-serialized as `<doc>` row
    * elements. */
  def stage(s: SparkSession, d: String): String = {
    val dir = graft.Staging.dirFor("xml", d)
    graft.Staging.once(dir) {
      graft.Tables.t(s, d, "documents")
        .write.mode("overwrite")
        .option("rootTag", "corpus").option("rowTag", "doc")
        .format("xml").save(s"$dir/docs")
    }
    dir
  }

  def readXml(s: SparkSession, dir: String): DataFrame =
    s.read.schema(OrcStage.DocSchema)
      .option("rowTag", "doc")
      .format("xml").load(s"$dir/docs")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q138_xml_ingest" -> ((s, d) => {
      val dir = stage(s, d)
      readXml(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens"),
          sum(col("n_chars")).as("chars"),
          sum(conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
            .as("content_sig"))
        .orderBy("source", "lang")
    })
  )

  /** Oracle reads the parquet ORIGINALS — equality binds the whole
    * write→escape→parse→read cycle (same contract as q121). */
  val oracle: Map[String, String] = Map(
    "q138_xml_ingest" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(
        |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096 +
        |    (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1)
        |  ) AS BIGINT) AS content_sig
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
