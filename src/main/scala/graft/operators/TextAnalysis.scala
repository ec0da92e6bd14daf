package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text analysis over `documents` (BASELINE.json north-star: language-ID,
  * quality scoring, token counting, document fingerprinting).
  *
  * Everything is expression-level (codegen'd `functions._` / higher-order
  * functions over the token array) — no UDFs in the hot path, so at 100 TB
  * these stay single-pass scans with map-side aggregation.
  */
object TextAnalysis {

  /** Poisson(1) inverse-CDF thresholds in basis points (cumulative
    * e⁻¹/k! rounded to 1e-4), computed once here and embedded as the
    * SAME literals in q250's Spark expression and DuckDB oracle — the
    * q246/q247 constant discipline for transcendental-derived values.
    * A uniform u ∈ [0, 10000) maps to multiplicity k via the first
    * threshold above it; the tail collapses to k = 6 (P ≈ 6e-5). */
  private val PoissonCdfBp: Seq[Long] = {
    val pmf = (0 to 5).scanLeft(math.exp(-1.0)) {
      case (p, k) => p / (k + 1)
    }.take(6) // e⁻¹/k! for k = 0..5
    pmf.scanLeft(0.0)(_ + _).tail.map(c => math.round(c * 10000))
  }

  private val Stopwords = Seq("the", "a")
  // marker-token vocabularies for the n-gram/stopword language heuristic
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "los", "y", "que"),
    "fr" -> Seq("le", "les", "et", "une"))

  private def inList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** Token budget for sequence packing (q88; reused by q77's final
    * stage) — one constant, one packing definition, so the two can
    * never drift. */
  val PackBudget = 2048L

  /** BM25 retrieval query set (q153): (query_id, term) pairs. ONE shared
    * definition renders both the Spark literal frame and the oracle's
    * VALUES list, so the two sides cannot drift. */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "join", 0L -> "fast",
    1L -> "customer", 1L -> "order", 1L -> "line",
    2L -> "vector", 2L -> "window")
  private def bm25ValuesSql: String =
    Bm25Queries.map { case (q, term) => s"($q, '$term')" }.mkString(", ")

  /** Distinct BM25 query ids — q165's dense leg uses the embedding with
    * vec_id == query_id as the query vector, so the hybrid fusion joins
    * the two ranked lists on a shared (query_id, doc_id) key space. */
  private[operators] def bm25QueryIds: Seq[Long] =
    Bm25Queries.map(_._1).distinct

  /** Corpus postings (doc_id, term, tf) for the docs `pred` selects —
    * the inverted-index build/admission frame. The predicate applies
    * BEFORE the explode, so per-token work is proportional to the
    * selected subset (q169's delta-admission contract). */
  private[operators] def lexPostingsOn(s: SparkSession, d: String,
      pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    val docs0 = t(s, d, "documents")
    val docs = pred.map(docs0.filter).getOrElse(docs0)
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
  }

  /** BM25 scoring tail shared by q153 (postings derived in-plan), q168
    * (postings read from the staged bucket-partitioned index) and q169
    * (the incrementally-maintained index): given the postings source and
    * the doc-length table, broadcast the query set onto the postings,
    * compute df only for query terms, and rank the micro-unit-exact
    * scores. ONE definition — the arithmetic cannot drift between the
    * in-plan and index-served forms. */
  private def bm25Serve(s: SparkSession, post: DataFrame,
      dl: DataFrame): DataFrame = {
    import s.implicits._
    bm25ServeOn(s, post, dl, Bm25Queries.toDF("query_id", "term"))
  }

  /** q218's known-item eval over any (doc_id, text, ...) frame —
    * factored so RetrievalEvalSpec can feed an engineered corpus with
    * planted unique terms through the IDENTICAL harness the query runs.
    * Queries: every 13th doc, its 4 rarest distinct tokens; relevant
    * item: the source doc itself; metrics: target_rank (0 = miss),
    * integer-micro reciprocal rank, hit@10. */
  private[operators] def knownItemEvalOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val (tf, dl, queries) = knownItemFrames(docs)
    knownItemEvalFrom(queries, bm25ServeOn(s, tf, dl, queries))
  }

  /** The q218 metric tail over a prebuilt ranked frame — factored (r14)
    * so the corpus query serves the staged ranked lists while
    * RetrievalEvalSpec keeps feeding engineered corpora through
    * [[knownItemEvalOn]]. */
  private def knownItemEvalFrom(queries: DataFrame,
      ranked: DataFrame): DataFrame = {
    val hit = ranked.where(col("doc_id") === col("query_id"))
      .select(col("query_id"), col("rk").as("tr"))
    queries.select(col("query_id")).distinct()
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("tr"), lit(0L)).as("target_rank"),
        coalesce(expr("1000000 div tr"), lit(0L)).as("rr_micro"),
        col("tr").isNotNull.as("hit10"))
  }

  /** The known-item ranked lists for the CORPUS documents, staged once
    * per corpus ([[graft.Staging.frame]]) — ONE scoring pass serves
    * q218's rank eval and q258's NDCG (r14; they previously each
    * executed the identical bm25ServeOn pipeline and re-analyzed its
    * full lineage per construction). At 100 TB the ranked lists are
    * eval-sized (10 rows/query) — exactly the intermediate a production
    * eval stage materializes. */
  private def knownItemRankedServed(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "ki-ranked", d) {
      val (tf, dl, queries) = knownItemFrames(t(s, d, "documents"))
      bm25ServeOn(s, tf, dl, queries)
    }

  /** q233's hashed-linear score frame (doc_id, n_tokens,
    * logit_sum_micro, p_nano, keep) — factored so q259's AUC evaluates
    * the IDENTICAL scores the classifier emits. */
  private[operators] def qualityScoresOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val w = s.range(1024).toDF("bucket")
      .withColumn("w_micro", expr(
        "CAST(conv(substring(md5(concat('w_', CAST(bucket AS STRING))), " +
          "1, 8), 16, 10) AS BIGINT) % 2000001 - 1000000"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 1024"))
      .join(broadcast(w), "bucket")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("w_micro")).as("logit_sum_micro"))
      .withColumn("p_nano", expr(
        "CAST(round(1e9 / (1.0 + exp(-(CAST(logit_sum_micro AS DOUBLE) " +
          "/ n_tokens / 1e6)))) AS BIGINT)"))
      .withColumn("keep", col("p_nano") >= lit(500000000L))
  }

  /** q259: fixed quantization width splitting the [0, 1e9] score range
    * into 1024 buckets (976563·1024 > 1e9, so bucket ∈ 0..1023). */
  private[operators] val AucBucketW = 976563L

  /** Exact tie-aware AUC over a (score BIGINT ≥ 0, label BOOLEAN)
    * frame — the Mann-Whitney statistic with no global window: score-
    * level aggregate → 1024-bucket histogram → broadcast self-join
    * prefix across buckets + per-bucket window within. Returns one row
    * (n_pos, n_neg, pairs2, auc_micro) with pairs2 = 2·Σ[s⁺>s⁻] +
    * Σ[s⁺=s⁻]. Requires both classes non-empty (integer div). */
  private[operators] def aucOn(labeled: DataFrame): DataFrame = {
    val sg = labeled.groupBy(col("score"))
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("label"), 0L).otherwise(1L)).as("n_neg"))
      .withColumn("bucket", expr(s"score div $AucBucketW"))
      .transform(graft.CacheRegistry.cached)
    val bk = sg.groupBy(col("bucket")).agg(sum(col("n_neg")).as("bn_neg"))
      .transform(graft.CacheRegistry.cached)
    val below = bk.select(col("bucket"))
      .join(bk.select(col("bucket").as("b2"), col("bn_neg").as("nn2")),
        col("b2") < col("bucket"), "left_outer")
      .groupBy(col("bucket"))
      .agg(coalesce(sum(col("nn2")), lit(0L)).as("nbb"))
    val wv = Window.partitionBy(col("bucket")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sg.withColumn("nbw", coalesce(sum(col("n_neg")).over(wv), lit(0L)))
      .join(below, Seq("bucket"))
      .agg(sum(col("n_pos")).cast("bigint").as("n_pos"),
        sum(col("n_neg")).cast("bigint").as("n_neg"),
        sum(col("n_pos") * (lit(2L) * (col("nbb") + col("nbw"))
          + col("n_neg"))).cast("bigint").as("pairs2"))
      .select(col("n_pos"), col("n_neg"), col("pairs2"),
        expr("CAST((pairs2 * 1000000) div (2 * n_pos * n_neg) AS BIGINT)")
          .as("auc_micro"))
  }

  /** The corpus + known-item query frames (postings, doc lengths, the
    * every-13th-doc 4-rarest-terms query set) — factored so q218's
    * rank eval and q258's graded NDCG consume the IDENTICAL inputs. */
  private def knownItemFrames(
      docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .transform(graft.CacheRegistry.cached)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val termDf = tf.groupBy(col("term")).agg(count(lit(1)).as("qdf"))
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("qdf"), col("term"))
    val queries = docs
      .where(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("term"))
      .distinct()
      .join(termDf, "term")
      .withColumn("tr_rk", row_number().over(qw))
      .where(col("tr_rk") <= 4)
      .select(col("query_id"), col("term"))
      .transform(graft.CacheRegistry.cached)
    (tf, dl, queries)
  }

  /** q258: discount weights 1/log2(r+1), r = 1..10, as nanounit
    * literals computed ONCE in Scala (StrictMath) and embedded in both
    * engines' texts — `pow`/`log` on data is never cross-engine-safe
    * (the q255 discipline). */
  private val NdcgWNano: IndexedSeq[Long] = (1 to 10).map(r =>
    Math.round(1e9 * StrictMath.log(2.0) / StrictMath.log(r + 1.0)))

  /** One CASE text valid in BOTH Spark SQL and DuckDB — rank → nano
    * discount weight. */
  private def ndcgWCase(rkCol: String): String =
    s"CASE $rkCol " + NdcgWNano.zipWithIndex.map { case (w, i) =>
      s"WHEN ${i + 1} THEN CAST($w AS BIGINT)" }.mkString(" ") + " END"

  /** Graded gain 2^rel − 1 for rel ∈ 1..4 (a doc can match at most the
    * query's 4 terms) — explicit CASE, one text for both engines. */
  private def ndcgGainCase(relCol: String): String =
    s"CASE $relCol WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7 " +
      s"WHEN 4 THEN 15 END"

  /** q258's NDCG@10 over the known-item corpus — graded relevance =
    * number of the query's 4 terms the doc contains (derivable ground
    * truth, no labels), ranked lists from the IDENTICAL q153/q218
    * scoring body. All arithmetic exact: integer gains × nano-literal
    * discounts, ndcg_micro = dcg·1e6 div idcg (both positive). */
  private[operators] def ndcgEvalOn(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val (tf, dl, queries) = knownItemFrames(docs)
    ndcgEvalFrom(tf, queries, bm25ServeOn(s, tf, dl, queries))
  }

  /** The q258 NDCG tail over a prebuilt ranked frame (factored r14, the
    * knownItemEvalFrom rationale). */
  private def ndcgEvalFrom(tf: DataFrame, queries: DataFrame,
      ranked: DataFrame): DataFrame = {
    val rel = tf.select(col("doc_id"), col("term"))
      .join(broadcast(queries), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("rel"))
      .transform(graft.CacheRegistry.cached)
    val dcg = ranked.join(rel, Seq("query_id", "doc_id"))
      .select(col("query_id"),
        (expr(ndcgGainCase("rel")) * expr(ndcgWCase("rk"))).as("t"))
      .groupBy(col("query_id"))
      .agg(sum(col("t")).cast("bigint").as("dcg_nano"))
    val iw = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = rel.withColumn("irk", row_number().over(iw))
      .where(col("irk") <= 10)
      .select(col("query_id"),
        (expr(ndcgGainCase("rel")) * expr(ndcgWCase("irk"))).as("t"))
      .groupBy(col("query_id"))
      .agg(sum(col("t")).cast("bigint").as("idcg_nano"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"), col("dcg_nano"), col("idcg_nano"),
        expr("CAST((dcg_nano * 1000000) div idcg_nano AS BIGINT)")
          .as("ndcg_micro"))
  }

  /** As [[bm25Serve]] but with the (query_id, term) frame a parameter —
    * q218's known-item eval reuses the IDENTICAL scoring arithmetic
    * over its per-document query set (one definition, no drift). */
  private def bm25ServeOn(s: SparkSession, post: DataFrame,
      dl: DataFrame, queries: DataFrame): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val dfq = post
      .join(broadcast(queries.select(col("term")).distinct), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // idf * tf-normalization, spelled with the oracle's exact
    // parenthesization so both engines run the identical double ops
    val avgdl = col("tot").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    // r13 optimization, two equivalence-preserving moves (guide §1.2):
    // (1) c(term, doc) does not depend on query_id, so the idf/tfn double
    //     math (incl. a log() per row) runs ONCE per posting of a query
    //     term — measured 116k rows at sf0.1 — instead of once per
    //     (query, term, doc) joined row (5.8M rows: every posting was
    //     re-scored for every query sharing the term). The per-query join
    //     then attaches precomputed BIGINT c values; identical inputs →
    //     identical doubles → identical rounded c → identical sums, and
    //     every consumer's DuckDB oracle (which still scores the joined
    //     form) hash-certifies the regrouping.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    val contrib = post
      .join(broadcast(dfq), "term")
      .join(dl, "doc_id").crossJoin(stats)
      .withColumn("c", round(idf * tfn * lit(1e6)).cast("long"))
      .select(col("term"), col("doc_id"), col("c"))
    contrib.join(broadcast(queries), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_micro"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("doc_id"), col("score_micro"), col("rk"))
  }

  /** The q153 BM25 pipeline up to the per-query ranked list
    * (query_id, doc_id, score_micro, rk<=10) — shared by q153 and the
    * RRF fusion q165 so the lexical leg cannot drift between them.
    * Distributed shape documented at the q153 use site. */
  private[operators] def bm25Ranked(s: SparkSession, d: String): DataFrame = {
    val tf = lexPostingsOn(s, d, None)
      // postings feed dl, df AND the scoring join, and are read only
      // inside the bm25-ranked stage build: checkpointed, so nothing
      // outlives the build
      .transform(graft.Staging.checkpoint)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    bm25Serve(s, tf, dl)
  }

  /** [[bm25Ranked]] staged once per corpus ([[graft.Staging.frame]],
    * r14): ONE scoring pass serves q153's output, q165's lexical leg
    * and q255's RBO leg — the three consumers previously each executed
    * (and re-analyzed) the identical pipeline. The frame is 10 rows per
    * query; sharing the served LIST (not a re-derivation) also makes the
    * "agreement can never drift from the fusion" contract literal. */
  private[operators] def bm25RankedServed(s: SparkSession,
      d: String): DataFrame =
    graft.Staging.frame(s, "bm25-ranked", d)(bm25Ranked(s, d))

  // ---- q168/q169: the inverted index as a STAGED artifact --------------

  /** Number of term-hash buckets the staged postings partition by —
    * serving prunes to the buckets of the query's terms, so a query
    * touches ~|terms|/16 of the index files. Production sizes this to
    * thousands; 16 keeps the fixture layout inspectable. */
  val LexBuckets = 16

  /** bucket = first md5 nibble of the term — Spark column form and the
    * driver-side literal form (for plan-time partition pruning) of the
    * SAME formula. */
  private def lexBucketCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 1), 16, 10).cast("int")
  private[operators] def lexBucketOf(term: String): Int =
    Integer.parseInt(java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.substring(0, 1), 16)

  def lexStageDir(d: String): String = graft.Staging.dirFor("lexidx", d)
  def lexIncStageDir(d: String): String = graft.Staging.dirFor("lex-inc", d)

  /** q169's delta split of the document corpus — doc_id ≡ 4 (mod 5) is
    * the arriving batch (the q78/q151 convention applied to postings). */
  val LexDeltaMod = 5
  val LexDeltaRem = 4
  def isBaseDoc: org.apache.spark.sql.Column =
    (col("doc_id") % LexDeltaMod) =!= LexDeltaRem

  /** Write postings (bucket-partitioned) + doclen for the docs `pred`
    * selects into `dir` with the given save mode — the shared body of
    * the full build (q168), base build and delta admission (q169). */
  private def lexWrite(s: SparkSession, d: String,
      pred: Option[org.apache.spark.sql.Column], dir: String,
      mode: String): Unit = {
    // two writes, two jobs: checkpoint so the postings compute once
    val tf = graft.Staging.checkpoint(lexPostingsOn(s, d, pred))
    tf.withColumn("bucket", lexBucketCol(col("term")))
      .write.mode(mode).partitionBy("bucket").parquet(s"$dir/postings")
    tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .write.mode(mode).parquet(s"$dir/doclen")
  }

  /** q168 step: materialize the full-corpus inverted index once. */
  def lexBuild(s: SparkSession, d: String): Unit =
    graft.Staging.once(s"${lexStageDir(d)}@full") {
      lexWrite(s, d, None, lexStageDir(d), "overwrite")
    }

  /** q169 step 1: materialize the BASE index (overwrite on rebuild so an
    * invalidated index can never double-admit its old delta files). */
  def lexIncBuild(s: SparkSession, d: String): Unit =
    graft.Staging.once(s"${lexIncStageDir(d)}@base") {
      lexWrite(s, d, Some(isBaseDoc), lexIncStageDir(d), "overwrite")
    }

  /** q169 step 2: admit the DELTA — postings computed from the delta
    * docs alone (filter below the explode), APPENDED into the matching
    * bucket= partitions; doclen rows appended. No base-file rewrite.
    * `onceAppend`: crash-safe exactly-once admission via the pre-append
    * manifest (see Staging.onceAppend; StageCrashSpec pins it). */
  def lexIncAdmit(s: SparkSession, d: String): Unit =
    graft.Staging.onceAppend(s"${lexIncStageDir(d)}@delta",
      Seq(s"${lexIncStageDir(d)}/postings", s"${lexIncStageDir(d)}/doclen")) {
      lexWrite(s, d, Some(!isBaseDoc), lexIncStageDir(d), "append")
    }

  /** Serve BM25 from a staged index dir: static partition pruning to the
    * query terms' buckets (a plan-time literal IN over the partition
    * column — zero tasks on every other bucket), then the shared scoring
    * tail. Exposed for the spec's pruning assertions. */
  private[operators] def lexServePruned(s: SparkSession, dir: String): DataFrame = {
    val qBuckets = Bm25Queries.map(_._2).distinct
      .map(lexBucketOf).distinct.sorted
    s.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(qBuckets: _*))
      .select(col("doc_id"), col("term"), col("tf"))
  }
  private def lexServe(s: SparkSession, dir: String): DataFrame =
    bm25Serve(s, lexServePruned(s, dir), s.read.parquet(s"$dir/doclen"))

  /** DuckDB CTE chain mirroring [[bm25Ranked]] (ends at `ranked`,
    * unfiltered) — q153's oracle appends its final SELECT; q165's oracle
    * appends the dense leg and the fusion. ONE text, zero drift. */
  /** The BM25 CTE chain with the query-set CTE a parameter (must bind
    * `q(query_id, term)`) — one arithmetic text for q153/q168/q169 and
    * q218's known-item query set. */
  private[operators] def bm25CtesWithQ(qCte: String): String =
    s"""$qCte,
       |tokens AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS tot FROM dl),
       |df AS (SELECT term, count(*) AS df FROM tf
       |       JOIN (SELECT DISTINCT term FROM q) USING (term) GROUP BY term),
       |contrib AS (
       |  SELECT query_id, doc_id,
       |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl
       |          / (CAST(tot AS DOUBLE) / n_docs))))
       |      * 1e6) AS BIGINT) AS c
       |  FROM tf JOIN q USING (term) JOIN df USING (term)
       |  JOIN dl USING (doc_id) CROSS JOIN stats),
       |scored AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
       |           FROM contrib GROUP BY 1, 2),
       |ranked AS (SELECT query_id, doc_id, score_micro,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rk FROM scored)""".stripMargin

  private[operators] def bm25CtesSql: String =
    bm25CtesWithQ(s"q(query_id, term) AS (VALUES $bm25ValuesSql)")

  /** The known-item query-set CTE (every 13th doc, 4 rarest terms) —
    * ONE text for q218's rank eval and q258's NDCG oracle. */
  private val knownItemQCte =
    """qdf AS (
      |  SELECT term, count(DISTINCT doc_id) AS qdf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents) tt
      |  GROUP BY term),
      |q(query_id, term) AS (
      |  SELECT query_id, term FROM (
      |    SELECT query_id, term,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY qdf, term) AS tr_rk
      |    FROM (
      |      SELECT DISTINCT doc_id AS query_id,
      |        unnest(string_split(text, ' ')) AS term
      |      FROM documents WHERE doc_id % 13 = 0)
      |    JOIN qdf USING (term))
      |  WHERE tr_rk <= 4)""".stripMargin

  /** q153's complete oracle text — also the oracle of the staged (q168)
    * and incrementally-maintained (q169) index forms, which are
    * bit-identical to the in-plan pipeline by construction. */
  private def bm25FinalSql: String =
    s"""WITH $bm25CtesSql
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_micro, rk
       |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** One oracle text for q85 AND its bounded-state twin q157 (identical
    * output by construction — see tfidfScored). */
  private val TfidfOracleSql =
    """WITH tokens AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (SELECT doc_id, term, tf, df, tfidf,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rn
      |  FROM scored)
      |SELECT doc_id, term, tf, df, round(tfidf*1e6)/1e6 AS tfidf6, rn
      |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** (doc_id, term, tf, df, n_docs, tfidf) scored frame shared by q85
    * (window rank) and q157 (bounded-state topk_rows) — ONE definition, so
    * the two physical strategies can never drift. */
  private def tfidfScored(s: SparkSession, d: String): DataFrame = {
    val tokens = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // corpus size as a lazy 1-row crossJoin (broadcast NLJ), exactly like
    // the oracle's CROSS JOIN n — a driver-side .count() here would be an
    // eager full scan of `documents` before the real query even starts
    val n = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term").crossJoin(n)
      .withColumn("tfidf",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + lit(1.0))) + 1.0))
  }

  /** Token-budget batch packing over a (source, doc_id, n_tokens) frame:
    * batch = floor(exclusive-cumsum / budget) per `source` shard — each
    * shard packs independently in parallel (the 100 TB formulation of an
    * inherently sequential assignment). One dominant source makes its
    * window partition spill (proven in ScaleTechniquesSpec); the
    * skew-immune two-pass twin is [[packBatchesSharded]] (q108), which
    * reproduces the identical batches with bounded partitions. */
  def packBatches(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    docs
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("batch_id",
        ((col("cum") - col("n_tokens")) / lit(PackBudget)).cast("long"))
      .groupBy(col("source"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("batch_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "batch_id")
  }

  /** Shard width for the two-pass packing form: doc_id-range shards keep
    * every heavy window partition at ≤ ~PackShardWidth docs. */
  val PackShardWidth = 1000L

  /** The two-pass prefix-sum form of [[packBatches]] — same output, no
    * unbounded window partition. packBatches shards its cumsum by
    * `source`, so ONE dominant source concentrates a whole corpus in a
    * single window partition (it spills rather than fails — proven in
    * ScaleTechniquesSpec — but at 100 TB you'd rather not spill a
    * terabyte). This is the classic distributed scan: shard each source
    * by doc_id range (order-compatible: shard s < t ⟹ every doc in s
    * precedes every doc in t), pass 1 computes per-shard token sums and
    * turns them into exclusive per-shard OFFSETS (a window over the tiny
    * shard-sums frame), pass 2 computes the within-shard running sum and
    * adds the offset — the global cumsum is reproduced exactly, so batch
    * assignment is bit-identical to the one-pass form, with every window
    * partition bounded by the shard width regardless of skew. */
  def packBatchesSharded(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val sh = docs.withColumn("shard", expr(s"doc_id div $PackShardWidth"))
    val offW = W.partitionBy(col("source")).orderBy(col("shard"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = sh.groupBy(col("source"), col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("off", coalesce(sum(col("shard_tokens")).over(offW), lit(0L)))
      .select(col("source"), col("shard"), col("off"))
    val inW = W.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    sh.join(offsets, Seq("source", "shard"))
      .withColumn("cum", sum(col("n_tokens")).over(inW) + col("off"))
      .withColumn("batch_id",
        ((col("cum") - col("n_tokens")) / lit(PackBudget)).cast("long"))
      .groupBy(col("source"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("batch_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "batch_id")
  }

  /** DuckDB spelling of [[packBatches]] over a CTE named `fromRel` with
    * columns (source, doc_id, n_tokens) — the shared tail of the q88 and
    * q77 oracles. */
  def packSql(fromRel: String): String =
    s"""cums AS (
       |  SELECT source, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM $fromRel)
       |SELECT source, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS batch_id,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cums GROUP BY 1, 2 ORDER BY source, batch_id""".stripMargin

  /** Stratified-sampling accept test — ONE definition of the per-stratum
    * hash cutoffs (en 51/256 ≈ 20%, others 128/256 = 50%), shared by q75
    * and q77's pipeline stage on the Spark side and interpolated into both
    * oracles, so a rate change can never drift between the four sites. */
  val StratAcceptSql: String =
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= " +
      "CASE WHEN lang = 'en' THEN '32' ELSE '7f' END"
  def stratAccept: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 2) <=
      when(col("lang") === "en", lit("32")).otherwise(lit("7f"))

  /** Every adjacent character pair of every token occurrence — the shared
    * domain of q36 (BPE merge candidates) and q106/q107 (heavy hitters),
    * one definition so they can never drift. */
  private[graft] def charPairs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2) // 1-char words carry no pair
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))

  /** The heavy-hitters contract harness over a 1-row (sk, total) sketch
    * frame and the exact pair domain: exact top-16 counts
    * (oracle-hash-matched) + the Misra-Gries guarantee booleans from the
    * real sketch. ONE definition for the batch (q106) and streaming
    * (q107) forms, so the contract can never drift between them. */
  private[graft] def heavyHitterReport(pairs: org.apache.spark.sql.DataFrame,
      skTotal: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val K = graft.functions.FreqSketchAgg.K
    pairs.groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .crossJoin(skTotal) // lazy 1-row broadcast, q85 idiom
      .withColumn("est", coalesce(element_at(col("sk"), col("pair")), lit(0L)))
      .withColumn("is_heavy", col("n") * K > col("total"))
      .withColumn("sketch_ok",
        col("est") <= col("n") &&
          (col("n") - col("est")) * (K + 1) <= col("total") &&
          (!col("is_heavy") || col("est") > 0))
      .orderBy(col("n").desc, col("pair"))
      .limit(16)
      .select(col("pair"), col("n"), col("is_heavy"), col("sketch_ok"))
  }

  /** q106/q107 shared oracle: exact top-16 + asserted guarantee booleans. */
  private[graft] val HeavyHittersOracleSql: String =
    s"""WITH words AS (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |cpairs AS (
       |  SELECT unnest(list_transform(range(1, length(word)),
       |    i -> substr(word, i, 2))) AS pair
       |  FROM words WHERE length(word) >= 2),
       |hc AS (SELECT pair, count(*) AS n FROM cpairs GROUP BY 1),
       |htot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM hc)
       |SELECT pair, n,
       |  (n * ${graft.functions.FreqSketchAgg.K} > total) AS is_heavy,
       |  TRUE AS sketch_ok
       |FROM hc, htot
       |ORDER BY n DESC, pair LIMIT 16""".stripMargin

  /** DuckDB spelling of [[charPairs]] (CTE `cpairs`). */
  private val charPairsSql =
    """words AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |cpairs AS (
      |  SELECT unnest(list_transform(range(1, length(word)),
      |    i -> substr(word, i, 2))) AS pair
      |  FROM words WHERE length(word) >= 2)""".stripMargin

  /** Word n-gram list (as space-joined strings) over a `toks` array column,
    * empty when the doc is too short. The `when` guard matters: Spark's
    * `sequence(1, 0)` is DESCENDING ([1, 0]), not empty, so an unguarded
    * short doc would index element 0 and null-pollute the grams. */
  private def wordGrams(n: Int): org.apache.spark.sql.Column =
    when(size(col("toks")) >= n,
      transform(sequence(lit(1), size(col("toks")) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(k => element_at(col("toks"), i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Number of training shards for the epoch shuffle (q112). */
  val NShards = 16

  /** Deterministic epoch shuffle + shard assignment (q112) — the
    * training-order primitive: every epoch the corpus is re-permuted and
    * split into reader shards, and the permutation must be REPRODUCIBLE
    * (resume-from-step, bitwise-repeatable runs) yet epoch-dependent.
    * h = md5(epoch-salted doc_id) gives both: shard = first hex nibble
    * (16-way — at 100 TB make it the reader-process count), position =
    * rank of h within the shard. Scale shape: NO global total order —
    * one shuffle on the shard key, then Spark's spillable per-shard sort;
    * re-seeding an epoch is a literal change, zero state carried. The
    * hash-order trick is the same content-hash determinism q75/q76 use
    * for sampling (never rand(), which is layout-dependent on a cluster). */
  def epochShuffle(s: SparkSession, d: String, epoch: Int): DataFrame = {
    val h = md5(concat(lit(s"ep${epoch}_"), col("doc_id").cast("string")))
    t(s, d, "documents")
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard",
        expr("cast(conv(substring(h, 1, 1), 16, 10) AS bigint)"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** Merge rounds for the q152 BPE trainer. */
  val BpeRounds = 4

  /** Greedy left-to-right non-overlapping merge of the pair (ba, bb) over
    * a symbol array — the BPE apply step, as a codegen higher-order fold:
    * append each symbol unless the accumulator tail is `ba` and the
    * symbol `bb`, in which case replace the tail with the merged symbol.
    * The merged symbol `ba || bb` can never equal `ba` (symbols are
    * non-empty), so a merge output never chains into a second merge in
    * the same pass — exactly the positional run-alternation semantics the
    * DuckDB oracle spells with window functions (BpeSpec pins the
    * overlap cases). Columns `ba`/`bb` come from the broadcast 1-row
    * best-pair frame, so the whole round stays plan-only. */
  private[graft] val bpeMergeExpr: String =
    """aggregate(syms, CAST(array() AS ARRAY<STRING>),
      |  (acc, x) -> CASE WHEN size(acc) > 0
      |      AND element_at(acc, -1) = ba AND x = bb
      |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(ba, bb)))
      |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** q152's training state at round 0: each distinct corpus word with its
    * occurrence count and its character-level symbol sequence. Training
    * over (distinct word, weight) instead of raw occurrences is the
    * standard BPE-trainer compression — pair counts are identical, state
    * is O(vocabulary) instead of O(corpus). */
  private def bpeInitState(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2) // 1-char words never merge
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select(col("word"), col("wn"), col("syms"))

  /** Corpus-weighted adjacent-pair counts over a (word, wn, syms) state. */
  private def bpePairCounts(state: DataFrame): DataFrame =
    state
      .select(col("wn"), explode(expr(
        """CASE WHEN size(syms) >= 2 THEN
          |  transform(sequence(1, size(syms) - 1),
          |    i -> named_struct('a', element_at(syms, i),
          |                      'b', element_at(syms, i + 1)))
          |ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
          |END""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("wn"))
      .groupBy(col("a"), col("b")).agg(sum(col("wn")).as("n"))

  /** The BPE training loop, shared by q152 (emits the merge table), q160
    * (emits the trained segmentation) and q208 (replays the merge list on
    * unseen text): per round, count pairs, take the best, apply it to the
    * state. ONE definition — the chain frames are registry-cached, so the
    * queries share each round's compute in-session (plan-identical
    * subtrees). Returns (final state after all rounds, merge table,
    * per-round best-pair 1-row frames in rank order). */
  private def bpeTrain(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    var state = graft.CacheRegistry.cached(bpeInitState(s, d))
    var merges: DataFrame = null
    val bests = Seq.newBuilder[DataFrame]
    for (r <- 1 to BpeRounds) {
      val best = graft.CacheRegistry.cached(
        bpePairCounts(state)
          .orderBy(col("n").desc, col("a"), col("b")).limit(1))
      bests += best
      val tagged = best.withColumn("round", lit(r.toLong))
      merges = if (merges == null) tagged else merges.unionByName(tagged)
      state = graft.CacheRegistry.cached(
        state.crossJoin(broadcast(
            best.select(col("a").as("ba"), col("b").as("bb"))))
          .withColumn("syms", expr(bpeMergeExpr))
          .select(col("word"), col("wn"), col("syms")))
    }
    (state, merges, bests.result())
  }

  /** BPE ENCODE: replay a trained merge list, in rank order, over a frame
    * carrying a symbol-array column `syms` — the inference step for text
    * the trainer never saw. Each round is one broadcast of that round's
    * 1-row best-pair frame plus the shared greedy-merge fold
    * ([[bpeMergeExpr]] — the SAME expression the trainer applies, so
    * encode(training vocabulary) reproduces the trainer's end state
    * exactly; BpeSpec pins that identity). Per-word cost is
    * O(rounds · word length) inside one projection pipeline: no shuffle,
    * no window — at 100 TB the merge table is R tiny broadcasts and the
    * corpus streams through R chained codegen folds. */
  private[operators] def bpeEncode(df: DataFrame, bests: Seq[DataFrame],
      keep: Seq[String]): DataFrame =
    bests.foldLeft(df) { (st, best) =>
      st.crossJoin(broadcast(
          best.select(col("a").as("ba"), col("b").as("bb"))))
        .withColumn("syms", expr(bpeMergeExpr))
        .select(keep.map(col) :+ col("syms"): _*)
    }

  /** Spec probe (BpeSpec): [[bpeEncode]] run over the TRAINING vocabulary
    * from character level — must reproduce q160's trained segmentation
    * exactly (the encode/train identity the replay form rests on). */
  private[operators] def encodeTrainingVocabForTest(
      s: SparkSession, d: String): DataFrame = {
    val bests = bpeTrain(s, d)._3
    val vocab = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .distinct()
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    bpeEncode(vocab, bests, Seq("word"))
      .select(col("word"), array_join(col("syms"), "|").as("tokens"))
  }

  /** q215's content-defined chunk table over a (doc_id, text) frame —
    * factored out so CdcSpec can feed engineered near-dup documents
    * through the IDENTICAL pipeline the query runs. Boundary rule: a
    * chunk ends after token p when the 3-gram ending at p satisfies
    * md5 % 32 == 0 (local decision ⇒ edits don't shift later
    * boundaries); columns mirror q214 for the side-by-side contrast. */
  private[operators] def cdcChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("p0", "tk")))
      .withColumn("pos", (col("p0") + 1).cast("long"))
      .withColumn("flag", when(col("pos") >= 3 &&
        expr("CAST(conv(substring(md5(concat_ws(' ', " +
          "element_at(toks, CAST(pos - 2 AS INT)), " +
          "element_at(toks, CAST(pos - 1 AS INT)), " +
          "element_at(toks, CAST(pos AS INT)))), 1, 2), 16, 10) AS INT) " +
          "% 32 = 0"), 1L).otherwise(0L))
      .select(col("doc_id"), col("pos"), col("tk"), col("flag"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ch = tok
      .withColumn("chunk_id", coalesce(sum(col("flag")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(min(col("pos")).as("start_tok"),
        count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, tk))), " +
            "x -> x.tk)"))).as("chunk_md5"))
    val keeper = ch.groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("m"))
    ch.join(keeper, "chunk_md5")
      .withColumn("keeper",
        col("doc_id") === col("m.doc_id") &&
          col("chunk_id") === col("m.chunk_id"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tokens"), col("chunk_md5"), col("keeper"))
  }

  /** q204's synthesized page around a `text` column (the q65
    * injected-input discipline) — shared with the q205 pipeline. */
  private[operators] def htmlPage: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>"),
    concat_ws(" ", slice(split(col("text"), " "), 1, 3)),
    lit("</title></head><body><p class=\"lead\">"),
    col("text"),
    lit(" &amp; more &lt;tags&gt; here</p>"),
    lit("<script>var x = 1; if (x &lt; 2) { x++; }</script>"),
    lit("<div>tail &quot;quoted&quot; text</div></body></html>"))

  /** q204's extraction over [[htmlPage]]: drop script/style CONTENT
    * (two explicit patterns, not a </\1> backreference — DuckDB's RE2
    * has no backreferences and would silently match nothing), strip
    * remaining tags to spaces, decode the five core entities (&amp;
    * LAST, or double-decoding corrupts), collapse whitespace. */
  private[operators] def htmlCleanText: org.apache.spark.sql.Column =
    htmlCleanOf(htmlPage)

  /** The q204 cleaning over an ARBITRARY html column — factored out in
    * round 11 so q285's WARC response bodies run the IDENTICAL
    * definition (mirrored by tools/gen_archive_fixtures.py
    * `clean_html`, asserted there to invert the builder's encoding). */
  private[operators] def htmlCleanOf(
      html: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noScript = regexp_replace(regexp_replace(html,
      "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")
    val unTagged = regexp_replace(noScript, "<[^>]+>", " ")
    val decoded = org.apache.spark.sql.functions.replace(
      org.apache.spark.sql.functions.replace(
        org.apache.spark.sql.functions.replace(
          org.apache.spark.sql.functions.replace(
            org.apache.spark.sql.functions.replace(unTagged,
              lit("&lt;"), lit("<")),
            lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** q293: two-sided-geometric (discrete Laplace) CDF thresholds for
    * ε = 1, α = e⁻¹, in integer micro-units — P(G ≤ k) = 1 − α^(k+1),
    * computed ONCE here and embedded as identical literals in both
    * engines (the q250 Poisson-CDF discipline: transcendental-DERIVED
    * constants are parity-safe, pow on data is not). k caps at 12
    * (P ≈ 1 − 6e−6). */
  private val GeomCdfMicro: IndexedSeq[Long] =
    (0 to 11).map(k => math.round(1e6 * (1 - math.exp(-(k + 1).toDouble))))

  private def geomCase(u: String): String =
    s"CASE WHEN $u < ${GeomCdfMicro(0)} THEN 0 " +
      (1 to 11).map(k => s"WHEN $u < ${GeomCdfMicro(k)} THEN $k ").mkString +
      "ELSE 12 END"

  // ---- q328/q329: language identification -----------------------------
  // The one text-pipeline stage the suite still impersonated with a
  // fixture column (q77's allowlist reads documents.lang): a REAL
  // hashed char-bigram Naive Bayes, trained and applied on text whose
  // language signal is PLANTED — each lang is a fixed substitution
  // cipher over the shared vocabulary (en = identity), so languages
  // share an alphabet but differ exactly where real languages do: in
  // their character n-gram statistics. The permutations are literals
  // in BOTH engines (the q246 shared-constant rule); the lang column is
  // ground truth by construction, never a feature.
  private[operators] val LangPerms: Seq[(String, String)] = Seq(
    "de" -> "rmoykqncgapldzbswtehufxvji",
    "en" -> "abcdefghijklmnopqrstuvwxyz",
    "es" -> "mkazvbndphucwexsotilqygjfr",
    "fr" -> "azqjsduvrbmfkgxtwphlyenoic",
    "zh" -> "wxdfsjitgcqkrlvpehbzamoyun")
  private val LangAz = "abcdefghijklmnopqrstuvwxyz"
  private[operators] val LangIdB = 1024 // feature-hash buckets (q307 audits)

  private def cipherCase: String =
    "CASE lang " + LangPerms.filter(_._1 != "en").map { case (l, p) =>
      s"WHEN '$l' THEN translate(text, '$LangAz', '$p') "
    }.mkString + "ELSE text END"

  /** (doc_id, lang, b) — one row per char-bigram INSTANCE of the
    * ciphered text, b = md5-derived feature bucket (engine-portable:
    * first 4 hex digits, the q307-audited idiom). */
  private def langFeatures(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), expr(cipherCase).as("ctext"))
      .select(col("doc_id"), col("lang"),
        explode(split(col("ctext"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("bg"))
      .select(col("doc_id"), col("lang"),
        expr(s"pmod(CAST(conv(substring(md5(bg), 1, 4), 16, 10) AS BIGINT), $LangIdB)")
          .as("b"))

  private def langFeatCte: String =
    s"""cip AS (
       |  SELECT doc_id, lang, $cipherCase AS ctext
       |  FROM documents),
       |words AS (
       |  SELECT doc_id, lang, unnest(string_split(ctext, ' ')) AS word
       |  FROM cip),
       |feat AS (
       |  SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(bg), 1, 4) AS BIGINT) % $LangIdB AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, length(word)),
       |            i -> substr(word, i, 2))) AS bg
       |        FROM words WHERE length(word) >= 2)),
       |langs AS (SELECT unnest(['de','en','es','fr','zh']) AS lang),
       |grid AS (SELECT l.lang, g.b FROM langs l,
       |         (SELECT unnest(range(0, $LangIdB)) AS b) g),
       |tr AS (SELECT * FROM feat WHERE doc_id % 5 != 0),
       |cnt AS (SELECT lang, b, count(*) AS c FROM tr GROUP BY 1, 2),
       |tot AS (SELECT lang, count(*) AS nl FROM tr GROUP BY 1),
       |model AS (
       |  SELECT g.lang, g.b, coalesce(c.c, 0) AS c,
       |    CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
       |      / (t.nl + $LangIdB)) * 1e9) AS BIGINT) AS w_nano
       |  FROM grid g
       |  LEFT JOIN cnt c ON g.lang = c.lang AND g.b = c.b
       |  JOIN tot t ON g.lang = t.lang)""".stripMargin

  /** The trained model frame: full (lang × bucket) grid with add-one
    * smoothed integer-nanounit log-likelihoods (q287's transcendental
    * discipline: ln in double with identical parenthesization, rounded
    * per element before any sum). */
  private def langModel(s: SparkSession, d: String): DataFrame = {
    val tr = langFeatures(s, d).filter(col("doc_id") % 5 =!= 0)
      .transform(graft.CacheRegistry.cached)
    val cnt = tr.groupBy(col("lang"), col("b")).agg(count(lit(1)).as("c"))
    val tot = tr.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val grid = tot.select(col("lang"), col("nl"))
      .crossJoin(s.range(LangIdB).select(col("id").as("b")))
    // r14 (guide §2.4, r13 verdict item 4): the FINISHED model grid is
    // 5×1024 rows but its lineage (cipher → bigram explode → feature
    // hash → counts → smoothing) re-ran in BOTH q328 and q329 — caching
    // the 5,120-row result single-flights training per session, exactly
    // like the ANN codebooks; q329's broadcast then reads the cache.
    graft.CacheRegistry.cached(
      grid.join(cnt, Seq("lang", "b"), "left")
        .select(col("lang"), col("b"),
          coalesce(col("c"), lit(0L)).as("c"), col("nl"))
        .select(col("lang"), col("b"), col("c"),
          expr(s"CAST(round(ln(CAST(c + 1 AS DOUBLE) / (nl + $LangIdB)) * 1e9) AS BIGINT)")
            .as("w_nano")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q328_langid_train" -> ((s, d) => {
      // TRAIN the language-ID model (mechanism above): per-(lang,
      // bucket) bigram-instance counts over the 80% train split
      // (doc_id % 5 != 0), materialized as the FULL 5×1024 grid so
      // unseen buckets carry their smoothing mass explicitly — the
      // model a classifier broadcast needs is closed under lookup. At
      // 100 TB: one bigram-keyed shuffle for the counts; the model is
      // 5,120 rows — a broadcast, not a table.
      langModel(s, d).orderBy("lang", "b")
    }),

    "q329_langid_classify" -> ((s, d) => {
      // APPLY the model to the 20% test split: doc score per lang =
      // prior (train doc-share, nanounits) + Σ over bigram instances
      // of w_nano[lang, bucket]; predicted = argmax, ties to the
      // alphabetically first lang (never fires — scores are sums of
      // distinct logs — but determinism is contract, not luck).
      // Measured on this corpus: the ciphered bigram statistics
      // separate all five languages (LangIdSpec pins accuracy and
      // per-language precision/recall against the PLANTED truth).
      // At 100 TB this is one scan projection over the test corpus +
      // a 5,120-row broadcast join — the shape fastText-style lang-ID
      // deploys at crawl scale.
      val te = langFeatures(s, d).filter(col("doc_id") % 5 === 0)
      val docsT = t(s, d, "documents").filter(col("doc_id") % 5 =!= 0)
      val dl = docsT.groupBy(col("lang")).agg(count(lit(1)).as("dl"))
      val priors = dl.crossJoin(broadcast(
          docsT.agg(count(lit(1)).as("dt"))))
        .select(col("lang"),
          expr("CAST(round(ln(CAST(dl AS DOUBLE) / dt) * 1e9) AS BIGINT)")
            .as("prior_nano"))
      val scored = te
        .join(broadcast(langModel(s, d)
          .select(col("lang").as("cand"), col("b"), col("w_nano"))), "b")
        .groupBy(col("doc_id"), col("lang"), col("cand"))
        .agg(sum(col("w_nano")).as("ll_nano"))
        .join(broadcast(priors.select(col("lang").as("cand"),
          col("prior_nano"))), "cand")
        .select(col("doc_id"), col("lang"), col("cand"),
          (col("ll_nano") + col("prior_nano")).as("score_nano"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score_nano").desc, col("cand"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang").as("lang_true"),
          col("cand").as("lang_pred"), col("score_nano"),
          (col("cand") === col("lang")).as("correct"))
        .orderBy("doc_id")
    }),

    "q307_hash_collisions" -> ((s, d) => {
      // Feature-hash collision audit — the report that justifies (or
      // indicts) q233's 1024-bucket hashed-feature model: distinct
      // vocabulary words per bucket, folded to the numbers an ML-ops
      // review asks for (buckets used, worst load, how many words
      // share a bucket, collision rate in basis points — exact
      // integers). Two stacked aggregates over the vocabulary — never
      // the token stream; at web scale the audit costs one word-keyed
      // shuffle. Verdict on this corpus — and the reason the audit
      // exists: the 31-word vocabulary does NOT map cleanly into 1024
      // buckets — one bucket holds 2 words (collision rate 6.45%), so
      // q233's model conflates exactly one word pair. The birthday
      // bound says ~37% chance of ≥1 collision at 31-into-1024; this
      // corpus drew one, and assuming "tiny vocab ⇒ collision-free"
      // would have been wrong.
      val loads = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok")).distinct()
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 1024"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("load"))
      loads.agg(sum(col("load")).as("n_words"),
          count(lit(1)).as("n_buckets_used"),
          max(col("load")).as("max_load"),
          sum(when(col("load") >= 2, col("load")).otherwise(0L))
            .as("n_collided"))
        .withColumn("collision_bp",
          expr("n_collided * 10000 div n_words"))
    }),

    "q298_vocab_coverage" -> ((s, d) => {
      // Tokenizer vocabulary-size sweep — the design question q152's
      // BPE trainer answers by construction, asked of the corpus
      // directly: at vocab size K (keep the K most frequent words),
      // what fraction of token INSTANCES is covered and what hits
      // OOV? Frequency ranks come from the q108/q222 sharded rank run
      // DESCENDING (shard = cnt div 16 is monotone in the sort key;
      // offsets count the HIGHER shards), never a vocabulary-wide
      // global window — at web scale the vocabulary is itself a
      // billion-row frame. The K sweep (1..32 — the synthetic corpus
      // draws from a 31-word vocabulary, so the grid must sit WHERE the
      // curve bends; a 100+ grid would read 100% everywhere) is a broadcast ≤-join
      // against the ranked vocab (the q289 prefix discipline);
      // coverage in exact basis points. The oracle ranks with a plain
      // global row_number — equality again pins the sharded
      // decomposition against the global rank.
      val wc = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .withColumn("shard", expr("cnt div 16"))
        .transform(graft.CacheRegistry.cached)
      val tot = wc.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_vocab"))
      val offs = wc.groupBy(col("shard")).agg(count(lit(1)).as("nrows"))
        .withColumn("off", coalesce(
          sum(col("nrows")).over(Window.orderBy(col("shard").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val ranked = wc
        .withColumn("rg", row_number().over(
          Window.partitionBy(col("shard"))
            .orderBy(col("cnt").desc, col("word"))).cast("long"))
        .join(broadcast(offs.select(col("shard"), col("off"))), "shard")
        .withColumn("r", col("rg") + col("off"))
      val ks = s.range(1).select(explode(
        expr("array(1L, 2L, 4L, 8L, 16L, 32L)")).as("k"))
      ranked.join(broadcast(ks), col("r") <= col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_words"), sum(col("cnt")).as("covered"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_words"), col("covered"), col("total"),
          col("n_vocab"),
          expr("covered * 10000 div total").as("coverage_bp"))
        .orderBy("k")
    }),

    "q293_dp_release" -> ((s, d) => {
      // Differentially-private count release — the privacy leg next to
      // q217's k-anonymity and q242's GDPR sweep: per-(lang, source)
      // document counts released under the two-sided geometric
      // mechanism (the discrete Laplace — ε = 1 for a ±1-sensitivity
      // count), noise = G₁ − G₂ with each geometric drawn by inverse
      // CDF from a salted-md5 uniform (q225's determinism idiom — a DP
      // release must be FIXED once published; re-randomizing on every
      // read is itself a privacy bug, the one this design can't have).
      // CDF thresholds are Scala-computed literals (q250 discipline).
      // The true count and noise ride along for the fixture's sake — a
      // production release view projects released_n only. One
      // map-side-combined aggregate; the noise is per-GROUP scalar
      // work, O(groups).
      //
      // PRIVACY CAVEAT (round-11 ADVICE): the salts here ('dp1_'/'dp2_')
      // are hard-coded and the group key is public, so anyone can
      // recompute g1−g2 and invert released_n back to the exact count —
      // this fixture demonstrates the MECHANISM (two-sided geometric via
      // inverse CDF, deterministic-once-published), not a private
      // release. A production release keeps the construction but derives
      // the uniforms from a SECRET per-release seed (e.g. HMAC(seed,
      // group_key) with the seed held like a credential); determinism
      // must come from a fixed secret, not from a publicly recomputable
      // hash. See README "Differential privacy" note.
      val u = (salt: String) =>
        s"CAST(conv(substring(md5(concat('$salt', lang, '_', source)), " +
          "1, 6), 16, 10) AS BIGINT) % 1000000"
      t(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .withColumn("g1", expr(geomCase(u("dp1_"))).cast("long"))
        .withColumn("g2", expr(geomCase(u("dp2_"))).cast("long"))
        .select(col("lang"), col("source"), col("n"),
          (col("g1") - col("g2")).as("noise"),
          (col("n") + col("g1") - col("g2")).as("released_n"))
        .orderBy("lang", "source")
    }),

    "q294_phrase_search" -> ((s, d) => {
      // Positional phrase search — the IR operator q236's inverted
      // index can't serve (a document containing both words scattered
      // is NOT a phrase hit): build positional postings (doc, pos,
      // word), find the corpus's top bigram with a per-doc lead()
      // window (doc-bounded — the PlanGuard-legal shape), then serve
      // the phrase query the way a positional index does at 100 TB:
      // filter postings to each phrase term FIRST (word-keyed, tiny
      // after the filter), adjacency-join on (doc, pos+1). The
      // CROSS-CERTIFICATION is in the output: n_hits (index-join
      // count) must equal n_pairs (window count) — two different
      // algorithms, one number; the oracle recomputes both
      // independently, and the hash compare pins them equal.
      val posts = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("word"))
        .transform(graft.CacheRegistry.cached)
      val top = posts
        .withColumn("w2", lead(col("word"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .where(col("w2").isNotNull)
        .groupBy(col("word").as("w1"), col("w2"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("w1"), col("w2"))
        .limit(1)
      val p1 = posts.join(broadcast(top), col("word") === col("w1"))
      val p2 = posts.select(col("doc_id").as("d2"), col("pos").as("q"),
        col("word").as("wb"))
      p1.join(p2, col("doc_id") === col("d2") &&
          col("q") === col("pos") + 1 && col("wb") === col("w2"))
        .groupBy(col("w1"), col("w2"), col("n_pairs"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    }),

    "q287_dsir_resample" -> ((s, d) => {
      // DSIR-style importance resampling (Xie et al.) — the data-
      // selection operator between q75's stratified sampling and q233's
      // learned quality gate: score every doc by how much its hashed
      // unigram distribution looks like a TARGET domain (here the 'en'
      // slice) versus the raw pool, then keep the top of the ranking.
      // Per-word importance weight = ln(p_target) − ln(p_source) with
      // add-one smoothing, computed ONCE per vocabulary word and
      // rounded to integer nanounits BEFORE the per-doc sum (the q154
      // transcendental discipline: ln on data is safe cross-engine only
      // with identical parenthesization + per-element rounding; the
      // BIGINT sum is then layout-independent). Doc score = Σ over
      // token INSTANCES (DSIR's feature-count form). At 100 TB: one
      // token shuffle for the vocab, totals on a broadcast 1-row frame,
      // one word-keyed join back, top-50 as TakeOrdered — no windows.
      // Honest verdict: en docs dominate the selection, their unigrams
      // carrying the lang-id signal q83 reads.
      val toks = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("word"))
        .transform(graft.CacheRegistry.cached)
      val v = toks.groupBy(col("word"))
        .agg(count(lit(1)).as("sc"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))
        .transform(graft.CacheRegistry.cached)
      val tot = v.agg(sum(col("sc")).as("sN"), sum(col("tc")).as("tN"),
        count(lit(1)).as("V"))
      val w = v.crossJoin(broadcast(tot))
        .select(col("word"), expr(
          "CAST(round((ln(CAST(tc + 1 AS DOUBLE) / (tN + V)) - " +
            "ln(CAST(sc + 1 AS DOUBLE) / (sN + V))) * 1e9) AS BIGINT)")
          .as("w_nano"))
      toks.join(w, "word")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("w_nano")).as("score_nano"))
        .orderBy(col("score_nano").desc, col("doc_id"))
        .limit(50)
    }),

    "q288_spearman" -> ((s, d) => {
      // Spearman rank correlation between two per-doc signals (raw
      // char length vs distinct-token count) — the ranker-agreement
      // measure next to q255's RBO: both variables rank through the
      // q108/q222 two-pass SHARDED rank (range-shard monotone in the
      // sort key, prefix offsets over the tiny per-shard counts, a
      // within-shard row_number — never a corpus-wide window), with
      // doc_id totalizing ties (the deterministic-unique-order
      // discipline; heavy-tie data would need average ranks — noted,
      // not the case here). ρ = 1 − 6Σd²/(n(n²−1)) stays EXACT: the
      // numerator is shifted by +nn1 so it is provably non-negative
      // (Σd² ≤ nn1/3), divided in DECIMAL(38,0)/HUGEINT (n³·1e9
      // overflows BIGINT), and re-centered after — no float, no
      // negative-div engine disagreement. The oracle ranks with plain
      // global row_number, so equality ALSO proves the sharded
      // decomposition reproduces the global rank on both variables.
      val m = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("x"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("y"))
        .transform(graft.CacheRegistry.cached)
      def ranked(vc: String, alias: String): DataFrame = {
        val rows = m.select(col("doc_id"), col(vc).as("v"))
          .withColumn("shard", expr("v div 64"))
        val cnts = rows.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
        val offs = cnts.withColumn("off", coalesce(
          sum(col("cnt")).over(Window.orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        rows
          .withColumn("rg", row_number().over(
            Window.partitionBy(col("shard"))
              .orderBy(col("v"), col("doc_id"))).cast("long"))
          .join(broadcast(offs.select(col("shard"), col("off"))), "shard")
          .select(col("doc_id"), (col("rg") + col("off")).as(alias))
      }
      val j = ranked("x", "rx").join(ranked("y", "ry"), "doc_id")
        .select(((col("rx") - col("ry")) * (col("rx") - col("ry")))
          .as("d2"))
      j.agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2"))
        .withColumn("rho_nano", expr(
          "CAST((2 * (CAST(n AS DECIMAL(38,0)) * (n * n - 1)) - " +
            "6 * CAST(sum_d2 AS DECIMAL(38,0))) * 1000000000 div " +
            "(CAST(n AS DECIMAL(38,0)) * (n * n - 1)) AS BIGINT) " +
            "- 1000000000"))
    }),

    "q289_pr_sweep" -> ((s, d) => {
      // Precision/recall/F1 threshold sweep — the operating-point view
      // of the q233 classifier that q259 (AUC, threshold-free) and
      // q263 (calibration) don't show: which decile cutoff would a
      // deployment pick? The IDENTICAL scores and label feed a 10-bin
      // histogram (one map-side-combined aggregate — fixed edges, the
      // q263 binning), and all 9 cutoffs read as prefix sums over the
      // TINY bin frame via a broadcast ≥-join (the q259 cross-bucket
      // discipline — the corpus is touched once, the sweep is
      // bin-frame work). LEFT join keeps empty cutoffs (every p_nano
      // sits in bins 4–6 here, so thr ≥ 7 has tp = fp = 0 — dropping
      // those rows would misreport the sweep); all ratios exact
      // micro-units with zero-guarded division. F1 = 2tp/(2tp+fp+fn)
      // — integer-exact, no harmonic-mean float.
      val scores = qualityScoresOn(s, t(s, d, "documents"))
      val tot = scores.agg(count(lit(1)).as("nd"),
        sum(col("n_tokens")).as("tt"))
      val lab = scores.crossJoin(broadcast(tot))
        .select(col("p_nano"),
          when(col("n_tokens") * col("nd") > col("tt"), 1L).otherwise(0L)
            .as("y"))
        .withColumn("bin", least(expr("p_nano div 100000000"), lit(9L)))
      val bins = lab.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("ny"))
        .transform(graft.CacheRegistry.cached)
      val pos = bins.agg(sum(col("ny")).as("p_all"))
      s.range(1, 10).toDF("thr")
        .join(broadcast(bins), col("bin") >= col("thr"), "left")
        .groupBy(col("thr"))
        .agg(sum(coalesce(col("ny"), lit(0L))).as("tp"),
          sum(coalesce(col("n") - col("ny"), lit(0L))).as("fp"))
        .crossJoin(broadcast(pos))
        .select(col("thr"), col("tp"), col("fp"),
          (col("p_all") - col("tp")).as("fn"),
          expr("CASE WHEN tp + fp = 0 THEN 0L ELSE " +
            "tp * 1000000 div (tp + fp) END").as("precision_micro"),
          expr("tp * 1000000 div p_all").as("recall_micro"),
          expr("2 * tp * 1000000 div (2 * tp + fp + (p_all - tp))")
            .as("f1_micro"))
        .orderBy("thr")
    }),

    "q290_ece" -> ((s, d) => {
      // Expected calibration error — q263's reliability curve folded
      // to the single number a model card quotes: ECE = Σ_b (n_b/N)·
      // |acc_b − conf_b|. The per-bin weight cancels EXACTLY against
      // the per-bin means (n_b·|sp_b/n_b − 1e9·sy_b/n_b| =
      // |sp_b − 1e9·sy_b|), so the whole statistic is one BIGINT
      // |difference| sum over the 10-bin frame divided once by N — no
      // per-bin division error compounds (at 100 TB the |diff| sum
      // wants DECIMAL(38,0); Σp_nano ≤ 1e9·N). The worst bin rides the
      // same pass as a struct argmax (gap, bin) — q211's lexicographic
      // discipline. Verdict beside q263: predictions hug ½, so ECE ≈
      // the always-say-½ model's gap — reliability and Brier agree.
      val scores = qualityScoresOn(s, t(s, d, "documents"))
      val tot = scores.agg(count(lit(1)).as("nd"),
        sum(col("n_tokens")).as("tt"))
      val bins = scores.crossJoin(broadcast(tot))
        .select(col("p_nano"),
          when(col("n_tokens") * col("nd") > col("tt"), 1L).otherwise(0L)
            .as("y"))
        .withColumn("bin", least(expr("p_nano div 100000000"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("p_nano")).as("sp"),
          sum(col("y")).as("sy"))
      bins
        .agg(sum(col("n")).as("n_docs"),
          sum(abs(col("sp") - col("sy") * lit(1000000000L)))
            .as("gap_sum"),
          max(struct(
            abs(expr("(sp div n) - (sy * 1000000000) div n")).as("g"),
            col("bin"))).as("wb"))
        .select(col("n_docs"),
          expr("gap_sum div n_docs").as("ece_nano"),
          col("wb.bin").as("worst_bin"),
          col("wb.g").as("worst_gap_nano"))
    }),

    "q250_poisson_bootstrap" -> ((s, d) => {
      // Poisson BOOTSTRAP — uncertainty quantification the way it is
      // actually run at scale (Chamandy et al.): classic bootstrap
      // resampling needs random access to draw row i of N, impossible
      // in one pass over a distributed corpus — instead every row
      // draws its own per-replicate multiplicity ~ Poisson(1)
      // (E[count] = 1 reproduces the sample size in expectation), so
      // 50 replicates of the mean-doc-length statistic ride ONE scan
      // as a (doc × replicate) explode + one map-side-combined
      // groupBy. Randomness is the salted-md5 uniform (q225), mapped
      // through the Poisson(1) inverse CDF as basis-point thresholds
      // computed once in Scala and embedded as identical literals in
      // both engines (the q246/q247 discipline); sums are exact
      // BIGINTs, each replicate mean an integer milli-char division,
      // and the rank over the 50-replicate frame (read the CI off
      // rk 3 / rk 48) is a self-join count — tiny frame, no global
      // window.
      val B = 50
      val cdfBp = PoissonCdfBp
      val mExpr = (s"CASE WHEN u < ${cdfBp(0)} THEN 0 " +
        (1 until cdfBp.length).map(k =>
          s"WHEN u < ${cdfBp(k)} THEN $k ").mkString +
        s"ELSE ${cdfBp.length} END")
      val reps = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(expr(s"sequence(0, ${B - 1})")).as("b"))
        .withColumn("u", expr(
          "CAST(conv(substring(md5(concat('boot_', CAST(b AS STRING), " +
            "'_', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) " +
            "% 10000"))
        .withColumn("m", expr(mExpr))
        .groupBy(col("b"))
        .agg(sum(col("m")).cast("long").as("n_eff"),
          sum(col("m") * col("n_chars")).cast("long").as("sum_len"))
        .withColumn("mean_milli", expr("(1000 * sum_len) div n_eff"))
        .transform(graft.CacheRegistry.cached)
      val other = reps.select(col("b").as("b2"),
        col("mean_milli").as("mm2"))
      reps.join(other,
          col("mm2") < col("mean_milli") ||
            (col("mm2") === col("mean_milli") && col("b2") < col("b")),
          "left_outer")
        .groupBy(col("b"), col("n_eff"), col("sum_len"), col("mean_milli"))
        .agg(count(col("b2")).as("n_before"))
        .select(col("b").cast("long").as("b"), col("n_eff"),
          col("sum_len"), col("mean_milli"),
          (col("n_before") + 1).as("rk"))
        .orderBy("b")
    }),

    "q248_matched_sampling" -> ((s, d) => {
      // Stratified MATCHED sampling — the eval-construction operator
      // behind any fair A-vs-B corpus comparison (ablations, filter
      // impact studies): comparing arms with different length profiles
      // confounds every downstream metric, so docs pair up WITHIN
      // length strata. Arms are doc_id parity (standing in for the
      // treatment flag a real study carries), strata are fixed-width
      // n_chars bins (the q196 explicit-edge discipline), and within
      // each (stratum, arm) docs rank by a salted md5 (deterministic
      // shuffle, the q225 idiom) — the (stratum, rank) equi-join IS
      // the matcher, and the unmatched tail of the larger arm drops
      // exactly like a min(count) quota. Windows partition by
      // (bucket, arm) — bounded strata, never a global sort; at scale
      // the rank inside a hot stratum range-shards (q108). Emitted
      // pairs carry both lengths so the match quality is hashed, not
      // asserted.
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("arm",
          when(col("doc_id") % 2 === 0, "A").otherwise("B"))
        .withColumn("bucket", least(expr("n_chars div 100"), lit(9L)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("bucket"), col("arm"))
            .orderBy(md5(concat(lit("match_"),
              col("doc_id").cast("string"))), col("doc_id"))).cast("long"))
      val a = base.where(col("arm") === "A")
        .select(col("bucket"), col("rk"), col("doc_id").as("doc_a"),
          col("n_chars").as("len_a"))
      val b = base.where(col("arm") === "B")
        .select(col("bucket"), col("rk"), col("doc_id").as("doc_b"),
          col("n_chars").as("len_b"))
      a.join(b, Seq("bucket", "rk"))
        .orderBy("bucket", "rk")
    }),

    "q249_quota_alloc" -> ((s, d) => {
      // Hamilton (largest-remainder) QUOTA allocation — the
      // integer-exact companion q38's temperature mixing lacks: a
      // 1000-token budget split across sources exactly proportionally
      // with NO doubles anywhere — floor quotas from integer division,
      // the shortfall handed to the largest remainders (rank by
      // (rem desc, source), the unique-total-order discipline), and
      // the Σ quota = budget invariant emitted as a hashed column
      // (the property float weight schemes can only approximate). The
      // remainder rank is a self-join count over the per-source frame
      // — tiny by definition, NEVER a global window (the PlanGuard
      // allowlist stays closed); every crossJoin is a lazy 1-row
      // broadcast (q85). A data loader consumes exactly this table.
      val B = 1000L
      val ns = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " "))).cast("long").as("n_s"))
      val tot = ns.agg(sum(col("n_s")).as("n_total"))
      val base = graft.CacheRegistry.cached(ns.crossJoin(broadcast(tot))
        .withColumn("floor_q", expr(s"($B * n_s) div n_total"))
        .withColumn("rem", expr(s"($B * n_s) % n_total")))
      val other = base.select(col("source").as("s2"), col("rem").as("rem2"))
      val ranked = base.join(other,
          col("rem2") > col("rem") ||
            (col("rem2") === col("rem") && col("s2") < col("source")),
          "left_outer")
        .groupBy(col("source"), col("n_s"), col("floor_q"), col("rem"))
        .agg(count(col("s2")).as("n_before"))
        .withColumn("rk", col("n_before") + 1)
      val short = base.agg((lit(B) - sum(col("floor_q"))).as("short"))
      val alloc = ranked.crossJoin(broadcast(short))
        .withColumn("extra", col("rk") <= col("short"))
        .withColumn("quota",
          col("floor_q") + when(col("extra"), 1L).otherwise(0L))
      alloc.crossJoin(broadcast(
          alloc.agg(sum(col("quota")).as("alloc_total"))))
        .withColumn("total_ok", col("alloc_total") === B)
        .select(col("source"), col("n_s"), col("floor_q"), col("rem"),
          col("rk"), col("extra"), col("quota"), col("total_ok"))
        .orderBy("source")
    }),

    "q242_gdpr_sweep" -> ((s, d) => {
      // Right-to-be-forgotten PROPAGATION audit — the compliance sweep
      // a training-data platform must run when source documents are
      // deleted: the deletion list (here a deterministic md5 gate,
      // ~1/16 of doc_ids, standing in for the legal request table)
      // must reach every DERIVED artifact — the inverted-index
      // postings (q236's shape), the chunk table (q214's geometry)
      // and the per-doc embedding rows — because a deleted document
      // surviving in any of them is the violation. At scale deletion
      // itself is ONE anti-join per artifact producing the kept
      // snapshot (never per-row deletes); this audit counts both
      // sides in a single broadcast-join pass per artifact, and the
      // hashed `clean` invariant (total = deleted + kept) certifies
      // the partition leaks nothing in either direction.
      val del = t(s, d, "documents")
        .where(expr(
          "substring(md5(concat('gdpr_', CAST(doc_id AS STRING))), 1, 1) " +
            "= '0'"))
        .select(col("doc_id").as("del_id"))
      def sweep(df: DataFrame, key: String, name: String): DataFrame = df
        .join(broadcast(del), col(key) === col("del_id"), "left_outer")
        .agg(count(lit(1)).as("rows_total"),
          sum(when(col("del_id").isNotNull, 1L).otherwise(0L))
            .as("rows_deleted"),
          sum(when(col("del_id").isNull, 1L).otherwise(0L)).as("rows_kept"))
        .select(lit(name).as("artifact"), col("rows_total"),
          col("rows_deleted"), col("rows_kept"),
          (col("rows_total") === col("rows_deleted") + col("rows_kept"))
            .as("clean"))
      val docs = t(s, d, "documents")
      val post = docs
        .select(explode(split(col("text"), " ")).as("term"), col("doc_id"))
        .distinct()
      val chunks = docs
        .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
        .where(col("n") >= 1)
        .select(col("doc_id"),
          explode(expr("sequence(0, (n - 1) div 48)")).as("k"))
      val emb = t(s, d, "embeddings").select(col("vec_id"))
      sweep(post, "doc_id", "postings")
        .unionByName(sweep(chunks, "doc_id", "chunks"))
        .unionByName(sweep(emb, "vec_id", "embeddings"))
        .orderBy("artifact")
    }),

    "q236_inverted_index" -> ((s, d) => {
      // Inverted-index construction stats — the index-BUILD step behind
      // q153's BM25 serving, costed the way an index builder budgets
      // storage: per term, postings sorted by doc_id, delta-gap
      // encoded, varint-costed. Postings order is a window partitioned
      // BY TERM — bounded by df, and honestly noted: a web-scale build
      // df-caps the stopword class first (the q63 ShingleDfCap
      // discipline) and range-shards any surviving hot term with the
      // q108 two-pass machinery; gap = doc_id − lag(doc_id) (the first
      // posting stores doc_id + 1, its gap from the −1 sentinel, so
      // every gap ≥ 1), varint bytes = ceil(bit_length / 7) via
      // length(bin(gap)) — pure integers end to end, and the emitted
      // ratio_bp is the exact compression ratio vs raw 8-byte postings
      // in basis points.
      val post = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("term"), col("doc_id"))
        .distinct()
      val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      post
        .withColumn("gap",
          col("doc_id") - coalesce(lag(col("doc_id"), 1).over(w), lit(-1L)))
        .withColumn("vb", expr("(length(bin(gap)) + 6) div 7"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          sum(col("vb")).as("varint_bytes"),
          (count(lit(1)) * 8).as("raw_bytes"),
          expr("(sum(vb) * 10000) div (count(1) * 8)").as("ratio_bp"),
          max(col("gap")).as("max_gap"))
        .orderBy(col("varint_bytes").desc, col("term"))
    }),

    "q237_source_kl" -> ((s, d) => {
      // Per-source token-distribution divergence — the dataset-card
      // statistic behind mixing decisions (q38/q116) and the
      // token-level sibling of q229's length-PSI: KL(source ‖ corpus)
      // over unigram distributions with add-one smoothing, so a source
      // that never uses a corpus term still contributes (the zero-count
      // cells are the signal). The full source × vocab grid is a
      // crossJoin of two TINY frames — sources by definition, vocab
      // df-capped at web scale — left-joined with the observed counts;
      // counts are exact BIGINTs, and each cell's p·ln(p/q) is computed
      // in DOUBLE from those integers with oracle-identical
      // parenthesization, then quantized to integer nanounits PER CELL
      // before the per-source sum (the q154 idiom) — so the ranking of
      // sources by divergence is hash-exact.
      val toks = t(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .transform(graft.CacheRegistry.cached)
      val cs = toks.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c_st"))
      val corpus = toks.groupBy(col("term")).agg(count(lit(1)).as("c_t"))
      val ns = toks.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val tot = corpus.agg(sum(col("c_t")).as("n_tok"),
        count(lit(1)).as("v"))
      ns.crossJoin(broadcast(corpus))
        .crossJoin(broadcast(tot))
        .join(cs, Seq("source", "term"), "left_outer")
        .withColumn("c0", coalesce(col("c_st"), lit(0L)))
        .withColumn("pd", expr("CAST(c0 + 1 AS DOUBLE) / (n_s + v)"))
        .withColumn("qd", expr("CAST(c_t + 1 AS DOUBLE) / (n_tok + v)"))
        .withColumn("cell_nano",
          expr("CAST(round((pd * ln(pd / qd)) * 1e9) AS BIGINT)"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          sum(col("cell_nano")).as("kl_nano"))
        .orderBy(col("kl_nano").desc, col("source"))
    }),

    "q233_quality_classifier" -> ((s, d) => {
      // Hashed linear quality-classifier INFERENCE — the fasttext-style
      // keep/drop model every web-scale pipeline runs between cheap
      // heuristics (q82) and expensive stages: the hashing trick maps
      // each token to one of 1024 buckets (first 8 md5 hex digits mod
      // B — no vocabulary file, OOV-free by construction), the trained
      // weight vector is a B-row table (weights derived here from
      // md5('w_' || bucket) in integer MICROunits, standing in for a
      // persisted model artifact), and a doc's logit is the MEAN bucket
      // weight over its tokens. The deploy shape is the point: the
      // model BROADCASTS (1024 rows ⋘ corpus, exactly how a trained
      // .bin ships to every executor) and the only exchange is the
      // map-side-combined groupBy(doc_id) over ~24-byte rows — one scan
      // at any corpus size. Weight sums are exact BIGINTs in any order;
      // the one transcendental (sigmoid) runs in DOUBLE with
      // oracle-identical parenthesization and quantizes to nanounits
      // per doc (the q154 idiom), so logits, probabilities and the
      // keep verdict are all hash-exact.
      qualityScoresOn(s, t(s, d, "documents")).orderBy("doc_id")
    }),

    "q259_auc" -> ((s, d) => {
      // AUC via the exact Mann-Whitney rank-sum — the threshold-free
      // eval every keep/drop classifier (q233) needs before anyone
      // trusts its `keep` column: P(score⁺ > score⁻) + ½P(tie),
      // computed WITHOUT a global sort. The distributed shape is the
      // point — a global rank is an empty-partitionBy window (one task
      // holds the corpus, PlanGuard-banned); instead scores collapse
      // to a score-level aggregate (one map-side-combined shuffle),
      // scores quantize into 1024 FIXED nano-range buckets, the
      // cross-bucket "negatives below" prefix is a broadcast self-join
      // count over the ≤1024-row bucket frame (the q249/q250 tiny-
      // frame idiom) and the within-bucket prefix is a window
      // PARTITIONED BY bucket — so the only per-score state is local
      // to its bucket, at any corpus size. Scores are the IDENTICAL
      // q233 pipeline (qualityScoresOn — the eval can't drift from
      // the model it measures); the label is derivable ground truth:
      // n_tokens·n_docs > Σtokens, i.e. above-mean length, compared
      // in exact integers (never a mean division). All tie handling
      // exact: pairs2 doubles the ½-tie term into integers,
      // auc_micro = pairs2·1e6 div (2·n⁺·n⁻). (At web scale the two
      // final products move to DECIMAL(38,0) — the q140 discipline;
      // BIGINT holds to ~10⁹ docs per class here.) The measured
      // verdict is the honest one for md5-random weights: AUC ≈ 0.5 —
      // the stand-in model has NO discrimination w.r.t. length, which
      // is exactly what this eval exists to expose (AucSpec proves
      // the harness: planted separation ⇒ 1.0, all-ties ⇒ 0.5, a
      // hand-computed tie mix ⇒ 0.75).
      val scores = qualityScoresOn(s, t(s, d, "documents"))
      val tot = scores.agg(count(lit(1)).as("nd"),
        sum(col("n_tokens")).as("tt"))
      val labeled = scores.crossJoin(broadcast(tot))
        .select(col("p_nano").as("score"),
          (col("n_tokens") * col("nd") > col("tt")).as("label"))
      aucOn(labeled)
    }),

    "q264_pareto_frontier" -> ((s, d) => {
      // Pareto / skyline FRONTIER — the multi-objective dominance
      // filter behind data selection ("the best quality at every cost
      // budget"): a doc is dominated iff another has cost ≤ AND
      // quality ≥ with one strict; what survives is the efficient
      // frontier an ablation actually chooses from. Axes are the
      // IDENTICAL q233 score (quality, maximize) and token count
      // (cost, minimize). The scalable shape is the q259
      // decomposition with max in place of sum — a global
      // sort-and-scan is a PlanGuard-banned global window: docs
      // collapse to per-cost groups (max quality + its argmax doc via
      // one STRUCT max, the q211 discipline), cost groups quantize
      // into fixed-width buckets, the cross-bucket running max is a
      // broadcast self-join over the bucket frame and the
      // within-bucket prefix max is a bucket-partitioned window; a
      // group is ON the frontier iff its quality strictly exceeds
      // the prefix max over all cheaper groups (strict > also
      // resolves equal-quality ties toward the cheaper doc — the
      // dominance definition, not a convention). Exact integers
      // throughout; the fixture frontier is the honest shape: the
      // p≈½-hugging scores admit only a handful of efficient points.
      val scores = qualityScoresOn(s, t(s, d, "documents"))
      val bw = 16
      val g = scores.groupBy(col("n_tokens"))
        .agg(max(col("p_nano")).as("best_p_nano"),
          max(struct(col("p_nano"), col("doc_id")))
            .getField("doc_id").as("best_doc"))
        .select(col("n_tokens").as("cost"), col("best_p_nano"),
          col("best_doc"))
        .withColumn("bucket", expr(s"cost div $bw"))
        .transform(graft.CacheRegistry.cached)
      val bk = g.groupBy(col("bucket"))
        .agg(max(col("best_p_nano")).as("bmax"))
        .transform(graft.CacheRegistry.cached)
      val below = bk.select(col("bucket"))
        .join(bk.select(col("bucket").as("b2"), col("bmax").as("m2")),
          col("b2") < col("bucket"), "left_outer")
        .groupBy(col("bucket"))
        .agg(coalesce(max(col("m2")), lit(-1L)).as("cross_max"))
      val wv = Window.partitionBy(col("bucket")).orderBy(col("cost"))
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("wmax",
          coalesce(max(col("best_p_nano")).over(wv), lit(-1L)))
        .join(below, Seq("bucket"))
        .where(col("best_p_nano") >
          greatest(col("cross_max"), col("wmax")))
        .select(col("cost"), col("best_p_nano"), col("best_doc"))
        .orderBy("cost")
    }),

    "q263_calibration" -> ((s, d) => {
      // Calibration curve + Brier score — the RELIABILITY axis of
      // classifier eval next to q259's discrimination axis (AUC says
      // "positives rank above negatives"; calibration says "0.7 means
      // 70%" — a model can ace one and fail the other, which is why
      // both ship together): the IDENTICAL q233 scores and the
      // IDENTICAL q259 label (above-mean length, exact-integer
      // compare) bin into 10 FIXED probability deciles (p_nano div
      // 1e8 capped at 9 — fixed edges, the q196 discipline, so the
      // histogram is one map-side-combined aggregate at any corpus
      // size). Per bin: n, mean predicted probability and observed
      // positive rate in exact integer micro-units (nonneg div), and
      // the calibration gap. The Brier sum squares nano-residuals —
      // (1e9)² per row overflows BIGINT in the thousands, so the sums
      // accumulate as DECIMAL(38,0) (the q140 discipline) and divide
      // back to a BIGINT micro-score carried on every row. Measured
      // verdict (the honest one): the model's logit is a MEAN of
      // ~±1-microunit random weights, so predictions hug ½ — only
      // bins 4–6 are populated (mean predicted 0.48–0.60) — and
      // Brier = 0.2505, statistically indistinguishable from the
      // always-say-½ model's 0.25: together with q259's AUC 0.507
      // the two axes agree the stand-in model carries zero signal,
      // each seeing a different face of it (no discrimination; no
      // spread to mis-calibrate).
      val scores = qualityScoresOn(s, t(s, d, "documents"))
      val tot = scores.agg(count(lit(1)).as("nd"),
        sum(col("n_tokens")).as("tt"))
      val dec = "decimal(38,0)"
      val labeled = scores.crossJoin(broadcast(tot))
        .select(col("p_nano"),
          when(col("n_tokens") * col("nd") > col("tt"), 1L).otherwise(0L)
            .as("y"))
        .withColumn("bin", least(expr("p_nano div 100000000"), lit(9L)))
        .withColumn("res", col("p_nano") - col("y") * lit(1000000000L))
      val brier = labeled
        .agg(sum((col("res") * col("res")).cast(dec)).as("sq"),
          count(lit(1)).cast(dec).as("n"))
        .select(expr(
          "CAST((sq div n) div 1000000000000 AS BIGINT)")
          .as("brier_micro"))
      labeled.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("p_nano")).as("sp"), sum(col("y")).as("sy"))
        .select(col("bin"), col("n"),
          expr("(sp div n) div 1000 AS mean_pred_micro"),
          expr("(sy * 1000000) div n AS obs_rate_micro"))
        .withColumn("gap_micro",
          col("mean_pred_micro") - col("obs_rate_micro"))
        .crossJoin(broadcast(brier))
        .orderBy("bin")
    }),

    "q215_cdc_chunking" -> ((s, d) =>
      // Content-defined chunking — q214's SHIFT-ROBUST twin: fixed
      // 64/48 windows lose every downstream chunk identity the moment
      // one token is inserted upstream (all boundaries shift), which is
      // exactly the edit near-dup documents carry. CDC places a
      // boundary after token p wherever the 3-gram ending at p hashes
      // to ≡ 0 (mod 32) — a LOCAL decision, so an edit only disturbs
      // boundaries whose grams overlap it and every later chunk keeps
      // its fingerprint (CdcSpec MEASURES it: one token prepended ⇒
      // all but the first chunk's fingerprints survive, while the q214
      // fixed-window fingerprints all change). Expected chunk ≈ 32
      // tokens; chunk_id is a per-doc prefix sum of boundary flags (a
      // doc-bounded window, the PlanGuard-legal shape); fingerprints
      // then dedup cross-doc with the q214 min-keeper idiom. The same
      // rolling/local-hash discipline as q113's Rabin-Karp spans,
      // applied to the chunking stage every dedup-aware ingest runs.
      cdcChunks(t(s, d, "documents").select(col("doc_id"), col("text")))
        .orderBy("doc_id", "chunk_id")),

    "q214_chunking" -> ((s, d) => {
      // Sliding-window document chunking + cross-doc chunk dedup — the
      // step every RAG/embedding pipeline runs between cleaning and the
      // encoder, absent from the suite until now: 64-token windows at
      // stride 48 (25% overlap), the tail kept however short (dropping
      // it silently loses document endings — the classic chunking bug).
      // Each chunk carries exact integer geometry (chunk_idx, start_tok,
      // n_tokens) and an md5 fingerprint; the dedup leg marks the
      // lexicographically-first (doc_id, chunk_idx) occurrence of every
      // fingerprint as the keeper (the q60 min-keeper idiom lifted to
      // chunk granularity — the corpus's planted duplicate documents
      // produce real cross-doc dup chunks). One scan + explode for the
      // chunks, one narrow shuffle on the 32-hex fingerprint for the
      // keeper vote, a broadcast-sized join back. At 100 TB: ~50 bytes
      // per chunk cross the exchange (fingerprint + geometry), never
      // chunk text; stride/window are constants so the explode is pure
      // per-row arithmetic inside codegen.
      val W = 64
      val S = 48
      val ch = graft.CacheRegistry.cached(t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .where(col("n") >= 1)
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(0, (n - 1) div $S)")).as("k"))
        .withColumn("start_tok", (col("k") * S + 1).cast("long"))
        .withColumn("chunk", expr(s"slice(toks, k * $S + 1, $W)"))
        .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
          col("start_tok"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5")))
      val keeper = ch.groupBy(col("chunk_md5"))
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("m"))
      ch.join(keeper, "chunk_md5")
        .withColumn("keeper",
          col("doc_id") === col("m.doc_id") &&
            col("chunk_idx") === col("m.chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          col("n_tokens"), col("chunk_md5"), col("keeper"))
        .orderBy("doc_id", "chunk_idx")
    }),

    "q204_html_extract" -> ((s, d) => {
      // HTML → text extraction — the crawl pipeline's step between
      // q202's blocklist and everything downstream (the
      // trafilatura-class operator, reduced to its exactly-specifiable
      // core). The corpus has no markup, so the page is SYNTHESIZED
      // deterministically around each document (the q65
      // injected-input discipline): title from the first tokens, the
      // body split across tags, entity-escaped text, and a <script>
      // block whose CONTENT must be REMOVED — the classic trap where
      // naive tag-stripping leaks javascript into training text.
      // Extraction: drop script/style blocks ((?s) non-greedy — Java
      // and RE2 agree), strip remaining tags to spaces, decode the
      // five core entities (&amp; LAST, or double-decoding corrupts),
      // collapse whitespace. Scan-bound per-row string work, zero
      // shuffle before the final tiny projection; the full extracted
      // text is compared by md5 + length so corpus-sized strings never
      // hit the result set.
      t(s, d, "documents")
        .select(col("doc_id"),
          regexp_extract(htmlPage, "<title>([^<]*)</title>", 1).as("title"),
          length(htmlCleanText).cast("long").as("n_chars"),
          md5(htmlCleanText).as("text_md5"),
          substring(htmlCleanText, 1, 40).as("head40"))
        .orderBy("doc_id")
    }),

    "q152_bpe_train" -> ((s, d) => {
      // Multi-round BPE TRAINING — the tokenizer-training loop q36 left
      // open (q36 is one pair-count round; this is the count → merge →
      // re-count fixpoint every real tokenizer runs). Same driver-loop
      // discipline as q129's Lloyd trainer: a FIXED number of rounds for
      // oracle-checkability, the loop builds plans only (no action — the
      // round's best pair is a broadcast 1-row frame, not a collect), and
      // each round's state/best frames are registry-cached so the chain
      // is built once per session. Counts are integer (word-occurrence
      // weights), ties break lexicographically — bit-exact vs the
      // unrolled-CTE DuckDB oracle. At 100 TB: state is O(vocabulary)
      // (distinct words), the pair count is a map-side-combined groupBy,
      // and the merge apply is an expression over each word's symbol
      // array — per-round cost is one aggregation + one projection over
      // the vocabulary, never a corpus rescan.
      bpeTrain(s, d)._2
        .select(col("round"), col("a").as("lhs"), col("b").as("rhs"),
          col("n"))
        .orderBy("round")
    }),

    "q160_bpe_apply" -> ((s, d) => {
      // The tokenizer INFERENCE step closing q152's training loop: the
      // corpus vocabulary under the trained segmentation — every word
      // with its symbol sequence after all merge rounds, i.e. what the
      // tokenizer emits for the training corpus. (Classic encode on NEW
      // text replays the merge table in rank order — q208 implements
      // that; BpeSpec pins that the replay over the training vocabulary
      // reproduces THIS end state.) Output carries the per-word token
      // count and the '|'-joined tokens, so both segmentation and
      // compression are hash-bound; chain frames are shared with q152
      // via the registry (one training compute per session).
      bpeTrain(s, d)._1
        .select(col("word"), col("wn"),
          size(col("syms")).cast("long").as("n_tokens"),
          array_join(col("syms"), "|").as("tokens"))
        .orderBy("word")
    }),

    "q208_bpe_encode" -> ((s, d) => {
      // BPE encode on UNSEEN text — the inference form q160's own
      // scaladoc names but does not implement: replay the trained merge
      // list to its end, in rank order, over text the trainer never saw.
      // The held-out fragment is synthesized deterministically from each
      // distinct corpus word (the q65 injected-input discipline):
      // held = word || reverse(word) — unseen by construction, and the
      // seam between the halves creates symbol pairs the training
      // vocabulary never contained, so the replay is exercised on
      // genuinely new contexts, not just memorized words. Each round is
      // the SHARED greedy-merge fold (bpeMergeExpr) against that round's
      // broadcast 1-row best-pair frame; training frames come from the
      // registry-cached q152 chain, so train-once/encode-many holds
      // in-session. At 100 TB: the merge table is R tiny broadcasts, the
      // held corpus streams through R chained codegen folds — no shuffle
      // before the final sort, per-word cost O(R · len). Oracle: the
      // same unrolled-CTE chain as q152/q160 for best1..bestR, then the
      // positional-merge replay per round over the held fragments.
      val bests = bpeTrain(s, d)._3
      // PARITY NOTE: reverse() here is ASCII-safe only — Spark reverses
      // code points while DuckDB reverses grapheme clusters, so the two
      // sides agree exactly because the documents corpus is pure ASCII
      // (combining characters would silently break the oracle hash; if
      // the corpus ever gains non-ASCII text, swap the held synthesis
      // for a code-point-explicit form on both sides).
      val held = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
        .distinct()
        .withColumn("held", concat(col("word"), reverse(col("word"))))
        .withColumn("syms", expr(
          "transform(sequence(1, length(held)), i -> substring(held, i, 1))"))
        .select(col("word"), col("held"), col("syms"))
      bpeEncode(held, bests, Seq("word", "held"))
        .select(col("word"), col("held"),
          size(col("syms")).cast("long").as("n_tokens"),
          array_join(col("syms"), "|").as("tokens"))
        .orderBy("word")
    }),

    "q36_bpe_pairs" -> ((s, d) =>
      // BPE vocabulary induction, one merge round (the tokenizer-training
      // primitive): count adjacent character pairs over every token
      // occurrence in the corpus and rank merge candidates. The explode →
      // groupBy shape is map-side-combinable — at 100 TB each task folds
      // its shard's pairs to ≤ |alphabet|² partial counts before the
      // exchange, so the shuffle is O(distinct pairs), not O(corpus).
      charPairs(s, d)
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(32)),

    "q106_heavy_hitters" -> ((s, d) => {
      // Heavy hitters under BOUNDED state: freq_sketch is a Misra-Gries
      // TypedImperativeAggregate (K=32 counters, mergeable-summaries
      // combine) — the answer to "which items dominate" when the item
      // domain is too wide to groupBy exactly. Its guarantees hold for
      // ANY input order and merge tree: estimates never overcount,
      // undercount by at most n/(K+1), and every item above that
      // threshold survives in the sketch. Estimate VALUES are
      // order-dependent (like every sketch), so the emitted columns are
      // the exact top-16 pair counts (oracle-hash-matched; the corpus
      // self-check rides along here, as in q103) plus the guarantee
      // booleans computed from the real sketch — the q22/q103
      // bounded-error-contract pattern. The char-pair domain (82 distinct
      // values > K, with exactly one true heavy hitter at every SF)
      // actually exercises eviction and the in-sketch guarantee.
      val pairs = charPairs(s, d)
      heavyHitterReport(pairs,
        pairs.agg(expr("freq_sketch(pair)").as("sk"),
          count(lit(1)).as("total")))
    }),

    "q37_repetition" -> ((s, d) => {
      // Gopher-style within-document repetition filters: most-common-token
      // fraction and duplicate bi/trigram fractions, with a keep verdict.
      // The token-frequency side is explode+groupBy (distributed, map-side
      // combined), NOT an O(n²) per-row expression; the gram side is
      // expression-level over the token array. Fractions are long/long
      // IEEE divisions — exact and engine-identical.
      val base = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val tf = base.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val top = tf.groupBy(col("doc_id"))
        .agg(max(col("tf")).as("max_tf"), sum(col("tf")).as("n_tokens"))
      val rep = base.select(col("doc_id"),
        size(wordGrams(2)).cast("long").as("n_bi"),
        size(array_distinct(wordGrams(2))).cast("long").as("n_bi_d"),
        size(wordGrams(3)).cast("long").as("n_tri"),
        size(array_distinct(wordGrams(3))).cast("long").as("n_tri_d"))
      top.join(rep, "doc_id")
        .withColumn("top_tok_frac",
          col("max_tf").cast("double") / col("n_tokens"))
        .withColumn("dup_bi_frac",
          when(col("n_bi") === 0, lit(0.0))
            .otherwise((col("n_bi") - col("n_bi_d")).cast("double") / col("n_bi")))
        .withColumn("dup_tri_frac",
          when(col("n_tri") === 0, lit(0.0))
            .otherwise((col("n_tri") - col("n_tri_d")).cast("double") / col("n_tri")))
        .withColumn("keep",
          (col("top_tok_frac") <= 0.12 && col("dup_bi_frac") <= 0.2 &&
            col("dup_tri_frac") <= 0.05).cast("int"))
        .select(col("doc_id"), col("n_tokens"), col("max_tf"),
          col("top_tok_frac"), col("n_bi"), col("n_bi_d"), col("dup_bi_frac"),
          col("n_tri"), col("n_tri_d"), col("dup_tri_frac"), col("keep"))
        .orderBy("doc_id")
    }),

    "q38_mix_weights" -> ((s, d) => {
      // Temperature-scaled source mixing (the multi-corpus training-mix
      // move): share_s = tokens_s / total, weight_s ∝ share_s^(1/2)
      // (alpha = 0.5 flattens the mix toward rare sources), then a
      // 1M-token budget allocation and implied per-source epochs. sqrt is
      // IEEE-correctly-rounded in both engines, and BOTH normalizing sums
      // run over integer-quantized values (exact longs), so aggregation
      // order — Spark's partial/final tree vs DuckDB's sequential scan —
      // can never change a bit of the output.
      val perSrc = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("tokens"))
      val tot = perSrc.agg(sum(col("tokens")).as("total_tokens"))
      val scored = perSrc.crossJoin(tot) // lazy 1-row broadcast, q85 idiom
        .withColumn("share", col("tokens").cast("double") / col("total_tokens"))
        .withColumn("wq", round(sqrt(col("share")) * 1e9).cast("long"))
      val wtot = scored.agg(sum(col("wq")).as("wq_total"))
      scored.crossJoin(wtot)
        .withColumn("weight", col("wq").cast("double") / col("wq_total"))
        .withColumn("target_tokens", round(col("weight") * 1e6).cast("long"))
        .withColumn("epochs6",
          round(col("target_tokens").cast("double") / col("tokens") * 1e6) / 1e6)
        .select(col("source"), col("n_docs"), col("tokens"), col("share"),
          col("weight"), col("target_tokens"), col("epochs6"))
        .orderBy("source")
    }),

    "q116_temperature_sample" -> ((s, d) => {
      // Executes the resample q38 only PLANS: q38 emits the α=0.5
      // temperature-flattened target allocation; q116 turns it into an
      // actual sampled corpus with a per-document content-hash accept
      // test (the q75 determinism idiom — no rand(), layout- and
      // retry-invariant, composes with incremental runs). Integer chain,
      // exact end to end: wu = round(sqrt(token_mass)·1e6) (sqrt is
      // IEEE-correctly-rounded in both engines; masses < 2^53 are exact
      // doubles), share in ppm by BIGINT division, per-source accept
      // rate in 2^20 units, and a doc is picked iff its 20-bit md5
      // prefix falls under the rate. Overflow headroom documented at
      // the use sites — every product stays under 2^63 up to ~10^13
      // corpus tokens (≈ 100 TB of text). Scale shape: two map-side
      // aggs + two lazy 1-row crossJoins (q85 idiom); the rate table
      // broadcasts onto the doc scan, so the pick is one pass.
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          // 5 hex chars = exactly 20 bits: hp uniform on [0, 2^20)
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 5), 16, 10) AS BIGINT)")
            .as("hp"))
      val src = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("m_tok"))
        .withColumn("wu",
          round(sqrt(col("m_tok").cast("double")) * 1e6).cast("long"))
      val tot = src.agg(expr("sum(wu) AS wu_tot"),
        expr("sum(m_tok) DIV 4 AS b_tok")) // budget: a quarter of the mass
      val rates = src.crossJoin(tot)
        .withColumn("share_ppm", expr("wu * 1000000 DIV wu_tot"))
        // ppm-quantized target: share_ppm·b_tok ≤ 1e6·~2.5e12 < 2^63
        .withColumn("target_tokens", expr("share_ppm * b_tok DIV 1000000"))
        // target·2^20 ≤ b_tok·2^20 < 2^63 at ≤ ~6·10^12 budget tokens
        .withColumn("rate20", least(lit(1048576L),
          expr("target_tokens * 1048576 DIV m_tok")))
      val picked = docs
        .join(rates.select(col("source"), col("rate20")), "source")
        .where(col("hp") < col("rate20"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("picked_docs"),
          sum(col("n_tokens")).as("picked_tokens"))
      rates.join(picked, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("m_tok"), col("wu"),
          col("share_ppm"), col("target_tokens"), col("rate20"),
          coalesce(col("picked_docs"), lit(0L)).as("picked_docs"),
          coalesce(col("picked_tokens"), lit(0L)).as("picked_tokens"))
        .orderBy("source")
    }),

    "q80_token_stats" -> ((s, d) =>
      // token counting: whitespace tokenizer + a BPE-style pre-tokenizer
      // (letter runs / digit runs / single punctuation, the GPT-2 regex
      // shape) + exact integer stats. The punctuation branch is the
      // EXPLICIT printable-ASCII ranges !-/ :-@ [-` {-~, not [^A-Za-z0-9 ]:
      // a negated class matches any non-ASCII char too, and Java counts a
      // non-BMP char as two code-unit matches where RE2 counts one rune —
      // an oracle-parity break on astral-plane text. n_bpe approximates
      // LLM token budget far better than whitespace words on
      // punctuation-heavy text.
      t(s, d, "documents")
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[!-/:-@\\[-`{-~]"), lit(0)))
            .cast("long").as("n_bpe"),
          aggregate(transform(col("toks"), x => length(x)), lit(0L),
            (acc, x) => acc + x).as("sum_tok_len"))
        .withColumn("avg_tok_len",
          col("sum_tok_len").cast("double") / col("n_tokens"))
        .orderBy("doc_id")),

    "q81_word_freq" -> ((s, d) =>
      // the UDTF/Generator surface (§2.10 gap): explode + count + top-k
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)),

    "q82_quality" -> ((s, d) => {
      // quality scoring: length/stopword/diversity ratios, exact-int inputs
      val toks = split(col("text"), " ")
      t(s, d, "documents")
        .select(col("doc_id"), col("text"), toks.as("toks"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_m"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(filter(col("toks"), x => x.isin(Stopwords: _*))).cast("long")
            .as("n_stop"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("diversity",
          col("n_distinct").cast("double") / col("n_tokens"))
        .withColumn("quality_score",
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) *
            (lit(1.0) - col("stop_ratio")) * col("diversity"))
        .orderBy("doc_id")
    }),

    "q83_lang_id" -> ((s, d) => {
      // stopword-marker language heuristic; deterministic arg-max with
      // first-listed-language tie-break. Scores are exact integers.
      var df = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      for ((lang, markers) <- LangMarkers)
        df = df.withColumn(s"score_$lang",
          size(filter(col("toks"), x => x.isin(markers: _*))).cast("long"))
      val best = LangMarkers.map(_._1).map(l => col(s"score_$l"))
        .reduce((a, b) => greatest(a, b))
      val pred = LangMarkers.foldRight(lit("und")) { case ((lang, _), other) =>
        when(col(s"score_$lang") === best && best > 0, lang).otherwise(other)
      }
      df.withColumn("pred_lang", pred)
        .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
        .select((col("doc_id") +: col("lang") +: col("pred_lang") +:
          col("is_match") +: LangMarkers.map(m => col(s"score_${m._1}"))): _*)
        .orderBy("doc_id")
    }),

    "q85_tfidf" -> ((s, d) => {
      // TF-IDF with smoothed idf = ln((N+1)/(df+1)) + 1; top-3 terms per
      // document. tf/df are exact integers; ties in tfidf (equal tf AND
      // equal df) break on the term string, so ranking is deterministic.
      // This is the REFERENCE form (window rank); q157 reproduces it with
      // an O(k)-state aggregate and shares the oracle verbatim.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tfidfScored(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (round(col("tfidf") * 1e6) / 1e6).as("tfidf6"), col("rn"))
        .orderBy("doc_id", "rn")
    }),

    "q157_topk_agg" -> ((s, d) => {
      // q85's top-3-per-doc via the topk_rows bounded-state aggregate —
      // the q88/q108 same-oracle-different-physical-strategy move applied
      // to the window-rank idiom. The window form materializes EVERY
      // (doc, term) row of a partition in WindowExec's sort buffer; this
      // form keeps exactly k=3 rows per group at all times and combines
      // MAP-SIDE, so a hot group's rows collapse to k per input partition
      // before the shuffle — the 100 TB answer to top-k per key when
      // groups are huge or skewed. Identical output (same score, same
      // tie-break, rank = array index + 1): shares q85's oracle VERBATIM,
      // and the scored frame is ONE definition (tfidfScored).
      tfidfScored(s, d)
        .groupBy(col("doc_id"))
        .agg(expr("topk_rows(struct(tfidf, term, tf, df), 3)").as("top"))
        .select(col("doc_id"),
          posexplode(col("top")).as(Seq("i", "r")))
        .select(col("doc_id"), col("r.term").as("term"), col("r.tf").as("tf"),
          col("r.df").as("df"),
          (round(col("r.tfidf") * 1e6) / 1e6).as("tfidf6"),
          (col("i") + 1).cast("long").as("rn"))
        .orderBy("doc_id", "rn")
    }),

    "q118_lm_surprisal" -> ((s, d) => {
      // unigram-LM surprisal scoring — the KenLM-shaped quality filter at
      // n-gram order 1: score each document by the mean negative
      // log-probability of its tokens under the corpus's OWN unigram
      // distribution (high mean surprisal = rare-token-heavy / gibberish,
      // low = boilerplate-common). Distributed shape: aggregate to
      // (doc, term, tf) FIRST, so the model join keys on distinct doc-term
      // pairs, never the raw token stream (at 100 TB the exploded stream is
      // ~10x the corpus; tf collapses map-side before any shuffle). The
      // vocab side is a shuffle join on `word`, NOT a broadcast — a web-scale
      // vocab is itself huge. Surprisal per term is quantized to integer
      // nanounits BEFORE the tf-weighted sum, so doc scores are exact
      // BIGINTs (order-independent across cluster layouts), and the mean is
      // integer division (`div` here, `//` in the oracle — both positive, so
      // truncation agrees).
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        // referenced as vocab source AND join probe — persist or the
        // scan+explode+agg computes twice
        .transform(graft.CacheRegistry.cached)
      val vocab = tf.groupBy(col("word")).agg(sum(col("tf")).as("cnt"))
      // corpus token total as a lazy 1-row crossJoin (the q85 idiom) — an
      // eager .count() here would scan before the real query starts
      val tot = vocab.agg(sum(col("cnt")).as("t"))
      tf.join(vocab, "word").crossJoin(tot)
        .withColumn("lp_n",
          round(log(col("t").cast("double") / col("cnt")) * 1e9).cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("lp_n")).as("surprisal_nano"))
        .withColumn("mean_surprisal_nano",
          expr("surprisal_nano div n_tokens"))
        .orderBy("doc_id")
    }),

    "q123_curriculum_bins" -> ((s, d) => {
      // curriculum binning — the data-ordering move of curriculum
      // training: bucket documents into quality quartiles so the loader
      // can schedule easy→hard (or mix per-bin rates). Quality is q82's
      // formula quantized to integer nanounits (q102's `qn`); the bin
      // rule is "count of quartile cutoffs strictly below qn", so bins
      // are a broadcast 1-row crossJoin + a single pass over the corpus —
      // the corpus never sorts globally and never shuffles beyond the
      // final 4-row aggregate. Cutoffs here are EXACT percentile (q26's
      // unbounded-state caveat applies to that one 1-row aggregate); the
      // 100 TB swap is approx_percentile in its place, and this query
      // certifies that swap in-line: cuts_within_tol asserts each approx
      // quartile lands within 1% of the exact one (the q103 pattern).
      val toks = split(col("text"), " ")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(filter(toks, x => x.isin("the", "a"))).cast("long").as("n_stop"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .withColumn("qn", round(
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) *
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
            (col("n_distinct").cast("double") / col("n_tokens")) * 1e9)
          .cast("long"))
      val cuts = docs.agg(
        expr("percentile(qn, array(0.25, 0.5, 0.75))").as("cs"),
        expr("approx_percentile(qn, array(0.25, 0.5, 0.75), 10000)").as("acs"))
      docs.crossJoin(cuts)
        .withColumn("bin",
          (1 to 3).map(k =>
            when(col("qn") > element_at(col("cs"), k), 1).otherwise(0))
            .reduce(_ + _).cast("long"))
        .withColumn("within",
          forall(zip_with(col("cs"), col("acs"),
            (e, a) => abs(a - e) <= abs(e) * 0.01), x => x))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("qn")).as("qn_min"), max(col("qn")).as("qn_max"),
          sum(col("n_tokens")).as("tokens"),
          expr("bool_and(within)").as("cuts_within_tol"))
        .orderBy("bin")
    }),

    "q86_chunking" -> ((s, d) => {
      // document chunking: overlapping token windows (size 64, stride 32) —
      // the standard pre-tokenization shape for LLM training data. Window
      // starts are 1, 33, 65, ... and always include a tail chunk.
      val chunkLen = 64; val stride = 32
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("nwin", // number of stride starts covering all tokens
          greatest(ceil((size(col("toks")) - chunkLen).cast("double") / stride)
            .cast("int"), lit(0)) + 1)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), col("nwin") - 1),
            k => concat_ws(" ", slice(col("toks"), k * stride + 1, lit(chunkLen)))))
            .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk"),
          size(split(col("chunk"), " ")).cast("long").as("chunk_tokens"))
        .orderBy("doc_id", "chunk_id")
    }),

    "q87_redact" -> ((s, d) =>
      // PII scrubbing: regex redaction of emails and phone-like digit runs.
      // The corpus has no PII, so a synthetic line exercises the path and
      // proves the patterns fire; the doc text passes through the same
      // redaction (a no-op here, asserted by the oracle either way).
      t(s, d, "documents").select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(
            concat(lit("contact: user"), col("doc_id"),
              lit("@example.com tel 555-0123 :: "), col("text")),
            "[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>"),
          "[0-9]{3}-[0-9]{4}", "<PHONE>").as("redacted"))
        .orderBy("doc_id")),

    "q88_pack_batches" -> ((s, d) =>
      // sequence packing: assign docs (in deterministic order) to training
      // batches by cumulative token budget — the standard streaming
      // approximation of greedy packing (see packBatches above)
      packBatches(t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")))),

    "q108_pack_sharded" -> ((s, d) =>
      // the skew-immune two-pass prefix-sum form of q88 — identical
      // batches (shares q88's oracle verbatim), but no window partition
      // ever exceeds the shard width, however dominant one source is
      // (see packBatchesSharded; bit-equality with the one-pass form is
      // additionally pinned on an all-one-source frame in
      // ScaleTechniquesSpec)
      packBatchesSharded(t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")))),

    "q84_rolling_fp" -> ((s, d) => {
      // document fingerprinting with the custom codegen rolling-hash
      // Expression. Oracle-checked: DuckDB reproduces the 64-bit wrapping
      // h = h*31 + byte via HUGEINT list_reduce mod 2^64 (+ signed
      // conversion) — byte = ascii codepoint on this ASCII corpus.
      t(s, d, "documents").select(col("doc_id"),
        expr("rolling_hash(text)").as("fp"),
        expr("rolling_hash(substring(text, 1, 64))").as("fp_head"))
        .orderBy("doc_id")
    }),

    "q75_stratified_sample" -> ((s, d) => {
      // Stratified rebalancing sample — the training-mix move: downsample
      // the over-represented stratum (en is 44% of this corpus) to a
      // per-stratum rate. The accept test is a deterministic content-hash
      // cutoff (md5 prefix, the q44 idiom), NOT rand(): reproducible
      // across engines, runs and cluster layouts, and it composes with
      // incremental reprocessing — a re-run over yesterday's corpus +
      // today's delta accepts exactly the same historical docs. Rates are
      // /256-granular hex cutoffs: en 51/256 ≈ 20%, others 128/256 = 50%.
      t(s, d, "documents")
        .filter(stratAccept)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    }),

    "q112_epoch_shuffle" -> ((s, d) => epochShuffle(s, d, 1)),

    "q76_weighted_sample" -> ((s, d) => {
      // Weighted sampling without replacement (Efraimidis-Spirakis):
      // rank by -ln(u)/w ascending and take k — equivalent to sampling
      // k docs with probability proportional to weight w (= n_chars,
      // i.e. length-proportional, the token-budget-aware choice).
      // u is a 16-bit md5-derived uniform (deterministic, same idiom as
      // the LSH suite); the key is quantized to integer nanounits so the
      // ORDER BY is exact in both engines (ulp-level libm differences in
      // ln() sit ~11 orders of magnitude below the quantum), with doc_id
      // closing the tie (expect a couple of 16-bit u collisions per 500
      // docs). Top-k is a TakeOrderedAndProject — no full sort at scale.
      val h = "md5(cast(doc_id AS string))"
      def nibble(i: Int) = s"(instr('0123456789abcdef', substring($h, $i, 1)) - 1)"
      val u = s"((${nibble(1)} * 4096 + ${nibble(2)} * 256 + " +
        s"${nibble(3)} * 16 + ${nibble(4)} + 0.5) / 65536.0)"
      t(s, d, "documents")
        .withColumn("key",
          expr(s"cast(round((-ln($u) / n_chars) * 1e9) AS bigint)"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("key"))
        .orderBy(col("key"), col("doc_id"))
        .limit(50)
    }),

    "q153_bm25" -> ((s, d) => {
      // BM25 top-k sparse retrieval — the lexical half of hybrid search
      // next to the ANN stack (q127/q143): score documents against a fixed
      // query set with Robertson BM25 (k1=1.2, b=0.75). Distributed shape
      // is the inverted-index join: the corpus collapses map-side to
      // (doc, term, tf) postings; the tiny query table BROADCASTS onto the
      // postings so only documents containing a query term ever leave the
      // scan (posting-list candidates — work is O(matching postings),
      // never O(corpus × queries)); df is computed only for query terms
      // and broadcast back; N/avgdl ride a lazy 1-row crossJoin (the q85
      // idiom). Per-term contributions are quantized to integer
      // micro-units BEFORE the per-(query, doc) sum, so scores are exact
      // BIGINTs in any aggregation order; the top-10 ranks on
      // (score desc, doc_id) — fully deterministic. The one window
      // partitions by query_id over posting-bounded candidates only.
      // Pipeline body lives in bm25Ranked — shared with q165's fusion
      // and served through the session memo (r14: one pass, three
      // consumers).
      bm25RankedServed(s, d).orderBy("query_id", "rk")
    }),

    "q229_psi_drift" -> ((s, d) => {
      // Population-stability-index drift detection — the monitoring
      // gate between yesterday's corpus and today's: doc lengths bin
      // into 20 fixed buckets (the q196 explicit-edge discipline), the
      // even/odd doc_id halves stand in for reference vs current, and
      // each bin contributes (p−q)·ln(p/q) with add-one smoothing
      // (zero-count bins can't blow up). Counts are exact integers;
      // the one transcendental is quantized to nanounits PER BIN (the
      // q154 idiom) so the per-bin contributions — and any total a
      // dashboard sums from them — are hash-exact. The conventional
      // read (PSI < 0.1 stable, > 0.25 shifted) applies to the summed
      // nanounits / 1e9. One scan + a 20-row aggregate; totals ride a
      // lazy 1-row crossJoin.
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("v"))
        .withColumn("bin", least(expr("v div 100"), lit(19L)))
        .withColumn("ref", col("doc_id") % 2 === 0)
      val cnt = docs.groupBy(col("bin")).agg(
        sum(when(col("ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("ref"), 1L).otherwise(0L)).as("n_cur"))
      val tot = cnt.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
      cnt.crossJoin(broadcast(tot))
        .withColumn("psi_nano", expr(
          "CAST(round(((CAST(n_ref + 1 AS DOUBLE) / (tr + 20)) - " +
            "(CAST(n_cur + 1 AS DOUBLE) / (tc + 20))) * " +
            "ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 20)) / " +
            "(CAST(n_cur + 1 AS DOUBLE) / (tc + 20))) * 1e9) AS BIGINT)"))
        .select(col("bin"), col("n_ref"), col("n_cur"), col("psi_nano"))
        .orderBy("bin")
    }),

    "q227_pmi_collocations" -> ((s, d) => {
      // PMI collocation mining — the co-occurrence statistic behind
      // phrase discovery, topic seeds and association rules:
      // pmi(a,b) = ln(N·c(a,b) / (c(a)·c(b))) over document-level
      // co-occurrence. Distinct (doc, term) pairs self-join ON doc_id
      // with a.term < b.term — pair work per doc is bounded by the
      // doc's own VOCABULARY squared (at web scale a df-cap prunes
      // stopword-class terms first, the q63 ShingleDfCap discipline);
      // df counts come from the same distinct frame, N rides a lazy
      // 1-row crossJoin (q85), support ≥ 5 co-docs. PMI is quantized
      // to integer nanounits per pair (the q154 idiom — the ln spelled
      // with the oracle's exact parenthesization), so the emitted
      // table is hash-exact including its (pmi desc, a, b) order.
      val dt = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct()
        .transform(graft.CacheRegistry.cached)
      val df = dt.groupBy(col("term")).agg(count(lit(1)).as("c1"))
      val n = dt.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_docs"))
      val pairs = dt.select(col("doc_id"), col("term").as("a"))
        .join(dt.select(col("doc_id"), col("term").as("b")), "doc_id")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
        .where(col("cab") >= 5)
      pairs
        .join(broadcast(df.select(col("term").as("a"), col("c1").as("ca"))), "a")
        .join(broadcast(df.select(col("term").as("b"), col("c1").as("cb"))), "b")
        .crossJoin(broadcast(n))
        .withColumn("pmi_nano", expr(
          "CAST(round(ln(CAST(cab AS DOUBLE) * n_docs / (ca * cb)) * 1e9) " +
            "AS BIGINT)"))
        .select(col("a"), col("b"), col("ca"), col("cb"), col("cab"),
          col("pmi_nano"))
        .orderBy(col("pmi_nano").desc, col("a"), col("b"))
    }),

    "q225_epoch_shuffle" -> ((s, d) => {
      // Deterministic per-epoch training order — the reproducibility
      // contract every trainer needs (resume mid-epoch, re-run a job,
      // audit which sample was step N): epoch e's permutation is the
      // rank of md5('ep' || e || '_' || doc_id), so the order is (a)
      // uniform-random-like, (b) DIFFERENT every epoch, (c) bit-stable
      // under any cluster layout with no rand() anywhere. The global
      // rank is NEVER a global window: hashes shard uniformly by their
      // first hex nibble (16 shards by construction), per-(epoch,
      // shard) counts fold into exclusive prefix offsets over the tiny
      // counts frame, and a within-shard row_number reproduces the
      // exact global position — the q108/q195/q222 two-pass machinery
      // applied to the shuffle every data loader materializes. At
      // 100 TB: one narrow exchange of (hash, doc_id) pairs per epoch,
      // positions exact, resume = WHERE pos > checkpoint.
      val epochs = 2
      val rows = t(s, d, "documents")
        .select(col("doc_id"),
          explode(expr(s"sequence(0, ${epochs - 1})")).as("epoch"))
        .withColumn("h", md5(concat(lit("ep"), col("epoch"), lit("_"),
          col("doc_id"))))
        .withColumn("shard",
          expr("CAST(conv(substring(h, 1, 1), 16, 10) AS INT)"))
        .transform(graft.CacheRegistry.cached)
      val cnts = rows.groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).as("cnt"))
      val offs = cnts.withColumn("off", coalesce(
        sum(col("cnt")).over(Window.partitionBy(col("epoch"))
          .orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      rows
        .withColumn("rg", row_number().over(
          Window.partitionBy(col("epoch"), col("shard"))
            .orderBy(col("h"), col("doc_id"))).cast("long"))
        .join(broadcast(offs.select(col("epoch"), col("shard"), col("off"))),
          Seq("epoch", "shard"))
        .select(col("epoch").cast("long").as("epoch"),
          (col("rg") + col("off")).as("pos"), col("doc_id"))
        .orderBy("epoch", "pos")
    }),

    "q224_text_scrub" -> ((s, d) => {
      // Invisible-character scrubbing — the cleaning stage between
      // extraction (q204/q209) and everything downstream: BOM,
      // zero-width characters (the classic paste/crawl contamination
      // that breaks tokenizers and dedup silently) and C0/DEL control
      // bytes are stripped. The corpus is clean ASCII, so dirt is
      // INJECTED deterministically (the q65 discipline): every 11th doc
      // gains a BOM prefix, a BEL at a hash-chosen position and a
      // zero-width space — and the scrub contract is SELF-CERTIFYING:
      // scrub(dirty(text)) must equal the original text exactly, so the
      // emitted `restored` flag (clean_md5 == md5(original)) is TRUE
      // for every row, planted or not, and n_removed is exactly 3 for
      // planted docs and 0 otherwise. Unicode escapes on the Spark
      // side, chr() codepoints on the DuckDB side (Spark's char()
      // truncates mod 256 — the trap this dodges); both engines run the
      // same \x-escape regex class for controls (Java and RE2 agree).
      // Per-row projection: scan-bound at any scale.
      val digit = expr(
        "CAST(conv(substring(md5(concat('dirty_', CAST(doc_id AS STRING))), " +
          "1, 1), 16, 10) AS INT)")
      val k = least(digit % 40 + 1, length(col("text")))
      val dirty = when(col("doc_id") % 11 === 0,
        concat(lit("\uFEFF"), col("text").substr(lit(1), k),
          lit("\u0007"), lit("\u200B"),
          col("text").substr(k + lit(1), length(col("text")))))
        .otherwise(col("text"))
      val cleaned = regexp_replace(regexp_replace(dirty,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
        "[\uFEFF\u200B-\u200D]", "")
      t(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("dirty", dirty)
        .withColumn("clean", cleaned)
        .select(col("doc_id"),
          (col("doc_id") % 11 === 0).as("was_dirty"),
          (length(col("dirty")) - length(col("clean"))).cast("long")
            .as("n_removed"),
          md5(col("clean")).as("clean_md5"),
          (md5(col("clean")) === md5(col("text"))).as("restored"))
        .orderBy("doc_id")
    }),

    "q218_retrieval_eval" -> ((s, d) =>
      // Retrieval EVALUATION — the measurement harness next to the
      // retrieval stack itself (BM25 q153, ANN q127/q143, fusion q165):
      // known-item search, the classic self-labeling eval. Every 13th
      // document becomes a query (its 4 RAREST distinct tokens — df asc
      // then term, the discriminative-term builder every known-item
      // harness uses), and the one relevant item is the source document
      // itself — ground truth by construction, no human labels. The
      // ranked lists come from the IDENTICAL q153 scoring body
      // (bm25ServeOn — same postings, same micro-unit arithmetic; the
      // eval can never drift from the ranker it measures). Per query:
      // the target's rank in the top-10 (0 = miss), reciprocal rank in
      // exact integer micro-units (1e6 div rank — no float MRR), and
      // the hit@10 flag. The MEASURED result on this corpus is itself
      // the point of an eval harness: hit@10 is 4/39 at sf0.01, because
      // the synthetic vocabulary has 31 terms with min df 25 — no term
      // isolates a document, so lexical known-item retrieval sits near
      // chance (RetrievalEvalSpec proves the harness itself: on an
      // engineered corpus with planted unique terms, every query hits
      // rank 1). At 100 TB the query set is eval-sized (broadcast), so
      // the cost is one posting-list-bounded scoring pass — the eval
      // rides the production serving plan (r14: the ranked lists are
      // the staged pass shared with q258).
      {
        val (_, _, queries) = knownItemFrames(t(s, d, "documents"))
        knownItemEvalFrom(queries, knownItemRankedServed(s, d))
          .orderBy("query_id")
      }),

    "q258_ndcg" -> ((s, d) =>
      // NDCG@10 — the GRADED-relevance eval beside q218's binary
      // known-item ranks (MRR/hit@k see only "the one right doc";
      // NDCG measures how well the whole top-10 orders partial
      // matches — the metric that actually moves when a ranker
      // improves its tail). Relevance is derivable ground truth: how
      // many of the query's 4 terms the doc contains (1–4), gain
      // 2^rel − 1, discounts 1/log2(r+1) as nano-literals computed
      // once in Scala and embedded in BOTH engine texts (pow/log on
      // data is never cross-engine-safe — the q255 discipline), and
      // the ranked lists are the IDENTICAL q153/q218 scoring body, so
      // the three retrieval evals (MRR, RBO, NDCG) can never drift
      // from the ranker or each other. IDCG re-ranks the doc's true
      // rel set (top-10 by rel desc — tie order can't change the
      // sum), ndcg_micro = dcg·1e6 div idcg, exact BIGINTs
      // throughout. At 100 TB the shape is q218's: broadcast
      // eval-sized query set, posting-bounded scoring pass, one extra
      // map-side-combined rel aggregate; nothing new shuffles.
      // (r14: ranked lists = the staged pass shared with q218)
      {
        val (tf, _, queries) = knownItemFrames(t(s, d, "documents"))
        ndcgEvalFrom(tf, queries, knownItemRankedServed(s, d))
          .orderBy("query_id")
      }),

    "q192_chat_contract" -> ((s, d) => {
      // Chat-template CONTRACT validation — the SFT-data gate every
      // instruction-tuning pipeline runs before training: conversations
      // must parse, roles must strictly alternate user/assistant, and
      // the structural stats (turn count, closing role) feed the
      // dataset card. Here each document is deterministically rendered
      // as a JSON conversation (8-token turns, alternating roles),
      // serialized with to_json, and — the real operator under test —
      // PARSED BACK with from_json(ARRAY<STRUCT>) and validated with a
      // higher-order forall over the turn array. Every 97th document
      // gets a PLANTED role-case corruption in its JSON text, so the
      // validator's false path is exercised and the oracle (which
      // derives expected structure arithmetically from the token count,
      // independent of any JSON machinery) proves the parse-validate
      // chain detects exactly the planted rows. Per-row projection —
      // scan-bound at any scale, no UDFs.
      val conv =
        "transform(sequence(0, CAST((size(toks) + 7) div 8 AS INT) - 1), " +
          "i -> named_struct(" +
          "'role', CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END, " +
          "'content', array_join(slice(toks, i * 8 + 1, 8), ' ')))"
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("js", to_json(expr(conv)))
        .withColumn("js", when(col("doc_id") % 97 === 0,
          regexp_replace(col("js"), "\"role\":\"user\"", "\"role\":\"USER\""))
          .otherwise(col("js")))
        .withColumn("parsed",
          expr("from_json(js, 'array<struct<role:string,content:string>>')"))
        .select(col("doc_id"),
          size(col("parsed")).cast("long").as("n_turns"),
          expr("forall(sequence(0, size(parsed) - 1), " +
            "i -> parsed[i].role = CASE WHEN i % 2 = 0 " +
            "THEN 'user' ELSE 'assistant' END)").as("valid_roles"),
          expr("parsed[size(parsed) - 1].role").as("last_role"))
        .orderBy("doc_id")
    }),

    "q175_gini" -> ((s, d) => {
      // Vocabulary concentration per language — the Gini coefficient of
      // the token-frequency distribution, the corpus-diagnostics number
      // next to q81's head frequencies and q82's per-doc quality: a
      // boilerplate-flooded crawl shows near-1 concentration, a diverse
      // corpus sits low. Exact-integer throughout via the rank form of
      // the Gini numerator, sum((2*rank - n - 1) * freq) over the
      // frequency-ASC-sorted vocabulary: within a tie block every
      // ordering gives the same sum (equal freqs), so the number is
      // deterministic under any tie-break and any partitioning; the
      // ratio is reported in integer basis points by integer division.
      // Shape: one token-collapse shuffle, one per-lang window over the
      // VOCABULARY (not the token stream), KB-sized per-lang stats
      // broadcast back.
      val tf = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("f"))
      val stats = tf.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_terms"), sum(col("f")).as("total_tf"))
      val w = Window.partitionBy(col("lang")).orderBy(col("f"), col("term"))
      tf.withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(stats), "lang")
        .groupBy(col("lang"))
        .agg(max(col("n_terms")).as("n_terms"),
          max(col("total_tf")).as("total_tf"),
          sum((lit(2) * col("rn") - col("n_terms") - 1) * col("f"))
            .as("gini_num"))
        .withColumn("gini_bp",
          expr("10000 * gini_num div (n_terms * total_tf)"))
        .orderBy("lang")
    }),

    "q168_staged_bm25" -> ((s, d) => {
      // STAGED inverted-index serving — the q150 staging discipline
      // applied to the lexical half: postings (doc, term, tf) and doc
      // lengths materialized ONCE (single-flight Staging.once), postings
      // parquet-partitioned by the term's md5-nibble bucket. A query
      // computes its terms' buckets AT PLAN TIME (driver-side literals of
      // the same formula), so the scan prunes to those bucket= dirs —
      // zero tasks, zero bytes on the rest of the index. Scoring is
      // bm25Serve, the SAME tail q153 runs in-plan, so the staged answer
      // is bit-identical and shares q153's oracle verbatim (the
      // q105-shares-q63 / q150-shares-q143 contract). At 100 TB this is
      // how lexical retrieval actually deploys: the index is built once
      // per corpus snapshot, queries pay O(matching buckets' postings),
      // and df/avgdl come from the staged tables, never a corpus rescan.
      lexBuild(s, d)
      lexServe(s, lexStageDir(d)).orderBy("query_id", "rk")
    }),

    "q169_lex_delta" -> ((s, d) => {
      // Incrementally-MAINTAINED inverted index — q151's admission
      // discipline on the lexical side: the index is built from the BASE
      // docs alone; when the delta batch (doc_id ≡ 4 mod 5) arrives, its
      // postings are computed from the delta docs ONLY (the doc filter
      // sits below the explode — admission work is delta-proportional)
      // and APPENDED into the matching bucket= partitions, doclen rows
      // appended beside them. No base-file rewrite, no re-tokenization
      // of the already-indexed corpus. Serving then sees old+new from
      // one bucket-pruned read and must equal the full-corpus q153
      // answer exactly — BM25's global stats (df, N, avgdl) are
      // RECOMPUTED from the staged tables at serve time, which is the
      // part naive incremental search gets wrong (stale idf). Oracle =
      // q153's verbatim.
      lexIncBuild(s, d)
      lexIncAdmit(s, d)
      lexServe(s, lexIncStageDir(d)).orderBy("query_id", "rk")
    }),

    "q154_bigram_lm" -> ((s, d) => {
      // bigram-LM surprisal — q118's unigram scorer at n-gram order 2, one
      // step toward the KenLM quality filter: score each document by the
      // mean negative log-probability of its token TRANSITIONS under the
      // corpus's own add-one-smoothed bigram model,
      // p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V). A doc full of common words
      // in an uncommon ORDER now scores high where q118 cannot see it.
      // Distributed shape: adjacent pairs come from an in-row array
      // transform (no positional self-join over the token stream), then
      // collapse map-side to (doc, w1, w2, tf); the model join keys on
      // the distinct doc-bigram pairs, never raw positions; the bigram
      // model side is a shuffle join (web-scale bigram vocabs don't
      // broadcast); context counts c(w1·) roll up from the bigram counts
      // themselves. Per-transition surprisal is quantized to integer
      // nanounits BEFORE the tf-weighted sum (exact BIGINT doc scores in
      // any aggregation order); mean is integer division both engines.
      // Docs with < 2 tokens have no transitions and drop out in both.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
      val tfbg = docs
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("tf"))
        // feeds the model counts AND the scoring probe — one shuffle
        .transform(graft.CacheRegistry.cached)
      val c2 = tfbg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val v = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .agg(count_distinct(col("term")).as("v"))
      tfbg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(v)
        .withColumn("lp_n",
          round(log((col("c1") + col("v")) / (col("c2") + lit(1.0))) * 1e9)
            .cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("lp_n")).as("surprisal_nano"))
        .withColumn("mean_surprisal_nano",
          expr("surprisal_nano div n_bigrams"))
        .orderBy("doc_id")
    })
  )

  /** q152's oracle: the BPE loop unrolled to BpeRounds CTE blocks. The
    * greedy merge is spelled POSITIONALLY (DuckDB's list_reduce cannot
    * build arrays): flag eligible positions (s=a, next=b), group
    * consecutive eligible runs (gaps-and-islands — runs longer than 1
    * only occur when a=b), merge at the odd positions of each run, drop
    * the position after each merge start. Equivalent to the Spark side's
    * left-to-right fold; BpeSpec pins the overlap cases on both. */
  private def bpeOracleSql: String = {
    val unions = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, a AS lhs, b AS rhs, n FROM best$r")
      .mkString("\n|UNION ALL ")
    s"""WITH $bpeChainCtes
       |$unions
       |ORDER BY round""".stripMargin
  }

  /** One unrolled BPE round as CTE blocks (expand, best pair, eligibility,
    * run grouping, merge, next state). */
  private def bpeRoundCtes(r: Int): String = {
    {
      val prev = s"state${r - 1}"
      s"""exp$r AS (
         |  SELECT word, wn, i, syms[i] AS s, syms[i+1] AS nxt
         |  FROM (SELECT word, wn, syms,
         |          unnest(range(1, len(syms)+1)) AS i FROM $prev)),
         |best$r AS (
         |  SELECT s AS a, nxt AS b, CAST(sum(wn) AS BIGINT) AS n
         |  FROM exp$r WHERE nxt IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |elig$r AS (
         |  SELECT e.word, e.wn, e.i, e.s, e.nxt,
         |    coalesce(e.s = b.a AND e.nxt = b.b, FALSE) AS el
         |  FROM exp$r e CROSS JOIN best$r b),
         |run$r AS (
         |  SELECT *, i - row_number()
         |    OVER (PARTITION BY word, el ORDER BY i) AS grp
         |  FROM elig$r),
         |mrk$r AS (
         |  SELECT *, el AND (row_number()
         |    OVER (PARTITION BY word, el, grp ORDER BY i) % 2 = 1) AS mstart
         |  FROM run$r),
         |sel$r AS (
         |  SELECT *, coalesce(lag(mstart)
         |    OVER (PARTITION BY word ORDER BY i), FALSE) AS consumed
         |  FROM mrk$r),
         |state$r AS (
         |  SELECT word, wn,
         |    list(CASE WHEN mstart THEN s || nxt ELSE s END ORDER BY i)
         |      AS syms
         |  FROM sel$r WHERE NOT consumed GROUP BY word, wn)"""
        .stripMargin
    }
  }

  /** The shared CTE chain (state0 → state{BpeRounds}) both BPE oracles
    * build on. */
  private def bpeChainCtes: String = {
    val round = bpeRoundCtes _
    s"""state0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wn,
       |    list_transform(range(1, length(word)+1),
       |      i -> substr(word, i, 1)) AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) >= 2 GROUP BY word),
       |${(1 to BpeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** q160's oracle: the same unrolled chain, final select from the
    * end-state segmentation instead of the merge table. */
  private def bpeApplyOracleSql: String =
    s"""WITH $bpeChainCtes
       |SELECT word, wn, CAST(len(syms) AS BIGINT) AS n_tokens,
       |  array_to_string(syms, '|') AS tokens
       |FROM state$BpeRounds ORDER BY word""".stripMargin

  /** One unrolled ENCODE round: the positional greedy merge of
    * [[bpeRoundCtes]] replayed over the held-out state `enc{r-1}` against
    * the TRAINING chain's best$r (never recounted on the encode side). */
  private def bpeEncodeRoundCtes(r: Int): String = {
    val prev = s"enc${r - 1}"
    s"""eexp$r AS (
       |  SELECT word, held, i, syms[i] AS s, syms[i+1] AS nxt
       |  FROM (SELECT word, held, syms,
       |          unnest(range(1, len(syms)+1)) AS i FROM $prev)),
       |eelig$r AS (
       |  SELECT e.word, e.held, e.i, e.s, e.nxt,
       |    coalesce(e.s = b.a AND e.nxt = b.b, FALSE) AS el
       |  FROM eexp$r e CROSS JOIN best$r b),
       |erun$r AS (
       |  SELECT *, i - row_number()
       |    OVER (PARTITION BY word, el ORDER BY i) AS grp
       |  FROM eelig$r),
       |emrk$r AS (
       |  SELECT *, el AND (row_number()
       |    OVER (PARTITION BY word, el, grp ORDER BY i) % 2 = 1) AS mstart
       |  FROM erun$r),
       |esel$r AS (
       |  SELECT *, coalesce(lag(mstart)
       |    OVER (PARTITION BY word ORDER BY i), FALSE) AS consumed
       |  FROM emrk$r),
       |enc$r AS (
       |  SELECT word, held,
       |    list(CASE WHEN mstart THEN s || nxt ELSE s END ORDER BY i)
       |      AS syms
       |  FROM esel$r WHERE NOT consumed GROUP BY word, held)""".stripMargin
  }

  /** q208's oracle: training chain for best1..bestR, then the replay over
    * the synthesized held-out fragments (word || reverse(word)). */
  private def bpeEncodeOracleSql: String =
    s"""WITH $bpeChainCtes,
       |enc0 AS (
       |  SELECT word, word || reverse(word) AS held,
       |    list_transform(range(1, 2 * length(word) + 1),
       |      i -> substr(word || reverse(word), i, 1)) AS syms
       |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) >= 1),
       |${(1 to BpeRounds).map(bpeEncodeRoundCtes).mkString(",\n")}
       |SELECT word, held, CAST(len(syms) AS BIGINT) AS n_tokens,
       |  array_to_string(syms, '|') AS tokens
       |FROM enc$BpeRounds ORDER BY word""".stripMargin

  /** DuckDB spelling of [[htmlPage]] — an expression over `text`.
    * `||` sits at line ENDS: a continuation line starting with `||`
    * would be re-mangled by the EMBEDDING oracle's stripMargin (it
    * treats the first `|` as the margin). */
  private[operators] val htmlPageSql: String =
    """'<html><head><title>' ||
      |    array_to_string(string_split(text, ' ')[1:3], ' ') ||
      |    '</title></head><body><p class="lead">' || text ||
      |    ' &amp; more &lt;tags&gt; here</p>' ||
      |    '<script>var x = 1; if (x &lt; 2) { x++; }</script>' ||
      |    '<div>tail &quot;quoted&quot; text</div></body></html>'"""
      .stripMargin

  /** DuckDB spelling of [[htmlCleanText]] — an expression over `html`. */
  private[operators] val htmlCleanSql: String =
    """trim(regexp_replace(
      |      replace(replace(replace(replace(replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(html,
      |              '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      |          '<[^>]+>', ' ', 'g'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |        '&#39;', ''''), '&amp;', '&'),
      |      '\s+', ' ', 'g'))""".stripMargin

  /** The q233 score chain as a reusable oracle CTE body (w/tok/agg/p —
    * the same text q263/q233 inline), for the round-11 eval queries. */
  private[operators] val QualityPSql: String =
    """w AS (
      |  SELECT b AS bucket,
      |    CAST('0x' || substr(md5('w_' || CAST(b AS VARCHAR)), 1, 8)
      |      AS BIGINT) % 2000001 - 1000000 AS w_micro
      |  FROM (SELECT unnest(range(1024)) AS b)),
      |tok AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024 AS bucket
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(w_micro) AS BIGINT) AS logit_sum_micro
      |  FROM tok JOIN w USING (bucket) GROUP BY 1),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(round(1e9 / (1.0 + exp(-(CAST(logit_sum_micro AS DOUBLE)
      |      / n_tokens / 1e6)))) AS BIGINT) AS p_nano
      |  FROM agg)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q328_langid_train" ->
      s"""WITH $langFeatCte
         |SELECT lang, CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c, w_nano
         |FROM model ORDER BY lang, b""".stripMargin,
    "q329_langid_classify" ->
      s"""WITH $langFeatCte,
         |te AS (SELECT * FROM feat WHERE doc_id % 5 = 0),
         |dtr AS (SELECT lang, count(*) AS dl FROM documents
         |        WHERE doc_id % 5 != 0 GROUP BY 1),
         |dtot AS (SELECT count(*) AS dt FROM documents WHERE doc_id % 5 != 0),
         |priors AS (
         |  SELECT lang, CAST(round(ln(CAST(dl AS DOUBLE) / dt) * 1e9)
         |    AS BIGINT) AS prior_nano
         |  FROM dtr, dtot),
         |scored AS (
         |  SELECT t.doc_id, t.lang, m.lang AS cand,
         |    CAST(sum(m.w_nano) AS BIGINT) + p.prior_nano AS score_nano
         |  FROM te t JOIN model m ON t.b = m.b
         |  JOIN priors p ON p.lang = m.lang
         |  GROUP BY t.doc_id, t.lang, m.lang, p.prior_nano),
         |ranked AS (
         |  SELECT doc_id, lang, cand, score_nano,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_nano DESC, cand) AS rn
         |  FROM scored)
         |SELECT doc_id, lang AS lang_true, cand AS lang_pred, score_nano,
         |  (cand = lang) AS correct
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q307_hash_collisions" ->
      """WITH words AS (
        |  SELECT DISTINCT tok FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        |loads AS (
        |  SELECT CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS load
        |  FROM words GROUP BY 1),
        |ag AS (
        |  SELECT CAST(sum(load) AS BIGINT) AS n_words,
        |    CAST(count(*) AS BIGINT) AS n_buckets_used,
        |    CAST(max(load) AS BIGINT) AS max_load,
        |    CAST(sum(CASE WHEN load >= 2 THEN load ELSE 0 END) AS BIGINT)
        |      AS n_collided
        |  FROM loads)
        |SELECT n_words, n_buckets_used, max_load, n_collided,
        |  CAST(n_collided * 10000 // n_words AS BIGINT) AS collision_bp
        |FROM ag""".stripMargin,
    "q298_vocab_coverage" ->
      """WITH wc AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_vocab FROM wc),
        |rk AS (SELECT word, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
        |    AS r FROM wc),
        |ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32])
        |  AS BIGINT) AS k)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(cnt) AS BIGINT) AS covered, total, n_vocab,
        |  CAST(sum(cnt) * 10000 // total AS BIGINT) AS coverage_bp
        |FROM rk JOIN ks ON r <= k CROSS JOIN tot
        |GROUP BY k, total, n_vocab ORDER BY k""".stripMargin,
    "q293_dp_release" -> {
      val u = (salt: String) =>
        s"CAST('0x' || substr(md5('$salt' || lang || '_' || source), " +
          "1, 6) AS BIGINT) % 1000000"
      s"""WITH c AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |g AS (
         |  SELECT lang, source, n,
         |    CAST(${geomCase(u("dp1_"))} AS BIGINT) AS g1,
         |    CAST(${geomCase(u("dp2_"))} AS BIGINT) AS g2
         |  FROM c)
         |SELECT lang, source, n, g1 - g2 AS noise,
         |  n + g1 - g2 AS released_n
         |FROM g ORDER BY lang, source""".stripMargin
    },
    "q294_phrase_search" ->
      """WITH posts AS (
        |  SELECT doc_id, CAST(struct_extract(u, 'pos') AS BIGINT) AS pos,
        |    CAST(struct_extract(u, 'tk') AS VARCHAR) AS word
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(pos := i, tk := toks[i]))) AS u
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |          FROM documents))),
        |bi AS (
        |  SELECT a.word AS w1, b.word AS w2,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM posts a JOIN posts b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |top AS (SELECT * FROM bi ORDER BY n_pairs DESC, w1, w2 LIMIT 1),
        |hits AS (
        |  SELECT p1.doc_id
        |  FROM posts p1 JOIN top ON p1.word = top.w1
        |  JOIN posts p2 ON p2.doc_id = p1.doc_id
        |    AND p2.pos = p1.pos + 1 AND p2.word = top.w2)
        |SELECT w1, w2, n_pairs, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM hits CROSS JOIN top GROUP BY 1, 2, 3""".stripMargin,
    "q287_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |v AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS sc,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tc
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(sc) AS BIGINT) AS sN,
        |  CAST(sum(tc) AS BIGINT) AS tN,
        |  CAST(count(*) AS BIGINT) AS V FROM v),
        |w AS (
        |  SELECT word, CAST(round((ln(CAST(tc + 1 AS DOUBLE) / (tN + V))
        |    - ln(CAST(sc + 1 AS DOUBLE) / (sN + V))) * 1e9) AS BIGINT)
        |    AS w_nano
        |  FROM v CROSS JOIN tot)
        |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(w_nano) AS BIGINT) AS score_nano
        |FROM toks JOIN w USING (word)
        |GROUP BY doc_id, lang
        |ORDER BY score_nano DESC, doc_id LIMIT 50""".stripMargin,
    // the oracle ranks with a plain GLOBAL row_number — equality also
    // proves the Spark side's sharded rank reproduces the global rank
    "q288_spearman" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS y
        |  FROM documents),
        |rx AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY x, doc_id)
        |  AS BIGINT) AS rx FROM m),
        |ry AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY y, doc_id)
        |  AS BIGINT) AS ry FROM m),
        |j AS (SELECT (rx - ry) * (rx - ry) AS d2
        |  FROM rx JOIN ry USING (doc_id)),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(d2) AS BIGINT) AS sum_d2 FROM j)
        |SELECT n, sum_d2,
        |  CAST((2 * (CAST(n AS HUGEINT) * (n * n - 1)) -
        |    6 * CAST(sum_d2 AS HUGEINT)) * 1000000000 //
        |    (CAST(n AS HUGEINT) * (n * n - 1)) AS BIGINT)
        |    - 1000000000 AS rho_nano
        |FROM ag""".stripMargin,
    "q289_pr_sweep" ->
      s"""WITH $QualityPSql,
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |  CAST(sum(n_tokens) AS BIGINT) AS tt FROM p),
         |lab AS (
         |  SELECT p_nano,
         |    CAST(CASE WHEN n_tokens * nd > tt THEN 1 ELSE 0 END
         |      AS BIGINT) AS y,
         |    least(p_nano // 100000000, 9) AS bin
         |  FROM p CROSS JOIN tot),
         |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS ny FROM lab GROUP BY 1),
         |pos AS (SELECT CAST(sum(ny) AS BIGINT) AS p_all FROM bins),
         |thr AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS thr),
         |sw AS (
         |  SELECT thr.thr, CAST(sum(coalesce(ny, 0)) AS BIGINT) AS tp,
         |    CAST(sum(coalesce(n - ny, 0)) AS BIGINT) AS fp
         |  FROM thr LEFT JOIN bins ON bin >= thr.thr GROUP BY 1)
         |SELECT thr, tp, fp, p_all - tp AS fn,
         |  CASE WHEN tp + fp = 0 THEN 0
         |    ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
         |    AS precision_micro,
         |  CAST(tp * 1000000 // p_all AS BIGINT) AS recall_micro,
         |  CAST(2 * tp * 1000000 // (2 * tp + fp + (p_all - tp))
         |    AS BIGINT) AS f1_micro
         |FROM sw CROSS JOIN pos ORDER BY thr""".stripMargin,
    "q290_ece" ->
      s"""WITH $QualityPSql,
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |  CAST(sum(n_tokens) AS BIGINT) AS tt FROM p),
         |lab AS (
         |  SELECT p_nano,
         |    CAST(CASE WHEN n_tokens * nd > tt THEN 1 ELSE 0 END
         |      AS BIGINT) AS y,
         |    least(p_nano // 100000000, 9) AS bin
         |  FROM p CROSS JOIN tot),
         |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(p_nano) AS BIGINT) AS sp,
         |  CAST(sum(y) AS BIGINT) AS sy FROM lab GROUP BY 1),
         |ag AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |    CAST(sum(abs(sp - sy * 1000000000)) AS BIGINT) AS gap_sum,
         |    max(struct_pack(g := abs((sp // n)
         |      - (sy * 1000000000) // n), bin := bin)) AS wb
         |  FROM bins)
         |SELECT n_docs, CAST(gap_sum // n_docs AS BIGINT) AS ece_nano,
         |  CAST(struct_extract(wb, 'bin') AS BIGINT) AS worst_bin,
         |  CAST(struct_extract(wb, 'g') AS BIGINT) AS worst_gap_nano
         |FROM ag""".stripMargin,
    "q250_poisson_bootstrap" -> {
      val mCase = s"CASE WHEN u < ${PoissonCdfBp(0)} THEN 0 " +
        (1 until PoissonCdfBp.length).map(k =>
          s"WHEN u < ${PoissonCdfBp(k)} THEN $k ").mkString +
        s"ELSE ${PoissonCdfBp.length} END"
      s"""WITH reps AS (
         |  SELECT b, doc_id, n_chars,
         |    CAST('0x' || substr(md5('boot_' || CAST(b AS VARCHAR)
         |      || '_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      % 10000 AS u
         |  FROM documents
         |  CROSS JOIN (SELECT unnest(range(50)) AS b)),
         |m AS (SELECT b, n_chars, $mCase AS m FROM reps),
         |g AS (
         |  SELECT b, CAST(sum(m) AS BIGINT) AS n_eff,
         |    CAST(sum(m * n_chars) AS BIGINT) AS sum_len
         |  FROM m GROUP BY 1),
         |mm AS (
         |  SELECT b, n_eff, sum_len,
         |    CAST((1000 * sum_len) // n_eff AS BIGINT) AS mean_milli
         |  FROM g)
         |SELECT CAST(b AS BIGINT) AS b, n_eff, sum_len, mean_milli,
         |  CAST(row_number() OVER (ORDER BY mean_milli, b) AS BIGINT)
         |    AS rk
         |FROM mm ORDER BY b""".stripMargin
    },
    "q248_matched_sampling" ->
      """WITH base AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    least(n_chars // 100, 9) AS bucket
        |  FROM documents),
        |rk AS (
        |  SELECT doc_id, n_chars, arm, bucket,
        |    CAST(row_number() OVER (PARTITION BY bucket, arm
        |      ORDER BY md5('match_' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS rk
        |  FROM base)
        |SELECT a.bucket AS bucket, a.rk AS rk, a.doc_id AS doc_a,
        |  a.n_chars AS len_a, b.doc_id AS doc_b, b.n_chars AS len_b
        |FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.rk = b.rk
        |  AND a.arm = 'A' AND b.arm = 'B'
        |ORDER BY bucket, rk""".stripMargin,
    "q249_quota_alloc" ->
      """WITH ns AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM ns),
        |base AS (
        |  SELECT source, n_s,
        |    (1000 * n_s) // n_total AS floor_q,
        |    (1000 * n_s) % n_total AS rem
        |  FROM ns CROSS JOIN tot),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, source)
        |    AS BIGINT) AS rk
        |  FROM base),
        |sh0 AS (SELECT 1000 - sum(floor_q) AS short FROM base),
        |alloc AS (
        |  SELECT source, n_s, floor_q, rem, rk, rk <= short AS extra,
        |    floor_q + CASE WHEN rk <= short THEN 1 ELSE 0 END AS quota
        |  FROM rk CROSS JOIN sh0),
        |at AS (SELECT sum(quota) AS alloc_total FROM alloc)
        |SELECT source, n_s, CAST(floor_q AS BIGINT) AS floor_q,
        |  CAST(rem AS BIGINT) AS rem, rk, extra,
        |  CAST(quota AS BIGINT) AS quota,
        |  alloc_total = 1000 AS total_ok
        |FROM alloc CROSS JOIN at ORDER BY source""".stripMargin,
    "q242_gdpr_sweep" ->
      """WITH del AS (
        |  SELECT doc_id FROM documents
        |  WHERE substr(md5('gdpr_' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    = '0'),
        |post AS (
        |  SELECT DISTINCT term, doc_id FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term, doc_id
        |    FROM documents)),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(range(0, (len(string_split(text, ' ')) - 1) // 48 + 1))
        |      AS k
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |emb AS (SELECT vec_id AS doc_id FROM embeddings),
        |u AS (
        |  SELECT 'postings' AS artifact, CAST(count(*) AS BIGINT)
        |      AS rows_total,
        |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM del)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS rows_deleted,
        |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM del)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS rows_kept
        |  FROM post
        |  UNION ALL
        |  SELECT 'chunks', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM del)
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM del)
        |      THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM ch
        |  UNION ALL
        |  SELECT 'embeddings', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM del)
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM del)
        |      THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM emb)
        |SELECT artifact, rows_total, rows_deleted, rows_kept,
        |  rows_total = rows_deleted + rows_kept AS clean
        |FROM u ORDER BY artifact""".stripMargin,
    "q236_inverted_index" ->
      """WITH post AS (
        |  SELECT DISTINCT term, doc_id FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term, doc_id
        |    FROM documents)),
        |g AS (
        |  SELECT term, doc_id,
        |    doc_id - coalesce(lag(doc_id) OVER (
        |      PARTITION BY term ORDER BY doc_id), -1) AS gap
        |  FROM post),
        |v AS (SELECT term, gap, (length(bin(gap)) + 6) // 7 AS vb FROM g)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(vb) AS BIGINT) AS varint_bytes,
        |  CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
        |  CAST((sum(vb) * 10000) // (count(*) * 8) AS BIGINT) AS ratio_bp,
        |  CAST(max(gap) AS BIGINT) AS max_gap
        |FROM v GROUP BY term
        |ORDER BY varint_bytes DESC, term""".stripMargin,
    "q237_source_kl" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |cs AS (SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
        |corpus AS (SELECT term, count(*) AS c_t FROM toks GROUP BY 1),
        |ns AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_tok,
        |  count(*) AS v FROM corpus),
        |grid AS (
        |  SELECT ns.source, corpus.term, ns.n_s, corpus.c_t, tot.n_tok,
        |    tot.v, coalesce(cs.c_st, 0) AS c0
        |  FROM ns CROSS JOIN corpus CROSS JOIN tot
        |  LEFT JOIN cs ON cs.source = ns.source AND cs.term = corpus.term),
        |cells AS (
        |  SELECT source, n_s,
        |    CAST(c0 + 1 AS DOUBLE) / (n_s + v) AS pd,
        |    CAST(c_t + 1 AS DOUBLE) / (n_tok + v) AS qd
        |  FROM grid)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(round((pd * ln(pd / qd)) * 1e9) AS BIGINT))
        |    AS BIGINT) AS kl_nano
        |FROM cells GROUP BY source
        |ORDER BY kl_nano DESC, source""".stripMargin,
    "q259_auc" ->
      s"""WITH w AS (
         |  SELECT b AS bucket,
         |    CAST('0x' || substr(md5('w_' || CAST(b AS VARCHAR)), 1, 8)
         |      AS BIGINT) % 2000001 - 1000000 AS w_micro
         |  FROM (SELECT unnest(range(1024)) AS b)),
         |tok AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024 AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(w_micro) AS BIGINT) AS logit_sum_micro
         |  FROM tok JOIN w USING (bucket) GROUP BY 1),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(round(1e9 / (1.0 + exp(-(CAST(logit_sum_micro AS DOUBLE)
         |      / n_tokens / 1e6)))) AS BIGINT) AS p_nano
         |  FROM agg),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |               CAST(sum(n_tokens) AS BIGINT) AS tt FROM p),
         |lab AS (
         |  SELECT p_nano AS score, n_tokens * nd > tt AS label
         |  FROM p CROSS JOIN tot),
         |sg AS (
         |  SELECT score,
         |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_neg,
         |    score // $AucBucketW AS bucket
         |  FROM lab GROUP BY score),
         |bk AS (SELECT bucket, CAST(sum(n_neg) AS BIGINT) AS bn_neg
         |       FROM sg GROUP BY 1),
         |below AS (
         |  SELECT x.bucket,
         |    CAST(coalesce(sum(y.bn_neg), 0) AS BIGINT) AS nbb
         |  FROM bk x LEFT JOIN bk y ON y.bucket < x.bucket
         |  GROUP BY x.bucket),
         |wib AS (
         |  SELECT bucket, n_pos, n_neg,
         |    CAST(coalesce(sum(n_neg) OVER (PARTITION BY bucket
         |      ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS nbw
         |  FROM sg)
         |SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |  CAST(sum(n_neg) AS BIGINT) AS n_neg,
         |  CAST(sum(n_pos * (2 * (nbb + nbw) + n_neg)) AS BIGINT)
         |    AS pairs2,
         |  CAST((sum(n_pos * (2 * (nbb + nbw) + n_neg)) * 1000000)
         |    // (2 * sum(n_pos) * sum(n_neg)) AS BIGINT) AS auc_micro
         |FROM wib JOIN below USING (bucket)""".stripMargin,
    "q264_pareto_frontier" ->
      s"""WITH w AS (
         |  SELECT b AS bucket,
         |    CAST('0x' || substr(md5('w_' || CAST(b AS VARCHAR)), 1, 8)
         |      AS BIGINT) % 2000001 - 1000000 AS w_micro
         |  FROM (SELECT unnest(range(1024)) AS b)),
         |tok AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024 AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(w_micro) AS BIGINT) AS logit_sum_micro
         |  FROM tok JOIN w USING (bucket) GROUP BY 1),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(round(1e9 / (1.0 + exp(-(CAST(logit_sum_micro AS DOUBLE)
         |      / n_tokens / 1e6)))) AS BIGINT) AS p_nano
         |  FROM agg),
         |g AS (
         |  SELECT n_tokens AS cost,
         |    CAST(max(p_nano) AS BIGINT) AS best_p_nano,
         |    (max(struct_pack(p := p_nano, d := doc_id))).d AS best_doc,
         |    n_tokens // 16 AS cb
         |  FROM p GROUP BY n_tokens),
         |bk AS (SELECT cb, CAST(max(best_p_nano) AS BIGINT) AS bmax
         |       FROM g GROUP BY 1),
         |below AS (
         |  SELECT x.cb, CAST(coalesce(max(y.bmax), -1) AS BIGINT)
         |    AS cross_max
         |  FROM bk x LEFT JOIN bk y ON y.cb < x.cb GROUP BY x.cb),
         |wib AS (
         |  SELECT cost, best_p_nano, best_doc, cb,
         |    CAST(coalesce(max(best_p_nano) OVER (PARTITION BY cb
         |      ORDER BY cost
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |      AS BIGINT) AS wmax
         |  FROM g)
         |SELECT CAST(cost AS BIGINT) AS cost, best_p_nano,
         |  CAST(best_doc AS BIGINT) AS best_doc
         |FROM wib JOIN below USING (cb)
         |WHERE best_p_nano > greatest(cross_max, wmax)
         |ORDER BY cost""".stripMargin,
    "q263_calibration" ->
      s"""WITH w AS (
         |  SELECT b AS bucket,
         |    CAST('0x' || substr(md5('w_' || CAST(b AS VARCHAR)), 1, 8)
         |      AS BIGINT) % 2000001 - 1000000 AS w_micro
         |  FROM (SELECT unnest(range(1024)) AS b)),
         |tok AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024 AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(w_micro) AS BIGINT) AS logit_sum_micro
         |  FROM tok JOIN w USING (bucket) GROUP BY 1),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(round(1e9 / (1.0 + exp(-(CAST(logit_sum_micro AS DOUBLE)
         |      / n_tokens / 1e6)))) AS BIGINT) AS p_nano
         |  FROM agg),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |               CAST(sum(n_tokens) AS BIGINT) AS tt FROM p),
         |lab AS (
         |  SELECT p_nano,
         |    CAST(CASE WHEN n_tokens * nd > tt THEN 1 ELSE 0 END
         |      AS BIGINT) AS y,
         |    least(p_nano // 100000000, 9) AS bin
         |  FROM p CROSS JOIN tot),
         |lr AS (SELECT p_nano, y, bin,
         |         p_nano - y * 1000000000 AS res FROM lab),
         |brier AS (
         |  SELECT CAST((sum(CAST(res AS HUGEINT) * CAST(res AS HUGEINT))
         |    // CAST(count(*) AS HUGEINT)) // 1000000000000 AS BIGINT)
         |    AS brier_micro
         |  FROM lr)
         |SELECT CAST(bin AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST((sum(p_nano) // count(*)) // 1000 AS BIGINT)
         |    AS mean_pred_micro,
         |  CAST((sum(y) * 1000000) // count(*) AS BIGINT)
         |    AS obs_rate_micro,
         |  CAST((sum(p_nano) // count(*)) // 1000
         |    - (sum(y) * 1000000) // count(*) AS BIGINT) AS gap_micro,
         |  brier_micro
         |FROM lr CROSS JOIN brier
         |GROUP BY bin, brier_micro ORDER BY bin""".stripMargin,
    "q233_quality_classifier" ->
      """WITH w AS (
        |  SELECT b AS bucket,
        |    CAST('0x' || substr(md5('w_' || CAST(b AS VARCHAR)), 1, 8)
        |      AS BIGINT) % 2000001 - 1000000 AS w_micro
        |  FROM (SELECT unnest(range(1024)) AS b)),
        |tok AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024 AS bucket
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(w_micro) AS BIGINT) AS logit_sum_micro
        |  FROM tok JOIN w USING (bucket) GROUP BY 1),
        |p AS (
        |  SELECT doc_id, n_tokens, logit_sum_micro,
        |    CAST(round(1e9 / (1.0 + exp(-(CAST(logit_sum_micro AS DOUBLE)
        |      / n_tokens / 1e6)))) AS BIGINT) AS p_nano
        |  FROM agg)
        |SELECT doc_id, n_tokens, logit_sum_micro, p_nano,
        |  p_nano >= 500000000 AS keep
        |FROM p ORDER BY doc_id""".stripMargin,
    "q215_cdc_chunking" ->
      """WITH d0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t AS (
        |  SELECT doc_id, struct_extract(u, 'pos') AS pos,
        |    struct_extract(u, 'tk') AS tk,
        |    struct_extract(u, 'flag') AS flag
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(
        |        pos := i,
        |        tk := toks[i],
        |        flag := CASE WHEN i >= 3 AND
        |            ((strpos('0123456789abcdef', substr(md5(
        |               array_to_string(toks[i-2:i], ' ')), 1, 1)) - 1) * 16
        |             + strpos('0123456789abcdef', substr(md5(
        |               array_to_string(toks[i-2:i], ' ')), 2, 1)) - 1)
        |            % 32 = 0
        |          THEN 1 ELSE 0 END))) AS u
        |    FROM d0)),
        |c AS (
        |  SELECT doc_id, pos, tk,
        |    coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_id
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    CAST(min(pos) AS BIGINT) AS start_tok,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5(string_agg(tk, ' ' ORDER BY pos)) AS chunk_md5
        |  FROM c GROUP BY 1, 2),
        |keep AS (
        |  SELECT chunk_md5, min(struct_pack(d := doc_id, i := chunk_id)) AS m
        |  FROM ch GROUP BY 1)
        |SELECT ch.doc_id, ch.chunk_id, ch.start_tok, ch.n_tokens,
        |  ch.chunk_md5,
        |  (ch.doc_id = struct_extract(m, 'd')
        |    AND ch.chunk_id = struct_extract(m, 'i')) AS keeper
        |FROM ch JOIN keep USING (chunk_md5)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q214_chunking" ->
      """WITH d0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |c AS (
        |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |    CAST(k * 48 + 1 AS BIGINT) AS start_tok,
        |    toks[k * 48 + 1 : least(k * 48 + 64, n)] AS chunk
        |  FROM (SELECT doc_id, toks, n,
        |          unnest(range(0, (n - 1) // 48 + 1)) AS k
        |        FROM d0)),
        |ch AS (
        |  SELECT doc_id, chunk_idx, start_tok,
        |    CAST(len(chunk) AS BIGINT) AS n_tokens,
        |    md5(array_to_string(chunk, ' ')) AS chunk_md5
        |  FROM c),
        |keep AS (
        |  SELECT chunk_md5,
        |    min(struct_pack(d := doc_id, i := chunk_idx)) AS m
        |  FROM ch GROUP BY 1)
        |SELECT ch.doc_id, ch.chunk_idx, ch.start_tok, ch.n_tokens,
        |  ch.chunk_md5,
        |  (ch.doc_id = (m).d AND ch.chunk_idx = (m).i) AS keeper
        |FROM ch JOIN keep USING (chunk_md5)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q204_html_extract" ->
      s"""WITH page AS (
         |  SELECT doc_id, $htmlPageSql AS html
         |  FROM documents),
         |clean AS (
         |  SELECT doc_id,
         |    regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
         |    $htmlCleanSql AS t
         |  FROM page)
         |SELECT doc_id, title, CAST(length(t) AS BIGINT) AS n_chars,
         |  md5(t) AS text_md5, substr(t, 1, 40) AS head40
         |FROM clean ORDER BY doc_id""".stripMargin,
    "q152_bpe_train" -> bpeOracleSql,
    "q160_bpe_apply" -> bpeApplyOracleSql,
    "q208_bpe_encode" -> bpeEncodeOracleSql,
    "q36_bpe_pairs" ->
      s"""WITH $charPairsSql
         |SELECT pair, count(*) AS n FROM cpairs
         |GROUP BY 1 ORDER BY n DESC, pair LIMIT 32""".stripMargin,
    // exact top-16 counts hash-match; the guarantee booleans are computed
    // from Spark's real Misra-Gries sketch and asserted by the oracle
    "q106_heavy_hitters" -> HeavyHittersOracleSql,
    "q37_repetition" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tfc AS (SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base) GROUP BY 1, 2),
        |top AS (SELECT doc_id, CAST(max(tf) AS BIGINT) AS max_tf,
        |  CAST(sum(tf) AS BIGINT) AS n_tokens FROM tfc GROUP BY 1),
        |g AS (SELECT doc_id,
        |  list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1]) AS bi,
        |  list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tri
        |  FROM base),
        |rep AS (SELECT doc_id,
        |  CAST(len(bi) AS BIGINT) AS n_bi,
        |  CAST(len(list_distinct(bi)) AS BIGINT) AS n_bi_d,
        |  CAST(len(tri) AS BIGINT) AS n_tri,
        |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_tri_d
        |  FROM g),
        |m AS (SELECT doc_id, n_tokens, max_tf,
        |  CAST(max_tf AS DOUBLE) / n_tokens AS top_tok_frac,
        |  n_bi, n_bi_d,
        |  CASE WHEN n_bi = 0 THEN 0.0
        |       ELSE CAST(n_bi - n_bi_d AS DOUBLE) / n_bi END AS dup_bi_frac,
        |  n_tri, n_tri_d,
        |  CASE WHEN n_tri = 0 THEN 0.0
        |       ELSE CAST(n_tri - n_tri_d AS DOUBLE) / n_tri END AS dup_tri_frac
        |  FROM top JOIN rep USING (doc_id))
        |SELECT doc_id, n_tokens, max_tf, top_tok_frac, n_bi, n_bi_d,
        |  dup_bi_frac, n_tri, n_tri_d, dup_tri_frac,
        |  CAST(top_tok_frac <= 0.12 AND dup_bi_frac <= 0.2
        |       AND dup_tri_frac <= 0.05 AS INT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q116_temperature_sample" ->
      """WITH docs AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5) AS BIGINT) AS hp
        |  FROM documents),
        |src AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS m_tok,
        |    CAST(round(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1e6) AS BIGINT) AS wu
        |  FROM docs GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(wu) AS BIGINT) AS wu_tot,
        |    CAST(sum(m_tok) // 4 AS BIGINT) AS b_tok FROM src),
        |rates AS (
        |  SELECT source, n_docs, m_tok, wu,
        |    wu * 1000000 // wu_tot AS share_ppm,
        |    (wu * 1000000 // wu_tot) * b_tok // 1000000 AS target_tokens,
        |    least(1048576,
        |      (wu * 1000000 // wu_tot) * b_tok // 1000000 * 1048576 // m_tok)
        |      AS rate20
        |  FROM src, tot),
        |picked AS (
        |  SELECT d.source, count(*) AS picked_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS picked_tokens
        |  FROM docs d JOIN rates USING (source)
        |  WHERE hp < rate20 GROUP BY 1)
        |SELECT r.source, n_docs, m_tok, wu, share_ppm, target_tokens, rate20,
        |  coalesce(picked_docs, 0) AS picked_docs,
        |  coalesce(picked_tokens, 0) AS picked_tokens
        |FROM rates r LEFT JOIN picked USING (source)
        |ORDER BY source""".stripMargin,

    "q38_mix_weights" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM per),
        |sc AS (SELECT source, n_docs, tokens,
        |    CAST(tokens AS DOUBLE) / total_tokens AS share,
        |    CAST(round(sqrt(CAST(tokens AS DOUBLE) / total_tokens) * 1e9)
        |      AS BIGINT) AS wq
        |  FROM per CROSS JOIN tot),
        |wt AS (SELECT CAST(sum(wq) AS BIGINT) AS wq_total FROM sc)
        |SELECT source, n_docs, tokens, share,
        |  CAST(wq AS DOUBLE) / wq_total AS weight,
        |  CAST(round(CAST(wq AS DOUBLE) / wq_total * 1e6) AS BIGINT) AS target_tokens,
        |  round(CAST(round(CAST(wq AS DOUBLE) / wq_total * 1e6) AS BIGINT)
        |    / tokens * 1e6) / 1e6 AS epochs6
        |FROM sc CROSS JOIN wt ORDER BY source""".stripMargin,
    "q112_epoch_shuffle" ->
      """SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |       AS BIGINT) AS pos
        |FROM (
        |  SELECT doc_id,
        |    CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT)
        |      AS shard, h
        |  FROM (SELECT doc_id,
        |          md5('ep1_' || CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents))
        |ORDER BY shard, pos""".stripMargin,
    "q75_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_sampled,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM documents
         |WHERE $StratAcceptSql
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q76_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(round((-ln((
        |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096 +
        |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256 +
        |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 +
        |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) + 0.5
        |    ) / 65536.0) / n_chars) * 1e9) AS BIGINT) AS key
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, key FROM keyed
        |ORDER BY key, doc_id LIMIT 50""".stripMargin,
    // 64-bit wrapping h = h*31 + byte, emulated with HUGEINT arithmetic:
    // accumulate mod 2^64 in a list_reduce (init prepended — list_reduce
    // has no seed parameter), then convert to Java's signed long. Bytes are
    // ascii() codepoints — exact on this ASCII corpus (verified: strlen ==
    // octet_length for every document at every sf).
    "q84_rolling_fp" ->
      """WITH codes AS (
        |  SELECT doc_id,
        |    list_transform(range(1, strlen(text)+1),
        |      i -> CAST(ascii(substr(text, i, 1)) AS HUGEINT)) AS cs,
        |    list_transform(range(1, least(strlen(text), 64)+1),
        |      i -> CAST(ascii(substr(text, i, 1)) AS HUGEINT)) AS ch
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
        |      (h, b) -> (h*31 + b) % 18446744073709551616) AS hf,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT), ch),
        |      (h, b) -> (h*31 + b) % 18446744073709551616) AS hh
        |  FROM codes)
        |SELECT doc_id,
        |  CAST(CASE WHEN hf >= 9223372036854775808
        |    THEN hf - 18446744073709551616 ELSE hf END AS BIGINT) AS fp,
        |  CAST(CASE WHEN hh >= 9223372036854775808
        |    THEN hh - 18446744073709551616 ELSE hh END AS BIGINT) AS fp_head
        |FROM h ORDER BY doc_id""".stripMargin,
    "q80_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]')) AS BIGINT) AS n_bpe,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_tok_len,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |    / len(toks) AS avg_tok_len
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q81_word_freq" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY 1 ORDER BY n DESC, word LIMIT 20""".stripMargin,
    "q82_quality" ->
      s"""SELECT doc_id, n_chars_m, n_tokens, n_stop, n_distinct,
         |  CAST(n_stop AS DOUBLE)/n_tokens AS stop_ratio,
         |  CAST(n_distinct AS DOUBLE)/n_tokens AS diversity,
         |  least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)
         |    * (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)
         |    * (CAST(n_distinct AS DOUBLE)/n_tokens) AS quality_score
         |FROM (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars_m,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(toks, x -> x IN ${inList(Stopwords)})) AS BIGINT) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "q86_chunking" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |win AS (SELECT doc_id, toks,
        |  greatest(CAST(ceil((len(toks) - 64)/32.0) AS INT), 0) + 1 AS nwin
        |  FROM docs),
        |ex AS (SELECT doc_id, toks, unnest(range(0, nwin)) AS k FROM win)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  array_to_string(toks[k*32+1 : k*32+64], ' ') AS chunk,
        |  CAST(len(string_split(array_to_string(toks[k*32+1 : k*32+64], ' '), ' ')) AS BIGINT) AS chunk_tokens
        |FROM ex ORDER BY doc_id, chunk_id""".stripMargin,
    "q87_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      'contact: user' || doc_id || '@example.com tel 555-0123 :: ' || text,
        |      '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q88_pack_batches" ->
      s"""WITH toks AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |${packSql("toks")}""".stripMargin,
    // the sharded form must produce bit-identical batches — same oracle
    "q108_pack_sharded" ->
      s"""WITH toks AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |${packSql("toks")}""".stripMargin,
    "q85_tfidf" -> TfidfOracleSql,
    // q157 = q85 under a different physical strategy; one oracle text
    "q157_topk_agg" -> TfidfOracleSql,
    "q118_lm_surprisal" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY 1, 2),
        |vocab AS (SELECT word, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
        |lp AS (
        |  SELECT doc_id, tf,
        |    CAST(round(ln(CAST(t AS DOUBLE)/cnt)*1e9) AS BIGINT) AS lp_n
        |  FROM tf JOIN vocab USING (word) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf*lp_n) AS BIGINT) AS surprisal_nano,
        |  CAST(sum(tf*lp_n) // sum(tf) AS BIGINT) AS mean_surprisal_nano
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // cuts_within_tol is computed from Spark's real sketch; the oracle
    // asserts it (the q103 contract)
    "q123_curriculum_bins" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |q AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(round(least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)
        |      * (1.0 - CAST(n_stop AS DOUBLE)/n_tokens)
        |      * (CAST(n_distinct AS DOUBLE)/n_tokens) * 1e9) AS BIGINT) AS qn
        |  FROM docs),
        |cuts AS (SELECT quantile_cont(qn, 0.25) AS c1, quantile_cont(qn, 0.5) AS c2,
        |                quantile_cont(qn, 0.75) AS c3 FROM q)
        |SELECT CAST(CASE WHEN qn > c1 THEN 1 ELSE 0 END
        |          + CASE WHEN qn > c2 THEN 1 ELSE 0 END
        |          + CASE WHEN qn > c3 THEN 1 ELSE 0 END AS BIGINT) AS bin,
        |  count(*) AS n_docs, min(qn) AS qn_min, max(qn) AS qn_max,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  TRUE AS cuts_within_tol
        |FROM q CROSS JOIN cuts GROUP BY 1 ORDER BY 1""".stripMargin,
    "q83_lang_id" -> {
      val scoreCols = LangMarkers.map { case (lang, markers) =>
        s"CAST(len(list_filter(toks, x -> x IN ${inList(markers)})) AS BIGINT) AS score_$lang"
      }.mkString(",\n    ")
      val bestExpr = LangMarkers.map(m => s"score_${m._1}")
        .reduce((a, b) => s"greatest($a, $b)")
      val predExpr = LangMarkers.foldRight("'und'") { case ((lang, _), other) =>
        s"CASE WHEN score_$lang = best AND best > 0 THEN '$lang' ELSE $other END"
      }
      s"""SELECT doc_id, lang, $predExpr AS pred_lang,
         |  CAST(($predExpr) = lang AS INT) AS is_match,
         |  ${LangMarkers.map(m => s"score_${m._1}").mkString(", ")}
         |FROM (
         |  SELECT doc_id, lang, $bestExpr AS best, ${LangMarkers.map(m => s"score_${m._1}").mkString(", ")}
         |  FROM (
         |    SELECT doc_id, lang,
         |    $scoreCols
         |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)))
         |ORDER BY doc_id""".stripMargin
    },
    "q192_chat_contract" ->
      """WITH dt AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |t AS (SELECT doc_id, CAST((n + 7) // 8 AS BIGINT) AS nt FROM dt)
        |SELECT doc_id, nt AS n_turns,
        |  doc_id % 97 != 0 AS valid_roles,
        |  CASE WHEN (nt - 1) % 2 = 0 THEN
        |    (CASE WHEN doc_id % 97 = 0 THEN 'USER' ELSE 'user' END)
        |  ELSE 'assistant' END AS last_role
        |FROM t ORDER BY doc_id""".stripMargin,
    "q175_gini" ->
      """WITH tf AS (
        |  SELECT lang, term, count(*) AS f FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS term
        |    FROM documents) GROUP BY 1, 2),
        |st AS (SELECT lang, count(*) AS n_terms,
        |       CAST(sum(f) AS BIGINT) AS total_tf FROM tf GROUP BY 1),
        |r AS (SELECT lang, f, CAST(row_number() OVER (
        |  PARTITION BY lang ORDER BY f, term) AS BIGINT) AS rn FROM tf),
        |g AS (
        |  SELECT r.lang, max(n_terms) AS n_terms, max(total_tf) AS total_tf,
        |    CAST(sum((2*rn - n_terms - 1) * f) AS BIGINT) AS gini_num
        |  FROM r JOIN st ON r.lang = st.lang GROUP BY 1)
        |SELECT lang, n_terms, total_tf, gini_num,
        |  10000 * gini_num // (n_terms * total_tf) AS gini_bp
        |FROM g ORDER BY lang""".stripMargin,
    "q153_bm25" -> bm25FinalSql,
    "q229_psi_drift" ->
      """WITH docs AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS v FROM documents),
        |b AS (
        |  SELECT least(v // 100, 19) AS bin, doc_id % 2 = 0 AS refside
        |  FROM docs),
        |cnt AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN refside THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN refside THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM cnt)
        |SELECT bin, n_ref, n_cur,
        |  CAST(round(((CAST(n_ref + 1 AS DOUBLE) / (tr + 20)) -
        |    (CAST(n_cur + 1 AS DOUBLE) / (tc + 20))) *
        |    ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 20)) /
        |    (CAST(n_cur + 1 AS DOUBLE) / (tc + 20))) * 1e9) AS BIGINT)
        |    AS psi_nano
        |FROM cnt CROSS JOIN tot
        |ORDER BY bin""".stripMargin,
    "q227_pmi_collocations" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |df AS (SELECT term, count(*) AS c1 FROM dt GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
        |pairs AS (
        |  SELECT x.term AS a, y.term AS b, count(*) AS cab
        |  FROM dt x JOIN dt y USING (doc_id)
        |  WHERE x.term < y.term
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT a, b, CAST(ca.c1 AS BIGINT) AS ca,
        |  CAST(cb.c1 AS BIGINT) AS cb, CAST(cab AS BIGINT) AS cab,
        |  CAST(round(ln(CAST(cab AS DOUBLE) * n_docs / (ca.c1 * cb.c1))
        |    * 1e9) AS BIGINT) AS pmi_nano
        |FROM pairs
        |JOIN df ca ON ca.term = a
        |JOIN df cb ON cb.term = b
        |CROSS JOIN n
        |ORDER BY pmi_nano DESC, a, b""".stripMargin,
    "q225_epoch_shuffle" ->
      // the oracle affords the one-window global-sort form at fixture
      // size; rank equality with the nibble-sharded two-pass form is
      // the q108 monotone-shard argument (hex-string order == (nibble,
      // rest) order)
      """WITH r AS (
        |  SELECT e.epoch, d.doc_id,
        |    md5('ep' || CAST(e.epoch AS VARCHAR) || '_'
        |        || CAST(d.doc_id AS VARCHAR)) AS h
        |  FROM documents d, (SELECT unnest(range(0, 2)) AS epoch) e)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        |  CAST(row_number() OVER (PARTITION BY epoch
        |    ORDER BY h, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM r ORDER BY epoch, pos""".stripMargin,
    // chr() codepoints (NOT Spark-side char(), which truncates mod 256);
    // the 'g' flag is load-bearing: DuckDB regexp_replace is first-match
    // by default while Spark's is global
    "q224_text_scrub" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    least((strpos('0123456789abcdef',
        |      substr(md5('dirty_' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
        |      % 40 + 1, length(text)) AS k
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 11 = 0 THEN
        |      chr(65279) || substr(text, 1, k) || chr(7) || chr(8203)
        |        || substr(text, k + 1)
        |    ELSE text END AS dirty
        |  FROM base),
        |c AS (
        |  SELECT doc_id, text, dirty,
        |    regexp_replace(regexp_replace(dirty,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '[\x{FEFF}\x{200B}-\x{200D}]', '', 'g') AS clean
        |  FROM d)
        |SELECT doc_id, doc_id % 11 = 0 AS was_dirty,
        |  CAST(length(dirty) - length(clean) AS BIGINT) AS n_removed,
        |  md5(clean) AS clean_md5, md5(clean) = md5(text) AS restored
        |FROM c ORDER BY doc_id""".stripMargin,
    "q218_retrieval_eval" -> {
      s"""WITH ${bm25CtesWithQ(knownItemQCte)},
         |hits AS (
         |  SELECT query_id, rk FROM ranked
         |  WHERE rk <= 10 AND doc_id = query_id)
         |SELECT CAST(qq.query_id AS BIGINT) AS query_id,
         |  CAST(coalesce(h.rk, 0) AS BIGINT) AS target_rank,
         |  CAST(CASE WHEN h.rk IS NULL THEN 0
         |       ELSE 1000000 // h.rk END AS BIGINT) AS rr_micro,
         |  h.rk IS NOT NULL AS hit10
         |FROM (SELECT DISTINCT query_id FROM q) qq
         |LEFT JOIN hits h USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    "q258_ndcg" ->
      s"""WITH ${bm25CtesWithQ(knownItemQCte)},
         |rel AS (
         |  SELECT query_id, doc_id, count(*) AS rel
         |  FROM tf JOIN q USING (term) GROUP BY 1, 2),
         |dcg AS (
         |  SELECT query_id, CAST(sum(${ndcgGainCase("rel")}
         |      * ${ndcgWCase("rk")}) AS BIGINT) AS dcg_nano
         |  FROM ranked JOIN rel USING (query_id, doc_id)
         |  WHERE rk <= 10 GROUP BY 1),
         |ideal AS (
         |  SELECT query_id, rel, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rel DESC, doc_id) AS irk
         |  FROM rel),
         |idcg AS (
         |  SELECT query_id, CAST(sum(${ndcgGainCase("rel")}
         |      * ${ndcgWCase("irk")}) AS BIGINT) AS idcg_nano
         |  FROM ideal WHERE irk <= 10 GROUP BY 1)
         |SELECT CAST(query_id AS BIGINT) AS query_id, dcg_nano,
         |  idcg_nano,
         |  CAST((dcg_nano * 1000000) // idcg_nano AS BIGINT)
         |    AS ndcg_micro
         |FROM dcg JOIN idcg USING (query_id)
         |ORDER BY query_id""".stripMargin,
    // bit-identical by construction (same postings, same scoring tail) —
    // the staged and incrementally-maintained index forms share q153's
    // oracle verbatim, exactly as q150 shares q143's
    "q168_staged_bm25" -> bm25FinalSql,
    "q169_lex_delta" -> bm25FinalSql,
    "q154_bigram_lm" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |       FROM docs, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        |       WHERE len(toks) >= 2),
        |tfbg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2 FROM tfbg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
        |lp AS (SELECT doc_id, tf,
        |  CAST(round(ln((c1 + v) / (c2 + 1.0)) * 1e9) AS BIGINT) AS lp_n
        |  FROM tfbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  CAST(sum(tf * lp_n) AS BIGINT) AS surprisal_nano,
        |  CAST(sum(tf * lp_n) // sum(tf) AS BIGINT) AS mean_surprisal_nano
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
