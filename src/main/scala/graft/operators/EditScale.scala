package graft.operators

import org.apache.spark.sql.functions._

/** Full-scale proof for q212's FastSS edit-distance pipeline (the
  * TriScale/DedupScale analog for the fuzzy-string family): generate a
  * 1M-word corpus with PLANTED one-deletion typos, run the IDENTICAL
  * q212 pipeline ([[Dedup.editDistPairs]] — one shared definition, never
  * a reimplementation), and gate its two claims against ground truth:
  *
  *  (a) RECALL — FastSS's theorem (any ed ≤ 1 pair shares a deletion
  *      key) must hold in the implementation at scale: every one of the
  *      nWords/20 planted (word, word~) pairs must be found. A missing
  *      pair means the key generation or the candidate join dropped
  *      something (a silent cap, a truncated neighborhood).
  *  (b) PRECISION — every emitted pair is INDEPENDENTLY re-verified in
  *      the gate with a two-pointer one-edit check (a different
  *      algorithm from the pipeline's DP levenshtein): equal strings,
  *      one substitution, or one indel via prefix/suffix match. Any
  *      emitted pair failing it means the verify stage regressed.
  *
  * Planted structure (pure hash arithmetic, deterministic): word_i =
  * 12 lowercase-hex chars of md5('w_' || i) — 16^12 ≈ 2.8e14 space, so
  * 1M draws are distinct (asserted, not hoped); every 20th word gets a
  * typo at a hash-chosen position, id'd `word~`. Incidental ed ≤ 1
  * pairs between random hex words are possible (expected ≈ 1 at 1M) —
  * they are legitimate finds, counted separately and re-verified like
  * every other pair.
  *
  * Usage: runMain graft.operators.EditScale [nWords] [workDir] [--skip-gen]
  * (default 1000000; ~1 min end to end at local[32]).
  */
object EditScale {

  /** One-edit check by structure, not DP: equal, one substitution
    * (same length, exactly one mismatched position), or one indel
    * (length delta 1, longer = shorter with one char inserted). */
  private[operators] def oneEdit(a: String, b: String): Boolean = {
    if (a == b) return true
    val (la, lb) = (a.length, b.length)
    if (la == lb) {
      var i = 0; var diff = 0
      while (i < la && diff <= 1) {
        if (a.charAt(i) != b.charAt(i)) diff += 1
        i += 1
      }
      diff == 1
    } else if (math.abs(la - lb) == 1) {
      val (s, l) = if (la < lb) (a, b) else (b, a)
      var i = 0
      while (i < s.length && s.charAt(i) == l.charAt(i)) i += 1
      // skip one char of the longer, the rest must match exactly
      s.substring(i) == l.substring(i + 1)
    } else false
  }

  def main(args: Array[String]): Unit = {
    val nWords = args.headOption.map(_.toLong).getOrElse(1000000L)
    val work = args.drop(1).headOption.filterNot(_.startsWith("--"))
      .getOrElse("/tmp/graft_edit_1m")
    val skipGen = args.contains("--skip-gen")
    val spark = graft.GraftSession()
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"phase":"$phase","sec":$sec%.2f,"n_words":$nWords}""")
      r
    }

    if (!skipGen) timed("gen") {
      val base = spark.range(nWords)
        .select(substring(md5(concat(lit("w_"), col("id"))), 1, 12).as("w"),
          col("id"))
      val words = base.select(col("w").as("id"), col("w").as("str"))
      val typos = base.where(col("id") % 20 === 0)
        .withColumn("k", expr(
          "CAST(conv(substring(md5(concat('t_', w)), 1, 1), 16, 10) AS INT) % 12"))
        .select(concat(col("w"), lit("~")).as("id"),
          expr("concat(substring(w, 1, k), substring(w, k + 2))").as("str"))
      words.unionByName(typos).repartition(32)
        .write.mode("overwrite").parquet(s"$work/corpus.parquet")
    }

    val corpus = spark.read.parquet(s"$work/corpus.parquet")
    val nDistinctBase = corpus.where(length(col("id")) === 12)
      .select(countDistinct(col("id"))).collect()(0).getLong(0)
    require(nDistinctBase == nWords,
      s"hash-derived words collided: $nDistinctBase distinct of $nWords " +
        "(the 16^12 distinctness assumption broke)")

    // the IDENTICAL q212 pipeline over the planted corpus
    val pairs = timed("fastss") {
      Dedup.editDistPairs(corpus).collect()
    }
    val nPlanted = (nWords + 19) / 20
    val foundPlanted = pairs.count(r =>
      r.getString(1) == r.getString(0) + "~" &&
        r.getString(0).length == 12)
    val incidental = pairs.length - foundPlanted
    println(s"""{"check":"fastss_planted","planted":$nPlanted,"found_planted":$foundPlanted,"incidental":$incidental,"pairs":${pairs.length}}""")
    require(foundPlanted == nPlanted,
      s"planted recall broke: $foundPlanted of $nPlanted typo pairs found " +
        "(FastSS guarantees every ed<=1 pair shares a deletion key)")

    // independent precision re-verify: a DIFFERENT algorithm than the
    // pipeline's DP levenshtein must accept every emitted pair
    val badPairs = pairs.filterNot(r => oneEdit(r.getString(2), r.getString(3)))
    println(s"""{"check":"fastss_verify","pairs":${pairs.length},"independent_ok":${pairs.length - badPairs.length}}""")
    require(badPairs.isEmpty,
      s"${badPairs.length} emitted pairs fail the independent one-edit " +
        s"check, e.g. ${badPairs.take(3).map(r =>
          (r.getString(2), r.getString(3))).mkString(", ")}")

    spark.stop()
  }
}
