package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers: test-table loading + deterministic numeric idioms.
  *
  * Exact-arithmetic rule used across every oracle-checked query: money-like
  * doubles (2 decimal digits by construction) are converted to integer cents
  * via `round(x*100)` BEFORE summing. Integer-valued doubles/longs sum
  * exactly in any order, so Spark's partial/final aggregation over 32
  * partitions produces bit-identical results to DuckDB's sequential scan —
  * the same trick the reference's fixed-point engines use
  * (/root/reference/rust_1brc/src/thebracket.rs:46-71,
  * /root/reference/rust_1brc/src/rangnargrootkeorkamp.rs:80-107).
  */
object Tables {
  /** All loads disable TIMESTAMP_NTZ inference: the testdata parquet stores
    * naive timestamps (timestamp[us], isAdjustedToUTC=false), which Spark 4
    * would otherwise surface as TIMESTAMP_NTZ — a type the whole library
    * (and its DuckDB parity contract) treats as plain TimestampType under a
    * UTC session, exactly as Spark 3 read it.
    *
    * SESSION-WIDE CONTRACT: the conf flips once per session, at that
    * session's first `t()` load (per-session memo below — not on every
    * call, since mutating shared-session conf concurrently with other
    * queries' planning is exactly what withStreamPartitions warns
    * against). Any external code sharing the session therefore also sees
    * NTZ inference off; a caller that genuinely needs TIMESTAMP_NTZ
    * inference must use its own `newSession()`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    configured.getOrElseUpdate(spark, {
      configured.keys.filter(_.sparkContext.isStopped).foreach(configured.remove)
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    })
    spark.read.parquet(s"$dir/$name.parquet")
  }

  private val configured =
    scala.collection.concurrent.TrieMap.empty[SparkSession, Unit]

  /** events.parquet `ts` has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's reader rejects —
    * read nanos as long via the legacy conf, then integer-divide; never
    * `/1000.0`, epoch-nanos ~1.7e18 exceeds double's 2^53 exact range) and
    * plain naive timestamp[us] (read directly, as TimestampType via the
    * inference conf in `t`). Dispatch on the scanned type so both
    * generations load identically. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // fail fast: TIMESTAMP_NTZ (or anything else) here means the NTZ
        // inference conf did not take effect — silently passing it through
        // would break the DuckDB-parity contract downstream where the
        // symptom is an inscrutable hash mismatch, not a type error.
        throw new IllegalStateException(
          s"events.ts scanned as $other; expected LongType (nanos) or " +
            "TimestampType — is spark.sql.parquet.inferTimestampNTZ.enabled" +
            " unexpectedly on in this session?")
    }
  }

  /** 2-decimal double -> exact integer cents (long). */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** 1-decimal double -> exact integer tenths (long) — the reference's
    * fixed-point representation (thebracket.rs:46-71). */
  def tenths(c: Column): Column = round(c * 10).cast("long")

  /** exact cents sum -> dollars as double (same conversion both engines). */
  def dollars(sumCents: Column): Column = sumCents.cast("double") / 100.0

  /** Session clone that KEEPS the caller's runtime SQL confs. Bare
    * `newSession()` re-derives SQLConf from the SparkConf only, silently
    * dropping session-level overrides (ANSI mode, timezone, broadcast
    * threshold, legacy flags) — a query run in such a clone would diverge
    * from every batch query on the caller's session. Static confs can't
    * be re-set on a live session and are skipped (they're shared through
    * the SparkContext anyway). `newSession()` also starts from the
    * built-in and extension functions only, so the clone gets the graft
    * function catalog installed. */
  def sessionClone(base: SparkSession): SparkSession = {
    val s2 = base.newSession()
    base.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v) catch { case _: Exception => () }
    }
    GraftExtensions.install(s2)
    s2
  }

  /** Parity-safe 1-decimal rounding: round to INTEGER granularity after
    * scaling. `round(x, 1)` itself is NOT parity-safe across engines
    * (Spark rounds the shortest decimal repr HALF_UP; DuckDB rounds the
    * binary value), but `round(x*10)/10` is the identical computation in
    * both. Ties at .5 are exactly representable in binary, and both
    * engines round them away from zero. */
  def round1(c: Column): Column = round(c * 10) / 10.0
}
