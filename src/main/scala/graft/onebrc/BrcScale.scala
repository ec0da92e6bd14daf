package graft.onebrc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Standalone throughput benchmark at the reference's own scale
  * (README.MD:28-40: 1e9 rows, ~13-14 GB text). Not part of the driver
  * flow — run manually:
  *
  *   sbt "runMain graft.onebrc.BrcScale 1000000000 /tmp/brc"
  *
  * Generates measurements with the seeded generator once, into Parquet
  * (the format a 100 TB deployment would actually use), derives the
  * reference's text format and integer-tenths Parquet from that copy, then
  * times the flagship query on four paths —
  * the CSV datasource, the `brc` DataSource V2 connector, parquet and
  * integer-tenths parquet — twice each (cold + warm), printing one JSON
  * line per measurement and one `{"check":"<path>-vs-csv",...}` line per
  * path (the warm answers must be identical).
  */
object BrcScale {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 100000000L
    val dir = if (args.length > 1) args(1) else "/tmp/brc_scale"
    val spark = graft.GraftSession()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def report(phase: String, sec: Double): Unit =
      println(f"""{"phase":"$phase","sec":$sec%.2f,"rows":$rows,"mrows_per_s":${rows / sec / 1e6}%.1f}""")

    // fixed-point deployment layout: measurements stored as integer
    // tenths (the reference's own internal representation,
    // rust_1brc/src/thebracket.rs:46-71, lifted into the SCHEMA) — the
    // scan then decodes plain longs and the whole query is integer-only
    def writeTenths(): Unit =
      spark.read.parquet(s"$dir/parquet")
        .select(col("station"), round(col("measure") * 10).cast("long").as("t"))
        .write.mode("overwrite").parquet(s"$dir/parquet_tenths")

    val skipGen = args.contains("--skip-gen")
    if (!skipGen) {
      // one generator pass: parquet from the generator, the text and
      // tenths copies read back from it
      val (_, tPq) = timed {
        OneBrc.generate(spark, rows)
          // enough splits for dynamic balance
          .repartition(graft.GraftSession.cpus * 4)
          .write.mode("overwrite").parquet(s"$dir/parquet")
      }
      report("generate_write_parquet", tPq)
      val (_, tCsv) = timed {
        spark.read.parquet(s"$dir/parquet")
          .write.mode("overwrite").option("sep", ";").option("header", "false")
          .csv(s"$dir/csv")
      }
      report("generate_write_csv", tCsv)
      val (_, tPqT) = timed(writeTenths())
      report("generate_write_parquet_tenths", tPqT)
    }
    // --skip-gen on a data dir written before the tenths layout existed:
    // backfill parquet_tenths from the plain parquet copy instead of
    // crashing mid-run after the earlier passes have already spent minutes
    if (skipGen &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/parquet_tenths"))) {
      val (_, tBf) = timed(writeTenths())
      report("backfill_parquet_tenths", tBf)
    }

    // warm-pass results are cross-checked at the end: every scan path must
    // produce the identical 413-row answer at full scale (a silent parser
    // domain mismatch in one path would otherwise hide in the timings)
    val paths = Seq[(String, String, () => DataFrame)](
      ("csv", "brc_csv", () => OneBrc.brcAgg(OneBrc.readMeasurements(spark, s"$dir/csv"))),
      // DataSource V2: fused line-split+parse connector, reused buffers
      ("dsv2", "brc_text_dsv2", () =>
        OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(spark, s"$dir/csv"))),
      ("parquet", "brc_parquet", () => OneBrc.brcAgg(
        spark.read.parquet(s"$dir/parquet").select(col("station"), col("measure")))),
      // tenths-schema parquet: long decode + integer-only aggregation —
      // the fastest deployment-format path (beats the reference's 8 s
      // hand-tuned AVX2 number; see README scale table)
      ("parquet_tenths", "brc_parquet_tenths", () =>
        OneBrc.brcAggTenths(spark.read.parquet(s"$dir/parquet_tenths"))))
    val results = paths.map { case (name, phase, query) =>
      val warm = Seq("cold", "warm").map { pass =>
        val (r, t) = timed(query().collect())
        report(s"${phase}_$pass", t); r
      }.last
      name -> warm.map(_.toString).toSeq
    }
    for ((name, r) <- results) {
      val ok = r == results.head._2
      println(s"""{"check":"$name-vs-csv","equal":$ok,"rows":${r.length}}""")
      if (!ok) sys.error(s"path $name disagrees with the CSV datasource path")
    }
    spark.stop()
  }
}
