package graft.onebrc

import org.apache.spark.sql.functions._

/** Standalone throughput benchmark at the reference's own scale
  * (README.MD:28-40: 1e9 rows, ~13-14 GB text). Not part of the driver
  * flow — run manually:
  *
  *   sbt "runMain graft.onebrc.BrcScale 1000000000 /tmp/brc"
  *
  * Generates measurements with the seeded generator, writes both the
  * reference's CSV format and Parquet (the format a 100 TB deployment
  * would actually use), then times the flagship query on each, twice
  * (cold + warm), printing one JSON line per measurement.
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

    val skipGen = args.contains("--skip-gen")
    if (!skipGen) {
      val gen = OneBrc.generate(spark, rows)
        // enough splits for dynamic balance
        .repartition(graft.GraftSession.cpus * 4)
      val (_, tCsv) = timed {
        gen.write.mode("overwrite").option("sep", ";").option("header", "false")
          .csv(s"$dir/csv")
      }
      report("generate_write_csv", tCsv)
      val (_, tPq) = timed {
        gen.write.mode("overwrite").parquet(s"$dir/parquet")
      }
      report("generate_write_parquet", tPq)
      // fixed-point deployment layout: measurements stored as integer
      // tenths (the reference's own internal representation,
      // rust_1brc/src/thebracket.rs:46-71, lifted into the SCHEMA) — the
      // scan then decodes plain longs and the whole query is integer-only
      val (_, tPqT) = timed {
        gen.select(col("station"),
          round(col("measure") * 10).cast("long").as("t"))
          .write.mode("overwrite").parquet(s"$dir/parquet_tenths")
      }
      report("generate_write_parquet_tenths", tPqT)
    }
    // --skip-gen on a data dir written before the tenths layout existed:
    // backfill parquet_tenths from the plain parquet copy instead of
    // crashing mid-run after the earlier passes have already spent minutes
    if (skipGen &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/parquet_tenths"))) {
      val (_, tBf) = timed {
        spark.read.parquet(s"$dir/parquet")
          .select(col("station"), round(col("measure") * 10).cast("long").as("t"))
          .write.mode("overwrite").parquet(s"$dir/parquet_tenths")
      }
      report("backfill_parquet_tenths", tBf)
    }

    // warm-pass results are cross-checked at the end: every scan path must
    // produce the identical 413-row answer at full scale (a silent parser
    // domain mismatch in one path would otherwise hide in the timings)
    val results = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    def remember(name: String, rows: Array[org.apache.spark.sql.Row]): Unit =
      results(name) = rows.map(_.toString).toSeq
    for (pass <- Seq("cold", "warm")) {
      val (r, t1) = timed {
        OneBrc.brcAgg(OneBrc.readMeasurements(spark, s"$dir/csv")).collect()
      }
      report(s"brc_csv_$pass", t1); remember("csv", r)
    }
    for (pass <- Seq("cold", "warm")) {
      val (r, t3) = timed {
        OneBrc.brcAgg(OneBrc.readMeasurementsFast(spark, s"$dir/csv")).collect()
      }
      report(s"brc_text_split_$pass", t3); remember("split", r)
    }
    for (pass <- Seq("cold", "warm")) {
      // single-pass codegen parser expression (BrcParseLine)
      val (r, t4) = timed {
        OneBrc.brcAgg(OneBrc.readMeasurementsTurbo(spark, s"$dir/csv")).collect()
      }
      report(s"brc_text_turbo_$pass", t4); remember("turbo", r)
    }
    for (pass <- Seq("cold", "warm")) {
      // split primitive expressions + integer-tenths aggregation: the
      // allocation-free text path (brc_station/brc_tenths)
      val (r, t5) = timed {
        OneBrc.brcAggTenths(OneBrc.readMeasurementsTenths(spark, s"$dir/csv"))
          .collect()
      }
      report(s"brc_text_tenths_$pass", t5); remember("tenths", r)
    }
    for (pass <- Seq("cold", "warm")) {
      // DataSource V2: fused line-split+parse connector, reused buffers
      val (r, t6) = timed {
        OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(spark, s"$dir/csv"))
          .collect()
      }
      report(s"brc_text_dsv2_$pass", t6); remember("dsv2", r)
    }
    for (pass <- Seq("cold", "warm")) {
      val (r, t2) = timed {
        OneBrc.brcAgg(spark.read.parquet(s"$dir/parquet")
          .select(col("station"), col("measure"))).collect()
      }
      report(s"brc_parquet_$pass", t2); remember("parquet", r)
    }
    for (pass <- Seq("cold", "warm")) {
      // tenths-schema parquet: long decode + integer-only aggregation —
      // the fastest deployment-format path (beats the reference's 8 s
      // hand-tuned AVX2 number; see README scale table)
      val (r, t7) = timed {
        OneBrc.brcAggTenths(spark.read.parquet(s"$dir/parquet_tenths"))
          .collect()
      }
      report(s"brc_parquet_tenths_$pass", t7); remember("parquet_tenths", r)
    }
    for ((name, r) <- results) {
      val ok = r == results("csv")
      println(s"""{"check":"$name-vs-csv","equal":$ok,"rows":${r.length}}""")
      if (!ok) sys.error(s"path $name disagrees with the CSV datasource path")
    }

    if (args.contains("--sweep-split-size")) {
      // maxPartitionBytes is Spark's CHUNK_SIZE (the knob the reference
      // hand-tunes to 16 MiB at rust_1brc/src/main.rs:21); sweep it on the
      // warm text path to locate the split-size plateau
      for (mb <- Seq(16, 64, 128, 256)) {
        spark.conf.set("spark.sql.files.maxPartitionBytes", s"${mb}MB")
        val (_, t) = timed {
          OneBrc.brcAgg(OneBrc.readMeasurementsFast(spark, s"$dir/csv")).collect()
        }
        report(s"brc_text_split_${mb}mb", t)
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
    }
    spark.stop()
  }
}
