package graft.onebrc


/** CLI entry point mirroring the reference's `main()` surface
  * (rust_1brc/src/main.rs:253-277, rangnargrootkeorkamp.rs:330-353): run
  * the 1BRC query over a measurements file and emit the official braced
  * line; `--print` additionally emits per-station lines to stderr (the
  * R5-style flag).
  *
  *   sbt "runMain graft.onebrc.Run1Brc /path/measurements.txt [--print] [--fast]"
  *
  * `--fast` uses the text+split scan (throughput path); default is the
  * FAILFAST CSV scan (strict semantics path).
  */
object Run1Brc {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      sys.error("usage: Run1Brc <measurements-file> [--print] [--fast]"))
    val spark = graft.GraftSession()
    // UTF-8 output regardless of the JVM's platform charset — station
    // names are non-ASCII-capable (FIXTURES.md §1)
    val out = new java.io.PrintStream(System.out, true, "UTF-8")
    val err = new java.io.PrintStream(System.err, true, "UTF-8")
    val scan =
      if (args.contains("--fast")) OneBrc.readMeasurementsFast(spark, path)
      else OneBrc.readMeasurements(spark, path)
    val agged = OneBrc.brcAgg(scan)
    if (args.contains("--print"))
      OneBrc.perLine(agged).collect()
        .foreach(r => err.println(r.getString(1)))
    out.println(OneBrc.bracedLine(agged).collect().head.getString(0))
    spark.stop()
  }
}
