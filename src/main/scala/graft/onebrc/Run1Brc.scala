package graft.onebrc

import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference's `main()` surface
  * (rust_1brc/src/main.rs:253-277, rangnargrootkeorkamp.rs:330-353): run
  * the 1BRC query over a measurements file and emit the official braced
  * line; `--print` additionally emits per-station lines to stderr (the
  * R5-style flag).
  *
  *   sbt "runMain graft.onebrc.Run1Brc /path/measurements.txt [--print]"
  *
  * The scan is the `brc` DataSource V2 connector with integer-tenths
  * aggregation. A malformed line is a hard error, as in the reference
  * (rust_1brc/src/main.rs:141-150), and so is a measure outside the
  * `-?\d{1,3}(\.\d)?` domain.
  */
object Run1Brc {
  /** The braced line and, when `print` is set, the per-station lines. */
  def run(spark: SparkSession, path: String, print: Boolean): (String, Seq[String]) = {
    val agged = OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(spark, path))
    val lines =
      if (print) OneBrc.perLine(agged).collect().map(_.getString(1)).toSeq
      else Seq.empty
    (OneBrc.bracedLine(agged).collect().head.getString(0), lines)
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      sys.error("usage: Run1Brc <measurements-file> [--print]"))
    val spark = graft.GraftSession()
    // UTF-8 output regardless of the JVM's platform charset — station
    // names are non-ASCII-capable (FIXTURES.md §1)
    val out = new java.io.PrintStream(System.out, true, "UTF-8")
    val err = new java.io.PrintStream(System.err, true, "UTF-8")
    val (braced, lines) = run(spark, path, args.contains("--print"))
    lines.foreach(err.println)
    out.println(braced)
    spark.stop()
  }
}
