package graft.onebrc

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** The reference's single workload, re-expressed Spark-first.
  *
  * Logical plan (all five reference engines implement exactly this —
  * /root/reference/rust_1brc/src/main.rs:206-223, python_1brc/main.py:11-24):
  *
  *   Scan(csv ';', no header: station STRING, measure DOUBLE)
  *     -> HashAggregate(groupBy station; min/mean/max)
  *     -> Sort(station)
  *     -> Format/Sink
  *
  * Spark executes it as HashAggregateExec(Partial) -> shuffle ->
  * HashAggregateExec(Final) -> Coalesce(1) -> SortExec, i.e. the
  * partial-agg / final-merge structure the reference hand-rolls
  * (main.rs:174-204) falls out of Catalyst for free, and the <=413-row
  * answer sorts in one reducer task instead of a range exchange. Over the
  * `brc` connector the partial aggregate folds into the scan
  * (BrcDataSource's pushed aggregate), so the query is one map job and one
  * result job. At 100 TB the same plan holds: the partial aggregate
  * collapses each input split to <=413 rows before the shuffle, so the
  * exchange moves O(stations * partitions) rows, never O(input).
  */
object OneBrc {

  /** Explicit schema — never infer in production (the reference's R2 engine
    * also supplies one: rust_1brc/src/main.rs:228-236). */
  val schema: StructType = StructType(Seq(
    StructField("station", StringType, nullable = false),
    StructField("measure", DoubleType, nullable = false)))

  /** §2.1 scan: semicolon CSV, headerless, malformed lines are hard errors
    * (FAILFAST), matching the reference's error-not-skip semantics
    * (rust_1brc/src/main.rs:141-144). */
  def readMeasurements(spark: SparkSession, path: String,
                       mode: String = "FAILFAST"): DataFrame =
    spark.read.schema(schema)
      .option("sep", ";").option("header", "false").option("mode", mode)
      .csv(path)

  /** The 1BRC text scan: DataSource V2 (graft.sources.BrcDataSource), line
    * splitting and parsing fused into one buffer pass inside the connector —
    * no Hadoop Text, no per-line UTF8String, rows reused. Malformed lines
    * are hard errors, like readMeasurements' FAILFAST. Emits (station,
    * t tenths); feed brcAggTenths. */
  def readMeasurementsV2(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft.sources.BrcDataSource").load(path)

  /** The same scan with at most `splitBytes` bytes per task. */
  def readMeasurementsV2(spark: SparkSession, path: String,
      splitBytes: Long): DataFrame =
    spark.read.format("graft.sources.BrcDataSource")
      .option("brc.split.bytes", splitBytes)
      .load(path)

  /** Final projection from tenths partials (station, minT, maxT, sumT,
    * cnt) to the 1BRC output shape — the oracle-parity-critical formula,
    * shared by brcAggTenths and the streaming variant (q94). */
  def tenthsFinal(df: DataFrame): DataFrame =
    df.select(col("station"),
        (col("minT").cast("double") / 10.0).as("min_measure"),
        round1(col("sumT").cast("double") / 10.0 / col("cnt")).as("mean_measure"),
        (col("maxT").cast("double") / 10.0).as("max_measure"))
      .transform(stationOrder)

  /** Per-station tenths partials (station, minT, maxT, sumT, cnt) over
    * (station, t) — batch or streaming input. */
  def tenthsPartials(df: DataFrame): DataFrame =
    df.groupBy(col("station"))
      .agg(min(col("t")).as("minT"), max(col("t")).as("maxT"),
        sum(col("t")).as("sumT"), count(col("t")).as("cnt"))

  /** Pure-integer 1BRC aggregate over (station, t): min/max/sum/count on
    * longs, floating point only in the 413-row final projection. */
  def brcAggTenths(df: DataFrame): DataFrame = tenthsFinal(tenthsPartials(df))

  /** Core 1BRC aggregate over any (station, measure) projection.
    * mean is computed from an exact integer-cents sum so the result is
    * independent of partition/merge order (see graft.Tables doc). */
  def brcAgg(df: DataFrame): DataFrame = {
    val mean = (sum(cents(col("measure"))).cast("double") / 100.0) /
      count(col("measure"))
    df.groupBy(col("station"))
      .agg(
        min(col("measure")).as("min_measure"),
        round1(mean).as("mean_measure"),
        max(col("measure")).as("max_measure"))
      .transform(stationOrder)
  }

  /** The answer in station order. It has one row per station (413 in the
    * generated data, at most 10,000 by the 1BRC spec), so one reducer task
    * sorts it: no range-sampling job and no range exchange. The sort key is
    * the group key, so no ties are left to order. */
  private def stationOrder(answer: DataFrame): DataFrame =
    answer.coalesce(1).sortWithinPartitions("station")

  /** Shared oracle-SQL shape for brcAgg (DuckDB). */
  def brcAggSql(from: String): String =
    s"""SELECT station,
       |  min(measure) AS min_measure,
       |  round(((CAST(sum(CAST(round(measure*100) AS BIGINT)) AS DOUBLE)/100.0)/count(measure))*10)/10 AS mean_measure,
       |  max(measure) AS max_measure
       |FROM ($from) GROUP BY station ORDER BY station""".stripMargin

  /** events(event_type, value) as the oracle-checkable stand-in for
    * measurements.txt (per FIXTURES.md §2). */
  def stationsFromEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type").as("station"), col("value").as("measure"))

  // --- typed surface -------------------------------------------------------

  case class Measurement(station: String, measure: Double)
  /** Mutable partial-agg state — the reference's one true data structure:
    * Records{count,min,max,sum} (rust_1brc/src/main.rs:29-35),
    * Aggregator{min,max,sum,count} (thebracket.rs:14-21). Fixed-point cents
    * like R4/R5 so merge is exact in any order. */
  case class BrcBuf(var count: Long, var minC: Long, var maxC: Long, var sumC: Long)
  case class BrcOut(min_measure: Double, mean_measure: Double, max_measure: Double)

  /** Aggregator[IN,BUF,OUT] mirroring Records::from_item/update/merge/mean
    * (rust_1brc/src/main.rs:38-66): zero = identities (+inf/-inf/0/0, the
    * spec at purple_mist.rs:16-25), reduce = per-row update, merge =
    * partial-state merge, finish = mean + 1dp round. */
  object BrcAggregator extends Aggregator[Measurement, BrcBuf, BrcOut] {
    def zero: BrcBuf = BrcBuf(0L, Long.MaxValue, Long.MinValue, 0L)
    def reduce(b: BrcBuf, m: Measurement): BrcBuf = {
      val c = math.round(m.measure * 100)
      b.count += 1; b.sumC += c
      if (c < b.minC) b.minC = c
      if (c > b.maxC) b.maxC = c
      b
    }
    def merge(a: BrcBuf, b: BrcBuf): BrcBuf = {
      a.count += b.count; a.sumC += b.sumC
      if (b.minC < a.minC) a.minC = b.minC
      if (b.maxC > a.maxC) a.maxC = b.maxC
      a
    }
    def finish(b: BrcBuf): BrcOut = {
      val mean = (b.sumC.toDouble / 100.0) / b.count
      // half-away-from-zero, matching Spark's round()/the reference's R1
      // (rust_1brc/src/main.rs:54-57); math.round would pull -5.25 to -5.2
      val mean1 = (if (mean >= 0) math.floor(mean * 10 + 0.5)
                   else math.ceil(mean * 10 - 0.5)) / 10.0
      BrcOut(b.minC.toDouble / 100.0, mean1, b.maxC.toDouble / 100.0)
    }
    def bufferEncoder: Encoder[BrcBuf] = Encoders.product[BrcBuf]
    def outputEncoder: Encoder[BrcOut] = Encoders.product[BrcOut]
  }

  def typedAgg(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.as[Measurement]
      .groupByKey(_.station)
      .agg(BrcAggregator.toColumn.name("stats"))
      .select($"key".as("station"),
        $"stats.min_measure", $"stats.mean_measure", $"stats.max_measure")
      .orderBy("station")
  }

  // --- sinks (§2.1) --------------------------------------------------------

  private def fmt1(c: Column): Column = round1(c).cast("string")

  /** Official-1BRC braced single line: `{A=min/mean/max, B=..., ...}`
    * (cf. thebracket.rs:169-187; field order per README's official format —
    * min/mean/max as in rust_1brc/src/main.rs:219). Distributed analog of
    * the driver-side print loop: collect_list + sort_array + array_join. */
  def bracedLine(agged: DataFrame): DataFrame =
    agged
      .select(concat(col("station"), lit("="), fmt1(col("min_measure")),
        lit("/"), fmt1(col("mean_measure")),
        lit("/"), fmt1(col("max_measure"))).as("s"))
      .agg(concat(lit("{"), array_join(sort_array(collect_list(col("s"))), ", "),
        lit("}")).as("line"))

  /** Per-line format `station: min/mean/max` (rust_1brc/src/main.rs:213-220),
    * sorted by station (R3's unsorted variant is a bug — not reproduced). */
  def perLine(agged: DataFrame): DataFrame =
    agged.select(col("station"),
      concat(col("station"), lit(": "), fmt1(col("min_measure")),
        lit("/"), fmt1(col("mean_measure")),
        lit("/"), fmt1(col("max_measure"))).as("line"))
      .orderBy("station")

  // --- synthetic-data source (§2.1; generate.rs:10-39) ---------------------

  /** 413-entry (city, mean_temp) lookup table, loaded from a resource copy
    * of the reference's DATA table (generate.rs:41-455 — data, not code). */
  lazy val stationLut: Array[(String, Double)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/stations.csv"), "UTF-8")
    try src.getLines().map { l =>
      val i = l.lastIndexOf(';'); (l.substring(0, i), l.substring(i + 1).toDouble)
    }.toArray finally src.close()
  }

  /** Deterministic generator as a DataFrame program (SURVEY §7.2): uniform
    * station pick from the LUT, value ~ Normal(mean_s, sd_s) with
    * sd_s ~ Normal(10, 2.5) (generate.rs:23-34), rounded to 1 decimal.
    * Randomness is hash-derived from the row id + seed (not rand()/randn())
    * so the output is invariant to partitioning — reproducible on any
    * cluster size. */
  def generate(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    val lut = stationLut
    val names = array(lut.map(p => lit(p._1)).toIndexedSeq: _*)
    val means = array(lut.map(p => lit(p._2)).toIndexedSeq: _*)
    def u(salt: Int): Column = // uniform (0,1), deterministic per row id
      (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000000L))
        .cast("double") + 0.5) / 1000000000.0
    def gauss(s1: Int, s2: Int): Column = // Box-Muller
      sqrt(lit(-2.0) * log(u(s1))) * cos(lit(2.0 * math.Pi) * u(s2))
    val idx = pmod(xxhash64(col("id"), lit(seed)), lit(lut.length.toLong))
      .cast("int") + 1
    spark.range(n)
      .withColumn("station", element_at(names, idx))
      .withColumn("mu", element_at(means, idx))
      .withColumn("sd", lit(10.0) + lit(2.5) * gauss(101, 102))
      .withColumn("measure", round(gauss(201, 202) * col("sd") + col("mu"), 1))
      .select(col("station"), col("measure"))
  }

  // --- query map -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_onebrc_events" -> ((s, d) => brcAgg(stationsFromEvents(s, d))),
    "q02_onebrc_lineitem" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag").as("station"), col("l_quantity").as("measure"))
      // quantities are integer-valued: sums are exact without the cents trick
      li.groupBy("station").agg(
        min(col("measure")).as("min_measure"),
        (sum(col("measure")) / count(col("measure"))).as("mean_measure"),
        max(col("measure")).as("max_measure"))
        .orderBy("station")
    }),
    "q03_onebrc_tenths" -> ((s, d) => {
      // R4/R5 fixed-point semantics: aggregate integer tenths end-to-end
      // (thebracket.rs:73-110, rangnargrootkeorkamp.rs:183-201)
      stationsFromEvents(s, d)
        .select(col("station"), tenths(col("measure")).as("t"))
        .groupBy("station").agg(
          min(col("t")).as("min_tenths"), max(col("t")).as("max_tenths"),
          sum(col("t")).as("sum_tenths"), count(col("t")).as("cnt"))
        .withColumn("mean_measure",
          round1(col("sum_tenths").cast("double") / 10.0 / col("cnt")))
        .orderBy("station")
    }),
    "q04_onebrc_braced" -> ((s, d) => bracedLine(brcAgg(stationsFromEvents(s, d)))),
    "q05_onebrc_typed" -> ((s, d) => typedAgg(s, stationsFromEvents(s, d))),
    "q06_generator" -> ((s, _) => brcAgg(generate(s, 200000L))),
    "q18_custom_agg" -> ((s, d) => {
      // the reference's Records struct as a native SQL aggregate
      // (TypedImperativeAggregate, graft.functions.BrcStatsAgg)
      stationsFromEvents(s, d)
        .groupBy(col("station"))
        .agg(expr("brc_stats(measure)").as("st"))
        .select(col("station"), col("st.min_measure"),
          col("st.mean_measure"), col("st.max_measure"))
        .orderBy("station")
    }),
    "q07_parse_lines" -> ((s, d) => {
      // §2.2 field split + cast, oracle-checked: serialize to the exact
      // `station;measure` line format, then re-tokenize and re-aggregate.
      val lines = stationsFromEvents(s, d)
        .select(concat(col("station"), lit(";"), col("measure").cast("string"))
          .as("line"))
      val parsed = lines.select(
        split(col("line"), ";").getItem(0).as("station"),
        split(col("line"), ";").getItem(1).cast("double").as("measure"))
      brcAgg(parsed)
    }),
    "q08_scan_csv" -> ((s, _) =>
      brcAgg(readMeasurements(s, graft.Fixtures.path("measurements_golden.csv")))),
    "q09_onebrc_lines" -> ((s, d) => perLine(brcAgg(stationsFromEvents(s, d)))),
    // custom DataSource V2 connector (graft.sources.BrcDataSource) under
    // the oracle gate: fused line-split+parse scan -> integer-tenths agg
    "q19_scan_dsv2" -> ((s, _) =>
      brcAggTenths(readMeasurementsV2(
        s, graft.Fixtures.path("measurements_golden.csv")))),
    // the connector's WRITE half (BrcTable#newWriteBuilder): golden
    // measurements round-trip THROUGH the brc sink — V2 scan → V2 write
    // (`station;d.d` lines re-serialized by digit arithmetic) → V2 scan
    // of the written files → the same aggregate. Oracle reads the
    // ORIGINAL csv, so equality binds serialize→commit→list→parse
    // end-to-end (the q121/q158 roundtrip contract applied to the
    // custom format). Overwrite arrives as DSV2 truncate; files are
    // task-unique so retries never clobber.
    "q176_brc_sink" -> ((s, _) => {
      val src = graft.Fixtures.path("measurements_golden.csv")
      val dir = graft.Staging.dirFor("brcsink", src)
      graft.Staging.once(dir) {
        readMeasurementsV2(s, src)
          .write.format("graft.sources.BrcDataSource")
          .mode("overwrite").option("path", dir).save()
      }
      brcAggTenths(readMeasurementsV2(s, dir))
    })
  )

  private val meanSql =
    "round(((CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0)/count(value))*10)/10"

  val oracle: Map[String, String] = Map(
    "q01_onebrc_events" -> brcAggSql(
      "SELECT event_type AS station, value AS measure FROM events"),
    // the generator is seeded + partition-invariant, so its 413-row
    // aggregate is a constant: the committed fixture (dumped once, exact
    // 1-dp decimal -> double roundtrip) is a true oracle for regressions
    "q06_generator" ->
      s"""SELECT station, min_measure, mean_measure, max_measure
        |FROM read_csv('${graft.Fixtures.path("q06_generator_expected.csv")}',
        |  header=true, delim=';',
        |  columns={'station':'VARCHAR','min_measure':'DOUBLE',
        |           'mean_measure':'DOUBLE','max_measure':'DOUBLE'})
        |ORDER BY station""".stripMargin,
    "q02_onebrc_lineitem" ->
      """SELECT l_returnflag AS station,
        |  min(l_quantity) AS min_measure,
        |  sum(l_quantity)/count(l_quantity) AS mean_measure,
        |  max(l_quantity) AS max_measure
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_onebrc_tenths" ->
      """SELECT station, min_tenths, max_tenths, sum_tenths, cnt,
        |  round((CAST(sum_tenths AS DOUBLE)/10.0/cnt)*10)/10 AS mean_measure
        |FROM (
        |  SELECT event_type AS station,
        |    min(CAST(round(value*10) AS BIGINT)) AS min_tenths,
        |    max(CAST(round(value*10) AS BIGINT)) AS max_tenths,
        |    CAST(sum(CAST(round(value*10) AS BIGINT)) AS BIGINT) AS sum_tenths,
        |    count(value) AS cnt
        |  FROM events GROUP BY 1) ORDER BY station""".stripMargin,
    "q04_onebrc_braced" ->
      s"""SELECT '{' || string_agg(s, ', ' ORDER BY s) || '}' AS line FROM (
         |  SELECT station || '=' ||
         |    CAST(round(min_measure*10)/10 AS VARCHAR) || '/' ||
         |    CAST(round(mean_measure*10)/10 AS VARCHAR) || '/' ||
         |    CAST(round(max_measure*10)/10 AS VARCHAR) AS s
         |  FROM (${brcAggSql("SELECT event_type AS station, value AS measure FROM events")}))""".stripMargin,
    "q05_onebrc_typed" -> brcAggSql(
      "SELECT event_type AS station, value AS measure FROM events"),
    "q18_custom_agg" -> brcAggSql(
      "SELECT event_type AS station, value AS measure FROM events"),
    "q07_parse_lines" -> brcAggSql(
      """SELECT split_part(line, ';', 1) AS station,
        |       CAST(split_part(line, ';', 2) AS DOUBLE) AS measure
        |FROM (SELECT event_type || ';' || CAST(value AS VARCHAR) AS line FROM events)""".stripMargin),
    "q08_scan_csv" -> brcAggSql(
      s"""SELECT station, measure FROM read_csv('${graft.Fixtures.path("measurements_golden.csv")}',
        |  delim=';', header=false, columns={'station':'VARCHAR','measure':'DOUBLE'})""".stripMargin),
    // identical answer contract: the V2 connector's integer-tenths path
    // must reproduce the generic CSV scan bit-for-bit on 1-dp data
    "q19_scan_dsv2" -> brcAggSql(
      s"""SELECT station, measure FROM read_csv('${graft.Fixtures.path("measurements_golden.csv")}',
        |  delim=';', header=false, columns={'station':'VARCHAR','measure':'DOUBLE'})""".stripMargin),
    // oracle reads the ORIGINAL csv — equality binds the sink roundtrip
    "q176_brc_sink" -> brcAggSql(
      s"""SELECT station, measure FROM read_csv('${graft.Fixtures.path("measurements_golden.csv")}',
        |  delim=';', header=false, columns={'station':'VARCHAR','measure':'DOUBLE'})""".stripMargin),
    "q09_onebrc_lines" ->
      s"""SELECT station, station || ': ' ||
         |  CAST(round(min_measure*10)/10 AS VARCHAR) || '/' ||
         |  CAST(round(mean_measure*10)/10 AS VARCHAR) || '/' ||
         |  CAST(round(max_measure*10)/10 AS VARCHAR) AS line
         |FROM (${brcAggSql("SELECT event_type AS station, value AS measure FROM events")})
         |ORDER BY station""".stripMargin
  )
}
