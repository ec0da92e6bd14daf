package graft

import org.apache.spark.sql.SparkSession

/** The one session every main runs on: `local[cpus]` with one shuffle
  * partition per core, UTC session time, no UI, ERROR logging, and the
  * graft function catalog installed. AQE is Spark's default (on) and is
  * not restated. A main that needs a different partition count sets it
  * on the returned session.
  */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS`, else every available processor. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
    spark
  }
}
