package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table co-located join — the OTHER half of the 100 TB layout
  * story next to q130's partition pruning: both join sides written
  * `bucketBy(custkey)` into catalog tables, so the big fact⋈dim join
  * plans with ZERO exchanges — each task reads bucket i of both tables
  * and joins locally. At 100 TB this converts the nightly fact-join's
  * full-network shuffle (the single most expensive stage in a warehouse)
  * into a pure scan problem, paid once at write time. The only exchange
  * left in q132 is the final tiny groupBy — spec-pinned to exactly one.
  *
  * Catalog mechanics: `bucketBy` requires `saveAsTable` (bucket metadata
  * lives in the catalog, not the files); the tables are external, their
  * files a [[graft.Staging]] stage (written once per corpus, durable
  * across restarts under `-Dgraft.stage.dir`, forgotten with the corpus),
  * registered in a per-corpus database of the session catalog. The
  * catalog is in-memory and shared by every session of a SparkContext,
  * so a stage served from a marker (a new JVM, or a new SparkContext in
  * this one) re-registers the staged files before the query reads them.
  */
object BucketedStage {

  val Buckets = 8

  private val BucketedTables = Seq(
    ("orders", "orders_b", "o_custkey"),
    ("customer", "customer_b", "c_custkey"))

  /** Bucketed stage for corpus `d`: returns the database holding
    * `orders_b` and `customer_b`, both bucketed+sorted on custkey. */
  def stage(s: SparkSession, d: String): String = {
    val dir = graft.Staging.dirFor("bkt", d)
    val db = "graft_" + new java.io.File(dir).getName.replace('-', '_')
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$dir'")
    graft.Staging.once(dir) {
      for ((src, tbl, k) <- BucketedTables)
        graft.Tables.t(s, d, src)
          .write.mode("overwrite").format("parquet")
          .bucketBy(Buckets, k).sortBy(k)
          .option("path", s"$dir/$tbl").saveAsTable(s"$db.$tbl")
    }
    for ((_, tbl, k) <- BucketedTables
         if !s.catalog.tableExists(s"$db.$tbl")) {
      val cols = s.read.parquet(s"$dir/$tbl").schema.toDDL
      s.sql(s"CREATE TABLE IF NOT EXISTS $db.$tbl ($cols) USING parquet " +
        s"CLUSTERED BY ($k) SORTED BY ($k) INTO $Buckets BUCKETS " +
        s"LOCATION '$dir/$tbl'")
    }
    db
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_bucketed_join" -> ((s, d) => {
      val db = stage(s, d)
      val o = s.table(s"$db.orders_b")
      val c = s.table(s"$db.customer_b")
      // merge hint: at the test SFs the dim fits a broadcast and Spark
      // would (correctly) prefer it — the hint pins the plan the bucketed
      // layout exists for, the one a 100 TB fact⋈dim would get anyway
      // once the dim outgrows the broadcast threshold
      o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"),
          sum(graft.Tables.cents(col("o_totalprice"))).as("sum_cents"))
        .select(col("c_mktsegment"), col("n_orders"), col("n_customers"),
          graft.Tables.dollars(col("sum_cents")).as("total"))
        .orderBy("c_mktsegment")
    })
  )

  /** Oracle joins the parquet ORIGINALS — equality binds the bucketed
    * write, catalog metadata, and the exchange-free read+join. */
  val oracle: Map[String, String] = Map(
    "q132_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
        |    AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
