package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round measurement aid (guide §1.1/§7.2): dump
  * `.explain("formatted")` for named queries to files, so plan claims in
  * OPTIMIZATION_r{N}.md are backed by committed artifacts the judge can
  * diff without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [name ...]
  * With no names, dumps every query in SparkEntry.queries. Output file:
  * <outDir>/<name>_<suffix>.txt. Plans are the pre-execution formatted
  * physical plans (AQE initial plans — the shape the optimizer commits
  * to before runtime re-optimization; Exchange counts / join strategies /
  * PushedFilters all visible).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // a run where every dump fails must not look like success to calling
    // scripts (r13 ADVICE): track failures and exit nonzero, and reject
    // missing args with a usage line instead of an AIOOBE
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [name ...]")
      sys.exit(2)
    }
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only = args.drop(3).toSet
    var failed = 0
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"[plandump] $name -> ${txt.linesIterator.size} lines")
        } catch { case e: Throwable =>
          failed += 1
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plandump] $failed dump(s) failed")
      sys.exit(1)
    }
  }
}
