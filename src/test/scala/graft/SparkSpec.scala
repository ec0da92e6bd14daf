package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Temp dir/file that self-clean on JVM exit: the suite must leave the
    * host tmp as it found it (a library, not a lab bench). */
  def tempDir(prefix: String): java.nio.file.Path =
    SparkSpec.cleanOnExit(java.nio.file.Files.createTempDirectory(prefix))
  def tempFile(prefix: String, suffix: String): java.nio.file.Path =
    SparkSpec.cleanOnExit(java.nio.file.Files.createTempFile(prefix, suffix))
}

object SparkSpec {
  private val tmpPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val hookOnce: Unit = {
    sys.addShutdownHook {
      tmpPaths.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    }
    ()
  }
  def cleanOnExit(p: java.nio.file.Path): java.nio.file.Path = {
    hookOnce
    tmpPaths.add(p)
    p
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        cleanOnExit(java.nio.file.Files
          .createTempDirectory("graft_warehouse")).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(s)
    s
  }
}
