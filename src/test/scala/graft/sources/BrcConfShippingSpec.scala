package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.onebrc.OneBrc

/** How the `brc` connector ships its Hadoop conf: one broadcast per scan
  * and per write job, so the factories every task deserializes stay small;
  * and the conf is the building session's, so a filesystem scheme set on
  * that session alone reaches the tasks.
  */
class BrcConfShippingSpec extends SparkSpec {

  private def file(text: String): String = {
    val f = tempFile("brcconf", ".csv")
    java.nio.file.Files.write(f, text.getBytes("UTF-8"))
    f.toString
  }

  private def serializedBytes(o: AnyRef): Int = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    try out.writeObject(o) finally out.close()
    bytes.size
  }

  private def scanOf(df: DataFrame): Scan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get

  private val text = "Oslo;1.5\nBern;-0.5\nOslo;2.5\nRome;9.0\n"

  test("reader and writer factories carry a broadcast handle, not the conf") {
    val path = file(text)
    val rows = OneBrc.readMeasurementsV2(spark, path)
    for ((name, df) <- Seq("pushed" -> OneBrc.tenthsPartials(rows), "row" -> rows)) {
      val scan = scanOf(df)
      assert(scan.description().contains("PushedAggregation") == (name == "pushed"))
      val a = scan.toBatch.createReaderFactory().asInstanceOf[BrcReaderFactory]
      val b = scan.toBatch.createReaderFactory().asInstanceOf[BrcReaderFactory]
      assert(a.conf.id == b.conf.id, s"$name: one broadcast per scan")
      val n = serializedBytes(a)
      assert(n < 4096, s"$name reader factory serializes to $n bytes")
    }

    val dir = tempDir("brcconf-sink").toString
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      override def queryId(): String = "brc-conf-shipping"
      override def schema(): StructType = BrcDataSource.schema
    }
    val table = new BrcDataSource().getTable(BrcDataSource.schema, Array.empty,
      Map("path" -> dir).asJava).asInstanceOf[BrcTable]
    // a write plans with its session active, as `newWriteBuilder` expects
    val prior = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    val factory =
      try table.newWriteBuilder(info).build().toBatch
        .createBatchWriterFactory(new PhysicalWriteInfo {
          override def numPartitions(): Int = 1
        })
      finally prior.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    val n = serializedBytes(factory)
    assert(n < 4096, s"writer factory serializes to $n bytes")
  }

  test("a filesystem scheme set on the building session reaches the tasks") {
    val local = tempDir("brcconf-scheme")
    java.nio.file.Files.write(local.resolve("part-0.csv"), text.getBytes("UTF-8"))
    val viaFile = local.toUri.toString
    val viaRec = s"${RecordingFileSystem.Scheme}://${local.toUri.getPath}"

    val session = spark.newSession()
    session.conf.set(s"fs.${RecordingFileSystem.Scheme}.impl",
      classOf[RecordingFileSystem].getName)
    session.conf.set(s"fs.${RecordingFileSystem.Scheme}.impl.disable.cache", "true")
    def answer(s: SparkSession, path: String): Seq[String] =
      OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(s, path))
        .collect().map(_.toString).toSeq.sorted

    RecordingFileSystem.opened.clear()
    assert(answer(session, viaRec) == answer(session, viaFile))
    val opened = RecordingFileSystem.opened.asScala.toSeq
    assert(opened.nonEmpty && opened.forall(_.startsWith(RecordingFileSystem.Scheme + ":")),
      s"tasks must open files through the session's filesystem: $opened")

    val out = s"${RecordingFileSystem.Scheme}://${tempDir("brcconf-out").toUri.getPath}"
    OneBrc.readMeasurementsV2(session, viaFile).write
      .format("graft.sources.BrcDataSource").mode("overwrite").option("path", out).save()
    assert(answer(session, out) == answer(session, viaFile))

    val bare = spark.newSession()
    val e = intercept[Exception](answer(bare, viaRec))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("No FileSystem for scheme")),
      s"$e")
  }
}

/** The local filesystem under its own scheme, recording every file it
  * opens. */
class RecordingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = RecordingFileSystem.Scheme
  override def getUri: java.net.URI = RecordingFileSystem.Uri
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    RecordingFileSystem.opened.add(f.toString)
    super.open(f, bufferSize)
  }
}

object RecordingFileSystem {
  val Scheme = "brcrec"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]
}
