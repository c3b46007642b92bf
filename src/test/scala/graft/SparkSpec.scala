package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. sf0.001 keeps specs
  * fast; correctness at larger SF is the DuckDB oracle's job
  * (tools/compare.py / driver t2). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      graft.Scratch.dir("graft-wh-").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    // keep the session for the next suite in the same JVM (sbt forks once)
    super.afterAll()
  }

  /** Formatted physical plan of a query's DataFrame. */
  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Every file under `dir`, keyed by its path relative to `dir`, with
    * its bytes (the local filesystem's `.crc` checksum files excluded):
    * two sink outputs are byte-identical iff these maps are equal. */
  def filesUnder(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc"))
      .map(p => dir.relativize(p).toString ->
        Files.readAllBytes(p).toSeq)
      .toMap
    finally walk.close()
  }
}
