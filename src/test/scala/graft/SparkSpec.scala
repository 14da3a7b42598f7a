package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends SuiteTempDirs {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

/** Temp dirs that live as long as the suite. */
trait SuiteTempDirs extends AnyFunSuite with BeforeAndAfterAll {
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** A new temp dir under `java.io.tmpdir`, deleted with its contents
    * when the suite ends. */
  def suiteTempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtils.deleteQuietly(d): Unit)
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse): Unit)
    val s = graft.sources.GraftSession.configure(
      SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.warehouse.dir", warehouse.toString),
      shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
