package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily built), and
  * the suite's temp directories, deleted when the suite ends.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory that lives until the suite ends. */
  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  override def afterAll(): Unit =
    try synchronized {
      tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    } finally super.afterAll()
}
