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

  /** The number of jobs `body` submits. A marker job fences the
    * asynchronous listener bus, which delivers one listener's events
    * in submission order.
    */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val fence = "graft.spec.fence"
    val seen = new java.util.concurrent.LinkedBlockingQueue[java.lang.Boolean]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).exists(_.getProperty(fence) != null))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(fence, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(fence, null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(e => if (e == null) fail("listener bus did not deliver the fence") else e)
        .takeWhile(!_.booleanValue).size
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try synchronized {
      tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    } finally super.afterAll()
}
