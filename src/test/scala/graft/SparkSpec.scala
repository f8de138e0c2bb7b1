package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}
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

  /** The number of jobs `body` submits. */
  def jobsOf(body: => Unit): Int =
    fenced[Unit](body)(put => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = put(e.properties, ())
    }).size

  /** The stages `body` submits, in submission order. */
  def stagesOf(body: => Unit): Seq[StageInfo] =
    fenced[StageInfo](body)(put => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        put(e.properties, e.stageInfo)
    })

  /** The events `body` causes, as the listener built from `listen`
    * reports them through its `put(properties, event)`. A marker job
    * fences the asynchronous listener bus, which delivers one
    * listener's events in submission order.
    */
  private def fenced[T](body: => Unit)(
      listen: ((java.util.Properties, T) => Unit) => SparkListener): Seq[T] = {
    val sc = spark.sparkContext
    val fence = "graft.spec.fence"
    val seen = new java.util.concurrent.LinkedBlockingQueue[Option[T]]
    val listener = listen((props, e) =>
      seen.put(if (Option(props).exists(_.getProperty(fence) != null)) None else Some(e)))
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(fence, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(fence, null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(e => if (e == null) fail("listener bus did not deliver the fence") else e)
        .takeWhile(_.isDefined).flatten.toVector
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try synchronized {
      tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    } finally super.afterAll()
}
