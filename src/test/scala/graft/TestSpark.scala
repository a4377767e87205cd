package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for all suites (Spark startup is ~5s). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4)

  /** The number of Spark jobs `body` runs. The listener bus delivers
    * events in order, so every job of `body` arrives between two marker
    * jobs. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def marker(id: String): Unit = {
      sc.setJobGroup(id, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-begin")
      body
      marker("jobs-end")
      Iterator.continually(Option(groups.poll(60, TimeUnit.SECONDS))
          .getOrElse(throw new IllegalStateException("no job event within 60 s")))
        .dropWhile(_ != "jobs-begin").drop(1).takeWhile(_ != "jobs-end").size
    } finally sc.removeSparkListener(listener)
  }
}

/** Temp directories a suite creates, deleted when the suite ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    dirs += d
    d
  }

  override def afterAll(): Unit =
    try dirs.foreach(d => FileUtils.deleteDirectory(d.toFile))
    finally super.afterAll()
}

/** Top-level so Spark can generate an Encoder (inner classes can't). */
case class T6(subj: String, pred: String, obj: String, repo: String,
    path: String, contentSha: String)
