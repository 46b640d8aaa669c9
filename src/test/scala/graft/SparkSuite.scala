package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's Spark session: built by [[Session]] on 4 cores, stopped after the
  * spec. A spec that needs its own settings overrides [[sparkOverrides]]. */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>

  protected def sparkOverrides: Map[String, String] = Map.empty

  protected lazy val spark: SparkSession =
    Session(cpus = 4, overrides = sparkOverrides)

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with everything in it after the spec. */
  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try spark.stop()
    finally try tempDirs.asScala.foreach(deleteTree) finally super.afterAll()

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally paths.close()
  }

  /** Spark jobs started on this thread while `body` runs. */
  protected def jobsDuring(body: => Unit): Int = WorkCount.during(spark)(body)._2.jobs
}
