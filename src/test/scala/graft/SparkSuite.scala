package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's Spark session: built by [[Session]] on 4 cores, stopped after the
  * spec. A spec that needs its own settings overrides [[sparkOverrides]]. */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>

  protected def sparkOverrides: Map[String, String] = Map.empty

  protected lazy val spark: SparkSession =
    Session(cpus = 4, overrides = sparkOverrides)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** Spark jobs started on this thread while `body` runs. Listener events
    * arrive in post order, so once a marker job run after `body` has been
    * seen, every job `body` started has been seen too. */
  protected def jobsDuring(body: => Unit): Int = {
    val phaseKey = "graft.test.phase"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty(phaseKey))
          .getOrElse("none"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phaseKey, "body")
      try body finally sc.setLocalProperty(phaseKey, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("marker"), "marker job never reached the listener")
      seen.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty(phaseKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
