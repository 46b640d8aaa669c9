package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's Spark session: built by [[Session]] on 4 cores, stopped after the
  * spec. A spec that needs its own settings overrides [[sparkOverrides]]. */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>

  protected def sparkOverrides: Map[String, String] = Map.empty

  protected lazy val spark: SparkSession =
    Session(cpus = 4, overrides = sparkOverrides)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()
}
