package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session factory: its base settings, override precedence,
  * the reliable-policy checkpoint default, and that no other file builds a
  * session. */
class SessionSpec extends AnyFunSuite with SparkSuite {

  test("base settings: local[cores] master, partitions = cores, UTC, UI off") {
    val s = Session.settings(6, Map.empty, masterSet = false)
    assert(s == Map("spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("a preset master is kept") {
    assert(!Session.settings(6, Map.empty, masterSet = true)
      .contains("spark.master"))
  }

  test("an override wins over a base setting") {
    val s = Session.settings(6, Map("spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "Asia/Tokyo"), masterSet = false)
    assert(s("spark.sql.shuffle.partitions") == "3")
    assert(s("spark.sql.session.timeZone") == "Asia/Tokyo")
  }

  test("reliable cut policy defaults a checkpoint dir, keeps a preset one") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    try {
      Session(4, Map(PlanProbe.PolicyKey -> "reliable"))
      assert(sc.getCheckpointDir.nonEmpty)
      sc.setCheckpointDir(Files.createTempDirectory("graft_ck_preset").toString)
      val preset = sc.getCheckpointDir
      Session(4, Map(PlanProbe.PolicyKey -> "reliable"))
      assert(sc.getCheckpointDir == preset)
    } finally spark.conf.unset(PlanProbe.PolicyKey)
  }

  test("no file outside the factory builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    def scalaFiles(root: String): List[Path] =
      Using.resource(Files.walk(Paths.get(root)))(_.iterator.asScala.toList)
        .filter(_.toString.endsWith(".scala"))
    def builds(p: Path) = new String(Files.readAllBytes(p), UTF_8)
      .contains(needle)
    assert(builds(factory))
    val offenders = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => p != factory && builds(p))
    assert(offenders.isEmpty,
      s"build sessions through graft.Session, not in ${offenders.mkString(", ")}")
  }
}
