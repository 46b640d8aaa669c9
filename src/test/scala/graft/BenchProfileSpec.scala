package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SourceOps

/** The structural gate on [[Bench]]: every benched query's job, stage and
  * AQE-final plan counts at sf0.001 must equal its entry in the checked-in
  * `bench_profile.json`. Counters are fixed for a given plan and input;
  * wall time is not. The first pass warms the per-JVM memos (schema, doc
  * count, codebook, near-dup zone) whichever spec ran first, so only the
  * second pass is compared.
  *
  * An entry is one set of counts, or a list of the sets a query's plan
  * settles on run to run: AQE re-plans when a query stage completes, and
  * where two stages race, the final plan (and its job count) follows the
  * race. A list names every shape accepted; anything else fails.
  *
  * The observed profile is written to `target/bench_profile.observed.json`
  * (an entry that matched is copied as it stands); after an intended plan
  * change, copy it over `bench_profile.json`. */
class BenchProfileSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkOverrides: Map[String, String] =
    Session.registryConf

  private val dir = "/root/testdata/sf0.001"
  private val gated = Set("jobs", "stages", "exchanges", "reused_exchanges",
    "sort_merge_joins", "sort_aggregates")

  test("every benched query keeps its checked-in job, stage and plan counts") {
    val names = Bench.sets.flatMap(_._2)
    def pass(): Seq[(String, Work)] =
      names.map(n => n -> Bench.once(spark, dir, SparkEntry.queries(n))._2)
    pass()
    val observed = pass().map { case (n, w) => n -> w.json(gated) }
    val json = new ObjectMapper()
    val expected = json.readTree(Files.readString(
      Paths.get(SourceOps.repoFile("bench_profile.json"))))
    def accepted(n: String): Seq[JsonNode] = Option(expected.get(n)).toSeq
      .flatMap(e => if (e.isArray) e.elements.asScala.toSeq else Seq(e))
    val matched = observed.map { case (n, j) =>
      (n, j, accepted(n).contains(json.readTree(j))) }
    Files.write(Paths.get(SourceOps.repoFile("target"),
      "bench_profile.observed.json"), matched.map { case (n, j, ok) =>
        s"""  "$n": ${if (ok) expected.get(n) else j}"""
      }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    val moved = matched.filterNot(_._3)
    if (moved.nonEmpty) fail(moved.map { case (n, j, _) =>
      s"$n: expected ${Option(expected.get(n)).getOrElse("absent")} observed $j"
    }.mkString(s"${moved.size} queries moved:\n", "\n",
      "\nIf the change is intended: cp target/bench_profile.observed.json " +
        "bench_profile.json"))
  }
}
