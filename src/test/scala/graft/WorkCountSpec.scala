package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[WorkCount]] counts what its body ran, on its thread, and nothing else. */
class WorkCountSpec extends AnyFunSuite with SparkSuite {

  private def work(body: => Unit): Work = WorkCount.during(spark)(body)._2

  private def keyed(n: Long) =
    spark.range(n).select((col("id") % 10).as("k"), col("id").as("v"))

  test("a range collect is one job; a range count is two under AQE") {
    val w = work(spark.range(10).collect())
    assert((w.jobs, w.stages, w.tasks) == ((1, 1, 4)))
    // AQE runs the count's shuffle map stage as a job of its own
    assert(work(spark.range(10).count()).jobs == 2)
  }

  test("a shuffle join with broadcast off plans two exchanges and one sort-merge join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val w = work(keyed(100).join(keyed(50), "k").collect())
      assert((w.exchanges, w.sortMergeJoins, w.reusedExchanges) == ((2, 1, 0)))
      assert(w.shuffleWriteBytes > 0 && w.shuffleReadBytes > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("an aggregate unioned with itself reuses its exchange") {
    val agg = keyed(100).groupBy("k").count()
    val w = work(agg.union(agg).collect())
    assert((w.exchanges, w.reusedExchanges) == ((1, 1)))
  }

  test("a job another thread starts while the body runs is not counted") {
    val go, done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      spark.range(20).collect()
      done.countDown()
    })
    other.start()
    val w = work {
      go.countDown()
      done.await()
      spark.range(10).collect()
    }
    other.join()
    assert(w.jobs == 1)
  }
}
