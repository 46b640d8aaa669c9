package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinOps

/** Regression harness for the spill-regime as-of join bug: when the right
  * side's sort spills, `UnsafeSorterSpillReader` reuses its row buffer on
  * every `next()`, so a retained key eval'd from the live buffer (a
  * `UTF8String` VIEW into it) is silently overwritten — the fixed exec
  * re-derives the key from the copied row instead.
  *
  * This cannot run inside the shared-JVM test suite: the force-spill knob is
  * a core SparkConf, fixed at context creation. Run it as its own submit:
  *
  * {{{
  * /opt/spark/bin/spark-submit --master 'local[2]' --driver-memory 8g \
  *   --conf spark.shuffle.spill.numElementsForceSpillThreshold=4000 \
  *   --conf spark.unsafe.sorter.spill.read.ahead.enabled=false \
  *   --class graft.tools.AsOfSpillCheck <jar>
  * }}}
  *
  * With the threshold at 4000, every sort in the plan spills dozens of times
  * at this volume, so each partition's merge crosses many spill-reader
  * buffer reuses. Read-ahead is disabled and parallelism kept low because
  * every open spill reader pins ≥1 MB of buffer (min allowed) — thousands of
  * concurrent readers OOM the merge, which is an artifact of the forced
  * tiny spills, not of the operator. Validated both ways: with the key
  * derived from the live buffer (the pre-fix code) this harness reports
  * ~180 differing rows; with the key derived from the copy it reports zero.
  * Exits 0 and prints `[spillcheck] OK` when the custom exec
  * matches the window-based oracle row for row; exits 1 with a diff count
  * otherwise (the pre-fix exec fails here deterministically).
  */
object AsOfSpillCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session(cpus = 4)
    import spark.implicits._

    // string keys (heap-backed UTF8String views are the corruptible case) at
    // a volume far above the forced-spill threshold
    val rnd = new scala.util.Random(11)
    val keys = (0 until 50).map(i => f"entity_with_a_long_key_$i%04d")
    val probes = (0 until 20000).map { i =>
      (keys(rnd.nextInt(keys.size)), rnd.nextInt(100000), i.toLong)
    }.toDF("k", "t", "pid")
    val refs = (0 until 50000).map { i =>
      (keys(rnd.nextInt(keys.size)), rnd.nextInt(100000), i.toLong)
    }.toDF("rk", "rt", "rid")

    val viaExec = AsOfJoinOps.asof(probes, refs, "k", "rk", "t", "rt",
      rightTiebreak = Seq("rid")).select("pid", "rid")

    val w = Window.partitionBy("pid").orderBy(col("rt").desc, col("rid").desc)
    val oracle = probes
      .join(refs, col("k") === col("rk") && col("rt") <= col("t"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("pid", "rid")

    val diff = viaExec.exceptAll(oracle).count() +
      oracle.exceptAll(viaExec).count()
    if (diff == 0) {
      println("[spillcheck] OK: custom as-of exec matches the oracle on " +
        s"${probes.count()} probes under forced spills")
      spark.stop()
    } else {
      println(s"[spillcheck] FAIL: $diff differing rows under forced spills")
      spark.stop()
      sys.exit(1)
    }
  }
}
