package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: Bench, Verify, Smoke, every tool
  * and (through the test fixture) every spec.
  *
  * Base settings: master `local[cpus]` unless `spark.master` is already set
  * (spark-submit's `--master` wins), shuffle partitions = cpus, UTC session
  * time zone, UI off, log level WARN. Under `spark.graft.cutPolicy=reliable`
  * a session with no checkpoint dir gets a temp one, so a local run can
  * exercise durable cuts; on a cluster, set a shared dir explicitly.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The broadcast threshold the registry is gated and benched under. */
  val registryConf: Map[String, String] =
    Map("spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString)

  /** The settings a session is built with; `overrides` win. */
  private[graft] def settings(cpus: Int, overrides: Map[String, String],
      masterSet: Boolean): Map[String, String] =
    (if (masterSet) Map.empty[String, String]
     else Map("spark.master" -> s"local[$cpus]")) ++
      Map(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false") ++
      overrides

  def apply(cpus: Int = defaultCpus,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
    settings(cpus, overrides, new SparkConf().contains("spark.master"))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (spark.conf.get(PlanProbe.PolicyKey, "local") == "reliable" &&
        spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ck").toString)
    spark
  }
}
