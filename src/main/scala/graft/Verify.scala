package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape shared by Verify and [[graft.tools.CheckOne]]:
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load fail
    * and silently zero the round's correctness. ONE definition: the two
    * mains' escape rules must never drift apart. */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump one query with the full gate discipline, shared by Verify and
    * CheckOne: overwrite-write the parquet; on FAILURE delete any stale
    * dump a previous run left at the same path — a reused outDir must make
    * the compare report the query MISSING, not silently PASS a now-broken
    * query against an earlier run's data; always release disk-policy cuts
    * at the per-query boundary. Returns whether the dump succeeded. */
  private[graft] def dumpQuery(spark: SparkSession, sfDir: String,
      outDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql
        .DataFrame): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(stale)) fs.delete(stale, true)
        false
    } finally PlanProbe.releaseCuts() // no-op unless cutPolicy=disk

  /** Write the oracle-SQL sidecar for `names` into `outDir`. */
  private[graft] def writeOracleJson(outDir: String,
      names: Iterable[String]): Unit = {
    val keep = names.toSet
    val json = SparkEntry.oracleSql.view.filterKeys(keep)
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session(overrides = Session.registryConf)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      dumpQuery(spark, sfDir, outDir, name, fn)
    }
    writeOracleJson(outDir, SparkEntry.oracleSql.keys)
    spark.stop()
  }
}
