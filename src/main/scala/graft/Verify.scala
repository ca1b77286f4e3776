package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump every query's result to `outDir/<name>` parquet and write
    * `oracle_sql.json` + `failures.json`. Failures must be LOUD: a query
    * that throws is recorded in failures.json (query -> message) rather
    * than silently vanishing from the correctness artifact — a fixture/
    * engine break should show up as red rows, not missing rows
    * (round 9 shipped 13 queries that silently disappeared this way).
    * Factored out of main so IOSpec can prove the failure path with a
    * deliberately-broken query. Returns the failure map. */
  def run(spark: SparkSession, queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String], sfDir: String, outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
      }
    }
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    println(s"[verify] ${queries.size - failures.size}/" +
      s"${queries.size} queries dumped, ${failures.size} FAILED" +
      (if (failures.nonEmpty) ": " + failures.keys.mkString(", ") else ""))
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    // optional names after <sfDir> <outDir> restrict the dump — the
    // optimization rounds' per-query oracle adjudication (the driver
    // always calls with exactly two args = full catalog)
    val Array(sfDir, outDir) = args.take(2)
    val sel = args.drop(2).toSet
    Bench.refuseUnknownQueries("verify", sel)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the SAME session recipe as Bench (join posture, committer tuning):
    // the oracle gate must exercise the exact configuration the bench
    // measures, or a config-sensitive result drift would go unchecked
    val spark = Bench.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.silenceBenignStreamingTermination()
    val qs = if (sel.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(sel).toMap
    val os = if (sel.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.view.filterKeys(sel).toMap
    run(spark, qs, os, sfDir, outDir)
    spark.stop()
  }
}
