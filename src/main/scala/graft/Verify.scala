package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only filter (driver never sets it): comma-separated query names
    // to dump, for fast single-query parity checks via tools/paritycheck.py.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** JSON-encode the oracle map. Escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. Exposed for VerifySpec's Jackson round-trip check.
    */
  def oracleJson(oracles: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
