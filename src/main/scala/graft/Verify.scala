package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.localSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (the driver
    // sets no filter and always dumps everything)
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // per-query outcome manifest: builder-side evidence of exactly
    // what this run produced (name → row count, or the error) — the
    // diagnostic trail for a run whose downstream oracle-compare
    // artifact comes back empty while Verify itself ran green.
    val outcomes = scala.collection.mutable.LinkedHashMap[String, String]()
    // the manifest is rewritten after EVERY query, not once at the
    // end: its whole purpose is the diagnostic trail for runs that die
    // mid-loop (driver OOM/kill — one plausible cause of an empty
    // compare), and a single end-of-run write would lose exactly the
    // evidence those runs need
    def flushManifest(): Unit =
      Files.writeString(Paths.get(s"$outDir/manifest.json"),
        outcomes.map { case (k, v) => s"${jsonStr(k)}: $v" }
          .mkString("{", ",", "}"))
    SparkEntry.queries
      .filter { case (name, _) => filter.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        outcomes(name) = s"""{"rows": $rows}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        outcomes(name) = s"""{"error": ${jsonStr(e.toString.take(300))}}"""
      }
      flushManifest()
      Checkpoints.releaseAll(spark) // queries are independent
    }
    flushManifest()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
