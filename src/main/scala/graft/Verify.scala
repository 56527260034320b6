package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Session comes from [[graft.core.GraftSession]] so the graded path runs
  * with the same pinned semantics as everything else: ansi.enabled=false
  * (failed casts → null, matching the reference's rules and DuckDB
  * TRY_CAST), UTC, AQE, and graft's SQL functions registered.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional third arg: comma-separated substring filters over query
    // names (any-match), for fast targeted local oracle checks. The
    // driver always passes two args.
    // With a filter, oracle_sql.json names only the queries run here,
    // so the compare grades exactly those.
    val nameFilter = args.drop(2).headOption.map(_.split(',').toSeq)
    def selected(name: String) = nameFilter.forall(_.exists(name.contains))
    val spark = graft.core.GraftSession.get()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.core.CacheRelease(spark)
    spark.stop()
  }
}
