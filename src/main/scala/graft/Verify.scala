package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args
    val spark = Harness.session(4)
    new java.io.File(outDir).mkdirs()
    // optional trailing args restrict the run to these keys (exact names
    // or `prefix*`; local iteration only — the driver always passes
    // exactly two args). Sorted order + post-query block sweep: same
    // rationale as Bench — deterministic attribution, graph-family cache
    // locality, and no accumulation of dead localCheckpoint blocks.
    val queries = SparkEntry.queries
    Harness.select(queries.keys, only).foreach { name =>
      try graft.api.QueryHygiene.run(spark, name) {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
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
    // ALWAYS the full oracle map (even under a key-subset run): a partial
    // rerun into an existing outDir must not shrink the json and orphan
    // the preserved results of earlier keys.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
