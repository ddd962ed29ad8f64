package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query's
  * output dir is cleared before it runs, so a failed query leaves no
  * stale result from an earlier run; any failure exits non-zero with the
  * failed query names. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these query names (local iteration;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Tables.preflight(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      val failure = try { fn(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}"); Some(name) }
      // queries that cache internally (dedup shingles, minhash features)
      // must not pin storage memory for the remaining queries; streaming
      // memory-sink views likewise must not pin their drained results
      spark.catalog.clearCache()
      graft.util.Tables.dropGraftTempViews(spark)
      failure
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.sorted.mkString(" ")}")
      sys.exit(1)
    }
  }
}
