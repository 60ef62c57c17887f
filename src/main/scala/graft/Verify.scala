package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: subset of query names to dump (fast iteration)
    val subset = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Round-6 lesson: stderr-only failure reporting let 61 red rows go
    // unnoticed (the driver records nothing for a missing row). Every
    // failure now lands in VERIFY_ERRORS.json (name → exception) in
    // BOTH the out dir and the repo root, so a red row is loud in the
    // builder loop and in history; the file is written even when empty
    // so "no errors" is a positive signal, not an absence.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      // queries that cache() intermediate tables (shingle sets) must not
      // pin them in executor memory for the remaining ~70 queries
      spark.catalog.clearCache()
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
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/VERIFY_ERRORS.json"), errJson)
    // repo-root copy so a red row lands in git history even when only
    // artifacts under version control are inspected
    try Files.writeString(Paths.get("VERIFY_ERRORS.json"), errJson)
    catch { case _: Throwable => () } // non-writable cwd: outDir copy stands
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    }
    // drop the session-memoized substrate frames (ADVICE r9): unpins
    // their checkpoint blocks before shutdown — the explicit release
    // hook on top of FrameMemo's bounded-entry cap
    FrameMemo.release(spark)
    spark.stop()
  }
}
