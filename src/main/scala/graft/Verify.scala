package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  private val Usage = "usage: Verify <sfDir> <outDir> [queryNameRegex]"

  def main(args: Array[String]): Unit = {
    // optional third arg (local iteration only; the driver passes two): a
    // regex — only matching query names are dumped and oracled. Checked
    // before the session builds: a regex matching nothing would otherwise
    // write an empty oracle_sql.json and look like a clean run.
    val nameFilter: String => Boolean =
      args.lift(2).map(p => (s: String) => s.matches(p)).getOrElse(_ => true)
    val problem =
      if (args.length != 2 && args.length != 3) Some(Usage)
      else args.lift(2).flatMap { p =>
        if (scala.util.Try(java.util.regex.Pattern.compile(p)).isFailure)
          Some(s"not a regex: $p\n$Usage")
        else if (!SparkEntry.queries.keys.exists(nameFilter))
          Some(s"regex matches no query: $p\n$Usage")
        else None
      }
    problem.foreach { msg => System.err.println(msg); sys.exit(2) }
    val (sfDir, outDir) = (args(0), args(1))
    val spark = SparkSessions.recommended("graft-verify")
    new java.io.File(outDir).mkdirs()
    // only emit oracle SQL for queries whose parquet actually landed — an
    // oracle entry pointing at a missing result dir would break the
    // driver's compare loop for reasons unrelated to correctness
    val succeeded = SparkEntry.queries.filter(kv => nameFilter(kv._1)).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Some(name)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
    }.toSet
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
      .filter { case (k, _) => succeeded(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
