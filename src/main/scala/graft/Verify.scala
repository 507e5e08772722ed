package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (tools/selfcheck.py compares whatever subdirs exist in outDir)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Set.empty[String])
      case Array(s, o, f) => (s, o, f.split(',').map(_.trim).toSet)
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [name,name,...]")
        sys.exit(2)
    }
    val spark = GraftSession.build(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    // name → "ExceptionClass: message" of every key that threw; written
    // to _failed.json so the compare counts them as failures instead of
    // silently skipping a key with no output directory
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: $e")
          Some(name -> e.toString)
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
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/_failed.json"), obj(failed))
    spark.stop()
  }
}
