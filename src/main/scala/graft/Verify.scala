package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // the readers use declared schemas, which read a drifted column as
    // nulls: check the corpus against them once, before any entry runs
    Tables.requireSchemas(spark, sfDir)
    // local-iteration filter (comma-separated names); the driver never
    // sets it, so official runs always dump the full registry
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Crashed queries must stay VISIBLE in the artifacts: a query that
    // throws writes a `<name>/_ERROR` sentinel (so the driver's parquet
    // read of that dir fails loudly instead of the entry silently
    // vanishing from the correctness record) and is collected into a
    // top-level `_errors.json` for human diagnosis.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        val dir = Paths.get(s"$outDir/$name")
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_ERROR"), msg)
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      val ej = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_errors.json"), ej)
    }
    spark.stop()
    // nonzero exit makes a crashed registry impossible to mistake for a
    // clean dump (the sentinel files above carry the per-query details)
    if (failed.nonEmpty) sys.exit(2)
  }
}
