package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (`tools/check_oracle.py`), and
  * failures.json, mapping each query that threw to
  * "ExceptionClass: message" (`{}` when every query ran). */
object Verify {
  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (<0x20): a tab or CR in the oracle SQL would otherwise make the
    * reader's json.load fail and silently zero the correctness check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter for fast iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.getOrCreate()
    def jsonObject(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}")
    try {
      new java.io.File(outDir).mkdirs()
      val failures = SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .flatMap { case (name, fn) =>
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
          }
        }
      Files.writeString(Paths.get(s"$outDir/failures.json"),
        jsonObject(failures.sortBy(_._1)))
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
        jsonObject(SparkEntry.oracleSql))
    } finally spark.stop()
  }
}
