package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — trailing names (builder-side
    // iteration aid) restrict the dump; the driver always passes two.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Operator-persisted intermediates are deliberately NOT cleared
    // between queries: Spark's CacheManager deduplicates by canonical
    // plan, so queries sharing a subtree (e.g. the shingle table in
    // x02/x14) reuse one cached copy; MEMORY_AND_DISK evicts under
    // pressure. Measured: clearing per-query cost ~20% total runtime.
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
  }
}
