package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only third arg: comma-separated key subset (driver passes 2
    // args); an unknown name or a fourth arg is refused, not dropped
    require(args.length <= 3, "usage: Verify <sfDir> <outDir> [key,key,...]")
    val keep: String => Boolean =
      if (args.length > 2) Dev.known(args(2).split(",").toSeq).toSet else (_ => true)
    val spark = EngineConf.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Keys that throw are recorded explicitly (not just logged): a
    // swallowed exception leaves no parquet dir, so the driver's compare
    // would silently omit the key and correctness would under-report
    // breakage. _errors.json makes every thrown key a visible failure.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Dev-only: big ScaleUp fixtures (sf1/sf10) write each dump in
    // parallel — coalesce(1) serializes multi-million-row outputs onto
    // one core and dominates the sweep's wall clock. The driver-SF
    // default stays single-file (the driver's compare contract).
    val singleFile = !sys.env.get("SPARK_GRAFT_VERIFY_WIDE").contains("1")
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        (if (singleFile) out.coalesce(1) else out)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
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
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} key(s) FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
