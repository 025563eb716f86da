package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump every query's formatted plan for scale auditing.
  * Usage: runMain graft.ExplainAudit <sfDir> <outDir> [key,key,...] —
  * the optional third arg restricts the dump to a key subset. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val queries = SparkEntry.queries
    val keep: String => Boolean =
      if (args.length > 2) {
        val keys = args(2).split(",").toSet
        val unknown = keys -- queries.keySet
        require(unknown.isEmpty, s"unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
        keys
      } else (_ => true)
    val spark = EngineConf.tune(SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[audit] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
