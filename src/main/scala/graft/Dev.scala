package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tools, one main with subcommands (not part of the driver contract):
  *
  *   runMain graft.Dev smoke                      SparkEntry.entry on sf0.001
  *                                                must return > 0 rows (the
  *                                                driver's entry check)
  *   runMain graft.Dev explain <sf> <out> [k,k]   every key's formatted plan
  *                                                to `<out>/<key>.txt`
  *   runMain graft.Dev time <key> [key ...]       min of SPARK_GRAFT_PASSES
  *                                                (2) timed `count()` passes
  *                                                per key on SPARK_GRAFT_SF_DIR
  *                                                (sf0.1), after one warm pass
  *
  * Sessions are `local[SPARK_GRAFT_CPUS]` (4). A failed key makes
  * `explain` exit non-zero; unknown keys are refused before a session
  * starts. */
object Dev {

  private lazy val queries = SparkEntry.queries

  /** `keys` unchanged, or an error naming those SparkEntry lacks. */
  def known(keys: Seq[String]): Seq[String] = {
    val unknown = keys.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    keys
  }

  private def session() =
    EngineConf.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  def main(args: Array[String]): Unit = args.toList match {
    case "smoke" :: Nil => smoke()
    case "explain" :: sf :: out :: keys =>
      val failed = explain(sf, out, keys.headOption.map(k => known(k.split(",").toSeq)))
      if (failed > 0) sys.exit(1)
    case "time" :: keys if keys.nonEmpty => time(known(keys))
    case _ =>
      System.err.println(
        "usage: graft.Dev smoke | explain <sfDir> <outDir> [key,key,...] | time <key> [key ...]")
      sys.exit(2)
  }

  private def smoke(): Unit = {
    val spark = session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n (pass=${n > 0})")
    spark.stop()
  }

  /** Writes each key's plan; returns the number of keys that failed. */
  private def explain(sfDir: String, outDir: String, keys: Option[Seq[String]]): Int = {
    val spark = session()
    Files.createDirectories(Paths.get(outDir))
    val names = keys.getOrElse(queries.keys.toSeq).sorted
    val failed = names.filterNot { name =>
      try {
        val plan = queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${firstLine(e)}")
        false
      }
    }
    println(s"[explain] ${names.size - failed.size} written, ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    spark.stop()
    failed.size
  }

  private def time(keys: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = session()
    // a failed warm-up is printed and the timing goes on
    def step(what: String)(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        println(s"[time] $what failed: ${firstLine(e)}")
      }
    step("Mining.warm") { operators.Mining.warm(spark, sfDir) }
    step("LlmOps.warm") { operators.LlmOps.warm(spark, sfDir) }
    step("Relational.warm") { operators.Relational.warm(spark, sfDir) }
    step("SqlSurface.warm") { operators.SqlSurface.warm(spark, sfDir) }
    keys.foreach { k => step(k) { queries(k)(spark, sfDir).count() } }
    keys.foreach { k =>
      val secs = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        queries(k)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[time] $k%-28s $secs%8.3f s")
    }
    spark.stop()
  }
}
