package graft
import org.apache.spark.sql.SparkSession

/** Dev-only targeted timer: times just the keys given as args on
  * SPARK_GRAFT_SF_DIR (default sf0.1), reporting min over `passes`
  * timed passes after one untimed warm pass per key. Mirrors Bench's
  * contention posture (min-of-passes) without the full 220-key sweep,
  * for auditing individual keys between rounds. Not part of the
  * driver contract. */
object TimeKeys {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeKeys <key> [key ...]")
    val queries = SparkEntry.queries
    val unknown = args.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = EngineConf.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a failed warm-up is printed and the timing goes on
    def step(what: String)(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        val first = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
        println(s"[timekeys] $what failed: ${e.getClass.getSimpleName}: $first")
      }
    step("Mining.warm") { operators.Mining.warm(spark, sfDir) }
    step("LlmOps.warm") { operators.LlmOps.warm(spark, sfDir) }
    step("Relational.warm") { operators.Relational.warm(spark, sfDir) }
    step("SqlSurface.warm") { operators.SqlSurface.warm(spark, sfDir) }
    args.foreach { k => step(k) { queries(k)(spark, sfDir).count() } }
    val results = args.map { k =>
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        queries(k)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      k -> times.min
    }
    results.foreach { case (k, s) => println(f"[timekeys] $k%-28s $s%8.3f s") }
    spark.stop()
  }
}
