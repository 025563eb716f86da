package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, with the engine
  * configuration of every main ([[EngineConf.tune]]): the same join
  * planning, and the same `file:` FileSystem whatever the suite order. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient protected var spark: SparkSession = _
  protected val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = EngineConf.tune(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .appName("graft-test"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()
}
