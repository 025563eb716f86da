package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, built by the mains' own
  * factory ([[EngineConf.session]]): the same join planning, and the
  * same `file:` FileSystem whatever the suite order. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient protected var spark: SparkSession = _
  protected val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = EngineConf.session(4,
      "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse", "spark.app.name" -> "graft-test")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()
}
