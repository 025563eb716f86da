package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, built by the mains' own
  * factory ([[EngineConf.session]]): the same join planning, and the
  * same `file:` FileSystem whatever the suite order. Specs use the
  * JVM's private index root, so every persisted index and artifact is
  * built by the code under test, never loaded from an earlier run. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient protected var spark: SparkSession = _
  protected val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    Tables.indexRootOverride = Some(Some(SparkSpec.indexRoot))
    spark = EngineConf.session(4,
      "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse", "spark.app.name" -> "graft-test")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop()
    finally tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh, empty `graft-<prefix>*` directory under the temp dir,
    * deleted with everything in it in [[afterAll]]. */
  protected def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$prefix").toFile
    tempDirs += d
    d.getAbsolutePath
  }
}

object SparkSpec {
  /** The test JVM's index root: created on first use, removed at exit. */
  lazy val indexRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-index").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getAbsolutePath
  }
}
