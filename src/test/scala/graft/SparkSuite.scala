package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites; sf0.001 testdata for table-backed
  * specs.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = Tables.sessionBuilder("local[4]", 4)
      .appName(getClass.getSimpleName)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    // One session is shared across suites in the forked test JVM; don't stop.
    super.afterAll()
  }
}
