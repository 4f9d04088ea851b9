package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork): the
  * runner session every main builds, pinned to `local[4]` so the suite
  * does not depend on SPARK_GRAFT_CPUS / SPARK_GRAFT_MASTER. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = graft.etl.Sessions.runner(
    cpus = 4, master = Some("local[4]"),
    configure = _.config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_test_wh").toString))
}
