package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Harness.session(4)

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}
