package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs, built by the tools' own
  * [[Harness.session]] factory (UTC, UI off) with a small shuffle partition
  * count; the nanos config is set by graft.Catalog at use-time exactly as
  * in production. 8 task slots, so that a CP fit of up to 8 slabs can run
  * its slabs as concurrent tasks.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session(8, 4)
}
