package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's own
  * [[Bench.session]] (one JVM-wide session via getOrCreate; suites must
  * not stop it), so the tests run the configuration the bench measures.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Bench.session()

  def sf0001 = "/root/testdata/sf0.001"
}
