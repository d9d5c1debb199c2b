package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one lazy SparkSession per suite, in the
  * harnesses' posture ([[Sessions.local]]) so plan pins audit the
  * configuration that actually runs.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  def sf(name: String) = s"/root/testdata/$name"
  val sf001 = "/root/testdata/sf0.001"
}
