package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in the forked test JVM and reuse it via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest testdata slice — unit specs stay fast. */
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build(4)
}
