package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"
}

object SparkSpec {
  val cpus = 4
  lazy val session: SparkSession = GraftSession.local(cpus)
}
