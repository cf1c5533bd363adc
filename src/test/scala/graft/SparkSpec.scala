package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, reused). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlContextImplicits: SparkSession = spark
}

object SparkSpec {
  /** The factory's session on 4 cores: every suite runs on the settings
    * the mains run on.
    */
  lazy val session: SparkSession = GraftSession.build(cpus = 4)
}
