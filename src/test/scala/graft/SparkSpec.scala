package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext
}

object SparkSpec {
  lazy val session: SparkSession =
    Session.builder(4).appName("graft-test").getOrCreate()
}
