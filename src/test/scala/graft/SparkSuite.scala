package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.SparkWork

/** Shared local SparkSession for test suites (one per suite, lazy). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.local(4, extra = Seq("spark.app.name" -> "graft-test"))

  /** Runs `body` and returns its result with the Spark work it started. */
  def sparkWork[T](body: => T): (T, SparkWork) = SparkWork.measure(spark)(body)
}
