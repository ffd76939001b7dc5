package graft

import graft.core.{JobCounters, Sessions}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazy session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4, getClass.getSimpleName)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** The Spark work `body` started (see [[JobCounters.during]]). */
  def counted(body: => Any): JobCounters = JobCounters.during(spark)(body)._2
}
