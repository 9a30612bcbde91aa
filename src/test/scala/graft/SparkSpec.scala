package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite via lazy val. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.getOrCreate(4)

  val sf: String = "/root/testdata/sf0.001"
}
